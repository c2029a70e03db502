"""Per-partition lineage + checkpoint/resume (north_rule resumability).

The reference tracks completed work by file presence and SHA-256 of
sources (``model/_base.py:219-252, 266-314``: re-prepare only when
hashes mismatch; ``cutout.py:129-182``: skip present (year,month)
files).  The engine generalizes this to any partitioned job:

- a job = (input table, transformation, output path, partition column);
- each partition value is processed independently and committed
  atomically (parquet dir rename per partition + a lineage row);
- the **lineage table** records (snapshot_id, partition, row_count,
  content_hash, wall_sec) where content_hash is an order-independent
  ``sum(xxhash64(row))`` — cheap to compute inline with the write and
  stable across shuffles;
- on restart, :func:`run_partitioned` skips partitions whose lineage
  row exists with matching input fingerprint — a killed job resumes
  without recompute and without double-count (idempotent per-partition
  overwrite).

On a real deployment the same design rides Iceberg snapshot ids; here
snapshot_id = deterministic fingerprint of (input, partition list).
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from geodata_spark.sqltext import ident, lit


def content_hash_col(df: DataFrame) -> F.Column:
    """Order-independent row-content hash: sum of xxhash64 over all columns.

    Accumulated into DECIMAL(38,0) so the *sum* cannot overflow int64
    either (a per-row ``pmod`` only bounds the addends; at ~2^23 rows per
    partition an int64 sum would overflow and raise under Spark 4 ANSI
    mode).  DECIMAL(38,0) holds ~10^38 — safe past 10^19 rows, far above
    the 10^12-row target.  Sum is commutative → stable across shuffles.
    One ``F.expr`` text.
    """
    cols = ", ".join(ident(c) for c in df.columns)
    return F.expr(f"sum(CAST(xxhash64({cols}) AS DECIMAL(38,0)))")


def partition_fingerprint(df: DataFrame, partition_col: str) -> dict[str, tuple[int, int]]:
    """{partition: (row_count, content_hash)} — one aggregation pass."""
    rows = (
        df.groupBy(partition_col)
        .agg(F.expr("count(1) AS n"), content_hash_col(df).alias("h"))
        .collect()
    )
    return {str(r[0]): (r["n"], int(r["h"])) for r in rows}


class LineageLog:
    """JSON-lines lineage log next to the output (works on any FS the
    driver sees; an Iceberg deployment would use a lineage table)."""

    def __init__(self, path: str):
        self.path = os.path.join(path, "_lineage.jsonl")
        self._lock = threading.Lock()

    def load(self) -> dict[str, dict]:
        out: dict[str, dict] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                for line in f:
                    if line.strip():
                        rec = json.loads(line)
                        out[rec["partition"]] = rec
        return out

    def append(self, rec: dict) -> None:
        with self._lock:
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            with open(self.path, "a") as f:
                f.write(json.dumps(rec) + "\n")


def run_partitioned(
    spark: SparkSession,
    source: DataFrame,
    transform,
    out_path: str,
    partition_col: str,
    snapshot_id: str | None = None,
    fail_after: int | None = None,
    max_workers: int = 4,
) -> dict:
    """Process each partition of ``source`` through ``transform``,
    committing per-partition outputs + lineage; resumable.

    ``transform``: DataFrame → DataFrame (applied per partition slice).
    ``fail_after``: test hook — raise after N partitions (simulated
    kill) to exercise resume (forces sequential execution so the kill
    point is deterministic).
    ``max_workers``: independent partitions run as **concurrent Spark
    jobs** (Spark's scheduler interleaves their stages across executor
    slots), so 10⁴-10⁵ partitions don't serialize the cluster on the
    driver loop.  Output row counts come from ``Observation`` metrics
    collected *during* the write — no second read of the output.

    Returns {"completed": [...], "skipped": [...], "snapshot_id": ...}.
    """
    fps = partition_fingerprint(source, partition_col)
    if snapshot_id is None:
        # Stable across processes: sha256, not Python's salted hash().
        sig = sorted((k, v[0], v[1]) for k, v in fps.items())
        digest = hashlib.sha256(json.dumps(sig).encode()).hexdigest()[:12]
        snapshot_id = f"snap-{digest}"
    log = LineageLog(out_path)
    done = log.load()
    completed, skipped, todo = [], [], []
    for part, (n_in, h_in) in sorted(fps.items()):
        rec = done.get(part)
        if rec and rec["input_rows"] == n_in and rec["input_hash"] == h_in:
            skipped.append(part)
        else:
            todo.append((part, n_in, h_in))

    def _process(part: str, n_in: int, h_in: int) -> str:
        t0 = time.time()
        # ``part`` is the str of the value: compare as a string literal
        slice_df = source.filter(f"{ident(partition_col)} = {lit(part)}")
        out_df = transform(slice_df)
        obs = Observation(f"lineage-{part}")
        out_df = out_df.observe(obs, F.expr("count(1) AS n_out"))
        part_path = os.path.join(out_path, f"{partition_col}={part}")
        out_df.write.mode("overwrite").parquet(part_path)
        log.append(
            {
                "snapshot_id": snapshot_id,
                "partition": part,
                "input_rows": n_in,
                "input_hash": h_in,
                "output_rows": obs.get["n_out"],
                "wall_sec": round(time.time() - t0, 3),
                "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
        )
        return part

    if fail_after is not None or max_workers <= 1:
        for i, (part, n_in, h_in) in enumerate(todo):
            if fail_after is not None and i >= fail_after:
                raise RuntimeError(f"simulated kill after {fail_after} partitions")
            completed.append(_process(part, n_in, h_in))
    else:
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            completed = list(pool.map(lambda t: _process(*t), todo))
    return {"completed": completed, "skipped": skipped, "snapshot_id": snapshot_id}


def read_output(spark: SparkSession, out_path: str, partition_col: str) -> DataFrame:
    """Read back all committed partitions (basePath keeps the column)."""
    return (
        spark.read.option("basePath", out_path)
        .parquet(os.path.join(out_path, f"{partition_col}=*"))
    )
