"""Per-partition lineage + checkpoint/resume (north_rule resumability).

The reference tracks completed work by file presence and SHA-256 of
sources (``model/_base.py:219-252, 266-314``: re-prepare only when
hashes mismatch; ``cutout.py:129-182``: skip present (year,month)
files).  The engine generalizes this to any partitioned job:

- a job = (input table, transformation, output path, partition column);
- each partition value is processed independently and committed
  atomically (parquet dir rename per partition + a lineage row);
- the **lineage log** records per partition (snapshot_id, partition,
  input fingerprint, output rows, output files, wall_sec);
- on restart, :func:`run_partitioned` skips partitions whose lineage
  row exists with matching input fingerprint — a killed job resumes
  without recompute and without double-count (idempotent per-partition
  overwrite).

The input fingerprint (:func:`partition_fingerprint`) is of one of two
kinds.  A bare scan of a partitioned file table is keyed, like the
reference, on its source *files*: a digest of each partition's
(relative path, size, modification time) from the scan's own listing,
with no Spark job and no row read.  So a partition rewritten with
identical rows has new files and recomputes once.  Any other source
gets a content hash, ``sum(xxhash64(row))`` per partition from one
aggregation job: order-independent and stable across shuffles.

After a run that rewrote partitions, the output's ``_manifest.json``
(``geodata_spark.manifest``) records its schema and file list, taken
from the lineage log's output files, so :func:`read_output` reads it
without a schema-inference job.

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

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from geodata_spark import manifest
from geodata_spark.fixpoint import job_description
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


def _digest(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def partition_fingerprint(
    df: DataFrame, partition_col: str
) -> dict[str, tuple[int | None, int | str]]:
    """{partition: (row_count, fingerprint)}, keyed by the partition
    value as text (:data:`manifest.NULL_KEY` for NULL).

    - A bare scan of a partitioned file table (its analyzed plan is one
      file relation with one root) whose ``partition_col`` is an
      integral or string directory partition column: (None, sha256 of
      the partition's files as (relative path, size, modification
      time)), from the listing the scan was built with.  No Spark job,
      no data read, and a fixed number of py4j round trips.
    - Any other source: (row count, content hash) from one labelled
      aggregation job.

    Both kinds give the same keys for integral and string columns.
    """
    by_files = manifest.partition_files(df, partition_col)
    if by_files is not None:
        return {
            k: (None, _digest("".join(f"{p}\t{n}\t{t}\n" for p, n, t in files)))
            for k, files in by_files.items()
        }
    with job_description(df.sparkSession, "lineage.partition_fingerprint"):
        rows = (
            df.groupBy(partition_col)
            .agg(F.expr("count(1) AS n"), content_hash_col(df).alias("h"))
            .collect()
        )
    return {
        manifest.NULL_KEY if r[0] is None else str(r[0]): (r["n"], int(r["h"])) for r in rows
    }


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
    collected *during* the write — no second read of the output.  Each
    partition's jobs are labelled with its directory.

    The skip test compares :func:`partition_fingerprint`'s kind and
    value with the log, so a source that changes kind (a DataFrame
    before, a bare scan now), or a partition rewritten with identical
    rows under a bare scan, recomputes once.  A bare scan's fingerprint
    is of the files listed when the DataFrame was built: build it after
    the last write to the source.  A NULL partition value is sliced
    with ``IS NULL`` and written to Spark's NULL directory, so
    :func:`read_output` reads it back as NULL; NULL runs last.

    After a run that rewrote a partition, the output's
    ``_manifest.json`` records its schema and every partition's output
    files from the log, when the log has both for every partition.

    Returns {"completed": [...], "skipped": [...], "snapshot_id": ...}.
    """
    fps = partition_fingerprint(source, partition_col)
    if snapshot_id is None:
        # Stable across processes: sha256, not Python's salted hash().
        sig = sorted((k, v[0], v[1]) for k, v in fps.items())
        snapshot_id = f"snap-{_digest(json.dumps(sig))[:12]}"
    log = LineageLog(out_path)
    done = log.load()
    completed, skipped, todo = [], [], []
    for part in sorted(fps, key=lambda k: (k == manifest.NULL_KEY, k)):
        n_in, h_in = fps[part]
        rec = done.get(part)
        if rec and rec["input_rows"] == n_in and rec["input_hash"] == h_in:
            skipped.append(part)
        else:
            todo.append((part, n_in, h_in))
    spark = source.sparkSession
    table = manifest.Table(spark, out_path)
    schemas: dict[str, StructType] = {}

    def _process(part: str, n_in: int | None, h_in: int | str) -> str:
        t0 = time.time()
        col = ident(partition_col)
        # ``part`` is the value as text: compare as a string literal
        cond = f"{col} IS NULL" if part == manifest.NULL_KEY else f"{col} = {lit(part)}"
        out_df = transform(source.filter(cond))
        obs = Observation(f"lineage-{part}")
        out_df = out_df.observe(obs, F.expr("count(1) AS n_out"))
        part_dir = manifest.part_dir(partition_col, part)
        with job_description(spark, f"lineage.run_partitioned {part_dir}"):
            out_df.write.mode("overwrite").parquet(f"{out_path.rstrip('/')}/{part_dir}")
        schema = out_df.schema
        kind = _digest(schema.json())[:16]
        schemas[kind] = schema
        done[part] = rec = {
            "snapshot_id": snapshot_id,
            "partition": part,
            "input_rows": n_in,
            "input_hash": h_in,
            "output_rows": obs.get["n_out"],
            "output_files": table.list_dirs([part_dir]),
            "output_schema": kind,
            "wall_sec": round(time.time() - t0, 3),
            "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        log.append(rec)
        return part

    if fail_after is not None or max_workers <= 1:
        for i, (part, n_in, h_in) in enumerate(todo):
            if fail_after is not None and i >= fail_after:
                raise RuntimeError(f"simulated kill after {fail_after} partitions")
            completed.append(_process(part, n_in, h_in))
    else:
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            completed = list(pool.map(lambda t: _process(*t), todo))
    recs = done.values()
    kinds = {r.get("output_schema") for r in recs}
    if completed and len(kinds) == 1 and all(r.get("output_files") is not None for r in recs):
        files = [tuple(f) for r in recs for f in r["output_files"]]
        table.write(schemas[kinds.pop()], files)
    return {"completed": completed, "skipped": skipped, "snapshot_id": snapshot_id}


def read_output(spark: SparkSession, out_path: str, partition_col: str) -> DataFrame:
    """Read back all committed partitions (basePath keeps the column).

    With the schema the output's ``_manifest.json`` records, and no
    schema-inference job, when its file list equals the listing; with
    the inferred schema after a write the manifest does not describe,
    without a manifest, or when the recorded output has a column named
    like a partition column (``manifest.Table.read``).  Both give the
    same columns, in the same order, of the same types.

    The scan reads the root, not a ``<col>=*`` glob: Spark probes a
    glob for a streaming sink's ``_spark_metadata`` and logs the failed
    probe's stack.  A root that holds more than partition directories
    (visible files beside them) reads the glob, as before."""
    table = manifest.Table(spark, out_path)
    head = f"{manifest.escape(partition_col)}="
    try:
        df, files = table.read()
        if files and all(f[0].startswith(head) and "/" in f[0] for f in files):
            return df
    except (AnalysisException, Py4JJavaError):  # missing, or mixed layouts
        pass
    return table.read(f"{head}*")[0]
