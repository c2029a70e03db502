"""The benchmark workloads: what one pass runs and how outputs are checked.

Each workload turns the seeded inputs into a list of operations.  An
operation returns the DataFrame a caller would get (or ``None`` when the
call itself is the whole operation, as with a write); the harness times
the call, Catalyst planning and a noop-sink execution of the result.
Outputs are captured once, during set-up, and checked after the timed
passes against an independent answer.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd

from perfbench import inputs

# registry queries (names as in ``__spark_entry__.queries()``), one per
# layer: synth + convert, masks, hydro, similarity, dedup
DRIVER_BUILD = ["heat_demand", "mask_trim", "watershed", "kmeans", "exact_dedup"]
ZONAL_ORACLE = "zonal_daily_wavg"
ORACLE_CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_cache")


@dataclass
class Op:
    name: str
    fn: Callable  # () -> DataFrame | None
    capture: Callable | None = None  # (DataFrame) -> None, keeps the output for the check


@dataclass
class Sizes:
    doc_rows: int  # documents.parquet rows; the zonal corpus is 40x this
    vec_rows: int  # embeddings.parquet rows
    table_days: int  # day partitions of the ingest point table
    ingest_days: int  # day partitions one upsert touches
    ingest_rows: int  # rows per upsert batch


SIZES = {
    "full": Sizes(doc_rows=625, vec_rows=2000, table_days=4, ingest_days=2, ingest_rows=2000),
    "tiny": Sizes(doc_rows=25, vec_rows=200, table_days=2, ingest_days=1, ingest_rows=40),
}


def perturb(pdf: pd.DataFrame) -> pd.DataFrame:
    """A copy with one value of the first row changed (self-test hook)."""
    out = pdf.copy()
    col = out.columns[-1]
    if out[col].dtype.kind in "fiu":
        out.loc[out.index[0], col] = out[col].iloc[0] + 1
    else:
        out.loc[out.index[0], col] = f"{out[col].iloc[0]}x"
    return out


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Row-set equality, exact on numbers (NULL equals NULL).

    The registry's oracles are bit-exact by design (dyadic values, or
    rounding on both sides), so no tolerance is applied.
    """
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    cols = sorted(got.columns)
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = want[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        x, y = a[c], b[c]
        if x.dtype.kind in "fiu" and y.dtype.kind in "fiu":
            xv, yv = x.astype("float64").values, y.astype("float64").values
            if not ((xv == yv) | (np.isnan(xv) & np.isnan(yv))).all():
                return False
        elif not (x.astype(str).values == y.astype(str).values).all():
            return False
    return True


class Context:
    """What the parts of a workload share: the session, the work
    directory, the seeded generator, the sizes, the inputs written so
    far and a DuckDB connection over the input tables."""

    def __init__(self, spark, work: str, seed: int, sizes: Sizes, nproc: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sizes = sizes
        self.nproc = nproc
        self.data_dir = os.path.join(work, "data")
        self.rng = np.random.default_rng(seed)
        self.counts: dict[str, float] = {}
        self.perturb = False  # self-test: corrupt the first output checked
        self._corpus: str | None = None
        self._duck = None

    def take_perturb(self) -> bool:
        hit, self.perturb = self.perturb, False
        return hit

    def write_tables(self) -> dict:
        if not os.path.exists(self.data_dir):
            s = self.sizes
            inputs.write_tables(self.data_dir, self.seed, s.doc_rows, s.vec_rows)
        return {"documents_rows": self.sizes.doc_rows, "embeddings_rows": self.sizes.vec_rows}

    def corpus(self) -> str:
        """The synthetic corpus (``documents`` rows x 40 docs) as parquet."""
        if self._corpus is None:
            from geodata_spark.synth import N_DOCS_MULTIPLIER, synth_documents

            self.corpus_docs = self.sizes.doc_rows * N_DOCS_MULTIPLIER
            self._corpus = os.path.join(self.work, "corpus")
            synth_documents(self.spark, self.corpus_docs).write.parquet(self._corpus)
        return self._corpus

    def duck(self):
        if self._duck is None:
            import duckdb

            con = duckdb.connect()
            con.execute(f"SET threads = {self.nproc}")
            for t in ("documents", "embeddings"):
                path = os.path.join(self.data_dir, f"{t}.parquet")
                if os.path.exists(path):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self._duck = con
        return self._duck

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()
            self._duck = None


class Part:
    """One group of operations inside a workload."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.outputs: dict[str, pd.DataFrame] = {}

    def keep(self, name: str) -> Callable:
        def capture(df) -> None:
            pdf = df.toPandas()
            self.outputs[name] = perturb(pdf) if self.ctx.take_perturb() else pdf

        return capture

    def oracle(self, name: str) -> pd.DataFrame:
        """The DuckDB twin's answer.  An oracle that reads no input table
        has the same answer for every seed; when its SQL text hashes to a
        stored answer under ``oracle_cache/`` that answer is used instead
        of re-running a slow query (``watershed`` takes ~10 s)."""
        import __spark_entry__ as E

        sql = E.oracle_sql()[name]
        digest = hashlib.sha256(sql.encode()).hexdigest()[:16]
        cached = os.path.join(ORACLE_CACHE, f"{name}-{digest}.parquet")
        if os.path.exists(cached):
            return pd.read_parquet(cached)
        return self.ctx.duck().execute(sql).df()


class RegistryQueries(Part):
    """Registry queries over the input tables, checked against their
    DuckDB twins in ``__spark_entry__.oracle_sql()``."""

    def __init__(self, ctx: Context, names: list[str]):
        super().__init__(ctx)
        self.names = names

    def setup(self) -> dict:
        import __spark_entry__ as E

        self.queries = E.queries()
        return self.ctx.write_tables()

    def pass_ops(self) -> list[Op]:
        q, d, spark = self.queries, self.ctx.data_dir, self.ctx.spark
        return [Op(n, (lambda n=n: q[n](spark, d)), self.keep(n)) for n in self.names]

    def check(self) -> dict[str, bool]:
        return {n: frames_equal(got, self.oracle(n)) for n, got in self.outputs.items()}


class ZonalScan(Part):
    """The flagship zonal daily weighted mean at grid (res 9) and hex
    (res 5) grain over the corpus parquet, checked against the
    ``zonal_daily_wavg`` oracle (both grains share it)."""

    def setup(self) -> dict:
        info = self.ctx.write_tables()
        self.corpus = self.ctx.corpus()
        return {**info, "corpus_docs": self.ctx.corpus_docs}

    def _zonal(self, **join_kwargs):
        from pyspark.sql import functions as F

        from geodata_spark import spatial, zonal
        from geodata_spark.zones import ZONES

        spark = self.ctx.spark
        pts = spatial.parse_geo_spans(spark.read.parquet(self.corpus))
        zoned = spatial.join_zones(pts, spark, ZONES, **join_kwargs)
        weighted = zoned.withColumn(
            "w", zonal.oracle_area_weight_expr(F.col("lat"))
        ).withColumn("day_idx", (F.col("hour") / F.lit(24)).cast("int"))
        out = zonal.zonal_weighted_mean(weighted, "val", "w", ["zone_id", "day_idx"], out_col="wavg")
        return out.select(
            "zone_id", "day_idx", "wavg", "weight_sum",
            F.col("n_points").cast("long").alias("n_points"),
        )

    def pass_ops(self) -> list[Op]:
        return [
            Op("zonal_grid_r9", lambda: self._zonal(res=9), self.keep("zonal_grid_r9")),
            Op("zonal_hex_r5", lambda: self._zonal(res=5, grain="hex", hex_encode="dim"),
               self.keep("zonal_hex_r5")),
        ]

    def check(self) -> dict[str, bool]:
        want = self.oracle(ZONAL_ORACLE)
        return {n: frames_equal(got, want) for n, got in self.outputs.items()}


_POINT_COLS = ["doc_id", "span_idx", "day_idx", "hour", "lat", "lon", "val", "seq"]
_ZONAL_TAIL_SQL = """
SELECT zone_id, CAST(day_idx AS INT) AS day_idx,
       sum(val * {w}) / sum({w}) AS wavg, sum({w}) AS weight_sum,
       count(*) AS n_points
FROM zoned GROUP BY zone_id, day_idx
"""


class ZonalIngest(Part):
    """Writes beside reads: keyed upserts into a day-partitioned point
    table (``sinks.merge_upsert``), per-day re-aggregation that skips
    unchanged days by fingerprint (``lineage.run_partitioned``) and a
    read-back (``lineage.read_output``).  The benchmark keeps its own
    model of the table; the check compares the table on disk with the
    model and the read-back with a DuckDB zonal mean over the model."""

    cycle = 0

    def setup(self) -> dict:
        from pyspark.sql import functions as F

        from geodata_spark import spatial

        ctx, spark = self.ctx, self.ctx.spark
        self.points = os.path.join(ctx.work, "points")
        self.agg = os.path.join(ctx.work, "zonal_by_day")
        pts = spatial.parse_geo_spans(spark.read.parquet(ctx.corpus())).select(
            "doc_id", F.col("span_idx").cast("int").alias("span_idx"),
            (F.col("hour") / F.lit(24)).cast("int").alias("day_idx"),
            "hour", "lat", "lon", "val", F.lit(0).cast("long").alias("seq"),
        ).filter(F.col("day_idx") < ctx.sizes.table_days)
        pts.write.partitionBy("day_idx").parquet(self.points)
        self.schema = spark.read.parquet(self.points).select(*_POINT_COLS).schema
        self.model = spark.read.parquet(self.points).select(*_POINT_COLS).toPandas()
        # the warm-up cycle's re-aggregation computes every day once
        return {"points": len(self.model), "day_partitions": int(self.model["day_idx"].nunique())}

    @staticmethod
    def _per_day(slice_df):
        from pyspark.sql import functions as F

        from geodata_spark import spatial, zonal
        from geodata_spark.zones import ZONES

        zoned = spatial.join_zones(slice_df, slice_df.sparkSession, ZONES, res=9)
        weighted = zoned.withColumn("w", zonal.oracle_area_weight_expr(F.col("lat")))
        out = zonal.zonal_weighted_mean(weighted, "val", "w", ["zone_id"], out_col="wavg")
        return out.select(
            "zone_id", "wavg", "weight_sum", F.col("n_points").cast("long").alias("n_points")
        )

    def _upsert(self, batch: pd.DataFrame):
        from geodata_spark import sinks

        updates = self.ctx.spark.createDataFrame(batch[_POINT_COLS], self.schema)
        sinks.merge_upsert(
            self.ctx.spark, self.points, updates, ["doc_id", "span_idx"], "day_idx", "seq"
        )

    def _reaggregate(self):
        from geodata_spark import lineage

        spark = self.ctx.spark
        res = lineage.run_partitioned(
            spark, spark.read.parquet(self.points), self._per_day, self.agg, "day_idx",
            max_workers=self.ctx.nproc,
        )
        c = self.ctx.counts
        c["lineage.skipped"] = c.get("lineage.skipped", 0) + len(res["skipped"])
        c["lineage.completed"] = c.get("lineage.completed", 0) + len(res["completed"])

    def _read(self):
        from geodata_spark import lineage

        return lineage.read_output(self.ctx.spark, self.agg, "day_idx")

    def pass_ops(self) -> list[Op]:
        """One cycle; the model is updated now, the table when it runs."""
        s = self.ctx.sizes
        self.cycle += 1
        batch = inputs.upsert_batch(self.model, self.ctx.rng, self.cycle, s.ingest_days, s.ingest_rows)
        self.model = inputs.apply_upsert(self.model, batch)
        return [
            Op("upsert", lambda: self._upsert(batch)),
            Op("reaggregate", self._reaggregate),
            Op("read_back", self._read),
        ]

    def check(self) -> dict[str, bool]:
        from geodata_spark import zonal
        from geodata_spark.zones import zone_membership_sql

        spark, con = self.ctx.spark, self.ctx.duck()
        table = spark.read.parquet(self.points).select(*_POINT_COLS).toPandas()
        con.register("final_points", self.model)
        want = con.execute(
            f"WITH zoned AS ({zone_membership_sql('final_points')})"
            + _ZONAL_TAIL_SQL.format(w=zonal.ORACLE_AREA_WEIGHT_SQL)
        ).df()
        con.unregister("final_points")
        got = self._read().toPandas()
        got["day_idx"] = got["day_idx"].astype("int32")
        if self.ctx.take_perturb():
            got = perturb(got)
        agg_ok = frames_equal(got, want)
        return {"upsert": frames_equal(table, self.model), "reaggregate": agg_ok, "read_back": agg_ok}


class Workload:
    """Parts run in a seeded order within each pass; an ingest part's
    cycle keeps its step order."""

    def __init__(self, ctx: Context, parts: list[Part]):
        self.ctx = ctx
        self.parts = parts

    def setup(self) -> dict:
        """Write each part's inputs; returns input counts and, under
        ``setup_s``, the seconds each part took."""
        info: dict = {"setup_s": {}}
        for p in self.parts:
            t = time.perf_counter()
            info.update(p.setup())
            info["setup_s"][type(p).__name__] = time.perf_counter() - t
        return info

    def pass_ops(self) -> list[Op]:
        reads = [op for p in self.parts if not isinstance(p, ZonalIngest) for op in p.pass_ops()]
        ops = [reads[i] for i in self.ctx.rng.permutation(len(reads))]
        return ops + [op for p in self.parts if isinstance(p, ZonalIngest) for op in p.pass_ops()]

    def check(self) -> dict[str, bool]:
        out: dict[str, bool] = {}
        for p in self.parts:
            out.update(p.check())
        return out


WORKLOADS = {
    "zonal_scan_ingest": lambda ctx: [ZonalScan(ctx), ZonalIngest(ctx)],
    "driver_build": lambda ctx: [RegistryQueries(ctx, DRIVER_BUILD)],
}


def make(name: str, ctx: Context) -> Workload:
    return Workload(ctx, WORKLOADS[name](ctx))
