"""Table sinks — Iceberg when a catalog is configured, parquet fallback.

The deploy story (SURVEY §7, north_rule) names Iceberg as the cutout /
prepared-table format: snapshot isolation for concurrent writers,
hidden partitioning, and metadata-level file pruning at 100 TB.  The
sandbox image carries no Iceberg runtime jars, so the sink is gated on
an actually-configured Iceberg catalog (``spark.sql.catalog.<name>``)
and otherwise degrades to the same partitioned-parquet layout the rest
of the engine reads — identical rows, identical partition columns, so
a later migration is a metadata import (``add_files``), not a rewrite.

Replaces nothing in the reference (its sink is a local netCDF tree,
``src/geodata/dataset.py`` + ``cutout.py`` per-month files); this is
the Spark-native equivalent of that persistence layer.

:func:`merge_upsert` keeps a ``_manifest.json`` at the table root
(``geodata_spark.manifest``): the data schema and file list after its
last commit, so its next target read runs no schema-inference job while
no one else has written the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from geodata_spark import manifest
from geodata_spark.fixpoint import job_description
from geodata_spark.sqltext import ident, lit


def iceberg_catalog(spark: SparkSession, catalog: str | None = None) -> str | None:
    """Name of a configured Iceberg catalog, or None.

    A catalog counts as configured when ``spark.sql.catalog.<name>``
    is set to an Iceberg SparkCatalog implementation AND the class is
    actually loadable (jars present) — config alone would fail at
    write time with a ClassNotFoundException mid-job.
    """
    candidates = [catalog] if catalog else []
    if not candidates:
        # `SET` lists every explicitly-set conf including ones set at
        # RUNTIME via spark.conf.set (sparkContext.getConf() would only
        # see launch-time entries and miss the normal notebook path)
        try:
            items = [(r.key, r.value) for r in spark.sql("SET").collect()]
        except Exception:  # pragma: no cover - exotic sessions
            items = []
        candidates = [
            k.split(".", 3)[3]
            for k, v in items
            if k.startswith("spark.sql.catalog.") and k.count(".") == 3
            and v and "iceberg" in v.lower()
        ]
    for name in candidates:
        impl = spark.conf.get(f"spark.sql.catalog.{name}", None)
        if not impl or "iceberg" not in impl.lower():
            continue
        # resolve via Spark's own loader: jars added at runtime
        # (--jars / spark.jars.packages — the normal Iceberg deploy)
        # live in the mutable context classloader, which the plain
        # application-classloader Class.forName can't see — that gate
        # silently downgraded a properly configured Iceberg sink to
        # parquet (round-2 advice)
        jvm = spark.sparkContext._jvm  # noqa: SLF001
        try:
            jvm.org.apache.spark.util.Utils.classForName(impl, True, False)
            return name
        except Exception as exc:
            # Only a definite ClassNotFoundException means "jar absent".
            # Utils.classForName is PRIVATE Spark API — a signature
            # change or py4j reflection failure must NOT masquerade as
            # a missing jar and silently downgrade a correctly
            # configured Iceberg sink to parquet (round-3 advice):
            # re-probe through the public context classloader first.
            if "ClassNotFoundException" not in str(exc):
                try:
                    jvm.java.lang.Thread.currentThread().getContextClassLoader().loadClass(impl)
                    return name
                except Exception as exc2:
                    if "ClassNotFoundException" not in str(exc2):
                        # both probes failed for NON-class-resolution
                        # reasons (internal-API drift / py4j breakage):
                        # trust the explicit configuration and attempt
                        # the Iceberg write — a real failure will then
                        # surface loudly instead of a silent downgrade
                        import warnings

                        warnings.warn(
                            f"Iceberg catalog probe for {name!r} failed for "
                            f"reasons other than a missing class "
                            f"({exc2!r}); trusting the configuration and "
                            f"attempting the Iceberg write.",
                            stacklevel=2,
                        )
                        return name
            import warnings

            warnings.warn(
                f"Iceberg catalog {name!r} is configured ({impl}) but the "
                f"implementation class is not loadable — falling back to "
                f"parquet. Add the iceberg-spark-runtime jar.",
                stacklevel=2,
            )
            continue
    return None


def write_table(
    df: DataFrame,
    table: str,
    path: str | None = None,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
    catalog: str | None = None,
) -> dict:
    """Write ``df`` as ``table`` — Iceberg ``writeTo`` when available.

    - Iceberg path: ``createOrReplace`` (overwrite) or ``append`` via
      the DataFrameWriterV2 API with identity ``partitionedBy``.
    - Fallback: partitioned parquet at ``path`` (required then), the
      layout every reader in this repo already consumes.

    Returns a descriptor of what was written (sink kind + location),
    so lineage records (lineage.py) capture the physical target.
    """
    cat = iceberg_catalog(df.sparkSession, catalog)
    if cat is not None:
        target = f"{cat}.{table}"
        writer = df.writeTo(target).using("iceberg")
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "append":
            # create on first write; append otherwise.  An existence
            # check, not try/append-except-create: a bare except would
            # convert real append failures (schema drift, catalog
            # outage) into a misleading 'table already exists' error.
            if df.sparkSession.catalog.tableExists(target):
                writer.append()
            else:
                writer.create()
        else:
            writer.createOrReplace()
        return {"sink": "iceberg", "table": target, "partition_by": list(partition_by)}
    if path is None:
        raise ValueError(
            "no Iceberg catalog configured and no fallback path given"
        )
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return {"sink": "parquet", "path": path, "partition_by": list(partition_by)}


def read_table(
    spark: SparkSession,
    table: str,
    path: str | None = None,
    catalog: str | None = None,
) -> DataFrame:
    """Read back what :func:`write_table` wrote (catalog or parquet)."""
    cat = iceberg_catalog(spark, catalog)
    if cat is not None:
        return spark.table(f"{cat}.{table}")
    if path is None:
        raise ValueError("no Iceberg catalog configured and no fallback path given")
    return manifest.read_parquet(spark, path)


def write_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int,
    bucket_col: str | tuple[str, ...] | list[str],
    sort_col: str | tuple[str, ...] | list[str] | None = None,
    mode: str = "overwrite",
) -> dict:
    """Bucketed catalog-table sink — the co-located-join layout.

    Two tables bucketed the same way (same ``n_buckets``, same bucket
    columns) join with NO shuffle exchange on either side, and a
    groupBy on the bucket columns aggregates without an exchange: the
    scan itself reports hash output-partitioning.  This is the cell-id
    co-location story of the north rule expressed in Spark's catalog
    layer (the parquet-catalog analog of Iceberg's ``bucket``
    partition transform); the prepared bench path gets the same effect
    positionally via repartitionByRange + sortWithinPartitions, but a
    catalog table makes it durable across sessions and queries.
    Plan shape pinned in tests/test_resource_sinks.py.

    Two planner facts callers must respect (learned in the round-4
    bucketed bench, both visible as ``Bucketed: false (disabled by
    query planner)`` in the scan):

    - the default ``spark.sql.requireAllClusterKeysForCoPartition=true``
      means a join uses the buckets only when its equi-keys EQUAL the
      bucket columns — bucket on the full join key set;
    - a float/double bucket column never matches: join keys get
      wrapped in ``normalizenanandzero`` so the planner cannot prove
      the bucketing hashes the same values.  Bucket on
      integer/string/date columns only.
    """
    bcols = [bucket_col] if isinstance(bucket_col, str) else list(bucket_col)
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bcols)
    if sort_col is not None:
        scols = [sort_col] if isinstance(sort_col, str) else list(sort_col)
        w = w.sortBy(*scols)
    w.saveAsTable(table)
    return {
        "sink": "bucketed_table",
        "table": table,
        "n_buckets": n_buckets,
        "bucket_col": bcols[0] if len(bcols) == 1 else tuple(bcols),
    }


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
    seq_col: str,
) -> dict:
    """MERGE-style keyed upsert into a partitioned parquet tree —
    partition-level copy-on-write, no table format required.

    Semantics of ``MERGE INTO t USING u ON keys WHEN MATCHED THEN
    UPDATE WHEN NOT MATCHED THEN INSERT``, resolved by recency: for
    each key the surviving row is the one with the LARGEST
    ``(seq_col, other columns)`` struct — lexicographic max, so a tie
    on ``seq_col`` still picks a deterministic winner (the rule
    ``media_dedup`` uses with min).

    100 TB shape: only the partitions the update batch touches are
    read or rewritten —

    1. the touched-partition list comes from one tiny distinct on the
       update batch (bounded by the batch's partition fan-out, the
       only ``collect``), with each value's directory name;
    2. the target read prunes to those partitions (pushed partition
       filter on the scan; a NULL value is matched with ``IS NULL``).
       It uses the schema the table's ``_manifest.json`` (else the
       in-process read record) holds, so no inference job runs, when
       its file list equals the scan's listing; otherwise it infers
       (``geodata_spark.manifest.Table.read``);
    3. survivors come from ONE hash aggregation (``max(struct(...))``,
       map-side combinable) — no window sort;
    4. the write runs in dynamic partition-overwrite mode, so
       untouched partitions are never rewritten (their files stay
       byte-identical) and re-running the same merge is idempotent;
    5. after the commit, ``_manifest.json`` is rewritten from the
       listing the target read holds, with the rewritten directories
       listed again, when the written data schema equals the schema
       read (a table whose schema the batch changed keeps inferring).

    The collect and the write run as labelled jobs.  Returns the
    touched partition values sorted, NULL last.

    Iceberg note: with a configured catalog (``iceberg_catalog``) the
    same plan becomes ``MERGE INTO`` against snapshot isolation; this
    path-based variant is transactional only per partition directory
    (the fallback contract write_table documents).

    CONTRACT: ``partition_col`` must be functionally determined by
    ``key_cols`` (the standard partitioned-upsert rule — Hudi/Delta
    call it a stable record-key→partition-path mapping).  If an
    update moves a key to a different partition value, the old
    partition is not read, so the key's stale row there survives as a
    duplicate.  Cross-partition moves need a delete in the old
    partition first.
    """
    from pyspark.errors import AnalysisException

    pc = ident(partition_col)
    table = manifest.Table(spark, target_path)
    with job_description(spark, "sinks.merge_upsert: touched partitions") as sc:
        rows = updates.selectExpr(pc, f"CAST({pc} AS STRING)").distinct().collect()
        parts = [r[0] for r in rows]
        data_cols = [c for c in updates.columns if c not in (partition_col, seq_col)]

        # Only the READ sits in the try: a select/union failure (schema
        # drift between target and updates) must propagate — treating it
        # as "first merge" would overwrite touched partitions with
        # updates-only rows and silently drop every pre-existing key.
        try:
            target, held = table.read()
        except AnalysisException:  # first merge: target does not exist yet
            target, held = None, []
        if target is None:
            merged = updates
        else:
            values = [lit(p) for p in parts if p is not None]
            touched = [f"{pc} IN ({', '.join(values)})"] if values else []
            if any(not r[1] for r in rows):  # NULL and '' share Spark's NULL directory
                touched.append(f"{pc} IS NULL")
            merged = (
                target.filter(" OR ".join(touched) or "false")
                .select(updates.columns)
                .unionByName(updates)
            )
        ordered = [seq_col] + [c for c in data_cols if c not in key_cols]
        surv = merged.groupBy(partition_col, *key_cols).agg(
            F.expr(f"max(struct({', '.join(ident(c) for c in ordered)})) AS _s")
        )
        # one projection back to the update batch's column order
        out = surv.selectExpr(*[
            ident(c) if c == partition_col or c in key_cols else f"_s.{ident(c)} AS {ident(c)}"
            for c in updates.columns
        ])
        # per-write option, NOT the session conf: scoping dynamic mode to
        # this writer cannot leak into (or be clobbered by) concurrent
        # writes in the same session
        sc.setJobDescription("sinks.merge_upsert: write")
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(target_path)
        )
    written = _data_fields(out.schema, partition_col)
    if held is not None and (target is None or _data_fields(target.schema, partition_col) == written):
        dirs = sorted({manifest.part_dir(partition_col, r[1]) for r in rows})
        fresh = table.list_dirs(dirs)
        if fresh is not None:
            kept = [f for f in held if f[0].split("/", 1)[0] not in dirs]
            schema = StructType([f for f in out.schema if f.name != partition_col])
            table.write(schema, kept + fresh)
    return {
        "touched_partitions": sorted(parts, key=lambda p: (p is None, p)),
        "n_touched": len(parts),
    }


def _data_fields(schema: StructType, partition_col: str) -> list:
    """(name, type) of each column of ``schema`` but ``partition_col``."""
    return [(f.name, f.dataType) for f in schema if f.name != partition_col]
