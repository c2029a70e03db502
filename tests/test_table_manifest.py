"""The ingest cycle's table metadata: file-list fingerprints of bare
scans, the ``_manifest.json`` that package writers record and readers
use in place of schema inference, and the cycle's job labels."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from geodata_spark import lineage, manifest, sinks

COLS = "day int, k long, seq long, v string"


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _count_jobs(spark, fn):
    lo = _jobs(spark)
    out = fn()
    return _jobs(spark) - lo, out


def _rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _schema(df) -> list:
    return [(f.name, f.dataType) for f in df.schema]


def _table(spark, path, days=(1, 2, 3), keys=3, seq=0):
    data = [(d, k, seq, f"v{d}-{k}-{seq}") for d in days for k in range(keys)]
    sinks.merge_upsert(spark, path, spark.createDataFrame(data, COLS), ["k"], "day", "seq")


def _per_day(df):
    return df.groupBy("k").agg(F.count("*").alias("n"), F.max("v").alias("v"))


def test_escape_matches_spark(spark):
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    text = "".join(map(chr, range(1, 128))) + " é 漢 %zz %4"
    assert manifest.escape(text) == utils.escapePathName(text)
    assert manifest.unescape(manifest.escape(text)) == text
    assert manifest.unescape("%zz%4") == utils.unescapePathName("%zz%4")


def test_bare_scan_fingerprints_by_files_without_a_job(spark, tmp_path):
    path = str(tmp_path / "t")
    _table(spark, path)
    n_jobs, fps = _count_jobs(spark, lambda: lineage.partition_fingerprint(
        spark.read.schema("k long, seq long, v string").parquet(path), "day"))
    assert n_jobs == 0
    assert sorted(fps) == ["1", "2", "3"]
    assert all(rows is None and len(h) == 64 for rows, h in fps.values())
    # rewrite day 2 with identical rows: only its digest changes
    day2 = spark.read.parquet(path).filter("day = 2").localCheckpoint()
    day2.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        "day").parquet(path)
    again = lineage.partition_fingerprint(spark.read.parquet(path), "day")
    assert [k for k in fps if fps[k] != again[k]] == ["2"]


def test_other_sources_take_the_content_job(spark, tmp_path):
    path, flat = str(tmp_path / "t"), str(tmp_path / "flat")
    _table(spark, path)
    spark.read.parquet(path).write.parquet(flat)  # ``day`` is a data column here
    scan = spark.read.parquet(path)
    for src in (
        scan.filter("k > 0"),
        scan.select("day", "k"),
        spark.createDataFrame([(1, 2), (2, 3)], "day int, k long"),
        spark.read.parquet(flat),
    ):
        n_jobs, fps = _count_jobs(spark, lambda: lineage.partition_fingerprint(src, "day"))
        assert n_jobs > 0
        assert all(isinstance(rows, int) and isinstance(h, int) for rows, h in fps.values())


def test_file_keys_equal_content_keys(spark, tmp_path):
    values = ["a/b", "x=y", "50%", "q?*", "é", None]
    df = spark.createDataFrame(
        [(i, s, i % 3) for i, s in enumerate(values)], "k long, s string, n int")
    path = str(tmp_path / "t")
    df.write.partitionBy("n", "s").parquet(path)
    scan = spark.read.parquet(path)
    for col in ("s", "n"):
        by_files = lineage.partition_fingerprint(scan, col)
        by_rows = lineage.partition_fingerprint(scan.select("*"), col)
        assert all(v[0] is None for v in by_files.values())
        assert sorted(by_files) == sorted(by_rows)
    assert manifest.NULL_KEY in lineage.partition_fingerprint(scan, "s")


def test_listing_parse_matches_os_stat(spark, tmp_path):
    path = str(tmp_path / "t")
    _table(spark, path)
    on_disk = sorted(
        os.path.relpath(os.path.join(d, f), path)
        for d, _, fs in os.walk(path) for f in fs
        if f.endswith(".parquet") and not f.startswith(".")
    )
    qroot = "file:" + path
    listed = manifest.scan_files(spark.read.parquet(path), qroot)
    dirs = manifest.Table(spark, path).list_dirs(["day=1", "day=3"])
    assert [f[0] for f in listed] == on_disk
    assert [f[0] for f in dirs] == [p for p in on_disk if p.startswith(("day=1/", "day=3/"))]
    for rel, size, mtime in listed + dirs:
        st = os.stat(os.path.join(path, rel))
        assert (size, mtime) == (st.st_size, st.st_mtime_ns // 1_000_000)


def _break(state: str, spark, root: str) -> None:
    """Leave the table at ``root`` in ``state`` after a commit."""
    mpath = os.path.join(root, manifest.NAME)
    if state == "foreign_write":  # one more copy of a row, in a new file
        row = spark.read.parquet(root).filter("day = 3").limit(1).localCheckpoint()
        row.write.mode("append").partitionBy("day").parquet(root)
    elif state == "missing":
        os.remove(mpath)
    elif state == "corrupt":
        with open(mpath, "w") as f:
            f.write('{"schema": {"type": "struct", "fields": [')


STATES = ["manifest", "foreign_write", "crash", "missing", "corrupt"]


@pytest.mark.parametrize("state", STATES)
def test_merge_upsert_reads_like_the_inferred_read(spark, tmp_path, monkeypatch, state):
    path = str(tmp_path / "t")
    _table(spark, path)
    if state == "crash":  # a commit whose manifest write never ran
        with monkeypatch.context() as m:
            m.setattr(manifest.Table, "write", lambda *a, **k: None)
            _table(spark, path, days=(2,), keys=1, seq=1)
    _break(state, spark, path)
    n_jobs, (df, files) = _count_jobs(spark, lambda: manifest.Table(spark, path).read("day"))
    assert n_jobs == (0 if state == "manifest" else 1)
    inferred = spark.read.parquet(path)
    assert _schema(df) == _schema(inferred)
    assert _rows(df) == _rows(inferred)
    assert [f[0] for f in files] == [f[0] for f in manifest.scan_files(inferred, "file:" + path)]
    # the next merge is right on either path, and records a manifest
    upd = spark.createDataFrame([(3, 0, 5, "new"), (4, 0, 5, "new4")], COLS)
    want = {(r.day, r.k): (r.seq, r.v) for r in inferred.collect()}
    want.update({(3, 0): (5, "new"), (4, 0): (5, "new4")})
    sinks.merge_upsert(spark, path, upd, ["k"], "day", "seq")
    assert {(r.day, r.k): (r.seq, r.v) for r in spark.read.parquet(path).collect()} == want
    n_jobs, _ = _count_jobs(spark, lambda: manifest.Table(spark, path).read("day"))
    assert n_jobs == 0


@pytest.mark.parametrize("state", STATES + ["partition_column"])
def test_read_output_reads_like_the_inferred_read(spark, tmp_path, monkeypatch, state):
    path, out = str(tmp_path / "t"), str(tmp_path / "out")
    _table(spark, path)
    transform = (lambda d: d) if state == "partition_column" else _per_day
    lineage.run_partitioned(spark, spark.read.parquet(path), transform, out, "day")
    if state == "crash":
        _table(spark, path, days=(2,), keys=1, seq=1)
        with monkeypatch.context() as m:
            m.setattr(manifest.Table, "write", lambda *a, **k: None)
            res = lineage.run_partitioned(spark, spark.read.parquet(path), transform, out, "day")
        assert res["completed"] == ["2"]
    _break(state, spark, out)
    n_jobs, got = _count_jobs(spark, lambda: lineage.read_output(spark, out, "day"))
    assert n_jobs == (0 if state == "manifest" else 1)
    inferred = spark.read.option("basePath", out).parquet(os.path.join(out, "day=*"))
    assert _schema(got) == _schema(inferred)
    assert _rows(got) == _rows(inferred)


def test_read_output_reads_the_root_not_a_glob(spark, tmp_path):
    """read_output scans the output root, not a ``<col>=*`` glob (whose
    metadata probe fails and logs a stack), with the rows and schema of
    the glob read: after a run, after a foreign write of a new
    partition, and with a visible file beside the partitions, which
    reads the glob after inferring the root's schema."""
    path, out = str(tmp_path / "t"), str(tmp_path / "out")
    _table(spark, path)
    lineage.run_partitioned(spark, spark.read.parquet(path), _per_day, out, "day")

    def roots(df):
        index = df._jdf.queryExecution().analyzed().relation().location()
        return index.rootPaths().mkString("\n").split("\n")

    def foreign_partition():
        spark.createDataFrame([(7, 1, "x")], "k long, n long, v string").write.parquet(
            os.path.join(out, "day=9")
        )

    def stray_file():
        (tmp_path / "out" / "notes.txt").write_text("not a partition")

    for jobs, root_read, then in ((0, True, foreign_partition), (1, True, stray_file), (2, False, None)):
        n_jobs, got = _count_jobs(spark, lambda: lineage.read_output(spark, out, "day"))
        assert n_jobs == jobs
        assert (roots(got) == ["file:" + out]) == root_read
        inferred = spark.read.option("basePath", out).parquet(os.path.join(out, "day=*"))
        assert _schema(got) == _schema(inferred)
        assert _rows(got) == _rows(inferred)
        if then:
            then()


def test_ingest_cycle_labels_every_job(spark, tmp_path):
    """An upsert, a re-aggregation (file-list and content fingerprints)
    and a read-back run no job without a description."""
    path, out, out2 = (str(tmp_path / n) for n in ("t", "out", "out2"))
    _table(spark, path, days=(1, 2, None))
    sc = spark.sparkContext
    lo = _jobs(spark)
    upd = spark.createDataFrame([(2, 0, 1, "x"), (None, 7, 1, "y")], COLS)
    sinks.merge_upsert(spark, path, upd, ["k"], "day", "seq")
    src = spark.read.schema("k long, seq long, v string").parquet(path)
    lineage.run_partitioned(spark, src, _per_day, out, "day")
    lineage.run_partitioned(spark, src.filter("k >= 0"), _per_day, out2, "day")
    lineage.read_output(spark, out, "day")
    lineage.read_output(spark, out2, "day")
    hi = _jobs(spark)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    unlabelled = [
        store.job(j).name() for j in range(lo, hi) if not store.job(j).description().isDefined()
    ]
    assert hi - lo >= 10 and unlabelled == []


@pytest.mark.parametrize("text", [
    '{"schema": {"type": "struct", "fields": [',
    "[]",
    '{"schema": 1, "files": []}',
    '{"schema": {"type": "struct", "fields": []}, "files": [[1]]}',
    '{"schema": {"type": "struct", "fields": []}}',
])
def test_unparsable_manifest_reads_as_none(spark, tmp_path, text):
    (tmp_path / manifest.NAME).write_text(text)
    assert manifest.Table(spark, str(tmp_path)).load() is None
