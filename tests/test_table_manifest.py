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


def _scan_files(df, root: str):
    """The files a bare scan ``df`` lists, relative to ``root``."""
    index = manifest._file_index(df)
    return None if index is None else manifest._parse_listing(index.allFiles().mkString("\n"), root)


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
    listed = _scan_files(spark.read.parquet(path), qroot)
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
    n_jobs, (df, files) = _count_jobs(spark, lambda: manifest.Table(spark, path).read())
    assert n_jobs == (0 if state == "manifest" else 1)
    inferred = spark.read.parquet(path)
    assert _schema(df) == _schema(inferred)
    assert _rows(df) == _rows(inferred)
    assert [f[0] for f in files] == [f[0] for f in _scan_files(inferred, "file:" + path)]
    # the next merge is right on either path, and records a manifest
    upd = spark.createDataFrame([(3, 0, 5, "new"), (4, 0, 5, "new4")], COLS)
    want = {(r.day, r.k): (r.seq, r.v) for r in inferred.collect()}
    want.update({(3, 0): (5, "new"), (4, 0): (5, "new4")})
    sinks.merge_upsert(spark, path, upd, ["k"], "day", "seq")
    assert {(r.day, r.k): (r.seq, r.v) for r in spark.read.parquet(path).collect()} == want
    n_jobs, _ = _count_jobs(spark, lambda: manifest.Table(spark, path).read())
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


# -- the one parquet read: schemas recorded per file listing -----------------


def _write_file(path, n=6, extra=False):
    import pandas as pd

    cols = {"k": list(range(n)), "v": [f"v{i}" for i in range(n)]}
    if extra:
        cols["w"] = [float(i) for i in range(n)]
    pd.DataFrame(cols).to_parquet(path, index=False)


def _write_dir(spark, path, extra=False):
    cols = "day int, k long, v string" + (", w double" if extra else "")
    data = [(d, k, f"v{k}") + ((float(k),) if extra else ()) for d in (1, 2) for k in range(3)]
    spark.createDataFrame(data, cols).write.mode("overwrite").partitionBy("day").parquet(path)


def _exact_schema(df) -> list:
    return [(f.name, f.dataType, f.nullable) for f in df.schema]


@pytest.mark.parametrize("layout", ["file", "partitioned"])
def test_second_read_runs_no_job_and_reads_like_spark(spark, tmp_path, layout):
    path = str(tmp_path / ("t.parquet" if layout == "file" else "t"))
    write = _write_file if layout == "file" else (lambda p, **kw: _write_dir(spark, p, **kw))
    write(path)
    for jobs in (1, 0, 0):
        n_jobs, df = _count_jobs(spark, lambda: manifest.read_parquet(spark, path))
        assert n_jobs == jobs
        inferred = spark.read.parquet(path)
        assert _exact_schema(df) == _exact_schema(inferred)
        assert _rows(df) == _rows(inferred)
    # a rewrite that adds a column changes size and mtime: one job, new schema
    write(path, extra=True)
    n_jobs, df = _count_jobs(spark, lambda: manifest.read_parquet(spark, path))
    assert n_jobs == 1 and "w" in df.columns
    assert _exact_schema(df) == _exact_schema(spark.read.parquet(path))
    assert _rows(df) == _rows(spark.read.parquet(path))


def test_a_changed_parquet_conf_misses_the_record(spark, tmp_path):
    import pandas as pd

    path = str(tmp_path / "b.parquet")
    pd.DataFrame({"k": [1, 2], "b": [b"x", b"yz"]}).to_parquet(path, index=False)
    manifest.read_parquet(spark, path)
    key = "spark.sql.parquet.binaryAsString"
    spark.conf.set(key, "true")
    try:
        n_jobs, df = _count_jobs(spark, lambda: manifest.read_parquet(spark, path))
        assert n_jobs == 1
        assert _exact_schema(df) == _exact_schema(spark.read.parquet(path))
        assert dict(_schema(df))["b"].simpleString() == "string"
    finally:
        spark.conf.unset(key)
    n_jobs, df = _count_jobs(spark, lambda: manifest.read_parquet(spark, path))
    assert n_jobs == 0 and dict(_schema(df))["b"].simpleString() == "binary"


def test_a_data_column_named_like_a_partition_is_not_recorded(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 1, "a"), (2, 2, "b")], "day int, k long, v string")
    df.write.parquet(os.path.join(path, "day=1"))  # ``day`` is also a data column
    for _ in range(2):
        n_jobs, got = _count_jobs(spark, lambda: manifest.read_parquet(spark, path))
        assert n_jobs == 1
        assert _exact_schema(got) == _exact_schema(spark.read.parquet(path))


def test_read_records_are_lru_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(manifest, "READ_CACHE_LIMIT", 2)
    paths = [str(tmp_path / f"t{i}.parquet") for i in range(3)]
    for p in paths:
        _write_file(p)
        manifest.read_parquet(spark, p)
    assert len(manifest._RECORDS) <= 2
    # the least recently used went first
    assert _count_jobs(spark, lambda: manifest.read_parquet(spark, paths[2]))[0] == 0
    assert _count_jobs(spark, lambda: manifest.read_parquet(spark, paths[0]))[0] == 1


def test_concurrent_reads_agree(spark, tmp_path):
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "t")
    _write_dir(spark, path)
    with ThreadPoolExecutor(max_workers=4) as pool:
        dfs = list(pool.map(lambda _: manifest.read_parquet(spark, path), range(8)))
    assert {tuple(_exact_schema(df)) for df in dfs} == {tuple(_exact_schema(spark.read.parquet(path)))}
    assert _count_jobs(spark, lambda: manifest.read_parquet(spark, path))[0] == 0


def test_corpus_size_counts_once_per_listing(spark, tmp_path):
    import pyarrow.parquet as pq

    from geodata_spark import queries
    from geodata_spark.synth import N_DOCS_MULTIPLIER
    from tests.conftest import SF_SMOKE

    docs = pq.read_table(os.path.join(SF_SMOKE, "documents.parquet"))
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    assert queries.corpus_size(spark, sf) == docs.num_rows * N_DOCS_MULTIPLIER
    n_jobs, n = _count_jobs(spark, lambda: queries.corpus_size(spark, sf))
    assert n_jobs == 0 and n == docs.num_rows * N_DOCS_MULTIPLIER
    pq.write_table(docs.slice(0, docs.num_rows // 2), str(tmp_path / "documents.parquet"))
    assert queries.corpus_size(spark, sf) == (docs.num_rows // 2) * N_DOCS_MULTIPLIER


def test_every_package_parquet_read_goes_through_the_read_function():
    """No module reads through ``<session>.read`` but :meth:`Table._read`,
    so every parquet read keeps its schema record."""
    import ast

    import geodata_spark

    root = os.path.dirname(geodata_spark.__file__)
    found = []
    for d, _, names in os.walk(root):
        for name in names:
            if not name.endswith(".py"):
                continue
            tree = ast.parse(open(os.path.join(d, name)).read())
            called = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
            allowed: set[int] = set()
            for node in ast.walk(tree):
                if isinstance(node, ast.ClassDef) and node.name == "Table" and name == "manifest.py":
                    for fn in node.body:
                        if isinstance(fn, ast.FunctionDef) and fn.name == "_read":
                            allowed = {id(n) for n in ast.walk(fn)}
            found += [
                f"{os.path.relpath(os.path.join(d, name), root)}:{n.lineno}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Attribute) and n.attr == "read"
                and id(n) not in called and id(n) not in allowed
            ]
    assert found == []
