"""ANN top-k scoring: lossless per-batch pruning and driver-collect bounds.

The Arrow top-k kernel prunes each batch to a per-query candidate
superset before the final ranking window.  These tests shrink Arrow
batches to 7 rows over a table whose vectors each appear five times
under consecutive ids, so groups of exact cosine and ADC ties sit
inside batches and straddle batch boundaries, with the top-k cut
falling inside a tie.  Each result is compared against an unpruned
reference ranking under the same (score desc, id asc) order.
"""

from __future__ import annotations

import math
from functools import reduce

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from geodata_spark.pipeline import similarity as SIM
from tests.conftest import SF_ORACLE

N_BASE, COPIES = 24, 5
QUERY_IDS = [COPIES * v for v in range(5)]


@pytest.fixture(scope="module")
def dup_vecs(spark):
    base = (
        spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
        .filter(F.col("vec_id") < N_BASE)
        .select("vec_id", "embedding")
    )
    copies = [
        base.select((F.col("vec_id") * COPIES + c).alias("vec_id"), "embedding")
        for c in range(COPIES)
    ]
    return (
        reduce(lambda a, b: a.unionByName(b), copies)
        .repartition(1)
        .sortWithinPartitions("vec_id")
        .localCheckpoint()
    )


@pytest.fixture(scope="module")
def dup_queries(dup_vecs):
    return dup_vecs.filter(F.col("vec_id").isin(QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


@pytest.fixture(scope="module")
def dup_np(dup_vecs):
    p = dup_vecs.toPandas().sort_values("vec_id")
    return {int(i): [float(x) for x in v] for i, v in zip(p.vec_id, p.embedding)}


@pytest.fixture(scope="module")
def dup_pq(dup_vecs):
    codes, books = SIM.pq_train_encode(dup_vecs, m=4, ksub=4, iters=2)
    cp = codes.toPandas()
    return codes, books, {int(i): [int(c) for c in cs] for i, cs in zip(cp.id, cp.codes)}


@pytest.fixture
def tiny_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "7")
    yield
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


def _fold_dot(a, b) -> float:
    """Dot product summed left to right from 0.0 (the JVM fold order)."""
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def _spark_round6(x: float) -> float:
    return float(SIM.spark_round6(x)[0])


def _ranked(scores: dict, k: int) -> dict:
    """{query: [(id, score), ...]} — top-k by (score desc, id asc)."""
    return {
        q: sorted(s.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        for q, s in scores.items()
    }


def _cosine_scores(X: dict) -> dict:
    out = {}
    for q in QUERY_IDS:
        qn = math.sqrt(_fold_dot(X[q], X[q]))
        out[q] = {
            i: _spark_round6(_fold_dot(v, X[q]) / (math.sqrt(_fold_dot(v, v)) * qn))
            for i, v in X.items() if i != q
        }
    return out


def _adc_scores(X: dict, codes: dict, books) -> dict:
    dsub = len(books[0][0])
    out = {}
    for q in QUERY_IDS:
        lut = [[round(_fold_dot(X[q][j * dsub:(j + 1) * dsub], c), 6) for c in book]
               for j, book in enumerate(books)]
        out[q] = {}
        for i, cs in codes.items():
            if i != q:
                s = 0.0
                for j, c in enumerate(cs):
                    s += lut[j][c]
                out[q][i] = s
    return out


def _got(df, value: str) -> dict:
    pdf = df.toPandas().sort_values(["query_id", "rank"])
    return {
        int(q): [(int(i), float(v)) for i, v in zip(g.vec_id, g[value])]
        for q, g in pdf.groupby("query_id")
    }


def _cut_in_tie(scores: dict, k: int) -> bool:
    """Every query's k-th and (k+1)-th candidates tie."""
    return all(r[k - 1][1] == r[k][1] for r in _ranked(scores, k + 1).values())


def test_exact_ties_survive_batch_pruning(spark, dup_vecs, dup_queries, dup_np,
                                          tiny_batches):
    k = 3  # a query's 4 other copies tie at the top; id asc keeps 3
    scores = _cosine_scores(dup_np)
    assert _cut_in_tie(scores, k)
    want = _ranked(scores, k)
    got = _got(SIM.brute_force_topk(dup_vecs, dup_queries, k=k), "cosine_r6")
    assert got == want
    full = SIM.ivf_topk(dup_vecs, dup_queries, n_cells=4, n_probe=4, k=k)
    assert _got(full, "cosine_r6") == want


@pytest.mark.parametrize("k", [1, 3])
def test_exact_adc_ties_survive_batch_pruning(spark, dup_vecs, dup_queries,
                                              dup_np, dup_pq, tiny_batches, k):
    # ADC ranks the raw score, so pruning keeps rows tied with the k-th
    # best at margin 0; k=1 makes every batch's best such a row
    codes, books, cmap = dup_pq
    shortlist = 11
    adc = _adc_scores(dup_np, cmap, books)
    assert _cut_in_tie(adc, k)
    got = _got(SIM.pq_topk(codes, books, dup_queries, k=k), "adc_r6")
    assert got == _ranked(adc, k)

    want = {}
    for q, short in _ranked(adc, shortlist).items():
        want[q] = {i: _spark_round6(_fold_dot(dup_np[i], dup_np[q])) for i, _ in short}
    refined = SIM.pq_topk_refined(codes, books, dup_vecs, dup_queries,
                                  k=k, shortlist=shortlist)
    assert _got(refined, "dot_r6") == _ranked(want, k)


@pytest.mark.parametrize("method", ["brute", "ivf_probe", "lsh", "pq", "pq_refine",
                                    "ivfpq"])
def test_query_bound_raises(spark, dup_vecs, dup_queries, monkeypatch, method):
    cents = SIM.ivf_centroids(dup_vecs, 4)
    books = [[[0.0] * 16] * 4] * 4
    call = {
        "brute": lambda: SIM.brute_force_topk(dup_vecs, dup_queries),
        "ivf_probe": lambda: SIM.ivf_probe(dup_vecs, cents, dup_queries),
        "lsh": lambda: SIM.hyperplane_lsh_topk(dup_vecs, dup_queries, dim=64),
        "pq": lambda: SIM.pq_topk(dup_vecs, books, dup_queries),
        "pq_refine": lambda: SIM.pq_topk_refined(dup_vecs, books, dup_vecs,
                                                 dup_queries),
        "ivfpq": lambda: SIM.ivfpq_topk(dup_vecs, dup_vecs, books, cents,
                                        dup_vecs, dup_queries),
    }[method]
    monkeypatch.setattr(SIM, "MAX_QUERIES", len(QUERY_IDS) - 1)
    with pytest.raises(ValueError, match="MAX_QUERIES"):
        call()


def test_probe_and_centroid_bounds(spark, dup_vecs, dup_queries, monkeypatch):
    cents = SIM.ivf_centroids(dup_vecs, 4)
    nq = len(QUERY_IDS)
    # at the bound: nq queries, nq × 2 probe rows, 4 centroids all pass
    monkeypatch.setattr(SIM, "MAX_QUERIES", nq)
    monkeypatch.setattr(SIM, "MAX_PROBE_ROWS", 2 * nq)
    monkeypatch.setattr(SIM, "MAX_CELLS", 4)
    assigned = SIM.ivf_assign(dup_vecs, cents, layout=False)
    got = SIM.ivf_probe(assigned, cents, dup_queries, n_probe=2, k=3)
    assert got.count() == 3 * nq

    monkeypatch.setattr(SIM, "MAX_PROBE_ROWS", 2 * nq - 1)
    with pytest.raises(ValueError, match="MAX_PROBE_ROWS"):
        SIM.ivf_probe(assigned, cents, dup_queries, n_probe=2)
    monkeypatch.setattr(SIM, "MAX_CELLS", 3)
    with pytest.raises(ValueError, match="MAX_CELLS"):
        SIM.ivf_assign(dup_vecs, cents)


def test_centroid_matrix_literal_round_trips_doubles(spark):
    """kmeans_lloyd's one-SQL-text centroid matrix gives back every
    double bit for bit, signed zero and non-finite values included, as
    array<array<double>>."""
    import struct

    rows = [
        [0.123456, -0.0, 0.0, 1e-06, -1e-06, 1e16, 5e-324, 1.7976931348623157e308],
        [float("nan"), float("inf"), -float("inf"), 0.1, 0.2, 0.3, -3.25, 7.0],
    ]
    col = spark.range(1).select(SIM._double_matrix(rows).alias("m"))
    assert col.schema["m"].dataType.simpleString() == "array<array<double>>"
    got = col.first().m
    assert [struct.pack("<d", x) for r in got for x in r] == [
        struct.pack("<d", x) for r in rows for x in r
    ]


def test_spark_round6_equals_spark_round_bit_for_bit(spark):
    """``spark_round6`` (numpy bulk, exact Decimal near a half grain)
    returns the very doubles of Spark's ``round(x, 6)``: 100k random
    doubles across magnitudes, values on and next to a half grain, and
    the constructed ties."""
    rng = np.random.default_rng(6)
    half = (rng.integers(-10**9, 10**9, 20_000) + 0.5) / 1e6
    x = np.concatenate([
        rng.standard_normal(60_000) * 10.0 ** rng.uniform(-12, 12, 60_000),
        half, np.nextafter(half, np.inf), np.nextafter(half, -np.inf),
        rng.integers(-10**6, 10**6, 20_000) / 1e7,
        [5e-7, -5e-7, 2.5e-6, 1.0000005, 123456.0000005, -0.0, 0.0, 1e300, -1e-300,
         2.0**53, 2.0**52 / 1e6, np.nan, np.inf, -np.inf],
    ])
    df = spark.createDataFrame(pa.table({"i": np.arange(len(x)), "x": x}))
    got = df.select("i", F.round("x", 6).alias("r")).toArrow().sort_by("i")
    want = got.column("r").to_numpy()
    assert want.view(np.int64)[-14:-3].tolist() == np.array(
        [1e-6, -1e-6, 3e-6, 1.000001, 123456.000001, 0.0, 0.0, 1e300, 0.0, 2.0**53, 4503599627.370496]
    ).view(np.int64).tolist()  # HALF_UP away from zero; -0.0 -> 0.0
    mine = SIM.spark_round6(x)
    bad = np.flatnonzero(mine.view(np.int64) != want.view(np.int64))
    assert len(bad) == 0, [(repr(x[i]), repr(mine[i]), repr(want[i])) for i in bad[:10]]
