from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from geodata_spark.pipeline import dedup as DD
from geodata_spark.pipeline import multimodal as MM
from geodata_spark.pipeline import similarity as SIM
from geodata_spark.pipeline import text as TX
from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").limit(60)
    return base.withColumn("doc_id", F.col("doc_id").cast("long"))


def test_text_stats_hand_examples(spark):
    rows = [
        (1, "The cat and the dog, of course!"),
        (2, "el perro y la casa de los gatos"),
        (3, ""),
        (4, "x1 2345 a?!"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in TX.with_text_stats(df).collect()}
    assert out[1].token_count == 7
    assert out[1].lang_guess == "en"
    assert out[1].punct_count == 2  # comma + exclamation
    assert out[2].lang_guess == "es"
    assert out[3].token_count == 0
    assert out[3].lang_guess == "und"
    assert out[4].digit_count == 5
    # fingerprint is stable + normalization-insensitive
    df2 = spark.createDataFrame(
        [(9, "The   CAT and the dog -- of course")], "doc_id long, text string"
    )
    fp1 = out[1].fingerprint
    fp2 = TX.with_text_stats(df2).collect()[0].fingerprint
    assert fp1 == fp2


def test_exact_dedup_planted(spark):
    rows = [
        (1, "alpha beta gamma"),
        (2, "Alpha  BETA gamma!"),  # same after normalization
        (3, "different text entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = DD.exact_dedup(df).collect()
    sizes = sorted(r.cluster_size for r in out)
    assert sizes == [1, 2]
    dup = [r for r in out if r.cluster_size == 2][0]
    assert dup.survivor_id == 1


def _py_shingles(text, n=3):
    import re

    norm = re.sub(r"\s+", " ", re.sub(r"[^a-z0-9 ]", " ", text.lower())).strip()
    toks = norm.split(" ")
    return set(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)) if len(toks) >= n else set()


def test_jaccard_pairs_vs_python(docs):
    out = DD.jaccard_pairs(docs, n=3, threshold=0.01).toPandas()
    pdf = docs.select("doc_id", "text").toPandas()
    sh = {r.doc_id: _py_shingles(r.text) for _, r in pdf.iterrows()}
    want = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if not sh[a] or not sh[b]:
                continue
            inter = len(sh[a] & sh[b])
            if inter == 0:
                continue
            j = inter / len(sh[a] | sh[b])
            if j >= 0.01:
                want[(a, b)] = j
    got = {(r.id_a, r.id_b): r.jaccard for _, r in out.iterrows()}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12


def test_minhash_lsh_finds_planted_neardup(docs, spark):
    base = docs.limit(20)
    planted = base.filter(F.col("doc_id") == base.agg(F.min("doc_id")).collect()[0][0])
    # mutate lightly: append two words → very high jaccard
    mutated = planted.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra tail")).alias("text"),
    )
    corpus = base.select("doc_id", "text").unionByName(mutated)
    pairs = DD.minhash_dedup(corpus, threshold=0.5).collect()
    pair_ids = {(r.id_a, r.id_b) for r in pairs}
    orig = planted.collect()[0].doc_id
    assert (orig, orig + 100000) in pair_ids
    # and LSH-verified pairs agree with exact jaccard pairs at the threshold
    exact = DD.jaccard_pairs(corpus, threshold=0.5).collect()
    exact_ids = {(r.id_a, r.id_b) for r in exact}
    assert pair_ids <= exact_ids  # no false positives (verified)


def test_simhash_properties(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),  # identical
        (3, "the quick brown fox jumps over the lazy cat today"),  # 1 word
        (4, "completely unrelated text about spark catalyst engines"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {r.id: r.simhash for r in DD.simhash(df).collect()}
    assert sh[1] == sh[2]

    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert ham(sh[1], sh[3]) < ham(sh[1], sh[4])
    pairs = DD.simhash_neardup_pairs(df, max_hamming=0).collect()
    assert {(r.id_a, r.id_b) for r in pairs} >= {(1, 2)}


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")


def test_ann_brute_force_vs_numpy(vecs):
    queries = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = SIM.brute_force_topk(vecs, queries, k=5).toPandas()
    p = vecs.toPandas()
    M = np.stack(p.embedding.to_numpy()).astype(np.float64)
    ids = p.vec_id.to_numpy()
    norms = np.linalg.norm(M, axis=1)
    for q in range(3):
        qi = int(np.where(ids == q)[0][0])
        sims = (M @ M[qi]) / (norms * norms[qi])
        sims[qi] = -np.inf
        order = np.argsort(np.round(-sims, 6), kind="stable")
        got = out[out.query_id == q].sort_values("rank")
        assert list(got.vec_id[:3]) == list(ids[order[:3]])


def test_lsh_and_ivf_recall(vecs):
    queries = vecs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    dim = len(vecs.select("embedding").first()[0])
    exact = SIM.brute_force_topk(vecs, queries, k=5).toPandas()
    lsh = SIM.hyperplane_lsh_topk(vecs, queries, dim=dim, k=5).toPandas()
    ivf = SIM.ivf_topk(vecs, queries, n_cells=8, n_probe=4, k=5).toPandas()

    def recall(approx):
        hits = tot = 0
        for q in range(8):
            want = set(exact[exact.query_id == q].vec_id)
            got = set(approx[approx.query_id == q].vec_id)
            hits += len(want & got)
            tot += len(want)
        return hits / tot

    assert recall(lsh) >= 0.5, f"LSH recall {recall(lsh)}"
    assert recall(ivf) >= 0.5, f"IVF recall {recall(ivf)}"


def test_embedding_neardup_subset_of_brute_with_recall(vecs):
    """LSH near-dup pairs: (a) every emitted pair really has cosine ≥ τ
    and appears in the brute-force pair set (no false positives), and
    (b) recall vs brute force is above the analytic floor for these
    bucket parameters."""
    dim = len(vecs.select("embedding").first()[0])
    got = SIM.embedding_neardup_pairs(vecs, dim=dim, threshold=0.4).toPandas()
    p = vecs.toPandas()
    M = np.stack(p.embedding.to_numpy()).astype(np.float64)
    ids = p.vec_id.to_numpy()
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = Mn @ Mn.T
    idx = {int(v): i for i, v in enumerate(ids)}
    brute = {
        (int(ids[i]), int(ids[j]))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if round(S[i, j], 6) >= 0.4
    }
    got_pairs = {(int(r.id_a), int(r.id_b)) for _, r in got.iterrows()}
    assert got_pairs <= brute  # no false positives
    for _, r in got.iterrows():
        assert abs(S[idx[int(r.id_a)], idx[int(r.id_b)]] - r.cosine_r6) < 1e-5
    assert brute and len(got_pairs) / len(brute) >= 0.25  # recall floor


def test_multimodal_plumbing(spark):
    from geodata_spark.spatial import explode_spans
    from geodata_spark.synth import synth_documents

    spans = explode_spans(synth_documents(spark, 300)).filter(F.col("kind") == "image")
    media = MM.attach_payloads(spans.select("doc_id", "media_ref"))
    feats = MM.extract_features(media)
    pdf = feats.toPandas()
    assert len(pdf) > 0
    assert set(pdf.columns) == {"doc_id", "media_ref", "n_bytes", "width", "height", "n_frames", "feature"}
    assert (pdf.n_bytes == 256).all()
    assert all(len(f) == 16 for f in pdf.feature)
    assert all(abs(sum(f) - 1.0) < 1e-5 for f in pdf.feature)
    # deterministic across runs
    pdf2 = MM.extract_features(media).toPandas()
    a = pdf.sort_values(["doc_id", "media_ref"]).reset_index(drop=True)
    b = pdf2.sort_values(["doc_id", "media_ref"]).reset_index(drop=True)
    assert all(np.allclose(x, y) for x, y in zip(a.feature, b.feature))


def test_payload_sql_matches_hashlib_keystream(spark):
    """The payload SQL gives the bytes of the sha256 keystream
    ``(sha256(ref.encode()).digest() * reps)[:n]``, NULL read as ''."""
    import hashlib

    refs = [None, "", "img/7/cat.png", "ñandú/北京/ü", "r" * 300]
    ns = [1, 31, 32, 33, 64, 256, 1000]
    df = spark.createDataFrame([(r,) for r in refs], "ref string")
    rows = df.select("ref", *[F.expr(MM._keystream_sql("ref", n)).alias(f"p{n}") for n in ns]).collect()
    assert len(rows) == len(refs)
    for row in rows:
        h = hashlib.sha256((row.ref or "").encode()).digest()
        for n in ns:
            assert bytes(row[f"p{n}"]) == (h * ((n + len(h) - 1) // len(h)))[:n]


@pytest.mark.parametrize("name", ["media_dedup", "media_text_match"])
def test_media_payloads_run_no_python_stage(spark, name):
    from geodata_spark import queries as Q

    plan = Q.QUERIES[name](spark, SF_ORACLE)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "PythonUDF" not in plan


def test_media_exact_dedup_planted_clusters(spark):
    """Byte-identical payloads cluster; survivor is the lexicographic
    min (doc_id, ref) pair; distinct payloads never merge."""
    import hashlib

    rows = [
        ("doc002", "img://a/2.bin", b"SAME" * 64),
        ("doc001", "img://z/1.bin", b"SAME" * 64),  # same bytes, min doc wins
        ("doc001", "img://a/0.bin", b"SAME" * 64),  # same doc, min ref wins
        ("doc003", "img://b/3.bin", b"OTHER" * 51 + b"X"),
    ]
    media = spark.createDataFrame(
        rows, "doc_id string, media_ref string, payload binary"
    )
    out = {r["digest"]: r for r in MM.media_exact_dedup(media).collect()}
    assert len(out) == 2
    same_digest = hashlib.sha256((b"SAME" * 64).hex().encode()).hexdigest()
    c = out[same_digest]
    assert c["n_copies"] == 3
    assert (c["survivor_doc"], c["survivor_ref"]) == ("doc001", "img://a/0.bin")
    other = next(v for k, v in out.items() if k != same_digest)
    assert other["n_copies"] == 1 and other["survivor_doc"] == "doc003"


def test_shingle_freq_cap_bounds_candidates(spark):
    """A planted hot shingle shared by every doc must not create O(n²)
    candidate pairs once the cap filters it."""
    hot = "aaa bbb ccc"  # one 3-shingle present in every doc
    rows = [(i, f"{hot} unique{i} token{i} word{i} tail{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = DD.jaccard_pairs(df, threshold=0.0, max_shingle_freq=None)
    capped = DD.jaccard_pairs(df, threshold=0.0, max_shingle_freq=10)
    assert uncapped.count() == 30 * 29 // 2  # hot shingle links every pair
    assert capped.count() == 0  # only the hot shingle linked them
    # shingle table itself shrinks by exactly the hot rows
    n_raw = DD.with_shingles(df).count()
    n_cap = DD.with_shingles(df, max_shingle_freq=10).count()
    assert n_raw - n_cap == 30


def test_simhash_is_pure_catalyst(spark):
    """SimHash must stay JVM-side: no Python eval, no collect_list."""
    df = spark.createDataFrame([(1, "a b c"), (2, "d e f")], "doc_id long, text string")
    out = DD.simhash(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "collect_list" not in plan


def test_simhash_md5_mode_matches_python(spark):
    """The 60-bit md5 simhash equals an independent Python recomputation."""
    import hashlib

    rows = [(1, "the quick brown fox"), (2, "lorem ipsum dolor sit amet")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r.simhash for r in DD.simhash(df).collect()}

    def h60(s):
        return int(hashlib.md5(f"{s}:0".encode()).hexdigest()[:15], 16)

    for doc_id, text in rows:
        toks = text.lower().split()
        votes = [0] * 60
        for t in toks:
            h = h60(t)
            for b in range(60):
                votes[b] += 1 if (h >> b) & 1 else -1
        want = sum(1 << b for b in range(60) if votes[b] > 0)
        assert got[doc_id] == want


def test_pack_chunks_invariants_and_parallel_window(spark):
    """Concat-and-chunk packing: token totals are preserved, chunk ids
    are dense from 0, every interior chunk is exactly full at the
    boundary arithmetic level — and the corpus-sized running sum runs
    as a window partitioned by shard (parallel), never a global
    single-partition scan of the documents."""
    from geodata_spark.pipeline import packing as PK
    from geodata_spark.pipeline.text import token_count_sql

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    L = 2048
    out = PK.pack_chunks(docs, context_len=L, n_shards=16)
    pdf = out.toPandas().sort_values("chunk_id").reset_index(drop=True)
    total_tok = docs.selectExpr(
        f"sum(CAST({token_count_sql('text', 'spark')} AS BIGINT)) AS s"
    ).first()["s"]
    assert pdf.n_tokens.sum() == total_tok
    assert pdf.n_docs.sum() == docs.count()
    assert list(pdf.chunk_id) == list(range(len(pdf)))
    # every chunk starts a doc whose offset lies in [k*L, (k+1)*L): a
    # chunk's docs span at least the gap to the next chunk start
    assert (pdf.n_tokens[:-1] > 0).all()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_shard" in plan and "Window" in plan
    # shards are monotone hash-range bins, so the packed layout is
    # INDEPENDENT of n_shards: resizing the cluster's parallelism knob
    # must never re-cut a single chunk (round-3 advice)
    for n_shards in (4, 64):
        alt = (
            PK.pack_chunks(docs, context_len=L, n_shards=n_shards)
            .toPandas().sort_values("chunk_id").reset_index(drop=True)
        )
        assert alt.equals(pdf), f"layout changed at n_shards={n_shards}"


def test_dataset_split_deterministic_and_partitions(spark):
    from geodata_spark.pipeline import packing as PK

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    a = PK.dataset_split(docs).groupBy("split").count().collect()
    b = PK.dataset_split(docs).groupBy("split").count().collect()
    da, db = ({r["split"]: r["count"] for r in x} for x in (a, b))
    assert da == db and set(da) == {"train", "val", "test"}
    n = sum(da.values())
    assert da["train"] / n > 0.7 and da["test"] / n < 0.2


def test_contamination_screen_planted(spark):
    """A corpus doc that copies a benchmark 3-gram must be flagged with
    the right overlap count; disjoint docs must not appear."""
    bench = spark.createDataFrame(
        [(100, "the secret eval answer is forty two")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "my model says the secret eval answer is something"),  # 3 shared 3-grams
            (2, "completely disjoint words here nothing shared"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.n_contaminated for r in DD.contamination_screen(corpus, bench, n=3).collect()}
    assert out == {1: 3}  # 'the secret eval','secret eval answer','eval answer is'


def test_redaction_patterns(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at Bob.smith+x@Sub.Example.org thanks"),
            (2, "call +1 (415) 555-0133 or 020 7946 0958 now"),
            (3, "no pii at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in TX.with_redaction(df).collect()}
    assert "<EMAIL>" in out[1].text_redacted and "@" not in out[1].text_redacted
    assert out[1].n_emails == 1 and out[1].n_phones == 0
    assert out[2].text_redacted.count("<PHONE>") == 2 and out[2].n_phones == 2
    assert out[3].text_redacted == "no pii at all"
    # counts come from pattern matches on the source, not placeholder
    # occurrences in the output: literal "<EMAIL>" in the source must
    # not inflate n_emails
    df2 = spark.createDataFrame(
        [(9, "the <EMAIL> placeholder doc, write a@b.co")], "doc_id long, text string"
    )
    r9 = TX.with_redaction(df2).collect()[0]
    assert r9.n_emails == 1 and r9.text_redacted.count("<EMAIL>") == 2


def test_media_dedup_survivor_struct_ordering(spark):
    """Survivor pick is lexicographic on the (doc_id, ref) PAIR — a
    genuine struct-min, correct for variable-width ids ('doc2' vs
    'doc10') and refs containing the old '|' separator (ADVICE r4:
    the joined-string min got these wrong)."""
    from geodata_spark.pipeline.multimodal import media_exact_dedup

    rows = [
        ("doc2", "img|a", bytearray(b"same")),
        ("doc10", "img|z", bytearray(b"same")),
    ]
    df = spark.createDataFrame(rows, "doc_id string, media_ref string, payload binary")
    out = media_exact_dedup(df).collect()
    assert len(out) == 1
    # 'doc10' < 'doc2' lexicographically → doc10 survives with ITS ref
    assert out[0]["survivor_doc"] == "doc10"
    assert out[0]["survivor_ref"] == "img|z"
    assert out[0]["n_copies"] == 2


def test_connected_components_semantics(spark):
    """Chain, triangle, isolated pair: components labelled by smallest
    member; convergence raises past max_iter on a long path with an
    insufficient bound."""
    import pytest as _pytest

    from geodata_spark.pipeline.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain {1,2,3,4}
         (10, 11), (11, 12), (10, 12),  # triangle {10,11,12}
         (20, 21)],                     # pair {20,21}
        "id_a long, id_b long",
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    # a 12-node path needs more than 2 rounds on either path; max_iter=2
    # must refuse to return a half-converged labelling
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 111)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(path, max_iter=2)
    full = connected_components(path)
    assert {r["component"] for r in full.collect()} == {100}


def test_connected_components_semantics_distributed(spark, distributed_fixpoint):
    """The same pins on the distributed rounds."""
    test_connected_components_semantics(spark)


def test_cc_star_logarithmic_on_path(spark):
    """The star contraction converges on a 1000-node path in
    <= 2*log2(n) alternations (diameter-bound propagation would need
    ~999 rounds) — the O(log n) guarantee for pathological chains."""
    import math

    from geodata_spark.pipeline.dedup import connected_components

    n = 1000
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = connected_components(path, max_iter=25)
    rows = out.collect()
    assert len(rows) == n
    assert {r["component"] for r in rows} == {0}
    assert out._cc_rounds <= 2 * math.log2(n), out._cc_rounds


def test_cc_star_logarithmic_on_path_distributed(spark, distributed_fixpoint):
    """The same pins on the distributed rounds."""
    test_cc_star_logarithmic_on_path(spark)


def _union_find_labels(edges):
    """Smallest member of each node's component, by union-find."""
    parent = {}

    def find(a):
        parent.setdefault(a, a)
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {a: find(a) for a in parent}


def test_cc_star_equals_union_find_random(spark, monkeypatch):
    """connected_components labels a random graph (150 nodes, 120
    edges, mixed components) as union-find does, on both paths."""
    import numpy as np

    from geodata_spark import fixpoint
    from geodata_spark.pipeline.dedup import connected_components

    rng = np.random.default_rng(17)
    e = [(int(a), int(b)) for a, b in rng.integers(0, 150, size=(120, 2)) if a != b]
    pairs = spark.createDataFrame(e, "id_a long, id_b long")
    want = _union_find_labels(e)
    for bound in (fixpoint.LOCAL_MAX_ROWS, 0):
        monkeypatch.setattr(fixpoint, "LOCAL_MAX_ROWS", bound)
        got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
        assert got == want, bound


def test_tfidf_top_terms_semantics(spark):
    """Rare terms outrank common ones; per-doc ranking deterministic
    (score desc, term asc); top_k bounds output."""
    from geodata_spark.pipeline.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [("d1", "apple banana banana common common"),
         ("d2", "common cherry"),
         ("d3", "common common durian")],
        "doc_id string, text string",
    )
    rows = tfidf_top_terms(docs, top_k=2).collect()
    top = {r["doc_id"]: [] for r in rows}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["rnk"])):
        top[r["doc_id"]].append(r["term"])
    # 'common' appears in all 3 docs → idf ratio (3+1)/(3+1) = 1.0;
    # doc-unique terms carry ratio (3+1)/(1+1) = 2.0
    # d2: cherry 1*2.0 = 2.0 beats common 1*1.0 = 1.0
    assert top["d2"] == ["cherry", "common"]
    # d3: common tf=2 → 2.0 TIES durian 1*2.0 → term-asc breaks it
    assert top["d3"] == ["common", "durian"]
    # d1: banana 2*2.0 = 4.0, then the apple/common 2.0 tie term-asc
    assert top["d1"] == ["banana", "apple"]
    assert all(r["rnk"] <= 2 for r in rows)


def test_chunk_docs_edges_and_overlap(spark):
    from geodata_spark.pipeline import packing as PK

    rows = [
        (1, "a" * 10),           # shorter than width: one chunk
        (2, "x" * 200),          # exactly width: chunks at 1 and 151
        (3, ""),                 # empty doc: one empty chunk, not dropped
        (4, "ab" * 175),         # 350 chars: starts 1, 151, 301
        (5, None),               # NULL text filtered, no explode blowup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = PK.chunk_docs(df, width=200, stride=150)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1, 2, 3, 4}
    assert len(by_doc[1]) == 1 and by_doc[1][0].chunk == "a" * 10
    assert [c.start for c in sorted(by_doc[2], key=lambda c: c.start)] == [1, 151]
    assert by_doc[3][0].chunk == "" and by_doc[3][0].chunk_len == 0
    c4 = sorted(by_doc[4], key=lambda c: c.start)
    assert [c.start for c in c4] == [1, 151, 301]
    assert [c.chunk_idx for c in c4] == [0, 1, 2]
    # overlap invariant: chunk i's last (width - stride) chars prefix
    # chunk i+1 (both read the same source bytes)
    for a, b in zip(c4, c4[1:]):
        assert a.chunk[150:] == b.chunk[: len(a.chunk) - 150]
    # reconstruction: stride-prefixes concatenated + last chunk == doc
    text4 = "ab" * 175
    rebuilt = "".join(c.chunk[:150] for c in c4[:-1]) + c4[-1].chunk
    assert rebuilt == text4


def test_top_bigrams_semantics_and_plan(spark):
    rows = [
        (1, "the cat sat"),            # "the cat", "cat sat"
        (2, "THE cat!"),               # normalizes to "the cat"
        (3, "single"),                 # no bigram
        (4, ""),                       # no tokens
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = TX.top_bigrams(df, top_k=10)
    got = {(r.bigram, r.n) for r in out.collect()}
    assert got == {("the cat", 2), ("cat sat", 1)}
    # scale shape: global top-k must plan as TakeOrderedAndProject,
    # never a single-partition rank window
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_repetition_stats_semantics(spark):
    rows = [
        # "a a a b": words 4/dist 2 -> rep 0.5; top word "a" cnt 3,
        # len 1 -> 3/7 of text; bigrams [a a, a a, a b]: 3/dist 2 ->
        # dup 1/3; top "a a" cnt 2, len 3 -> 6/7
        (1, "a a a b"),
        (2, "unique words only here"),   # rep 0, dup 0
        (3, "solo"),                      # 1 token: bigram side NULL
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in TX.repetition_stats(df).collect()}
    r1 = out[1]
    assert (r1.n_words, r1.n_dist_words) == (4, 2)
    assert r1.rep_word_frac == 0.5
    assert r1.top_word == "a" and r1.top_word_frac == 3 / 7
    assert (r1.n_bigrams, r1.n_dist_bigrams) == (3, 2)
    assert r1.dup_bigram_frac == 1 / 3
    assert r1.top_bigram == "a a" and r1.top_bigram_frac == 6 / 7
    r2 = out[2]
    assert r2.rep_word_frac == 0.0 and r2.dup_bigram_frac == 0.0
    # tie at cnt=1 everywhere -> lexicographically first gram wins
    assert r2.top_word == min("unique words only here".split())
    r3 = out[3]
    assert r3.n_words == 1 and r3.n_bigrams is None and r3.top_bigram is None


def test_unigram_logprob_uniform_and_weighted(spark):
    import math

    # corpus: 4 'x', 4 'y' -> p = 0.5 each; doc 1 all-x, doc 2 mixed
    df = spark.createDataFrame(
        [(1, "x x x y"), (2, "y y y x")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in TX.unigram_logprob(df).collect()}
    for d in (1, 2):
        assert out[d].n_tokens == 4
        assert out[d].avg_ln_p == round(math.log(0.5), 6)
        assert out[d].bits == 4.0           # 1 bit/token, exact in log2
    # rare token drags the score down
    df2 = spark.createDataFrame(
        [(1, "common common common"), (2, "common common rare")],
        "doc_id long, text string",
    )
    out2 = {r.doc_id: r for r in TX.unigram_logprob(df2).collect()}
    assert out2[2].avg_ln_p < out2[1].avg_ln_p
    assert out2[1].avg_ln_p == round(math.log(5 / 6), 6)


def test_mixture_sample_rates_and_determinism(spark):
    from geodata_spark.pipeline import packing as PK

    rows = []
    # en: 100 docs x 100 chars = 10_000; de: 50 x 100 = 5_000
    for i in range(100):
        rows.append((i, "en", 100))
    for i in range(50):
        rows.append((1000 + i, "de", 100))
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    # budget 6000, weights en 50 / de 50 -> target 3000 chars each:
    # rate_en = 6000*50 // 10000 = 30, rate_de = 6000*50 // 5000 = 60
    kept = PK.mixture_sample(df, {"en": 50, "de": 50}, budget_chars=6000)
    out = kept.groupBy("lang").count().collect()
    rates = {r.lang: r for r in kept.select("lang", "rate_pct").distinct().collect()}
    assert rates["en"].rate_pct == 30 and rates["de"].rate_pct == 60
    # hash gate keeps roughly rate% (md5 uniformity on 100/50 ids)
    cnt = {r.lang: r["count"] for r in out}
    assert 15 <= cnt["en"] <= 45 and 15 <= cnt["de"] <= 45
    # saturation: tiny domain requested a big share -> capped at 100
    df2 = spark.createDataFrame(
        [(1, "rare", 10), (2, "rare", 10)], "doc_id long, lang string, n_chars long"
    )
    kept2 = PK.mixture_sample(df2, {"rare": 100}, budget_chars=10**6)
    assert kept2.count() == 2 and kept2.select("rate_pct").first().rate_pct == 100
    # determinism: same call keeps the identical doc set
    ids1 = sorted(r.doc_id for r in kept.select("doc_id").collect())
    ids2 = sorted(r.doc_id for r in PK.mixture_sample(
        df, {"en": 50, "de": 50}, budget_chars=6000
    ).select("doc_id").collect())
    assert ids1 == ids2


def test_boilerplate_screen_planted(spark):
    footer = "this footer appears on every page here"  # 7 tokens -> 3 5-shingles
    rows = [
        (1, "alpha beta gamma delta epsilon " + footer),
        (2, "one two three four five six " + footer),
        (3, "totally different body text with nothing shared " + footer),
        (4, "unique document with no shared content at all whatsoever"),
        (5, "tiny doc"),                      # <5 tokens: no shingles, absent
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in DD.boilerplate_screen(df, n=5, min_docs=3).collect()}
    assert set(out) == {1, 2, 3, 4}
    # the footer's fully-internal 5-shingles appear in all 3 docs
    assert out[4].n_boiler == 0 and out[4].boiler_frac == 0.0
    for d in (1, 2, 3):
        assert out[d].n_boiler >= 3, d
        assert 0 < out[d].boiler_frac < 1
    # doc 1: 12 tokens -> 8 shingles; exactly the 3 footer-internal ones hot
    assert out[1].n_shingles == 8 and out[1].n_boiler == 3
    assert out[1].boiler_frac == 3 / 8


def test_kmeans_lloyd_determinism_and_blob_recovery(spark, vecs):
    """Determinism (bit-identical re-run), Lloyd improvement over the
    init assignment, and EXACT recovery of well-separated planted
    blobs (the driver embeddings' labels are near-noise — same-label
    mean cosine 0.02 — so recovery is tested on a separable set)."""
    out = SIM.kmeans_lloyd(vecs, k=10, iters=4).toPandas()
    out2 = SIM.kmeans_lloyd(vecs, k=10, iters=4).toPandas()
    a = out.sort_values("id").reset_index(drop=True)
    b = out2.sort_values("id").reset_index(drop=True)
    assert (a.cluster == b.cluster).all() and (a.d2_r6 == b.d2_r6).all()
    # quality: mean within-cluster distance beats the 1-round baseline
    base = SIM.kmeans_lloyd(vecs, k=10, iters=1).toPandas()
    assert out.d2_r6.mean() < base.d2_r6.mean()
    # planted blobs: 3 tight clusters at distance >> radius -> perfect
    # recovery regardless of the naive first-k init
    rng = np.random.RandomState(5)
    centers = np.array([[10.0, 0, 0, 0], [0, 10.0, 0, 0], [0, 0, 10.0, 0]])
    rows = []
    for i in range(90):
        c = i % 3
        v = centers[c] + rng.uniform(-0.5, 0.5, 4)
        rows.append((i, [float(x) for x in np.round(v, 4)], c))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = SIM.kmeans_lloyd(df, k=3, iters=4).toPandas().merge(
        df.select("vec_id", "label").toPandas(), left_on="id", right_on="vec_id"
    )
    # one-to-one cluster<->label mapping, zero impurity
    tab = got.groupby(["cluster", "label"]).size().unstack(fill_value=0)
    assert (tab.gt(0).sum(axis=1) == 1).all()
    assert tab.to_numpy().sum() == 90


def test_cc_star_keeps_self_pair_only_nodes(spark, monkeypatch):
    """Regression: a node appearing only in reflexive pairs must label
    itself on BOTH paths (star used to drop it)."""
    from geodata_spark import fixpoint

    pairs = spark.createDataFrame(
        [(5, 5), (1, 2), (2, 3)], "id_a long, id_b long"
    )
    for bound in (fixpoint.LOCAL_MAX_ROWS, 0):
        monkeypatch.setattr(fixpoint, "LOCAL_MAX_ROWS", bound)
        out = {r.node: r.component
               for r in DD.connected_components(pairs).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 5: 5}, bound


def test_pq_train_encode_codes_match_subspace_kmeans(spark, vecs):
    """PQ codes are exactly the per-subspace deterministic Lloyd
    assignments, and the returned codebooks are the centroids the
    final assignment used (re-deriving the assignment from the books
    reproduces every code)."""
    m, ksub, iters = 4, 4, 2
    codes, books = SIM.pq_train_encode(vecs, m=m, ksub=ksub, iters=iters)
    pdf = codes.toPandas().sort_values("id").reset_index(drop=True)
    assert len(books) == m and all(len(b) == ksub for b in books)

    emb = vecs.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    X = np.stack([np.asarray(v, dtype=np.float64) for v in emb.embedding])
    dsub = X.shape[1] // m
    code_arr = np.stack(pdf.codes.to_numpy())
    for j in range(m):
        sub = vecs.select(
            "vec_id", F.slice("embedding", j * dsub + 1, dsub).alias("embedding")
        )
        km = SIM.kmeans_lloyd(sub, k=ksub, iters=iters).toPandas().sort_values(
            "id"
        )
        assert (km.cluster.to_numpy() == code_arr[:, j]).all(), j
        # numpy re-assignment from the returned books: same argmin
        # under the 6-dp distance rounding + index tie-break
        cb = np.asarray(books[j])
        d2 = np.round(
            ((X[:, j * dsub:(j + 1) * dsub, None] - cb.T[None]) ** 2).sum(1), 6
        )
        want = np.argmin(d2, axis=1)  # ties -> first index, like the
        # Spark array_min((d, j)) struct order
        assert (want == code_arr[:, j]).all(), j


def test_pq_topk_adc_numpy_twin(spark, vecs):
    """ADC top-5 equals a numpy rescoring of the same codes+books
    (per-term 6-dp rounding, score-desc/vec_id-asc total order)."""
    m, ksub = 4, 4
    codes, books = SIM.pq_train_encode(vecs, m=m, ksub=ksub, iters=2)
    queries = vecs.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got = SIM.pq_topk(codes, books, queries, k=5).toPandas()
    assert set(got.columns) == {"query_id", "rank", "vec_id", "adc_r6"}
    assert (got.groupby("query_id").size() == 5).all()

    emb = vecs.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    X = np.stack([np.asarray(v, dtype=np.float64) for v in emb.embedding])
    ids = emb.vec_id.to_numpy()
    dsub = X.shape[1] // m
    cmap = dict(zip(codes.toPandas().id, codes.toPandas().codes))
    for qid in range(4):
        q = X[ids == qid][0]
        scores = {}
        for vid in ids:
            if vid == qid:
                continue
            s = 0.0
            for j in range(m):
                cent = np.asarray(books[j][cmap[vid][j]])
                s += np.round(float(q[j * dsub:(j + 1) * dsub] @ cent), 6)
            scores[int(vid)] = s
        want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        sub = got[got.query_id == qid].sort_values("rank")
        assert list(sub.vec_id) == [w[0] for w in want], qid
        np.testing.assert_allclose(
            sub.adc_r6.to_numpy(), [w[1] for w in want], atol=2e-6
        )


def test_pq_topk_refined_numpy_twin(spark, vecs):
    """Refined PQ equals numpy: ADC-shortlist the same codes+books,
    then exact-dot re-rank ONLY the shortlist (score-desc/vec_id-asc
    order) — and a large-enough shortlist reproduces brute force."""
    m, ksub, shortlist, k = 4, 4, 12, 5
    codes, books = SIM.pq_train_encode(vecs, m=m, ksub=ksub, iters=2)
    queries = vecs.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got = SIM.pq_topk_refined(codes, books, vecs, queries,
                              k=k, shortlist=shortlist).toPandas()
    assert set(got.columns) == {"query_id", "rank", "vec_id", "dot_r6"}
    assert (got.groupby("query_id").size() == k).all()

    emb = vecs.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    X = np.stack([np.asarray(v, dtype=np.float64) for v in emb.embedding])
    ids = emb.vec_id.to_numpy()
    dsub = X.shape[1] // m
    cpdf = codes.toPandas()
    cmap = dict(zip(cpdf.id, cpdf.codes))
    for qid in range(4):
        q = X[ids == qid][0]
        adc = {}
        for vid in ids:
            if vid == qid:
                continue
            s = 0.0
            for j in range(m):
                cent = np.asarray(books[j][cmap[vid][j]])
                s += np.round(float(q[j * dsub:(j + 1) * dsub] @ cent), 6)
            adc[int(vid)] = s
        short = [v for v, _ in sorted(adc.items(),
                                      key=lambda kv: (-kv[1], kv[0]))[:shortlist]]
        exact = {v: np.round(float(q @ X[ids == v][0]), 6) for v in short}
        want = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        sub = got[got.query_id == qid].sort_values("rank")
        assert list(sub.vec_id) == [w[0] for w in want], qid
        np.testing.assert_allclose(
            sub.dot_r6.to_numpy(), [w[1] for w in want], atol=2e-6
        )


def test_bloom_contamination_screen_python_twin(spark, docs):
    """The Bloom screen vs a hashlib.md5 recompute: identical bit
    positions (Catalyst conv(substr(md5)) == hashlib), zero false
    negatives by construction, n_exact <= n_bloom <= n_shingles, and
    the per-doc Bloom-hit counts match the python bitset exactly."""
    import hashlib

    m_bits, k = 1024, 3  # small filter so false positives actually occur
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    got = {
        r.doc_id: (r.n_shingles, r.n_bloom_hits, r.n_exact_hits)
        for r in DD.bloom_contamination_screen(
            corpus, bench, n=3, m_bits=m_bits, k_hashes=k
        ).collect()
    }

    def positions(sh: str) -> list[int]:
        h = hashlib.md5(sh.encode()).hexdigest()
        return [int(h[8 * j:8 * j + 8], 16) & (m_bits - 1) for j in range(k)]

    bench_sh = {r.shingle for r in DD.with_shingles(bench).collect()}
    bits = {p for s in bench_sh for p in positions(s)}
    corpus_sh: dict[int, set] = {}
    for r in DD.with_shingles(corpus).collect():
        corpus_sh.setdefault(r.id, set()).add(r.shingle)

    saw_fp_shingle = False
    for did, shs in corpus_sh.items():
        bloom = {s for s in shs if all(p in bits for p in positions(s))}
        exact = shs & bench_sh
        assert exact <= bloom  # a Bloom filter cannot false-negative
        saw_fp_shingle = saw_fp_shingle or bool(bloom - exact)
        if bloom:
            assert got[did] == (len(shs), len(bloom), len(exact)), did
        else:
            assert did not in got
    assert saw_fp_shingle  # the small filter really exercised FPs


def test_ivfpq_topk_composition(spark, vecs):
    """IVF·PQ·refine: structure (k rows per query, rank 1..k, no
    self-match), the refine scores are EXACT cosines (match brute
    force on the same ids), and with a full probe + generous
    shortlist the composition reproduces brute force exactly."""
    dim = len(vecs.select("embedding").first()[0])
    n_cells, k = 4, 5
    cents = SIM.ivf_centroids(vecs, n_cells)
    assigned = SIM.ivf_assign(vecs, cents)
    codes, books = SIM.pq_train_encode(vecs, m=4, ksub=4, iters=2)
    queries = vecs.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    n = vecs.count()
    out = SIM.ivfpq_topk(assigned, codes, books, cents, vecs, queries,
                         n_probe=n_cells, k=k, shortlist=n).toPandas()
    assert (out.groupby("query_id").size() == k).all()
    assert (out.query_id != out.vec_id).all()
    brute = SIM.brute_force_topk(vecs, queries, k=k).toPandas()
    for q in range(4):
        got = out[out.query_id == q].sort_values("rank")
        want = brute[brute.query_id == q].sort_values("rank")
        # full probe + full shortlist == exact brute force
        assert list(got.vec_id) == list(want.vec_id), q
        np.testing.assert_allclose(got.cosine_r6.to_numpy(),
                                   want.cosine_r6.to_numpy(), atol=0)
    # restricted probe still returns k structurally-valid rows
    part = SIM.ivfpq_topk(assigned, codes, books, cents, vecs, queries,
                          n_probe=2, k=k, shortlist=20).toPandas()
    assert (part.groupby("query_id").size() == k).all()


def test_bigram_logprob_python_twin(spark):
    """Bigram LM score vs a python recompute (same add-0.5 smoothing,
    history = bigram-start counts), and the semantic point: a doc
    reusing the corpus's common bigram outscores a shuffled word
    salad with the identical unigram profile."""
    import math
    from collections import Counter

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the mat again"),
        (3, "mat the on sat cat the"),   # same unigrams as doc 1, shuffled
        (4, "zebra"),                     # no bigrams -> no output row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in TX.bigram_logprob(df).collect()}
    assert 4 not in got

    docs = {i: t.split() for i, t, in rows}
    pairs = [(w1, w2) for t in docs.values() for w1, w2 in zip(t, t[1:])]
    bi = Counter(pairs)
    hist = Counter(w1 for w1, _ in pairs)
    vocab = len({w for t in docs.values() for w in t})
    for i, t in docs.items():
        ps = list(zip(t, t[1:]))
        if not ps:
            continue
        s = sum(math.log((bi[p] + 0.5) / (hist[p[0]] + 0.5 * vocab))
                for p in ps)
        assert got[i].n_bigrams == len(ps)
        assert abs(got[i].avg_ln_p2 - round(s / len(ps), 6)) < 2e-6, i
    assert got[1].avg_ln_p2 > got[3].avg_ln_p2  # salad scores lower


def test_dedup_apply_invariants(spark, docs):
    """The apply stage keeps exactly one survivor per cluster plus all
    singletons: survivors are their clusters' min ids, kept + removed
    == corpus, and cluster sizes reconcile with the clustering."""
    from geodata_spark.queries import q_dedup_apply

    base = docs.limit(30).select("doc_id", "text")
    planted = base.limit(3).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat("text", F.lit(" tail")).alias("text"),
    )
    corpus = base.unionByName(planted)
    import os
    import tempfile
    d = tempfile.mkdtemp()
    corpus.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    kept = {r.doc_id: r.cluster_size for r in q_dedup_apply(spark, d).collect()}
    pairs = DD.minhash_dedup(corpus.withColumn("doc_id", F.col("doc_id").cast("long")),
                             threshold=0.3)
    comp = {r.node: r.component for r in DD.connected_components(pairs).collect()}
    n_corpus = corpus.count()
    clustered = set(comp)
    from collections import Counter
    csize = Counter(comp.values())
    # every kept clustered doc is its cluster's min id with the right size
    for did, size in kept.items():
        if did in clustered:
            assert comp[did] == did and csize[did] == size, did
        else:
            assert size == 1, did
    # one survivor per component + all singletons, nothing else
    assert len(kept) == len(csize) + (n_corpus - len(clustered))
    assert set(csize) <= set(kept)


def test_pq_topk_plan_repartitions_before_fanout(spark, vecs):
    """Scale-shape pin for the round-7 finding: the compressed code
    table's scan gets ~1 input split, so pq_topk MUST repartition it
    to session parallelism before the broadcast fan-out (without it
    the 25.6M-row sort ran serially — 75s vs 3.6s at 100k x 256).
    The plan must show a round-robin Exchange under the fan-out join
    and no shuffle of the fan-out output other than the window's
    hash partitioning."""
    codes, books = SIM.pq_train_encode(vecs, m=4, ksub=4, iters=2)
    queries = vecs.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    plan = SIM.pq_topk(codes, books, queries, k=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "RoundRobinPartitioning" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # the window only


def test_normalize_single_pass_equivalence(spark):
    """The r8 single-regex Spark normalize equals the historical
    two-pass form (still used verbatim by the DuckDB oracle dialect)
    on every tricky input class: runs of mixed punctuation/whitespace,
    tabs/newlines, leading/trailing junk, unicode, digits, empties."""
    cases = [
        "", " ", "\t\n", "a", "A.B", "a..b", "a. \t.b", "  Hello,  WORLD!! ",
        "w1  w2\tw3\nw4", "--x--", "café naïve", "a-b_c.d",
        "1,234.56", "...", "A  B   C", "中文 mixed TEXT 42",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "t string")
    two_pass = (
        "trim(regexp_replace(regexp_replace(lower(t), '[^a-z0-9 ]', ' '), "
        "'\\\\s+', ' '))"
    )
    out = df.select(
        F.expr(TX.normalize_sql("t", "spark")).alias("fast"),
        F.expr(two_pass).alias("slow"),
    ).collect()
    for r in out:
        assert r.fast == r.slow, (r.fast, r.slow)


def test_bloom_screen_rejects_k_hashes_over_4(docs):
    with pytest.raises(ValueError, match="k_hashes"):
        DD.bloom_contamination_screen(docs, docs.limit(5), k_hashes=5)
