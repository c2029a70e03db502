"""Deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding.

Scale shapes:

- **exact** — one hash aggregation on the normalized-text digest.
- **n-gram Jaccard** — shingle-inverted-index self-join (pairs share
  ≥1 shingle → candidate), then set-overlap ratio; never a cross join.
  Ultra-frequent shingles are dropped first (``max_shingle_freq``):
  a shingle appearing in f docs contributes O(f²) candidate pairs, so
  a handful of stop-shingles ("in the of") would dominate the join at
  web scale.
- **MinHash+LSH** — K hash-min signature per doc (all Catalyst
  expressions: per-seed hash + ``min`` aggregations), banded into
  b buckets of r rows; candidate pairs only within a bucket.
- **SimHash** — 60-bit sign-aggregate of token hashes, computed as
  pure Catalyst sign-sum aggregations (one hash agg, no collect_list,
  no Python) and bit-packed with literal powers of two.
- **embedding near-dup** — cosine over candidate pairs from
  random-hyperplane buckets (similarity.py).

One hash, ``md5_60``: the top 60 bits of
``md5(x || ':' || seed)`` as a non-negative integer.  DuckDB reproduces
it bit for bit (:func:`hash60_sql`, :func:`mh_base32_sql`), so the
*entire* LSH pipeline (signatures → bands → candidates → verified
pairs), SimHash and the packing/sampling operators of
``pipeline.packing`` are SQL-oracle-checkable.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geodata_spark import fixpoint as fp
from geodata_spark.fixpoint import fixpoint, min_label_rounds
from geodata_spark.pipeline.text import normalize_sql


# ---------------------------------------------------------------------------
# hash primitives
# ---------------------------------------------------------------------------

def hash60(col: Column, seed: int) -> Column:
    """Seeded integer hash of a string column: the top 60 bits of
    md5(col || ':' || seed) — identical arithmetic exists in DuckDB
    (``('0x' || substr(md5(..),1,15))::BIGINT``), so oracle queries are
    bit-reproducible. Non-negative by construction.
    """
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", col, F.lit(str(seed)))), 1, 15), 16, 10
    ).cast("long")


def hash60_sql(expr: str, seed: int) -> str:
    """DuckDB twin of :func:`hash60`."""
    return f"CAST(('0x' || substr(md5({expr} || ':{seed}'), 1, 15)) AS BIGINT)"


# bit width of every :func:`hash60` value
HASH_BITS = 60


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Clusters of byte-identical (after normalization) documents.

    Output: (fingerprint, cluster_size, survivor_id) — survivor = min id.
    """
    fp = F.expr(f"md5({normalize_sql(text_col, 'spark')})")
    return (
        docs.withColumn("fingerprint", fp)
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cluster_size"),
            F.min(id_col).alias("survivor_id"),
        )
    )


def contamination_screen(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-decontamination screen: flag corpus documents sharing
    any word n-gram with a benchmark/eval set.

    The standard pretraining hygiene step (strip eval-set overlap from
    training data).  Plan shape: benchmark shingles are DISTINCT and
    **broadcast** (eval sets are tiny vs the corpus), so the corpus
    shingle table never shuffles — one scan, map-side semi-join, one
    aggregation.  Output: (doc_id, n_contaminated) for corpus docs with
    ≥1 overlapping shingle.
    """
    corpus_sh = with_shingles(docs, n, id_col, text_col)
    bench_sh = with_shingles(benchmark, n, id_col, text_col).select("shingle").distinct()
    hits = corpus_sh.join(F.broadcast(bench_sh), "shingle")
    return hits.groupBy(F.col("id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )


def bloom_contamination_screen(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    m_bits: int = 16384,
    k_hashes: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Two-phase benchmark decontamination with a Bloom-filter screen:
    the eval set's shingles are folded into an ``m_bits`` bitset
    (``k_hashes`` md5-hex-slice positions per shingle — the md5_60
    family, so DuckDB derives identical bits), the bitset enters the
    corpus scan as a LITERAL long array, and only the shingles that
    pass the screen take the exact broadcast join.

    Why a Bloom screen when :func:`contamination_screen` broadcasts
    the shingles themselves: at 100 TB the eval union (every benchmark
    ever published) is tens of millions of shingles — a multi-GB
    broadcast hash relation — while the bitset is m/8 bytes flat
    (2 MiB at m=2²⁴) and the membership test is k AND-ed bit probes in
    whole-stage codegen, no join node at all for the clean 99%+ of
    shingles.  False positives cost only a wasted exact probe; false
    negatives are impossible, so the final flags are exact.

    Output per corpus doc with ≥1 Bloom hit: (doc_id, n_shingles,
    n_bloom_hits, n_exact_hits) — rows with n_exact_hits = 0 are the
    measured false-positive docs, part of the contract (they prove
    the screen's math and measure its FP rate in production).
    """
    if m_bits & (m_bits - 1):
        raise ValueError("m_bits must be a power of two")
    if not 1 <= k_hashes <= 4:
        # 4 non-overlapping 8-hex-char slices exhaust the 32-char md5;
        # slice 5 would read past it — substring yields '' and conv()
        # returns NULL positions in Spark while the DuckDB twin errors,
        # a silent cross-engine divergence (ADVICE r7)
        raise ValueError("k_hashes must be 1..4 (md5 has four 8-hex slices)")
    corpus_sh = with_shingles(docs, n, id_col, text_col)
    bench_sh = with_shingles(benchmark, n, id_col, text_col) \
        .select("shingle").distinct()

    def positions(col: Column) -> list[Column]:
        return [
            F.conv(F.substring(F.md5(col), 1 + 8 * h, 8), 16, 10)
            .cast("long").bitwiseAND(F.lit(m_bits - 1))
            for h in range(k_hashes)
        ]

    # eval-set bits: k positions per DISTINCT bench shingle, computed
    # by the SAME Catalyst expressions as the corpus probe, collected
    # and packed driver-side into m/64 long words.  The collect is
    # bounded by the bitset, not the eval set: distinct positions in
    # [0, m_bits), so at most m_bits rows
    with fp.job_description(benchmark.sparkSession, "bloom_contamination_screen: eval-set bits"):
        bits = [
            r["b"]
            for r in bench_sh.select(
                F.explode(F.array(*positions(F.col("shingle")))).alias("b")
            ).distinct().collect()
        ]
    words = [0] * (m_bits // 64)
    for b in bits:
        words[b >> 6] |= 1 << (b & 63)
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]  # java long
    warr = F.array(*[F.lit(w).cast("long") for w in words])
    pow2 = F.array(*[
        F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long")
        for i in range(64)
    ])

    hit = None
    for p in positions(F.col("shingle")):
        word = F.element_at(warr, (F.floor(p / 64) + 1).cast("int"))
        mask = F.element_at(pow2, (p.bitwiseAND(F.lit(63)) + 1).cast("int"))
        probe = word.bitwiseAND(mask) != 0
        hit = probe if hit is None else hit & probe

    screened = corpus_sh.withColumn("bloom_hit", hit)
    per_doc = screened.groupBy(F.col("id").alias(id_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum(F.col("bloom_hit").cast("long")).alias("n_bloom_hits"),
    )
    exact = (
        screened.filter("bloom_hit")
        .join(F.broadcast(bench_sh), "shingle")
        .groupBy(F.col("id").alias(id_col))
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact_hits"))
    )
    return (
        per_doc.join(exact, id_col, "left")
        .fillna({"n_exact_hits": 0})
        .filter(F.col("n_bloom_hits") > 0)
    )


def bloom_contamination_sql(
    m_bits: int = 16384,
    k_hashes: int = 3,
    bench_filter: str = "id % 97 = 0",
) -> str:
    """DuckDB twin of :func:`bloom_contamination_screen`: the bitset
    test is re-expressed as membership of each md5-slice position in
    the DISTINCT eval-position set — semantically identical to the bit
    probe (a bit is set iff some eval shingle hashed to it)."""

    def pos(h: int) -> str:
        return (f"(CAST(('0x' || substr(md5(shingle), {1 + 8 * h}, 8)) "
                f"AS BIGINT) & {m_bits - 1})")

    probe = " AND ".join(
        f"{pos(h)} IN (SELECT b FROM bpos)" for h in range(k_hashes)
    )
    unnest = ", ".join(pos(h) for h in range(k_hashes))
    return f"""
WITH {shingles_cte()},
bench AS (SELECT DISTINCT shingle FROM sh WHERE {bench_filter}),
bpos AS (SELECT DISTINCT unnest([{unnest}]) AS b FROM bench),
cpos AS MATERIALIZED (
  -- MATERIALIZED: cpos is consumed twice (agg1 + ex); DuckDB's
  -- default CTE inlining duplicates the IN-subqueries and trips an
  -- internal binder assertion ("Failed to bind column reference
  -- SUBQUERY") — materializing evaluates the probes once
  SELECT id, shingle, ({probe}) AS bloom_hit
  FROM sh WHERE NOT ({bench_filter})
),
agg1 AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bloom_hits
  FROM cpos GROUP BY id
),
ex AS (
  SELECT c.id, CAST(count(*) AS BIGINT) AS n_exact_hits
  FROM cpos c JOIN bench USING (shingle)
  WHERE c.bloom_hit GROUP BY c.id
)
SELECT a.id AS doc_id, a.n_shingles, a.n_bloom_hits,
       coalesce(e.n_exact_hits, CAST(0 AS BIGINT)) AS n_exact_hits
FROM agg1 a LEFT JOIN ex e USING (id)
WHERE a.n_bloom_hits > 0
"""


# ---------------------------------------------------------------------------
# shingles + Jaccard
# ---------------------------------------------------------------------------

def with_shingles(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
                  text_col: str = "text",
                  max_shingle_freq: int | None = None) -> DataFrame:
    """Distinct word n-gram shingles, one row per (id, shingle).

    ``max_shingle_freq``: drop shingles appearing in more than this
    many documents (stop-shingle cap).  The hot set is tiny by
    definition, so the filter is a broadcast anti-join — no extra
    shuffle of the shingle table.
    """
    # project the token array as a REAL column first: inlined, the
    # split(regexp_replace(regexp_replace(...))) tree is referenced by
    # the size() guards and by every transform() iteration, and
    # CollapseProject will not deduplicate it inside the lambda — the
    # normalize regexes then re-execute per shingle INDEX, O(L²) regex
    # work per doc (measured 13x on the sf0.1 verify path)
    toks = F.col("_toks")
    base = docs.select(
        F.col(id_col).alias("id"),
        F.split(F.expr(normalize_sql(text_col, "spark")), " ").alias("_toks"),
    )
    idx = F.sequence(F.lit(0), F.size(toks) - n)

    def _mk_shingle(i: Column) -> Column:
        # concat of element_at lookups, not array_join(slice(...)):
        # slice allocates an n-element array per shingle index before
        # the join copies it again; direct indexed concat skips the
        # intermediate array entirely (measured 1.4x on the shingle
        # stage, r8; byte-identical output — split() never yields null
        # elements, so concat's null semantics cannot differ from
        # array_join's)
        parts: list[Column] = []
        for j in range(n):
            if j:
                parts.append(F.lit(" "))
            parts.append(F.element_at(toks, i + j + 1))
        return F.concat(*parts)

    sh = F.when(
        F.size(toks) >= n,
        F.transform(idx, _mk_shingle),
    ).otherwise(F.array().cast("array<string>"))
    out = (
        base.select("id", F.explode(F.array_distinct(sh)).alias("shingle"))
        .filter(F.length("shingle") > 0)
    )
    if max_shingle_freq is not None:
        hot = (
            out.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_f"))
            .filter(F.col("_f") > max_shingle_freq)
            .select("shingle")
        )
        out = out.join(F.broadcast(hot), "shingle", "left_anti")
    return out


def boilerplate_screen(
    docs: DataFrame,
    n: int = 5,
    min_docs: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Intra-corpus boilerplate detector: word n-gram shingles shared
    by ≥ ``min_docs`` DISTINCT documents are "boilerplate" (headers,
    footers, licence blocks, navigation chrome — the cross-document
    repetition :func:`~geodata_spark.pipeline.text.repetition_stats`
    cannot see because it is per-document); each document is scored by
    the fraction of its distinct shingles that are boilerplate.

    Plan shape: the (id, shingle) table is built once (distinct
    per-doc shingles); one shingle-keyed agg computes document
    frequency; the hot set (≥ min_docs) is SMALL by Zipf and
    broadcasts back — the corpus shingle table shuffles exactly once.
    ``boiler_frac`` is one IEEE division of exact integers ⇒ bit-exact
    oracle.
    """
    sh = with_shingles(docs, n, id_col, text_col)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("shingle", F.lit(1).alias("_hot"))
    )
    flagged = sh.join(F.broadcast(hot.select("shingle", "_hot")), "shingle", "left")
    return (
        flagged.groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hot"), F.lit(0))).cast("long").alias("n_boiler"),
        )
        .withColumn(
            "boiler_frac",
            F.col("n_boiler").cast("double") / F.col("n_shingles").cast("double"),
        )
    )


def _pair_jaccard(sh: DataFrame, cands: DataFrame | None, threshold: float) -> DataFrame:
    """Exact shingle Jaccard per pair; pairs restricted to ``cands``
    when given, else to the inverted-index candidates of ``sh``."""
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    if cands is None:
        inter = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        inter = (
            cands.join(a, "id_a")
            .join(b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.2,
                  id_col: str = "doc_id", text_col: str = "text",
                  max_shingle_freq: int | None = 1000) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold.

    Inverted-index join: candidates must share a shingle, so the join
    grain is (shingle → doc list), not doc × doc.  Jaccard is computed
    over the **capped** shingle universe (see :func:`with_shingles`);
    the default cap of 1000 bounds any single shingle's candidate
    contribution to ~10⁶ pairs regardless of corpus size.
    """
    sh = with_shingles(docs, n, id_col, text_col, max_shingle_freq)
    out = _pair_jaccard(sh, None, threshold)
    return out.select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# Carter-Wegman permutation family for MinHash: ONE base hash per
# shingle, then perm_j(h) = (a_j·h + b_j) mod p — the textbook
# (a·x + b) mod p universal family with deterministic per-slot
# constants.  Replaces the round-6 scheme (k SEPARATE seeded md5
# calls per shingle): at 100 TB the signature stage was k cryptographic
# hashes per shingle row; now it is one hash + k integer mul-add-mods
# in whole-stage codegen (measured 64x fewer md5 calls, ~20x wall on
# the sf0.1 verify path).  a_j·h + b_j < (p−1)·(2³²−1) + p < 2⁶³ — no
# ANSI overflow; identical arithmetic in DuckDB keeps oracles exact.
MH_PRIME = 2147483647  # 2^31 − 1


def mh_perm_consts(j: int) -> tuple[int, int]:
    """Deterministic (a_j, b_j) for permutation slot j (shared with the
    SQL twin via literal formatting; 1540483477 / 2246822519 are the
    public MurmurHash2 / xxHash32 prime constants)."""
    a = (1540483477 * (2 * j + 1)) % MH_PRIME
    b = (2246822519 * (j + 1)) % MH_PRIME
    return a, b


def _mh_base32(col: Column) -> Column:
    """32-bit non-negative base hash of a shingle (one call per row)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def mh_base32_sql(expr: str) -> str:
    """DuckDB twin of :func:`_mh_base32`."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


def minhash_signatures(docs: DataFrame, k: int = 64, n: int = 3,
                       id_col: str = "doc_id", text_col: str = "text",
                       max_shingle_freq: int | None = None) -> DataFrame:
    """K-permutation MinHash signature per doc — pure Catalyst.

    Permutation j = Carter-Wegman (a_j·h + b_j) mod p over one base
    hash h per shingle; signature[j] = min.  One explode + one hash
    aggregation with K min() columns.
    """
    sh = with_shingles(docs, n, id_col, text_col, max_shingle_freq)
    h = _mh_base32(F.col("shingle"))
    based = sh.select("id", h.alias("_h32"))
    mins = []
    for j in range(k):
        a, b = mh_perm_consts(j)
        mins.append(
            F.min((F.lit(a) * F.col("_h32") + F.lit(b)) % F.lit(MH_PRIME)).alias(f"h{j}")
        )
    agg = based.groupBy("id").agg(*mins)
    return agg.select("id", F.array(*[f"h{j}" for j in range(k)]).alias("signature"))


def _band_bucket(slots: list[Column]) -> Column:
    """Bucket id for one band: md5 of the band's signature slots as
    comma-joined decimal strings (the string form is engine-portable).
    """
    return F.md5(F.concat_ws(",", *[s.cast("string") for s in slots]))


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 16,
                        rows: int = 4) -> DataFrame:
    """Band the signature; docs sharing any band bucket are candidates."""
    assert bands * rows <= 1024
    banded = signatures.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _band_bucket(
                            [F.col("signature").getItem(b * rows + r) for r in range(rows)]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    a = banded.select(F.col("id").alias("id_a"), "band", "bucket")
    b = banded.select(F.col("id").alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup(docs: DataFrame, threshold: float = 0.5, k: int = 64,
                  bands: int = 16, rows: int = 4, n: int = 3,
                  id_col: str = "doc_id", text_col: str = "text",
                  max_shingle_freq: int | None = None) -> DataFrame:
    """LSH candidates verified by exact shingle Jaccard ≥ threshold.

    Scale shape: the candidate pair set is materialized ONCE
    (localCheckpoint — it is LSH-bounded and tiny relative to the
    corpus; without this, the three shingle-side branches of the
    verify join would each re-execute the full signature+band plan),
    and the verify stage re-shingles ONLY the documents that appear in
    some candidate pair (broadcast semi-join on the materialized pair
    ids) — at 100 TB the exact-Jaccard pass touches the ~0.1% of docs
    with an LSH collision, not the whole corpus.  With a stop-shingle
    cap the corpus-wide shingle frequencies are part of the semantics,
    so that path keeps the full-corpus shingle table.
    """
    sigs = minhash_signatures(docs, k, n, id_col, text_col, max_shingle_freq)
    cands = lsh_candidate_pairs(sigs, bands, rows).localCheckpoint()
    if max_shingle_freq is None:
        ids = (
            cands.select(F.col("id_a").alias(id_col))
            .unionByName(cands.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        verify_docs = docs.join(F.broadcast(ids), id_col)
    else:
        verify_docs = docs
    sh = with_shingles(verify_docs, n, id_col, text_col, max_shingle_freq)
    if max_shingle_freq is None:
        # the verify join reads the shingle table THREE times (sizes +
        # both pair sides); it is candidate-bounded (only docs with an
        # LSH collision), so materialize it once instead of running
        # normalize+shingle three times (lazy — the verify job itself
        # materializes it).  The capped path keeps the full-corpus
        # shingle table and stays a plain plan.
        sh = sh.localCheckpoint(eager=False)
    return _pair_jaccard(sh, cands, threshold).select("id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# SimHash — pure Catalyst sign-sum aggregation (no collect_list, no UDF)
# ---------------------------------------------------------------------------

def simhash(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """60-bit SimHash per document (token grain, multiplicities count).

    Per-bit votes are plain ``sum(CASE WHEN bit THEN 1 ELSE -1)`` hash
    aggregations (map-side partials apply — no per-doc token list is
    ever materialized), then bit-packed by summing distinct powers of
    two; the result is non-negative.
    """
    norm = F.expr(normalize_sql(text_col, "spark"))
    toks = F.explode(F.split(norm, " ")).alias("tok")
    th = (
        docs.select(F.col(id_col).alias("id"), toks)
        .filter(F.length("tok") > 0)
        .select("id", hash60(F.col("tok"), 0).alias("h"))
    )
    votes = th.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftrightunsigned(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(HASH_BITS)
        ]
    )
    terms = [
        F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        for b in range(HASH_BITS)
    ]
    packed = terms[0]
    for t in terms[1:]:
        packed = packed + t
    return votes.select("id", packed.cast("long").alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_neardup_pairs(docs: DataFrame, max_hamming: int = 8,
                          prefix_bits: int = 12, **kw) -> DataFrame:
    """Near-dup pairs by SimHash with prefix-bucket candidate pruning.

    Multi-probe on 4 rotated prefixes so a ≤max_hamming pair is caught
    unless all its differing bits fall in every probed prefix
    (recall knob; exact variant would use all C(64/k) blocks).
    """
    sh = simhash(docs, **kw)
    probes = []
    for p in range(4):
        rot = F.shiftrightunsigned(F.col("simhash"), p * 16)
        probes.append(
            sh.select(
                "id", "simhash",
                F.lit(p).alias("probe"),
                F.pmod(rot, F.lit(1 << prefix_bits)).alias("bucket"),
            )
        )
    banded = probes[0]
    for p in probes[1:]:
        banded = banded.unionByName(p)
    a = banded.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "probe", "bucket")
    b = banded.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "probe", "bucket")
    return (
        a.join(b, ["probe", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming64(F.col("sh_a"), F.col("sh_b")).cast("long").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twins — generated to mirror the pipelines
# ---------------------------------------------------------------------------

def shingles_cte(doc_filter: str = "TRUE", n: int = 3) -> str:
    """DuckDB CTE body producing ``sh(id, shingle)`` — twin of
    :func:`with_shingles` (n=3 word shingles over normalized text)."""
    assert n == 3, "SQL twin is generated for n=3"
    return f"""
d AS (
  SELECT doc_id AS id, {normalize_sql('text', 'duckdb')} AS norm
  FROM documents WHERE {doc_filter}
),
tl AS (
  SELECT id, string_split(norm, ' ') AS t FROM d
),
sh AS (
  SELECT DISTINCT id, shingle FROM (
    SELECT id,
           unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM tl
  )
  WHERE shingle IS NOT NULL
)"""


def minhash_dedup_sql(threshold: float = 0.3, k: int = 64, bands: int = 16,
                      rows: int = 4, doc_filter: str = "TRUE") -> str:
    """Full MinHash+LSH+verify pipeline as one DuckDB query (md5_60,
    Carter-Wegman permutations — same constants as
    :func:`mh_perm_consts`, bit-identical signatures)."""
    sig_cols = ",\n         ".join(
        "min(({a} * h32 + {b}) % {p}) AS h{j}".format(
            a=mh_perm_consts(j)[0], b=mh_perm_consts(j)[1], p=MH_PRIME, j=j
        )
        for j in range(k)
    )
    band_selects = []
    for b in range(bands):
        slots = " || ',' || ".join(
            f"CAST(h{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        band_selects.append(
            f"SELECT id, {b} AS band, md5({slots}) AS bucket FROM sig"
        )
    banded = "\n  UNION ALL ".join(band_selects)
    return f"""
WITH {shingles_cte(doc_filter)},
shh AS (
  SELECT id, {mh_base32_sql('shingle')} AS h32 FROM sh
),
sig AS (
  SELECT id,
         {sig_cols}
  FROM shh GROUP BY id
),
banded AS (
  {banded}
),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.id < b.id
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cands c
  JOIN sh x ON x.id = c.id_a
  JOIN sh y ON y.id = c.id_b AND y.shingle = x.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON sa.id = i.id_a
JOIN sizes sb ON sb.id = i.id_b
WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= {threshold!r}
"""


def simhash_pairs_sql(max_hamming: int = 16, prefix_bits: int = 12,
                      doc_filter: str = "TRUE") -> str:
    """SimHash near-dup pipeline as one DuckDB query (md5_60, 60 bits)."""
    nbits = 60
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(nbits)
    )
    pack = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(nbits)
    )
    return f"""
WITH d AS (
  SELECT doc_id AS id, {normalize_sql('text', 'duckdb')} AS norm
  FROM documents WHERE {doc_filter}
),
tok AS (
  SELECT id, unnest(string_split(norm, ' ')) AS tk FROM d
),
th AS (
  SELECT id, {hash60_sql('tk', 0)} AS h FROM tok WHERE length(tk) > 0
),
votes AS (
  SELECT id,
         {votes}
  FROM th GROUP BY id
),
shh AS (SELECT id, {pack} AS simhash FROM votes),
probes AS (
  SELECT id, simhash, p.probe,
         ((simhash >> (p.probe * 16)) % {1 << prefix_bits}) AS bucket
  FROM shh, (VALUES (0), (1), (2), (3)) p(probe)
),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
  FROM probes a JOIN probes b ON a.probe = b.probe AND a.bucket = b.bucket
  WHERE a.id < b.id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}
"""


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components of an undirected pair list → (node, component).

    This is the TRANSITIVE step of near-dedup (A~B, B~C ⇒ {A,B,C} one
    cluster) that the pairwise MinHash/SimHash outputs deliberately
    leave to the caller; each component is labelled by its smallest
    member, and a node that appears only in self-pairs labels itself.

    Graphs of at most ``fixpoint.LOCAL_MAX_ROWS`` pairs (1M) run whole
    on the driver: one Arrow collect of the canonical (least, greatest)
    pairs (job ``connected_components local``), then min-label rounds
    with pointer jumping (``fixpoint.min_label_rounds``), ~250 B per
    pair there (≤ ~250 MB).  Larger graphs run alternating large-star /
    small-star contraction — the published MapReduce CC algorithm
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — one-or-two equi-join + min-aggregate rounds on
    ``fixpoint.fixpoint``, each checkpointed, and nothing ever holds a
    component in memory.  Round count is O(log² n) worst-case and
    ~log₂(diameter) in practice on both paths (a 1000-node path
    converges in ~11 rounds; pinned by tests/test_pipeline.py), so
    pathological chain graphs cannot blow the round budget the way
    diameter-bound propagation can.  Both raise after ``max_iter``
    rounds rather than return a half-converged labelling.
    """
    ends = pairs.select(
        F.least(F.col(id_a), F.col(id_b)).alias("u"),
        F.greatest(F.col(id_a), F.col(id_b)).alias("v"),
    )
    what = "connected_components"
    table = fp.collect_at_most(ends, fp.LOCAL_MAX_ROWS, f"{what} local")
    if table is None:
        return _cc_star(ends, max_iter, what)
    # least/greatest are NULL only where both ids are: such a pair is a
    # NULL node with a NULL component, as on the Spark path
    rows, table = table.num_rows, table.drop_null()
    u, v = (table.column(c).to_numpy() for c in ("u", "v"))
    node = np.unique(np.concatenate([u, v]))
    src, dst = np.searchsorted(node, u), np.searchsorted(node, v)

    def min_label_local(cols):
        for label in min_label_rounds(node, node, src, dst, jump=True):
            yield {"node": node, "component": label}

    out, rounds = fp.finish_local(
        {"node": node, "component": node}, min_label_local, max_iter, what
    )
    typ, field = table.schema.field("u").type, ends.schema["u"]
    cols = [pa.array(out[c], type=typ) for c in ("node", "component")]
    if table.num_rows < rows:
        cols = [pa.concat_arrays([c, pa.nulls(1, typ)]) for c in cols]
    res = fp.local_result(
        pairs.sparkSession,
        pa.table(cols, names=["node", "component"]),
        T.StructType([T.StructField(c, field.dataType, field.nullable) for c in ("node", "component")]),
    )
    res._cc_rounds = rounds  # introspection for the convergence test
    return res


def _sym(edges: DataFrame) -> DataFrame:
    """Both orientations of an undirected (u, v) edge list."""
    return edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _cc_star(ends: DataFrame, max_iter: int, what: str) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris SoCC'14)
    over the canonical ``(u, v)`` pairs ``ends``.

    large-star: every node links its strictly-larger neighbours to the
    minimum of its closed neighbourhood; small-star: links itself and
    its smaller neighbours to that minimum.  Alternating the two
    drives every component to a star centred on its smallest node in
    O(log² n) rounds regardless of diameter.  Convergence = the
    canonical (min, max) edge set is unchanged (count + order-free
    xxhash checksum — deterministic, no full subtract join).
    """
    # checkpoint ONCE: `pairs` is usually an expensive unexecuted plan
    # (the MinHash/LSH band join).  The checkpoint is lazy, but AQE
    # runs the shuffle stages of `pairs` and the distinct at call time;
    # only the final stage waits for the first round.  Nodes derive
    # from the canonical pair set BEFORE the reflexive filter, so a
    # node that appears only in self-pairs (id_a == id_b) still labels
    # itself
    canon = ends.distinct().localCheckpoint(eager=False)
    edges = canon.filter(F.col("u") != F.col("v"))
    # nodes stays a LAZY plan over the checkpointed canon: it is read
    # exactly once (the final labelling join), so an eager checkpoint
    # here would be a pure extra action (r8 fused-probe sweep)
    nodes = (
        canon.select(F.col("u").alias("node"))
        .unionByName(canon.select(F.col("v").alias("node")))
        .distinct()
    )

    def _checksum(e: DataFrame) -> list:
        return [
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-free and overflow-free under ANSI mode
            # (edges are distinct, so xor cannot self-cancel a dup)
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            F.expr("sum(cast(xxhash64(v, u) as decimal(38, 0)))").alias("h2"),
        ]

    # NOTE (r8): a window-min rewrite of both stars (min-of-
    # neighborhood attached in one exchange instead of groupBy +
    # join-back) was measured same-box at 5.4-7.1 s vs 5.4-6.1 s for
    # this form on the sf0.1 graph — WindowExec's sort-within-
    # partition offsets the saved exchange, so the simpler aggregate
    # form stays.
    def _large_star(e: DataFrame) -> DataFrame:
        s = _sym(e)
        mm = (
            s.groupBy("u").agg(F.min("v").alias("_minv"))
            .select("u", F.least(F.col("_minv"), F.col("u")).alias("m"))
        )
        out = (
            s.filter(F.col("v") > F.col("u"))
            .join(mm, "u")
            .select(
                F.least(F.col("v"), F.col("m")).alias("u"),
                F.greatest(F.col("v"), F.col("m")).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        return out

    def _small_star(e: DataFrame) -> DataFrame:
        s = _sym(e).filter(F.col("v") < F.col("u"))
        mm = s.groupBy("u").agg(F.min("v").alias("m"))
        linked = (
            s.join(mm, "u")
            .select(F.col("v").alias("n"), "m")
            .unionByName(mm.select(F.col("u").alias("n"), "m"))
        )
        return (
            linked.select(
                F.least(F.col("n"), F.col("m")).alias("u"),
                F.greatest(F.col("n"), F.col("m")).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    edges, rounds_used = fixpoint(
        edges, lambda e: _small_star(_large_star(e)), _checksum, max_iter, what
    )

    # at the fixpoint every edge is (root, member); isolated inputs
    # (pairs whose two ids were equal) label themselves
    labels = _sym(edges).filter(F.col("v") > F.col("u")).groupBy("v").agg(
        F.min("u").alias("component")
    ).select(F.col("v").alias("node"), "component")
    out = (
        nodes.join(labels, "node", "left")
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
    )
    out._cc_rounds = rounds_used  # introspection for the convergence test
    return out
