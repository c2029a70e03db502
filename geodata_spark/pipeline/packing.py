"""Sequence packing + dataset splitting — LLM-pretraining pipeline ops.

Two operators a training-data pipeline needs downstream of dedup:

- :func:`pack_chunks` — concat-and-chunk sequence packing: documents
  are laid out in a deterministic pseudo-random order (hash of id) and
  cut into fixed ``context_len`` token windows by cumulative offset —
  the standard pretraining packing scheme (documents may straddle a
  boundary; the chunk id is ``offset // context_len``).

  Scale shape: a naive global cumulative sum is a single-partition
  window (the classic Spark scale trap).  Here the prefix sum is
  **two-phase**: documents shard by monotone hash-range bins; each
  shard computes a local running offset (window partitioned BY SHARD —
  parallel), shard totals (one tiny agg) turn into per-shard base
  offsets, and global_offset = shard_base + local_offset.  Because the
  bins are monotone in the hash, the result equals the serial scan
  under the plain total order (h, id) — independent of ``n_shards``,
  so resizing the cluster never re-cuts chunks, and the DuckDB oracle
  evaluates the same layout with one global window.

- :func:`dataset_split` — deterministic train/val/test assignment by
  integer hash bucket of the document id: stable across runs, engines
  and retries, no RNG state.

The hash-keyed operators (packing order, splits, sampling gates) use
:func:`pipeline.dedup.hash60` (60-bit md5), so each is bit-reproducible
in DuckDB through ``hash60_sql``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from geodata_spark.pipeline.dedup import HASH_BITS, hash60, hash60_sql
from geodata_spark.pipeline.text import token_count_sql

_SEED = 7


def pack_chunks(
    docs: DataFrame,
    context_len: int = 2048,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-chunk packing stats: (chunk_id, n_docs, n_tokens).

    ``n_shards`` bounds window-partition size: set it to O(cluster
    cores) in production so every executor runs one shard-local
    running sum; the cross-shard carry is a broadcast of the per-shard
    base offsets, never a shuffle of the corpus.

    Shards are **monotone hash-range bins** (top bits of the hash, via
    arithmetic shift), NOT ``hash % n_shards``: with range bins the
    total layout order (shard, h, id) collapses to plain (h, id), so
    the packed dataset is byte-identical no matter how many shards the
    cluster runs — ``n_shards`` is a pure parallelism knob, resizing
    the cluster can never silently re-cut every chunk (round-3
    advice).  The bin count rounds up to the next power of two.
    """
    tok = F.expr(token_count_sql(text_col, "spark")).cast("long")
    h = hash60(F.col(id_col).cast("string"), _SEED)
    # smallest s with 2^(bits - s) >= n_shards; the hash is
    # non-negative, so the shift is monotone and shard order == hash
    # order by construction
    shift = max(0, HASH_BITS - max(1, (int(n_shards) - 1).bit_length()))
    d = docs.select(
        F.col(id_col).alias("_id"), tok.alias("_tok"), h.alias("_h")
    ).withColumn("_shard", F.shiftright(F.col("_h"), shift))
    w_local = (
        Window.partitionBy("_shard")
        .orderBy("_h", "_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = d.withColumn("_off_local", F.sum("_tok").over(w_local) - F.col("_tok"))
    totals = d.groupBy("_shard").agg(F.sum("_tok").alias("_shard_tot"))
    w_base = (
        Window.orderBy("_shard")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bases = totals.withColumn(
        "_base", F.sum("_shard_tot").over(w_base) - F.col("_shard_tot")
    ).select("_shard", "_base")
    # integer `div`, not double `/`: a double quotient loses exactness
    # past 2^53 total tokens (reachable at pretraining scale) and the
    # DuckDB oracle uses exact integer `//`
    packed = local.join(F.broadcast(bases), "_shard").withColumn(
        "_chunk", F.expr(f"(_base + _off_local) div {int(context_len)}")
    )
    return packed.groupBy(F.col("_chunk").alias("chunk_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_tok").alias("n_tokens"),
    )


def pack_chunks_sql(
    context_len: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB twin: ONE global running sum over the total order
    (h, id).  Spark's shards are monotone hash-range bins, so the
    two-phase order (shard, h, id) IS (h, id) — the oracle never
    mentions ``n_shards`` because the layout is shard-count-free."""
    tok = token_count_sql(text_col, "duckdb")
    h = hash60_sql(f"CAST({id_col} AS VARCHAR)", _SEED)
    return f"""
WITH d AS (
  SELECT {id_col} AS id, CAST({tok} AS BIGINT) AS tok, {h} AS h
  FROM {table}
),
laid AS (
  SELECT id, tok,
         sum(tok) OVER (ORDER BY h, id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok
           AS goff
  FROM d
)
SELECT CAST(goff // {context_len} AS BIGINT) AS chunk_id,
       count(*) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS n_tokens
FROM laid
GROUP BY 1
"""


def dataset_split(
    docs: DataFrame,
    train_pct: int = 80,
    val_pct: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Attach a deterministic ``split`` column (train/val/test)."""
    bucket = F.pmod(hash60(F.col(id_col).cast("string"), _SEED), F.lit(100))
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.withColumn("split", split)


def split_expr_sql(train_pct: int = 80, val_pct: int = 10,
                   id_col: str = "doc_id") -> str:
    b = f"({hash60_sql(f'CAST({id_col} AS VARCHAR)', _SEED)} % 100)"
    return (
        f"(CASE WHEN {b} < {train_pct} THEN 'train' "
        f"WHEN {b} < {train_pct + val_pct} THEN 'val' ELSE 'test' END)"
    )


def stratified_sample(
    docs: DataFrame,
    stratum_col: str,
    rates_pct: dict[str, int],
    default_pct: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum subsampling (training-data mixing).

    Keeps a document iff ``hash(doc_id) % 100 < rates_pct[stratum]``
    — the standard way a pretraining pipeline reweights sources
    ("keep 10% of crawl, 100% of books"): no RNG state, so the sample
    is identical across runs, engines, retries and cluster sizes, and
    a document's fate never depends on which stratum peers exist.
    Same hash family as :func:`dataset_split`; the two compose (a doc
    keeps one split assignment whether or not it is sampled) because
    the sampling hash is salted differently.

    Scale shape: a pure row filter — no shuffle, no state; predicate
    evaluates inside the scan stage.
    """
    bucket = F.pmod(
        hash60(F.concat(F.lit("sample|"), F.col(id_col).cast("string")), _SEED),
        F.lit(100),
    )
    thr = F.lit(int(default_pct))
    for name, pct in sorted(rates_pct.items()):
        thr = F.when(F.col(stratum_col) == name, F.lit(int(pct))).otherwise(thr)
    return docs.filter(bucket < thr)


def stratified_sample_sql(
    stratum_sql: str,
    rates_pct: dict[str, int],
    default_pct: int = 100,
    id_col: str = "doc_id",
) -> str:
    """DuckDB predicate twin of :func:`stratified_sample`."""
    salted = f"'sample|' || CAST({id_col} AS VARCHAR)"
    b = f"({hash60_sql(salted, _SEED)} % 100)"
    cases = " ".join(
        f"WHEN {stratum_sql} = '{name}' THEN {int(pct)}"
        for name, pct in sorted(rates_pct.items())
    )
    return f"({b} < (CASE {cases} ELSE {int(default_pct)} END))"


def chunk_docs(
    docs: DataFrame,
    width: int = 200,
    stride: int = 150,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping fixed-width character chunking — the RAG / context-
    window prep step that cuts each document into ``width``-char
    windows every ``stride`` chars (``width - stride`` chars of
    overlap), KEEPING the document intact per row group.

    Contrast with :func:`pack_chunks` (cross-document concat-and-cut
    packing for pretraining): chunking is per-document, so it is a
    pure scan-stage ``explode`` — no shuffle, no window, no state;
    chunk count per row is ``ceil(len / stride)`` and the explode
    fan-out streams through whole-stage codegen.  At 100 TB this is
    embarrassingly parallel and the output partitioning inherits the
    input's (reference analog: the per-document span/segment handling
    around spans in the corpus model; chunk boundaries here are
    byte-deterministic so retries and engines agree bit-for-bit).

    Output: one row per (doc, chunk) with 1-based ``start``,
    ``chunk_idx = (start-1) // stride``, the chunk text and its length.
    Empty documents produce one empty chunk (chunk_idx 0) so no doc_id
    silently vanishes from the output.
    """
    if stride <= 0 or width <= 0:
        raise ValueError("width and stride must be positive")
    starts = F.sequence(
        F.lit(1), F.greatest(F.length(F.col(text_col)), F.lit(1)), F.lit(stride)
    )
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(id_col, text_col)
        .withColumn("start", F.explode(starts))
        .select(
            F.col(id_col),
            ((F.col("start") - 1) / F.lit(stride)).cast("long").alias("chunk_idx"),
            F.col("start").cast("long").alias("start"),
            F.expr(f"substring({text_col}, start, {int(width)})").alias("chunk"),
        )
        .withColumn("chunk_len", F.length("chunk").cast("long"))
    )


def chunk_docs_sql(
    width: int = 200,
    stride: int = 150,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`chunk_docs` (generate_series is inclusive
    of the stop bound, matching Spark's ``sequence``)."""
    w, s = int(width), int(stride)
    return f"""
SELECT {id_col},
       CAST((g.start - 1) / {s} AS BIGINT) AS chunk_idx,
       CAST(g.start AS BIGINT) AS start,
       substring({text_col}, g.start, {w}) AS chunk,
       CAST(length(substring({text_col}, g.start, {w})) AS BIGINT) AS chunk_len
FROM {table},
     unnest(generate_series(1, greatest(length({text_col}), 1), {s})) AS g(start)
WHERE {text_col} IS NOT NULL
"""


def mixture_sample(
    docs: DataFrame,
    weights_pct: dict[str, int],
    budget_chars: int,
    domain_col: str = "lang",
    size_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-budget mixture sampling: derive per-domain keep rates so
    the kept corpus approaches ``budget_chars`` split across domains
    by ``weights_pct`` (DoReMi/Pile-style domain mixing), then apply
    them with the :func:`stratified_sample` hash gate.

    Rates are DATA-DERIVED (rate_d = min(100, ⌊budget·w_d / T_d⌋) in
    integer percent, with T_d the domain's total chars) but the
    per-document decision stays the deterministic salted-hash bucket:
    no RNG, identical across runs/engines/retries, and a document's
    fate is independent of execution plan.  Under-represented domains
    saturate at 100% (you cannot sample what isn't there) rather than
    silently rebalancing — the honest behavior for mixing audits.

    Scale shape: pass 1 is one map-side-combined agg producing a
    DOMAIN-sized table; its rates broadcast-join back onto the corpus
    and the gate evaluates in the scan stage — the corpus itself never
    shuffles.  All rate arithmetic is integer ⇒ exact cross-engine.

    Output: input columns + ``rate_pct``, filtered to kept documents.
    """
    from pyspark.sql.functions import broadcast

    dom = docs.groupBy(domain_col).agg(
        F.sum(size_col).cast("long").alias("_t")
    )
    rates = dom.select(
        domain_col,
        F.least(
            F.lit(100),
            F.expr(f"({int(budget_chars)} * CAST({_mix_w_sql(weights_pct, domain_col)} AS BIGINT)) div _t"),
        ).cast("long").alias("rate_pct"),
    )
    bucket = F.pmod(
        hash60(F.concat(F.lit("sample|"), F.col(id_col).cast("string")), _SEED),
        F.lit(100),
    )
    return (
        docs.join(broadcast(rates), domain_col)
        .filter(bucket < F.col("rate_pct"))
    )


def _mix_w_sql(weights_pct: dict[str, int], domain_col: str) -> str:
    cases = " ".join(
        f"WHEN {domain_col} = '{name}' THEN {int(pct)}"
        for name, pct in sorted(weights_pct.items())
    )
    return f"(CASE {cases} ELSE 0 END)"


def mixture_sample_sql(
    weights_pct: dict[str, int],
    budget_chars: int,
    domain_col: str = "lang",
    size_col: str = "n_chars",
    id_col: str = "doc_id",
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`mixture_sample`, returning kept rows +
    rate_pct."""
    w = _mix_w_sql(weights_pct, domain_col)
    salted = f"'sample|' || CAST({id_col} AS VARCHAR)"
    gate = f"({hash60_sql(salted, _SEED)} % 100)"
    return f"""
WITH dom AS (
  SELECT {domain_col}, CAST(sum({size_col}) AS BIGINT) AS t
  FROM {table} GROUP BY {domain_col}
),
rates AS (
  SELECT {domain_col},
         least(100, ({int(budget_chars)} * CAST({w} AS BIGINT)) // t)
           AS rate_pct
  FROM dom
)
SELECT d.*, r.rate_pct
FROM {table} d JOIN rates r USING ({domain_col})
WHERE {gate} < r.rate_pct
"""
