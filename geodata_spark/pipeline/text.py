"""Text analysis: tokenization, quality scoring, language ID, fingerprints.

Engine-neutral where possible; the one dialect split is
``regexp_replace`` (DuckDB needs an explicit ``'g'`` flag), handled by
:func:`rr`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "y", "de"],
}


def rr(expr: str, pattern: str, replacement: str, dialect: str) -> str:
    """Global regexp_replace in either dialect.

    Spark SQL string literals process backslash escapes (so the regex
    ``\\s`` must be written ``\\\\s`` in the SQL text); DuckDB literals
    do not.  Patterns are given here in raw regex form.
    """
    if dialect == "duckdb":
        return f"regexp_replace({expr}, '{pattern}', '{replacement}', 'g')"
    spark_pat = pattern.replace("\\", "\\\\")
    return f"regexp_replace({expr}, '{spark_pat}', '{replacement}')"


def normalize_sql(expr: str, dialect: str) -> str:
    """lowercase, strip non-alnum, collapse whitespace — the dedup key.

    The Spark side fuses the historical two regex passes
    (``[^a-z0-9 ]``→' ' then ``\\s+``→' ') into ONE
    (``[^a-z0-9]+``→' '): a maximal run of non-alphanumerics — mixed
    from kept spaces and replaced characters — became a run of spaces
    and then one space, which is exactly what the single class-plus
    pattern produces, so the two forms are equal on every input
    (pinned by test_normalize_single_pass_equivalence).  One regex
    engine pass instead of two measured 1.7x on the normalize stage
    of the dedup pipeline (r8).  The DuckDB dialect keeps the
    original two-pass text because it is embedded in frozen oracle
    SQL; both dialects still compute the same strings.
    """
    if dialect == "spark":
        return f"trim({rr(f'lower({expr})', '[^a-z0-9]+', ' ', dialect)})"
    x = f"lower({expr})"
    x = rr(x, "[^a-z0-9 ]", " ", dialect)
    x = rr(x, "\\s+", " ", dialect)
    return f"trim({x})"


def token_count_sql(expr: str, dialect: str) -> str:
    """Whitespace token count (empty text → 0)."""
    t = f"trim({expr})"
    if dialect == "duckdb":
        n = f"len(string_split_regex({t}, '\\s+'))"
    else:
        n = f"size(split({t}, '\\\\s+'))"
    return f"(CASE WHEN length({t}) = 0 THEN 0 ELSE {n} END)"


def class_count_sql(expr: str, char_class: str, dialect: str) -> str:
    """Count of chars matching a class via the length-difference trick
    (portable — neither engine needs regexp_count)."""
    stripped = rr(expr, f"[^{char_class}]", "", dialect)
    return f"length({stripped})"


def punct_count_sql(expr: str, dialect: str) -> str:
    return class_count_sql(expr, ".,;:!?()\\x27\\x22-", dialect)


def digit_count_sql(expr: str, dialect: str) -> str:
    return class_count_sql(expr, "0-9", dialect)


def stopword_count_sql(expr: str, lang: str, dialect: str) -> str:
    """Occurrences of the language's top stopwords (word-boundary via
    space padding of the normalized text)."""
    norm = f"(' ' || {normalize_sql(expr, dialect)} || ' ')"
    terms = []
    for w in STOPWORDS[lang]:
        # count = (len - len(replace(all occurrences))) / len(' w ')? —
        # replace ' w ' with ' ' shrinks by (len(w)+1) per hit
        hitlen = len(w) + 1
        if dialect == "duckdb":
            rep = f"replace({norm}, ' {w} ', ' ')"
        else:
            rep = f"replace({norm}, ' {w} ', ' ')"
        terms.append(
            f"CAST((length({norm}) - length({rep})) / {hitlen} AS BIGINT)"
        )
    return "(" + " + ".join(terms) + ")"


def lang_guess_sql(expr: str, dialect: str) -> str:
    """Argmax of per-language stopword hit counts ('und' = no hits).

    Deterministic tie-break: higher count wins, then lexicographic
    language code (via greatest over (count, lang) pairs encoded as
    sortable strings).
    """
    str_t = "VARCHAR" if dialect == "duckdb" else "STRING"
    parts = []
    for lang in sorted(STOPWORDS):
        c = stopword_count_sql(expr, lang, dialect)
        # encode as zero-padded count + lang code for deterministic ordering
        parts.append(f"lpad(CAST({c} AS {str_t}), 6, '0') || '{lang}'")
    best = f"greatest({', '.join(parts)})"
    return (
        f"(CASE WHEN CAST(substr({best}, 1, 6) AS BIGINT) = 0 THEN 'und' "
        f"ELSE substr({best}, 7, 2) END)"
    )


def fingerprint_sql(expr: str, dialect: str) -> str:
    """Document fingerprint: md5 of the normalized text (portable)."""
    return f"md5({normalize_sql(expr, dialect)})"


def quality_score_sql(expr: str, dialect: str) -> str:
    """Composite quality heuristic in [0,1]: length band + word length
    + punctuation moderation (the C4/Gopher-style rule family)."""
    t = expr
    n_chars = f"length({t})"
    n_tok = token_count_sql(t, dialect)
    n_punct = punct_count_sql(t, dialect)
    mean_wordlen = f"(CASE WHEN {n_tok} = 0 THEN 0.0 ELSE CAST({n_chars} AS DOUBLE) / {n_tok} END)"
    len_ok = f"(CASE WHEN {n_chars} >= 50 AND {n_chars} <= 20000 THEN 1.0 ELSE 0.0 END)"
    word_ok = f"(CASE WHEN {mean_wordlen} >= 3.0 AND {mean_wordlen} <= 12.0 THEN 1.0 ELSE 0.0 END)"
    punct_ok = (
        f"(CASE WHEN {n_chars} = 0 THEN 0.0 "
        f"WHEN CAST({n_punct} AS DOUBLE) / {n_chars} <= 0.2 THEN 1.0 ELSE 0.0 END)"
    )
    # CAST: literal-only arithmetic is DECIMAL in Spark SQL (exact
    # numeric literals), DOUBLE-ish in DuckDB — pin the output type
    return f"CAST((0.5 * {len_ok} + 0.25 * {word_ok} + 0.25 * {punct_ok}) AS DOUBLE)"


EMAIL_PAT = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PAT = r"\+?[0-9][0-9()\x2d ]{6,}[0-9]"


def redact_sql(expr: str, dialect: str) -> str:
    """PII scrubbing: emails → <EMAIL>, phone-number-shaped digit runs
    → <PHONE>.  Same regex source both engines (rr handles the escape
    dialect split); emails first so their digits can't half-match the
    phone pattern."""
    x = rr(expr, EMAIL_PAT, "<EMAIL>", dialect)
    return rr(x, PHONE_PAT, "<PHONE>", dialect)


def with_redaction(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach redacted text + per-doc removal stats (Spark side).

    Counts are pattern matches on the PRE-redaction text (emails on the
    raw text, phones on the email-redacted intermediate, mirroring the
    sequential redaction) — counting placeholder occurrences in the
    output would be inflated by source text that literally contains
    "<EMAIL>"/"<PHONE>"."""
    after_email = F.expr(rr(text_col, EMAIL_PAT, "<EMAIL>", "spark"))
    red = F.expr(redact_sql(text_col, "spark"))
    return (
        docs.withColumn("text_redacted", red)
        .withColumn(
            "n_emails", F.regexp_count(F.col(text_col), F.lit(EMAIL_PAT)).cast("long")
        )
        .withColumn(
            "n_phones", F.regexp_count(after_email, F.lit(PHONE_PAT)).cast("long")
        )
    )


def with_text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full stat set as columns (Spark side)."""
    d = "spark"
    return (
        docs.withColumn("token_count", F.expr(token_count_sql(text_col, d)).cast("long"))
        .withColumn("punct_count", F.expr(punct_count_sql(text_col, d)).cast("long"))
        .withColumn("digit_count", F.expr(digit_count_sql(text_col, d)).cast("long"))
        .withColumn("lang_guess", F.expr(lang_guess_sql(text_col, d)))
        .withColumn("fingerprint", F.expr(fingerprint_sql(text_col, d)))
        .withColumn("quality", F.expr(quality_score_sql(text_col, d)))
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms (corpus-relative term salience)
# ---------------------------------------------------------------------------

def tfidf_top_terms(
    docs: DataFrame,
    top_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k terms by smoothed TF-IDF.

    Terms = lowercase alphanumeric runs.  Salience uses the RATIO form
    of smoothed inverse document frequency, ``(N + 1) / (df + 1)``,
    instead of its logarithm: the ranking it induces per document is
    identical (log is monotone), and the score stays a single IEEE
    division of exact integers, so the DuckDB oracle matches
    bit-for-bit — a log would drag libm differences into the compare.

    Scale shape: token explode → (doc, term) counts (map-side partial
    agg) → per-term document frequency (second agg, term-keyed) joined
    back BROADCAST when the vocabulary is small, shuffle otherwise
    (left to the optimizer/AQE here) → rank window per doc over that
    doc's DISTINCT terms only (bounded fan-in, never corpus-wide).
    """
    from pyspark.sql.window import Window

    terms = docs.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                lambda t: t != "",
            )
        ).alias("term"),
    )
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(id_col).distinct().count()
    scored = tf.join(df_, "term").select(
        id_col,
        "term",
        (
            F.col("tf").cast("double")
            * (F.lit(float(n_docs + 1)) / (F.col("df") + F.lit(1)).cast("double"))
        ).alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select(id_col, F.col("rnk").cast("long").alias("rnk"), "term", "score")
    )


def tfidf_top_terms_sql(top_k: int = 3, doc_filter: str = "TRUE") -> str:
    """DuckDB twin of :func:`tfidf_top_terms` (documents table)."""
    return f"""
WITH toks AS (
  SELECT doc_id, t.term AS term
  FROM documents,
       unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(term)
  WHERE {doc_filter} AND t.term <> ''
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents WHERE {doc_filter}),
scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf AS DOUBLE)
           * (CAST(n.n_docs + 1 AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE)) AS score,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY CAST(tf.tf AS DOUBLE)
           * (CAST(n.n_docs + 1 AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE)) DESC,
                            tf.term ASC) AS rnk
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, score
FROM scored WHERE rnk <= {int(top_k)}
"""


def top_bigrams(
    docs: DataFrame, top_k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide top-k word bigrams — the n-gram frequency scan a
    corpus-analysis pass runs for boilerplate detection and
    contamination screening (same tokenizer as :func:`tfidf_top_terms`:
    lowercase alphanumeric runs).

    Scale shape: bigrams are formed ARRAY-SIDE with ``zip_with`` over
    two shifted slices of the token array — per-row, inside codegen, no
    positional self-join and no window.  After the (bigram, count) hash
    agg (map-side partial), the global top-k is ``ORDER BY … LIMIT k``,
    which Spark plans as TakeOrderedAndProject: each partition keeps
    its local k, the driver merges k·p rows — never a single-partition
    global sort (the classic corpus-scale trap a rank-window here would
    create).  Ties break on the bigram text, so the cutoff row is
    deterministic in both engines.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda t: t != ""
    )
    d = docs.filter(F.col(text_col).isNotNull()).select(toks.alias("l"))
    pairs = F.when(
        F.size("l") >= 2,
        F.zip_with(
            F.slice("l", 1, F.size("l") - 1),
            F.slice("l", 2, F.size("l") - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.select(F.explode(pairs).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(int(top_k))
    )


def top_bigrams_sql(
    top_k: int = 20, text_col: str = "text", table: str = "documents"
) -> str:
    """DuckDB twin of :func:`top_bigrams` (adjacent-pair join via a
    per-row index series over the token list)."""
    return f"""
WITH t AS (
  SELECT list_filter(string_split_regex(lower({text_col}), '[^a-z0-9]+'),
                     x -> x <> '') AS l
  FROM {table} WHERE {text_col} IS NOT NULL
),
b AS (
  SELECT l[g.i] || ' ' || l[g.i + 1] AS bigram
  FROM t, unnest(generate_series(1, len(l) - 1, 1)) AS g(i)
)
SELECT bigram, count(*) AS n
FROM b GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT {int(top_k)}
"""


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition filters (the Gopher / MassiveText
    within-document quality rules: fraction of duplicated n-grams and
    fraction of characters inside the most frequent n-gram — Rae et
    al. 2021, table A1), over word unigrams and bigrams.

    Output per doc with ≥1 token:
      n_words, n_dist_words, rep_word_frac = (n−distinct)/n;
      top_word, top_word_frac = cnt·len(word)/len(text);
      n_bigrams, n_dist_bigrams, dup_bigram_frac;
      top_bigram, top_bigram_frac (NULLs when the doc has <2 tokens).
    Every fraction is ONE IEEE division of exact integers, so the
    DuckDB oracle matches bit-for-bit — no tolerance.  Ties for "most
    frequent" break on the gram text ascending (deterministic in both
    engines).

    Scale shape: one explode per gram order tagged by ``n`` so BOTH
    orders ride a single (doc, n, gram) map-side-combined hash agg;
    the per-doc "top gram" is a rank window over that doc's DISTINCT
    grams only (bounded fan-in, never corpus-wide — same shape as
    :func:`tfidf_top_terms`); final per-doc agg is the second and last
    shuffle.  No UDFs, no driver loops.
    """
    from pyspark.sql.window import Window

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda t: t != ""
    )
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.length(text_col).alias("_tlen"), toks.alias("l")
    )
    bi = F.when(
        F.size("l") >= 2,
        F.zip_with(
            F.slice("l", 1, F.size("l") - 1),
            F.slice("l", 2, F.size("l") - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = base.select(
        id_col, "_tlen", F.lit(1).alias("n"), F.explode("l").alias("gram")
    ).unionByName(
        base.select(
            id_col, "_tlen", F.lit(2).alias("n"), F.explode(bi).alias("gram")
        )
    )
    counts = grams.groupBy(id_col, "n", "gram").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("_tlen").alias("_tlen")
    )
    w = Window.partitionBy(id_col, "n").orderBy(
        F.col("cnt").desc(), F.col("gram").asc()
    )
    ranked = counts.withColumn("rnk", F.row_number().over(w))
    per = ranked.groupBy(id_col, "n").agg(
        F.sum("cnt").cast("long").alias("n_grams"),
        F.count(F.lit(1)).cast("long").alias("n_dist"),
        F.min(F.when(F.col("rnk") == 1, F.col("gram"))).alias("top_gram"),
        F.min(F.when(F.col("rnk") == 1, F.col("cnt"))).cast("long").alias("top_cnt"),
        F.min("_tlen").alias("_tlen"),
    )
    uni = per.filter(F.col("n") == 1).select(
        id_col,
        F.col("n_grams").alias("n_words"),
        F.col("n_dist").alias("n_dist_words"),
        ((F.col("n_grams") - F.col("n_dist")).cast("double")
         / F.col("n_grams").cast("double")).alias("rep_word_frac"),
        F.col("top_gram").alias("top_word"),
        ((F.col("top_cnt") * F.length("top_gram")).cast("double")
         / F.col("_tlen").cast("double")).alias("top_word_frac"),
    )
    big = per.filter(F.col("n") == 2).select(
        id_col,
        F.col("n_grams").alias("n_bigrams"),
        F.col("n_dist").alias("n_dist_bigrams"),
        ((F.col("n_grams") - F.col("n_dist")).cast("double")
         / F.col("n_grams").cast("double")).alias("dup_bigram_frac"),
        F.col("top_gram").alias("top_bigram"),
        ((F.col("top_cnt") * F.length("top_gram")).cast("double")
         / F.col("_tlen").cast("double")).alias("top_bigram_frac"),
    )
    return uni.join(big, id_col, "left")


def repetition_stats_sql(
    id_col: str = "doc_id", text_col: str = "text", table: str = "documents"
) -> str:
    """DuckDB twin of :func:`repetition_stats`."""
    return f"""
WITH basec AS (
  SELECT {id_col}, length({text_col}) AS tlen,
         list_filter(string_split_regex(lower({text_col}), '[^a-z0-9]+'),
                     x -> x <> '') AS l
  FROM {table} WHERE {text_col} IS NOT NULL
),
grams AS (
  SELECT {id_col}, tlen, 1 AS n, t.g AS gram
  FROM basec, unnest(l) AS t(g)
  UNION ALL
  SELECT {id_col}, tlen, 2 AS n, l[s.i] || ' ' || l[s.i + 1] AS gram
  FROM basec, unnest(generate_series(1, len(l) - 1, 1)) AS s(i)
),
counts AS (
  SELECT {id_col}, n, gram, count(*) AS cnt, min(tlen) AS tlen
  FROM grams GROUP BY 1, 2, 3
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY {id_col}, n
                               ORDER BY cnt DESC, gram ASC) AS rnk
  FROM counts
),
per AS (
  SELECT {id_col}, n,
         CAST(sum(cnt) AS BIGINT) AS n_grams,
         CAST(count(*) AS BIGINT) AS n_dist,
         min(CASE WHEN rnk = 1 THEN gram END) AS top_gram,
         CAST(min(CASE WHEN rnk = 1 THEN cnt END) AS BIGINT) AS top_cnt,
         min(tlen) AS tlen
  FROM ranked GROUP BY 1, 2
)
SELECT u.{id_col},
       u.n_grams AS n_words, u.n_dist AS n_dist_words,
       CAST(u.n_grams - u.n_dist AS DOUBLE) / CAST(u.n_grams AS DOUBLE)
         AS rep_word_frac,
       u.top_gram AS top_word,
       CAST(u.top_cnt * length(u.top_gram) AS DOUBLE) / CAST(u.tlen AS DOUBLE)
         AS top_word_frac,
       b.n_grams AS n_bigrams, b.n_dist AS n_dist_bigrams,
       CAST(b.n_grams - b.n_dist AS DOUBLE) / CAST(b.n_grams AS DOUBLE)
         AS dup_bigram_frac,
       b.top_gram AS top_bigram,
       CAST(b.top_cnt * length(b.top_gram) AS DOUBLE) / CAST(b.tlen AS DOUBLE)
         AS top_bigram_frac
FROM (SELECT * FROM per WHERE n = 1) u
LEFT JOIN (SELECT * FROM per WHERE n = 2) b USING ({id_col})
"""


def unigram_logprob(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean token log-probability under the corpus's own
    unigram language model — the classic cheap perplexity-proxy
    quality score (CCNet / Wenzek et al. 2020 use a KenLM; the unigram
    LM is its zero-context degenerate case and needs no external
    model).  Low ``avg_ln_p`` = rare-token-heavy doc (gibberish, OCR
    noise); ``bits`` = total Shannon information of the doc under the
    model.

    Two passes over the token explode: (1) corpus term counts — the
    vocabulary, tiny after aggregation, is BROADCAST back; (2) per-doc
    sum of log p(token).  The model is corpus-derived so there are no
    OOV tokens and no smoothing term.  ``ln``/``log2`` are libm calls
    (the one cross-engine ULP source), so outputs are rounded to 6 dp
    — same mitigation as the spherical cell-area oracle.
    """
    from pyspark.sql.functions import broadcast

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda t: t != ""
    )
    terms = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.explode(toks).alias("term")
    )
    vocab = terms.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt")).collect()[0][0]  # model size: one scalar
    scored = terms.join(broadcast(vocab), "term").select(
        id_col,
        F.log(F.col("cnt").cast("double") / F.lit(float(total))).alias("lnp"),
        F.log2(F.col("cnt").cast("double") / F.lit(float(total))).alias("l2p"),
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(F.sum("lnp") / F.count(F.lit(1)), 6).alias("avg_ln_p"),
        F.round(-F.sum("l2p"), 6).alias("bits"),
    )


def unigram_logprob_sql(
    id_col: str = "doc_id", text_col: str = "text", table: str = "documents"
) -> str:
    """DuckDB twin of :func:`unigram_logprob` (same 6-dp rounding)."""
    return f"""
WITH toks AS (
  SELECT {id_col}, t.term AS term
  FROM {table},
       unnest(list_filter(string_split_regex(lower({text_col}), '[^a-z0-9]+'),
                          x -> x <> '')) AS t(term)
  WHERE {text_col} IS NOT NULL
),
vocab AS (
  SELECT term, count(*) AS cnt FROM toks GROUP BY term
),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vocab)
SELECT {id_col},
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(sum(ln(CAST(cnt AS DOUBLE) / total)) / count(*), 6) AS avg_ln_p,
       round(-sum(log2(CAST(cnt AS DOUBLE) / total)), 6) AS bits
FROM toks JOIN vocab USING (term), tot
GROUP BY {id_col}
"""


def bigram_logprob(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document mean bigram log-probability with add-α smoothing
    under the corpus's own bigram LM — one context order up from
    :func:`unigram_logprob`, the next step toward the CCNet KenLM
    filter and a sharper gibberish detector (word salad with a
    plausible unigram mix still scores low here).

    p(w₂|w₁) = (C(w₁w₂) + α) / (C(w₁·) + α·V) with C(w₁·) the count
    of w₁ as a bigram HISTORY (derived by re-aggregating the bigram
    counts — no extra corpus pass) and V the corpus vocabulary size
    (one scalar).  Smoothing keeps the estimator total even though
    the model is corpus-derived (α = 0.5, dyadic).

    Plan: ONE bigram explode (adjacent-token zip, no window), counts
    with map-side combine, the per-doc score join keyed on the bigram
    (the tf-idf shuffle shape — bigram vocab can be huge at 100 TB, so
    it is NEVER broadcast), history counts broadcast (unigram-sized).
    ln is libm ⇒ 6-dp rounding, the cell_area mitigation; the smoothed
    ratio's inputs are exact integers, so both engines round the same
    double.
    """
    from pyspark.sql.functions import broadcast

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda t: t != ""
    )
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks.alias("_t")
    )
    pairs = base.select(
        id_col,
        F.explode(
            F.arrays_zip(
                F.slice("_t", 1, F.greatest(F.size("_t") - 1, F.lit(0))),
                F.slice("_t", 2, F.greatest(F.size("_t") - 1, F.lit(0))),
            )
        ).alias("_p"),
    ).select(
        id_col,
        F.col("_p").getField("0").alias("w1"),
        F.col("_p").getField("1").alias("w2"),
    )
    bi = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    hist = bi.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab_n = (
        base.select(F.explode("_t").alias("t")).select("t").distinct().count()
    )
    lnp = F.log(
        (F.col("c12").cast("double") + F.lit(alpha))
        / (F.col("c1").cast("double") + F.lit(alpha * float(vocab_n)))
    )
    scored = (
        pairs.join(bi, ["w1", "w2"])
        .join(broadcast(hist), "w1")
        .select(id_col, lnp.alias("lnp"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.sum("lnp") / F.count(F.lit(1)), 6).alias("avg_ln_p2"),
    )


def bigram_logprob_sql(
    id_col: str = "doc_id", text_col: str = "text", table: str = "documents",
    alpha: float = 0.5,
) -> str:
    """DuckDB twin of :func:`bigram_logprob` (same α, same rounding)."""
    return f"""
WITH tl AS (
  SELECT {id_col},
         list_filter(string_split_regex(lower({text_col}), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM {table} WHERE {text_col} IS NOT NULL
),
pairs AS (
  SELECT {id_col}, t[i] AS w1, t[i + 1] AS w2
  FROM tl, unnest(range(1, greatest(len(t), 1))) AS g(i)
),
bi AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2),
hist AS (SELECT w1, sum(c12) AS c1 FROM bi GROUP BY w1),
v AS (
  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vn
  FROM (SELECT unnest(t) AS tok FROM tl)
)
SELECT p.{id_col},
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(sum(ln((CAST(c12 AS DOUBLE) + {alpha!r})
                    / (CAST(c1 AS DOUBLE) + {alpha!r} * vn))) / count(*), 6)
         AS avg_ln_p2
FROM pairs p JOIN bi USING (w1, w2) JOIN hist USING (w1), v
GROUP BY p.{id_col}
"""
