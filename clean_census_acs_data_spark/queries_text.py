"""Text: token statistics and counts, tokenizer training and audits
(BPE pairs and merges, fertility, vocabulary coverage), language
identification, language-model surprisal and smoothing statistics,
TF-IDF and keywords, chunking, normalization, PII redaction and text
features.

Logarithms are the deterministic detmath ln quantized to integer
micro-nats per type, so corpus-wide sums are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clean_census_acs_data_spark.functions.detmath import det_ln_ratio as DET_LN
from clean_census_acs_data_spark.io import spread
from clean_census_acs_data_spark.operators import text as X
from clean_census_acs_data_spark.queries_sketches import H15
from clean_census_acs_data_spark.registry import _t, register
from clean_census_acs_data_spark.session import tracked_cache


@register(
    "text_stats",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT)                             AS n_chars,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT)             AS n_tokens,
           CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_unique_tokens,
           CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
             / CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE)         AS type_token_ratio
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics: whitespace tokenization, distinct
    counts, type-token ratio (single deterministic division). Row-local →
    embarrassingly parallel at any scale."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks).cast("long")
    n_uniq = F.size(F.array_distinct(toks)).cast("long")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        n_tok.alias("n_tokens"),
        n_uniq.alias("n_unique_tokens"),
        (n_uniq.cast("double") / n_tok.cast("double")).alias("type_token_ratio"),
    )


# ---------------------------------------------------------------------------
# text: language-ID heuristic
# ---------------------------------------------------------------------------


def _lang_oracle() -> str:
    score_cols = []
    for lang, words in X.LANG_STOPWORDS.items():
        arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        score_cols.append(
            f"CAST(len(list_filter(t, x -> list_contains({arr}, x))) AS DOUBLE)"
            f" / CAST(len(t) AS DOUBLE) AS s_{lang}"
        )
    # replicate the strict-greater fold over sorted languages
    langs = sorted(X.LANG_STOPWORDS)
    pred, best = "'und'", "CAST(-1.0 AS DOUBLE)"
    for lang in langs:
        pred = f"(CASE WHEN s_{lang} > {best} THEN '{lang}' ELSE {pred} END)"
        best = f"(CASE WHEN s_{lang} > {best} THEN s_{lang} ELSE {best} END)"
    return f"""
WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
sc AS (SELECT doc_id, lang, {", ".join(score_cols)} FROM tok)
SELECT doc_id, lang AS labeled_lang, {pred} AS pred_lang, s_en AS en_ratio FROM sc
"""


@register("text_lang_id", oracle=_lang_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language-ID heuristic (argmax over 5 languages,
    deterministic alphabetical tiebreak). Row-local, no shuffle.

    r12 optimization (guide §1.2/§4): the former single-projection
    form inlined X.lang_id's fold, whose every score reference cloned
    the size(filter(split(text))) subtree with fresh lambda exprIds —
    ~60 tokenize+filter evaluations per row that codegen CSE cannot
    merge. lang_id_frame stages the five ratios as real columns first
    (split once, one filter per language), then folds over column
    references: 1.6–2.5 s → 0.34–0.66 s on the sf0.1 scan, output
    bit-identical (exceptAll both ways = 0 rows; same single division
    and fold arithmetic)."""
    d = _t(spark, sf_dir, "documents")
    scored = X.lang_id_frame(d, "text", keep=("doc_id", "lang"))
    return scored.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        "pred_lang",
        F.col("s_en").alias("en_ratio"),
    )


# ---------------------------------------------------------------------------
# text: quality scoring
# ---------------------------------------------------------------------------

_EN = "[" + ", ".join(f"'{w}'" for w in X.LANG_STOPWORDS["en"]) + "]"

_QUALITY_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
f AS (
  SELECT doc_id,
    CAST(len(list_filter(t, x -> list_contains({_EN}, x))) AS DOUBLE) / CAST(len(t) AS DOUBLE) AS stop_ratio,
    CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE) AS uniq_ratio,
    least(CAST(len(t) AS DOUBLE), 100.0) / 100.0 AS len_score
  FROM tok
)
SELECT doc_id, stop_ratio, uniq_ratio, len_score,
       stop_ratio * 0.4 + uniq_ratio * 0.3 + len_score * 0.3 AS quality
FROM f
"""


@register("text_quality_score", oracle=_QUALITY_ORACLE)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality facets (stopword density, type-token
    ratio, length score) + weighted composite — the filter stage of a
    training-data pipeline."""
    d = _t(spark, sf_dir, "documents")
    q = X.quality_score("text")
    return d.select(
        "doc_id",
        q["stop_ratio"].alias("stop_ratio"),
        q["uniq_ratio"].alias("uniq_ratio"),
        q["len_score"].alias("len_score"),
        q["quality"].alias("quality"),
    )


# ---------------------------------------------------------------------------
# text: token counting (whitespace + BPE-ish regex)
# ---------------------------------------------------------------------------

_TOKCOUNT_ORACLE = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT)  AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT)
                                                      AS n_bpe_tokens,
       CAST(length(text) AS BIGINT)                   AS n_chars
FROM documents
"""


@register("text_token_count", oracle=_TOKCOUNT_ORACLE)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace and BPE-ish-regex token counts per document (the
    budget-accounting stage of a training pipeline)."""
    d = _t(spark, sf_dir, "documents")
    counts = X.token_counts("text")
    return d.select(
        "doc_id",
        counts["n_ws_tokens"].alias("n_ws_tokens"),
        counts["n_bpe_tokens"].alias("n_bpe_tokens"),
        counts["n_chars"].alias("n_chars"),
    )


@register(
    "token_frequencies",
    oracle="""
    SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    """,
)
def token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: explode(split) — the UDTF-shaped generator op
    (SURVEY.md §2B UDF/UDTF row) — then count + per-doc frequency.
    Explode amplifies rows ~n_tokens×, but partial aggregation collapses
    them before the shuffle; the shuffle carries |vocab| rows."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data hygiene)
# ---------------------------------------------------------------------------

# Deliberately simple, dialect-portable patterns: both engines use the
# same RE2/ICU-compatible syntax for these (no lookaround, no \b).
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


@register(
    "text_pii_redaction",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g') AS redacted,
           CAST(length(regexp_replace(text, '{_EMAIL_RE}', '', 'g'))
                AS BIGINT) AS len_no_email
    FROM documents WHERE doc_id % 7 = 0
    """,
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: email/phone patterns replaced with typed
    placeholder tokens — the mandatory hygiene step before text enters
    a training corpus. Row-local regexp_replace (JVM, codegen, no
    shuffle); patterns restricted to the regex subset both engines
    interpret identically so the oracle is bit-exact."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 0)
    red = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        red.alias("redacted"),
        F.length(F.regexp_replace(F.col("text"), _EMAIL_RE, "")).cast("long").alias(
            "len_no_email"
        ),
    )


_TFIDF_ORACLE = f"""
WITH tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY doc_id, token
),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT doc_id, token, tf, df,
       CAST(tf AS DOUBLE)
         * ({DET_LN("n_docs + 1", "df + 1", div="//")} + 1E0)
         AS tfidf
FROM tf JOIN df USING (token), n
"""


@register("text_tfidf", oracle=_TFIDF_ORACLE)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed TF-IDF per (document, term) — the classical sparse
    retrieval/feature weighting: idf = ln((N+1)/(df+1)) + 1 (sklearn
    smoothing, no division by zero), weight = tf · idf. Shape: one
    (doc, token) partial-agg shuffle for tf; df derives from tf's
    |vocab|-sized output (no second pass over text); the corpus size is
    a broadcast 1-row scalar and df joins back broadcast-sized.

    The ln is functions.detmath.det_ln_ratio — a deterministic
    atanh-series over correctly-rounded ops only. libm ln is NOT
    correctly rounded, and Java vs DuckDB genuinely disagreed in the
    last ulp at sf0.1 (this entry was the observed failure); the
    series form is bit-identical on both engines at every scale (abs
    err < 1e-9 vs true ln, a defined property of the statistic).

    Scale bound: det_ln arguments are plain counts (< 2^63 by construction) and idf_e6 < 44e6 (ln of any int64 ratio < 44 nats); tf·idf products stay < 2^63 while per-doc term frequency < 2·10¹¹ — a per-document bound, corpus size unbounded."""
    d = _t(spark, sf_dir, "documents")
    # tf feeds two consumers but is deliberately NOT cached: the warm
    # A/B at sf0.1 measured the cache fill (wide string rows + eager
    # count) costlier than re-running the codegen tokenize+agg
    # (1.04 s uncached vs 1.23 s cached). At 100 TB tf is a persisted
    # table and the trade flips.
    tf = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    idf = F.expr(DET_LN("n_docs + 1", "df + 1", div="DIV")) + F.lit(1.0)
    return (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            (F.col("tf").cast("double") * idf).alias("tfidf"),
        )
    )


# ---------------------------------------------------------------------------
# Sliding-window document chunking — the tokenize-and-pack precursor:
# split each document into overlapping token windows (size 8, stride 4)
# with a tail chunk so every token is covered.
# ---------------------------------------------------------------------------

_CHUNK_W, _CHUNK_S = 8, 4

_CHUNK_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
starts AS (
  SELECT doc_id, t, len(t) AS n,
         list_distinct(list_append(
           generate_series(1, greatest(len(t) - {_CHUNK_W - 1}, 1), {_CHUNK_S}),
           greatest(len(t) - {_CHUNK_W - 1}, 1))) AS ss
  FROM tok
)
SELECT doc_id,
       CAST(s AS BIGINT) AS chunk_start,
       CAST(least({_CHUNK_W}, n - s + 1) AS BIGINT) AS n_chunk_tokens,
       array_to_string(list_slice(t, s, s + {_CHUNK_W - 1}), ' ') AS chunk_text
FROM (SELECT doc_id, n, t, unnest(ss) AS s FROM starts)
"""


@register("doc_chunk_sliding", oracle=_CHUNK_ORACLE)
def doc_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window 8, stride 4, plus a
    tail window so the last tokens are always covered) — the standard
    long-document → training-sample splitter. All array ops (sequence /
    transform / slice / explode) are JVM-side higher-order functions;
    output rows carry only the chunk text, so the shuffle-free narrow
    plan scales linearly with corpus bytes. Deterministic: chunk
    identity is (doc_id, chunk_start)."""
    d = _t(spark, sf_dir, "documents")
    toks = X.tokens("text")
    n = F.size(toks)
    tail = F.greatest(n - (_CHUNK_W - 1), F.lit(1))
    starts = F.array_distinct(
        F.concat(
            F.sequence(F.lit(1), tail, F.lit(_CHUNK_S)),
            F.array(tail),
        )
    )
    return (
        d.select("doc_id", toks.alias("t"), n.alias("n"), F.explode(starts).alias("s"))
        .select(
            "doc_id",
            F.col("s").cast("long").alias("chunk_start"),
            F.least(F.lit(_CHUNK_W), F.col("n") - F.col("s") + 1)
            .cast("long")
            .alias("n_chunk_tokens"),
            F.concat_ws(" ", F.slice(F.col("t"), F.col("s"), _CHUNK_W)).alias(
                "chunk_text"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM surprisal — the statistical quality filter: score each doc
# by the average negative log-probability of its tokens under the
# corpus unigram distribution. High surprisal = rare-token gibberish,
# low = boilerplate. −ln(c/t) = ln(t/c) evaluated per TOKEN TYPE with
# the deterministic atanh-series ln (no libm), quantized to integer
# micro-nats, then integer tf-weighted sums per doc; the only division
# producing the output is the final avg.
# ---------------------------------------------------------------------------

_SURPRISAL_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cnt),
su AS (
  SELECT w, CAST(ROUND({DET_LN('t', 'c', div='//')} * 1000000.0)
               AS BIGINT) AS s_e6
  FROM cnt, tot
),
tf AS (SELECT doc_id, w, COUNT(*) AS f FROM tok GROUP BY doc_id, w)
SELECT tf.doc_id,
       CAST(SUM(tf.f) AS BIGINT) AS n_tokens,
       CAST(SUM(tf.f * su.s_e6) AS DOUBLE) / CAST(SUM(tf.f) AS DOUBLE)
         AS avg_surprisal_e6
FROM tf JOIN su USING (w)
GROUP BY tf.doc_id
"""


@register("lm_unigram_surprisal", oracle=_SURPRISAL_ORACLE)
def lm_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc average unigram surprisal in micro-nats. Shape: one
    token explode feeds both the corpus counts (small: |vocab| rows)
    and the per-doc tf table; the corpus-total scalar broadcasts back
    over the vocab (1-row cross join), the surprisal table joins tf on
    the token, and the per-doc reduction is an integer partial agg. At
    100 TB the vocab table is the persisted LM — scoring a new batch is
    one broadcast join, no re-count.

    Scale bound: s_e6 < 44e6 (ln of an int64 ratio < 44 nats); the Σ f·s_e6 sum is PER DOCUMENT, ≤ doc_tokens·44e6 → int64 to ~2·10¹¹ tokens in one doc; corpus size unbounded."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(X.tokens("text")).alias("w"))
    # cnt feeds two consumers but is NOT cached: warm A/B at sf0.1
    # measured 0.96 s uncached vs 1.26 cached — the eager fill action
    # costs more than re-running the codegen tokenize + count
    cnt = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(F.sum("c").cast("long").alias("t"))
    # −ln(c/t) = ln(t/c) with t ≥ c ≥ 1 exact integers → the
    # deterministic atanh-series ln (functions/detmath); the ×1e6
    # rounding then quantizes a bit-identical double on both engines,
    # so the integer tf-weighted sums downstream stay order-free AND
    # boundary-flip-free (libm ln could disagree in the last ulp
    # exactly at a rounding boundary)
    su = cnt.crossJoin(F.broadcast(tot)).select(
        "w",
        F.round(F.expr(DET_LN("t", "c", div="DIV")) * 1000000.0)
        .cast("long")
        .alias("s_e6"),
    )
    tf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("f"))
    # broadcast the vocab: joining tf on the raw token would put every
    # occurrence of a stopword on one reducer at 100 TB — the vocab
    # table is |distinct tokens| rows (bounded, dimension-sized) and
    # broadcasting it removes the hot-key shuffle entirely
    return (
        tf.join(F.broadcast(su), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("f").cast("long").alias("n_tokens"),
            (
                F.sum(F.col("f") * F.col("s_e6")).cast("double")
                / F.sum("f").cast("double")
            ).alias("avg_surprisal_e6"),
        )
    )


# ---------------------------------------------------------------------------
# BPE-style adjacent-pair counting — the inner loop of tokenizer
# training: the most frequent adjacent token pairs across the corpus
# (one merge round's candidate table). Top-20 with a total ordering so
# the LIMIT is deterministic.
# ---------------------------------------------------------------------------

_BPE_ORACLE = """
WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents),
p AS (
  SELECT unnest(list_transform(range(1, len(t)),
                i -> {'a': t[i], 'b': t[i + 1]})) AS pr
  FROM tok WHERE len(t) >= 2
)
SELECT pr.a AS w1, pr.b AS w2, CAST(COUNT(*) AS BIGINT) AS cnt
FROM p GROUP BY pr.a, pr.b
ORDER BY cnt DESC, w1, w2 LIMIT 20
"""


@register("bpe_pair_counts", oracle=_BPE_ORACLE)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-pair frequency table (one BPE merge round's candidates):
    explode consecutive token pairs with multiplicity, count globally,
    keep the top 20 under the total order (cnt desc, w1, w2). The pair
    explode is a narrow Generate; the count is a partial agg; the
    top-k is TakeOrderedAndProject (k rows per partition, no global
    sort). Iterating merges re-runs this plan on the re-paired corpus —
    each round is one shuffle."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(X.tokens("text").alias("t")).where(F.size("t") >= 2)
    pairs = t.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) as w1,"
                "             element_at(t, i + 1) as w2))"
            )
        ).alias("pr")
    )
    return (
        pairs.groupBy(
            F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "w1", "w2")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Text normalization — the first op of every corpus pipeline: lowercase,
# strip non-alphanumerics, collapse whitespace. Pure row-local
# projection (zero shuffles); identical regexes both engines.
# ---------------------------------------------------------------------------

_NORM_ORACLE = """
SELECT doc_id,
       trim(regexp_replace(
            regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
            '  +', ' ', 'g')) AS norm_text,
       CAST(length(text) - length(trim(regexp_replace(
            regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
            '  +', ' ', 'g'))) AS BIGINT) AS chars_removed
FROM documents
"""


@register("text_normalize", oracle=_NORM_ORACLE)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus text normalization: lowercase → drop non-[a-z0-9 ] →
    collapse runs of spaces → trim. One narrow projection per doc, no
    shuffle — at 100 TB this fuses into the scan stage of whatever
    consumes it. The chars_removed delta doubles as a cheap boilerplate
    /markup signal (high removal fraction = non-prose)."""
    d = _t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            "  +",
            " ",
        )
    )
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        (F.length("text") - F.length(norm)).cast("long").alias("chars_removed"),
    )


# ---------------------------------------------------------------------------
# Content-defined chunking — rolling-hash boundaries (rsync/LBFS style):
# split each doc where the hash of the local 8-gram ≡ 0 (mod 64), so
# chunk boundaries survive insertions/deletions elsewhere in the doc —
# the property fixed-size chunking lacks and large-doc dedup needs.
# ---------------------------------------------------------------------------

_CDC_H = "CAST(concat('0x', substring(md5(substring(text, i, 8)), 1, 15)) AS BIGINT)"

_CDC_ORACLE = f"""
WITH b AS (
  SELECT doc_id, text,
         list_prepend(1,
           CASE WHEN length(text) >= 9 THEN
             list_filter(range(2, length(text) - 6),
                         i -> {_CDC_H} % 64 = 0)
           ELSE [] END) AS bs
  FROM documents WHERE length(text) >= 1
),
sp AS (
  SELECT doc_id, text, bs,
         unnest(range(1, len(bs) + 1)) AS k
  FROM b
)
SELECT doc_id,
       CAST(k AS BIGINT) AS chunk_idx,
       CAST(bs[k] AS BIGINT) AS chunk_start,
       CAST(CASE WHEN k < len(bs) THEN bs[k + 1] ELSE length(text) + 1 END
            - bs[k] AS BIGINT) AS chunk_len,
       md5(substring(text, bs[k],
           CASE WHEN k < len(bs) THEN bs[k + 1] ELSE length(text) + 1 END
           - bs[k])) AS chunk_hash
FROM sp
"""


@register("doc_chunk_cdc", oracle=_CDC_ORACLE)
def doc_chunk_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunks per doc: boundary at position i when the
    60-bit md5 of the 8-gram starting at i ≡ 0 (mod 64) — expected
    chunk ~64 chars, and an edit only reshuffles the chunks it touches.
    All higher-order functions (filter/transform over sequences) plus
    one Generate: the (chunk_hash → doc) inverted index this feeds is
    a plain groupBy downstream. DuckDB mirrors the exact hash and
    spans, so chunk_hash matches bit-for-bit.

    spread() first (round 9): the kernel computes an md5 PER CHARACTER
    POSITION — by far the heaviest per-row compute in the registry —
    and a single-row-group local file scans as 1-2 splits, serializing
    it on 2 of 32 cores (3.9 s at sf0.1; ~1 s spread). This is exactly
    io.spread's documented policy case; the one round-robin Exchange it
    adds moves only raw doc rows and is a no-op choice once the source
    has real split counts (the 100-TB case)."""
    d = spread(_t(spark, sf_dir, "documents").where(F.length("text") >= 1))
    bs = F.expr(
        "concat(array(1),"
        " CASE WHEN length(text) >= 9 THEN"
        "   filter(sequence(2, length(text) - 7),"
        "     i -> cast(conv(substring(md5(substring(text, i, 8)), 1, 15),"
        "                    16, 10) as bigint) % 64 = 0)"
        " ELSE cast(array() as array<int>) END)"
    )
    spans = d.select("doc_id", "text", bs.alias("bs")).select(
        "doc_id",
        "text",
        "bs",
        F.explode(F.expr("sequence(1, size(bs))")).alias("k"),
    )
    end_expr = (
        "(CASE WHEN k < size(bs) THEN element_at(bs, k + 1)"
        " ELSE length(text) + 1 END)"
    )
    start = F.element_at("bs", F.col("k"))
    return spans.select(
        "doc_id",
        F.col("k").cast("long").alias("chunk_idx"),
        start.cast("long").alias("chunk_start"),
        F.expr(f"cast({end_expr} - element_at(bs, k) as bigint)").alias(
            "chunk_len"
        ),
        F.expr(
            f"md5(substring(text, element_at(bs, k),"
            f" {end_expr} - element_at(bs, k)))"
        ).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# inverted index build — salted two-phase posting-list merge
# ---------------------------------------------------------------------------

_POSTING_CAP = 32
_POSTING_SALTS = 16

_INVIDX_ORACLE = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
  )
)
SELECT token, COUNT(*) AS df,
       array_to_string(list_sort(list(doc_id))[1:{_POSTING_CAP}], ',')
         AS postings
FROM tok GROUP BY token
"""


@register("inverted_index_postings", oracle=_INVIDX_ORACLE)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: token → (document frequency, posting list
    of the {_POSTING_CAP} lowest doc_ids, comma-joined). The seek
    structure behind bm25_score's retrieval at scale.

    Salted two-phase merge: phase 1 groups by (token, doc_id mod 16)
    and keeps each salt's local min-32 postings + partial count, so no
    reducer ever materializes a stopword's full posting list; phase 2
    merges 16 bounded arrays per token (≤ 16·32 ids) and re-truncates.
    min-32 of the union of per-salt min-32s ≡ global min-32, so the
    salting is invisible to the oracle. df stays exact via summed
    partial counts. At 100 TB phase 1's combine is map-side and the
    phase-2 state per token is ≤ 512 longs regardless of corpus
    size."""
    tok = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(X.tokens("text")).alias("token"))
        .distinct()
    )
    part = tok.groupBy("token", F.pmod("doc_id", F.lit(_POSTING_SALTS)).alias("__s")).agg(
        F.count(F.lit(1)).alias("c_part"),
        F.slice(F.sort_array(F.collect_list("doc_id")), 1, _POSTING_CAP).alias(
            "p_part"
        ),
    )
    return part.groupBy("token").agg(
        F.sum("c_part").cast("long").alias("df"),
        F.concat_ws(
            ",",
            F.transform(
                F.slice(
                    F.array_sort(F.flatten(F.collect_list("p_part"))),
                    1,
                    _POSTING_CAP,
                ),
                lambda x: x.cast("string"),
            ),
        ).alias("postings"),
    )


# ---------------------------------------------------------------------------
# windowed token co-occurrence PMI
# ---------------------------------------------------------------------------

_PMI_MIN_PAIR = 5

_PMI_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (
  SELECT t, i, o FROM
    (SELECT t, unnest(range(1, len(t) + 1)) AS i FROM tok),
    (VALUES (1), (2)) o(o)
  WHERE i + o <= len(t)
),
pr AS (
  SELECT least(t[i], t[i + o]) AS tok_a, greatest(t[i], t[i + o]) AS tok_b
  FROM pos
),
cab AS (SELECT tok_a, tok_b, COUNT(*) AS c_ab FROM pr GROUP BY tok_a, tok_b),
uni AS (
  SELECT w, COUNT(*) AS c FROM
    (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w
),
tot AS (
  SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS t_tok,
         (SELECT COUNT(*) FROM pr) AS t_pair
)
SELECT cab.tok_a, cab.tok_b, CAST(cab.c_ab AS BIGINT) AS c_ab,
       CAST(ROUND((
         {DET_LN('tot.t_tok', 'ua.c', div='//')}
         + {DET_LN('tot.t_tok', 'ub.c', div='//')}
         - {DET_LN('tot.t_pair', 'cab.c_ab', div='//')}
       ) * 1000000.0) AS BIGINT) AS pmi_e6
FROM cab
JOIN uni ua ON cab.tok_a = ua.w
JOIN uni ub ON cab.tok_b = ub.w
CROSS JOIN tot
WHERE cab.c_ab >= {_PMI_MIN_PAIR}
"""


@register("token_cooccurrence_pmi", oracle=_PMI_ORACLE)
def token_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI of unordered token pairs within a ±2 token window:
    ln(P(a,b) / (P(a)P(b))), pairs kept at support ≥ 5. The
    collocation/association score feeding phrase mining and skip-gram
    negative-sampling tables.

    Shape: pair generation is two Generates over the token array
    (join-free — the window is array-local, never a self-join on
    positions); pair counts partial-agg on the (a,b) key; the unigram
    vocabulary broadcasts back twice (the lm_unigram_surprisal
    rationale: joining on raw tokens would hot-key stopwords at
    100 TB). ln is evaluated once per surviving PAIR TYPE
    (vocabulary²-bounded, support-pruned — not per occurrence) via the
    deterministic atanh-series ln (functions/detmath, no libm), then
    rounded to micro-nats — the quantized double is bit-identical on
    both engines, so no rounding boundary can flip the hash.

    Scale bound: each det_ln term is ≤ ln(2⁶³) ≈ 43.7 nats, so
    |pmi_e6| ≤ 1.4·10⁸ — ten decimal orders inside int64; det_ln's
    internal q·2^m product stays exact while pair/unigram counts fit
    int64 (functions/detmath)."""
    d = spread(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.split("text", " ").alias("t")
    )

    # r12 (guide §2.3 "project before the exchange" / §1.2 per-task
    # work): pairs are generated IN-ROW (one transform per offset,
    # concatenated, then ONE explode of bare 2-string structs). The
    # old explode(sequence)+element_at form carried the WHOLE token
    # array through every generated row — O(tokens²) bytes
    # materialized per document, twice (once per offset branch) —
    # and scanned the corpus twice via the union. Measured (warm
    # noop reps at sf0.1): pair leg 0.48–2.1 → 0.23–0.56 s, cab
    # aggregate 0.86–2.1 → 0.63–0.98 s, output bit-identical
    # (exceptAll ∅ both ways). The empty-sequence guard mirrors
    # operators/text.shingles: sequence(1, 0) is a DESCENDING [1, 0],
    # so short docs must map to an empty index array, not phantom
    # pairs.
    def _pairs_for(o: int):
        idx = F.when(
            F.size("t") > o, F.sequence(F.lit(1), F.size("t") - o)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx,
            lambda i: F.struct(
                F.least(
                    F.element_at(F.col("t"), i),
                    F.element_at(F.col("t"), i + F.lit(o)),
                ).alias("tok_a"),
                F.greatest(
                    F.element_at(F.col("t"), i),
                    F.element_at(F.col("t"), i + F.lit(o)),
                ).alias("tok_b"),
            ),
        )

    pr = (
        d.where(F.size("t") > 1)
        .select(F.explode(F.concat(_pairs_for(1), _pairs_for(2))).alias("p"))
        .select("p.tok_a", "p.tok_b")
    )
    # NOT cached: cab feeds the PMI join chain and supplies t_pair, uni
    # feeds t_tok plus both broadcast sides — but Spark's exchange reuse
    # shares each agg's shuffle across its consumers, so the r8 caches
    # only added eager fill barriers and writes: a net COLD loss
    # (fresh process per rep, 2×2 interleaved at sf0.1: cache 4.90/4.93 s
    # vs nocache 4.08/4.31 s, 0.85×). Both aggregates stay
    # vocabulary-sized, never corpus-sized.
    cab = pr.groupBy("tok_a", "tok_b").agg(F.count(F.lit(1)).alias("c_ab"))
    uni = (
        d.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = (
        uni.agg(F.sum("c").cast("long").alias("t_tok"))
        .crossJoin(cab.agg(F.sum("c_ab").cast("long").alias("t_pair")))
    )
    ua = uni.select(F.col("w").alias("tok_a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("tok_b"), F.col("c").alias("c_b"))
    return (
        cab.where(F.col("c_ab") >= _PMI_MIN_PAIR)
        .join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "tok_a",
            "tok_b",
            F.col("c_ab").cast("long").alias("c_ab"),
            # PMI decomposed into sign-definite exact-integer ratios:
            # ln((c_ab/t_pair)/((c_a/t_tok)(c_b/t_tok))) =
            # ln(t_tok/c_a) + ln(t_tok/c_b) − ln(t_pair/c_ab), each a
            # deterministic atanh-series ln with p ≥ q ≥ 1 (counts are
            # bounded by their totals) — no libm, and no BIGINT
            # overflow risk from cross-multiplying the three ratios
            F.round(
                (
                    F.expr(DET_LN("t_tok", "c_a", div="DIV"))
                    + F.expr(DET_LN("t_tok", "c_b", div="DIV"))
                    - F.expr(DET_LN("t_pair", "c_ab", div="DIV"))
                )
                * 1000000.0
            )
            .cast("long")
            .alias("pmi_e6"),
        )
    )


# ---------------------------------------------------------------------------
# add-one bigram LM surprisal
# ---------------------------------------------------------------------------

_BIGRAM_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tok)
),
cb AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
cu AS (
  SELECT w, COUNT(*) AS c1 FROM
    (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w
),
v AS (SELECT COUNT(*) AS vsize FROM cu),
su AS (
  SELECT cb.w1, cb.w2,
         CAST(ROUND({DET_LN('cu.c1 + v.vsize', 'cb.c12 + 1', div='//')}
                    * 1000000.0)
              AS BIGINT) AS s_e6
  FROM cb JOIN cu ON cb.w1 = cu.w CROSS JOIN v
),
tf AS (SELECT doc_id, w1, w2, COUNT(*) AS f FROM bg GROUP BY doc_id, w1, w2)
SELECT tf.doc_id,
       CAST(SUM(tf.f) AS BIGINT) AS n_bigrams,
       CAST(SUM(tf.f * su.s_e6) AS DOUBLE) / CAST(SUM(tf.f) AS DOUBLE)
         AS avg_surprisal_e6
FROM tf JOIN su ON tf.w1 = su.w1 AND tf.w2 = su.w2
GROUP BY tf.doc_id
"""


@register("lm_bigram_surprisal", oracle=_BIGRAM_ORACLE)
def lm_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc average add-one-smoothed bigram surprisal in micro-nats:
    P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V). Word-order sensitive where
    lm_unigram_surprisal is not — shuffled or templated text keeps its
    unigram profile but its bigram surprisal spikes, which is why
    quality pipelines score with an n-gram LM, not token frequencies.

    Shape: one bigram Generate feeds both the global counts and the
    per-doc tf table; the unigram vocab and 1-row V broadcast onto the
    bigram-count table; ln is evaluated once per bigram TYPE via the
    deterministic atanh-series ln (functions/detmath, no libm) and
    rounded to micro-nats (the surprisal/BM25 discipline). The
    tf↔surprisal join keys on the (w1, w2) pair — pair keys are far
    more uniform than raw tokens, so no hot-key salting is needed
    where the unigram twin required a broadcast.

    Scale bound: s_e6 < 44e6 (ln of an int64 ratio < 44 nats); Σ f·s_e6 is per document, ≤ doc_bigrams·44e6 → int64 to ~2·10¹¹ bigrams in one doc; corpus size unbounded."""
    d = spread(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.split("text", " ").alias("t")
    )
    # cached: the bigram-position table feeds TWO consumers (the global
    # bigram LM counts and the per-doc tf) — uncached, the tokenize +
    # explode + element_at pipeline over the whole corpus runs twice
    # r12: bigrams generated IN-ROW (transform → one explode of bare
    # 2-string structs) — the old explode(sequence)+element_at form
    # carried the WHOLE token array through every position row
    # (O(tokens²) bytes per doc) before the cache fill. The where
    # guard keeps sequence(1, size−1) ascending (size ≥ 2).
    bg = (
        d.where(F.size("t") > 1)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("t"), i).alias("w1"),
                        F.element_at(F.col("t"), i + F.lit(1)).alias("w2"),
                    ),
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
        .transform(tracked_cache)
    )
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    cu = (
        d.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    v = cu.agg(F.count(F.lit(1)).alias("vsize"))
    su = (
        cb.join(F.broadcast(cu.select(F.col("w").alias("w1"), "c1")), "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "w1",
            "w2",
            # −ln((c12+1)/(c1+V)) = ln((c1+V)/(c12+1)), a ratio of
            # exact integers with p ≥ q ≥ 1 (c12 ≤ c1, V ≥ 1) → the
            # deterministic atanh-series ln; rounding then quantizes a
            # bit-identical double on both engines
            F.round(
                F.expr(DET_LN("c1 + vsize", "c12 + 1", div="DIV"))
                * 1000000.0
            )
            .cast("long")
            .alias("s_e6"),
        )
    )
    tf = bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("f"))
    return (
        tf.join(su, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("f").cast("long").alias("n_bigrams"),
            (
                F.sum(F.col("f") * F.col("s_e6")).cast("double")
                / F.sum("f").cast("double")
            ).alias("avg_surprisal_e6"),
        )
    )


# ---------------------------------------------------------------------------
# vocabulary coverage / OOV-rate audit
# ---------------------------------------------------------------------------

_VOCAB_K = 100

_OOV_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
vocab AS (SELECT w FROM cnt ORDER BY c DESC, w LIMIT {_VOCAB_K}),
per AS (
  SELECT tok.doc_id,
         COUNT(*) AS n_tokens,
         CAST(SUM(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov
  FROM tok LEFT JOIN vocab ON tok.w = vocab.w
  GROUP BY tok.doc_id
)
SELECT doc_id, n_tokens, n_oov,
       CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_rate
FROM per
"""


@register("vocab_oov_rate", oracle=_OOV_ORACLE)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV rate against the corpus top-100 vocabulary
    (count-desc, token-asc tiebreak → deterministic cut). The
    tokenizer-coverage audit: documents whose tokens fall outside the
    vocab will fragment into fallback bytes, inflating sequence length
    — high-OOV slices either get vocab expansion or exclusion.

    Shape: vocab = TakeOrderedAndProject over the token counts (heap
    top-K, no global sort) broadcast onto the token stream; per-doc
    reduction is one partial agg. At 100 TB the vocab is the persisted
    tokenizer artifact and scoring a new slice is scan + broadcast
    lookup + agg — no joins on raw tokens."""
    # tok feeds two consumers but is NOT cached: warm A/B at sf0.1 put
    # the cache fill of corpus-token string rows above the cost of
    # re-running the codegen explode (1.20 s vs 1.29 s cached)
    tok = spread(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    cnt = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        cnt.orderBy(F.desc("c"), F.asc("w"))
        .limit(_VOCAB_K)
        .select("w", F.lit(1).alias("__v"))
    )
    per = (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("__v").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
    )
    return per.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        (F.col("n_oov").cast("double") / F.col("n_tokens").cast("double")).alias(
            "oov_rate"
        ),
    )


# ---------------------------------------------------------------------------
# per-document character-trigram entropy (compressibility proxy)
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = f"""
WITH g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, length(text) - 1),
                               i -> substr(text, i, 3))) AS gram
  FROM documents WHERE length(text) >= 3
),
cnt AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY doc_id, gram),
agg AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_grams,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(c * CAST(ROUND({DET_LN('c', '1', div='//')} * 1000000) AS BIGINT)) AS BIGINT) AS s
  FROM cnt GROUP BY doc_id
)
SELECT doc_id, n_grams, n_types,
       CAST(CAST(ROUND({DET_LN('n_grams', '1', div='//')} * 1000000) AS BIGINT)
            - s // n_grams AS BIGINT) AS entropy_micro_nats
FROM agg
"""


@register("char_ngram_entropy", oracle=_ENTROPY_ORACLE)
def char_ngram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-trigram Shannon entropy in micro-nats —
    the cheap compressibility proxy corpus filters use to drop
    boilerplate/spam (low entropy = repetitive templating; the
    Gopher-style repetition gate's information-theoretic twin).
    H = ln n − (Σ c·ln c)/n over trigram counts c; each ln is rounded
    to integer micro-nats BEFORE the sum (the repo's standard trick:
    integer sums are order-independent where float sums are not), and
    the final division is integer-floored.

    Shape: Generate (in-row substring transform, no shuffle) →
    (doc, gram) partial agg → per-doc agg. The only shuffle keys on
    (doc_id, gram) — at 100 TB that's the same profile as
    token_frequencies; docs are row-local otherwise.

    Scale bound: Σ c·ln_c_micro is PER DOCUMENT, ≤ n_grams·44e6 (ln of an int64 count < 44 nats) → int64 to ~2·10¹¹ trigrams in a single doc (~200 GB of text); corpus size unbounded."""
    d = spread(_t(spark, sf_dir, "documents"))
    grams = F.expr(
        "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"
    )
    g = d.where(F.length("text") >= 3).select(
        "doc_id", F.explode(grams).alias("gram")
    )
    cnt = g.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # ln of exact integers via the deterministic atanh-series ln
    # (functions/detmath, no libm) — the micro-nat rounding quantizes a
    # bit-identical double on both engines, keeping the integer sums
    # order-free with zero cross-engine boundary-flip risk
    ln_c_micro = F.round(F.expr(DET_LN("c", "1", div="DIV")) * 1_000_000).cast("long")
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_grams"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("c") * ln_c_micro).cast("long").alias("s"),
    )
    ln_n_micro = F.round(
        F.expr(DET_LN("n_grams", "1", div="DIV")) * 1_000_000
    ).cast("long")
    return agg.select(
        "doc_id",
        "n_grams",
        "n_types",
        (ln_n_micro - F.expr("s div n_grams")).cast("long").alias(
            "entropy_micro_nats"
        ),
    )


# ---------------------------------------------------------------------------
# language-ID confusion matrix
# ---------------------------------------------------------------------------

_LANG_CONFUSION_ORACLE = f"""
WITH li AS ({_lang_oracle().strip()})
SELECT labeled_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM li GROUP BY labeled_lang, pred_lang
"""


@register("lang_id_confusion", oracle=_LANG_CONFUSION_ORACLE)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-ratio language-ID heuristic
    (text_lang_id) against the labeled lang column: per
    (labeled, predicted) cell count. The diagonal mass is the
    heuristic's accuracy; off-diagonal cells name exactly which
    language pairs it confuses — the audit that decides whether the
    cheap heuristic suffices or a model is warranted before 100 TB of
    routing decisions depend on it.

    One row-local scoring pass (the same argmax fold as text_lang_id)
    followed by a ≤|langs|²-group partial agg — audit cost is a sketch
    regardless of corpus size."""
    li = text_lang_id(spark, sf_dir)
    return li.groupBy("labeled_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# per-document keyword extraction (top-3 from the TF-IDF table)
# ---------------------------------------------------------------------------

_KEYWORD_ORACLE = f"""
WITH tfidf AS ({_TFIDF_ORACLE.strip()})
SELECT doc_id, token, tf, df, tfidf, CAST(kw_rank AS BIGINT) AS kw_rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tf DESC, df ASC, token) AS kw_rank
  FROM tfidf
) WHERE kw_rank <= 3
"""


@register("keyword_topk_per_doc", oracle=_KEYWORD_ORACLE)
def keyword_topk_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 keywords per document: the TF-IDF table cut to 3 rows per
    doc at the window (WindowGroupLimit). Ranking is the
    integer-deterministic (tf desc, df asc, token asc) rule — the same
    ordering TF-IDF induces when tf dominates, but immune to the 1-ulp
    ln drift that makes cross-engine float ranking a hash hazard; the
    float tfidf weight still rides along for consumers.

    This is the retrieval-feature extraction step (sparse doc
    signatures for BM25 pre-filtering, tag suggestion, index
    pruning); at 100 TB it adds one WindowGroupLimit pass over the
    already-computed (doc, token) aggregate, nothing over raw text."""
    tfidf = text_tfidf(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("token")
    )
    return (
        tfidf.withColumn("kw_rank", F.row_number().over(w))
        .where(F.col("kw_rank") <= 3)
        .select("doc_id", "token", "tf", "df", "tfidf", F.col("kw_rank").cast("long"))
    )


# ---------------------------------------------------------------------------
# Zipf slope fit over the token rank-frequency curve
# ---------------------------------------------------------------------------

_ZIPF_TOP = 100

_ZIPF_ORACLE = f"""
WITH tf AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS f
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
),
rk AS (
  SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, token) AS r
  FROM tf
),
xy AS (
  SELECT CAST(ROUND({DET_LN('r', '1', div='//')} * 1000000) AS BIGINT) AS x,
         CAST(ROUND({DET_LN('f', '1', div='//')} * 1000000) AS BIGINT) AS y
  FROM rk WHERE r <= {_ZIPF_TOP}
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM xy
)
SELECT n, sx, sy, sxy, sxx,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS zipf_slope
FROM s
"""


@register("zipf_slope_fit", oracle=_ZIPF_ORACLE)
def zipf_slope_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law audit: least-squares slope of ln(frequency) on
    ln(rank) over the corpus's top-100 tokens. Natural language sits
    near −1; a flat slope screams templated/synthetic text and a
    too-steep one a degenerate vocabulary — the corpus-level
    counterpart of char_ngram_entropy's per-doc signal.

    Numeric discipline: each ln is the deterministic atanh-series
    ln of an exact integer (functions/detmath — no libm),
    micro-nat-quantized per (rank, freq) POINT; the regression
    moments are exact int64 sums of those
    integers (order-independent), and the slope is one fixed-shape
    double expression over five scalars — every operation from long
    casts onward is an IEEE-determined function of identical inputs in
    both engines. Token counting is the token_frequencies shuffle; the
    top-100 cut is a heap (TakeOrderedAndProject), and the moments
    reduce 100 rows.

    Scale bound: the regression sees only the top-100 ranks: |x| ≤ ln(100)·1e6 < 5e6 and |y| < 44e6, so sxy ≤ 100·5e6·44e6 ≈ 2.2e16 and sxx ≤ 2.5e15 — both ≪ 2^63 at ANY corpus size."""
    tf = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    w = Window.orderBy(F.desc("f"), F.asc("token"))
    xy = (
        tf.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= _ZIPF_TOP)
        .select(
            # ln of an exact integer = det_ln_ratio(n, 1): no libm, so
            # the micro-nat rounding quantizes a bit-identical double
            F.round(F.expr(DET_LN("r", "1", div="DIV")) * 1_000_000)
            .cast("long")
            .alias("x"),
            F.round(F.expr(DET_LN("f", "1", div="DIV")) * 1_000_000)
            .cast("long")
            .alias("y"),
        )
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    num = F.col("n").cast("double") * F.col("sxy").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sy").cast("double")
    den = F.col("n").cast("double") * F.col("sxx").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sx").cast("double")
    return s.select("n", "sx", "sy", "sxy", "sxx", (num / den).alias("zipf_slope"))


# ---------------------------------------------------------------------------
# hashing-trick bag-of-words featurization
# ---------------------------------------------------------------------------

_FEATHASH_BUCKETS = 32

_FEATHASH_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
)
SELECT doc_id,
       CAST({H15.format(x="token")} % {_FEATHASH_BUCKETS} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM tok GROUP BY doc_id, bucket
"""


@register("feature_hashing_bow", oracle=_FEATHASH_ORACLE)
def feature_hashing_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: bag-of-words folded into a fixed 32-bucket
    feature space per document (token → md5-hash mod buckets → count).
    No vocabulary pass, no fitting, collisions accepted — the
    featurization that scales to unbounded vocabularies and is the
    sparse-input front door for linear models and MinHash-adjacent
    signatures. Long format (doc, bucket, cnt) — the array form is one
    pivot away and long is what a 100-TB shuffle wants.

    One Generate (no shuffle) + one (doc, bucket) partial agg: the
    md5 path is the repo's standard portable hash so the DuckDB twin
    folds identically."""
    d = spread(_t(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    return (
        tok.select(
            "doc_id",
            (X.md5_long(F.col("token")) % _FEATHASH_BUCKETS).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# BPE-ish regex token counting
# ---------------------------------------------------------------------------

# disjoint ASCII classes — alternation order can't matter, so Java
# (Spark) and RE2-style (DuckDB) engines extract identical runs
_BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"

_BPE_TOKENS_ORACLE = f"""
WITH g AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_ws_tokens,
         regexp_extract_all(text, '{_BPE_PATTERN}') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(n_ws_tokens AS BIGINT) AS n_ws_tokens,
       CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_bpe
FROM g
"""


@register("token_count_bpe_regex", oracle=_BPE_TOKENS_ORACLE)
def token_count_bpe_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting under a BPE-style pre-tokenizer regex (runs of
    letters / digits / other) alongside the whitespace count — the two
    numbers whose ratio predicts how a real subword tokenizer will
    blow up a document (punctuation-dense text tokenizes far past its
    word count; corpus budgets are set in tokens, not words).

    Row-local: one regexp_extract_all + two array sizes per document,
    zero shuffles. The pattern uses disjoint ASCII classes only so the
    leftmost-alternation semantics of Java and RE2 regex engines
    cannot diverge (the same dialect-portability discipline as
    text_pii_redaction)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.expr(f"regexp_extract_all(text, '{_BPE_PATTERN}', 0)")
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_ws_tokens"),
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_bpe"),
    )


# ---------------------------------------------------------------------------
# iterative BPE merge training (argmax + greedy non-overlapping rewrite)
# ---------------------------------------------------------------------------

_BPE_ITERS = 3


def _bpe_oracle(n_iters: int = _BPE_ITERS) -> str:
    """Generate the n-iteration CTE chain: each round re-counts adjacent
    pairs over the CURRENT token sequence, picks the argmax pair
    (count desc, then lexicographic — fully deterministic), and applies
    the greedy left-to-right non-overlapping rewrite. Overlap handling:
    candidate positions at consecutive p (only possible for a==b runs
    like 'x x x') form runs via the p - row_number() trick; greedy
    keeps odd ranks within each run."""
    parts = [
        """base AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
tok0 AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS p, t[u.i] AS tok
  FROM base, UNNEST(range(1, len(t) + 1)) AS u(i)
)"""
    ]
    for i in range(n_iters):
        parts.append(f"""adj{i} AS (
  SELECT doc_id, p, tok,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY p) AS nxt
  FROM tok{i}
),
cnt{i} AS (
  SELECT tok AS l, nxt AS r, COUNT(*) AS c
  FROM adj{i} WHERE nxt IS NOT NULL GROUP BY tok, nxt
),
top{i} AS (SELECT l, r, c FROM cnt{i} ORDER BY c DESC, l, r LIMIT 1),
cand{i} AS (
  SELECT a.doc_id AS doc_id, a.p AS p
  FROM adj{i} a, top{i} t WHERE a.tok = t.l AND a.nxt = t.r
),
runs{i} AS (
  SELECT doc_id, p,
         p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS run_id
  FROM cand{i}
),
keep{i} AS (
  SELECT doc_id, p FROM (
    SELECT doc_id, p,
           row_number() OVER (PARTITION BY doc_id, run_id ORDER BY p) AS rr
    FROM runs{i}
  ) s WHERE rr % 2 = 1
),
tok{i + 1} AS (
  SELECT a.doc_id AS doc_id,
         row_number() OVER (PARTITION BY a.doc_id ORDER BY a.p) AS p,
         CASE WHEN k1.p IS NOT NULL THEN a.tok || ' ' || a.nxt
              ELSE a.tok END AS tok
  FROM adj{i} a
  LEFT JOIN keep{i} k1 ON a.doc_id = k1.doc_id AND a.p = k1.p
  LEFT JOIN keep{i} k2 ON a.doc_id = k2.doc_id AND a.p = k2.p + 1
  WHERE k2.p IS NULL
)""")
    selects = [
        f"""SELECT {i + 1} AS iter, l AS left_tok, r AS right_tok,
       CAST(c AS BIGINT) AS pair_count,
       (SELECT COUNT(*) FROM tok{i + 1}) AS tokens_after
FROM top{i}"""
        for i in range(n_iters)
    ]
    body = ",\n".join(parts)
    union = "\nUNION ALL\n".join(selects)
    return f"WITH {body}\n{union}"


@register("bpe_train_merges", oracle=_bpe_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE merge training over the corpus (word-level): each
    round counts adjacent token pairs, merges the most frequent pair
    (ties broken lexicographically), greedily and non-overlapping
    ('x x x' merges once), then re-counts over the REWRITTEN sequence —
    the data-dependent iterative loop bpe_pair_counts (one round of
    counting) only hints at. Output: the learned merge table with the
    post-rewrite corpus size per round.

    Implementation: the rewrite stays STRING-level — one
    regexp_replace per round with the pair \\Q-quoted and space-boundary
    lookarounds; Java's regex scanner IS the greedy left-to-right
    non-overlapping pass, so the semantics match the oracle's
    token-level run-parity formulation exactly. Merged tokens join on
    \\x01 internally (translated back to spaces on output): the map
    internal↔oracle token is a bijection that preserves lexicographic
    order (0x01 and 0x20 both sort below every letter), so argmax
    tie-breaks agree. The rewrite is a NARROW map — no shuffle, no
    window, no join beyond the broadcast 1-row pair.

    100-TB shape: per round, one map-side-combined pair aggregate
    (|vocab²|-bounded) + a 1-row TakeOrdered broadcast back + a narrow
    regex map. Nothing global touches data rows; rounds scale the
    constant, not the exchange count. Tokenizer training at scale runs
    exactly this dataflow with more rounds."""
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.col("text").alias("s"))
        .repartition(8)
        .transform(tracked_cache)  # 5+ jobs (pair counts, sizes) re-read this base
    )
    docs = d
    out_rows = []
    for i in range(_BPE_ITERS):
        toks = docs.select(F.split("s", " ").alias("arr"))
        pairs = (
            toks.select(
                F.explode(
                    F.zip_with(
                        "arr",
                        F.slice("arr", 2, F.greatest(F.size("arr") - 1, F.lit(0))),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("pr")
            )
            .select("pr.l", "pr.r")
            .where(F.col("r").isNotNull())
        )
        top = (
            pairs.groupBy("l", "r")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), "l", "r")
            .limit(1)
            .transform(tracked_cache)  # feeds the rewrite AND the output row
        )
        pat = F.concat(
            F.lit("(?<![^ ])\\Q"),
            F.col("l"),
            F.lit(" "),
            F.col("r"),
            F.lit("\\E(?![^ ])"),
        )
        # replacement-side escaping: Java's appendReplacement parses $N
        # group refs and backslashes in the REPLACEMENT string (the \Q
        # quoting above only covers the pattern side) — escape both so
        # a pair containing '$' or a backslash rewrites literally
        def _rep_quote(c):
            return F.regexp_replace(c, r"([\\$])", r"\\$1")

        rep = F.concat(_rep_quote(F.col("l")), F.lit("\x01"), _rep_quote(F.col("r")))
        # r12: cache each round's rewritten corpus. Uncached, round i's
        # lineage re-applied all i preceding regex passes for EVERY
        # consumer (next round's pair agg AND its tokens_after agg) —
        # O(iters²) regex passes over the corpus and a plan that grew
        # to 166 KB of explain text by round 6. Cached, each rewrite
        # runs once (the first consumer fills it) — O(iters) passes.
        docs = tracked_cache(
            docs.crossJoin(F.broadcast(top)).select(
                "doc_id", F.regexp_replace("s", pat, rep).alias("s")
            )
        )
        tokens_after = docs.agg(
            F.sum(F.size(F.split("s", " "))).alias("tokens_after")
        )
        out_rows.append(
            top.crossJoin(F.broadcast(tokens_after)).select(
                F.lit(i + 1).cast("int").alias("iter"),
                F.translate("l", "\x01", " ").alias("left_tok"),
                F.translate("r", "\x01", " ").alias("right_tok"),
                F.col("c").cast("long").alias("pair_count"),
                F.col("tokens_after").cast("long"),
            )
        )
    out = out_rows[0]
    for extra in out_rows[1:]:
        out = out.unionByName(extra)
    return out


# ---------------------------------------------------------------------------
# inverted-index compression planning
# ---------------------------------------------------------------------------

_VARINT_CASE = """CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
         WHEN gap < 2097152 THEN 3 WHEN gap < 268435456 THEN 4 ELSE 5 END"""

_POSTINGS_ORACLE = f"""
WITH toks AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(string_split(lower(text), ' '))) AS token
  FROM documents
),
g AS (
  SELECT token, doc_id,
         doc_id - COALESCE(lag(doc_id) OVER (PARTITION BY token ORDER BY doc_id),
                           -1) AS gap
  FROM toks WHERE token <> ''
),
v AS (
  SELECT token, COUNT(*) AS df, MAX(gap) AS max_gap,
         SUM({_VARINT_CASE}) AS vbytes
  FROM g GROUP BY token
)
SELECT CAST(length(bin(df)) AS BIGINT) AS df_bits,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(df) AS BIGINT) AS total_postings,
       CAST(SUM(vbytes) AS BIGINT) AS varint_bytes,
       CAST(SUM(df) * 8 AS BIGINT) AS fixed64_bytes,
       CAST(MAX(max_gap) AS BIGINT) AS max_gap,
       CAST(SUM(vbytes) AS DOUBLE) / CAST(SUM(df) * 8 AS DOUBLE)
         AS compression_ratio
FROM v
GROUP BY 1
"""


@register("postings_varint_size_audit", oracle=_POSTINGS_ORACLE)
def postings_varint_size_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index sizing: per-token posting lists delta-gap encoded
    and costed at varint width (1 byte per 7 bits of gap), reported by
    document-frequency magnitude (bit-length buckets). This is the
    query an index-compression planner runs before choosing an
    encoding: rare terms (low df_bits) have huge gaps and compress
    poorly; stopword-grade terms approach 1 byte/posting. The first
    posting's gap is its delta from -1 so every gap ≥ 1 and the cost
    model needs no special case; df bit-length via length(bin(df)) —
    integer on both engines, no float log2 (same idiom as
    quantile_log2_sketch).

    100-TB shape: one exchange on token for the lag window (identical
    key to the df aggregate, so the sort/partitioning is reused), then
    a ≤64-row report. Posting lists are never materialized as arrays —
    the gap encoding streams through the window operator row by row."""
    d = _t(spark, sf_dir, "documents").repartition(8)
    toks = (
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(F.split(F.lower(F.col("text")), " "))
            ).alias("token"),
        )
        .where(F.col("token") != "")
    )
    wt = Window.partitionBy("token").orderBy("doc_id")
    g = toks.withColumn(
        "gap", F.col("doc_id") - F.coalesce(F.lag("doc_id").over(wt), F.lit(-1))
    )
    v = g.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.max("gap").alias("max_gap"),
        F.sum(F.expr(_VARINT_CASE)).alias("vbytes"),
    )
    return (
        v.groupBy(F.length(F.bin("df")).cast("long").alias("df_bits"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("df").cast("long").alias("total_postings"),
            F.sum("vbytes").cast("long").alias("varint_bytes"),
            (F.sum("df") * 8).cast("long").alias("fixed64_bytes"),
            F.max("max_gap").cast("long").alias("max_gap"),
        )
        .withColumn(
            "compression_ratio",
            F.col("varint_bytes").cast("double")
            / F.col("fixed64_bytes").cast("double"),
        )
    )


_FERTILITY_ORACLE = f"""
WITH t AS (
  SELECT lang,
         len(string_split(text, ' ')) AS n_ws,
         len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS n_bpe
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
       CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
       CAST(SUM(n_bpe) AS DOUBLE) / CAST(SUM(n_ws) AS DOUBLE) AS fertility
FROM t
GROUP BY lang
"""


@register("tokenizer_fertility_by_lang", oracle=_FERTILITY_ORACLE)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level tokenizer fertility (subword tokens per whitespace
    token) per language — the number that decides how a fixed token
    budget translates into per-language document counts when a
    training mix is planned (a high-fertility language eats its budget
    in fewer documents). Complements token_count_bpe_regex (per-doc
    counts) with the corpus aggregate the mix planner actually uses.
    Same disjoint-class BPE-ish regex, so Java and RE2 engines extract
    identical runs; fertility is one post-agg double division.

    100-TB shape: row-local regex counting partial-aggregates map-side
    to |langs| rows — the shuffle carries a handful of rows."""
    d = _t(spark, sf_dir, "documents").repartition(8)
    toks = F.expr(f"regexp_extract_all(text, '{_BPE_PATTERN}', 0)")
    per_doc = d.select(
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("n_ws"),
        F.size(toks).alias("n_bpe"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_ws").cast("long").alias("ws_tokens"),
            F.sum("n_bpe").cast("long").alias("bpe_tokens"),
        )
        .withColumn(
            "fertility",
            F.col("bpe_tokens").cast("double") / F.col("ws_tokens").cast("double"),
        )
    )


# ---------------------------------------------------------------------------
# Kneser–Ney continuation statistics (d = 3/4, rational discount)
# ---------------------------------------------------------------------------

_KN_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
big AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)
  WHERE t[i] <> '' AND t[i + 1] <> ''
),
cab AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab FROM big GROUP BY 1, 2),
ca AS (
  SELECT w1, SUM(c_ab) AS c_a, COUNT(*) AS n_follow_a
  FROM cab GROUP BY w1
),
cb AS (SELECT w2, COUNT(*) AS n_precede_b FROM cab GROUP BY w2)
SELECT cab.w1, cab.w2, cab.c_ab,
       CAST(ca.c_a AS BIGINT) AS c_a,
       CAST(ca.n_follow_a AS BIGINT) AS n_follow_a,
       CAST(cb.n_precede_b AS BIGINT) AS n_precede_b,
       CAST(4 * cab.c_ab - 3 AS BIGINT) AS p_disc_num,
       CAST(4 * ca.c_a AS BIGINT) AS p_disc_den,
       CAST(4 * cab.c_ab - 3 AS DOUBLE) / CAST(4 * ca.c_a AS DOUBLE)
         AS p_discounted
FROM cab JOIN ca ON ca.w1 = cab.w1 JOIN cb ON cb.w2 = cab.w2
WHERE cab.c_ab >= 3
"""


@register("kn_bigram_stats", oracle=_KN_ORACLE)
def kn_bigram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser–Ney smoothing statistics for the corpus bigram LM:
    c(ab), c(a·), the continuation counts N1+(a·) (distinct words
    following a — the backoff weight's numerator) and N1+(·b)
    (distinct histories of b — the continuation probability's
    numerator), plus the absolute-discounted probability with the
    RATIONAL discount d = 3/4: (c(ab) − 3/4)/c(a) = (4c(ab) − 3)/(4c(a)),
    exact integers and one IEEE division. These four counts are the
    entire parameterization of interpolated KN — the assembly into
    P_KN is downstream arithmetic. Reported for bigrams seen ≥ 3
    times (the LM's min-count cutoff).

    100-TB shape: bigram counts partial-aggregate map-side; the two
    marginals group on w1/w2 (the c_ab table is the input, already
    tiny relative to the corpus); joins back are hash equi-joins on
    those keys. Same posting discipline as lm_bigram_surprisal, plus
    the continuation-count legs."""
    d = _t(spark, sf_dir, "documents").repartition(8)
    big = (
        d.select(
            F.explode(
                F.expr(
                    "zip_with(slice(split(lower(text), ' '), 1,"
                    " greatest(size(split(lower(text), ' ')) - 1, 0)),"
                    " slice(split(lower(text), ' '), 2,"
                    " greatest(size(split(lower(text), ' ')) - 1, 0)),"
                    " (x, y) -> struct(x AS w1, y AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .where((F.col("w1") != "") & (F.col("w2") != ""))
    )
    # cached: the bigram-type counts feed the discounted output, the
    # follower aggregate and the predecessor aggregate — uncached, the
    # zip_with bigram explode + count shuffle ran three times
    cab = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab")).transform(tracked_cache)
    ca = cab.groupBy("w1").agg(
        F.sum("c_ab").alias("c_a"), F.count(F.lit(1)).alias("n_follow_a")
    )
    cb = cab.groupBy("w2").agg(F.count(F.lit(1)).alias("n_precede_b"))
    num = F.lit(4) * F.col("c_ab") - 3
    den = F.lit(4) * F.col("c_a")
    return (
        cab.where(F.col("c_ab") >= 3)
        .join(ca, "w1")
        .join(cb, "w2")
        .select(
            "w1",
            "w2",
            "c_ab",
            F.col("c_a").cast("long").alias("c_a"),
            F.col("n_follow_a").cast("long").alias("n_follow_a"),
            F.col("n_precede_b").cast("long").alias("n_precede_b"),
            num.cast("long").alias("p_disc_num"),
            den.cast("long").alias("p_disc_den"),
            (num.cast("double") / den.cast("double")).alias("p_discounted"),
        )
    )


_TOPP_ORACLE = """
WITH toks AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS token
  FROM documents
),
c AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks WHERE token <> '' GROUP BY 1, 2
),
r AS (
  SELECT source, token, cnt,
         SUM(cnt) OVER (PARTITION BY source ORDER BY cnt DESC, token
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(cnt) OVER (PARTITION BY source) AS total,
         COUNT(*) OVER (PARTITION BY source) AS vocab,
         MAX(cnt) OVER (PARTITION BY source) AS top_cnt
  FROM c
)
SELECT source,
       CAST(ANY_VALUE(total) AS BIGINT) AS total_tokens,
       CAST(ANY_VALUE(vocab) AS BIGINT) AS vocab_size,
       CAST(SUM(CASE WHEN cum - cnt < (9 * total + 9) // 10
                     THEN 1 ELSE 0 END) AS BIGINT) AS nucleus_size,
       CAST(CAST(ANY_VALUE(top_cnt) AS HUGEINT) * 1000000
            // ANY_VALUE(total) AS BIGINT)
         AS head_share_ppm
FROM r
GROUP BY source
"""


@register("vocab_topp_coverage", oracle=_TOPP_ORACLE)
def vocab_topp_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (p = 0.9) vocabulary nucleus per source: tokens ranked by
    frequency (token-string tiebreak ⇒ total order), a token belongs
    to the nucleus while the mass BEFORE it is under the exact integer
    threshold ceil(0.9·total) — so the nucleus is the minimal prefix
    reaching 90% coverage, computed without any float mass. Reports
    nucleus size against full vocabulary size and the head token's
    ppm share — the numbers that size embedding tables and decide
    OOV-vs-byte-fallback budgets per domain.

    100-TB shape: token counts partial-aggregate map-side; the rank
    window, the per-source totals, and the final aggregate all ride
    ONE hash partitioning on source. Output is |sources| rows.

    Scale bound: head_share_ppm runs in DECIMAL(38,0)/HUGEINT — the BIGINT product top_cnt·1e6 wraps at 9.2e12 tokens and a 100-TB corpus holds ~2e13; the nucleus threshold 9·total+9 wraps only past ~10¹⁸ tokens."""
    toks = (
        _t(spark, sf_dir, "documents")
        .repartition(8)
        .select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
        )
        .where(F.col("token") != "")
    )
    c = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = (
        Window.partitionBy("source")
        .orderBy(F.desc("cnt"), "token")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("source")
    r = c.select(
        "source",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("total"),
        F.count(F.lit(1)).over(wall).alias("vocab"),
        F.max("cnt").over(wall).alias("top_cnt"),
    )
    thresh = F.expr("(9 * total + 9) DIV 10")
    return r.groupBy("source").agg(
        F.first("total").cast("long").alias("total_tokens"),
        F.first("vocab").cast("long").alias("vocab_size"),
        F.sum(F.when(F.col("cum") - F.col("cnt") < thresh, 1).otherwise(0))
        .cast("long")
        .alias("nucleus_size"),
        # DECIMAL(38,0): top_cnt·1e6 wraps BIGINT at top_cnt ≥ 9.2e12
        # tokens — a 100-TB corpus holds ~2e13, so the widened form is
        # required, not precautionary (positive operands; DuckDB twin
        # uses HUGEINT //, identical integral semantics)
        F.expr("(CAST(first(top_cnt) AS DECIMAL(38,0)) * 1000000) DIV first(total)")
        .cast("long")
        .alias("head_share_ppm"),
    )


# ---------------------------------------------------------------------------
# per-class precision / recall / F1 over the language-ID confusion matrix
# ---------------------------------------------------------------------------


def _prf_oracle() -> str:
    return f"""
WITH cm AS ({_LANG_CONFUSION_ORACLE.strip()}),
tp AS (
  SELECT labeled_lang AS cls, CAST(SUM(n_docs) AS BIGINT) AS tp
  FROM cm WHERE labeled_lang = pred_lang GROUP BY labeled_lang
),
rowsum AS (
  SELECT labeled_lang AS cls, CAST(SUM(n_docs) AS BIGINT) AS support
  FROM cm GROUP BY labeled_lang
),
colsum AS (
  SELECT pred_lang AS cls, CAST(SUM(n_docs) AS BIGINT) AS predicted
  FROM cm GROUP BY pred_lang
)
SELECT r.cls AS lang,
       COALESCE(t.tp, 0) AS tp,
       COALESCE(c.predicted, 0) - COALESCE(t.tp, 0) AS fp,
       r.support - COALESCE(t.tp, 0) AS fn,
       r.support,
       CASE WHEN COALESCE(c.predicted, 0) > 0
            THEN 1000000 * COALESCE(t.tp, 0) // COALESCE(c.predicted, 0)
            ELSE CAST(0 AS BIGINT) END AS precision_ppm,
       CASE WHEN r.support > 0
            THEN 1000000 * COALESCE(t.tp, 0) // r.support
            ELSE CAST(0 AS BIGINT) END AS recall_ppm,
       CASE WHEN COALESCE(c.predicted, 0) + r.support > 0
            THEN 2000000 * COALESCE(t.tp, 0)
                 // (COALESCE(c.predicted, 0) + r.support)
            ELSE CAST(0 AS BIGINT) END AS f1_ppm
FROM rowsum r
LEFT JOIN tp t ON t.cls = r.cls
LEFT JOIN colsum c ON c.cls = r.cls
"""


@register("langid_eval_prf", oracle=_prf_oracle())
def langid_eval_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 of the language-ID heuristic
    against the labeled lang column — the eval-table completion of
    lang_id_confusion (the matrix names WHICH pairs confuse; this
    scores each class for the ship/no-ship decision). From the
    confusion matrix: tp = diagonal, fp = column sum − tp, fn = row
    sum − tp; precision/recall/F1 are micro-quantized EXACT truncating
    integer divisions (P = 10⁶·tp DIV predicted, R = 10⁶·tp DIV
    support, F1 = 2·10⁶·tp DIV (predicted + support) — the harmonic
    mean 2PR/(P+R) simplifies to one integer ratio, no float
    anywhere). Classes are the LABELED languages (rows); a class never
    predicted gets precision 0 by convention.

    100-TB shape: rides lang_id_confusion's plan — one row-local
    scoring pass, a ≤|langs|²-cell aggregate, then |langs|-row joins;
    eval cost is a sketch regardless of corpus size. Scale bound:
    10⁶·tp ≤ 10⁶·|docs| — int64 to ~9×10¹² docs."""
    cm = lang_id_confusion(spark, sf_dir)
    # r12 optimization (guide §1.2): tp/rowsum/colsum are three DIFFERENT
    # aggregations of cm, so the former three-branch join re-derived the
    # whole confusion-matrix pipeline (scan + scoring + exchange) once
    # per branch — no exchange reuse possible across distinct grouping
    # keys. Instead each of the ≤|langs|² cells contributes to its
    # row-class (support, tp) and its column-class (predicted) via a
    # 2-way explode, and ONE groupBy(cls) reads all three sums off a
    # single cm derivation (cold A/B 5.2/5.4 → 1.6/1.7 s). Classes that
    # only ever appear as predictions (support = 0) are dropped, exactly
    # the oracle's FROM rowsum semantics; sums are the same exact
    # integers, so the output is bit-identical.
    zero = F.lit(0).cast("long")
    n = F.col("n_docs").cast("long")
    contrib = cm.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("labeled_lang").alias("cls"),
                    n.alias("sup_n"),
                    F.when(F.col("labeled_lang") == F.col("pred_lang"), n)
                    .otherwise(zero)
                    .alias("tp_n"),
                    zero.alias("pred_nc"),
                ),
                F.struct(
                    F.col("pred_lang").alias("cls"),
                    zero.alias("sup_n"),
                    zero.alias("tp_n"),
                    n.alias("pred_nc"),
                ),
            )
        ).alias("c")
    ).select("c.*")
    j = (
        contrib.groupBy("cls")
        .agg(
            F.sum("sup_n").cast("long").alias("support"),
            F.sum("tp_n").cast("long").alias("tp"),
            F.sum("pred_nc").cast("long").alias("pred_n"),
        )
        .where(F.col("support") > 0)
        .select("cls", "tp", "pred_n", "support")
    )
    return j.select(
        F.col("cls").alias("lang"),
        "tp",
        (F.col("pred_n") - F.col("tp")).cast("long").alias("fp"),
        (F.col("support") - F.col("tp")).cast("long").alias("fn"),
        "support",
        F.when(F.col("pred_n") > 0, F.expr("1000000 * tp DIV pred_n"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("precision_ppm"),
        F.when(F.col("support") > 0, F.expr("1000000 * tp DIV support"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("recall_ppm"),
        F.when(
            (F.col("pred_n") + F.col("support")) > 0,
            F.expr("2000000 * tp DIV (pred_n + support)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("f1_ppm"),
    )
