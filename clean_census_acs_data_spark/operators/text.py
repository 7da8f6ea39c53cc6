"""Text-analysis operators for large-scale training-data pipelines:
tokenization, BPE-ish token counting, language-ID heuristic, quality
scoring, document fingerprinting (winnowing), simhash.

All row-local (embarrassingly parallel — no shuffle at any scale) and
built from JVM expressions only: no Python UDFs in the hot path.

Determinism contract (shared with the DuckDB oracles in queries.py):

- token/shingle hashes are the first 15 hex chars of md5 parsed as a
  60-bit integer — md5 is identical everywhere, and 15 hex chars fit a
  signed int64. Spark: conv(substring(md5(x),1,15),16,10)::long;
  DuckDB: CAST('0x'||substring(md5(x),1,15) AS BIGINT).
- scores use only +,-,*,/ and sqrt on values derived from exact
  integers (IEEE-deterministic); no transcendentals (libm ln/exp are
  not bit-portable across engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# hashing primitives
# ---------------------------------------------------------------------------


def md5_long(col: Column) -> Column:
    """60-bit integer hash from md5 — portable across engines."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def tokens(text: Column | str, sep: str = " ") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, sep)


def shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles as strings. Empty array when len < n.
    The size guard is load-bearing: Spark's sequence(1, 0) is a
    DESCENDING [1, 0], so without it a short token list would yield
    phantom partial shingles instead of the documented empty array."""
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.expr("array()").cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------

# BPE-ish pre-tokenizer: letter runs, digit runs, single non-alnum marks —
# the classic GPT-2-style split approximated with portable regex classes.
BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def token_counts(text: Column | str) -> dict[str, Column]:
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    return {
        "n_ws_tokens": F.size(toks).cast("long"),
        "n_bpe_tokens": F.size(F.regexp_extract_all(c, F.lit(BPE_PATTERN), 0)).cast("long"),
        "n_chars": F.length(c).cast("long"),
    }


# ---------------------------------------------------------------------------
# language-ID heuristic
# ---------------------------------------------------------------------------

# Minimal function-word lists (public linguistic knowledge). The heuristic
# scores stopword hit-ratio per language and argmaxes with a deterministic
# alphabetical tiebreak.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en": ("the", "a", "of", "and", "is", "to", "in", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "est", "un", "une", "que"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不"),
}


def lang_scores(toks: Column) -> dict[str, Column]:
    """Per-language stopword-hit ratio (multiset count / n_tokens)."""
    n = F.size(toks).cast("double")
    out = {}
    for lang, words in LANG_STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("double")
        out[lang] = hits / n
    return out


def lang_id(toks: Column) -> Column:
    """argmax over lang_scores, ties → alphabetically first language.
    Implemented as a left fold over the sorted language list so the
    comparison order (strictly-greater beats) is explicit and portable.

    Expression-size caveat: the fold references each score (and the
    running best) several times, and every reference clones the whole
    ``size(filter(toks, ...))`` subtree with FRESH lambda-variable
    exprIds — codegen's subexpression elimination cannot merge them,
    so a single projection built from this Column re-runs the
    tokenize+filter work tens of times per row. Column-level callers
    that score whole tables should use :func:`lang_id_frame`, which
    stages the five ratios as real columns first (measured 4–6× on
    the sf0.1 documents scan, bit-identical output)."""
    scores = lang_scores(toks)
    return lang_id_fold(scores)


def lang_id_fold(scores: dict[str, Column]) -> Column:
    """The argmax fold over an already-staged score map (one Column per
    language). Strict ``>`` over the sorted language list keeps the
    alphabetically-first language on ties — identical logic to the
    inline fold lang_id uses, shared so the staged and unstaged paths
    cannot drift."""
    pred = F.lit("und")
    best = F.lit(-1.0)
    for lang in sorted(scores):  # alphabetical; strict > keeps first on tie
        s = scores[lang]
        pred = F.when(s > best, F.lit(lang)).otherwise(pred)
        best = F.when(s > best, s).otherwise(best)
    return pred


def _stopword_filter(words: tuple[str, ...]):
    """Closure factory (a default-arg lambda would receive pyspark's
    optional index argument as the captured value)."""
    arr = F.array(*[F.lit(w) for w in words])
    return lambda t: F.array_contains(arr, t)


def lang_id_frame(df, text_col: str = "text", keep: tuple[str, ...] = ()):
    """Stage the language-ID scoring as REAL columns, then fold.

    Returns ``df.select(*keep, pred_lang, s_<lang>...)`` where each
    per-language ratio is computed exactly once: projection 1 splits
    the text once, projection 2 runs one filter pass per language over
    the staged token array, projection 3 divides, and the argmax fold
    operates on plain column references. Arithmetic per value is
    identical to lang_scores/lang_id (same filter, same cast, same
    single division, same fold), so outputs are bit-identical — only
    the expression DAG shape changes (guide §1/§4: the duplicated
    subtrees were the per-row cost, not the algorithm)."""
    langs = sorted(LANG_STOPWORDS)
    staged = (
        df.select(*keep, tokens(text_col).alias("__toks"))
        .select(
            *keep,
            F.size("__toks").cast("double").alias("__n"),
            *[
                F.size(
                    F.filter(F.col("__toks"), _stopword_filter(LANG_STOPWORDS[L]))
                )
                .cast("double")
                .alias(f"__h_{L}")
                for L in langs
            ],
        )
        .select(
            *keep,
            *[(F.col(f"__h_{L}") / F.col("__n")).alias(f"s_{L}") for L in langs],
        )
    )
    scores = {L: F.col(f"s_{L}") for L in langs}
    return staged.select(
        *keep,
        lang_id_fold(scores).alias("pred_lang"),
        *[F.col(f"s_{L}") for L in langs],
    )


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------


def quality_score(text: Column | str) -> dict[str, Column]:
    """Deterministic quality facets + a weighted composite in [0,1]:
    - stop_ratio: English-stopword density (fluency proxy)
    - uniq_ratio: type-token ratio (repetition proxy)
    - len_score:  min(n_tokens,100)/100 (enough-content proxy)
    Composite = 0.4*stop + 0.3*uniq + 0.3*len with fixed association.
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    n = F.size(toks).cast("double")
    en = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    stop_ratio = F.size(F.filter(toks, lambda t: F.array_contains(en, t))).cast("double") / n
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    len_score = F.least(F.size(toks).cast("double"), F.lit(100.0)) / F.lit(100.0)
    composite = (
        stop_ratio * F.lit(0.4) + uniq_ratio * F.lit(0.3) + len_score * F.lit(0.3)
    )
    return {
        "stop_ratio": stop_ratio,
        "uniq_ratio": uniq_ratio,
        "len_score": len_score,
        "quality": composite,
    }


# ---------------------------------------------------------------------------
# fingerprinting
# ---------------------------------------------------------------------------


def winnow_fingerprint(toks: Column, n: int = 3, mod: int = 8) -> dict[str, Column]:
    """Winnowing-style fingerprint: hash every word n-gram, keep hashes
    ≡ 0 (mod ``mod``) — a deterministic ~1/mod sample stable under
    content shifts (the rolling-hash document-fingerprint scheme).
    Returns selected-count and min selected hash (NULL if none)."""
    sh = shingles(toks, n)
    hashes = F.transform(sh, md5_long)
    sel = F.filter(hashes, lambda h: h % mod == 0)
    return {
        "n_shingles": F.size(sh).cast("long"),
        "n_selected": F.size(sel).cast("long"),
        "min_fingerprint": F.array_min(sel),
    }


def simhash_from_hashes(hashes: Column, bits: int = 16) -> Column:
    """SimHash from a pre-computed token-hash array column. Project the
    hash array first (``withColumn("hs", transform(tokens, md5_long))``)
    so md5 runs once, not once per bit-fold — the 16 aggregate
    expressions here reference the materialized column."""
    total = F.lit(0).cast("long")

    def bit_folder(j: int):
        # pyspark inspects lambda arity, so bind j via closure not default arg
        return lambda acc, x: acc + (
            F.shiftright(x, j).bitwiseAND(F.lit(1)) * F.lit(2) - F.lit(1)
        )

    for j in range(bits):
        s = F.aggregate(hashes, F.lit(0).cast("long"), bit_folder(j))
        total = total + F.when(s > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return total
