"""Gopher/C4-style quality heuristics — pure Catalyst column expressions.

These are the webtext recast of the reference's range/metadata checks
(range_check: reference src/range_check.cpp:16-46; metadata_check:
src/metadata_check.cpp:5-26): every feature below is a JVM-side expression
(higher-order array functions, regexes) that whole-stage-codegen compiles —
no Python, no shuffle. The bounds check itself reuses the same
flag-if-outside-[min,max] semilattice as the reference.

Features (each as a Column factory over a text column):

* n_chars, n_words           — document size
* mean_word_length           — Gopher rule 3-10 band
* symbol_word_ratio          — '#' and '...' per word (Gopher)
* stopword_ratio             — fraction of normalized tokens in the
                               predicted language's stopword set
                               (language-conditional: the
                               range_check_climatology analogue)
* alpha_word_ratio           — fraction of tokens containing a letter
* dup_line_frac              — fraction of non-unique lines (the
                               intra-document duplicate_check analogue)
* dup_para_frac              — same over blank-line-separated paragraphs
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from titanlib_spark.webtext.lexicon import LANGS, STOPWORDS


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(text: str | Column = "text") -> Column:
    t = F.trim(_col(text))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def clean_tokens(text: str | Column = "text") -> Column:
    """Lowercased alpha-only tokens (punctuation stripped, empties dropped)."""
    toks = tokens(text)
    norm = F.transform(toks, lambda t: F.regexp_replace(F.lower(t), "[^a-z]", ""))
    return F.filter(norm, lambda t: t != "")


def n_words(text: str | Column = "text") -> Column:
    return F.size(tokens(text))


def mean_word_length(text: str | Column = "text") -> Column:
    ct = clean_tokens(text)
    total = F.aggregate(ct, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(ct) > 0, total.cast("double") / F.size(ct))


def symbol_word_ratio(text: str | Column = "text") -> Column:
    t = _col(text)
    hashes = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    ellipses = (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    nw = n_words(text)
    return F.when(nw > 0, (hashes + ellipses).cast("double") / nw)


def _lit_stops(lg: str) -> Column:
    return F.array(*[F.lit(w) for w in STOPWORDS[lg]])


def stopword_ratio(
    text: str | Column = "text",
    lang: str | Column = "pred_lang",
    ct: Column | None = None,
) -> Column:
    """Fraction of clean tokens in the per-language stopword set; the
    language acts as the climatology key (per-lang expected band).

    Physical shape: one per-token membership filter PER LANGUAGE against a
    *literal* stopword array, then a per-row when-chain picks the right
    count. Per-token evaluation of a non-literal array (attribute or
    when-chain) is ~25x slower in Spark's interpreted HOF path — measured
    15.0s vs 0.6s per 20k docs — so the language dispatch must happen on
    the already-aggregated counts, never inside the lambda."""
    ct = ct if ct is not None else clean_tokens(text)
    lc = _col(lang)

    def lang_hits(lg: str) -> Column:
        # NB: factory, not a default-arg lambda — pyspark HOF helpers
        # require exactly-1-arg lambdas
        stops = _lit_stops(lg)
        return F.size(F.filter(ct, lambda t: F.array_contains(stops, t)))

    hits_by_lang = {lg: lang_hits(lg) for lg in LANGS}
    hits = hits_by_lang["en"]
    for lg in LANGS:
        if lg == "en":
            continue
        hits = F.when(lc == lg, hits_by_lang[lg]).otherwise(hits)
    return F.when(F.size(ct) > 0, hits.cast("double") / F.size(ct))


def alpha_word_ratio(text: str | Column = "text") -> Column:
    toks = tokens(text)
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    return F.when(F.size(toks) > 0, alpha.cast("double") / F.size(toks))


def _dup_frac(parts: Column) -> Column:
    return F.when(
        F.size(parts) > 0,
        1.0 - F.size(F.array_distinct(parts)).cast("double") / F.size(parts),
    )


def dup_line_frac(text: str | Column = "text") -> Column:
    return _dup_frac(F.split(_col(text), "\n"))


def dup_para_frac(text: str | Column = "text") -> Column:
    return _dup_frac(F.split(_col(text), "\n\n"))


def is_empty_text(text: str | Column = "text") -> Column:
    t = _col(text)
    return t.isNull() | (F.length(F.trim(t)) == 0)


def with_quality_features(df: DataFrame, text_col: str = "text",
                          lang_col: str = "pred_lang") -> DataFrame:
    """Attach the full feature set.

    Token arrays are hoisted into a first projection so each is computed
    once per row; the feature projection then derives everything from
    those columns (HOF lambdas get no common-subexpression elimination, so
    the hoist is what keeps the regex/tokenize work O(tokens), not
    O(tokens × features))."""
    hoisted = df.withColumns(
        {
            "_toks": tokens(text_col),
            "_ct": clean_tokens(text_col),
        }
    )
    toks, ct = F.col("_toks"), F.col("_ct")
    total_len = F.aggregate(ct, F.lit(0), lambda acc, t: acc + F.length(t))
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    return hoisted.withColumns(
        {
            "n_chars": F.length(F.coalesce(_col(text_col), F.lit(""))),
            "n_words": F.size(toks),
            "mean_word_length": F.when(
                F.size(ct) > 0, total_len.cast("double") / F.size(ct)
            ),
            "symbol_word_ratio": symbol_word_ratio(text_col),
            "stopword_ratio": stopword_ratio(text_col, lang_col, ct=ct),
            "alpha_word_ratio": F.when(
                F.size(toks) > 0, alpha.cast("double") / F.size(toks)
            ),
            "dup_line_frac": dup_line_frac(text_col),
            "dup_para_frac": dup_para_frac(text_col),
        }
    ).drop("_toks", "_ct")
