"""Character-bigram perplexity scoring + neighborhood outlier rejection.

The SCT analogue named by the north_star ("a batched character/word n-gram
hash + KenLM-style perplexity scorer flags outlier documents"). Two parts:

1. **Scorer** — per-language character-bigram log-probability tables built
   deterministically at import from the embedded lexicon corpus (Laplace
   smoothing over a 30-symbol alphabet). A KenLM deployment swaps the
   table lookup for a real model inside the same Arrow-vectorized UDF.
   Score = mean negative log2 probability per character transition
   (bits/char); random character soup scores ~log2(30) ≈ 4.9, in-domain
   text ~1.5-2.5 — a wide, stable margin.

2. **Outlier check** — the reference SCT decision recast
   (reference src/sct_resistant.cpp:971-1011: score normalized by robust
   neighborhood statistics z = (chi - median) / (IQR + IQR/sqrt(n)), flag
   above threshold; hierarchy global -> outer -> inner from
   src/util.cpp:232-295 becomes host-stats-with-global-fallback here).
   Hosts with fewer than `num_min` scoreable docs fall back to the global
   background instead of being skipped — the accept_isolated decision is
   thereby made *safe* (isolated docs still get QC'd, against the global
   profile). Iterates until no new flags (early stop,
   src/buddy_check.cpp:161-176), flagging all above-threshold docs per
   round (the reference's worst-only-per-centroid is a serialization
   artifact of overlapping neighborhoods; host groups are disjoint, so
   batch rejection per group converges to the same fixpoint).

Plan shape per round (rounds run on :func:`titanlib_spark.flags.iterate_flags`,
which takes a lazy checkpoint and one count between rounds): exact
percentiles over the GOOD scored rows, from one groupBy(host) over the
non-NULL hosts and one keyless global aggregate (map-side partial both);
the host stats join back on the host (broadcast while small, a shuffle
join beyond) and the one global row attaches by a broadcast nested-loop
join. No row-explosion joins, no Python in the loop (the scorer UDF runs
once, before it).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from titanlib_spark.flags import (
    BAD,
    GOOD,
    apply_check_flags,
    ensure_flags,
    iterate_flags,
)
from titanlib_spark.webtext.lexicon import CONTENT_WORDS, LANGS, STOPWORDS

_ALPHABET = "abcdefghijklmnopqrstuvwxyz .\n?"  # '?' = out-of-alphabet bucket
_A = len(_ALPHABET)
_CHAR_IDX = np.full(256, _ALPHABET.index("?"), dtype=np.int64)
for _i, _c in enumerate(_ALPHABET):
    _CHAR_IDX[ord(_c)] = _i


def _train_table(corpus: str) -> np.ndarray:
    """Laplace-smoothed bigram -log2 P(next|prev) table, shape (A, A)."""
    idx = _CHAR_IDX[np.frombuffer(corpus.encode("latin-1", "replace"), dtype=np.uint8)]
    counts = np.ones((_A, _A), dtype=np.float64)  # add-one smoothing
    np.add.at(counts, (idx[:-1], idx[1:]), 1.0)
    probs = counts / counts.sum(axis=1, keepdims=True)
    return -np.log2(probs)


def _corpus(lang: str) -> str:
    words = list(STOPWORDS[lang]) + list(CONTENT_WORDS[lang])
    # repeat to weight transitions like running text; deterministic order
    line = " ".join(words) + ".\n"
    return line * 4


_TABLES: dict[str, np.ndarray] = {lang: _train_table(_corpus(lang)) for lang in LANGS}


def score_batch(texts: pd.Series, langs: pd.Series) -> pd.Series:
    """bits/char bigram cross-entropy of each doc under its language table
    (unknown language -> English table)."""
    out = np.full(len(texts), np.nan)
    tvals = texts.to_numpy(dtype=object)
    lvals = langs.to_numpy(dtype=object)
    for i in range(len(tvals)):
        t = tvals[i]
        if t is None or not isinstance(t, str) or len(t) < 2:
            continue
        table = _TABLES.get(lvals[i], _TABLES["en"])
        idx = _CHAR_IDX[
            np.frombuffer(t.lower().encode("latin-1", "replace"), dtype=np.uint8)
        ]
        out[i] = table[idx[:-1], idx[1:]].mean()
    return pd.Series(out, index=texts.index)


@F.pandas_udf(T.DoubleType())
def _ppl_udf(text: pd.Series, lang: pd.Series) -> pd.Series:
    return score_batch(text, lang)


def perplexity(text_col: str | Column = "text",
               lang_col: str | Column = "pred_lang") -> Column:
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    lg = F.col(lang_col) if isinstance(lang_col, str) else lang_col
    return _ppl_udf(t, lg)


def perplexity_outlier_check(
    df: DataFrame,
    group_col: str = "host",
    threshold: float = 6.0,
    num_min: int = 10,
    num_iterations: int = 5,
    ppl_col: str = "ppl",
    flag_col: str = "flags",
    valid_max: float | None = None,
    id_col: str = "url",
) -> DataFrame:
    """Flag docs whose perplexity is a robust-z outlier vs their host peers
    (global-background fallback for thin hosts). `ppl_col` must already be
    attached (see :func:`perplexity`); null ppl rows are not candidates
    (they are handled by metadata/range stages).

    `valid_max` is the reference's *valid value band* (fgt/sct_resistant
    value_minv/maxv, reference src/fgt.cpp:875-889: a score inside the
    valid band vouches for the row — it is never a rejection candidate,
    however extreme its z against an unusually tight neighborhood).

    The rounds run on the shared fixpoint loop (:func:`iterate_flags`)
    over a slim (id, group, ppl, flag) projection, so its checkpoints
    never re-serialize the wide page payload (html/text); the rows the
    loop newly flagged join back onto the full frame once at the end."""
    df = ensure_flags(df, flag_col)
    # slim rows are a handful of narrow columns: coalesce to a fraction of
    # the core count so every round launches few, non-trivial tasks
    # (coalesce is narrow — no shuffle). The target is CORES-proportional:
    # reading slim.rdd.getNumPartitions() would force a full driver-side
    # plan pass (rule 32).
    cores = df.sparkSession.sparkContext.defaultParallelism
    slim = df.select(
        F.col(id_col).alias("_pid"),
        F.col(group_col),
        F.col(ppl_col),
        F.col(flag_col),
        F.col(flag_col).alias("_flag0"),  # pre-loop flag -> the delta
    ).coalesce(max(8, cores // 4))
    good = F.when(
        (F.col(flag_col) == GOOD) & F.col(ppl_col).isNotNull(), F.col(ppl_col)
    )

    def robust_stats(prefix: str) -> list[Column]:
        # percentile/count skip non-GOOD rows via when()
        return [
            F.percentile(good, F.lit(0.5)).alias(prefix + "_mu"),
            (
                F.percentile(good, F.lit(0.75)) - F.percentile(good, F.lit(0.25))
            ).alias(prefix + "_iqr"),
            F.count(good).alias(prefix + "_n"),
        ]

    def one_round(slim: DataFrame) -> DataFrame:
        # per-host stats, and the global background over every row (the
        # reference's global->outer hierarchy src/util.cpp:232-295).
        # No broadcast hint on the host stats: host count is unbounded.
        # Over a checkpoint the planner sees no size and plans a sort-merge
        # join, but AQE reads the host stats' real size off their shuffle
        # and broadcasts them while small. NULL-host docs never match:
        # global background.
        hosts = (
            slim.where(F.col(group_col).isNotNull())
            .groupBy(group_col)
            .agg(*robust_stats(""))
        )
        glob = slim.agg(*robust_stats("_g"))
        joined = slim.join(hosts, on=group_col, how="left").join(
            F.broadcast(glob), how="left"
        )
        use_host = F.col("_n") >= int(num_min)
        mu, iqr, n = (
            F.when(use_host, F.col(c)).otherwise(F.col("_g" + c))
            for c in ("_mu", "_iqr", "_n")
        )
        denom = iqr + iqr / F.sqrt(n.cast("double"))
        # degenerate spread (IQR=0): fall back to a fixed floor so wild
        # outliers are still caught (reference clamps scales the same way,
        # e.g. min_horizontal_scale src/sct_resistant.cpp:882-912)
        z = (F.col(ppl_col) - mu) / F.when(denom > 1e-9, denom).otherwise(F.lit(0.25))
        verdict = F.col(ppl_col).isNotNull() & (z > float(threshold))
        if valid_max is not None:
            verdict = verdict & (F.col(ppl_col) > float(valid_max))
        return apply_check_flags(
            joined, F.when(verdict, BAD).otherwise(GOOD), flag_col
        ).select(*slim.columns)

    slim = iterate_flags(slim, one_round, num_iterations, flag_col)
    # join back only the DELTA — rows the loop newly flagged. Outliers are
    # rare by construction, so this side broadcasts at any corpus size and
    # the wide frame never reshuffles (a full verdict join would move the
    # whole payload again).
    delta = slim.where(F.col(flag_col) != F.col("_flag0")).select(
        F.col("_pid"), F.col(flag_col).alias("_ppl_flag")
    )
    out = df.join(
        F.broadcast(delta), on=F.col(id_col) == F.col("_pid"), how="left"
    )
    return out.withColumn(
        flag_col, F.coalesce(F.col("_ppl_flag"), F.col(flag_col))
    ).drop("_pid", "_ppl_flag")
