"""Language identification — Arrow-vectorized pandas UDF stage.

Architecture mirrors the north_star's "vectorized pandas/Arrow UDF stage
runs fastText langid": the UDF is the deployment slot for a real fastText
model (loaded once per executor process, batch-predicted per Arrow batch).
fastText isn't available in this container, so the default backend is an
embedded deterministic stopword-profile classifier over the same UDF
plumbing — scores each doc by the fraction of its tokens found in each
language's stopword set (titanlib_spark.webtext.lexicon.STOPWORDS) and
takes the argmax; below `min_score` the verdict is "und".

This is the langid analogue of the reference's climatology lookup
(embedded tables + interpolation, reference src/range_check.cpp:95-143):
a small broadcast-free model fully determined by code.

Returns a struct column (lang: string, score: double).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from titanlib_spark.webtext.lexicon import LANGS, STOPWORDS

_RESULT_TYPE = T.StructType(
    [
        T.StructField("lang", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)

_MIN_SCORE = 0.08

try:  # pragma: no cover - deployment slot, not present in this container
    import fasttext  # noqa: F401

    _HAVE_FASTTEXT = True
except ImportError:
    _HAVE_FASTTEXT = False

_STOPSETS = {lang: frozenset(words) for lang, words in STOPWORDS.items()}


def classify_batch(texts: pd.Series) -> pd.DataFrame:
    """Vectorized stopword-profile classification of a text batch.

    Tokenization: lowercase whitespace split (exploded once for the whole
    batch — pandas does the heavy lifting, no per-row python beyond the
    final argmax)."""
    toks = texts.fillna("").str.lower().str.split()
    exploded = toks.explode()
    n_tok = toks.str.len().replace(0, pd.NA)
    scores = {}
    for lang in LANGS:
        hit = exploded.isin(_STOPSETS[lang])
        scores[lang] = hit.groupby(level=0).sum() / n_tok
    sdf = (
        pd.DataFrame(scores)
        .reindex(texts.index)
        .apply(pd.to_numeric, errors="coerce")
        .fillna(0.0)
    )
    best = sdf.idxmax(axis=1)
    best_score = sdf.max(axis=1)
    lang = best.where(best_score >= _MIN_SCORE, "und")
    return pd.DataFrame({"lang": lang.astype(str), "score": best_score.astype(float)})


@F.pandas_udf(_RESULT_TYPE)
def _langid_udf(text: pd.Series) -> pd.DataFrame:
    if _HAVE_FASTTEXT:  # pragma: no cover - swap-in point for the real model
        raise NotImplementedError(
            "fastText backend slot: load model once per executor, "
            "model.predict(batch) here"
        )
    return classify_batch(text)


def langid(text_col: str | Column = "text") -> Column:
    """struct(lang, score) column for a text column."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return _langid_udf(c)
