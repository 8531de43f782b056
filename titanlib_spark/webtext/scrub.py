"""PII + toxicity scrubbing — byte-deterministic text rewrite.

North-star requirement: "compiled-regex PII (email/phone/IP) and
toxicity-lexicon scrubbing rewrites text", with *byte-identical* output per
url. The rewrite is a pure function of the text: a fixed, ordered list of
compiled regexes (email -> ip -> phone -> toxicity) applied via an
Arrow-vectorized pandas UDF, so the executor-side semantics are the exact
python `re` semantics of :func:`reference_scrub` (which tests use as the
oracle). Scrubbing never changes the keep/drop verdict (SURVEY.md §2.4).

The patterns are compiled once per executor process at module import —
the pandas UDF body only calls pre-compiled ``pattern.sub``.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from titanlib_spark.webtext.lexicon import TOXICITY_LEXICON

# Deterministic scrub order. Email first (an email contains no spaces, so
# later patterns can't match inside its replacement token); IP before phone
# so dotted quads aren't half-eaten by the phone rule.
PII_PATTERNS: list[tuple[re.Pattern, str]] = [
    (re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"), "[EMAIL]"),
    (re.compile(r"\b(?:\d{1,3}\.){3}\d{1,3}\b"), "[IP]"),
    (re.compile(r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"), "[PHONE]"),
]
TOX_PATTERN = re.compile(r"\b(?:" + "|".join(TOXICITY_LEXICON) + r")\b", re.IGNORECASE)


def reference_scrub(text: str | None) -> str | None:
    """The scrub rule as a plain python function (test oracle)."""
    if text is None:
        return None
    out = text
    for pat, repl in PII_PATTERNS:
        out = pat.sub(repl, out)
    return TOX_PATTERN.sub("[TOX]", out)


@F.pandas_udf(T.StringType())
def _scrub_udf(text: pd.Series) -> pd.Series:
    out = text
    for pat, repl in PII_PATTERNS:
        out = out.str.replace(pat, repl, regex=True)
    return out.str.replace(TOX_PATTERN, "[TOX]", regex=True)


def scrub_text(text_col: str | Column = "text") -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return _scrub_udf(c)
