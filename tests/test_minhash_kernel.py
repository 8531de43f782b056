"""The MinHash kernel (textops.dedup.minhash_udf) and its gram functions.

The word-gram function must tokenize exactly as Spark's
split(lower(trim(t)), '\\s+') does — Java's ASCII-only \\s, leading and
trailing empty tokens kept (CLAUDE.md rule 44). The kernel must reproduce
the signature digests recorded from the JVM explode -> groupBy -> 64
min-aggregate signature path it replaced (minhash_signatures md5 mode,
char-5 shingles and word_ngrams 3-grams) on seeded docs that include
those whitespace edge rows.
"""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from titanlib_spark.textops.dedup import (
    char_grams,
    minhash_signatures,
    minhash_udf,
    word_grams,
    word_ngrams,
)

EDGE_ROWS = [
    "Alpha\u00a0beta gamma delta epsilon",  # NBSP: not a Java \s
    "alpha\u2003beta gamma delta epsilon",  # em space: not a Java \s
    "alpha\x1cbeta gamma delta epsilon",  # \x1c: not a Java \s
    "alpha beta gamma delta epsilon\n",  # trailing \n: split keeps ""
    "\talpha beta gamma delta epsilon",  # leading \t: split keeps ""
    "  padded  beta\x0bgamma\fdelta\r\n ",  # trim strips only ' '
    None,
    "",
    "ab",  # shorter than n
    "one two",
    "ΟΔΟΣ ΣΟΦΙΑ İstanbul STRASSE Straße ǅemal",
]


def _docs(seed: int = 5, n: int = 40):
    rng = random.Random(seed)
    words = ["Tok", "data", "SPARK", "row", "naïve", "café", "x",
             "ΣΙΣ", "a"]
    seps = [" ", "  ", "\t", "\n", "\u00a0", "\u2003", "\x1c", "\r\n", "\x0b"]
    rows = list(enumerate(EDGE_ROWS))
    for i in range(n):
        toks = [rng.choice(words) for _ in range(rng.randint(1, 30))]
        text = "".join(t + rng.choice(seps) for t in toks)
        if rng.random() < 0.5:
            text = text.rstrip()
        rows.append((100 + i, text))
    return rows


# recorded from the JVM explode -> groupBy -> min-aggregate signature path
# (64 hashes, md5 mode) before the kernel replaced it
SIG_DIGESTS = {"char5": "7bf9498047dd3c49", "word3": "8c882ab98242e375"}


def _sig_digest(rows) -> str:
    h = hashlib.sha256()
    for doc_id, sig in sorted(rows):
        h.update(repr((doc_id, sig)).encode())
    return h.hexdigest()[:16]


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.createDataFrame(_docs(), "doc_id long, text string").cache()
    d.count()
    yield d
    d.unpersist()


@pytest.mark.parametrize("n", [1, 3])
def test_word_grams_match_spark_word_ngrams(docs, n):
    live = docs.select("doc_id", "text", word_ngrams("text", n).alias("g")).collect()
    for r in live:
        want = set(r.g or [])
        got = word_grams(n)(r.text) if r.text is not None else set()
        assert got == want, (r.doc_id, r.text, got ^ want)


@pytest.mark.parametrize("kind", sorted(SIG_DIGESTS))
def test_kernel_reproduces_jvm_signatures(docs, kind):
    if kind == "char5":
        sigs = minhash_signatures(docs, "text", 64, 5)
    else:
        sigs = docs.withColumn("minhash", minhash_udf(word_grams(3), 64)(F.col("text")))
    rows = [(r.doc_id, r.minhash) for r in sigs.select("doc_id", "minhash").collect()]
    assert _sig_digest(rows) == SIG_DIGESTS[kind]
    # a NULL signature exactly when the gram set is empty
    grams = char_grams(5) if kind == "char5" else word_grams(3)
    text = dict(_docs())
    for doc_id, sig in rows:
        t = text[doc_id]
        assert (sig is None) == (t is None or not grams(t)), doc_id


def test_band_sizing_and_hash_fn_are_validated(docs):
    from titanlib_spark.streaming.near_dedup import (
        mark_cross_batch_near_dups,
        near_dup_marks_batch,
    )
    from titanlib_spark.textops.dedup import minhash_lsh_dedup, ngram_jaccard_pairs_lsh

    batched = docs.withColumn("batch_id", F.lit(0).cast("long"))
    calls = [
        lambda **kw: minhash_lsh_dedup(docs, **kw),
        lambda **kw: ngram_jaccard_pairs_lsh(docs, **kw),
        lambda **kw: mark_cross_batch_near_dups(docs, key_col="doc_id", **kw),
        lambda **kw: near_dup_marks_batch(batched, **kw),
    ]
    # 8 hashes in 16 bands: every band is the empty slice, which all docs
    # share — it must raise, not mark every doc a near-dup
    for call in calls:
        for num_hashes, bands in [(8, 16), (64, 12), (64, 0)]:
            with pytest.raises(ValueError, match="bands"):
                call(num_hashes=num_hashes, bands=bands)
    for fn in (minhash_lsh_dedup, ngram_jaccard_pairs_lsh, minhash_signatures):
        with pytest.raises(ValueError, match="md5"):
            fn(docs, hash_fn="xxhash64")
