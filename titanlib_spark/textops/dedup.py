"""Deduplication family: exact, MinHash+LSH, SimHash, n-gram Jaccard.

MinHash signatures come from ONE row-local Arrow kernel (:func:`minhash_udf`)
that takes a Python gram function — char shingles or word n-grams, each a
few lines that mirror Spark's lower / trim / split semantics — and applies
the md5 -> 60-bit -> Mersenne-31 permutation contract (CLAUDE.md rule 16)
in numpy. SimHash, winnowing and the exact n-gram verifier stay JVM-side
column expressions. The LSH band -> bucket -> pair shape is the standard
shuffle-once candidate generation: at 100 TB the only shuffles are (1)
groupBy on band bucket, (2) the verification join, both on
uniformly-hashed keys (no skew by construction; a pathological bucket is
bounded with a per-bucket cap, the `num_max` neighborhood-truncation idea
from the reference, reference src/sct.cpp:130-146).
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# --- exact -----------------------------------------------------------------

def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    order_cols: tuple[str, ...] = ("doc_id",),
    keep: str = "first",
) -> DataFrame:
    """Keep one representative per exact text; deterministic first-wins by
    `order_cols` (the greedy scan of reference src/duplicate_check.cpp:24-49
    collapsed to a window rank over an exact key).

    Null/empty texts are never duplicates of each other: they partition by
    their own order key (singleton windows), which also keeps the would-be
    null-hash bucket from becoming one giant skewed partition (same
    `_nohash_` pattern as webtext.dedup.is_duplicate)."""
    t = F.col(text_col)
    hashable = t.isNotNull() & (F.length(t) > 0)
    key = F.when(hashable, F.md5(t))
    key = F.coalesce(
        key, F.concat(F.lit("_nohash_"), F.col(order_cols[-1]).cast("string"))
    )
    w = Window.partitionBy(key).orderBy(
        *[F.col(c).asc() if keep == "first" else F.col(c).desc() for c in order_cols]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# --- shingles / minhash ------------------------------------------------------

MERSENNE31 = 2147483647  # 2^31 - 1: keeps a*h+b inside 63 bits on any engine


def md5_hash64(c: Column) -> Column:
    """Cross-engine 60-bit hash: first 15 hex chars of md5 as a bigint.

    Bit-identical in DuckDB via ('0x' || substring(md5(s),1,15))::BIGINT —
    the oracle-parity twin of xxhash64 (which has no DuckDB equivalent)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _minhash_coeffs(num_hashes: int, seed: int = 42):
    """Seeded (a, b) pairs for the k permutation hashes
    h_i(x) = (a_i * (H(x) mod P) + b_i) mod P, P = 2^31-1."""
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE31, size=num_hashes)
    b = rng.integers(0, MERSENNE31, size=num_hashes)
    return a.tolist(), b.tolist()

def let_bound(expr: Column, body) -> Column:
    """Evaluate `expr` ONCE per row and pass the materialized value to
    `body` as a bound variable: element_at(transform(array(expr), body), 1).

    This is the let-binding idiom for higher-order functions: a lambda that
    references an OUTER expression re-evaluates it per element (Spark's
    interpreted HOF path has no common-subexpression elimination —
    CLAUDE.md rule 1), but a lambda VARIABLE is a materialized value.
    Binding a 300-char regexp split this way took word 3-grams from 8.2s
    to 0.5s on the 5k sf0.1 documents in one partition (measured)."""
    return F.element_at(F.transform(F.array(expr), body), 1)


# Java's regex \s, which Spark's split uses, is ASCII-only; Python's \s also
# matches NBSP, U+2003, \x1c-\x1f and more (CLAUDE.md rule 44)
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def char_grams(n: int = 5):
    """Gram function: distinct character n-shingles of lower(text). Python
    slices code points exactly as Spark's substr does; texts shorter than
    n have none."""

    def grams(text: str) -> set[str]:
        low = text.lower()
        return {low[i : i + n] for i in range(len(low) - n + 1)}

    return grams


def word_grams(n: int = 3):
    """Gram function: the distinct word n-grams of :func:`word_ngrams`,
    over the tokens of split(lower(trim(text)), '\\s+'). Spark's trim strips
    only ' ', and its split keeps leading and trailing empty tokens
    (limit -1), so "\\ta b" tokenizes to ["", "a", "b"]."""

    def grams(text: str) -> set[str]:
        toks = _JAVA_WS.split(text.strip(" ").lower())
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    return grams


def minhash_udf(grams, num_hashes: int = 64):
    """The MinHash kernel: a row-local Arrow UDF text -> array<long>.

    `grams` maps a text to its distinct gram set (:func:`char_grams`,
    :func:`word_grams`). Each gram hashes once with Python md5 to the
    60-bit base hash of :func:`md5_hash64` (rule 16); slot i is
    min over grams of (a_i * (h mod P) + b_i) mod P with the seeded
    :func:`_minhash_coeffs`, in vectorized numpy int64 math. The same
    integer arithmetic is DuckDB SQL, so signatures are value-oracled.
    NULL text or no gram gives a NULL signature.

    One Python md5 per gram beats the JVM twins: the gram explode ->
    shuffle -> k min-aggregates took 1.4-1.7x the wall, the row-local
    k-aggregate HOF fold 5.9x (rule 33). Marked nondeterministic so a
    filter on the signature does not evaluate the UDF twice (rule 34)."""
    a_list, b_list = _minhash_coeffs(num_hashes)

    @F.pandas_udf("array<long>")
    def _sig(text: pd.Series) -> pd.Series:
        import numpy as np

        a = np.asarray(a_list, dtype=np.int64)[:, None]
        b = np.asarray(b_list, dtype=np.int64)[:, None]
        out = []
        for t in text.to_numpy(dtype=object):
            gs = grams(t) if isinstance(t, str) else ()
            if not gs:
                out.append(None)
                continue
            h = np.fromiter(
                (
                    int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
                    % MERSENNE31
                    for g in gs
                ),
                dtype=np.int64,
                count=len(gs),
            )
            out.append(((a * h + b) % MERSENNE31).min(axis=1).tolist())
        return pd.Series(out, dtype=object)

    return _sig.asNondeterministic()


def _require_md5(hash_fn: str) -> None:
    if hash_fn != "md5":
        raise ValueError(f"MinHash hashes grams with md5 only, got hash_fn={hash_fn!r}")


def check_bands(num_hashes: int, bands: int) -> None:
    """Reject band sizing that leaves slots out of the bands. With
    num_hashes < bands every band is the EMPTY slice, which all
    signatures share, so every document would silently become a
    candidate of every other."""
    if bands <= 0 or num_hashes <= 0 or num_hashes % bands:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} "
            "(rows per band = num_hashes // bands)"
        )


def _signature_rows(
    df: DataFrame, id_col: str, text_col: str, grams, num_hashes: int, out_col: str
) -> DataFrame:
    """(id_col, out_col) rows for the docs that have a signature."""
    from titanlib_spark.session import spread_small_input

    # the kernel is the map-side hot loop: spread a degenerately
    # partitioned input (single-file scan) across the cores first
    sig = minhash_udf(grams, num_hashes)(F.col(text_col))
    return (
        spread_small_input(df)
        .select(F.col(id_col), sig.alias(out_col))
        .where(F.col(out_col).isNotNull())
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_size: int = 5,
    out_col: str = "minhash",
    id_col: str | None = None,
    hash_fn: str = "md5",
    signatures_only: bool = False,
) -> DataFrame:
    """k-permutation MinHash over char shingles (:func:`minhash_udf` with
    :func:`char_grams`): a row-local select, no shuffle. Empty or
    too-short docs get a NULL signature.

    Returns `df` with `out_col` added, or with `signatures_only=True` just
    (id_col, out_col) rows for docs with >= 1 shingle — the shape LSH
    banding wants. `id_col` defaults to `doc_id`. `hash_fn` must be
    "md5"."""
    _require_md5(hash_fn)
    grams = char_grams(shingle_size)
    if signatures_only:
        return _signature_rows(
            df, id_col or "doc_id", text_col, grams, num_hashes, out_col
        )
    return df.withColumn(out_col, minhash_udf(grams, num_hashes)(F.col(text_col)))


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 16,
    max_bucket: int = 1000,
    materialize: bool = False,
) -> DataFrame:
    """Candidate pairs (a < b) sharing at least one LSH band bucket.

    Signature of length k is cut into `bands` rows-per-band groups; a band's
    bucket key is the raw int-array slice itself — array equality IS slice
    equality, so the grouping is bit-identical to the comma-joined string
    the DuckDB twin groups on, without building 80-byte strings into three
    8M-row shuffles (measured r06 sf10: banded checkpoint 9.0->7.2s, count
    shuffle 2.0->1.4s). Buckets larger than `max_bucket` are dropped FIRST
    via the broadcast anti-join (degenerate content, e.g. boilerplate — the
    reference's num_max truncation applied to LSH).

    Pairs come out of the capped buckets by groupBy bucket -> sorted
    collect_list (every list <= max_bucket by the anti-join, so no
    pathological collect buffer) -> nested-explode i<j enumeration; i<j
    over a sort_array'd list IS a<b by the id type's natural order. One
    shuffle of the capped frame where an a×b self-join needs two: the
    candidate stage ran 16.5 -> 8.3s at 500k docs, identical pair set.
    CAVEAT (CLAUDE.md rule 40): Spark 4 checkpoints carry the
    PRE-checkpoint plan's size ESTIMATE as stats, and the Generate /
    aggregate chain here estimates ~KiB for what can be ~GiB of pairs —
    callers must pin every downstream join over the result explicitly
    (unhinted, the planner broadcasts the pair frame: verify stage 2.4 ->
    13.7s at 15.4M pairs; OOM at scale).

    `materialize=True` checkpoints the banded frame once and returns an
    EAGER checkpoint of the candidate list, unpersisting the banded blocks
    before returning: the banded frame feeds several plan branches (bucket
    counts + the capped pair generation), each of which re-runs the
    banding — and everything upstream of `df` — when left lazy. Use it
    whenever `df` is not already a materialized frame."""
    sig = F.col(sig_col)
    r = (F.size(sig) / bands).cast("int")
    banded = df.where(sig.isNotNull()).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.slice(sig, b * r + 1, r),
            )
        ).alias("band", "bucket"),
    )
    if materialize:
        banded = banded.localCheckpoint(eager=True)
    # bucket-size cap via a BROADCAST anti-join against the OVERSIZED
    # buckets only (was: inner join with the full per-bucket count
    # table, a second full shuffle of banded). Oversized buckets number
    # at most n_rows / max_bucket — 0.1% of banded at the default cap —
    # so the broadcast is bounded by construction at any scale; the
    # count aggregation itself stays map-side-combined (cheap even for a
    # degenerate bucket, unlike a window count, which would buffer the
    # whole pathological bucket in one task)
    counts = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_c"))
    capped = banded.join(
        F.broadcast(counts.where(F.col("_c") > max_bucket).drop("_c")),
        on=["band", "bucket"],
        how="left_anti",
    )
    # nested explodes, not interpreted HOF lambdas: posexplode pins id_a
    # and its position, explode(slice(ids, i+2, ...)) streams the ids
    # after it. A flatten(transform(transform(...))) twin built 500k
    # structs per cap-sized bucket in the interpreter and lost 1.5x to
    # the self-join in the dense regime; the nested explode matches the
    # self-join there (3.5s vs 3.4s, 15.4M pairs at 50k docs) and wins
    # the sparse near-dup regime outright.
    ids = F.col("_ids")
    grouped = (
        capped.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list(id_col)).alias("_ids"))
        .where(F.size(ids) >= 2)
    )
    cands = (
        grouped.select(F.posexplode(ids).alias("_i", "id_a"), ids)
        .select(
            "id_a",
            F.explode(F.slice(ids, F.col("_i") + F.lit(2), F.size(ids))).alias("id_b"),
        )
        .distinct()
    )
    if materialize:
        cands = cands.localCheckpoint(eager=True)
        banded.unpersist()
    return cands


def estimated_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """MinHash Jaccard estimate: fraction of agreeing signature slots."""
    agree = F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda v: v)
    )
    return agree.cast("double") / F.size(sig_a)


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    hash_fn: str = "md5",
) -> DataFrame:
    """Drop near-duplicates: candidates from LSH buckets, verified by the
    MinHash Jaccard estimate, losers = the larger id of each verified pair
    (one pass; transitive chains resolve to the min id because every later
    member pairs with an earlier one through shared buckets or survives to
    the next run — exact connected components are overkill for filter-grade
    dedup and would add an iterative shuffle).

    Materialization (r06): the signature stage otherwise feeds every
    plan branch (the banded consumers + two verify attachments + the
    final anti-join) and re-runs per branch. Signatures are checkpointed
    once, the candidate list is materialized (banded checkpointed inside),
    the loser set — tiny — is checkpointed, and every intermediate block is
    unpersisted before returning: the final anti-join reads only `df` and
    the loser checkpoint (the minhash column was dropped from the result
    anyway, so the survivors never needed the signature lineage)."""
    _require_md5(hash_fn)
    check_bands(num_hashes, bands)
    sigs = minhash_signatures(
        df, text_col, num_hashes, shingle_size, id_col=id_col,
        signatures_only=True,
    ).localCheckpoint(eager=True)
    cands = minhash_lsh_candidates(
        sigs, id_col, "minhash", bands, materialize=True
    )
    # both verify joins pinned sort-merge (rule 40): the candidate
    # checkpoint carries the explode chain's ~KiB estimate, and unhinted
    # the planner would broadcast what can be GiB of pairs
    pairs = (
        cands.hint("merge")
        .join(
            sigs.withColumnsRenamed({id_col: "id_a", "minhash": "sig_a"}), on="id_a"
        )
        .hint("merge")
        .join(sigs.withColumnsRenamed({id_col: "id_b", "minhash": "sig_b"}), on="id_b")
        .where(estimated_jaccard(F.col("sig_a"), F.col("sig_b")) >= threshold)
    )
    losers = (
        pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sigs.unpersist()
    cands.unpersist()
    return df.join(losers, on=id_col, how="left_anti")


# --- simhash -----------------------------------------------------------------

def simhash(text: str | Column = "text", bits: int = 64) -> Column:
    """64-bit SimHash over whitespace tokens, fully JVM-side.

    Each token hashes to 64 bits; bit b of the fingerprint is the sign of
    sum over tokens of (+1 if token bit set else -1). The token-hash array
    is let-bound (see :func:`let_bound`): the 64 per-bit `aggregate` votes
    each reference it, and an unbound reference would re-split and re-hash
    the document 64 times per row in the interpreted HOF path."""
    t = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.lower(F.trim(t)), r"\s+")
    hashes0 = F.transform(toks, lambda w: F.xxhash64(w))

    def fingerprint_of(hashes: Column) -> Column:
        def bit_vote(b: int) -> Column:
            # NB: F.aggregate requires an exactly-2-arg merge lambda, so the
            # loop variable is captured via this factory, not a default arg
            return F.aggregate(
                hashes,
                F.lit(0),
                lambda acc, h: acc
                + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
            )

        sim = F.lit(0).cast("long")
        for b in range(bits):
            sim = sim.bitwiseOR(
                F.when(
                    bit_vote(b) > 0, F.shiftleft(F.lit(1).cast("long"), b)
                ).otherwise(F.lit(0).cast("long"))
            )
        return sim

    return let_bound(hashes0, fingerprint_of)


def simhash_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "simhash",
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Scalable SimHash: explode tokens -> one groupBy with `bits` codegen'd
    conditional sums -> fingerprint assembly. One shuffle on the id; the
    per-bit votes are columnar aggregates (map-side partial agg), ~50x
    faster than the per-row HOF expression of :func:`simhash` and the
    form to use beyond unit scale. Docs with no tokens get fingerprint 0.

    hash_fn="md5" uses the DuckDB-expressible 60-bit md5 token hash (so
    pass bits <= 60) and makes the fingerprint value-oracle-checkable."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    if hash_fn == "md5":
        if bits > 60:
            raise ValueError("md5 mode carries 60 usable bits")
        token_hash = md5_hash64(F.col("_w"))
    else:
        token_hash = F.xxhash64(F.col("_w"))
    from titanlib_spark.session import spread_small_input

    exploded = spread_small_input(df).select(
        F.col(id_col), F.explode(toks).alias("_w")
    ).withColumn("_h", token_hash)
    votes = exploded.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"_b{b}")
            for b in range(bits)
        ]
    )
    fp = F.lit(0).cast("long")
    for b in range(bits):
        fp = fp.bitwiseOR(
            F.when(
                F.col(f"_b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long"))
        )
    sigs = votes.select(F.col(id_col), fp.alias(out_col))
    return df.join(sigs, on=id_col, how="left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.lit(0).cast("long"))
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs by banded SimHash (pigeonhole: any pair
    within `max_hamming <= bands - 1` bits shares at least one exact
    16-bit band), verified by exact Hamming distance."""
    width = 64 // bands
    banded = df.select(
        F.col(id_col),
        F.col(sim_col),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col(sim_col), i * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band", "key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming64(F.col(f"a.{sim_col}"), F.col(f"b.{sim_col}")).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --- n-gram Jaccard ----------------------------------------------------------

def word_ngrams(text: str | Column, n: int = 3) -> Column:
    """Distinct word n-grams. The token array (a regexp split of the whole
    document) is let-bound: referencing it directly from the per-gram
    lambda would re-run the split per gram per element_at (17x slower at
    ~50 words/doc, measured)."""
    t = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.lower(F.trim(t)), r"\s+")

    def grams_of(w: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(w) - (n - 1))
        # element_at accesses, not slice(): slice copies an n-element array
        # per gram in the interpreted HOF path (~3x the cost)
        return F.when(
            F.size(w) >= n,
            F.array_distinct(
                F.transform(
                    idx,
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(w, i + j) for j in range(n)]
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let_bound(toks, grams_of)


def ngram_jaccard_pairs_lsh(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = 1000,
    hash_fn: str = "md5",
    broadcast_candidates: bool = True,
) -> DataFrame:
    """EXACT n-gram Jaccard, but only over MinHash-LSH candidate pairs —
    the 100 TB composition (:func:`ngram_jaccard_pairs` is the unbounded
    exact verifier; common grams fan its self-join out quadratically).

    Plan: minhash over the SAME word n-grams -> banded buckets -> candidate
    pairs (a < b) -> exact verify at DOC granularity: the candidate list
    is bounded (max_bucket), so both gram ARRAYS are attached via two
    broadcast-buildable joins and the intersection is a per-pair codegen'd
    `array_intersect` — gram-level rows are never exploded or shuffled for
    the verify (the old explode/shuffle-join verify cost ~2x this at
    sf0.1). |A ∪ B| by inclusion-exclusion over array sizes (the gram
    arrays are distinct by construction). With bands=16 over 64 hashes the
    gate recalls >99% of pairs at jaccard >= 0.5 (1-(1-s^4)^16).

    Materialization boundaries (each measured at sf1-scale, 50k docs,
    local[32], r06): the signature comes from ONE row-local kernel pass
    (:func:`minhash_udf` with :func:`word_grams`, the tokens of
    :func:`word_ngrams`) instead of gram-checkpoint -> explode -> shuffle
    -> 64 min-aggregates (grams 3.2s + sigs 4.4s -> ~1.5s, and no gram
    shuffle at 100 TB). Gram arrays for the exact verify are computed only
    for the candidate ids (a broadcast semi-join of the bounded candidate
    list back onto the input), so the full-corpus gram arrays are never
    materialized at all. The RESULT is eagerly
    checkpointed so every intermediate block can be unpersisted before
    returning — otherwise each call leaks storage blocks for the life of
    the JVM (a 12x slowdown once dead blocks squeeze execution memory,
    measured). The returned pairs frame is tiny (near-dup pairs at
    `threshold`).

    `broadcast_candidates` hints F.broadcast on the candidate-bounded
    build sides of the verify joins — the checkpointed ancestors carry no
    stats, so AQE cannot discover they are small. Disable it if the
    candidate list itself is huge (very loose threshold over very dirty
    data); the joins then fall back to shuffle joins on the ids.
    `hash_fn` must be "md5"."""
    _require_md5(hash_fn)
    check_bands(num_hashes, bands)
    # no sigs checkpoint: the banded checkpoint inside
    # minhash_lsh_candidates is this plan's ONLY consumer of the signature
    # column, so the kernel pass materializes exactly once there (the
    # ngram path never needs the raw signature again)
    sigs = _signature_rows(df, id_col, text_col, word_grams(n), num_hashes, "minhash")
    # materialize=True: checkpoints banded once inside and returns the
    # bounded candidate list as an eager checkpoint — it fans out to THREE
    # consumers below (the id semi-join + both verify attachments). Every
    # downstream join over the tiny-estimated checkpoint (rule 40) is
    # pinned below — cands/ids broadcast by explicit bounded-side hints,
    # the pair join hinted merge
    cands = minhash_lsh_candidates(
        sigs, id_col, "minhash", bands, max_bucket, materialize=True
    )
    # exact verify on candidate DOCS only: pull the gram arrays for ids in
    # the candidate list (bounded by 2 x |cands|) — the broadcast carries
    # slim ids, the HOF gram expression runs over just those rows
    ids = cands.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).distinct()
    cand_grams = (
        df.join(F.broadcast(ids), on=id_col)
        .select(F.col(id_col), word_ngrams(text_col, n).alias("_g"))
        .localCheckpoint(eager=True)
    )
    maybe_bc = F.broadcast if broadcast_candidates else (lambda d: d)
    # only the SLIM cands frame is ever broadcast: each side's gram array
    # is attached independently (cand_grams streams against the broadcast),
    # and the two candidate-bounded attachments join on the pair key — a
    # shuffle bounded by n_candidates x one array per row. Broadcasting an
    # array-carrying side (the old a_side shape) scaled the broadcast as
    # n_candidates x per-doc gram bytes and could OOM on a dirty corpus.
    a_side = cand_grams.select(
        F.col(id_col).alias("id_a"), F.col("_g").alias("_ga")
    ).join(maybe_bc(cands), on="id_a")
    b_side = cand_grams.select(
        F.col(id_col).alias("id_b"), F.col("_g").alias("_gb")
    ).join(maybe_bc(cands.select("id_b").distinct()), on="id_b")
    # merge hint: both sides inherit the explode-path checkpoint's ~KiB
    # origin estimate (rule 40) and the planner would otherwise broadcast
    # a GRAM-ARRAY-carrying side — the exact n_candidates x per-doc-bytes
    # broadcast this join is structured to avoid. Sort-merge keeps it a
    # shuffle bounded by the candidate list at any scale.
    pair_rows = a_side.hint("merge").join(b_side, on="id_b")
    inter = F.size(F.array_intersect(F.col("_ga"), F.col("_gb")))
    union = F.size(F.col("_ga")) + F.size(F.col("_gb")) - inter
    pairs = (
        pair_rows.withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .localCheckpoint(eager=True)
    )
    cands.unpersist()
    cand_grams.unpersist()
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 n-gram.

    explode -> self-join on the n-gram -> pair intersection counts ->
    |A ∪ B| = |A| + |B| - |A ∩ B|. The join key is the n-gram itself —
    common n-grams fan out, so this exact variant is the *verifier*; at
    scale run it behind minhash_lsh_candidates.

    Set sizes are counted AFTER the explode (window over the id) so the
    gram-generation expression is evaluated exactly once per row."""
    exploded = df.select(
        F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("gram")
    ).withColumn("_sz", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    a, b = exploded.alias("a"), exploded.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a._sz").alias("sz_a"),
            F.col("b._sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --- exact-substring (passage) dedup via robust winnowing --------------------

def token_window_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Positioned w-token window hashes: one slim (id, pos, h) row per
    token position (pos 0-based, windows overlap with stride 1). The
    window string is the space-joined lowercase token run — NOT distinct
    (positions matter for winnowing). hash_fn="md5" uses the 60-bit
    DuckDB-expressible hash. The token array is let-bound (rule 1)."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.split(F.lower(F.trim(t)), r"\s+")

    def windows_of(wd: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(wd) - (w - 1))
        return F.when(
            F.size(wd) >= w,
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", *[F.element_at(wd, i + j) for j in range(w)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    from titanlib_spark.session import spread_small_input

    exploded = spread_small_input(df).select(
        F.col(id_col),
        F.posexplode(let_bound(toks, windows_of)).alias("pos", "_win"),
    )
    h = md5_hash64(F.col("_win")) if hash_fn == "md5" else F.xxhash64(F.col("_win"))
    return exploded.select(F.col(id_col), "pos", h.alias("h"))


def winnowed_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 8,
    k: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Robust winnowing (Schleimer, Wilkerson, Aiken — the MOSS
    fingerprinting scheme) over w-token window hashes: every run of k
    consecutive window hashes selects its minimum (rightmost position on
    ties), and the distinct selections are the document's fingerprints.
    Winnowing theorem: any exact shared token run of >= w + k - 1 tokens
    between two documents is GUARANTEED to share at least one selected
    fingerprint, at ~2/(k+1) selection density — the offset-invariant
    exact-substring dedup gate (docs shorter than w + k - 1 tokens yield
    no fingerprint; size the thresholds to the passage length you must
    catch).

    Plan shape: one explode to slim (id, pos, h) rows, ONE shuffle
    (window partitioned by id), per-start argmin over a k-row frame via
    collect_list + a k-element fold (k is small and the lambda touches
    only its own variables — interpreted-HOF safe). Returns distinct
    (id, fp_pos, fp) rows."""
    hashes = token_window_hashes(df, id_col, text_col, w, hash_fn)
    frame = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, k - 1)
    pairs = F.collect_list(F.struct(F.col("h"), F.col("pos"))).over(frame)
    sel = F.aggregate(
        F.col("_frame"),
        F.struct(
            F.lit((1 << 62) - 1 + (1 << 62)).cast("long").alias("h"),
            F.lit(-1).cast("int").alias("pos"),
        ),
        lambda acc, x: F.when(
            (x["h"] < acc["h"]) | ((x["h"] == acc["h"]) & (x["pos"] > acc["pos"])),
            x,
        ).otherwise(acc),
    )
    return (
        hashes.withColumn("_frame", pairs)
        .where(F.size("_frame") == k)  # only full k-windows select
        .withColumn("_sel", sel)
        .select(
            F.col(id_col),
            F.col("_sel.pos").alias("fp_pos"),
            F.col("_sel.h").alias("fp"),
        )
        .distinct()
    )


def duplicate_passage_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 8,
    k: int = 4,
    min_shared: int = 1,
    max_bucket: int = 1000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Document pairs (id_a < id_b) sharing >= min_shared winnowed
    fingerprints — the exact-substring (copied-passage) dedup gate of the
    training-data pipeline (C4 / Lee et al. exact-substring dedup family,
    recast from suffix arrays to distributed fingerprint buckets).

    n_shared counts DISTINCT shared fingerprint values; a fingerprint
    held by more than `max_bucket` documents is dropped as boilerplate
    (the num_max truncation idea again) so no bucket self-join can go
    quadratic. 60-bit hash collisions are ~2^-60 per pair-window and are
    accepted as gate noise (pair verification, where needed, is an exact
    substring compare on the w-token windows at fp_pos).

    The fingerprint frame is materialized ONCE (localCheckpoint): three
    plan branches consume it (bucket counts + both self-join sides), and
    without the checkpoint Catalyst re-runs the whole explode + window +
    winnow chain per branch (4 scans of the input, seen in .explain).
    The tiny pairs result is checkpointed eagerly so the fingerprint
    blocks can be freed before returning (rule 17)."""
    fps = (
        winnowed_fingerprints(df, id_col, text_col, w, k, hash_fn)
        .select(F.col(id_col), "fp")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # boilerplate cap as a BROADCAST anti-join against the OVERSIZED
    # fingerprints only (rule 37, same shape as the LSH bucket cap): the
    # old inner join with the full <=cap count table shuffled/broadcast a
    # frame that grows with the corpus, while the oversized-key set is
    # bounded by n_fps/max_bucket at any scale and the anti-join keeps
    # the fps side map-side. Row set identical: keep(count <= cap) ==
    # not-drop(count > cap) — every fp has a count.
    counts = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_c"))
    bounded = fps.join(
        F.broadcast(counts.where(F.col("_c") > max_bucket).drop("_c")),
        on="fp",
        how="left_anti",
    )
    a, b = bounded.alias("a"), bounded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .localCheckpoint(eager=True)
    )
    fps.unpersist()
    return pairs
