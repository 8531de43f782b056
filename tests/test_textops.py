"""Training-data ops tests: dedup family, similarity search, text stats,
multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from titanlib_spark.textops.dedup import (
    estimated_jaccard,
    exact_dedup,
    hamming64,
    minhash_lsh_dedup,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from titanlib_spark.textops.multimodal import (
    frame_sample,
    image_features,
    resize_spec,
    synthetic_media,
)
from titanlib_spark.textops.similarity import (
    cosine_topk,
    lsh_bucketed_topk,
)
from titanlib_spark.textops.stats import (
    bpe_ish_token_count,
    fingerprint,
    quality_score,
    token_count,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup
        (2, "the quick brown fox jumps over the lazy dog again and often"),  # near dup
        (3, "completely different content about spark partitions and shuffles"),
        (4, "spark partitions and shuffles require care at scale always"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(docs):
    kept = exact_dedup(docs, "text", order_cols=("doc_id",))
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 0 in ids and 1 not in ids  # first-wins
    assert {2, 3, 4, 5} <= ids


def test_minhash_estimates_jaccard(docs):
    sigs = minhash_signatures(docs, num_hashes=128, shingle_size=5)
    pair = sigs.select(F.col("doc_id"), F.col("minhash")).collect()
    by_id = {r.doc_id: r.minhash for r in pair}
    assert by_id[5] is None  # empty doc -> null signature
    assert by_id[0] == by_id[1]  # identical docs, identical signatures
    est = (
        sigs.where(F.col("doc_id").isin(0, 2))
        .agg(F.collect_list("minhash"))
        .first()[0]
    )
    agree = sum(1 for a, b in zip(est[0], est[1]) if a == b) / len(est[0])
    assert agree > 0.5  # near-dups agree on most slots


def test_minhash_lsh_dedup_drops_near_dups(docs):
    kept = minhash_lsh_dedup(
        docs, id_col="doc_id", text_col="text", threshold=0.8, num_hashes=64, bands=16
    )
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 0 in ids and 1 not in ids  # exact dup removed (larger id loses)
    assert 3 in ids and 4 in ids  # dissimilar docs survive


def test_simhash_hamming(docs, spark):
    h = docs.select("doc_id", simhash("text").alias("sh")).collect()
    by_id = {r.doc_id: r.sh for r in h}
    assert by_id[0] == by_id[1]
    d_near = bin(by_id[0] ^ by_id[2]).count("1")
    d_far = bin(by_id[0] ^ by_id[3]).count("1")
    assert d_near < d_far
    pairs = simhash_near_pairs(
        docs.select("doc_id", simhash("text").alias("simhash")),
        max_hamming=8,
        bands=4,
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in got


def test_ngram_jaccard_pairs(docs):
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert got[(0, 1)] == 1.0
    assert (0, 3) not in got


# Hostile embedding rows next to 50 seeded 8-dim vectors: each kernel
# must read them exactly as the Column-level cosine() does.
_HOSTILE_VECTORS = [
    (100, [0.0] * 8),                       # zero vector -> NULL
    (101, None),                            # NULL vector -> NULL
    (102, [1.0] * 4),                       # ragged -> NULL
    (103, [float("nan")] + [1.0] * 7),      # NaN element -> NaN
    (104, [float("inf")] + [1.0] * 7),      # inf -> NaN (inf/inf)
    (105, [None] + [1.0] * 7),              # NULL element -> NULL
]


def _bits(x: float) -> bytes:
    import struct

    return struct.pack("d", x)


def test_cosine_topk_kernel_bit_identical_to_column_fold(spark):
    """The Arrow cosine kernel must reproduce the Column-level
    aggregate-over-zip_with cosine() BIT for bit (rule 21), including
    Spark's NaN-as-greatest `when(den > 0)` semantics (rule 7: a NaN
    cosine stays NaN and top-ranks; only den == 0 / null / ragged
    vectors and vectors with a NULL element yield NULL)."""
    from titanlib_spark.textops.similarity import _query_lit, cosine, cosine_topk

    rng = np.random.default_rng(11)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(50)]
    rows += _HOSTILE_VECTORS
    df = spark.createDataFrame(rows, "vec_id long, emb_d array<double>")
    q = rng.standard_normal(8).tolist()

    col = {
        r.vec_id: r.cosine_sim
        for r in df.select(
            "vec_id", cosine(F.col("emb_d"), _query_lit(q)).alias("cosine_sim")
        ).collect()
    }
    assert col[105] is None
    arrow = {
        r.vec_id: r.cosine_sim
        for r in cosine_topk(
            df, q, k=len(rows), vec_col="emb_d", id_col="vec_id"
        ).collect()
    }
    for vid, want in col.items():
        got = arrow.get(vid)
        if want is None:
            assert got is None, vid
        else:
            assert got is not None and _bits(want) == _bits(got), (vid, want, got)


def test_embedding_pair_cosine_bit_identical_to_column_fold(spark):
    """The pair verifier scores with the same strict fold as the Column
    cosine(a, b): at threshold -1 every pair with a real cosine is
    emitted with the Column's exact bits, and every pair the Column
    scores NULL or NaN (zero, NULL, ragged, NULL-element, NaN and inf
    rows) is absent."""
    from titanlib_spark.textops.similarity import cosine, embedding_near_dup_pairs

    rng = np.random.default_rng(5)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(12)]
    rows += _HOSTILE_VECTORS
    df = spark.createDataFrame(rows, "vec_id long, emb_d array<double>")

    a = df.select(F.col("vec_id").alias("id_a"), F.col("emb_d").alias("va"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("emb_d").alias("vb"))
    col = {
        (r.id_a, r.id_b): r.c
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("c"))
        .collect()
    }
    got = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in embedding_near_dup_pairs(
            df, threshold=-1.0, vec_col="emb_d"
        ).collect()
    }
    scored = {p for p, c in col.items() if c is not None and not np.isnan(c)}
    assert len(scored) == 66 and len(col) == 153  # 12 clean rows pair up
    assert set(got) == scored
    for pair in scored:
        assert _bits(col[pair]) == _bits(got[pair]), (pair, col[pair], got[pair])


def test_embedding_pair_cosine_evaluated_once(spark):
    """The exact verifier filters on the pair cosine it emits: the Arrow
    UDF must run once per pair, not once below the pushed filter and
    again in the projection (rule 34)."""
    import contextlib
    import io

    from titanlib_spark.textops.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(4).tolist()) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_near_dup_pairs(df, threshold=0.0)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    nodes = [ln for ln in buf.getvalue().splitlines() if "ArrowEvalPython" in ln]
    assert len(nodes) == 1 and "_pair_cos" in nodes[0], buf.getvalue()
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert got and all(a < b for a, b in got)


def test_bad_shape_vectors_never_candidates(spark):
    """Ragged, wrong-dimension, NULL and NULL-element rows get a NULL
    signature or cell: they are never LSH or IVF candidates, never fail
    a task, and leave every clean row's result as it is without them —
    both mixed into a batch of clean rows and as a single-partition batch
    in which every row has the same wrong length (shorter or longer)."""
    from titanlib_spark.textops.similarity import ivf_assign, lsh_candidate_pairs

    rng = np.random.default_rng(17)
    clean = [(i, rng.standard_normal(8).tolist()) for i in range(40)]
    bad = [
        (200, [1.0] * 4),
        (201, [1.0] * 12),
        (202, None),
        (203, [None] + [1.0] * 7),
    ]
    schema = "vec_id long, embedding array<double>"
    good = spark.createDataFrame(clean, schema).coalesce(1)
    mixed = spark.createDataFrame(clean + bad, schema).coalesce(1)
    q = rng.standard_normal(8).tolist()
    C = rng.standard_normal((3, 8))

    def cands(df):
        return set(map(tuple, lsh_candidate_pairs(df, 8, 2, 2).collect()))

    def topk(df):
        return [
            (r.vec_id, r.cosine_sim)
            for r in lsh_bucketed_topk(df, q, k=60, n_planes=2).collect()
        ]

    def cells(df):
        return {
            r.vec_id: r.cell
            for r in df.select("vec_id", ivf_assign(C).alias("cell")).collect()
        }

    want = cands(good)
    assert want and cands(mixed) == want
    assert topk(good) and topk(mixed) == topk(good)
    mixed_cells = cells(mixed)
    assert all(mixed_cells[i] is None for i, _ in bad)
    assert {i: c for i, c in mixed_cells.items() if i < 200} == cells(good)

    for length in (4, 12):
        same = spark.createDataFrame(
            [(i, rng.standard_normal(length).tolist()) for i in range(20)], schema
        ).coalesce(1)
        assert cands(same) == set(), length
        assert topk(same) == [], length
        assert set(cells(same).values()) == {None}, length


def _brute_force_candidates(sigs, bands, max_bucket):
    """Every pair (a < b) sharing a band slice, over the buckets holding
    at most max_bucket docs."""
    from collections import defaultdict
    from itertools import combinations

    buckets = defaultdict(set)
    for doc_id, sig in sigs.items():
        r = len(sig) // bands
        for b in range(bands):
            buckets[(b, tuple(sig[b * r : (b + 1) * r]))].add(doc_id)
    return {
        pair
        for ids in buckets.values()
        if len(ids) <= max_bucket
        for pair in combinations(sorted(ids), 2)
    }


def test_lsh_candidates_match_brute_force(spark):
    """The nested-explode pair generation over sorted collect_list
    buckets emits exactly the pairs a brute-force scan of the collected
    signatures finds, for word-3 and char-5 signatures, including ties
    and the max_bucket cap boundary."""
    from titanlib_spark.textops.dedup import (
        _signature_rows,
        minhash_lsh_candidates,
        minhash_signatures,
        word_grams,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    rows = [(i, base + f"tail{i % 3}") for i in range(12)]  # bucket groups
    rows += [(50 + i, f"unique doc {i} " + " ".join(
        f"u{i}_{j}" for j in range(25))) for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").cache()
    docs.count()

    for kind in ("word3", "char5"):
        if kind == "word3":
            sigs = _signature_rows(docs, "doc_id", "text", word_grams(3), 64, "minhash")
        else:
            sigs = minhash_signatures(
                docs, "text", 64, 5, id_col="doc_id", signatures_only=True
            )
        sigs = sigs.localCheckpoint(eager=True)
        # max_bucket=4 exercises the cap: the 12-doc near-dup family
        # overflows some buckets, which must drop exactly as brute force
        want = _brute_force_candidates(
            {r.doc_id: r.minhash for r in sigs.collect()}, 16, 4
        )
        got = set(
            map(tuple, minhash_lsh_candidates(sigs, "doc_id", "minhash", 16, 4).collect())
        )
        assert want and got == want, kind
        sigs.unpersist()
    docs.unpersist()


def test_ngram_jaccard_lsh_matches_exact_verifier(spark):
    """The LSH-gated pipeline's array-intersect verify must produce
    IDENTICAL jaccard values to the exact explode-join verifier for every
    pair it emits, and recall the planted high-jaccard pairs; docs with
    no shared bucket are absent, empty docs never pair."""
    from titanlib_spark.textops.dedup import ngram_jaccard_pairs_lsh

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows = [(i, base + f"tail{i}") for i in range(6)]          # near-dups
    rows += [(10 + i, f"doc {i} unrelated words " + " ".join(
        f"w{i}_{j}" for j in range(30))) for i in range(4)]    # distinct
    rows.append((99, ""))                                      # empty
    docs = spark.createDataFrame(rows, "doc_id long, text string").cache()
    docs.count()

    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()
    }
    gated = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs_lsh(
            docs, n=3, threshold=0.3, hash_fn="md5"
        ).collect()
    }
    # every gated pair exists in the exact result with the SAME value
    for pair, j in gated.items():
        assert exact[pair] == j, pair
    # the planted near-dup family is recalled (high jaccard -> >99% LSH)
    planted = {p for p, j in exact.items() if j >= 0.8 and max(p) < 6}
    assert planted and planted <= set(gated)
    assert not any(99 in p for p in gated)
    docs.unpersist()


def test_cosine_topk_exact(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    rows.append((4, [0.9, 0.1, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    top = cosine_topk(df, [1.0, 0.0, 0.0, 0.0], k=2).collect()
    assert [r.vec_id for r in top] == [0, 4]
    assert abs(top[0].cosine_sim - 1.0) < 1e-12


def test_lsh_topk_recall(spark):
    rng = np.random.default_rng(3)
    n, d = 2000, 16
    vecs = rng.standard_normal((n, d))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    q = [float(x) for x in vecs[17]]
    exact = [r.vec_id for r in cosine_topk(df, q, k=10).collect()]
    approx = [
        r.vec_id
        for r in lsh_bucketed_topk(df, q, k=10, n_planes=6, multiprobe_bits=1).collect()
    ]
    assert exact[0] == 17 and approx[0] == 17
    # multiprobe LSH should recover a majority of the true top-10
    assert len(set(exact) & set(approx)) >= 5


def test_stats_exprs(docs):
    out = docs.select(
        "doc_id",
        token_count("text").alias("tc"),
        bpe_ish_token_count("text").alias("bc"),
        fingerprint("text").alias("fp"),
        quality_score("text").alias("q"),
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[0].tc == 12
    assert by_id[5].tc == 0
    assert by_id[0].fp == by_id[1].fp
    assert 0.0 <= by_id[0].q <= 1.0
    assert by_id[0].q > by_id[5].q


def test_multimodal_plumbing(spark):
    media = synthetic_media(spark, 30, seed=1).cache()
    assert media.count() == 30
    imgs = media.where(F.col("media_type") == "image")
    # synthetic payloads are random bytes: the fake-decode policy is the
    # explicit opt-in (the default hard-errors, test_undecodable_policies)
    feats = image_features(imgs, out_dim=8, on_undecodable="fake")
    rows = feats.collect()
    assert all(len(r.feature) == 8 for r in rows if r.feature is not None)
    assert all(r.decode_ok is False for r in rows if r.feature is not None)
    # deterministic: same input -> same features
    again = {r.media_id: r.feature
             for r in image_features(imgs, out_dim=8, on_undecodable="fake").collect()}
    for r in rows:
        assert again[r.media_id] == r.feature
    vids = media.where(F.col("media_type") == "video")
    frames = frame_sample(vids, every_s=1.0)
    assert frames.count() >= vids.count()
    spec = resize_spec(imgs.fillna(0, ["width", "height"]), max_side=16).collect()
    assert all(r.target_width <= 16 and r.target_height <= 16 for r in spec)


def test_embedding_lsh_near_dup_recall_and_prune(spark):
    """The realistic near-dup config (threshold 0.95, 16 planes x 16
    tables): the gate must PRUNE (candidates << n^2/2) while recalling
    ~all true near-dup pairs — the round-2 config at threshold 0.4 passed
    ~83% of all pairs and was the O(n^2) join in disguise."""
    from titanlib_spark.textops.similarity import (
        embedding_near_dup_pairs,
        lsh_candidate_pairs,
    )

    rng = np.random.default_rng(123)
    n, dim = 300, 32
    base = rng.standard_normal((n, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, base[i].tolist()) for i in range(n)]
    # plant 30 clones at cos ~0.97 (unit vectors, one component nudged)
    for i in range(0, n, 10):
        v = base[i].copy()
        v[0] += 0.25
        rows.append((i + 1_000_000, v.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(df, threshold=0.95).collect()
    }
    assert len(exact) >= 30  # every planted clone pair is a true near-dup
    lsh = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            df, threshold=0.95, n_planes=16, dim=dim, n_tables=16
        ).collect()
    }
    assert lsh <= exact  # gate + same verify: no false positives
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"recall {recall}"

    n_total = n + 30
    n_cand = lsh_candidate_pairs(df, dim, 16, 16, vec_col="embedding").count()
    all_pairs = n_total * (n_total - 1) // 2
    assert n_cand < all_pairs * 0.05, f"{n_cand} of {all_pairs} — gate not pruning"


def test_real_decoders_byte_for_byte(spark):
    """PPM/BMP/WAV payloads built by hand decode byte-for-byte — the
    decode kernels are real for uncompressed containers, not stubs."""
    import struct

    from titanlib_spark.textops.multimodal import (
        audio_features,
        decode_bmp,
        decode_ppm,
        decode_wav,
        image_features,
    )

    rng = np.random.default_rng(5)
    # --- PPM P6 with a comment line in the header
    w, h = 5, 3
    pix = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    ppm = b"P6\n# comment\n" + f"{w} {h}\n255\n".encode() + pix.tobytes()
    out = decode_ppm(ppm)
    assert out is not None and np.array_equal(out, pix)

    # --- BMP 24-bit bottom-up with row padding (w=3 -> stride 12)
    bw, bh = 3, 2
    bpix = rng.integers(0, 256, (bh, bw, 3), dtype=np.uint8)  # RGB top-down
    stride = (bw * 3 + 3) & ~3
    raster = b""
    for r in range(bh - 1, -1, -1):  # bottom-up
        row = bpix[r][:, ::-1].tobytes()  # BGR
        raster += row + b"\x00" * (stride - len(row))
    bmp = (
        b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, bw, bh, 1, 24, 0, len(raster), 0, 0, 0, 0)
        + raster
    )
    out = decode_bmp(bmp)
    assert out is not None and np.array_equal(out, bpix)

    # --- WAV PCM-16 stereo
    frames = rng.integers(-32768, 32767, (7, 2), dtype=np.int16)
    data = frames.tobytes()
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    decoded = decode_wav(wav)
    assert decoded is not None
    rate, samples = decoded
    assert rate == 8000 and np.array_equal(samples, frames)

    # --- through the Spark path: real PPM rides image_features end-to-end
    df = spark.createDataFrame(
        [(1, "image", bytearray(ppm), w, h, None, None)],
        "media_id long, media_type string, payload binary, width int, "
        "height int, duration_s double, sample_rate int",
    )
    feats = image_features(df, out_dim=3).collect()[0].feature
    bands = np.array_split(pix, 3, axis=0)
    expected = [float(b.mean(dtype=np.float64)) / 255.0 for b in bands]
    assert np.allclose(feats, np.array(expected, dtype=np.float32))

    adf = spark.createDataFrame(
        [(2, "audio", bytearray(wav), None, None, 0.001, 8000)],
        df.schema,
    )
    arow = audio_features(adf).collect()[0]
    assert arow.decoded_rate == 8000 and arow.n_frames == 7
    mono = frames.mean(axis=1)
    assert abs(arow.rms - float(np.sqrt(np.mean(mono**2)))) < 1e-9


def test_decoder_rejects_malformed_containers():
    """Truncated/invalid payloads return None (fall back to the fake
    kernel) instead of mis-decoding — pure python, no Spark."""
    import struct

    from titanlib_spark.textops.multimodal import (
        decode_bmp,
        decode_ppm,
        decode_wav,
    )

    assert decode_ppm(b"P5\n2 2\n255\n" + b"\x00" * 4) is None  # P5 not P6
    assert decode_ppm(b"P6\n2 2\n255\n" + b"\x00" * 5) is None  # short raster
    assert decode_ppm(b"P6\n2 2\n65535\n" + b"\x00" * 24) is None  # 16-bit
    assert decode_ppm(b"random bytes") is None

    assert decode_bmp(b"BM" + b"\x00" * 20) is None  # short header
    bad_bpp = (
        b"BM" + struct.pack("<IHHI", 54, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 8, 0, 0, 0, 0, 0, 0)
    )
    assert decode_bmp(bad_bpp) is None  # 8-bit unsupported

    assert decode_wav(b"RIFFxxxxWAVE") is None  # no chunks
    float_wav = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 3, 1, 8000, 32000, 4, 32)
        + b"data" + struct.pack("<I", 0)
    )
    assert decode_wav(float_wav) is None  # IEEE-float fmt unsupported


def test_undecodable_policies(spark):
    """Fail-loud contract: an undecodable payload under the default policy
    kills the job (no silently-wrong features at 100 TB); "null" emits
    NULL feature + decode_ok=false (range-checkable downstream); a real
    container decodes with decode_ok=true under any policy."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, "image", bytearray(b"\x00garbage-not-a-container"), 4, 4, None, None)],
        "media_id long, media_type string, payload binary, width int, "
        "height int, duration_s double, sample_rate int",
    )
    with _pytest.raises(Exception, match="undecodable image payload"):
        image_features(df, out_dim=2).collect()

    row = image_features(df, out_dim=2, on_undecodable="null").collect()[0]
    assert row.feature is None and row.decode_ok is False

    with _pytest.raises(ValueError, match="on_undecodable"):
        image_features(df, out_dim=2, on_undecodable="bogus")

    # a REAL container keeps decode_ok=true under the default policy
    pix = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    ppm = b"P6\n4 4\n255\n" + pix.tobytes()
    real = spark.createDataFrame(
        [(2, "image", bytearray(ppm), 4, 4, None, None)], df.schema
    )
    r = image_features(real, out_dim=2).collect()[0]
    assert r.decode_ok is True and r.feature is not None

    # NULL payload -> NULL feature, NULL decode_ok (not false: absence,
    # not failure)
    nul = spark.createDataFrame(
        [(3, "image", None, 4, 4, None, None)], df.schema
    )
    rn = image_features(nul, out_dim=2).collect()[0]
    assert rn.feature is None and rn.decode_ok is None


def test_ivf_topk_exact_full_probe_and_recall(spark):
    """IVF coarse-quantizer ANN: (a) probing every cell degrades exactly
    to the brute-force result (the graceful-degradation property), (b) a
    tight-cluster query finds its true neighbors with nprobe=1, (c) NULL
    and zero vectors are never candidates, (d) training is deterministic."""
    from titanlib_spark.textops import (
        cosine_topk,
        ivf_topk,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((4, 16)) * 3
    rows = []
    for i in range(400):
        c = i % 4
        rows.append((i, (centers[c] + rng.standard_normal(16) * 0.05).tolist()))
    rows.append((400, None))          # NULL vector
    rows.append((401, [0.0] * 16))    # zero vector
    df = spark.createDataFrame(rows, "vec_id long, emb array<double>").cache()
    df.count()
    q = (centers[2] + 0.01).tolist()

    kw = dict(n_centroids=8, sample=500, iters=10, seed=7,
              vec_col="emb", id_col="vec_id")
    C = train_ivf_centroids(df, dim=16, **kw)
    C2 = train_ivf_centroids(df, dim=16, **kw)
    assert np.array_equal(C, C2)

    exact = cosine_topk(df, q, k=10, vec_col="emb", id_col="vec_id").collect()
    full = ivf_topk(df, q, k=10, nprobe=8, centroids=C,
                    vec_col="emb", id_col="vec_id").collect()
    assert [(r.vec_id, r.cosine_sim) for r in exact] == [
        (r.vec_id, r.cosine_sim) for r in full
    ]
    assert not any(r.vec_id in (400, 401) for r in full)

    probe1 = ivf_topk(df, q, k=10, nprobe=1, centroids=C,
                      vec_col="emb", id_col="vec_id").collect()
    # 8 centroids over 4 true clusters can SPLIT cluster 2 across cells,
    # so nprobe=1 is approximate by design: assert the ANN contract —
    # every hit is a true cluster-2 member and recall@10 is high.
    assert all(r.vec_id % 4 == 2 for r in probe1)
    overlap = {r.vec_id for r in probe1} & {r.vec_id for r in exact}
    assert len(overlap) >= 5, f"recall@10 too low: {len(overlap)}/10"
    # widening the probe set must recover exactness monotonically
    probe2 = ivf_topk(df, q, k=10, nprobe=2, centroids=C,
                      vec_col="emb", id_col="vec_id").collect()
    assert len({r.vec_id for r in probe2} & {r.vec_id for r in exact}) >= len(overlap)
    df.unpersist()


def test_let_bound_identity_and_hof_fixes(spark):
    """let_bound(expr, body) == body applied to expr, including null rows;
    the rewritten word_ngrams/simhash and the kernel's char_grams must
    equal a naive (unbound) reconstruction on real-ish text."""
    from pyspark.sql import functions as F
    from titanlib_spark.textops.dedup import (
        char_grams, let_bound, simhash, word_ngrams)

    rows = [(1, "The quick brown fox jumps over the lazy dog"),
            (2, "a b"), (3, ""), (4, None),
            (5, "Repeat repeat REPEAT repeat words words"),]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    got = d.select(
        "doc_id",
        let_bound(F.length(F.coalesce("text", F.lit(""))), lambda n: n * 2).alias("dbl"),
        word_ngrams("text", 3).alias("w3"),
        simhash("text").alias("sh"),
    ).orderBy("doc_id").collect()

    # naive reference: same math, python-side
    for r, (i, txt) in zip(got, rows):
        t = (txt or "").strip().lower()
        toks = [w for w in t.split() if w] if t else []
        w3 = list(dict.fromkeys(
            " ".join(toks[j:j + 3]) for j in range(len(toks) - 2)
        )) if len(toks) >= 3 else []
        low = (txt or "").lower()
        c5 = list(dict.fromkeys(
            low[j:j + 5] for j in range(len(low) - 4)
        )) if len(low) >= 5 else []
        assert r.dbl == len(txt or "") * 2
        assert r.w3 == w3, (i, r.w3, w3)
        assert char_grams(5)(txt or "") == set(c5), (i, c5)
    # simhash: non-trivial docs give non-zero fingerprints; empty gives
    # something deterministic (all-bits from zero votes)
    assert got[0].sh != got[4].sh


def test_spread_small_input(spark):
    from titanlib_spark.session import spread_small_input

    tiny = spark.range(100).coalesce(1)
    spread = spread_small_input(tiny)
    assert spread.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    assert spread.count() == 100
    # already-wide inputs pass through untouched (identical plan object)
    wide = spark.range(1000).repartition(spark.sparkContext.defaultParallelism * 2)
    assert spread_small_input(wide) is wide


def test_spread_small_input_sizes_files_through_hadoop(spark, tmp_path, monkeypatch):
    """inputFiles() returns URIs ("dir%20with%20space"), not local paths:
    the sizes come from the Hadoop FileSystem of each URI, so a small
    parquet under such a directory is spread without the rdd probe (a
    full driver-side plan pass, rule 32)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from titanlib_spark.session import spread_small_input

    path = str(tmp_path / "dir with space" / "t.parquet")
    spark.range(50).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert any("%20" in f for f in df.inputFiles())

    def no_rdd(self):
        raise AssertionError("spread_small_input fell back to df.rdd")

    with monkeypatch.context() as m:
        m.setattr(DataFrame, "rdd", property(no_rdd))
        spread = spread_small_input(df)
    assert spread is not df
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert spread.count() == 50


def test_winnowed_passage_dedup_guarantee(spark):
    """Winnowing theorem: an exact shared run of >= w + k - 1 tokens is
    caught regardless of its offset in either document; dissimilar docs
    and sub-threshold docs produce no pairs."""
    from titanlib_spark.textops.dedup import (
        duplicate_passage_pairs, winnowed_fingerprints)

    w, k = 8, 4
    passage = " ".join(f"p{i}" for i in range(w + k - 1))  # 11 tokens
    rows = [
        (1, "alpha start " + passage + " one tail here"),
        (2, "a very different and much longer prefix before " + passage),
        (3, " ".join(f"x{i}" for i in range(40))),        # unrelated
        (4, "short doc only"),                             # < w tokens
        (5, " ".join(f"y{i}" for i in range(9))),          # w <= n < w+k-1
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    fps = winnowed_fingerprints(d, w=w, k=k).cache()
    by_doc = {r.doc_id: r.n for r in
              fps.groupBy("doc_id").count().withColumnRenamed("count", "n").collect()}
    assert 4 not in by_doc                 # no window at all
    assert 5 not in by_doc                 # windows but no full k-frame
    assert by_doc.get(3, 0) > 0

    pairs = {(r.id_a, r.id_b): r.n_shared
             for r in duplicate_passage_pairs(d, w=w, k=k).collect()}
    assert (1, 2) in pairs                 # guaranteed despite offset shift
    assert all(p == (1, 2) for p in pairs), pairs
    fps.unpersist()


def test_winnowing_selection_density(spark):
    """Selection density over random text is ~2/(k+1) of positions (the
    winnowing expected density) — sanity that the k-frame argmin isn't
    selecting everything or nothing."""
    import random

    from titanlib_spark.textops.dedup import token_window_hashes, winnowed_fingerprints

    rng = random.Random(7)
    text = " ".join(f"t{rng.randrange(10**9)}" for _ in range(3000))
    d = spark.createDataFrame([(1, text)], "doc_id long, text string")
    n_pos = token_window_hashes(d, w=8).count()
    n_sel = winnowed_fingerprints(d, w=8, k=4).count()
    frac = n_sel / n_pos
    assert 0.25 < frac < 0.55, frac        # 2/(k+1) = 0.4 expected


def _png_encode(pix: np.ndarray, ctype: int, filters: list[int],
                palette: np.ndarray | None = None) -> bytes:
    """Minimal spec-faithful PNG writer for tests: 8-bit depth, chosen
    color type, a caller-chosen filter per scanline (encoded per the PNG
    spec so decode must invert it exactly)."""
    import struct, zlib

    h, w = pix.shape[:2]
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    flat = pix.reshape(h, w * ch).astype(np.int64)
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int64)
    for y in range(h):
        ft = filters[y % len(filters)]
        cur = flat[y]
        left = np.concatenate([np.zeros(ch, dtype=np.int64), cur[:-ch]])
        upleft = np.concatenate([np.zeros(ch, dtype=np.int64), prev[:-ch]])
        if ft == 0:
            enc = cur
        elif ft == 1:
            enc = (cur - left) % 256
        elif ft == 2:
            enc = (cur - prev) % 256
        elif ft == 3:
            enc = (cur - (left + prev) // 2) % 256
        else:  # paeth
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, upleft))
            enc = (cur - pred) % 256
        raw.append(ft)
        raw += enc.astype(np.uint8).tobytes()
        prev = cur

    def chunk(cid: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + cid + body
                + struct.pack(">I", zlib.crc32(cid + body)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    out += chunk(b"IDAT", zlib.compress(bytes(raw)))
    return out + chunk(b"IEND", b"")


def test_png_decoder_all_filters_and_color_types(spark):
    """The PNG decoder inverts every scanline filter and handles all five
    8-bit color types; invalid/unsupported payloads return None."""
    from titanlib_spark.textops.multimodal import decode_png, image_features

    rng = np.random.default_rng(11)
    h, w = 7, 5
    rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)

    # every filter type exercised (one per row, cycling 0..4)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        out = decode_png(_png_encode(rgb, 2, filters))
        assert out is not None and np.array_equal(out, rgb), filters

    # grayscale -> broadcast to RGB
    gray = rng.integers(0, 256, (h, w), dtype=np.uint8)
    out = decode_png(_png_encode(gray, 0, [4]))
    assert np.array_equal(out, np.repeat(gray[:, :, None], 3, axis=2))

    # RGBA -> alpha dropped
    rgba = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
    out = decode_png(_png_encode(rgba, 6, [1, 2]))
    assert np.array_equal(out, rgba[:, :, :3])

    # gray+alpha -> gray broadcast
    ga = rng.integers(0, 256, (h, w, 2), dtype=np.uint8)
    out = decode_png(_png_encode(ga, 4, [3]))
    assert np.array_equal(out, np.repeat(ga[:, :, :1], 3, axis=2))

    # palette
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (h, w), dtype=np.uint8)
    out = decode_png(_png_encode(idx, 3, [0, 2], palette=pal))
    assert np.array_equal(out, pal[idx])

    # malformed / unsupported -> None, never a wrong decode
    good = _png_encode(rgb, 2, [4])
    assert decode_png(good[: len(good) // 2]) is None          # truncated
    assert decode_png(b"\x89PNG\r\n\x1a\nJUNK") is None        # no chunks
    bad_sig = b"\x88" + good[1:]
    assert decode_png(bad_sig) is None
    interlaced = bytearray(good)
    interlaced[8 + 8 + 12] = 1  # IHDR interlace byte
    assert decode_png(bytes(interlaced)) is None
    deep = bytearray(good)
    deep[8 + 8 + 8] = 16  # IHDR bit depth 16
    assert decode_png(bytes(deep)) is None
    corrupt = bytearray(good)
    # corrupt the zlib stream inside IDAT (after sig+IHDR chunk+len+type)
    corrupt[8 + 25 + 8 + 2] ^= 0xFF
    assert decode_png(bytes(corrupt)) is None

    # end-to-end: PNG payload rides image_features with decode_ok=true
    df = spark.createDataFrame(
        [(1, "image", bytearray(_png_encode(rgb, 2, [0, 1, 2, 3, 4])), w, h,
          None, None)],
        "media_id long, media_type string, payload binary, width int, "
        "height int, duration_s double, sample_rate int",
    )
    row = image_features(df, out_dim=3).collect()[0]
    assert row.decode_ok is True
    bands = np.array_split(rgb, 3, axis=0)
    expected = [float(b.mean(dtype=np.float64)) / 255.0 for b in bands]
    assert np.allclose(row.feature, np.array(expected, dtype=np.float32))


def test_png_hostile_payloads_degrade_to_none():
    """ADVICE r05 hardening: corrupt palette indices, dimension bombs and
    decompression bombs must yield None (decode_ok=false path), never an
    IndexError/OOM crash."""
    import struct
    import zlib

    from titanlib_spark.textops.multimodal import decode_jpeg, decode_png

    rng = np.random.default_rng(5)
    # palette PNG whose indices exceed the PLTE size
    pal = rng.integers(0, 256, (4, 3), dtype=np.uint8)
    idx = np.full((5, 5), 9, dtype=np.uint8)  # index 9 >= 4 entries
    assert decode_png(_png_encode(idx, 3, [0], palette=pal)) is None

    # PNG dimension bomb: ~100-byte payload declaring 65535 x 65535
    def chunk(cid: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + cid + body
                + struct.pack(">I", zlib.crc32(cid + body)))

    ihdr = struct.pack(">IIBBBBB", 65535, 65535, 8, 2, 0, 0, 0)
    bomb = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00" * 64))
            + chunk(b"IEND", b""))
    assert decode_png(bomb) is None

    # PNG decompression bomb: valid small dims, IDAT inflating way past
    # the declared raster — must reject without inflating it all
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    over = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00" * 10_000_000))
            + chunk(b"IEND", b""))
    assert decode_png(over) is None

    # JPEG dimension bomb: SOF0 declaring 65535 x 65535
    from test_jpeg import jpeg_encode_gray

    pix = np.full((8, 8), 50, dtype=np.uint8)
    good = jpeg_encode_gray(pix)
    sof = good.find(b"\xff\xc0")
    bomb_j = bytearray(good)
    bomb_j[sof + 5 : sof + 9] = (65535).to_bytes(2, "big") * 2
    assert decode_jpeg(bytes(bomb_j)) is None
