"""Similarity search over embedding columns (array<float>).

* Brute-force cosine top-k — the exact baseline: one Arrow pass scores
  every row against the query, then a global top-k.
* LSH-bucketed top-k — data-independent scale path: deterministic
  random-hyperplane signatures bucket the corpus; a query probes only its
  own bucket(s) and re-ranks exactly. One shuffle to build buckets
  (reusable across queries); probe is a broadcast-joinable bucket lookup.
* IVF top-k — data-DEPENDENT scale path: a spherical k-means coarse
  quantizer (trained driver-side in numpy on a deterministic sample — no
  MLlib, model is a tiny (k, d) matrix shipped in the plan) assigns each
  row a cell; a query scans only its `nprobe` nearest cells and re-ranks
  exactly. nprobe == n_centroids degrades gracefully to the exact scan,
  which is the exactness property the tests pin.

Every embedding Arrow UDF (top-k scores, pair verify, LSH signatures, IVF
cells) runs on one numpy kernel: `_unpack` reads a batch into a matrix,
`_fold_dot` is the one dot product and `_cosine` the one cosine. The
Column-level `dot`/`norm`/`cosine` stay as the reference the kernel is
tested against bit for bit.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # zero-norm guard: ANSI mode aborts on x/0; a zero vector has no
    # direction, so its similarity is NULL (never passes a >= threshold)
    den = norm(a) * norm(b)
    return F.when(den > 0, dot(a, b) / den)


def _unpack(v: pa.Array, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """One Arrow list<double> batch as an (n, dim) float64 matrix, plus
    the mask of rows that hold a vector. A NULL vector, a vector of any
    other length and a vector with a NULL element are not vectors: their
    row is zeros and masked off, so every result on it is NULL. Arrow
    reads a NULL element as NaN, so element validity comes from the
    child array's validity, not from the values (a NaN element stays a
    vector, as it does for the Column fold). The matrix is column-major,
    so each step of `_fold_dot` reads one contiguous column."""
    off = v.offsets.to_numpy()
    ok = (np.diff(off) == dim) & v.is_valid().to_numpy(zero_copy_only=False)
    idx = off[:-1][ok, None] + np.arange(dim)
    clean = ~v.values.is_null().to_numpy(zero_copy_only=False)[idx].any(axis=1)
    ok[ok] = clean
    A = np.zeros((len(v), dim), order="F")
    A[ok] = v.values.to_numpy(zero_copy_only=False)[idx[clean]]
    return ok, A


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Σᵢ a[..., i]·b[..., i] under numpy broadcasting — row·query,
    row·row and row·matrix (a[:, None, :] against a (k, dim) matrix).
    It adds one dimension at a time, left to right, from 0.0: every
    rounding step is that of the Column fold (aggregate over zip_with)
    and of DuckDB list_inner_product, so the result is bit-identical to
    both (CLAUDE.md rule 21). np.einsum or `@` reassociate the sum."""
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for i in range(a.shape[-1]):
        acc += a[..., i] * b[..., i]
    return acc


def _cosine(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(cosine, mask of non-NULL results) with the Column `cosine()`
    semantics: den = sqrt(a·a)·sqrt(b·b); den == 0 gives NULL, and a NaN
    den gives NaN, because Spark's NaN > 0 is true (rule 7)."""
    den = np.sqrt(_fold_dot(a, a)) * np.sqrt(_fold_dot(b, b))
    live = den != 0
    return _fold_dot(a, b) / np.where(live, den, 1.0), live


def _hyperplanes(dim: int, n_planes: int, n_tables: int, seed: int) -> np.ndarray:
    """(n_tables * n_planes, dim) LSH hyperplanes; table t's planes are
    `standard_normal((n_planes, dim))` drawn from default_rng(seed + t),
    as `__spark_entry__.oracle_sql` draws them for the DuckDB oracles."""
    return np.concatenate(
        [
            np.random.default_rng(seed + t).standard_normal((n_planes, dim))
            for t in range(n_tables)
        ]
    )


def _query_lit(query_vec) -> Column:
    return F.array(*[F.lit(float(x)) for x in query_vec])


def cosine_topk(
    df: DataFrame,
    query_vec,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force top-k by cosine similarity to a constant query.

    The query vector ships inside the UDF closure (tiny model in the
    plan); the scan is ONE Arrow pass of the cosine kernel, then a global
    top-k (orderBy + limit = TakeOrderedAndProject, no full sort). The
    scores are bit-identical to the Column `cosine()` (three interpreted
    aggregate-folds per row: 3.7s at 242k vectors), NULL where it is NULL
    and NaN where it is NaN — a NaN score top-ranks in desc order, as in
    Spark."""
    qv = np.asarray(query_vec, dtype=np.float64)

    @F.arrow_udf("double")
    def _cos_to_query(v: pa.Array) -> pa.Array:
        ok, A = _unpack(v, len(qv))
        cos, live = _cosine(A, qv)
        return pa.array(cos, mask=~(ok & live))

    return (
        df.select(F.col(id_col), _cos_to_query(F.col(vec_col)).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _table_signatures_udf(dim: int, n_planes: int, n_tables: int, seed: int):
    """Arrow UDF computing ALL hyperplane-table signatures in one pass:
    array<long> of length n_tables, bit p of table t set when the row's
    fold dot product with plane p is > 0 — bit-identical to the DuckDB
    oracle. One vectorized pass replaces n_tables*n_planes interpreted
    HOF dot products (~6x on the near-dup query at sf0.1, measured).
    Rows that are not `dim`-vectors get a NULL signature array (explode
    skips them: never candidates)."""
    from pyspark.sql.types import ArrayType, LongType

    # column-major, like the unpacked rows: each fold step reads one
    # contiguous column of the planes
    planes = np.asfortranarray(_hyperplanes(dim, n_planes, n_tables, seed))
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @F.arrow_udf(ArrayType(LongType()))
    def sigs(v: pa.Array) -> pa.Array:
        ok, A = _unpack(v, dim)
        bits = _fold_dot(A[:, None, :], planes) > 0
        s = (bits.reshape(len(v), n_tables, n_planes) * weights).sum(axis=2)
        offsets = pa.array(np.arange(len(v) + 1, dtype=np.int32) * n_tables)
        return pa.ListArray.from_arrays(offsets, pa.array(s.ravel()), mask=pa.array(~ok))

    return sigs


def lsh_candidate_pairs(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    n_tables: int = 8,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    materialize: bool = False,
) -> DataFrame:
    """Deduped candidate pairs (id_a < id_b) colliding in ANY hyperplane
    table — the gate stage of :func:`embedding_near_dup_pairs`, exposed so
    callers can measure prune ratio / recall. Carries ONLY (id, table,
    bucket): the n_tables-way replication never ships the vector payload.
    Rows that are not `dim`-vectors are never candidates.

    Sizing `n_planes` (P) and `n_tables` (L): an unrelated pair collides
    in a table with probability ~0.5^P, so the candidate list holds
    ~L·0.5^P·n²/2 pairs. Keep L·0.5^P ≈ c/n to keep it ~c·n, linear in
    the corpus: the defaults give L·0.5^P = 1.2e-4, ~6e3 candidates at
    1e4 vectors but ~6e7 at 1e6. At 1.01e6 vectors,
    24 planes and 32 tables ran end to end in 31.9 s with gate recall
    0.985 on planted cos-0.97 clones, where 16 planes x 16 tables filled
    the disk (BENCH_SCALING.md).

    `materialize=True` checkpoints the slim (id, table, bucket) frame once
    and returns the candidate list as an EAGER checkpoint, unpersisting
    the keyed blocks before returning: both self-join sides otherwise
    re-run the signature UDF (and everything upstream of `df`) per
    branch."""
    from titanlib_spark.session import spread_small_input

    sig_udf = _table_signatures_udf(dim, n_planes, n_tables, seed)
    # rule 29: a small parquet-backed vector table scans as 1-2 partitions
    # and would serialize the signature UDF onto 1-2 cores; spreading ONLY
    # the UDF input (not the table, which feeds the verify branches too)
    # costs one slim exchange and is a no-op on well-partitioned inputs
    keyed = spread_small_input(df.select(id_col, vec_col)).select(
        F.col(id_col).alias("_id"),
        F.posexplode(sig_udf(F.col(vec_col))).alias("_t", "_sig"),
    )
    if materialize:
        keyed = keyed.localCheckpoint(eager=True)
    a = keyed.withColumnsRenamed({"_id": "id_a"})
    b = keyed.withColumnsRenamed({"_id": "id_b"})
    cands = (
        a.join(b, on=["_t", "_sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if materialize:
        cands = cands.localCheckpoint(eager=True)
        keyed.unpersist()
    return cands


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 0,
    seed: int = 7,
    dim: int | None = None,
    n_tables: int = 1,
) -> DataFrame:
    """All pairs (a < b) with cosine similarity >= threshold — the
    embedding-space near-duplicate detector.

    n_planes = 0 is the exact O(n^2) verifier (self-join); n_planes > 0
    buckets by hyperplane signature and only compares within a bucket.
    `n_tables` > 1 is the standard recall lever: L independent plane sets
    (seed+t), a pair is a candidate if it collides in ANY table
    (recall = 1 - (1 - p^n_planes)^L for per-plane agreement p). Size the
    gate with L·0.5^P ≈ c/n (see :func:`lsh_candidate_pairs`: 24 planes x
    32 tables took 31.9 s at 1.01e6 vectors with gate recall 0.985). Scale
    path: one explode(L) + equi-join on (table, bucket) carrying ONLY
    (id, table, bucket) — vectors are attached to the deduped candidate
    list afterwards, so the L-way replication never ships the embedding
    payload; the exact verify is one Arrow batch of the cosine kernel
    (interpreted per-element lambdas cost ~60x, measured at sf0.1), so
    `cosine_sim` carries the Column `cosine()` bits. A pair the Column
    form scores NULL or NaN (zero, NULL, ragged or NULL-element vectors;
    NaN or inf elements) never passes the threshold.

    Note at loose thresholds (cos ~0.4, theta ~66 deg) hyperplane bits
    agree on ~2/3 of random planes, so the gate prunes weakly; tighten
    with more planes (and more tables for recall) for real near-dup
    thresholds >= 0.8."""
    def _pair_cos(va: pa.Array, vb: pa.Array) -> pa.Array:
        cos, keep = np.zeros(len(va)), np.zeros(len(va), dtype=bool)
        # the Column cosine() scores two vectors of one length, whatever
        # the length, so each length in the batch is unpacked on its own
        for d in np.unique(np.diff(va.offsets.to_numpy())):
            (oa, A), (ob, B) = _unpack(va, d), _unpack(vb, d)
            c, live = _cosine(A, B)
            both = oa & ob
            cos[both], keep[both] = c[both], live[both]
        return pa.array(cos, mask=~keep)

    # the threshold filter reads the UDF's output: nondeterministic keeps
    # the optimizer from evaluating it below the pushed filter AND in the
    # projection (rule 34)
    pair_cos = F.arrow_udf(_pair_cos, "double").asNondeterministic()

    def verified(joined: DataFrame) -> DataFrame:
        sim = F.col("cosine_sim")
        return (
            joined.withColumn("cosine_sim", pair_cos(F.col("_va"), F.col("_vb")))
            .where((sim >= float(threshold)) & ~F.isnan(sim))
            .select("id_a", "id_b", "cosine_sim")
        )

    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    if n_planes > 0:
        if dim is None:
            raise ValueError("dim required when n_planes > 0")
        # materialize=True: the candidate list feeds two vector-attachment
        # joins; lazy, each would re-run the signature UDF + bucket join
        cand = lsh_candidate_pairs(
            df, dim, n_planes, n_tables, seed, vec_col=vec_col,
            id_col=id_col, materialize=True,
        )
        out = verified(cand.join(va, on="id_a").join(vb, on="id_b"))
        out = out.localCheckpoint(eager=True)
        cand.unpersist()
        return out
    return verified(va.join(vb, F.col("id_a") < F.col("id_b")))


def lsh_bucketed_topk(
    df: DataFrame,
    query_vec,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    multiprobe_bits: int = 1,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: probe the query's hyperplane bucket (plus all
    buckets within `multiprobe_bits` bit flips), exact-rerank inside.

    With n_planes=8 the corpus splits into 256 buckets -> the probe scans
    ~ (1 + n_planes·multiprobe) / 256 of the data. Bucket ids are a pure
    function of the row, so a real deployment materializes them once
    (partition column) and gets partition pruning on probes. Rows of
    another length than the query are never candidates."""
    dim = len(query_vec)
    qv = np.asarray(query_vec, dtype=float)
    planes = _hyperplanes(dim, n_planes, 1, seed)
    # the query's own bits come from `planes[p] @ qv`, as in the DuckDB
    # oracle's probe set; only the corpus side must replay the fold
    qbits = int(sum((1 << p) for p in range(n_planes) if planes[p] @ qv > 0))
    # probe set = every bucket within Hamming distance `multiprobe_bits`
    from itertools import combinations

    probes = {qbits}
    for depth in range(1, max(int(multiprobe_bits), 0) + 1):
        for flips in combinations(range(n_planes), depth):
            mask = 0
            for p in flips:
                mask |= 1 << p
            probes.add(qbits ^ mask)

    sig_udf = _table_signatures_udf(dim, n_planes, 1, seed)
    sig = F.element_at(sig_udf(F.col(vec_col)), 1)
    candidates = df.where(sig.isin(*sorted(probes)))
    return cosine_topk(candidates, query_vec, k, vec_col, id_col)


def kmeans_core(X: np.ndarray, n_centroids: int, iters: int, seed: int) -> np.ndarray:
    """Spherical Lloyd iterations on pre-collected raw vectors — shared by
    the Spark trainer and the DuckDB oracle builder so both derive the
    SAME centroids from the same sample bytes. Deterministic: seeded init
    from sample rows, empty clusters keep their previous centroid."""
    X = np.asarray(X, dtype=float)
    if len(X) == 0:
        raise ValueError("no non-null vectors to train the IVF quantizer on")
    norms = np.linalg.norm(X, axis=1)
    X = X[norms > 0] / norms[norms > 0, None]
    k = min(int(n_centroids), len(X))
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=k, replace=False)]
    for _ in range(int(iters)):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    C[c] = m / n
    return C


def train_ivf_centroids(
    df: DataFrame,
    dim: int,
    n_centroids: int = 16,
    sample: int = 10_000,
    iters: int = 10,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Deterministic spherical k-means coarse quantizer for IVF.

    Training data is the `sample` lowest-id rows (TakeOrderedAndProject —
    no full sort, stable under partitioning); Lloyd iterations run
    driver-side in numpy (kmeans_core) on L2-normalized vectors (cosine
    geometry). The model is a (n_centroids, dim) float array — tiny
    enough to ship as plan literals / a broadcast, the same "small model
    inside the plan" pattern as the hyperplane tables. Returns unit-norm
    centroids."""
    rows = (
        df.where(F.col(vec_col).isNotNull())
        .orderBy(F.col(id_col))
        .limit(int(sample))
        .select(vec_col)
        .collect()
    )
    return kmeans_core(
        np.asarray([r[0] for r in rows], dtype=float), n_centroids, iters, seed
    )


def ivf_assign(centroids: np.ndarray, vec_col: str | Column = "embedding") -> Column:
    """Arrow-vectorized cell assignment: argmax cosine against the (tiny)
    centroid matrix. NULL / zero-norm vectors and vectors of another
    length than the centroids get a NULL cell (they are never similarity
    candidates). In a real deployment this column is written once as a
    partition column, so probes get partition pruning."""
    C = np.asarray(centroids, dtype=float)

    @F.arrow_udf("int")
    def _assign(v: pa.Array) -> pa.Array:
        ok, A = _unpack(v, C.shape[1])
        # fold norms and centroid scores replay in DuckDB as
        # list_inner_product, so the argmax cell survives a SQL replay
        # exactly; np.argmax takes the FIRST max, i.e. the lowest cell
        # wins ties — the oracle's tie rule must match
        n = np.sqrt(_fold_dot(A, A))
        ok &= n > 0
        unit = A / np.where(ok, n, 1.0)[:, None]
        cells = np.argmax(_fold_dot(unit[:, None, :], C), axis=1)
        return pa.array(cells.astype(np.int32), mask=~ok)

    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return _assign(v)


def ivf_probe_cells(centroids, query_vec, nprobe: int) -> list[int]:
    """The `nprobe` cells nearest the query by centroid cosine — shared by
    :func:`ivf_topk` and the DuckDB oracle builder so probe selection is
    one piece of code, not two copies to drift."""
    qv = np.asarray(query_vec, dtype=float)
    qn = np.linalg.norm(qv)
    qdots = np.asarray(centroids, dtype=float) @ (qv / qn if qn > 0 else qv)
    nprobe = max(1, min(int(nprobe), len(centroids)))
    return [int(c) for c in np.argsort(-qdots, kind="stable")[:nprobe]]


def ivf_topk(
    df: DataFrame,
    query_vec,
    k: int = 10,
    nprobe: int = 4,
    n_centroids: int = 16,
    sample: int = 10_000,
    iters: int = 10,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: scan only the `nprobe` cells whose centroids
    are nearest the query (by cosine), exact-rerank inside.

    Expected scan fraction ~ nprobe / n_centroids of the corpus (vs the
    LSH variant's fixed 2^-n_planes buckets, which can't adapt to data
    density). nprobe >= n_centroids scans everything — exactly the
    brute-force result, the graceful-degradation property the tests pin.
    Pass `centroids` to reuse a trained quantizer across queries (the
    production shape: train once, assign once, probe many)."""
    qv = np.asarray(query_vec, dtype=float)
    if centroids is None:
        centroids = train_ivf_centroids(
            df, dim=len(qv), n_centroids=n_centroids, sample=sample,
            iters=iters, seed=seed, vec_col=vec_col, id_col=id_col,
        )
    probe_cells = ivf_probe_cells(centroids, query_vec, nprobe)
    cell = ivf_assign(centroids, vec_col)
    candidates = df.where(cell.isin(probe_cells))
    return cosine_topk(candidates, query_vec, k, vec_col, id_col)
