"""Similarity search over embedding columns (array<float>).

* Brute-force cosine top-k — the exact baseline: JVM-side dot product via
  zip_with/aggregate against a broadcast query vector, global top-k.
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
"""

from __future__ import annotations

import numpy as np
import pandas as pd
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


def with_normalized_embedding(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "_unit"
) -> DataFrame:
    v = F.col(vec_col)
    n = norm(v)
    return df.withColumn(
        out_col,
        F.when(n > 0, F.transform(v, lambda x: x / n)),
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
    plan); the scan is ONE Arrow pass, then a global top-k (orderBy +
    limit = TakeOrderedAndProject, no full sort). The score was a
    Column-level `cosine()` — three interpreted aggregate-folds per row
    (~380 lambda evals at dim 64, incl. the query's own norm, which
    ConstantFolding does not fold through a HOF): 3.7s at 242k vectors.
    The Arrow kernel accumulates dot and norm per-dimension in strict
    fold order (rule 21: `acc += A[:, i] * q[i]` over dims in order is
    BIT-identical to the aggregate-over-zip_with fold AND to the DuckDB
    list_inner_product oracle), np.sqrt/np division are the same
    IEEE-754 ops, the den>0 guard mirrors the ANSI-safe `when`, and
    NaN→pd.NA emits real NULLs (rule 22) — ragged/NULL vectors degrade
    to NULL exactly like the null-padded zip_with. A/B: byte-identical
    (cosine_sim bits + ranks) to the Column form on every SF."""
    qv = np.asarray(query_vec, dtype=np.float64)
    d = len(qv)
    qn_acc = 0.0
    for i in range(d):  # strict fold order for the query norm too
        qn_acc += float(qv[i]) * float(qv[i])
    qn = float(np.sqrt(qn_acc))

    @F.pandas_udf("double")
    def _cos_to_query(v: pd.Series) -> pd.Series:
        vals = np.full(len(v), np.nan)
        null = np.ones(len(v), dtype=bool)
        ok = (v.notna() & (v.map(len, na_action="ignore") == d)).to_numpy()
        if ok.any():
            A = np.stack(v[ok].to_numpy()).astype(np.float64)
            dotq = np.zeros(len(A))
            na = np.zeros(len(A))
            for i in range(d):  # strict fold order: (acc + x_i*y_i) per step
                dotq += A[:, i] * qv[i]
                na += A[:, i] * A[:, i]
            den = np.sqrt(na) * qn
            # mirror the Column `when(den > 0, dot/den)` under SPARK
            # comparison semantics: NaN > 0 is TRUE there (rule 7), so a
            # NaN den yields NaN (which top-ranks in desc order), and
            # only den == 0 yields NULL. The explicit FloatingArray mask
            # keeps NaN as NaN instead of astype("Float64")'s NaN->NA.
            keep = (den > 0) | np.isnan(den)
            vals[ok] = np.where(
                keep, dotq / np.where(den != 0, den, 1.0), np.nan
            )
            null[ok] = ~keep
        return pd.Series(pd.arrays.FloatingArray(vals, null))

    return (
        df.select(F.col(id_col), _cos_to_query(F.col(vec_col)).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _table_signatures_udf(dim: int, n_planes: int, n_tables: int, seed: int):
    """Arrow UDF computing ALL hyperplane-table signatures in one pass:
    array<long> of length n_tables. Bit-identical to the DuckDB
    list_reduce oracle: the accumulation loop adds the per-dimension
    products in strict left-to-right order, so every intermediate
    rounding matches the fold.
    One vectorized pass replaces n_tables*n_planes interpreted HOF dot
    products (~6x on the near-dup query at sf0.1, measured). NULL vectors
    get a NULL signature array (explode skips them: never candidates)."""
    from pyspark.sql.types import ArrayType, LongType

    planes = np.stack(
        [
            np.random.default_rng(seed + t).standard_normal((n_planes, dim))
            for t in range(n_tables)
        ]
    )  # (T, P, D)
    pm = planes.transpose(2, 0, 1).reshape(dim, n_tables * n_planes)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def sigs(v: pd.Series) -> pd.Series:
        out = np.full(len(v), None, dtype=object)
        ok = v.notna()
        if ok.any():
            A = np.stack(v[ok].to_numpy())  # (n, D)
            acc = np.zeros((A.shape[0], pm.shape[1]))
            for i in range(dim):  # strict fold order: (acc + x_i*p_i) per step
                acc += A[:, i : i + 1] * pm[i]
            s = ((acc > 0).reshape(-1, n_tables, n_planes) * weights).sum(
                axis=2, dtype=np.int64
            )
            for j, row in zip(np.flatnonzero(ok.to_numpy()), s):
                out[j] = row.tolist()
        return pd.Series(out)

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
    (recall = 1 - (1 - p^n_planes)^L for per-plane agreement p). Scale
    path: one explode(L) + equi-join on (table, bucket) carrying ONLY
    (id, table, bucket) — vectors are attached to the deduped candidate
    list afterwards, so the 8-way replication never ships the embedding
    payload; the exact cosine verify is one Arrow-vectorized batch (the
    per-pair linear algebra is the hot path — interpreted per-element
    lambdas cost ~60x, measured at sf0.1).

    Note at loose thresholds (cos ~0.4, theta ~66 deg) hyperplane bits
    agree on ~2/3 of random planes, so the gate prunes weakly; tighten
    with more planes (and more tables for recall) for real near-dup
    thresholds >= 0.8."""
    @F.pandas_udf("double")
    def _batch_cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        # Zero-norm and NULL vectors yield SQL NULL (never pass a >=
        # threshold), matching the guarded Column-level cosine(): Spark
        # orders NaN above all doubles, so an unguarded 0/0 would make a
        # zero embedding pair with every row it meets.
        if len(va) == 0:
            return pd.Series([], dtype="Float64")
        ok = va.notna() & vb.notna()
        out = np.full(len(va), np.nan)
        if ok.any():
            A = np.stack(va[ok].to_numpy())
            B = np.stack(vb[ok].to_numpy())
            num = np.einsum("ij,ij->i", A, B)
            den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(
                np.einsum("ij,ij->i", B, B)
            )
            out[ok.to_numpy()] = np.where(
                den > 0, num / np.where(den > 0, den, 1.0), np.nan
            )
        # float64 -> nullable Float64 turns NaN into pd.NA -> Spark NULL
        return pd.Series(out).astype("Float64")

    cond = F.col("id_a") < F.col("id_b")
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
        joined = cand.join(va, on="id_a").join(vb, on="id_b")
        verified = (
            joined.withColumn("cosine_sim", _batch_cos(F.col("_va"), F.col("_vb")))
            .where(F.col("cosine_sim") >= float(threshold))
            .select("id_a", "id_b", "cosine_sim")
            .localCheckpoint(eager=True)
        )
        cand.unpersist()
        return verified
    joined = va.join(vb, cond)
    return (
        joined.withColumn("cosine_sim", _batch_cos(F.col("_va"), F.col("_vb")))
        .where(F.col("cosine_sim") >= float(threshold))
        .select("id_a", "id_b", "cosine_sim")
    )


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
    (partition column) and gets partition pruning on probes."""
    dim = len(query_vec)
    qv = np.asarray(query_vec, dtype=float)
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
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

    # one Arrow pass instead of n_planes interpreted HOF dot products;
    # the strict fold-order accumulation keeps the bucket ids bit-identical
    # to the Column-expression signature (and the DuckDB oracle)
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
    centroid matrix. NULL / zero-norm vectors get a NULL cell (they are
    never similarity candidates). In a real deployment this column is
    written once as a partition column, so probes get partition pruning."""
    C = np.asarray(centroids, dtype=float)
    CT = C.T.copy()  # (dim, k)

    @F.pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        out = np.full(len(v), np.nan)
        ok = v.notna()
        if ok.any():
            A = np.stack(v[ok].to_numpy()).astype(float)
            dim = A.shape[1]
            # strict left-to-right folds (CLAUDE.md rule 21): norm and
            # centroid scores accumulate per dimension in index order, so
            # they are bit-identical to DuckDB list_inner_product — the
            # argmax cell survives a SQL replay exactly. np.argmax takes
            # the FIRST max, i.e. lowest cell index wins ties — the
            # oracle's tie rule must match.
            norm2 = np.zeros(A.shape[0])
            for i in range(dim):
                norm2 += A[:, i] * A[:, i]
            n = np.sqrt(norm2)
            good = n > 0
            unit = A / np.where(good, n, 1.0)[:, None]
            acc = np.zeros((A.shape[0], CT.shape[1]))
            for i in range(dim):
                acc += unit[:, i : i + 1] * CT[i]
            cells = np.argmax(acc, axis=1).astype(float)
            cells[~good] = np.nan
            out[ok.to_numpy()] = cells
        # float->nullable Int32: NaN becomes pd.NA -> Spark NULL
        return pd.Series(out).astype("Int32")

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
