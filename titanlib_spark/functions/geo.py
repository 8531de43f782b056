"""Geospatial column expressions + the grid-bucketed neighbor join.

Semantics mirror the reference's KDTree (reference src/kdtree.cpp:142-157,
src/util.cpp:65-87): lat/lon are converted to earth-centered (ECEF) x,y,z
with spherical earth radius R=6.37e6 m, and a "radius query" means
**euclidean chord distance in ECEF space <= radius** (reference
src/kdtree.cpp:62-103 uses an R-tree `within_radius` predicate over ECEF
points). We reproduce exactly that metric so neighbor sets match.

The R-tree itself does not distribute; the Spark-native equivalent is:

1. bucket every point into a cubic grid cell of side `cell_size >= radius`
   (three int32 cell coordinates — kept separate to avoid any bigint
   packing overflow at small cell sizes);
2. equi-join query side x data side on cell id, with the query side
   exploded to its 27 adjacent cells (any point within chord distance
   `radius` is guaranteed to fall in one of them);
3. post-filter on exact chord distance.

At scale this is a single shuffle on the cell key; Catalyst/AQE handles
skewed cells (dense clusters) via skew-join splitting, and callers bound
per-neighborhood work with `num_max`-style top-k truncation (the
reference's own skew control, src/sct.cpp:130-146).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS = 6.37e6  # meters — reference src/util.cpp:79


def ecef(lat: Column, lon: Column) -> tuple[Column, Column, Column]:
    """lat/lon degrees -> ECEF x, y, z in meters (double)."""
    latr = F.radians(lat.cast("double"))
    lonr = F.radians(lon.cast("double"))
    x = F.cos(latr) * F.cos(lonr) * F.lit(EARTH_RADIUS)
    y = F.cos(latr) * F.sin(lonr) * F.lit(EARTH_RADIUS)
    z = F.sin(latr) * F.lit(EARTH_RADIUS)
    return x, y, z


def with_ecef(
    df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    prefix: str = "",
    coord_type: str = "geodetic",
) -> DataFrame:
    """Attach x/y/z columns. coord_type='cartesian' mirrors the reference's
    titanlib.Cartesian mode (x=lon, y=lat, z=0, euclidean metric —
    reference src/kdtree.cpp:144-148)."""
    if coord_type == "cartesian":
        x = F.col(lon_col).cast("double")
        y = F.col(lat_col).cast("double")
        z = F.lit(0.0)
    else:
        x, y, z = ecef(F.col(lat_col), F.col(lon_col))
    return (
        df.withColumn(f"{prefix}x", x)
        .withColumn(f"{prefix}y", y)
        .withColumn(f"{prefix}z", z)
    )


def chord_dist_sq(
    x1: Column, y1: Column, z1: Column, x2: Column, y2: Column, z2: Column
) -> Column:
    """Squared euclidean (chord) distance — avoids sqrt in the hot filter.
    Plain multiplications, NOT `** 2`: Column.__pow__ lowers to
    java.lang.Math.pow, which is measurably slower in the join hot loop."""
    dx, dy, dz = x1 - x2, y1 - y2, z1 - z2
    return dx * dx + dy * dy + dz * dz


def great_circle_dist(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """Great-circle distance (reference src/util.cpp:89-112, R=6.378137e6)."""
    lat1r, lon1r = F.radians(lat1), F.radians(lon1)
    lat2r, lon2r = F.radians(lat2), F.radians(lon2)
    ratio = (
        F.cos(lat1r) * F.cos(lon1r) * F.cos(lat2r) * F.cos(lon2r)
        + F.cos(lat1r) * F.sin(lon1r) * F.cos(lat2r) * F.sin(lon2r)
        + F.sin(lat1r) * F.sin(lat2r)
    )
    # clamp for float noise at ratio ~ 1.0 (identical points)
    ratio = F.least(F.greatest(ratio, F.lit(-1.0)), F.lit(1.0))
    return F.acos(ratio) * F.lit(6.378137e6)


def calc_distance_fast(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column,
    coord_type: str = "geodetic",
) -> Column:
    """Equirectangular approximate distance (reference calc_distance_fast,
    src/kdtree.cpp:185-203, R=radius_earth=6.37e6) — the cheap pre-filter
    before exact great-circle math; cartesian mode = plain euclidean."""
    if coord_type == "cartesian":
        dx = lon1 - lon2
        dy = lat1 - lat2
        return F.sqrt(dx * dx + dy * dy)
    lat1r, lat2r = F.radians(lat1), F.radians(lat2)
    lon1r, lon2r = F.radians(lon1), F.radians(lon2)
    cosm = F.cos((lat1r + lat2r) / 2)
    dx2 = cosm * cosm * (lon1r - lon2r) * (lon1r - lon2r)
    dy2 = (lat1r - lat2r) * (lat1r - lat2r)
    return F.lit(EARTH_RADIUS) * F.sqrt(dx2 + dy2)


def _cell_cols(x: Column, y: Column, z: Column, cell_size: float) -> list[Column]:
    return [
        F.floor(x / F.lit(float(cell_size))).cast("int").alias("_cx"),
        F.floor(y / F.lit(float(cell_size))).cast("int").alias("_cy"),
        F.floor(z / F.lit(float(cell_size))).cast("int").alias("_cz"),
    ]


_OFFSETS = [
    (dx, dy, dz) for dx in (-1, 0, 1) for dy in (-1, 0, 1) for dz in (-1, 0, 1)
]


def cell_offsets(half: bool = False) -> Column:
    """Array of (dx, dy, dz) structs: the 27 cells adjacent to a grid cell
    (itself included), or with `half` only (0,0,0) plus the 13
    lexicographically positive offsets (one of +o/-o per pair, for
    symmetric pair generation). Built as one SQL literal — one py4j call
    where a tree of F.struct(F.lit(...)) costs ~100."""
    offs = [(0, 0, 0)] + [o for o in _OFFSETS if o > (0, 0, 0)] if half else _OFFSETS
    return F.expr(
        "array("
        + ", ".join(f"named_struct('dx', {dx}, 'dy', {dy}, 'dz', {dz})" for dx, dy, dz in offs)
        + ")"
    )


def neighbor_pairs(
    df: DataFrame,
    radius,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    payload_cols: tuple[str, ...] = (),
    include_self: bool = False,
    cell_size: float | None = None,
    coord_type: str = "geodetic",
    query_payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """All (i, j) pairs with chord_dist(i, j) <= radius.

    `radius` may be a scalar (meters) or the name of a per-row column on
    the *query* side (reference's length-N radius convention,
    src/buddy_check.cpp:32-41); with a column radius, pass an explicit
    `cell_size >= max(radius)`.

    Returns one row per neighbor pair with columns:
      `id_col` (query point), `n_<id_col>` (neighbor), `dist` (chord,
      meters), plus `n_<c>` for each payload column of the neighbor and
      `q_<c>` for each `query_payload_cols` column of the QUERY row —
      the symmetric join already carries both sides, so asking for the
      query row's own columns here is free, where a join-back of the
      pair table on id would re-shuffle the (huge) pair table twice.

    include_self=False reproduces `get_neighbours(..., include_match=false)`
    which drops neighbors at *exactly* the same ECEF location — not merely
    the same row id (reference src/kdtree.cpp:62-75 `is_not_equal` is a
    coordinate predicate). We therefore exclude pairs with dist == 0 and
    same id; distinct rows at identical coordinates are also excluded by
    the reference, which we mirror by excluding dist == 0 entirely.
    """
    carry_cols = tuple(dict.fromkeys(tuple(payload_cols) + tuple(query_payload_cols)))
    undirected, pts, per_row_radius = undirected_neighbor_pairs(
        df, radius, id_col=id_col, lat_col=lat_col, lon_col=lon_col,
        carry_cols=carry_cols, include_self=include_self,
        cell_size=cell_size, coord_type=coord_type,
    )

    def _direction(qid, nid, r, pside):
        qside = "a" if pside == "b" else "b"
        return F.struct(
            F.col(qid).alias("_q"),
            F.col(nid).alias("_n"),
            F.col(r).alias("_r"),
            *[F.col(f"_p{pside}_{c}").alias(f"n_{c}") for c in payload_cols],
            *[F.col(f"_p{qside}_{c}").alias(f"q_{c}") for c in query_payload_cols],
        )

    mirrored = undirected.select(
        F.col("dist"),
        F.explode(
            F.array(
                _direction("_ida", "_idb", "_ra", "b"),
                _direction("_idb", "_ida", "_rb", "a"),
            )
        ).alias("_d"),
    )
    out = mirrored.select(
        F.col("_d._q").alias(id_col),
        F.col("_d._n").alias(f"n_{id_col}"),
        F.col("dist"),
        F.col("_d._r").alias("_r"),
        *[F.col(f"_d.n_{c}").alias(f"n_{c}") for c in payload_cols],
        *[F.col(f"_d.q_{c}").alias(f"q_{c}") for c in query_payload_cols],
    )
    if per_row_radius:
        out = out.where(F.col("dist") <= F.col("_r"))
    out = out.drop("_r")
    if include_self:
        # the (i, i, 0) self pair the 27-cell join used to produce
        self_rows = pts.select(
            F.col(id_col),
            F.col(id_col).alias(f"n_{id_col}"),
            F.lit(0.0).alias("dist"),
            *[F.col(c).alias(f"n_{c}") for c in payload_cols],
            *[F.col(c).alias(f"q_{c}") for c in query_payload_cols],
        )
        out = out.unionByName(self_rows)
    return out


def undirected_neighbor_pairs(
    df: DataFrame,
    radius,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    carry_cols: tuple[str, ...] = (),
    include_self: bool = False,
    cell_size: float | None = None,
    coord_type: str = "geodetic",
):
    """Each unordered neighbor pair EXACTLY ONCE, both sides' payloads.

    Returns (undirected_df, pts_df, per_row_radius). Columns of the
    undirected frame: `_ida`, `_idb`, `_ra`, `_rb`, `dist`, and
    `_pa_<c>`/`_pb_<c>` for every carry column.

    IMPORTANT performance contract for consumers: apply per-pair filters
    and arithmetic HERE, on the undirected row, and keep whatever you
    explode afterwards down to plain field reads. Filters/expressions over
    post-explode struct fields drop the stage out of the fast path
    (measured 20x on this box). With a per-row radius the undirected
    condition is dist <= max(_ra, _rb): re-gate each direction yourself
    (e.g. null out that direction's value when dist > _r)."""
    per_row_radius = isinstance(radius, str)
    if per_row_radius:
        if cell_size is None:
            raise ValueError("per-row radius requires explicit cell_size")
        rcol = F.col(radius).cast("double")
    else:
        radius = float(radius)
        cell_size = cell_size or radius
        rcol = F.lit(radius)
    if cell_size <= 0:
        raise ValueError("cell_size must be positive")

    pts = with_ecef(df, lat_col, lon_col, coord_type=coord_type)

    # both sides read one frame with the join's not-null filter already
    # applied, so their inputs are identical (behind a key aggregation,
    # one shuffle serves both sides)
    cx, cy, cz = _cell_cols(F.col("x"), F.col("y"), F.col("z"), cell_size)
    located = pts.where(cx.isNotNull() & cy.isNotNull() & cz.isNotNull())

    # Symmetric generation: each unordered pair is found EXACTLY ONCE —
    # same-cell pairs via the (0,0,0) offset with id_a < id_b, cross-cell
    # pairs via the 13 lexicographically-positive offsets (one of +o/-o is
    # in the half-space). The left side explodes to 14 cells instead of 27
    # and both directions are then emitted by a 2-element posexplode of the
    # join OUTPUT (no union, so the join is never recomputed) — this halves
    # the dominant shuffle + probe volume of every spatial operator.
    right = located.select(
        F.col(id_col).alias("_idb"),
        F.col("x").alias("_bx"),
        F.col("y").alias("_by"),
        F.col("z").alias("_bz"),
        rcol.alias("_rb"),
        *[F.col(c).alias(f"_pb_{c}") for c in carry_cols],
        *_cell_cols(F.col("x"), F.col("y"), F.col("z"), cell_size),
    )

    left = (
        located.select(
            F.col(id_col).alias("_ida"),
            F.col("x").alias("_ax"),
            F.col("y").alias("_ay"),
            F.col("z").alias("_az"),
            rcol.alias("_ra"),
            *[F.col(c).alias(f"_pa_{c}") for c in carry_cols],
            *_cell_cols(F.col("x"), F.col("y"), F.col("z"), cell_size),
        )
        .withColumn("_o", F.explode(cell_offsets(half=True)))
        .select(
            "_ida", "_ax", "_ay", "_az", "_ra",
            *[f"_pa_{c}" for c in carry_cols],
            ((F.col("_o.dx") == 0) & (F.col("_o.dy") == 0) & (F.col("_o.dz") == 0)
             ).alias("_same_cell"),
            (F.col("_cx") + F.col("_o.dx")).alias("_cx"),
            (F.col("_cy") + F.col("_o.dy")).alias("_cy"),
            (F.col("_cz") + F.col("_o.dz")).alias("_cz"),
        )
    )

    # the exploded side gets its own shuffle stage, so AQE plans the join
    # on its measured size: estimated behind an aggregate, its 14x explode
    # counts once, and AQE broadcast that side (lapse buddy at 1e5 rows:
    # 2x slower than broadcasting the other side)
    left = left.repartition("_cx", "_cy", "_cz")
    joined = left.join(right, on=["_cx", "_cy", "_cz"])
    dsq = chord_dist_sq(
        F.col("_ax"), F.col("_ay"), F.col("_az"),
        F.col("_bx"), F.col("_by"), F.col("_bz"),
    )
    rmax = (
        F.greatest(F.col("_ra"), F.col("_rb")) if per_row_radius else F.col("_ra")
    )
    cond = (dsq <= rmax * rmax) & (
        ~F.col("_same_cell") | (F.col("_ida") < F.col("_idb"))
    )
    if not include_self:
        cond = cond & (dsq > 0)
    undirected = joined.where(cond).select(
        "_ida", "_idb", "_ra", "_rb", F.sqrt(dsq).alias("dist"),
        *[f"_pa_{c}" for c in carry_cols],
        *[f"_pb_{c}" for c in carry_cols],
    )
    return undirected, pts, per_row_radius


def _neighbor_key_sums(
    df: DataFrame,
    pool: Column,
    radius,
    key_aggs: dict[str, Column],
    contrib,
    pair_cols: tuple[str, ...] = (),
    elev_gate: tuple[str, float] | None = None,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    cell_size: float | None = None,
    coord_type: str = "geodetic",
) -> DataFrame:
    """Per-row sums over each row's radius neighbours among the `pool`
    rows (self and co-located rows excluded) — the one
    neighbour-statistics plan of isolation_check, buddy_check and
    buddy_event_check.

    Grouping key = position (lat, lon) + EVERY column the per-pair math
    reads: the `elev_gate` column, a per-row `radius` column and
    `pair_cols` (a lapse elevation, a per-row event threshold, the
    neighbour's own value when its contribution depends on the query
    row). Rows with equal keys then see the same neighbours with the same
    contributions, so a row's sums are its key's sums. The dsq > 0 rule
    already drops every co-located pair, so keys at one position never
    pair with each other. Dense lattices collapse to one key per
    position; with unique positions each key is one row and the plan is
    the per-point pair join.

    Plan: `key_aggs` ({name: aggregate}) pre-aggregate each key of the
    pool; the key's smallest `id_col` value (ids must be unique) is its
    id in the grid join, which carries the key columns and aggregates as
    plain columns. Keys pair once; the symmetric `elev_gate` (|elev_a -
    elev_b| <= limit, a NULL/NaN elev drops the pair) and `contrib(q, n)`
    run on the UNDIRECTED row (rule 11). `q(c)`/`n(c)` read key column or
    key aggregate `c` of the query/neighbour key; `contrib` returns
    {name: Column} for that direction. With a per-row radius a direction
    past its query key's radius contributes NULL. Both directions explode
    as (query id, its key columns and aggregates, contributions) rows and
    sum per query id; sum skips NULL, so integer contributions give
    integer sums bit-identical to a per-point count. Grouping on the long
    id instead of a key struct keeps struct hashing off the pair rows
    (lapse buddy_event at 1e5 rows: 7.5-8.1 s with a struct key, 5.7-6.5
    s with the long id).

    Returns `df` left-joined on the key with the key's `key_aggs` and one
    sum per `contrib` name; all are NULL for a row whose key has no
    contributing neighbour (a NULL key column matches no key)."""
    per_row_radius = isinstance(radius, str)
    key = list(dict.fromkeys(
        [lat_col, lon_col]
        + ([elev_gate[0]] if elev_gate else [])
        + ([radius] if per_row_radius else [])
        + list(pair_cols)
    ))
    carry = [c for c in key if c != radius] + list(key_aggs)
    keyed = (
        df.where(pool)
        .groupBy(*key)
        .agg(F.min(id_col).alias("_kid"), *[e.alias(n) for n, e in key_aggs.items()])
    )
    und, _, _ = undirected_neighbor_pairs(
        keyed, radius, id_col="_kid", lat_col=lat_col, lon_col=lon_col,
        carry_cols=tuple(carry), include_self=False, cell_size=cell_size,
        coord_type=coord_type,
    )

    def side(s):
        return lambda c: F.col(f"_p{s}_{c}")

    if elev_gate:
        e, limit = elev_gate
        und = und.where(F.abs(side("a")(e) - side("b")(e)) <= float(limit))

    def direction(qs, ns):
        terms = contrib(side(qs), side(ns))
        if per_row_radius:
            within = F.col("dist") <= F.col(f"_r{qs}")
            terms = {k: F.when(within, c) for k, c in terms.items()}
        q = side(qs)
        own = [F.col(f"_r{qs}") if c == radius else q(c) for c in key]
        own += [q(c) for c in key_aggs]
        return F.struct(
            F.col(f"_id{qs}").alias("_q"),
            *[c.alias(n) for c, n in zip(own, [*key, *key_aggs])],
            *[c.alias(k) for k, c in terms.items()],
        ), list(terms)

    (d_ab, names), (d_ba, _) = direction("a", "b"), direction("b", "a")
    # one long id per query key; its key columns and aggregates are the
    # same on every row of the group, so max() just reads them back
    sums = (
        und.select(F.explode(F.array(d_ab, d_ba)).alias("_d"))
        .groupBy(F.col("_d._q"))
        .agg(*[F.max(f"_d.{c}").alias(c) for c in [*key, *key_aggs]],
             *[F.sum(f"_d.{k}").alias(k) for k in names])
        .drop("_q")
    )
    return df.join(sums, on=key, how="left")


def knn_pairs(
    df: DataFrame,
    k: int,
    search_radius: float,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    payload_cols: tuple[str, ...] = (),
    include_self: bool = False,
    coord_type: str = "geodetic",
) -> DataFrame:
    """k nearest neighbors per point among those within `search_radius`.

    The reference's R-tree kNN (src/kdtree.cpp:105-126) is unbounded; a
    distributed engine needs a candidate radius to bound the join. Ties on
    distance break deterministically by neighbor id. Returns pair rows with
    `rank` 1..k.
    """
    from pyspark.sql import Window

    pairs = neighbor_pairs(
        df,
        search_radius,
        id_col=id_col,
        lat_col=lat_col,
        lon_col=lon_col,
        payload_cols=payload_cols,
        include_self=include_self,
        coord_type=coord_type,
    )
    w = Window.partitionBy(id_col).orderBy(F.col("dist").asc(), F.col(f"n_{id_col}").asc())
    return pairs.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _asym_radius_pairs(
    queries: DataFrame,
    corpus: DataFrame,
    radius: float,
    id_col: str,
    payload_cols: tuple[str, ...],
) -> DataFrame:
    """Directed radius join: every (query, corpus) pair within `radius`.
    Both inputs must already carry x/y/z (ECEF). The query side explodes
    to its 27 adjacent cells and is expected to be SMALL (a deficit set) —
    the caller broadcasts it so the corpus never shuffles. Coincident
    points (dist == 0) are excluded, mirroring neighbor_pairs."""
    q = (
        queries.select(
            F.col(id_col),
            F.col("x").alias("_qx"),
            F.col("y").alias("_qy"),
            F.col("z").alias("_qz"),
            *_cell_cols(F.col("x"), F.col("y"), F.col("z"), radius),
        )
        .withColumn("_o", F.explode(cell_offsets()))
        .select(
            id_col, "_qx", "_qy", "_qz",
            (F.col("_cx") + F.col("_o.dx")).alias("_cx"),
            (F.col("_cy") + F.col("_o.dy")).alias("_cy"),
            (F.col("_cz") + F.col("_o.dz")).alias("_cz"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias(f"n_{id_col}"),
        F.col("x").alias("_bx"),
        F.col("y").alias("_by"),
        F.col("z").alias("_bz"),
        *[F.col(p).alias(f"n_{p}") for p in payload_cols],
        *_cell_cols(F.col("x"), F.col("y"), F.col("z"), radius),
    )
    joined = F.broadcast(q).join(c, on=["_cx", "_cy", "_cz"])
    dsq = chord_dist_sq(
        F.col("_qx"), F.col("_qy"), F.col("_qz"),
        F.col("_bx"), F.col("_by"), F.col("_bz"),
    )
    return (
        joined.where((dsq <= F.lit(radius * radius)) & (dsq > 0))
        .select(
            F.col(id_col),
            F.col(f"n_{id_col}"),
            F.sqrt(dsq).alias("dist"),
            *[F.col(f"n_{p}") for p in payload_cols],
        )
    )


def knn_pairs_always_k(
    df: DataFrame,
    k: int,
    search_radius: float,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    payload_cols: tuple[str, ...] = (),
    coord_type: str = "geodetic",
    max_doublings: int = 12,
    rank_round: int | None = None,
) -> DataFrame:
    """k nearest neighbors per point with the reference's ALWAYS-K
    semantics (src/kdtree.cpp:105-126: the R-tree kNN returns k no matter
    how sparse the neighborhood): start from the radius-bounded top-k,
    then re-query only the DEFICIT points (fewer than k in-radius
    neighbors) at doubled radius until every point has k or
    `max_doublings` is exhausted — a driver loop over a shrinking
    frontier (the SCT active-cell pattern). Once a point's ball holds
    >= k candidates, its top-k within the ball IS its global top-k (the
    k-th-nearest distance is <= the ball radius), so results match an
    unbounded kNN exactly.

    `rank_round` ranks on round(dist, n) (ties then break by neighbor
    id) — cross-engine trig ulps can flip raw-distance ties on symmetric
    layouts, so value-oracled queries rank on metre-rounded distance
    (CLAUDE.md rule 10).

    Scale shape: satisfied points never re-enter any join; each round is
    one asymmetric cell join of the (small, broadcast) deficit set
    against the corpus — the corpus is scanned per round but never
    shuffled. 2^12 doublings cover a point-to-anywhere distance ratio of
    4096x; points still deficient after that keep what they found."""
    from pyspark.sql import Window

    dist_key = (
        F.round(F.col("dist"), rank_round) if rank_round is not None
        else F.col("dist")
    )
    w = Window.partitionBy(id_col).orderBy(
        dist_key.asc(), F.col(f"n_{id_col}").asc()
    )
    base = neighbor_pairs(
        df, float(search_radius), id_col=id_col, lat_col=lat_col,
        lon_col=lon_col, payload_cols=payload_cols, coord_type=coord_type,
    )
    results = (
        base.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .localCheckpoint(eager=False)
    )
    corpus = with_ecef(df, lat_col, lon_col, coord_type=coord_type).select(
        F.col(id_col), F.col("x"), F.col("y"), F.col("z"),
        *[F.col(c) for c in payload_cols],
    ).localCheckpoint(eager=False)

    radius = float(search_radius)
    pending: list[DataFrame] = []
    for _ in range(max_doublings):
        counts = results.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
        deficit = (
            corpus.join(counts, on=id_col, how="left")
            .where(F.coalesce(F.col("_n"), F.lit(0)) < int(k))
            .drop("_n")
            .localCheckpoint(eager=False)
        )
        n_def = deficit.count()  # materializes deficit (+ results chain)
        for fr in pending:
            fr.unpersist()
        pending = []
        if n_def == 0:
            break
        radius *= 2.0
        cand = _asym_radius_pairs(deficit, corpus, radius, id_col, payload_cols)
        new_rows = (
            cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= int(k))
        )
        kept = results.join(
            F.broadcast(deficit.select(id_col)), on=id_col, how="left_anti"
        )
        results, old = kept.unionByName(new_rows).localCheckpoint(eager=False), results
        pending = [old, deficit]
    if pending:
        # exhaustion path: the final lazy checkpoint still reads its
        # parents' blocks — materialize it before freeing them (freed
        # localCheckpoint blocks are unrecoverable, lineage is truncated)
        results.count()
        for fr in pending:
            fr.unpersist()
    return results


def interpolate_to_points(
    points_df: DataFrame,
    grid_df: DataFrame,
    value_col: str = "grid_value",
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    out_col: str = "interpolated",
    coord_type: str = "geodetic",
) -> DataFrame:
    """Nearest-neighbor sampling of a gridded field at point locations
    (reference interpolate_to_points, src/util.cpp:118-143: flatten the
    grid, 1-NN lookup per point).

    `grid_df` carries (lat, lon, value_col). Grids are small relative to
    the observation table (a model field, not observations), so the plan
    is a broadcast cross-join + per-point argmin — one pass over the big
    side, no shuffle of it. Ties break on grid order of appearance like
    the reference's strict '<' scan."""
    from pyspark.sql import Window

    g = with_ecef(grid_df, lat_col, lon_col, coord_type=coord_type).select(
        F.col("x").alias("_gx"),
        F.col("y").alias("_gy"),
        F.col("z").alias("_gz"),
        F.col(value_col).alias("_gv"),
        F.monotonically_increasing_id().alias("_gi"),
    )
    p = with_ecef(points_df, lat_col, lon_col, coord_type=coord_type)
    joined = p.join(F.broadcast(g))
    dsq = chord_dist_sq(
        F.col("x"), F.col("y"), F.col("z"), F.col("_gx"), F.col("_gy"), F.col("_gz")
    )
    w = Window.partitionBy(id_col).orderBy(dsq.asc(), F.col("_gi").asc())
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .withColumnRenamed("_gv", out_col)
        .drop("_gx", "_gy", "_gz", "_gi", "_rn", "x", "y", "z")
    )
