"""Buddy check — iterative z-score against spatial-neighbor statistics.

Reference src/buddy_check.cpp:13-180. Per iteration, for each unflagged
row to check: gather unflagged neighbors within `radius` (chord metric,
excluding self), optionally keep only |elev diff| <= max_elev_diff and
lapse-adjust each neighbor value by (elev_i - elev_j) * elev_gradient;
if at least `num_min` buddies remain, compute their mean and POPULATION
variance (boost accumulators' variance is the biased /n estimator),
std_adjusted = sqrt(var + var/n) clamped below by min_std, and flag when
|value - mean| / std_adjusted > threshold. Rows with invalid values are
flagged up-front (src/buddy_check.cpp:64-67). Iterate `num_iterations`
times over the previous iteration's flags snapshot, stopping early when an
iteration flags nothing new (src/buddy_check.cpp:161-176).

Spark plan per iteration: one grid-join shuffle + one groupBy(id)
aggregation (map-side partial agg), then a left join of the per-id stats
back onto the frame — all JVM-side expressions, no Python. The fixpoint
loop is driver-side control flow (flags.iterate_flags): a checkpoint
snapshots the flags and a count tests the fixpoint only between rounds
(a handful of rounds in practice thanks to early stop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from titanlib_spark.flags import (
    BAD,
    GOOD,
    apply_check_flags,
    ensure_flags,
    iterate_flags,
)
from titanlib_spark.functions.geo import undirected_neighbor_pairs
from titanlib_spark.operators.range_check import is_invalid_value


def _position_rollup(
    unflagged: DataFrame,
    radius: float,
    lat_col: str,
    lon_col: str,
    aggs: dict[str, F.Column],
    cell_size: float | None,
    coord_type: str,
):
    """Undirected POSITION-pair frame for scalar-radius, no-lapse buddy
    stats: aggregate the per-point value moments per distinct (lat, lon)
    first, pair up positions (same grid join, p rows instead of n), and
    explode each pair into two (query-position, other-side-aggregates)
    directions. Valid because the dsq > 0 rule already excludes every
    coordinate-identical pair, so each point's buddy set is exactly the
    union of the OTHER in-radius positions' point sets — per-point stats
    are sums of per-position moments (the harness's 40x40 lattice: 150k
    points -> 1,600 positions, ~400M pair rows -> ~25k). Returns the
    exploded frame with struct `_d` = (_q: position struct, one field per
    agg name)."""
    names = list(aggs)
    pos = (
        unflagged.groupBy(lat_col, lon_col)
        .agg(*[expr.alias(f"_pos_{n}") for n, expr in aggs.items()])
        .withColumn("_pid", F.struct(lat_col, lon_col))
    )
    und, _, _ = undirected_neighbor_pairs(
        pos,
        float(radius),
        id_col="_pid",
        lat_col=lat_col,
        lon_col=lon_col,
        carry_cols=tuple(f"_pos_{n}" for n in names),
        include_self=False,
        cell_size=cell_size,
        coord_type=coord_type,
    )
    return und.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("_ida").alias("_q"),
                    *[F.col(f"_pb__pos_{n}").alias(n) for n in names],
                ),
                F.struct(
                    F.col("_idb").alias("_q"),
                    *[F.col(f"_pa__pos_{n}").alias(n) for n in names],
                ),
            )
        ).alias("_d")
    )


def _buddy_stats(
    unflagged: DataFrame,
    radius,
    id_col: str,
    lat_col: str,
    lon_col: str,
    value_col: str,
    elev_col: str | None,
    max_elev_diff: float,
    elev_gradient: float,
    cell_size: float | None,
    coord_type: str = "geodetic",
):
    """Buddy count / mean / population variance (lapse-adjusted).

    Returns (stats_df, join_cols): per-id stats joined on id for the
    per-row-radius / lapse-adjusted cases, per-POSITION stats joined on
    (lat, lon) otherwise (see _position_rollup — the dominant path).
    mean/variance from summed per-position moments reassociate the float
    adds, which Spark's partial aggregation already does nondeterministically
    across partitions; flag margins tolerate it by construction (rule 23
    audit in scripts/buddy_margin_audit.py)."""
    use_elev = elev_col is not None and max_elev_diff > 0
    if not isinstance(radius, str) and not use_elev:
        v = F.col(value_col)
        rolled = _position_rollup(
            unflagged,
            radius,
            lat_col,
            lon_col,
            {"n": F.count(v), "s": F.sum(v), "q": F.sum(v * v)},
            cell_size,
            coord_type,
        )
        agg = rolled.groupBy(F.col("_d._q").alias("_q")).agg(
            F.sum("_d.n").alias("_n_buddies"),
            F.sum("_d.s").alias("_s"),
            F.sum("_d.q").alias("_qq"),
        )
        mean = F.col("_s") / F.col("_n_buddies")
        stats = agg.select(
            "_q.*",
            "_n_buddies",
            mean.alias("_buddy_mean"),
            # population variance from raw moments; clamp the tiny negative
            # fp residue a zero-variance neighborhood can produce (sqrt of
            # it would be NaN downstream)
            F.greatest(
                F.col("_qq") / F.col("_n_buddies") - mean * mean, F.lit(0.0)
            ).alias("_buddy_var"),
        )
        return stats, [lat_col, lon_col]
    mirrored = _mirrored_adj_values(
        unflagged, radius, id_col, lat_col, lon_col, value_col, elev_col,
        max_elev_diff, elev_gradient, cell_size, coord_type,
    )
    return (
        mirrored.groupBy(F.col("_d._q").alias(id_col)).agg(
            F.count("_d._v").alias("_n_buddies"),
            F.avg("_d._v").alias("_buddy_mean"),
            F.var_pop("_d._v").alias("_buddy_var"),
        ),
        [id_col],
    )


def _buddy_event_stats(
    unflagged: DataFrame,
    radius,
    id_col: str,
    lat_col: str,
    lon_col: str,
    value_col: str,
    elev_col: str | None,
    max_elev_diff: float,
    elev_gradient: float,
    event_threshold,
    cell_size: float | None,
    coord_type: str = "geodetic",
) -> DataFrame:
    """Per-id buddy count + count of event buddies (adj value < threshold),
    for buddy_event_check — same undirected plan as _buddy_stats with the
    event bit computed pre-explode.

    `event_threshold` is a scalar or a per-row column name (reference
    length-N vector convention, include/titanlib.h:287-296): the event
    conversion of a neighbor's adjusted value uses the QUERY row's
    threshold (src/buddy_event_check.cpp:100-127), so with a column the
    bit is direction-specific on the undirected pair row.

    Returns (stats_df, join_cols) like _buddy_stats. The position rollup
    applies only when the event bit is a pure function of the neighbor row
    (scalar threshold, no lapse adjustment): both aggregates are then
    integer sums of per-position integer counts — bit-identical."""
    et_is_col = isinstance(event_threshold, str)
    use_elev = elev_col is not None and max_elev_diff > 0
    if not isinstance(radius, str) and not use_elev and not et_is_col:
        v = F.col(value_col)
        rolled = _position_rollup(
            unflagged,
            radius,
            lat_col,
            lon_col,
            {
                "n": F.count(v),
                "e": F.sum((v < F.lit(float(event_threshold))).cast("long")),
            },
            cell_size,
            coord_type,
        )
        stats = (
            rolled.groupBy(F.col("_d._q").alias("_q"))
            .agg(
                F.sum("_d.n").alias("_n_buddies"),
                F.sum("_d.e").alias("_n_event"),
            )
            .select("_q.*", "_n_buddies", "_n_event")
        )
        return stats, [lat_col, lon_col]

    def tf(adj, qside):
        et = (
            F.col(f"_p{qside}_{event_threshold}")
            if et_is_col
            else F.lit(float(event_threshold))
        )
        return (adj < et).cast("int")

    mirrored = _mirrored_adj_values(
        unflagged, radius, id_col, lat_col, lon_col, value_col, elev_col,
        max_elev_diff, elev_gradient, cell_size, coord_type,
        transform=tf,
        extra_carry=(event_threshold,) if et_is_col else (),
    )
    return (
        mirrored.groupBy(F.col("_d._q").alias(id_col)).agg(
            F.count("_d._v").alias("_n_buddies"),
            F.sum("_d._v").alias("_n_event"),
        ),
        [id_col],
    )


def _mirrored_adj_values(
    unflagged: DataFrame,
    radius,
    id_col: str,
    lat_col: str,
    lon_col: str,
    value_col: str,
    elev_col: str | None,
    max_elev_diff: float,
    elev_gradient: float,
    cell_size: float | None,
    coord_type: str = "geodetic",
    transform=None,
    extra_carry: tuple = (),
) -> DataFrame:
    """Undirected neighbor join -> per-direction lapse-adjusted values,
    exploded as minimal (_q, _v) structs.

    All per-pair math (elev filter, lapse adjustment, per-row-radius gate,
    optional transform) happens on the UNDIRECTED pair row; downstream
    aggregates only read struct fields — filters or arithmetic on
    post-explode struct fields drop out of the fast path (~20x, measured).
    A direction outside its query row's radius carries a NULL value, which
    count()/avg()/var_pop()/sum() skip.

    `transform(adj, qside)` maps each direction's adjusted value; `qside`
    ('a'|'b') names the QUERY row of that direction so per-query-row
    parameter columns (carried via `extra_carry`) can be read as
    _p{qside}_{col}."""
    use_elev = elev_col is not None and max_elev_diff > 0
    carry = ((value_col, elev_col) if use_elev else (value_col,)) + tuple(extra_carry)
    und, _, per_row_radius = undirected_neighbor_pairs(
        unflagged,
        radius,
        id_col=id_col,
        lat_col=lat_col,
        lon_col=lon_col,
        carry_cols=carry,
        include_self=False,
        cell_size=cell_size,
        coord_type=coord_type,
    )
    if use_elev:
        und = und.where(
            F.abs(F.col(f"_pa_{elev_col}") - F.col(f"_pb_{elev_col}"))
            <= float(max_elev_diff)
        )
        # direction a<-b: b's value lapse-adjusted to a's elevation
        adj_ab = F.col(f"_pb_{value_col}") + (
            F.col(f"_pa_{elev_col}") - F.col(f"_pb_{elev_col}")
        ) * F.lit(float(elev_gradient))
        adj_ba = F.col(f"_pa_{value_col}") + (
            F.col(f"_pb_{elev_col}") - F.col(f"_pa_{elev_col}")
        ) * F.lit(float(elev_gradient))
    else:
        adj_ab = F.col(f"_pb_{value_col}")
        adj_ba = F.col(f"_pa_{value_col}")
    if transform is not None:
        adj_ab, adj_ba = transform(adj_ab, "a"), transform(adj_ba, "b")
    if per_row_radius:
        adj_ab = F.when(F.col("dist") <= F.col("_ra"), adj_ab)
        adj_ba = F.when(F.col("dist") <= F.col("_rb"), adj_ba)
    return und.select(
        F.explode(
            F.array(
                F.struct(F.col("_ida").alias("_q"), adj_ab.alias("_v")),
                F.struct(F.col("_idb").alias("_q"), adj_ba.alias("_v")),
            )
        ).alias("_d")
    )


def buddy_check(
    df: DataFrame,
    radius,
    num_min: int | str,
    threshold: float | str,
    max_elev_diff: float = -1.0,
    elev_gradient: float = -0.0065,
    min_std: float | str = 1.0,
    num_iterations: int = 1,
    obs_to_check: str | None = None,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    value_col: str = "value",
    elev_col: str | None = "elev",
    flag_col: str = "flags",
    cell_size: float | None = None,
    coord_type: str = "geodetic",
) -> DataFrame:
    """`radius` is a scalar in meters or a per-row column name (then pass
    cell_size >= max radius). `obs_to_check` optionally names a 0/1 column
    restricting which rows may be flagged (neighbors still contribute)."""
    df = ensure_flags(df, flag_col)
    # up-front invalid-value flagging (src/buddy_check.cpp:64-67)
    df = apply_check_flags(
        df, F.when(is_invalid_value(F.col(value_col)), BAD).otherwise(GOOD), flag_col
    )

    def one_round(df: DataFrame) -> DataFrame:
        unflagged = df.where(F.col(flag_col) == GOOD)
        stats, join_on = _buddy_stats(
            unflagged,
            radius,
            id_col,
            lat_col,
            lon_col,
            value_col,
            elev_col,
            max_elev_diff,
            elev_gradient,
            cell_size,
            coord_type,
        )
        # position-keyed stats may also match already-flagged rows sharing
        # a position with unflagged ones (id-keyed stats never did); the
        # monotone flag merge makes that difference unobservable
        joined = df.join(stats, on=join_on, how="left")
        # num_min / threshold / min_std accept a scalar or a per-row column
        # name (reference length-N vector convention, src/buddy_check.cpp:32-41)
        _pcol = lambda v, cast: F.col(v) if isinstance(v, str) else F.lit(cast(v))
        std_adj = F.greatest(
            F.sqrt(F.col("_buddy_var") + F.col("_buddy_var") / F.col("_n_buddies")),
            _pcol(min_std, float),
        )
        dev = F.abs(F.col(value_col) - F.col("_buddy_mean"))
        # std_adj can be 0 when min_std=0 meets a zero-variance
        # neighborhood; ANSI mode would abort on the division, so encode
        # the IEEE semantics (dev/0 = inf exceeds any finite threshold,
        # 0/0 = nan exceeds none) directly
        exceeds = F.when(
            std_adj > 0, dev / std_adj > _pcol(threshold, float)
        ).otherwise(dev > 0)
        verdict = (
            F.col("_n_buddies").isNotNull()
            & (F.col("_n_buddies") >= _pcol(num_min, int))
            & exceeds
        )
        if obs_to_check is not None:
            verdict = verdict & (F.col(obs_to_check) == 1)
        return apply_check_flags(
            joined, F.when(verdict, BAD).otherwise(GOOD), flag_col
        ).drop("_n_buddies", "_buddy_mean", "_buddy_var")

    # a single pass stays lazy: the input scan is recomputed by the stats
    # branch, far cheaper than a checkpoint + count job (rule 26), and the
    # un-checkpointed stats side keeps its AQE size estimate
    return iterate_flags(df, one_round, num_iterations, flag_col)
