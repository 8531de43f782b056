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

Buddy statistics come from `functions.geo._neighbor_key_sums`: count,
plus mean and variance from neighbour moments shifted by a pivot, the
query key's mean value (no Sigma v^2/n - mean^2 cancellation when
|mean| >> std). The fixpoint loop is driver-side control flow
(flags.iterate_flags): a checkpoint snapshots the flags and a count
tests the fixpoint only between rounds.
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
from titanlib_spark.functions.geo import _neighbor_key_sums
from titanlib_spark.operators.range_check import is_invalid_value


def _lapse_terms(elev_col: str | None, max_elev_diff: float, elev_gradient: float):
    """(elev_gate, adjust) shared by buddy_check and buddy_event_check.
    With max_elev_diff > 0 only neighbours within it count and
    `adjust(x, q, n)` lapse-adjusts a neighbour quantity x to the query
    key's elevation; otherwise there is no gate and `adjust` is the
    identity."""
    if elev_col is None or max_elev_diff <= 0:
        return None, lambda x, q, n: x
    g = F.lit(float(elev_gradient))
    return (elev_col, max_elev_diff), lambda x, q, n: x + (q(elev_col) - n(elev_col)) * g


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

    gate, adjust = _lapse_terms(elev_col, max_elev_diff, elev_gradient)
    v = F.col(value_col)
    key_aggs = {
        "_key_n": F.count(v),
        "_key_mean": F.avg(v),
        "_key_var": F.var_pop(v),
    }

    def moments(q, n):
        # neighbour key moments shifted by the QUERY key's mean (the
        # pivot): no cancellation when |mean| >> std
        d = adjust(n("_key_mean") - q("_key_mean"), q, n)
        return {
            "_n_buddies": n("_key_n"),
            "_s1": n("_key_n") * d,
            "_s2": n("_key_n") * (n("_key_var") + d * d),
        }

    def one_round(df: DataFrame) -> DataFrame:
        # key stats from unflagged rows may also reach already-flagged
        # rows sharing their key; the monotone flag merge makes that
        # unobservable
        joined = _neighbor_key_sums(
            df,
            F.col(flag_col) == GOOD,
            radius,
            key_aggs,
            moments,
            elev_gate=gate,
            id_col=id_col,
            lat_col=lat_col,
            lon_col=lon_col,
            cell_size=cell_size,
            coord_type=coord_type,
        )
        # num_min / threshold / min_std accept a scalar or a per-row column
        # name (reference length-N vector convention, src/buddy_check.cpp:32-41)
        _pcol = lambda v, cast: F.col(v) if isinstance(v, str) else F.lit(cast(v))
        n = F.col("_n_buddies")
        shift = F.col("_s1") / n  # buddy mean minus the pivot
        # population variance; clamp the tiny negative fp residue a
        # zero-variance neighbourhood can leave (sqrt would give NaN)
        var = F.greatest(F.col("_s2") / n - shift * shift, F.lit(0.0))
        std_adj = F.greatest(F.sqrt(var + var / n), _pcol(min_std, float))
        dev = F.abs(F.col(value_col) - F.col("_key_mean") - shift)
        # std_adj can be 0 when min_std=0 meets a zero-variance
        # neighborhood; ANSI mode would abort on the division, so encode
        # the IEEE semantics (dev/0 = inf exceeds any finite threshold,
        # 0/0 = nan exceeds none) directly
        exceeds = F.when(
            std_adj > 0, dev / std_adj > _pcol(threshold, float)
        ).otherwise(dev > 0)
        verdict = n.isNotNull() & (n >= _pcol(num_min, int)) & exceeds
        if obs_to_check is not None:
            verdict = verdict & (F.col(obs_to_check) == 1)
        return apply_check_flags(
            joined, F.when(verdict, BAD).otherwise(GOOD), flag_col
        ).drop(*key_aggs, "_n_buddies", "_s1", "_s2")

    # a single pass stays lazy: the input scan is recomputed by the stats
    # branch, far cheaper than a checkpoint + count job (rule 26), and the
    # un-checkpointed stats side keeps its AQE size estimate
    return iterate_flags(df, one_round, num_iterations, flag_col)
