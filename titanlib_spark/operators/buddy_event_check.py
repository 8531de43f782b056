"""Buddy event check — dichotomous agreement with spatial neighbors.

Reference src/buddy_event_check.cpp:13-189. Each value is converted to an
event `value < event_threshold` (lapse-adjusted for neighbors when
max_elev_diff > 0, src/buddy_event_check.cpp:100-127). For each unflagged
row with at least `num_min` unflagged buddies in `radius`:

* threshold < 1 (fraction mode, :143-149): flag when the row is an event
  but the buddy event fraction <= threshold, or the row is a non-event but
  (1 - fraction) <= threshold;
* threshold >= 1 (count mode, :150-155): same with absolute counts.

Same iteration/early-stop machinery as buddy_check; buddy and event
counts are integer sums from `functions.geo._neighbor_key_sums`.
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
from titanlib_spark.operators.buddy_check import _lapse_terms
from titanlib_spark.operators.range_check import is_invalid_value


def buddy_event_check(
    df: DataFrame,
    radius,
    num_min: int | str,
    event_threshold: float | str,
    threshold: float | str,
    max_elev_diff: float = -1.0,
    elev_gradient: float = -0.0065,
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
    """`radius`, `num_min`, `event_threshold` and `threshold` each accept
    a scalar or a per-row column name. The reference declares only radius
    and num_min as length-N vectors (include/titanlib.h:287-296;
    event_threshold and threshold are scalar floats there) — the column
    forms of the latter two are a deliberate superset mirroring the vec
    convention, not reference parity. With a column `threshold`, the
    fraction-vs-count mode split (threshold < 1) is decided PER ROW, as
    the reference branches on its scalar threshold
    (src/buddy_event_check.cpp:143-155)."""
    df = ensure_flags(df, flag_col)
    df = apply_check_flags(
        df, F.when(is_invalid_value(F.col(value_col)), BAD).otherwise(GOOD), flag_col
    )
    gate, adjust = _lapse_terms(elev_col, max_elev_diff, elev_gradient)
    et_is_col = isinstance(event_threshold, str)
    v = F.col(value_col)
    key_aggs = {"_key_n": F.count(v)}
    if gate is not None or et_is_col:
        # a neighbour's event bit reads the query row (its elevation or
        # threshold), so the neighbour's value joins the key
        pair_cols = (value_col,) + ((event_threshold,) if et_is_col else ())

        def events(q, n):
            et = q(event_threshold) if et_is_col else F.lit(float(event_threshold))
            return (adjust(n(value_col), q, n) < et).cast("long") * n("_key_n")
    else:
        pair_cols = ()
        key_aggs["_key_e"] = F.sum((v < F.lit(float(event_threshold))).cast("long"))

        def events(q, n):
            return n("_key_e")

    def one_round(df: DataFrame) -> DataFrame:
        # key counts from unflagged rows may also reach already-flagged
        # rows sharing their key; the monotone flag merge makes that
        # unobservable
        joined = _neighbor_key_sums(
            df,
            F.col(flag_col) == GOOD,
            radius,
            key_aggs,
            lambda q, n: {"_n_buddies": n("_key_n"), "_n_event": events(q, n)},
            pair_cols=pair_cols,
            elev_gate=gate,
            id_col=id_col,
            lat_col=lat_col,
            lon_col=lon_col,
            cell_size=cell_size,
            coord_type=coord_type,
        )
        _pcol = lambda v, cast: F.col(v) if isinstance(v, str) else F.lit(cast(v))
        thr = _pcol(threshold, float)
        is_event = F.col(value_col) < _pcol(event_threshold, float)
        frac = F.col("_n_event") / F.col("_n_buddies")
        disagree_frac = (is_event & (frac <= thr)) | (
            (~is_event) & ((1 - frac) <= thr)
        )
        disagree_count = (is_event & (F.col("_n_event") <= thr)) | (
            (~is_event) & ((F.col("_n_buddies") - F.col("_n_event")) <= thr)
        )
        disagree = F.when(thr < 1, disagree_frac).otherwise(disagree_count)
        verdict = (
            F.col("_n_buddies").isNotNull()
            & (F.col("_n_buddies") >= _pcol(num_min, int))
            & disagree
        )
        if obs_to_check is not None:
            verdict = verdict & (F.col(obs_to_check) == 1)
        return apply_check_flags(
            joined, F.when(verdict, BAD).otherwise(GOOD), flag_col
        ).drop(*key_aggs, "_n_buddies", "_n_event")

    return iterate_flags(df, one_round, num_iterations, flag_col)
