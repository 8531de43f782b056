"""FGT — First-Guess Test: score observations against a background field.

Two surfaces, matching the reference's own duality:

* :func:`fgt` — the GROUP recast (SURVEY §2.1's plan): neighborhoods are
  any partition key (grid cell, host, cluster); pure DataFrame ops. This
  is what the webtext pipeline composes with.
* :func:`fgt_spatial` — the reference's radius-circle surface
  (include/titanlib.h:225-246, src/fgt.cpp:29-715): per-centroid outer
  circles with num_min/max_outer truncation, per-circle background,
  worst-offender-only flagging, 11/12 isolation flags, three-phase state
  machine — sct_resistant minus the OI, on the SCT family's circle sweep
  (operators/_sct_phases.py).

Reference src/fgt.cpp:780-923 (decision core). Per neighborhood group:

* chi = |yo - yb| / sigma_b for every row;
* summary stats (median mu, IQR sigma, sigma_mu = sigma/sqrt(n)) computed
  over rows whose background lies in the *admissible* band [mina, maxa];
  if no row qualifies, ALL tested rows in the group are flagged bad
  (src/fgt.cpp:842-849);
* basic mode: z = chi; advanced: z = (chi - mu) / (sigma + sigma_mu);
* only rows whose background lies OUTSIDE the *valid* band [minv, maxv]
  are candidates (a valid background vouches for the row);
* flag ONLY the worst candidate per group per iteration, when its z
  exceeds tpos (yo >= yb) / tneg (yo < yb) — src/fgt.cpp:875-917;
* iterate until no group flags anything new.

This is the cheapest SCT-family member: pure DataFrame ops — exact
percentiles per group + a window argmax — no Python in the loop.
Group = any partition key (grid cell, host, cluster); the caller attaches
the background with `titanlib_spark.operators.background`.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from titanlib_spark.flags import (
    BAD,
    GOOD,
    apply_check_flags,
    ensure_flags,
    iterate_flags,
)
from titanlib_spark.operators._sct_phases import (
    band,
    check_background,
    circle_check,
    robust_z_verdict,
)
from titanlib_spark.operators.range_check import is_invalid_value
from titanlib_spark.operators.sct_resistant import (
    BACKGROUND_MODES,
    _innovation_decide,
)


def fgt(
    df: DataFrame,
    group_cols: list[str],
    tpos: float,
    tneg: float,
    basic: bool = False,
    sigma_b=1.0,
    value_col: str = "value",
    bg_col: str = "bg",
    id_col: str = "id",
    flag_col: str = "flags",
    value_mina=None,
    value_maxa=None,
    value_minv=None,
    value_maxv=None,
    num_iterations: int = 10,
) -> DataFrame:
    """`sigma_b` is a scalar or column name (background uncertainty).
    Bands default to None: admissible = everything, valid = nothing
    (every row is a candidate)."""
    df = ensure_flags(df, flag_col)
    df = apply_check_flags(
        df, F.when(is_invalid_value(F.col(value_col)), BAD).otherwise(GOOD), flag_col
    )
    sb = F.col(sigma_b) if isinstance(sigma_b, str) else F.lit(float(sigma_b))

    def one_round(df: DataFrame) -> DataFrame:
        good = df.where(F.col(flag_col) == GOOD)
        dev = F.abs(F.col(value_col) - F.col(bg_col))
        # sigma_b = 0 (per-row background uncertainty): dev/0 would abort
        # under ANSI mode; keep the IEEE reading — any deviation over zero
        # uncertainty is infinitely suspicious (sorts worst), while a
        # zero/zero row is unscorable (NULL: out of stats and verdicts).
        # A NULL sigma_b stays NULL (unknown uncertainty is not zero
        # uncertainty — the inf branch is reserved for sb == 0 exactly).
        chi = F.when(sb > 0, dev / sb).otherwise(
            F.when(sb.isNotNull() & (dev > 0), F.lit(float("inf")))
        )
        scored = good.withColumn("_chi", chi)

        admissible = F.lit(True)
        if value_mina is not None:
            admissible = admissible & (F.col(bg_col) >= float(value_mina))
        if value_maxa is not None:
            admissible = admissible & (F.col(bg_col) <= float(value_maxa))
        scored = scored.withColumn("_adm", admissible)

        stats = (
            scored.where(F.col("_adm"))
            .groupBy(*group_cols)
            .agg(
                F.expr("percentile(_chi, 0.5)").alias("_mu"),
                (
                    F.expr("percentile(_chi, 0.75)") - F.expr("percentile(_chi, 0.25)")
                ).alias("_sigma"),
                # count the same population the percentiles see (non-NULL
                # chi): an sb=0,dev=0 row is unscorable and must not
                # inflate the sqrt(n) term
                F.count(F.col("_chi")).alias("_n_stat"),
            )
        )
        joined = scored.join(stats, on=group_cols, how="left")

        if basic:
            z = F.col("_chi")
        else:
            # sigma == 0 (degenerate group, src/fgt.cpp:862-866) must not
            # evaluate the division: under ANSI mode a zero divisor aborts
            # the whole job even for rows the `testable` gate would drop
            z = F.when(
                F.col("_sigma") > 0,
                (F.col("_chi") - F.col("_mu")) / (
                    F.col("_sigma") + F.col("_sigma") / F.sqrt(F.col("_n_stat"))
                ),
            )
        joined = joined.withColumn("_z", z)

        # candidates: background outside the valid band (or no valid band)
        candidate = F.lit(True)
        if value_minv is not None and value_maxv is not None:
            candidate = (F.col(bg_col) < float(value_minv)) | (
                F.col(bg_col) > float(value_maxv)
            )
        thr = F.when(F.col(value_col) >= F.col(bg_col), F.lit(float(tpos))).otherwise(
            F.lit(float(tneg))
        )
        # degenerate group (sigma==0 or no stats) -> cannot test (src/fgt.cpp:862-866)
        testable = F.col("_mu").isNotNull() & (basic | (F.col("_sigma") > 0))

        # chi_stat-empty rule: a group with zero admissible backgrounds flags
        # every row (src/fgt.cpp:842-849)
        group_has_stat = F.col("_n_stat").isNotNull()

        ranked = (
            joined.withColumn("_cand", candidate)
            .withColumn(
                "_rank",
                F.row_number().over(
                    Window.partitionBy(*group_cols).orderBy(
                        F.col("_cand").desc(), F.col("_z").desc(), F.col(id_col).asc()
                    )
                ),
            )
        )
        verdict = (
            (~group_has_stat)
            | (
                testable
                & F.col("_cand")
                & (F.col("_rank") == 1)
                & (F.col("_z") > thr)
            )
        )
        flagged_ids = ranked.where(verdict).select(
            F.col(id_col), F.lit(1).alias("_fgt_bad")
        )
        new_df = df.join(flagged_ids, on=id_col, how="left")
        return apply_check_flags(
            new_df,
            F.when(F.col("_fgt_bad") == 1, BAD).otherwise(GOOD),
            flag_col,
        ).drop("_fgt_bad")

    return iterate_flags(df, one_round, num_iterations, flag_col)


def _fgt_core_np(cell, sel, yb, inner_mask, test_mask, set_flag0, *, basic):
    """One pass over the outer circle ``sel`` WITHOUT the OI (reference
    fgt_core, src/fgt.cpp:724-905): chi = |yo - yb| / sigma_b, robust
    stats over inner rows whose BACKGROUND (not yav) is admissible,
    chi_alt = maxv - minv, worst offender gated by yb outside the valid
    band."""
    inner = np.where(inner_mask)[0]
    g = sel[inner]
    yb_in = yb[inner]
    chi = np.abs(cell.value[g] - yb_in) / cell.sigma_b[g]  # IEEE: sb=0 -> inf
    chi_alt = cell.maxv[g] - cell.minv[g]
    adm = (yb_in >= cell.mina[g]) & (yb_in <= cell.maxa[g])
    return robust_z_verdict(cell, sel, yb, inner, test_mask, chi, chi_alt, adm,
                            yb_in, basic=basic, set_flag0=set_flag0)


def fgt_spatial(
    df: DataFrame,
    background_elab_type: str = "mean_outer_circle",
    num_min_outer: int = 3,
    num_max_outer: int = 50,
    inner_radius: float = 20000.0,
    outer_radius: float = 50000.0,
    num_iterations: int = 10,
    num_min_prof: int = 10,
    min_elev_diff: float = 500.0,
    value_mina: float | str | None = None,
    value_maxa: float | str | None = None,
    value_minv: float | str | None = None,
    value_maxv: float | str | None = None,
    tpos: float | str = 3.0,
    tneg: float | str = 3.0,
    basic: bool = False,
    accept_isolated: bool = True,
    obs_to_check: str | None = None,
    background_col: str | None = None,
    background_uncertainty_col: str | None = None,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    elev_col: str = "elev",
    value_col: str = "value",
    flag_col: str = "flags",
) -> DataFrame:
    """Radius-circle FGT (reference src/fgt.cpp:29-715): sct_resistant's
    decision (per-circle background, small_innov shortcut) with fgt_core
    instead of the OI. Returns df with `flags` (0/1/11/12 vocabulary) and
    a `score` column (the z of the single worst offender per
    condemnation). An unknown background_elab_type, or "external" without
    `background_col`, raises ValueError. A NULL external background is
    NaN: that row's chi is NaN, so it is never admissible nor the worst
    offender, and a circle whose inner rows all have NULL backgrounds
    flags all its test rows BAD.

    `background_uncertainty_col` names the per-row sigma_b column
    (reference background_uncertainties, used with external backgrounds;
    defaults to 1 like src/fgt.cpp:119)."""
    check_background(background_elab_type, BACKGROUND_MODES, background_col)
    decide = partial(
        _innovation_decide,
        core=partial(_fgt_core_np, basic=bool(basic)),
        mode=background_elab_type,
        num_min_prof=int(num_min_prof),
        min_elev_diff=float(min_elev_diff),
    )
    return circle_check(
        df,
        decide,
        bands=dict(
            mina=band(value_mina, -np.inf),
            maxa=band(value_maxa, np.inf),
            minv=band(value_minv, np.inf),
            maxv=band(value_maxv, -np.inf),
            tpos=band(tpos, 3.0),
            tneg=band(tneg, 3.0),
            sigma_b=band(background_uncertainty_col, 1.0),
        ),
        num_min_outer=num_min_outer,
        num_max_outer=num_max_outer,
        inner_radius=inner_radius,
        outer_radius=outer_radius,
        num_iterations=num_iterations,
        accept_isolated=accept_isolated,
        isolate_inner=True,
        with_score=True,
        obs_to_check=obs_to_check,
        background_col=background_col,
        id_col=id_col,
        lat_col=lat_col,
        lon_col=lon_col,
        elev_col=elev_col,
        value_col=value_col,
        flag_col=flag_col,
    )
