"""FGT — First-Guess Test: score observations against a background field.

Two surfaces, matching the reference's own duality:

* :func:`fgt` — the GROUP recast (SURVEY §2.1's plan): neighborhoods are
  any partition key (grid cell, host, cluster); pure DataFrame ops. This
  is what the webtext pipeline composes with.
* :func:`fgt_spatial` — the reference's radius-circle surface
  (include/titanlib.h:225-246, src/fgt.cpp:29-715): per-centroid outer
  circles with num_min/max_outer truncation, per-circle background,
  worst-offender-only flagging, 11/12 isolation flags, three-phase state
  machine — sct_resistant minus the OI, on the shared three_phase_driver.

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

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from titanlib_spark.flags import (
    BAD,
    GOOD,
    apply_check_flags,
    ensure_flags,
    iterate_flags,
)
from titanlib_spark.operators.range_check import is_invalid_value


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
    """Radius-circle FGT (reference src/fgt.cpp:29-715): the
    sct_resistant three-phase state machine with fgt_core instead of the
    OI — chi = |yo - yb| / sigma_b against a per-circle background.
    Returns df with `flags` (0/1/11/12 vocabulary) and a `score` column
    (the z of the single worst offender per condemnation).

    `background_uncertainty_col` names the per-row sigma_b column
    (reference background_uncertainties, used with external backgrounds;
    defaults to 1 like src/fgt.cpp:119)."""
    from titanlib_spark.operators._sct_phases import (
        scalar_or_col,
        three_phase_driver,
    )
    from titanlib_spark.operators.sct_resistant import _sct_resistant_kernel
    from titanlib_spark.functions.geo import with_ecef
    from titanlib_spark.flags import ISOLATED_INNER, ISOLATED_OUTER

    df = ensure_flags(df, flag_col)
    df = apply_check_flags(
        df, F.when(is_invalid_value(F.col(value_col)), BAD).otherwise(GOOD), flag_col
    )

    # plausible range = extremes of the admissible bands
    # (src/fgt.cpp:140-148); one scalar-aggregate job covers both
    from titanlib_spark.operators._sct_phases import plausible_range

    minp, maxp = plausible_range(df, value_mina, value_maxa)

    cfg = dict(
        core="fgt",
        background_elab_type=background_elab_type,
        num_min_outer=int(num_min_outer),
        num_max_outer=int(num_max_outer),
        inner_radius=float(inner_radius),
        outer_radius=float(outer_radius),
        num_min_prof=int(num_min_prof),
        min_elev_diff=float(min_elev_diff),
        # unused by fgt_core; present for the shared kernel's core_kw
        min_horizontal_scale=250.0,
        max_horizontal_scale=100000.0,
        kth_closest=2,
        vertical_scale=200.0,
        basic=bool(basic),
        minp=minp,
        maxp=maxp,
        flag_iso_inner=ISOLATED_INNER if not accept_isolated else GOOD,
        flag_iso_outer=ISOLATED_OUTER if not accept_isolated else GOOD,
        mina=scalar_or_col(value_mina),
        maxa=scalar_or_col(value_maxa),
        minv=scalar_or_col(value_minv),
        maxv=scalar_or_col(value_maxv),
        eps2=scalar_or_col(0.5),
        tpos=scalar_or_col(tpos),
        tneg=scalar_or_col(tneg),
        sigma_b=scalar_or_col(
            background_uncertainty_col if background_uncertainty_col else 1.0
        ),
    )
    band_cols = sorted(
        {spec[1]
         for key in ("mina", "maxa", "minv", "maxv", "tpos", "tneg", "sigma_b")
         for spec in [cfg[key]] if spec[0] == "col"}
    )

    pts = with_ecef(df.where(F.col(flag_col) == GOOD), lat_col, lon_col)
    pool = pts.select(
        F.col(id_col).alias("_sid"),
        F.col(lat_col).cast("double").alias("_slat"),
        F.col(lon_col).cast("double").alias("_slon"),
        F.coalesce(F.col(elev_col).cast("double"), F.lit(0.0)).alias("_selev"),
        F.col(value_col).cast("double").alias("_svalue"),
        (
            F.col(obs_to_check).cast("boolean") if obs_to_check else F.lit(True)
        ).alias("_sobs"),
        (
            F.col(background_col).cast("double")
            if background_col
            else F.lit(None).cast("double")
        ).alias("_sbg"),
        F.col("x").alias("_sx"),
        F.col("y").alias("_sy"),
        F.col("z").alias("_sz"),
        *[F.col(c).cast("double").alias(c) for c in band_cols],
    )

    def kernel(pdf, phase: int, set_flag0: bool):
        return _sct_resistant_kernel(pdf, phase=phase, set_flag0=set_flag0, cfg=cfg)

    verdict = three_phase_driver(
        pool,
        kernel,
        outer_radius=float(outer_radius),
        num_iterations=int(num_iterations),
        band_cols=band_cols,
        id_col=id_col,
    ).select(
        id_col,
        F.col("_state").alias("_new_flag"),
        F.col("score").alias("_new_score"),
    )
    joined = df.join(verdict, on=id_col, how="left")
    joined = joined.withColumn("score", F.col("_new_score"))
    joined = apply_check_flags(
        joined, F.coalesce(F.col("_new_flag"), F.lit(GOOD)), flag_col
    ).drop("_new_flag", "_new_score")
    return joined
