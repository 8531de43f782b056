"""SCT-resistant — outlier-resistant spatial consistency test.

Distributed recast of reference src/sct_resistant.cpp:26-1062 on the SCT
family's circle sweep and three-phase driver (operators/_sct_phases.py,
which describes the state machine, the circles and the per-cell sweep
deviation). This module holds only the decision on one circle:

* background over the outer circle (reference src/background.cpp:28-57),
  clamped to the plausible range [minp, maxp] = [min(mina), max(maxa)];
* ``small_innov`` shortcut: when the background lies in the valid band
  [minv, maxv] of every test row (non-strict in phase 1, :355-362; strict
  for the single test row of phases 2 and 3, :515-521), all test rows are
  good;
* else sct_core (src/sct_resistant.cpp:760-1062):

  * Dh(i) = k-th closest pairwise distance INCLUDING self as the first
    (find_k_closest, src/util.cpp:297-314); Dh_mean clamped to
    [min_horizontal_scale, max_horizontal_scale];
  * S = exp(-.5 (dh/Dh_mean)^2 - .5 (dz/Dz)^2) + diag(eps2), per-row eps2;
  * analysis ya and LOO cv-analysis yav, both clamped to [minp, maxp]
    (:966-971);
  * chi = sqrt((yo-ya)(yo-yav)) over the INNER circle; robust stats are
    fed only by inner rows whose **yav** lies in the admissible band
    [mina, maxa] (:975-980), with chi_alt = sqrt(eps2/(1+eps2)) *
    (maxv - minv) (:996-1001);
  * the robust-z worst-offender tail (``_sct_phases.robust_z_verdict``)
    with candidates whose yav lies OUTSIDE the valid band (:1013-1058).

Flag vocabulary: 0 good, 1 bad, 11/12 isolated (accept_isolated=false),
100 matrix-inversion failure (include/titanlib.h:133, :120-125).
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame

from titanlib_spark.flags import GOOD
from titanlib_spark.operators._sct_phases import (
    band,
    check_background,
    circle_check,
    robust_z_verdict,
)
from titanlib_spark.operators.background import (
    exact_quantile,
    theil_sen_np,
    vertical_profile_np,
)
from titanlib_spark.operators.sct import _geodetic_dist_matrix

BACKGROUND_MODES = (
    "external",
    "mean_outer_circle",
    "median_outer_circle",
    "vertical_profile",
    "vertical_profile_theil_sen",
)


def _background_box(mode, elevs, values, ext, num_min_prof, min_elev_diff,
                    value_minp, value_maxp):
    """reference src/background.cpp:28-57 (incl. plausible-range clamp)."""
    if mode == "external":
        vp = ext.astype(float)
    elif mode == "mean_outer_circle":
        vp = np.full(values.size, float(np.mean(values)))
    elif mode == "median_outer_circle":
        vp = np.full(values.size, exact_quantile(0.5, values))
    elif mode == "vertical_profile":
        vp = vertical_profile_np(elevs, values, num_min_prof, min_elev_diff)
    elif mode == "vertical_profile_theil_sen":
        vp = theil_sen_np(elevs, values, num_min_prof, min_elev_diff)
    else:
        raise ValueError(f"unknown background mode: {mode}")
    if np.isfinite(value_minp):
        vp = np.maximum(vp, value_minp)
    if np.isfinite(value_maxp):
        vp = np.minimum(vp, value_maxp)
    return vp


def _correlation(lats, lons, elevs, *, dh_min, dh_max, kth, dz):
    """Gaussian background correlation over an outer circle, shared by
    sct_core and sct_dual_core: Dh_mean = mean k-th closest distance
    including self, clamped to [dh_min, dh_max]."""
    p = lats.size
    disth = _geodetic_dist_matrix(lats, lons)
    distz = np.abs(elevs[:, None] - elevs[None, :])
    srt = np.sort(disth, axis=1)
    k_idx = p - 1 if kth > p else max(kth - 1, 0)
    dh_mean = float(np.mean(srt[:, k_idx]))
    dh_mean = min(max(dh_mean, float(dh_min)), float(dh_max))
    return np.exp(-0.5 * (disth / dh_mean) ** 2 - 0.5 * (distz / dz) ** 2)


def _sct_core_np(cell, sel, yb, inner_mask, test_mask, set_flag0, *,
                 dh_min, dh_max, kth, dz, basic):
    """One OI pass over the outer circle ``sel`` (reference sct_core).
    Returns the circle's updates, or None when S is singular."""
    yo, eps2 = cell.value[sel], cell.eps2[sel]
    p = yo.size
    S = _correlation(cell.lat[sel], cell.lon[sel], cell.elev[sel],
                     dh_min=dh_min, dh_max=dh_max, kth=kth, dz=dz)
    S[np.diag_indices(p)] += eps2
    try:
        Sinv = np.linalg.inv(S)
    except np.linalg.LinAlgError:
        return None
    S[np.diag_indices(p)] -= eps2

    d = yo - yb
    Sinv_d = Sinv @ d

    inner = np.where(inner_mask)[0]
    ya = yb[inner] + S[inner] @ Sinv_d
    yav = yo[inner] - Sinv_d[inner] / np.diag(Sinv)[inner]
    np.clip(ya, cell.minp, cell.maxp, out=ya)
    np.clip(yav, cell.minp, cell.maxp, out=yav)
    chi = np.sqrt(np.maximum((yo[inner] - ya) * (yo[inner] - yav), 0.0))
    g = sel[inner]
    chi_alt = np.sqrt(eps2[inner] / (1.0 + eps2[inner])) * np.maximum(
        cell.maxv[g] - cell.minv[g], 0.0
    )
    adm = (yav >= cell.mina[g]) & (yav <= cell.maxa[g])
    return robust_z_verdict(cell, sel, yb, inner, test_mask, chi, chi_alt, adm,
                            yav, basic=basic, set_flag0=set_flag0)


def _innovation_decide(cell, sel, inner_mask, test_mask, phase, set_flag0, *,
                       core, mode, num_min_prof, min_elev_diff):
    """Background, the small_innov shortcut, then ``core`` — the decision
    hook of sct_resistant (core = sct_core) and fgt_spatial (fgt_core)."""
    yb = _background_box(mode, cell.elev[sel], cell.value[sel], cell.bg[sel],
                         num_min_prof, min_elev_diff, cell.minp, cell.maxp)
    tsel = np.where(test_mask)[0]
    minv, maxv = cell.minv[sel], cell.maxv[sel]
    if phase == 1:  # non-strict band (:355-362)
        small = bool(np.all((yb[tsel] >= minv[tsel]) & (yb[tsel] <= maxv[tsel])))
    else:           # strict band (:515-521)
        j = tsel[0]
        small = bool((yb[j] > minv[j]) & (yb[j] < maxv[j]))
    if small:
        return [(j, GOOD, np.nan) for j in tsel]
    return core(cell, sel, yb, inner_mask, test_mask, set_flag0)


def sct_resistant(
    df: DataFrame,
    background_elab_type: str = "median_outer_circle",
    num_min_outer: int = 3,
    num_max_outer: int = 50,
    inner_radius: float = 20000.0,
    outer_radius: float = 50000.0,
    num_iterations: int = 10,
    num_min_prof: int = 10,
    min_elev_diff: float = 500.0,
    min_horizontal_scale: float = 250.0,
    max_horizontal_scale: float = 100000.0,
    kth_closest: int = 2,
    vertical_scale: float = 200.0,
    value_mina: float | str | None = None,
    value_maxa: float | str | None = None,
    value_minv: float | str | None = None,
    value_maxv: float | str | None = None,
    eps2: float | str = 0.5,
    tpos: float | str = 3.0,
    tneg: float | str = 3.0,
    basic: bool = False,
    accept_isolated: bool = True,
    obs_to_check: str | None = None,
    background_col: str | None = None,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    elev_col: str = "elev",
    value_col: str = "value",
    flag_col: str = "flags",
) -> DataFrame:
    """Returns df with `flags` updated (0/1/11/12/100 vocabulary) and a
    per-row `score` column (set only for rows condemned by the OI worst-
    offender rule, reference `scores`, include/titanlib.h:131).

    Band params (value_mina/maxa/minv/maxv) and eps2/tpos/tneg accept a
    scalar or a column name (per-row vectors, reference convention).
    An unknown background_elab_type, or "external" without
    `background_col`, raises ValueError. A NULL external background reads
    as NaN and poisons every circle holding its row: the OI estimates turn
    NaN, no row is admissible and the circle's test rows are condemned.
    The row itself ends BAD; neighbours judged in its company can end BAD
    too, and a real outlier near it can be missed."""
    check_background(background_elab_type, BACKGROUND_MODES, background_col)
    core = partial(
        _sct_core_np,
        dh_min=float(min_horizontal_scale),
        dh_max=float(max_horizontal_scale),
        kth=int(kth_closest),
        dz=float(vertical_scale),
        basic=bool(basic),
    )
    decide = partial(
        _innovation_decide,
        core=core,
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
            minv=band(value_minv, np.inf),    # None: empty valid band
            maxv=band(value_maxv, -np.inf),   # (never vouches)
            eps2=band(eps2, 0.5),
            tpos=band(tpos, 3.0),
            tneg=band(tneg, 3.0),
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
