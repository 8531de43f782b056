"""SCT-dual — spatial consistency test for dichotomous (event) variables.

Faithful recast of reference src/sct_dual.cpp:25-1014 on the SCT family's
circle sweep and three-phase driver (operators/_sct_phases.py: outer
circles truncated before the bad-flag filter, flag 12 below
num_min_outer, test_just_this in phases 2 and 3). The p_inner < 2 /
flag-11 check is commented out in the reference (:277-280), so flag 11 is
unreachable there and here, and phase 3 re-tests every bad row. This
module holds only the decision on one circle:

* values are thresholded into events w in {0,1} via a per-row
  event_threshold and a ConditionType Eq/Gt/Geq/Lt/Leq
  (src/sct_dual.cpp:176-188);
* single-class shortcut: if every outer row is in the same class, all
  test rows pass (:330-344);
* sct_dual_core (:700-1014): Gaussian correlation S over the outer circle
  (Dh = mean of per-row find_k_closest distance incl. self, clamped),
  per-class matrices S_w0/S_w1 = class submatrix + eps2(=0.1)*I inverted
  separately (inversion failure -> flag 100 on the centroid); per test
  row the own-class leave-one-out integral data influence
  own = 1 - rowsum(Sinv_own)_i / diag(Sinv_own)_i (floored at 0.001) and
  the cross-class influence cross = S[i, other] @ rowsum(Sinv_other);
  candidate bad when its own class is less supported and the relative
  information content z = cross * log(cross / own) exceeds its per-row
  threshold t, gated by max(own, cross) >= 0.45 (w_idiv_min, :784,:972);
  only the worst candidate per circle per pass is flagged (:986-1010),
  else (set_flag0) all test rows pass.

Flag vocabulary: 0 good, 1 bad, 12 isolated-outer (accept_isolated=false),
100 matrix-inversion failure.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame

from titanlib_spark.flags import BAD, GOOD
from titanlib_spark.operators._sct_phases import band, check_choice, circle_check
from titanlib_spark.operators.sct_resistant import _correlation

_W_IDIV_MIN = 0.45  # reference src/sct_dual.cpp:784
_EPS2 = 0.1         # reference src/sct_dual.cpp:139
CONDITIONS = ("Eq", "Gt", "Geq", "Lt", "Leq")


def _event(values: np.ndarray, thr: np.ndarray, condition: str) -> np.ndarray:
    """src/sct_dual.cpp:176-188."""
    if condition == "Eq":
        return (values == thr).astype(int)
    if condition == "Gt":
        return (values > thr).astype(int)
    if condition == "Geq":
        return (values >= thr).astype(int)
    if condition == "Lt":
        return (values < thr).astype(int)
    if condition == "Leq":
        return (values <= thr).astype(int)
    raise ValueError(condition)


def _sct_dual_core_np(cell, sel, w, test_mask, set_flag0, *,
                      dh_min, dh_max, kth, dz):
    """One pass over the outer circle ``sel`` (reference sct_dual_core).
    Returns the circle's updates, or None when a class matrix is
    singular."""
    S = _correlation(cell.lat[sel], cell.lon[sel], cell.elev[sel],
                     dh_min=dh_min, dh_max=dh_max, kth=kth, dz=dz)
    t = cell.test_threshold[sel]
    i0 = np.where(w == 0)[0]
    i1 = np.where(w == 1)[0]
    S0 = S[np.ix_(i0, i0)] + np.diag(np.full(i0.size, _EPS2))
    S1 = S[np.ix_(i1, i1)] + np.diag(np.full(i1.size, _EPS2))
    try:
        Sinv0 = np.linalg.inv(S0)
        Sinv1 = np.linalg.inv(S1)
    except np.linalg.LinAlgError:
        return None
    rowsum0 = Sinv0.sum(axis=1)
    rowsum1 = Sinv1.sum(axis=1)
    pos0 = {int(g): k_ for k_, g in enumerate(i0)}
    pos1 = {int(g): k_ for k_, g in enumerate(i1)}

    zmx, mmx = None, None
    for i in np.where(test_mask)[0]:
        if w[i] == 1:
            k1 = pos1[int(i)]
            own = 1.0 - rowsum1[k1] / Sinv1[k1, k1]
            w1_idiv = own if own > 0 else 0.001
            w0_idiv = float(S[i, i0] @ rowsum0)
        else:
            k0 = pos0[int(i)]
            own = 1.0 - rowsum0[k0] / Sinv0[k0, k0]
            w0_idiv = own if own > 0 else 0.001
            w1_idiv = float(S[i, i1] @ rowsum1)
        if not (w1_idiv >= _W_IDIV_MIN or w0_idiv >= _W_IDIV_MIN):
            continue  # no close-enough buddies: judgment suspended (:966-972)
        z = None
        if w[i] == 1 and w0_idiv > w1_idiv:
            z0wrt1 = w0_idiv * np.log(w0_idiv / w1_idiv)
            if z0wrt1 > t[i]:
                z = z0wrt1
        elif w[i] == 0 and w1_idiv > w0_idiv:
            z1wrt0 = w1_idiv * np.log(w1_idiv / w0_idiv)
            if z1wrt0 > t[i]:
                z = z1wrt0
        if z is not None and (zmx is None or z > zmx):
            zmx, mmx = float(z), int(i)

    if mmx is not None:
        return [(mmx, BAD, np.nan)]
    if set_flag0:
        return [(int(i), GOOD, np.nan) for i in np.where(test_mask)[0]]
    return []


def _dual_decide(cell, sel, inner_mask, test_mask, phase, set_flag0, *,
                 condition, **core_kw):
    """The single-class shortcut, then sct_dual_core."""
    w = _event(cell.value[sel], cell.event_threshold[sel], condition)
    n1 = int(w.sum())
    if n1 == 0 or n1 == w.size:  # single-class shortcut (:330-344)
        return [(j, GOOD, np.nan) for j in np.where(test_mask)[0]]
    return _sct_dual_core_np(cell, sel, w, test_mask, set_flag0, **core_kw)


def sct_dual(
    df: DataFrame,
    event_threshold: float | str,
    condition: str,
    test_threshold: float | str,
    outer_radius: float,
    inner_radius: float | None = None,
    num_min_outer: int = 3,
    num_max_outer: int = 50,
    num_iterations: int = 1,
    min_horizontal_scale: float = 250.0,
    max_horizontal_scale: float = 100000.0,
    kth_closest: int = 10,
    vertical_scale: float = 200.0,
    accept_isolated: bool = True,
    obs_to_check: str | None = None,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    elev_col: str = "elev",
    value_col: str = "value",
    flag_col: str = "flags",
) -> DataFrame:
    """Returns df with `flags` updated (0/1/12/100 vocabulary).

    event_threshold / test_threshold accept a scalar or a column name
    (per-row vectors, reference include/titanlib.h:182-198). An unknown
    condition raises ValueError."""
    check_choice("condition", condition, CONDITIONS)
    decide = partial(
        _dual_decide,
        condition=condition,
        dh_min=float(min_horizontal_scale),
        dh_max=float(max_horizontal_scale),
        kth=int(kth_closest),
        dz=float(vertical_scale),
    )
    return circle_check(
        df,
        decide,
        bands=dict(
            event_threshold=band(event_threshold, 0.0),
            test_threshold=band(test_threshold, 0.5),
        ),
        num_min_outer=num_min_outer,
        num_max_outer=num_max_outer,
        inner_radius=outer_radius if inner_radius is None else inner_radius,
        outer_radius=outer_radius,
        num_iterations=num_iterations,
        accept_isolated=accept_isolated,
        isolate_inner=False,
        with_score=False,
        obs_to_check=obs_to_check,
        background_col=None,
        id_col=id_col,
        lat_col=lat_col,
        lon_col=lon_col,
        elev_col=elev_col,
        value_col=value_col,
        flag_col=flag_col,
    )
