"""Background-field estimators.

Reference src/background.cpp:28-57 — five modes:

* ``mean`` / ``median``: per-group mean / exact median (Spark-native
  groupBy + avg / percentile — exact linear-interpolated quantile to match
  reference compute_quantile, src/util.cpp:145-185);
* ``external``: passthrough of a supplied background column;
* ``vertical_profile``: nonlinear fit (2-param ``t0 + gamma*z`` when the
  group is small or flat, 5-param cos-blended inversion layer otherwise,
  src/background.cpp:59-173,259-316) minimized with a from-scratch
  Nelder-Mead (the reference uses GSL's nmsimplex2; scipy is unavailable
  here so we carry a ~40-line numpy simplex with the same convergence
  test: simplex size < 1e-2, <= 100 iters);
* ``theil_sen``: median-slope regression over all O(n^2) pairs
  (src/background.cpp:175-228) — group sizes are bounded by num_max-style
  truncation upstream, so the quadratic stays per-group-local.

The numpy kernels double as the in-UDF background used by the SCT family.
``vertical_profile_batch`` fits many boxes at once for ``sct``, whose
partition kernel knows every centroid before it fits any: boxes are
grouped by branch and size and each group runs one stacked Nelder-Mead,
bit-identical per box to ``vertical_profile_np``. The scalar fit stays for
the per-circle callers (``sct_resistant``, ``fgt_spatial``,
``background()``), whose sweeps update state between fits and so cannot
batch; a stack of one problem also costs about twice the scalar loop.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------- numpy side


def exact_quantile(q: float, x: np.ndarray) -> float:
    """Linear-interpolated quantile over valid values (reference
    src/util.cpp:145-185 — equivalent to numpy's default 'linear')."""
    x = np.asarray(x, dtype=float)
    x = x[np.isfinite(x)]
    if x.size == 0:
        return float("nan")
    return float(np.quantile(x, q))


def _nelder_mead(f, x0: np.ndarray, max_iter: int = 100, size_tol: float = 1e-2):
    """Minimal Nelder-Mead simplex (standard coefficients 1/2/0.5/0.5),
    initial step 1.0 per coordinate like gsl_vector_set_all(step_size, 1.0)."""
    n = len(x0)
    pts = [np.asarray(x0, dtype=float)]
    for i in range(n):
        p = np.array(x0, dtype=float)
        p[i] += 1.0
        pts.append(p)
    simplex = np.array(pts)
    fvals = np.array([f(p) for p in simplex])
    # means as np.add.reduce / count: np.mean's own arithmetic
    # (bit-identical) without its per-call wrapper cost
    for _ in range(max_iter):
        order = np.argsort(fvals)
        simplex, fvals = simplex[order], fvals[order]
        # size: average distance from centroid (gsl's size measure analogue)
        centroid_all = np.add.reduce(simplex) / (n + 1)
        d = simplex - centroid_all
        size = np.add.reduce(np.sqrt(np.add.reduce(d * d, axis=1))) / (n + 1)
        if size < size_tol:
            break
        c = np.add.reduce(simplex[:-1]) / n
        xr = c + (c - simplex[-1])
        fr = f(xr)
        if fr < fvals[0]:
            xe = c + 2.0 * (c - simplex[-1])
            fe = f(xe)
            if fe < fr:
                simplex[-1], fvals[-1] = xe, fe
            else:
                simplex[-1], fvals[-1] = xr, fr
        elif fr < fvals[-2]:
            simplex[-1], fvals[-1] = xr, fr
        else:
            xc = c + 0.5 * (simplex[-1] - c)
            fc = f(xc)
            if fc < fvals[-1]:
                simplex[-1], fvals[-1] = xc, fc
            else:
                best = simplex[0]
                simplex = best + 0.5 * (simplex - best)
                fvals = np.array([f(p) for p in simplex])
    order = np.argsort(fvals)
    return simplex[order][0]


def _basic_profile(elevs: np.ndarray, t0: float, gamma: float) -> np.ndarray:
    return t0 + gamma * elevs


def _full_profile(elevs, t0, gamma, a, h0, h1i):
    h1 = h0 + abs(h1i)
    t = t0 + gamma * elevs
    out = np.where(elevs <= h0, t - a, t)
    mid = (elevs > h0) & (elevs < h1)
    if h1 > h0:
        out = np.where(
            mid, t - a / 2 * (1 + np.cos(np.pi * (elevs - h0) / (h1 - h0))), out
        )
    return out


def _rms_objective(pred: np.ndarray, values: np.ndarray) -> float:
    # paid per simplex point: np.mean's arithmetic, not its wrapper cost
    d = pred - values
    value = np.sqrt(np.add.reduce(d * d) / d.size)
    return float(np.log(max(value, 1e-6)))


def vertical_profile_np(
    elevs: np.ndarray,
    values: np.ndarray,
    num_min_prof: int,
    min_elev_diff: float,
) -> np.ndarray:
    """compute_vertical_profile (src/background.cpp:59-173) on numpy."""
    elevs = np.asarray(elevs, dtype=float)
    values = np.asarray(values, dtype=float)
    mean_t = float(np.mean(values))
    if elevs.size == 0 or elevs.min() == elevs.max():
        return np.full(elevs.shape, mean_t)
    z05, z95 = exact_quantile(0.05, elevs), exact_quantile(0.95, elevs)
    if (z95 - z05) < min_elev_diff:
        return _basic_profile(elevs, mean_t, 0.0)
    if elevs.size < num_min_prof:
        x = _nelder_mead(
            lambda p: _rms_objective(_basic_profile(elevs, p[0], p[1]), values),
            np.array([mean_t, -0.0065]),
        )
        return _basic_profile(elevs, x[0], x[1])
    p10, p90 = exact_quantile(0.10, elevs), exact_quantile(0.90, elevs)
    x = _nelder_mead(
        lambda p: _rms_objective(_full_profile(elevs, *p), values),
        np.array([mean_t, -0.0065, 5.0, p10, p90]),
    )
    return _full_profile(elevs, *x)


# Stacked twins of the scalar fit above. Each sum keeps the scalar code's
# order: a box's sum runs along the contiguous last axis (numpy's pairwise
# loop, as in the 1-D call), a sum over simplex vertices along the vertex
# axis (one vertex after another, as the scalar axis-0 sum). Every
# elementwise op is the scalar op on a broadcast parameter column, so each
# problem's result is bit-identical to ``vertical_profile_np`` on it alone.


def _nelder_mead_batch(f, x0: np.ndarray, max_iter: int = 100, size_tol: float = 1e-2):
    """``_nelder_mead`` on K problems at once. ``x0`` is (K, n);
    ``f(points, rows)`` scores points (m, j, n) of the problems ``rows``
    (m,) as (m, j). A problem leaves the stack at the iteration its
    scalar twin breaks; expand, contract and shrink run on the rows that
    take them."""
    k, n = x0.shape
    simplex = np.repeat(x0[:, None, :], n + 1, axis=1)
    for i in range(n):
        simplex[:, i + 1, i] += 1.0
    live = np.arange(k)
    fvals = f(simplex, live)
    best = np.empty((k, n))

    def settle(rows, simplex, fvals):
        first = np.argsort(fvals, axis=1)[:, 0]
        best[rows] = simplex[np.arange(len(rows)), first]

    for _ in range(max_iter):
        r = np.arange(len(live))[:, None]
        order = np.argsort(fvals, axis=1)
        simplex, fvals = simplex[r, order], fvals[r, order]
        d = simplex - (np.add.reduce(simplex, axis=1) / (n + 1))[:, None, :]
        size = np.add.reduce(np.sqrt(np.add.reduce(d * d, axis=2)), axis=1) / (n + 1)
        done = size < size_tol
        if done.any():
            settle(live[done], simplex[done], fvals[done])
            go = ~done
            live, simplex, fvals = live[go], simplex[go], fvals[go]
            if live.size == 0:
                return best
        c = np.add.reduce(simplex[:, :-1], axis=1) / n
        worst = simplex[:, -1]
        xr = c + (c - worst)
        fr = f(xr[:, None], live)[:, 0]
        below_best = fr < fvals[:, 0]
        exp = np.flatnonzero(below_best)
        con = np.flatnonzero(~below_best & ~(fr < fvals[:, -2]))
        new_x, new_f = xr, fr  # reflection, unless replaced below
        if exp.size:
            xe = c[exp] + 2.0 * (c[exp] - worst[exp])
            fe = f(xe[:, None], live[exp])[:, 0]
            take = fe < fr[exp]
            new_x[exp[take]], new_f[exp[take]] = xe[take], fe[take]
        shrink = con[:0]
        if con.size:
            xc = c[con] + 0.5 * (worst[con] - c[con])
            fc = f(xc[:, None], live[con])[:, 0]
            take = fc < fvals[con, -1]
            new_x[con[take]], new_f[con[take]] = xc[take], fc[take]
            shrink = con[~take]
        step = np.ones(len(live), dtype=bool)
        step[shrink] = False
        simplex[step, -1], fvals[step, -1] = new_x[step], new_f[step]
        if shrink.size:
            b = simplex[shrink, :1]
            simplex[shrink] = b + 0.5 * (simplex[shrink] - b)
            fvals[shrink] = f(simplex[shrink], live[shrink])
    settle(live, simplex, fvals)
    return best


def _full_profile_batch(elevs: np.ndarray, p: np.ndarray) -> np.ndarray:
    """``_full_profile`` for parameter rows ``p`` (..., 5) over ``elevs``
    broadcast to (..., s). The cosine blend is evaluated everywhere and
    kept only inside (h0, h1), which is empty unless ``h1 > h0``, the
    scalar code's guard."""
    t0, gamma, a, h0, h1i = (p[..., i, None] for i in range(5))
    h1 = h0 + np.abs(h1i)
    t = t0 + gamma * elevs
    out = np.where(elevs <= h0, t - a, t)
    mid = (elevs > h0) & (elevs < h1)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        blend = t - a / 2 * (1 + np.cos(np.pi * (elevs - h0) / (h1 - h0)))
    return np.where(mid, blend, out)


def _rms_objective_batch(pred: np.ndarray, values: np.ndarray) -> np.ndarray:
    d = pred - values
    value = np.sqrt(np.add.reduce(d * d, axis=-1) / d.shape[-1])
    return np.log(np.maximum(value, 1e-6))


def exact_quantile_rows(q: float, x: np.ndarray) -> np.ndarray:
    """``exact_quantile(q, row)`` for each row of ``x``, bit for bit: one
    ``np.quantile(axis=1)`` over the all-finite rows (the same order
    statistics and lerp as a per-row call), the per-row call where a row
    is empty or holds a non-finite value."""
    out = np.empty(len(x))
    fin = np.isfinite(x).all(axis=1) & (x.shape[1] > 0)
    if fin.any():
        out[fin] = np.quantile(x[fin], q, axis=1)
    for i in np.flatnonzero(~fin):
        out[i] = exact_quantile(q, x[i])
    return out


def _profile_group(elevs: np.ndarray, values: np.ndarray, num_min_prof: int,
                   min_elev_diff: float) -> np.ndarray:
    """``vertical_profile_np`` on K problems of one box size, stacked as
    (K, s) arrays: flat boxes, the constant basic profile, then one
    stacked simplex for the rows that need a fit."""
    k, s = elevs.shape
    if s == 0:
        return np.empty((k, 0))
    mean_t = np.add.reduce(values, axis=1) / s
    out = np.repeat(mean_t[:, None], s, axis=1)
    fit = np.flatnonzero(elevs.min(axis=1) != elevs.max(axis=1))
    if fit.size == 0:
        return out
    e = elevs[fit]
    spread = exact_quantile_rows(0.95, e) - exact_quantile_rows(0.05, e)
    basic = spread < min_elev_diff
    out[fit[basic]] = mean_t[fit[basic], None] + 0.0 * e[basic]
    fit, e = fit[~basic], e[~basic]
    if fit.size == 0:
        return out
    v = values[fit]
    m = mean_t[fit]
    if s < num_min_prof:
        x = _nelder_mead_batch(
            lambda p, rows: _rms_objective_batch(
                p[..., 0, None] + p[..., 1, None] * e[rows, None], v[rows, None]
            ),
            np.stack([m, np.full(m.size, -0.0065)], axis=1),
        )
        out[fit] = x[:, 0, None] + x[:, 1, None] * e
        return out
    x0 = np.stack(
        [m, np.full(m.size, -0.0065), np.full(m.size, 5.0),
         exact_quantile_rows(0.10, e), exact_quantile_rows(0.90, e)],
        axis=1,
    )
    x = _nelder_mead_batch(
        lambda p, rows: _rms_objective_batch(
            _full_profile_batch(e[rows, None], p), v[rows, None]
        ),
        x0,
    )
    out[fit] = _full_profile_batch(e, x)
    return out


def vertical_profile_batch(
    elev_boxes: list[np.ndarray],
    value_boxes: list[np.ndarray],
    num_min_prof: int,
    min_elev_diff: float,
) -> list[np.ndarray]:
    """``vertical_profile_np`` over many boxes, bit-identical per box.
    Boxes are grouped by size and each group is fitted as one stack; the
    result list follows the input order."""
    sizes = np.array([len(e) for e in elev_boxes], dtype=np.int64)
    out: list[np.ndarray] = [None] * len(elev_boxes)  # type: ignore[list-item]
    for s in np.unique(sizes):
        idx = np.flatnonzero(sizes == s)
        elevs = np.array([elev_boxes[i] for i in idx], dtype=float).reshape(idx.size, s)
        values = np.array([value_boxes[i] for i in idx], dtype=float).reshape(idx.size, s)
        for i, row in zip(idx, _profile_group(elevs, values, num_min_prof, min_elev_diff)):
            out[i] = row
    return out


def theil_sen_np(
    elevs: np.ndarray,
    values: np.ndarray,
    num_min_prof: int,
    min_elev_diff: float,
) -> np.ndarray:
    """compute_vertical_profile_Theil_Sen (src/background.cpp:175-228)."""
    elevs = np.asarray(elevs, dtype=float)
    values = np.asarray(values, dtype=float)
    mean_t = float(np.mean(values))
    if elevs.size == 0 or elevs.min() == elevs.max():
        return np.full(elevs.shape, mean_t)
    z05, z95 = exact_quantile(0.05, elevs), exact_quantile(0.95, elevs)
    use_basic = elevs.size < num_min_prof or (z95 - z05) < min_elev_diff
    if use_basic:
        m_median = -0.0065
    else:
        i, j = np.triu_indices(elevs.size, k=1)
        dz = elevs[i] - elevs[j]
        slopes = np.where(np.abs(dz) < 1, 0.0, (values[i] - values[j]) / np.where(dz == 0, 1.0, dz))
        m_median = exact_quantile(0.5, slopes)
    q = values - m_median * elevs
    q_median = exact_quantile(0.5, q)
    return q_median + m_median * elevs


# ---------------------------------------------------------------- Spark side


def background(
    df: DataFrame,
    mode: str,
    group_cols: list[str],
    value_col: str = "value",
    elev_col: str = "elev",
    out_col: str = "bg",
    num_min_prof: int = 50,
    min_elev_diff: float = 200.0,
    value_minp: float | None = None,
    value_maxp: float | None = None,
    external_col: str | None = None,
) -> DataFrame:
    """Attach a per-group background column.

    mean/median/external are pure Spark (one shuffle, map-side partial
    aggregation; exact percentile for median). vertical_profile/theil_sen
    run the numpy kernels per group via applyInPandas.
    """
    if mode == "external":
        out = df.withColumn(out_col, F.col(external_col))
    elif mode in ("mean", "median"):
        agg = (
            F.avg(value_col) if mode == "mean" else F.expr(f"percentile({value_col}, 0.5)")
        ).alias(out_col)
        stats = df.groupBy(*group_cols).agg(agg)
        out = df.join(stats, on=group_cols, how="left")
    elif mode in ("vertical_profile", "theil_sen"):
        kernel = vertical_profile_np if mode == "vertical_profile" else theil_sen_np

        from pyspark.sql.types import DoubleType, StructField, StructType
        schema = StructType(list(df.schema.fields) + [StructField(out_col, DoubleType())])

        def fit(pdf):
            vp = kernel(
                pdf[elev_col].to_numpy(),
                pdf[value_col].to_numpy(),
                num_min_prof,
                min_elev_diff,
            )
            pdf = pdf.copy()
            pdf[out_col] = vp
            return pdf

        out = df.groupBy(*group_cols).applyInPandas(fit, schema=schema)
    else:
        raise ValueError(f"unknown background mode: {mode}")

    clamp = F.col(out_col)
    if value_minp is not None:
        clamp = F.greatest(clamp, F.lit(float(value_minp)))
    if value_maxp is not None:
        clamp = F.least(clamp, F.lit(float(value_maxp)))
    return out.withColumn(out_col, clamp)
