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
