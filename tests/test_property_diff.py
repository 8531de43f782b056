"""Differential property tests: Spark operators vs an independent numpy
brute-force model of the reference semantics, over hypothesis-random
inputs (random geometry, NaN values, random parameters).

The models below re-derive the semantics from the reference
(src/buddy_check.cpp:13-180, src/isolation_check.cpp:9-92) with O(n^2)
numpy — no grid bucketing, no joins — so any agreement is evidence the
distributed plan computes the same function, not a shared bug.

Numeric caveat: both engines are IEEE double; disagreement is only
possible when a quantity lands within ~1e-12 of a decision boundary
(radius, threshold), which continuous draws never hit.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from titanlib_spark.operators import (
    buddy_check,
    buddy_event_check,
    isolation_check,
)

R = 6.37e6  # functions/geo.EARTH_RADIUS (reference src/util.cpp:79)


def _ecef(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    latr, lonr = np.radians(lat), np.radians(lon)
    return np.stack(
        [np.cos(latr) * np.cos(lonr) * R, np.cos(latr) * np.sin(lonr) * R,
         np.sin(latr) * R],
        axis=1,
    )


def _chord2(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    p = _ecef(lat, lon)
    d = p[:, None, :] - p[None, :, :]
    return (d * d).sum(-1)


def _buddy_model(lat, lon, elev, value, *, radius, num_min, threshold,
                 max_elev_diff, elev_gradient, min_std, num_iterations):
    """Reference buddy_check semantics, brute force (one flags snapshot
    per iteration, population variance, std floor, early stop)."""
    n = len(lat)
    flags = np.where(np.isfinite(value), 0, 1)
    d2 = _chord2(lat, lon)
    use_elev = max_elev_diff > 0
    for _ in range(num_iterations):
        valid = flags == 0
        new = flags.copy()
        for i in range(n):
            if not valid[i]:
                continue
            nb = valid & (d2[i] > 0) & (d2[i] <= radius * radius)
            nb[i] = False
            if use_elev:
                nb &= np.abs(elev[i] - elev) <= max_elev_diff
            cnt = int(nb.sum())
            if cnt < num_min:
                continue
            adj = value[nb] + ((elev[i] - elev[nb]) * elev_gradient
                               if use_elev else 0.0)
            mean, var = adj.mean(), adj.var()
            std_adj = max(math.sqrt(var + var / cnt), min_std)
            if abs(value[i] - mean) / std_adj > threshold:
                new[i] = 1
        if (new != flags).sum() == 0:
            break
        flags = new
    return flags


def _buddy_vec_model(lat, lon, elev, value, rad, nm, thr, mstd, *,
                     max_elev_diff, elev_gradient, num_iterations):
    """buddy_check with per-row radius / num_min / threshold / min_std
    (reference length-N vector convention, src/buddy_check.cpp:32-41):
    each center's own radius gates which neighbors feed ITS stats."""
    n = len(lat)
    flags = np.where(np.isfinite(value), 0, 1)
    d2 = _chord2(lat, lon)
    use_elev = max_elev_diff > 0
    for _ in range(num_iterations):
        valid = flags == 0
        new = flags.copy()
        for i in range(n):
            if not valid[i]:
                continue
            nb = valid & (d2[i] > 0) & (d2[i] <= rad[i] * rad[i])
            nb[i] = False
            if use_elev:
                nb &= np.abs(elev[i] - elev) <= max_elev_diff
            cnt = int(nb.sum())
            if cnt < nm[i]:
                continue
            adj = value[nb] + ((elev[i] - elev[nb]) * elev_gradient
                               if use_elev else 0.0)
            mean, var = adj.mean(), adj.var()
            std_adj = max(math.sqrt(var + var / cnt), mstd[i])
            if abs(value[i] - mean) / std_adj > thr[i]:
                new[i] = 1
        if (new != flags).sum() == 0:
            break
        flags = new
    return flags


def _buddy_event_model(lat, lon, elev, value, *, radius, num_min,
                       event_threshold, threshold, max_elev_diff,
                       elev_gradient, num_iterations):
    """Reference buddy_event_check semantics (src/buddy_event_check.cpp:
    13-189): center event from the raw value, neighbor events from the
    lapse-adjusted value; fraction mode below 1, count mode at >= 1.
    num_min/event_threshold/threshold are scalars or length-n vectors
    (the reference's per-observation convention: row i's parameters gate
    row i's verdict AND convert its neighbors' values to events)."""
    n = len(lat)
    num_min = np.broadcast_to(np.asarray(num_min), (n,))
    event_threshold = np.broadcast_to(np.asarray(event_threshold, float), (n,))
    threshold = np.broadcast_to(np.asarray(threshold, float), (n,))
    flags = np.where(np.isfinite(value), 0, 1)
    d2 = _chord2(lat, lon)
    use_elev = max_elev_diff > 0
    for _ in range(num_iterations):
        valid = flags == 0
        new = flags.copy()
        for i in range(n):
            if not valid[i]:
                continue
            nb = valid & (d2[i] > 0) & (d2[i] <= radius * radius)
            nb[i] = False
            if use_elev:
                nb &= np.abs(elev[i] - elev) <= max_elev_diff
            cnt = int(nb.sum())
            if cnt < num_min[i]:
                continue
            adj = value[nb] + ((elev[i] - elev[nb]) * elev_gradient
                               if use_elev else 0.0)
            n_event = int((adj < event_threshold[i]).sum())
            is_event = value[i] < event_threshold[i]
            if threshold[i] < 1:
                frac = n_event / cnt
                bad = (is_event and frac <= threshold[i]) or (
                    not is_event and (1 - frac) <= threshold[i]
                )
            else:
                bad = (is_event and n_event <= threshold[i]) or (
                    not is_event and (cnt - n_event) <= threshold[i]
                )
            if bad:
                new[i] = 1
        if (new != flags).sum() == 0:
            break
        flags = new
    return flags


def _isolation_model(lat, lon, elev, *, num_min, radius, vertical_radius):
    """Reference isolation_check semantics: neighbors among valid-coord
    rows (values/flags irrelevant), optional symmetric elevation band.
    `radius` is a scalar or a length-n vector (row i's radius gates row
    i's neighbors)."""
    n = len(lat)
    radius = np.broadcast_to(np.asarray(radius, float), (n,))
    located = np.isfinite(lat) & np.isfinite(lon)
    if vertical_radius is not None:
        bad_coord = ~located | ~np.isfinite(elev)
    else:
        bad_coord = ~located
    lat2, lon2 = np.where(located, lat, 0.0), np.where(located, lon, 0.0)
    d2 = _chord2(lat2, lon2)
    flags = np.zeros(n, dtype=int)
    for i in range(n):
        if bad_coord[i]:
            flags[i] = 1
            continue
        nb = located & (d2[i] > 0) & (d2[i] <= radius[i] * radius[i])
        nb[i] = False
        if vertical_radius is not None:
            nb &= np.abs(elev[i] - elev) <= vertical_radius
        if int(nb.sum()) < num_min:
            flags[i] = 1
    return flags


def _dup_spatial_model(lat, lon, radius, elev=None, vr=None):
    """Reference greedy first-wins dedup (src/duplicate_check.cpp:7-56):
    sequential scan in id order; keeping a row checks all its
    radius-neighbors (elevation-gated when vertical_range is set; rows
    with invalid elevation are pre-checked and never kept)."""
    n = len(lat)
    d2 = _chord2(lat, lon)
    checked, keep = set(), set()
    if vr is not None:
        for i in range(n):
            if not np.isfinite(elev[i]):
                checked.add(i)
    for i in range(n):
        if i in checked:
            continue
        checked.add(i)
        keep.add(i)
        for j in range(n):
            # coincident distinct rows (d == 0) ARE duplicates here:
            # neighbor_pairs(include_self=True) keeps zero-distance pairs
            if j == i or not (d2[i, j] <= radius * radius):
                continue
            if vr is None:
                checked.add(j)
            elif not np.isfinite(elev[j]):
                checked.add(j)
            elif abs(elev[i] - elev[j]) <= vr:
                checked.add(j)
    return np.array([0 if i in keep else 1 for i in range(n)])


def _fgt_model(value, bg, group, *, tpos, tneg, basic, sigma_b,
               mina, maxa, minv, maxv, num_iterations):
    """Reference FGT decision core (src/fgt.cpp:780-923): robust z over
    admissible backgrounds, valid-band vouching, chi_stat-empty => all
    bad, worst-candidate-only per group per iteration."""
    n = len(value)
    flags = np.where(np.isfinite(value), 0, 1)
    for _ in range(num_iterations):
        new = flags.copy()
        for g in set(group):
            rows = [i for i in range(n) if group[i] == g and flags[i] == 0]
            if not rows:
                continue
            chi = {i: abs(value[i] - bg[i]) / sigma_b for i in rows}
            adm = [i for i in rows
                   if (mina is None or bg[i] >= mina)
                   and (maxa is None or bg[i] <= maxa)]
            if not adm:
                for i in rows:          # chi_stat empty -> all bad
                    new[i] = 1
                continue
            a = np.array([chi[i] for i in adm])
            mu = float(np.percentile(a, 50))
            sigma = float(np.percentile(a, 75) - np.percentile(a, 25))
            if basic:
                z = dict(chi)
            else:
                if sigma <= 0:
                    continue            # degenerate group: cannot test
                z = {i: (chi[i] - mu) / (sigma + sigma / math.sqrt(len(adm)))
                     for i in rows}
            cand = [i for i in rows
                    if minv is None or maxv is None
                    or bg[i] < minv or bg[i] > maxv]
            if not cand:
                continue
            worst = min(cand, key=lambda i: (-z[i], i))
            thr = tpos if value[worst] >= bg[worst] else tneg
            if z[worst] > thr:
                new[worst] = 1
        if (new != flags).sum() == 0:
            break
        flags = new
    return flags


finite_val = st.floats(min_value=-10, max_value=10, allow_nan=False)
maybe_nan_val = st.one_of(finite_val, st.just(float("nan")))


@st.composite
def stations(draw, min_n=2, max_n=25):
    n = draw(st.integers(min_n, max_n))
    lat = [draw(st.floats(50.0, 50.4, allow_nan=False)) for _ in range(n)]
    lon = [draw(st.floats(10.0, 10.4, allow_nan=False)) for _ in range(n)]
    elev = [draw(st.floats(0.0, 400.0, allow_nan=False)) for _ in range(n)]
    value = [draw(maybe_nan_val) for _ in range(n)]
    return pd.DataFrame(
        {"id": np.arange(n, dtype=np.int64), "lat": lat, "lon": lon,
         "elev": elev, "value": value}
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
@given(
    n=st.integers(3, 25),
    vals=st.lists(maybe_nan_val, min_size=25, max_size=25),
    bgs=st.lists(st.floats(-10, 10, allow_nan=False), min_size=25, max_size=25),
    tpos=st.floats(0.2, 4.0),
    tneg=st.floats(0.2, 4.0),
    basic=st.booleans(),
    mina=st.sampled_from([None, 0.0]),
    valid_band=st.sampled_from([None, (-1.0, 1.0)]),
    iters=st.integers(1, 3),
)
def test_fgt_matches_brute_force(spark, n, vals, bgs, tpos, tneg, basic,
                                 mina, valid_band, iters):
    from titanlib_spark.operators import fgt

    ids = np.arange(n, dtype=np.int64)
    pdf = pd.DataFrame(
        {"id": ids, "grp": (ids % 3).astype("int32"),
         "value": vals[:n], "bg": bgs[:n]}
    )
    minv, maxv = valid_band if valid_band else (None, None)
    expected = _fgt_model(
        pdf.value.to_numpy(), pdf.bg.to_numpy(), pdf.grp.to_numpy(),
        tpos=tpos, tneg=tneg, basic=basic, sigma_b=1.0,
        mina=mina, maxa=None, minv=minv, maxv=maxv, num_iterations=iters,
    )
    out = fgt(
        spark.createDataFrame(pdf), group_cols=["grp"], tpos=tpos, tneg=tneg,
        basic=basic, value_mina=mina, value_minv=minv, value_maxv=maxv,
        num_iterations=iters,
    )
    got = {r["id"]: r["flags"] for r in out.select("id", "flags").collect()}
    assert [got[i] for i in range(n)] == list(expected)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
@given(
    pdf=stations(),
    radius=st.floats(2_000, 30_000),
    num_min=st.integers(1, 4),
    threshold=st.floats(0.5, 3.0),
    max_elev_diff=st.sampled_from([-1.0, 150.0]),
    min_std=st.one_of(st.just(0.0), st.floats(0.1, 2.0)),
    iters=st.integers(1, 2),
)
def test_buddy_check_matches_brute_force(spark, pdf, radius, num_min,
                                         threshold, max_elev_diff, min_std,
                                         iters):
    expected = _buddy_model(
        pdf.lat.to_numpy(), pdf.lon.to_numpy(), pdf.elev.to_numpy(),
        pdf.value.to_numpy(),
        radius=radius, num_min=num_min, threshold=threshold,
        max_elev_diff=max_elev_diff, elev_gradient=-0.0065,
        min_std=min_std, num_iterations=iters,
    )
    out = buddy_check(
        spark.createDataFrame(pdf), radius=radius, num_min=num_min,
        threshold=threshold, max_elev_diff=max_elev_diff,
        elev_gradient=-0.0065, min_std=min_std, num_iterations=iters,
    )
    got = {r["id"]: r["flags"] for r in out.select("id", "flags").collect()}
    assert [got[i] for i in range(len(pdf))] == list(expected)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
@given(
    pdf=stations(),
    max_elev_diff=st.sampled_from([-1.0, 150.0]),
    iters=st.integers(1, 2),
)
def test_buddy_check_per_row_vectors_match_brute_force(spark, pdf,
                                                       max_elev_diff, iters):
    """Per-row radius/num_min/threshold/min_std columns (the length-N
    vector convention) against the same brute-force model."""
    ids = pdf["id"].to_numpy()
    pdf = pdf.assign(
        rad=3000.0 + (ids % 4) * 4000.0,
        nm=(1 + ids % 3).astype("int32"),
        thr=0.5 + (ids % 5) * 0.5,
        mstd=0.2 + (ids % 3) * 0.6,
    )
    expected = _buddy_vec_model(
        pdf.lat.to_numpy(), pdf.lon.to_numpy(), pdf.elev.to_numpy(),
        pdf.value.to_numpy(), pdf.rad.to_numpy(), pdf.nm.to_numpy(),
        pdf.thr.to_numpy(), pdf.mstd.to_numpy(),
        max_elev_diff=max_elev_diff, elev_gradient=-0.0065,
        num_iterations=iters,
    )
    out = buddy_check(
        spark.createDataFrame(pdf), radius="rad", num_min="nm",
        threshold="thr", min_std="mstd", max_elev_diff=max_elev_diff,
        elev_gradient=-0.0065, num_iterations=iters, cell_size=15000.0,
    )
    got = {r["id"]: r["flags"] for r in out.select("id", "flags").collect()}
    assert [got[i] for i in range(len(pdf))] == list(expected)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
@given(
    pdf=stations(),
    radius=st.floats(2_000, 30_000),
    num_min=st.integers(1, 4),
    event_threshold=st.floats(-5.0, 5.0),
    threshold=st.one_of(st.floats(0.05, 0.9), st.floats(1.0, 3.0)),
    max_elev_diff=st.sampled_from([-1.0, 150.0]),
    iters=st.integers(1, 2),
)
def test_buddy_event_check_matches_brute_force(spark, pdf, radius, num_min,
                                               event_threshold, threshold,
                                               max_elev_diff, iters):
    expected = _buddy_event_model(
        pdf.lat.to_numpy(), pdf.lon.to_numpy(), pdf.elev.to_numpy(),
        pdf.value.to_numpy(),
        radius=radius, num_min=num_min, event_threshold=event_threshold,
        threshold=threshold, max_elev_diff=max_elev_diff,
        elev_gradient=-0.0065, num_iterations=iters,
    )
    out = buddy_event_check(
        spark.createDataFrame(pdf), radius=radius, num_min=num_min,
        event_threshold=event_threshold, threshold=threshold,
        max_elev_diff=max_elev_diff, elev_gradient=-0.0065,
        num_iterations=iters,
    )
    got = {r["id"]: r["flags"] for r in out.select("id", "flags").collect()}
    assert [got[i] for i in range(len(pdf))] == list(expected)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
@given(
    pdf=stations(),
    radius=st.floats(2_000, 30_000),
    max_elev_diff=st.sampled_from([-1.0, 150.0]),
    iters=st.integers(1, 2),
    seed=st.integers(0, 2**31 - 1),
)
def test_buddy_event_check_vector_params_match_brute_force(
    spark, pdf, radius, max_elev_diff, iters, seed
):
    """Per-row num_min / event_threshold / threshold vectors (reference
    include/titanlib.h:287-296), including rows on BOTH sides of the
    fraction/count mode split within one call."""
    rng = np.random.default_rng(seed)
    n = len(pdf)
    pdf = pdf.copy()
    pdf["nm"] = rng.integers(1, 5, n)
    pdf["et"] = rng.uniform(-5.0, 5.0, n)
    # mix fraction-mode (<1) and count-mode (>=1) rows in one vector
    pdf["thr"] = np.where(
        rng.random(n) < 0.5, rng.uniform(0.05, 0.9, n), rng.uniform(1.0, 3.0, n)
    )
    expected = _buddy_event_model(
        pdf.lat.to_numpy(), pdf.lon.to_numpy(), pdf.elev.to_numpy(),
        pdf.value.to_numpy(),
        radius=radius, num_min=pdf.nm.to_numpy(),
        event_threshold=pdf.et.to_numpy(), threshold=pdf.thr.to_numpy(),
        max_elev_diff=max_elev_diff, elev_gradient=-0.0065,
        num_iterations=iters,
    )
    out = buddy_event_check(
        spark.createDataFrame(pdf), radius=radius, num_min="nm",
        event_threshold="et", threshold="thr", max_elev_diff=max_elev_diff,
        elev_gradient=-0.0065, num_iterations=iters,
    )
    got = {r["id"]: r["flags"] for r in out.select("id", "flags").collect()}
    assert [got[i] for i in range(len(pdf))] == list(expected)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
@given(
    pdf=stations(),
    radius=st.floats(500, 100_000),  # big radii -> one giant component:
    vr=st.sampled_from([None, 120.0]),  # stresses the pointer-jumping CC
)
def test_duplicate_spatial_matches_sequential_greedy(spark, pdf, radius, vr):
    from titanlib_spark.operators import duplicate_check_spatial

    if vr is not None:
        # inject invalid elevations (pre-checked rows in the reference)
        pdf = pdf.copy()
        pdf.loc[pdf["id"] % 7 == 3, "elev"] = float("nan")
    expected = _dup_spatial_model(
        pdf.lat.to_numpy(), pdf.lon.to_numpy(), radius,
        elev=pdf.elev.to_numpy(), vr=vr,
    )
    out = duplicate_check_spatial(
        spark.createDataFrame(pdf), radius=radius, vertical_range=vr,
    )
    got = {r["id"]: r["flags"] for r in out.select("id", "flags").collect()}
    assert [got[i] for i in range(len(pdf))] == list(expected)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
@given(
    pdf=stations(),
    radius=st.floats(2_000, 30_000),
    num_min=st.integers(1, 4),
    vertical_radius=st.sampled_from([None, 120.0]),
)
def test_isolation_check_matches_brute_force(spark, pdf, radius, num_min,
                                             vertical_radius):
    expected = _isolation_model(
        pdf.lat.to_numpy(), pdf.lon.to_numpy(), pdf.elev.to_numpy(),
        num_min=num_min, radius=radius, vertical_radius=vertical_radius,
    )
    out = isolation_check(
        spark.createDataFrame(pdf), num_min=num_min, radius=radius,
        vertical_radius=vertical_radius,
    )
    got = {r["id"]: r["flags"] for r in out.select("id", "flags").collect()}
    assert [got[i] for i in range(len(pdf))] == list(expected)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
@given(
    pdf=stations(),
    num_min=st.integers(1, 4),
    vertical_radius=st.sampled_from([None, 120.0]),
    seed=st.integers(0, 2**31 - 1),
)
def test_isolation_check_per_row_radius_matches_brute_force(
    spark, pdf, num_min, vertical_radius, seed
):
    """Per-row `radius` column: each row's own radius gates its count."""
    rng = np.random.default_rng(seed)
    pdf = pdf.assign(rad=rng.uniform(2_000, 30_000, len(pdf)))
    expected = _isolation_model(
        pdf.lat.to_numpy(), pdf.lon.to_numpy(), pdf.elev.to_numpy(),
        num_min=num_min, radius=pdf.rad.to_numpy(),
        vertical_radius=vertical_radius,
    )
    out = isolation_check(
        spark.createDataFrame(pdf), num_min=num_min, radius="rad",
        vertical_radius=vertical_radius, cell_size=30_000.0,
    )
    got = {r["id"]: r["flags"] for r in out.select("id", "flags").collect()}
    assert [got[i] for i in range(len(pdf))] == list(expected)


@pytest.mark.parametrize("max_elev_diff", [-1.0, 3.0])
def test_buddy_check_large_offset_matches_brute_force(spark, max_elev_diff):
    """Values 1e7 + N(0, 0.01): raw moments (sum v^2 / n - mean^2) cancel
    to a variance of ~0 here and flag most rows against min_std = 1e-5;
    the shifted moments must reproduce numpy's two-pass variance, with
    and without the lapse adjustment."""
    rng = np.random.default_rng(20261018)
    n = 30
    pdf = pd.DataFrame({
        "id": np.arange(n, dtype=np.int64),
        "lat": rng.uniform(50.0, 50.1, n),
        "lon": rng.uniform(10.0, 10.1, n),
        "elev": rng.uniform(0.0, 5.0, n),
        "value": 1e7 + rng.normal(0.0, 0.01, n),
    })
    params = dict(radius=15_000.0, num_min=3, threshold=1.0,
                  max_elev_diff=max_elev_diff, elev_gradient=-0.0065,
                  min_std=1e-5, num_iterations=2)
    expected = _buddy_model(
        pdf.lat.to_numpy(), pdf.lon.to_numpy(), pdf.elev.to_numpy(),
        pdf.value.to_numpy(), **params,
    )
    assert 0 < expected.sum() < n  # the case separates good from bad
    out = buddy_check(spark.createDataFrame(pdf), **params)
    got = {r["id"]: r["flags"] for r in out.select("id", "flags").collect()}
    assert [got[i] for i in range(n)] == list(expected)



@pytest.mark.parametrize("max_elev_diff", [-1.0, 50.0])
def test_buddy_check_outlier_in_key_matches_brute_force(spark, max_elev_diff):
    """A 3x3 lattice, four rows per position, values 1e7 + N(0, 0.01),
    one row of the centre position 1e4 lower: the outlier drags the
    centre key's pivot (its mean) 2.5e3 = 2.5e5 std away from its
    buddies' mean. Flags must still match numpy's two-pass variance,
    with and without the lapse adjustment (one elevation per position,
    so the lapse key still holds four rows)."""
    rng = np.random.default_rng(20261019)
    cell = np.repeat(np.arange(9), 4)
    n = len(cell)
    value = 1e7 + rng.normal(0.0, 0.01, n)
    value[4 * 4] -= 1e4
    pdf = pd.DataFrame({
        "id": np.arange(n, dtype=np.int64),
        "lat": 50.0 + (cell // 3) * 0.01,
        "lon": 10.0 + (cell % 3) * 0.01,
        "elev": rng.uniform(0.0, 5.0, 9)[cell],
        "value": value,
    })
    params = dict(radius=1_500.0, num_min=3, threshold=1.0,
                  max_elev_diff=max_elev_diff, elev_gradient=-0.0065,
                  min_std=1e-5, num_iterations=2)
    expected = _buddy_model(
        pdf.lat.to_numpy(), pdf.lon.to_numpy(), pdf.elev.to_numpy(),
        pdf.value.to_numpy(), **params,
    )
    assert expected[16] == 1 and 1 < expected.sum() < n
    out = buddy_check(spark.createDataFrame(pdf), **params)
    got = {r["id"]: r["flags"] for r in out.select("id", "flags").collect()}
    assert [got[i] for i in range(n)] == list(expected)

@st.composite
def lattice_stations(draw, values, min_n=4, max_n=30):
    """Rows on a 3x3 lattice (0.01 deg spacing: 0.7-1.1 km between
    neighbors), so several rows share each position; elev drawn from a
    few levels incl. NaN, so (position, elev) keys repeat too."""
    n = draw(st.integers(min_n, max_n))
    cells = [draw(st.integers(0, 8)) for _ in range(n)]
    levels = st.sampled_from([0.0, 60.0, 200.0, float("nan")])
    return pd.DataFrame({
        "id": np.arange(n, dtype=np.int64),
        "lat": [50.0 + (c // 3) * 0.01 for c in cells],
        "lon": [10.0 + (c % 3) * 0.01 for c in cells],
        "elev": [draw(levels) for _ in range(n)],
        "value": [draw(values) for _ in range(n)],
    })


def _with_null_elev(spark, pdf):
    """Spark frame whose NaN elevations are NULL on odd ids (both are
    invalid; the models read NaN for either)."""
    df = spark.createDataFrame(pdf)
    return df.withColumn(
        "elev",
        F.when(F.isnan("elev") & (F.col("id") % 2 == 1), F.lit(None))
        .otherwise(F.col("elev")),
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
@given(
    pdf=lattice_stations(maybe_nan_val),
    radius=st.one_of(st.floats(500, 3_000), st.just("rad")),
    num_min=st.integers(1, 6),
    vertical_radius=st.sampled_from([None, 120.0]),
)
def test_isolation_check_lattice_matches_brute_force(spark, pdf, radius,
                                                     num_min, vertical_radius):
    """Co-located rows: counts per (position, elev, radius) key."""
    pdf = pdf.assign(rad=[(800.0, 1_500.0, 2_500.0)[i % 3] for i in range(len(pdf))])
    rad = pdf.rad.to_numpy() if radius == "rad" else radius
    expected = _isolation_model(
        pdf.lat.to_numpy(), pdf.lon.to_numpy(), pdf.elev.to_numpy(),
        num_min=num_min, radius=rad, vertical_radius=vertical_radius,
    )
    out = isolation_check(
        _with_null_elev(spark, pdf), num_min=num_min, radius=radius,
        vertical_radius=vertical_radius, cell_size=3_000.0,
    )
    got = {r["id"]: r["flags"] for r in out.select("id", "flags").collect()}
    assert [got[i] for i in range(len(pdf))] == list(expected)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
@given(
    pdf=lattice_stations(maybe_nan_val),
    radius=st.floats(500, 3_000),
    num_min=st.integers(1, 6),
    threshold=st.floats(0.5, 3.0),
    max_elev_diff=st.sampled_from([-1.0, 150.0]),
    min_std=st.one_of(st.just(0.0), st.floats(0.1, 2.0)),
    iters=st.integers(1, 2),
)
def test_buddy_check_lattice_matches_brute_force(spark, pdf, radius, num_min,
                                                 threshold, max_elev_diff,
                                                 min_std, iters):
    """Co-located rows: moments pre-aggregated per (position[, elev]) key."""
    params = dict(radius=radius, num_min=num_min, threshold=threshold,
                  max_elev_diff=max_elev_diff, elev_gradient=-0.0065,
                  min_std=min_std, num_iterations=iters)
    expected = _buddy_model(
        pdf.lat.to_numpy(), pdf.lon.to_numpy(), pdf.elev.to_numpy(),
        pdf.value.to_numpy(), **params,
    )
    out = buddy_check(_with_null_elev(spark, pdf), **params)
    got = {r["id"]: r["flags"] for r in out.select("id", "flags").collect()}
    assert [got[i] for i in range(len(pdf))] == list(expected)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
@given(
    pdf=lattice_stations(st.sampled_from([-1.0, 0.5, 2.0, 4.0, float("nan")])),
    radius=st.floats(500, 3_000),
    num_min=st.integers(1, 6),
    event_threshold=st.sampled_from([0.5, 1.0, 3.0, "et"]),
    threshold=st.one_of(st.floats(0.05, 0.9), st.floats(1.0, 3.0)),
    max_elev_diff=st.sampled_from([-1.0, 150.0]),
    iters=st.integers(1, 2),
)
def test_buddy_event_check_lattice_matches_brute_force(
    spark, pdf, radius, num_min, event_threshold, threshold, max_elev_diff,
    iters
):
    """Co-located rows with repeated values: keys grow by value (and the
    per-row threshold) when the event bit reads the query row."""
    pdf = pdf.assign(et=[(0.5, 3.0)[i % 2] for i in range(len(pdf))])
    et = pdf.et.to_numpy() if event_threshold == "et" else event_threshold
    expected = _buddy_event_model(
        pdf.lat.to_numpy(), pdf.lon.to_numpy(), pdf.elev.to_numpy(),
        pdf.value.to_numpy(),
        radius=radius, num_min=num_min, event_threshold=et,
        threshold=threshold, max_elev_diff=max_elev_diff,
        elev_gradient=-0.0065, num_iterations=iters,
    )
    out = buddy_event_check(
        _with_null_elev(spark, pdf), radius=radius, num_min=num_min,
        event_threshold=event_threshold, threshold=threshold,
        max_elev_diff=max_elev_diff, elev_gradient=-0.0065,
        num_iterations=iters,
    )
    got = {r["id"]: r["flags"] for r in out.select("id", "flags").collect()}
    assert [got[i] for i in range(len(pdf))] == list(expected)
