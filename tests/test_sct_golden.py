"""Golden tests ported from the reference's unit suite.

sct: reference tests/sct_test.py:52-60 (values [0,1,100] -> flags [0,0,1])
and :91-100 (obs_to_check masks who may be flagged, not who contributes).
background: reference tests/background_test.py + src/background.cpp modes.
lag filter: spark result == the numpy kernel run locally.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from titanlib_spark.operators import background, lag_reduction_filter, sct
from titanlib_spark.operators.lag_filter import _lag_filter_np

LATS = [60.0, 60.0, 60.0]
LONS = [10.0, 10.01, 10.02]
SCT_KW = dict(
    num_min=3,
    num_max=10,
    inner_radius=10000.0,
    outer_radius=10000.0,
    num_iterations=1,
    num_min_prof=0,
    min_elev_diff=100.0,
    min_horizontal_scale=10000.0,
    vertical_scale=200.0,
    pos=2.0,
    neg=2.0,
    eps2=0.5,
)


def test_sct_simple_golden(spark):
    rows = [
        (i, LATS[i], LONS[i], 0.0, v) for i, v in enumerate([0.0, 1.0, 100.0])
    ]
    df = spark.createDataFrame(rows, "id long, lat double, lon double, elev double, value double")
    out = sct(df, **SCT_KW)
    flags = {r.id: r.flags for r in out.collect()}
    assert flags == {0: 0, 1: 0, 2: 1}


def test_sct_empty_partitions_golden(spark):
    # without AQE coalescing, many of 64 shuffle partitions of the 81 halo
    # rows are empty, and the per-partition kernel is still called for
    # each of them
    rows = [
        (i, LATS[i], LONS[i], 0.0, v) for i, v in enumerate([0.0, 1.0, 100.0])
    ]
    df = spark.createDataFrame(rows, "id long, lat double, lon double, elev double, value double")
    conf = {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "64"}
    before = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        flags = {r.id: r.flags for r in sct(df, **SCT_KW).collect()}
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    assert flags == {0: 0, 1: 0, 2: 1}


def test_sct_obs_to_check_golden(spark):
    # reference tests/sct_test.py:91-100: two spikes (ids 4,5); only id 4
    # is testable -> [0,0,0,0,1,0]
    lats, lons = LATS * 2, LONS * 2
    values = [0.0, 1.0, 1.0, 1.0, 100.0, 100.0]
    to_check = [0, 1, 1, 1, 1, 0]
    rows = [
        (i, lats[i], lons[i], 0.0, values[i], to_check[i]) for i in range(6)
    ]
    df = spark.createDataFrame(
        rows, "id long, lat double, lon double, elev double, value double, tc int"
    )
    kw = dict(SCT_KW, pos=1.0, neg=1.0)
    out = sct(df, obs_to_check="tc", **kw)
    flags = {r.id: r.flags for r in out.collect()}
    assert flags == {0: 0, 1: 0, 2: 0, 3: 0, 4: 1, 5: 0}


def test_background_modes(spark):
    rows = [(g, float(e), 10.0 + 2.0 * e + (1.0 if e == 2 else 0.0))
            for g in (0, 1) for e in range(5)]
    df = spark.createDataFrame(rows, "grp int, elev double, value double")
    got_mean = background(df, "mean", ["grp"]).select("grp", "bg").distinct().collect()
    exp = np.mean([10 + 2 * e + (1 if e == 2 else 0) for e in range(5)])
    assert all(abs(r.bg - exp) < 1e-9 for r in got_mean)

    got_med = background(df, "median", ["grp"]).select("bg").distinct().collect()
    vals = sorted(10 + 2 * e + (1 if e == 2 else 0) for e in range(5))
    assert all(abs(r.bg - vals[2]) < 1e-9 for r in got_med)

    # theil_sen on near-linear data recovers the line per elevation
    ts = background(
        df, "theil_sen", ["grp"], num_min_prof=3, min_elev_diff=1.0
    ).collect()
    for r in ts:
        assert abs(r.bg - (10.0 + 2.0 * r.elev)) < 1.5


def test_background_external_and_clamp(spark):
    df = spark.createDataFrame([(0, 5.0, 99.0)], "grp int, value double, ext double")
    out = background(df, "external", ["grp"], external_col="ext",
                     value_maxp=50.0).collect()
    assert out[0].bg == 50.0  # clamped (src/background.cpp:51-54)


def test_lag_filter_matches_numpy(spark):
    rng = np.random.default_rng(4)
    times = np.cumsum(rng.uniform(0.5, 2.0, size=40))
    values = np.cumsum(rng.normal(0, 1, size=40)) + 10
    rows = [(1, float(t), float(v)) for t, v in zip(times, values)]
    df = spark.createDataFrame(rows, "k int, time double, value double")
    out = lag_reduction_filter(
        df, a=0.5, b=0.5, k1=0.25, k2=0.25, n=2, key_cols=["k"]
    )
    got = {r.time: r.filtered for r in out.collect()}
    exp = _lag_filter_np(times, values, 0.5, 0.5, 0.25, 0.25, 2)
    for t, e in zip(times, exp):
        assert abs(got[float(t)] - e) < 1e-12


def test_sct_vector_params_and_rep(spark):
    """Per-row pos/neg/eps2 columns (reference vec convention,
    include/titanlib.h:86-102) + the rep output (allocated-but-never-
    written in the reference, src/sct.cpp:91-92 -> constant 0)."""
    rows = [
        (i, LATS[i], LONS[i], 0.0, v, 2.0, 2.0, 0.5)
        for i, v in enumerate([0.0, 1.0, 100.0])
    ]
    df = spark.createDataFrame(
        rows,
        "id long, lat double, lon double, elev double, value double, "
        "p double, n double, e double",
    )
    kw = dict(SCT_KW)
    kw.pop("pos"), kw.pop("neg"), kw.pop("eps2")
    out = sct(df, pos="p", neg="n", eps2="e", **kw)
    got = {r.id: (r.flags, r.rep) for r in out.collect()}
    assert {i: f for i, (f, _) in got.items()} == {0: 0, 1: 0, 2: 1}
    assert all(rep == 0.0 for _, rep in got.values())


def test_dense_cell_colocated_guard(spark):
    """One cell fed 20k duplicate-location points must complete in bounded
    time (the co-located memo: twin centroids replay identical no-op
    passes) and produce the same verdicts as the unguarded per-centroid
    sweep would — rows in the truncated num_max circle get pog, the rest
    stay unflagged, nothing blows up quadratically."""
    import time

    from pyspark.sql import functions as F

    from titanlib_spark.operators import sct

    n = 20_000
    df = spark.range(n).select(
        F.col("id"),
        F.lit(50.0).alias("lat"), F.lit(10.0).alias("lon"),
        F.lit(100.0).alias("elev"),
        (F.col("id") % 100 / 10.0).alias("value"),
    )
    t0 = time.time()
    out = sct(
        df, num_min=5, num_max=20, inner_radius=5000.0,
        outer_radius=20000.0, num_iterations=1,
    ).cache()
    assert out.count() == n
    elapsed = time.time() - t0
    # unguarded: ~40s+ at this size (quadratic); guarded: seconds
    assert elapsed < 30, f"dense-cell sweep took {elapsed:.0f}s — quadratic?"
    # only the num_max lowest-id rows are in the (single) evaluated circle
    with_pog = out.where(F.col("prob_gross_error").isNotNull())
    assert with_pog.count() == 20
    assert with_pog.agg(F.max("id")).first()[0] == 19


def test_dense_cell_distinct_locations(spark):
    """One kernel cell fed 50k DISTINCT locations (the urban-density
    pathology the co-located memo can't touch) must complete in bounded
    time: the sub-grid index (_neighbors.py) makes each centroid's radius
    query O(candidates) instead of O(n_cell), so the cell is ~linear in
    the number of OI runs rather than quadratic in rows."""
    import time

    from pyspark.sql import functions as F

    from titanlib_spark.operators import sct

    n = 50_000
    # 224x224-ish lattice, ~44m spacing -> ~10 km patch, inside ONE
    # outer_radius=20km grid cell; every location distinct
    df = spark.range(n).select(
        F.col("id"),
        (F.lit(50.0) + (F.col("id") % 224) * 0.0004).alias("lat"),
        (F.lit(10.0) + (F.col("id") / 224).cast("long") * 0.0006).alias("lon"),
        F.lit(100.0).alias("elev"),
        (F.col("id") % 100 / 10.0).alias("value"),
    )
    t0 = time.time()
    out = sct(
        df, num_min=5, num_max=20, inner_radius=20000.0,
        outer_radius=20000.0, num_iterations=1,
    ).cache()
    assert out.count() == n
    elapsed = time.time() - t0
    assert elapsed < 120, f"dense distinct-location cell took {elapsed:.0f}s"
    # every row was reachable: each OI run settles its num_max circle, so
    # all rows end up evaluated (pog set) across the sweep
    assert out.where(F.col("prob_gross_error").isNotNull()).count() > n // 2


def test_triplet_oracle_margins_clear_of_noise():
    """Every decision boundary in the 3-point SCT oracles (thresholds,
    sign branches, round-to-4dp grid) must sit >= 1e-6 from its computed
    value — ~100x the worst cross-engine trig noise — so the DuckDB value
    oracles are robust, not lucky. Pure DuckDB, no Spark session."""
    import os
    import subprocess
    import sys

    from conftest import SF_DIR

    r = subprocess.run(
        [sys.executable, "scripts/sct_triplet_margins.py", SF_DIR],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.returncode == 0, r.stdout + r.stderr
