"""sct_resistant tests — seeded-gross-error recovery (the reference's own
framing, tests/sct_resistant_test.py: N points with planted errors) and
the accept_isolated=false -> flags 11/12 behavior
(reference tests/dataset_test.py:134-195)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from titanlib_spark.flags import BAD, GOOD, ISOLATED_INNER, ISOLATED_OUTER
from titanlib_spark.operators.sct_resistant import sct_resistant


def _grid_df(spark, n_side=15, seed=11, n_bad=8):
    """n_side^2 stations on a ~1km grid, smooth field + planted spikes."""
    rng = np.random.default_rng(seed)
    rows = []
    bad_ids = set(rng.choice(n_side * n_side, size=n_bad, replace=False).tolist())
    for i in range(n_side * n_side):
        r, c = divmod(i, n_side)
        lat = 60.0 + r * 0.01
        lon = 10.0 + c * 0.01
        value = 10.0 + 0.1 * r + 0.1 * c + float(rng.normal(0, 0.2))
        if i in bad_ids:
            value += 30.0  # gross error, far outside the smooth field
        rows.append((i, lat, lon, 100.0, value, i in bad_ids))
    return (
        spark.createDataFrame(
            rows, "id long, lat double, lon double, elev double, value double, is_bad boolean"
        ),
        bad_ids,
    )


@pytest.fixture(scope="module")
def sct_res_result(spark):
    df, bad_ids = _grid_df(spark)
    out = sct_resistant(
        df,
        background_elab_type="median_outer_circle",
        num_min_outer=5,
        num_max_outer=30,
        inner_radius=5000.0,
        outer_radius=10000.0,
        num_iterations=10,
        tpos=5.0,
        tneg=5.0,
        eps2=0.5,
    ).cache()
    return out, bad_ids


def test_planted_errors_flagged(sct_res_result):
    out, bad_ids = sct_res_result
    rows = {r.id: r.flags for r in out.collect()}
    missed = [i for i in bad_ids if rows[i] != BAD]
    assert not missed, f"planted gross errors not flagged: {missed}"


def test_clean_rows_mostly_kept(sct_res_result):
    out, bad_ids = sct_res_result
    rows = {r.id: r.flags for r in out.collect()}
    clean = [i for i in rows if i not in bad_ids]
    false_pos = [i for i in clean if rows[i] == BAD]
    assert len(false_pos) <= max(2, len(clean) // 50), f"too many false flags: {false_pos}"


def test_flag_vocabulary(sct_res_result):
    out, _ = sct_res_result
    codes = {r.flags for r in out.select("flags").distinct().collect()}
    assert codes <= {GOOD, BAD, ISOLATED_INNER, ISOLATED_OUTER, 100}


@pytest.mark.parametrize("mode", ["median", "bogus"])
def test_unknown_background_mode_raises(spark, mode):
    """An unknown mode ("median" is a mode of `background`, not of the
    circle background) is refused up front; it used to skip every centroid
    and pass every row."""
    df, _ = _grid_df(spark)
    with pytest.raises(ValueError, match="median_outer_circle"):
        sct_resistant(df, background_elab_type=mode)


@pytest.mark.parametrize("op", ["sct_resistant", "fgt_spatial"])
def test_external_background_requires_column(spark, op):
    """"external" without background_col used to read a NULL background
    for every row and condemn most of them; now it is refused up front."""
    from titanlib_spark import operators

    df, _ = _grid_df(spark)
    with pytest.raises(ValueError, match="requires background_col"):
        getattr(operators, op)(df, background_elab_type="external")


def test_accept_isolated_false_flags_11_12(spark):
    # 3 clustered stations + 1 far-away station: the lone one cannot gather
    # num_min_outer neighbors -> flag 11/12 when accept_isolated=False
    rows = [
        (0, 60.00, 10.00, 0.0, 1.0),
        (1, 60.01, 10.00, 0.0, 1.1),
        (2, 60.00, 10.01, 0.0, 0.9),
        (3, 65.00, 20.00, 0.0, 1.0),  # isolated
    ]
    df = spark.createDataFrame(rows, "id long, lat double, lon double, elev double, value double")
    out = sct_resistant(
        df,
        num_min_outer=3,
        inner_radius=5000.0,
        outer_radius=10000.0,
        accept_isolated=False,
        num_iterations=2,
    )
    flags = {r.id: r.flags for r in out.collect()}
    assert flags[3] in (ISOLATED_INNER, ISOLATED_OUTER)
    assert all(flags[i] == GOOD for i in (0, 1, 2))

    out2 = sct_resistant(
        df,
        num_min_outer=3,
        inner_radius=5000.0,
        outer_radius=10000.0,
        accept_isolated=True,
        num_iterations=2,
    )
    flags2 = {r.id: r.flags for r in out2.collect()}
    assert flags2[3] == GOOD


def _dataset_test_df(spark):
    """reference tests/dataset_test.py:73-105 fixture: 10 stations on a
    line, elevs 0..90, values [0]*8 + [0.1, 1000], per-row bands."""
    n = 10
    lons = np.linspace(60, 60.01, n)
    elevs = np.linspace(0, 90, n)
    values = [0.0] * 8 + [0.1, 1000.0]
    rows = [
        (
            i, 60.0, float(lons[i]), float(elevs[i]), values[i],
            values[i] - 20.0, values[i] + 20.0,  # mina, maxa
            values[i] - 1.0, values[i] + 1.0,    # minv, maxv
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "id long, lat double, lon double, elev double, value double, "
        "mina double, maxa double, minv double, maxv double",
    )


DATASET_TEST_KW = dict(
    background_elab_type="vertical_profile",
    num_min_outer=3,
    num_max_outer=10,
    inner_radius=50000.0,
    outer_radius=50000.0,
    num_iterations=2,
    num_min_prof=0,
    min_elev_diff=100.0,
    min_horizontal_scale=10000.0,
    max_horizontal_scale=100000.0,
    kth_closest=2,
    vertical_scale=200.0,
    value_mina="mina",
    value_maxa="maxa",
    value_minv="minv",
    value_maxv="maxv",
    eps2=0.5,
    tpos=16.0,
    tneg=16.0,
    basic=False,
)


def test_reference_golden_dataset_test(spark):
    """reference tests/dataset_test.py:73-132: expected [0]*9 + [1]."""
    out = sct_resistant(_dataset_test_df(spark), **DATASET_TEST_KW)
    flags = {r.id: r.flags for r in out.collect()}
    assert [flags[i] for i in range(10)] == [0] * 9 + [1]


def test_reference_golden_accept_isolated_false(spark):
    """reference tests/dataset_test.py:134-195: expected
    [12, 12, 0, 0, 0, 0, 0, 0, 0, 1] — rows 0/1 are condemned in the
    chi_stat-empty mass-flag, then found outer-isolated in the phase-3
    bad-row re-check because everything around them is bad too."""
    out = sct_resistant(
        _dataset_test_df(spark), accept_isolated=False, **DATASET_TEST_KW
    )
    flags = {r.id: r.flags for r in out.collect()}
    assert [flags[i] for i in range(10)] == [12, 12, 0, 0, 0, 0, 0, 0, 0, 1]


def test_worst_only_iterative(spark):
    """Two gross errors in one neighborhood: one flagged per pass, both
    gone at the fixpoint (src/sct_resistant.cpp:1033-1058 semantics)."""
    rng = np.random.default_rng(5)
    rows = []
    for i in range(30):
        r, c = divmod(i, 6)
        val = 5.0 + float(rng.normal(0, 0.1))
        if i in (7, 22):
            val += 25.0 + i  # two different-magnitude spikes
        rows.append((i, 60.0 + r * 0.005, 10.0 + c * 0.005, 0.0, val))
    df = spark.createDataFrame(rows, "id long, lat double, lon double, elev double, value double")
    out = sct_resistant(
        df,
        background_elab_type="median_outer_circle",
        num_min_outer=5,
        inner_radius=10000.0,
        outer_radius=20000.0,
        num_iterations=10,
        tpos=5.0,
        tneg=5.0,
    )
    flags = {r.id: r.flags for r in out.collect()}
    assert flags[7] == BAD and flags[22] == BAD
    others = [i for i in flags if i not in (7, 22)]
    assert sum(1 for i in others if flags[i] == BAD) == 0


# the three-phase members on the spiked grid, and their per-member knobs
SPIKE_KW = dict(
    num_min_outer=5,
    num_max_outer=30,
    inner_radius=5000.0,
    outer_radius=10000.0,
)
MEMBER_KW = {
    "sct_resistant": dict(background_elab_type="median_outer_circle",
                          tpos=5.0, tneg=5.0),
    "fgt_spatial": dict(background_elab_type="mean_outer_circle",
                        tpos=5.0, tneg=5.0),
    "sct_dual": dict(event_threshold=25.0, condition="Geq", test_threshold=0.3),
}
# md5 of the sorted (id, flags, score) rows, recorded before the driver's
# pass loop was rewritten
DRIVER_DIGESTS = {
    ("sct_resistant", "clean"): "abeb021e03e9",
    ("sct_resistant", "no_phase1"): "95738fff2ac3",
    ("sct_resistant", "one_pass"): "bea99b22bd62",
    ("sct_resistant", "early_stop"): "bea99b22bd62",
    ("fgt_spatial", "clean"): "abeb021e03e9",
    ("fgt_spatial", "no_phase1"): "234f2a18c40a",
    ("fgt_spatial", "one_pass"): "234f2a18c40a",
    ("fgt_spatial", "early_stop"): "234f2a18c40a",
    ("sct_dual", "clean"): "abeb021e03e9",
    ("sct_dual", "no_phase1"): "bd9d10fb3fed",
    ("sct_dual", "one_pass"): "bd9d10fb3fed",
    ("sct_dual", "early_stop"): "bd9d10fb3fed",
}


@pytest.mark.parametrize("member", list(MEMBER_KW))
@pytest.mark.parametrize(
    "path, n_bad, num_iterations",
    [
        # the first pass flags nothing: set_all_good, no phases 2 and 3
        ("clean", 0, 10),
        # phases 2 and 3 run with no phase 1
        ("no_phase1", 8, 0),
        # the loop runs out while it is still flagging
        ("one_pass", 8, 1),
        # phase 1 stops early, then phases 2 and 3
        ("early_stop", 8, 10),
    ],
)
def test_three_phase_driver_paths(spark, member, path, n_bad, num_iterations):
    from titanlib_spark import operators

    df, _ = _grid_df(spark, n_bad=n_bad)
    out = getattr(operators, member)(
        df, num_iterations=num_iterations, **SPIKE_KW, **MEMBER_KW[member]
    )
    has_score = "score" in out.columns
    rows = sorted(
        (r.id, r.flags, r.score if has_score else None)
        for r in out.select("id", "flags", *(["score"] if has_score else [])).collect()
    )
    if path == "clean":
        assert all(f == GOOD for _, f, _ in rows)
    digest = hashlib.md5(repr(rows).encode()).hexdigest()[:12]
    assert digest == DRIVER_DIGESTS[member, path]
