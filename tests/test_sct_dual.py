"""sct_dual unit tests — dichotomous consistency (mirrors the reference's
seeded-error framing: tests/sct_dual_test.py plants class-flip errors and
checks recovery)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from titanlib_spark.flags import BAD, GOOD
from titanlib_spark.operators import sct_dual


def test_single_class_shortcut(spark):
    """All-same-class neighborhoods pass untouched (src/sct_dual.cpp:330-344)."""
    rows = [(i, 60.0 + 0.001 * i, 10.0, 0.0, 1.0) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, lat double, lon double, elev double, value double")
    out = sct_dual(
        df, event_threshold=5.0, condition="Lt", test_threshold=0.1,
        outer_radius=10000.0, num_iterations=1,
    )
    assert all(r.flags == GOOD for r in out.collect())


def test_class_flip_outlier_flagged(spark):
    """A dense yes-class field with isolated no-class intruders: the
    intruders disagree with their whole neighborhood and get flagged over
    iterations; conforming rows survive."""
    rng = np.random.default_rng(9)
    rows = []
    flipped = {17, 53}
    for i in range(80):
        r, c = divmod(i, 10)
        # value below 5 -> event (w=1) under Lt; conformers ~1, intruders ~9
        val = 1.0 + float(rng.uniform(0, 0.5))
        if i in flipped:
            val = 9.0
        rows.append((i, 60.0 + r * 0.003, 10.0 + c * 0.003, 0.0, val))
    df = spark.createDataFrame(rows, "id long, lat double, lon double, elev double, value double")
    out = sct_dual(
        df, event_threshold=5.0, condition="Lt", test_threshold=0.05,
        outer_radius=5000.0, num_iterations=5,
    )
    flags = {r.id: r.flags for r in out.collect()}
    assert all(flags[i] == BAD for i in flipped), flags
    false_pos = [i for i, f in flags.items() if f == BAD and i not in flipped]
    assert len(false_pos) <= 2, false_pos


def test_condition_vocabulary(spark):
    df = spark.createDataFrame(
        [(0, 60.0, 10.0, 0.0, 5.0)], "id long, lat double, lon double, elev double, value double"
    )
    for cond in ("Eq", "Gt", "Geq", "Lt", "Leq"):
        out = sct_dual(
            df, event_threshold=5.0, condition=cond, test_threshold=0.1,
            outer_radius=1000.0, num_iterations=1,
        )
        assert out.count() == 1
    with pytest.raises(Exception):
        sct_dual(
            df, event_threshold=5.0, condition="bogus", test_threshold=0.1,
            outer_radius=1000.0, num_iterations=1,
        ).collect()


def test_unknown_condition_raises(spark):
    df = spark.createDataFrame(
        [(0, 60.0, 10.0, 0.0, 5.0)], "id long, lat double, lon double, elev double, value double"
    )
    with pytest.raises(ValueError, match="Geq"):
        sct_dual(
            df, event_threshold=5.0, condition="Gte", test_threshold=0.1,
            outer_radius=1000.0,
        )


def test_accept_isolated_false_flag_12(spark):
    """Isolated station cannot gather num_min_outer neighbors -> flag 12
    when accept_isolated=False, 0 when True (reference
    tests/sct_resistant_test.py:126-187 framing, include/titanlib.h:198)."""
    rows = [
        (0, 60.000, 10.000, 0.0, 1.0),
        (1, 60.003, 10.000, 0.0, 1.0),
        (2, 60.000, 10.003, 0.0, 9.0),
        (3, 60.003, 10.003, 0.0, 1.0),
        (4, 70.000, 30.000, 0.0, 1.0),  # isolated
    ]
    df = spark.createDataFrame(rows, "id long, lat double, lon double, elev double, value double")
    kw = dict(
        event_threshold=5.0, condition="Lt", test_threshold=0.1,
        outer_radius=10000.0, num_min_outer=3, num_iterations=2,
    )
    flags = {r.id: r.flags for r in sct_dual(df, accept_isolated=False, **kw).collect()}
    assert flags[4] == 12
    flags_true = {r.id: r.flags for r in sct_dual(df, **kw).collect()}
    assert flags_true[4] == GOOD


def test_obs_to_check_masks_candidates(spark):
    """obs_to_check=0 rows are never flagged but still act as neighbors
    (reference src/sct_dual.cpp:221-226 + set_indices)."""
    rows = []
    for i in range(30):
        r, c = divmod(i, 6)
        val = 1.0 if i not in (7, 8) else 9.0  # two class intruders
        rows.append((i, 60.0 + r * 0.002, 10.0 + c * 0.002, 0.0, val, int(i != 7)))
    df = spark.createDataFrame(
        rows, "id long, lat double, lon double, elev double, value double, tc int"
    )
    out = sct_dual(
        df, event_threshold=5.0, condition="Lt", test_threshold=0.05,
        outer_radius=5000.0, num_iterations=5, obs_to_check="tc",
    )
    flags = {r.id: r.flags for r in out.collect()}
    assert flags[7] == GOOD  # masked: never a candidate
    assert flags[8] == BAD   # unmasked intruder still caught


def test_num_max_outer_bounds_kernel_input(spark):
    """Dense cell: num_max_outer truncates every neighborhood, so the
    per-centroid matrices stay bounded (reference :236-260). The planted
    intruder is still found with a small cap."""
    rng = np.random.default_rng(3)
    rows = []
    for i in range(400):  # dense: 20x20 grid, ~110m spacing
        r, c = divmod(i, 20)
        val = 1.0 + float(rng.uniform(0, 0.5))
        if i == 210:
            val = 9.0
        rows.append((i, 60.0 + r * 0.001, 10.0 + c * 0.001, 0.0, val))
    df = spark.createDataFrame(rows, "id long, lat double, lon double, elev double, value double")
    out = sct_dual(
        df, event_threshold=5.0, condition="Lt", test_threshold=0.05,
        outer_radius=20000.0, num_max_outer=20, num_iterations=3,
    )
    flags = {r.id: r.flags for r in out.collect()}
    assert flags[210] == BAD
    false_pos = [i for i, f in flags.items() if f == BAD and i != 210]
    assert len(false_pos) <= 4, false_pos


def test_inner_radius_gates_test_set(spark):
    """Rows outside inner_radius of every centroid are neighbors only;
    with inner_radius=0 each centroid can only test itself."""
    rows = []
    for i in range(25):
        r, c = divmod(i, 5)
        val = 1.0 if i != 12 else 9.0
        rows.append((i, 60.0 + r * 0.002, 10.0 + c * 0.002, 0.0, val))
    df = spark.createDataFrame(rows, "id long, lat double, lon double, elev double, value double")
    out = sct_dual(
        df, event_threshold=5.0, condition="Lt", test_threshold=0.05,
        outer_radius=5000.0, inner_radius=1.0, num_iterations=5,
    )
    flags = {r.id: r.flags for r in out.collect()}
    assert flags[12] == BAD  # tests itself as its own centroid
