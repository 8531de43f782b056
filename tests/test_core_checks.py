"""Golden tests ported from the reference unit suite
(reference tests/buddy_check_test.py, tests/range_check_test.py,
tests/isolation_test.py, tests/files/*.yml semantics).
"""

import math

import pytest
from pyspark.sql import functions as F

from titanlib_spark.operators import (
    buddy_check,
    buddy_event_check,
    duplicate_check_exact,
    isolation_check,
    metadata_check,
    range_check,
)

NAN = float("nan")


def flags_of(df, id_col="id"):
    rows = df.select(id_col, "flags").orderBy(id_col).collect()
    return [r["flags"] for r in rows]


def line_points(spark, values, elevs=None):
    """The reference's 10-station Cartesian line (tests/buddy_check_test.py:13-20):
    y=0, x=linspace(0,100,N) — Cartesian mode means x/y are euclidean meters."""
    n = len(values)
    elevs = elevs or [0.0] * n
    xs = [100.0 * i / (n - 1) for i in range(n)]
    rows = [(i, 0.0, xs[i], float(elevs[i]), float(values[i])) for i in range(n)]
    return spark.createDataFrame(
        rows, "id long, lat double, lon double, elev double, value double"
    )


BUDDY_VALUES = [0, 0, 0, 0, 0, 0, 0, 0, 0.1, 1]


class TestBuddyCheck:
    # reference tests/buddy_check_test.py:29-40
    def test_bad_data_iterative_effect(self, spark):
        df = line_points(spark, BUDDY_VALUES)
        kw = dict(
            radius=10000.0,
            num_min=1,
            threshold=1.0,
            max_elev_diff=200.0,
            elev_gradient=-0.0065,
            min_std=0.01,
            coord_type="cartesian",
        )
        out1 = buddy_check(df, num_iterations=1, **kw)
        assert flags_of(out1) == [0] * 9 + [1]
        out2 = buddy_check(df, num_iterations=2, **kw)
        assert flags_of(out2) == [0] * 8 + [1, 1]

    # reference tests/buddy_check_test.py:82-89
    def test_min_std(self, spark):
        df = line_points(spark, BUDDY_VALUES)
        kw = dict(
            radius=10000.0,
            num_min=1,
            threshold=1.0,
            max_elev_diff=200.0,
            elev_gradient=-0.0065,
            num_iterations=2,
            coord_type="cartesian",
        )
        assert flags_of(buddy_check(df, min_std=0.3, **kw)) == [0] * 9 + [1]
        assert flags_of(buddy_check(df, min_std=1.0, **kw)) == [0] * 10

    # reference tests/buddy_check_test.py:91-96
    def test_min_num(self, spark):
        df = line_points(spark, BUDDY_VALUES)
        out = buddy_check(
            df,
            radius=10000.0,
            num_min=20,
            threshold=1.0,
            max_elev_diff=200.0,
            elev_gradient=-0.0065,
            min_std=0.01,
            num_iterations=2,
            coord_type="cartesian",
        )
        assert flags_of(out) == [0] * 10

    # reference tests/buddy_check_test.py:103-113
    def test_elev_gradient(self, spark):
        elevs = [0.0] * 9 + [-153.8]
        df = line_points(spark, BUDDY_VALUES, elevs)
        kw = dict(
            radius=10000.0,
            num_min=1,
            threshold=1.0,
            max_elev_diff=200.0,
            min_std=0.01,
            num_iterations=2,
            coord_type="cartesian",
        )
        assert flags_of(buddy_check(df, elev_gradient=0.0, **kw)) == [0] * 8 + [1, 1]
        assert flags_of(buddy_check(df, elev_gradient=-0.0065, **kw)) == [0] * 8 + [1, 0]

    # reference tests/buddy_check_test.py:115-123
    def test_max_elev_diff(self, spark):
        elevs = [0.0] * 9 + [100.0]
        df = line_points(spark, BUDDY_VALUES, elevs)
        out = buddy_check(
            df,
            radius=10000.0,
            num_min=1,
            threshold=1.0,
            max_elev_diff=1.0,
            elev_gradient=-0.0065,
            min_std=0.01,
            num_iterations=2,
            coord_type="cartesian",
        )
        assert flags_of(out) == [0] * 8 + [1, 0]

    # reference tests/buddy_check_test.py:125-131
    def test_missing(self, spark):
        values = [NAN] + BUDDY_VALUES[1:]
        df = line_points(spark, values)
        out = buddy_check(
            df,
            radius=10000.0,
            num_min=1,
            threshold=0.0001,
            max_elev_diff=1.0,
            elev_gradient=-0.0065,
            min_std=0.01,
            num_iterations=2,
            coord_type="cartesian",
        )
        assert flags_of(out) == [1] * 10

    def test_oracle_margins_clear_of_noise(self):
        """Every decision boundary of the buddy_check oracle (flag
        threshold, min_std branch) must sit >= 1e-6 from its computed
        value, so the shifted-moment stats and DuckDB's var_pop agree on
        every flag. Pure DuckDB, no Spark session."""
        import os
        import subprocess
        import sys

        from conftest import SF_DIR

        r = subprocess.run(
            [sys.executable, "scripts/buddy_margin_audit.py", SF_DIR],
            capture_output=True, text=True, timeout=300,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        assert r.returncode == 0, r.stdout + r.stderr


class TestBuddyEventCheck:
    def test_fraction_mode(self, spark):
        # 9 stations with value 0 (event under thr 0.5), one with 1 (non-event):
        # with threshold 0.1 the lone non-event disagrees with its buddies.
        df = line_points(spark, [0, 0, 0, 0, 0, 0, 0, 0, 0, 1])
        out = buddy_event_check(
            df,
            radius=10000.0,
            num_min=1,
            event_threshold=0.5,
            threshold=0.1,
            num_iterations=1,
            coord_type="cartesian",
        )
        assert flags_of(out) == [0] * 9 + [1]


class TestRangeCheck:
    # reference tests/range_check_test.py:28-36
    def test_per_row_bounds(self, spark):
        df = spark.createDataFrame(
            [(0, 4.0, 5.0, 6.0), (1, 2.0, 1.0, 3.0), (2, 2.0, 0.0, 1.0)],
            "id long, value double, mn double, mx double",
        )
        out = range_check(df, "mn", "mx")
        assert flags_of(out) == [1, 0, 1]

    def test_scalar_bounds_and_nan(self, spark):
        df = spark.createDataFrame(
            [(0, 1.0), (1, NAN), (2, 100.0), (3, None)],
            "id long, value double",
        )
        out = range_check(df, 0.0, 10.0)
        assert flags_of(out) == [0, 1, 1, 1]


class TestMetadataCheck:
    def test_toggleable(self, spark):
        df = spark.createDataFrame(
            [(0, 1.0, 2.0), (1, NAN, 2.0), (2, 1.0, None)],
            "id long, lat double, lon double",
        )
        assert flags_of(metadata_check(df, ["lat", "lon"])) == [0, 1, 1]
        assert flags_of(metadata_check(df, {"lat": True, "lon": False})) == [0, 1, 0]


class TestIsolationCheck:
    # reference tests/isolation_test.py: points with < num_min neighbors in radius
    def test_counts(self, spark):
        # cluster of 3 within 1km at origin-ish, 1 isolated far away
        rows = [
            (0, 60.0, 10.0),
            (1, 60.001, 10.0),
            (2, 60.0, 10.002),
            (3, 65.0, 20.0),
        ]
        df = spark.createDataFrame(rows, "id long, lat double, lon double")
        out = isolation_check(df, num_min=2, radius=2000.0)
        assert flags_of(out) == [0, 0, 0, 1]

    def test_invalid_coords_flagged(self, spark):
        rows = [(0, 60.0, 10.0), (1, NAN, 10.0)]
        df = spark.createDataFrame(rows, "id long, lat double, lon double")
        out = isolation_check(df, num_min=0, radius=2000.0)
        assert flags_of(out) == [0, 1]

    def test_vertical_radius(self, spark):
        rows = [
            (0, 60.0, 10.0, 100.0),
            (1, 60.001, 10.0, 150.0),
            (2, 60.002, 10.0, 900.0),
        ]
        df = spark.createDataFrame(rows, "id long, lat double, lon double, elev double")
        # num_min=1 within 2km and 100m elevation band: 0 and 1 buddy up; 2 isolated
        out = isolation_check(df, num_min=1, radius=2000.0, vertical_radius=100.0)
        assert flags_of(out) == [0, 0, 1]


class TestDuplicateExact:
    def test_first_wins(self, spark):
        df = spark.createDataFrame(
            [(0, "a", 10), (1, "a", 5), (2, "b", 1)],
            "id long, key string, ts long",
        )
        out = duplicate_check_exact(df, ["key"], ["ts", "id"])
        assert flags_of(out) == [1, 0, 0]


class TestFlagMonotonicity:
    def test_never_unflag(self, spark):
        df = spark.createDataFrame(
            [(0, 5.0), (1, 50.0)], "id long, value double"
        )
        out = range_check(df, 0.0, 10.0)  # flags row 1
        out = range_check(out, 0.0, 100.0)  # would pass row 1 — must stay flagged
        assert flags_of(out) == [0, 1]


class TestFgtSpatial:
    def test_outlier_isolation_and_restore(self, spark):
        """Radius-circle FGT: a planted gross error in a tight cluster is
        the worst offender (flag 1 + score); consistent members pass; a
        far-away station is isolated-outer (12)."""
        from titanlib_spark.operators import fgt_spatial

        rows = [(i, 50.0 + i * 0.01, 10.0, 100.0, 10.0 + 0.1 * i) for i in range(8)]
        rows.append((8, 50.03, 10.0, 100.0, 60.0))  # gross error, in-cluster
        rows.append((9, 70.0, 10.0, 100.0, 10.0))   # isolated
        df = spark.createDataFrame(rows, "id long, lat double, lon double, elev double, value double")
        out = fgt_spatial(
            df,
            background_elab_type="median_outer_circle",
            num_min_outer=3,
            inner_radius=20000.0,
            outer_radius=50000.0,
            tpos=10.0,
            tneg=10.0,
            basic=True,
            accept_isolated=False,
        )
        got = {r.id: (r.flags, r.score) for r in out.select("id", "flags", "score").collect()}
        assert got[8][0] == 1 and got[8][1] is not None and got[8][1] > 10.0
        assert got[9][0] == 12
        assert all(got[i][0] == 0 for i in range(8))

    def test_unknown_background_mode_raises(self, spark):
        """"mean" is a mode of `background`, not of the circle background:
        refused up front instead of passing every row."""
        from titanlib_spark.operators import fgt_spatial

        df = spark.createDataFrame(
            [(0, 50.0, 10.0, 100.0, 10.0)], "id long, lat double, lon double, elev double, value double"
        )
        with pytest.raises(ValueError, match="mean_outer_circle"):
            fgt_spatial(df, background_elab_type="mean")

    def test_advanced_mode_and_bands(self, spark):
        """Non-basic z with admissible/valid bands: a valid background
        vouches for every row (small_innov shortcut -> all good)."""
        from titanlib_spark.operators import fgt_spatial

        rows = [(i, 50.0 + i * 0.01, 10.0, 100.0, 10.0 + 0.1 * i) for i in range(6)]
        df = spark.createDataFrame(rows, "id long, lat double, lon double, elev double, value double")
        out = fgt_spatial(
            df,
            background_elab_type="mean_outer_circle",
            num_min_outer=3,
            inner_radius=20000.0,
            outer_radius=50000.0,
            value_minv=0.0,
            value_maxv=100.0,  # background always valid -> small_innov
            tpos=0.001,
            tneg=0.001,
            basic=False,
        )
        assert [r.flags for r in out.orderBy("id").collect()] == [0] * 6


def test_knn_always_k_radius_escalation(spark):
    """A far-isolated point has ZERO in-radius neighbors at the base
    radius; always-k escalation must still return exactly k for every
    point, matching a brute-force unbounded kNN (reference
    src/kdtree.cpp:105-126 always-k semantics)."""
    import numpy as np

    from titanlib_spark.functions.geo import knn_pairs_always_k

    # cartesian mode: plain euclidean, easy to brute-force. 12 clustered
    # points + one ~40 units away (needs 6 doublings of radius 1.0).
    pts = [(i, float(i % 4), float(i // 4)) for i in range(12)]
    pts.append((12, 40.0, 40.0))
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    out = knn_pairs_always_k(
        df, 3, 1.0, coord_type="cartesian", max_doublings=8
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r.id, []).append((r.dist, r.n_id))
    xy = {i: np.array([x, y]) for i, x, y in pts}
    assert set(got) == set(xy), "every point must appear"
    for i, neigh in got.items():
        assert len(neigh) == 3, f"point {i} got {len(neigh)} != k"
        brute = sorted(
            (float(np.hypot(*(xy[j] - xy[i]))), j) for j in xy if j != i
        )[:3]
        assert sorted(neigh) == [(pytest.approx(d), j) for d, j in brute]
