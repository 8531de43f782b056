"""Bit-identity of the SCT numpy kernel's vectorized pieces.

The per-row 10th-percentile Dh is one ``np.quantile(..., axis=1)`` call and
the Nelder-Mead fit averages with ``np.add.reduce``; both must reproduce
the formulas they replaced bit for bit, and the whole kernel must
reproduce the digests recorded from the pre-vectorization kernel on seeded
random cells (ties, co-located points, masked rows, both vertical-profile
fits). No Spark session needed.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest

from titanlib_spark.functions.geo import EARTH_RADIUS
from titanlib_spark.operators.background import _rms_objective, exact_quantile
from titanlib_spark.operators.sct import (
    _dh_rows,
    _geodetic_dist_matrix,
    _sct_kernel,
)


def _per_row_dh(disth: np.ndarray) -> np.ndarray:
    return np.array(
        [exact_quantile(0.10, np.delete(disth[i], i)) for i in range(len(disth))]
    )


def _random_positions(rng, n: int, ties: bool):
    lats = 60.0 + rng.random(n) * 0.3
    lons = 10.0 + rng.random(n) * 0.5
    if ties and n > 2:
        # co-located points and repeated coordinates -> duplicate distances
        k = rng.integers(1, max(2, n // 3))
        src = rng.integers(0, n, k)
        dst = rng.integers(0, n, k)
        lats[dst], lons[dst] = lats[src], lons[src]
        lats = np.round(lats, 2)
    return lats, lons


@pytest.mark.parametrize("s_box", range(1, 26))
def test_dh_rows_matches_per_row_quantile(s_box):
    rng = np.random.default_rng(1000 + s_box)
    for trial in range(40):
        lats, lons = _random_positions(rng, s_box, ties=trial % 2 == 1)
        disth = _geodetic_dist_matrix(lats, lons)
        got, want = _dh_rows(disth), _per_row_dh(disth)
        assert got.tobytes() == want.tobytes() or (
            s_box == 1 and np.isnan(got).all() and np.isnan(want).all()
        )


def test_dh_rows_non_finite_keeps_per_row_semantics():
    rng = np.random.default_rng(7)
    lats, lons = _random_positions(rng, 6, ties=False)
    lats[2] = np.nan  # non-finite distances are dropped per row
    disth = _geodetic_dist_matrix(lats, lons)
    got, want = _dh_rows(disth), _per_row_dh(disth)
    assert np.array_equal(got, want, equal_nan=True)


def test_rms_objective_matches_mean_formula():
    rng = np.random.default_rng(11)
    for trial in range(2000):
        n = int(rng.integers(1, 40))
        pred = rng.normal(0.0, 10.0 ** rng.integers(-3, 4), n)
        values = rng.normal(0.0, 5.0, n)
        if trial % 7 == 0:
            values = pred.copy()  # exact fit: clamps at 1e-6
        want = float(np.log(max(np.sqrt(np.mean((pred - values) ** 2)), 1e-6)))
        got = _rms_objective(pred, values)
        assert np.float64(got).tobytes() == np.float64(want).tobytes()


def _random_cell(seed: int) -> tuple[pd.DataFrame, dict]:
    rng = np.random.default_rng(seed)
    n = int(rng.integers(8, 70))
    lats, lons = _random_positions(rng, n, ties=seed % 2 == 0)
    if seed % 8 == 7:
        lats = 60.0 + (lats - 60.0) * 10.0  # sparse: isolated points
    elevs = rng.random(n) * 800.0
    if seed % 3 == 0:
        elevs = np.round(elevs, -2)  # tied elevations
    values = 5.0 * np.sin(np.radians(lons) * 40.0) - 0.0065 * elevs
    values = values + rng.normal(0.0, 0.5, n)
    spikes = rng.integers(0, n, max(1, n // 10))
    values[spikes] += rng.choice([-1.0, 1.0], spikes.size) * 8.0
    latr, lonr = np.radians(lats), np.radians(lons)
    pdf = pd.DataFrame(
        {
            "_sid": rng.permutation(n).astype(np.int64) * 3,
            "_slat": lats,
            "_slon": lons,
            "_selev": elevs,
            "_svalue": values,
            "_stest": rng.random(n) > 0.1,
            "_score": rng.random(n) > 0.3,
            "_sx": EARTH_RADIUS * np.cos(latr) * np.cos(lonr),
            "_sy": EARTH_RADIUS * np.cos(latr) * np.sin(lonr),
            "_sz": EARTH_RADIUS * np.sin(latr),
        }
    )
    inner = float(rng.choice([5000.0, 10000.0, 20000.0]))
    params = dict(
        # num_min 1 lets single-point neighborhoods (s_box == 1) through
        num_min=1 if seed % 8 == 7 else int(rng.integers(2, 6)),
        num_max=int(rng.integers(5, 26)),
        inner_radius=inner,
        outer_radius=2.0 * inner,
        num_min_prof=int(rng.choice([-1, 0, 10, 1000])),
        min_elev_diff=100.0,
        min_horizontal_scale=float(rng.choice([1000.0, 10000.0])),
        vertical_scale=200.0,
        pos=("scalar", float(rng.choice([2.0, 4.0]))),
        neg=("scalar", float(rng.choice([2.0, 4.0]))),
        eps2=("scalar", 0.5),
    )
    return pdf, params


def _kernel_digest(out: pd.DataFrame) -> str:
    pog = out["prob_gross_error"].to_numpy(np.float64)
    pog = np.where(np.isnan(pog), np.nan, pog)  # canonical NaN bits
    h = hashlib.sha256()
    h.update(out["_sid"].to_numpy(np.int64).tobytes())
    h.update(out["_sct_flag"].to_numpy(np.int32).tobytes())
    h.update(pog.tobytes())
    return h.hexdigest()[:16]


# recorded from the kernel with the per-row np.delete + exact_quantile Dh
# loop and np.mean throughout the Nelder-Mead fit
KERNEL_DIGESTS = {
    0: "d971757ba785faa1",
    1: "6d0128e2bcb36c03",
    2: "240ad0040285290d",
    3: "3d567b6e3d6749e9",
    4: "c6002c926053cc85",
    5: "ee0fbeb1ccdae379",
    6: "a55870b1c4e4188b",
    7: "8eb3e5ec5a0cecd4",
    8: "26128b4a204f5ba5",
    9: "7376ee2f970f809f",
    10: "06e310b8cf7088ea",
    11: "a9d180610c22f26e",
    12: "e80cd1f58997dc43",
    13: "c92f52eb6395525f",
    14: "db310a051364e609",
    15: "b698084159647bc3",
    16: "c90edad31066e046",
    17: "d30b0fdfdf3d4865",
    18: "6f1a620f596cd970",
    19: "4983e5747c1fa941",
    20: "967f435ce210aa5a",
    21: "ac5b29ca7cd03790",
    22: "b141ca7c8fb7b0f0",
    23: "d78dc92731c135a5",
}


@pytest.mark.parametrize("seed", sorted(KERNEL_DIGESTS))
def test_sct_kernel_matches_recorded_output(seed):
    pdf, params = _random_cell(seed)
    assert _kernel_digest(_sct_kernel(pdf, **params)) == KERNEL_DIGESTS[seed]
