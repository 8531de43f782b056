"""Bit-identity of the SCT numpy kernel's vectorized pieces.

The per-row 10th-percentile Dh is one ``np.quantile(..., axis=1)`` call and
the Nelder-Mead fit averages with ``np.add.reduce``; both must reproduce
the formulas they replaced bit for bit, and the whole kernel must
reproduce the digests recorded from the pre-vectorization kernel on seeded
random cells (ties, co-located points, masked rows, both vertical-profile
fits). The stacked profile fit must match the scalar fit per problem, and
the partition kernel (many cells, one stacked fit) must return each cell's
recorded rows. No Spark session needed.

Fast inner loop for kernel edits (seconds, no Spark):
``python -m pytest tests/test_sct_kernel.py tests/test_sct_sweep.py -q``
"""

from __future__ import annotations

import hashlib
import importlib

import numpy as np
import pandas as pd
import pytest

from titanlib_spark.functions.geo import EARTH_RADIUS
from titanlib_spark.operators.background import (
    _rms_objective,
    exact_quantile,
    vertical_profile_batch,
    vertical_profile_np,
)
from titanlib_spark.operators.sct import (
    _dh_rows,
    _geodetic_dist_matrix,
    _Params,
    _sct_kernel,
    _sct_partition,
)

# the package re-exports the ``sct`` function under the module's name
sct_module = importlib.import_module("titanlib_spark.operators.sct")


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


def _profile_cases(rng) -> dict[str, list[tuple[np.ndarray, np.ndarray]]]:
    """(elevs, values) boxes per branch of ``vertical_profile_np`` at
    ``num_min_prof`` 12 and ``min_elev_diff`` 100."""

    def vals(e):
        return 10.0 - 0.0065 * e + rng.normal(0.0, 1.0, e.size)

    cases: dict[str, list] = {k: [] for k in (
        "flat", "small_spread", "two_param", "five_param", "h1_eq_h0",
        "non_finite", "single")}
    for s in (3, 7, 11, 12, 20, 33):
        for _ in range(4):
            e = np.full(s, float(rng.integers(0, 900)))
            cases["flat"].append((e, vals(e)))
            e = 300.0 + rng.random(s) * 60.0
            cases["small_spread"].append((e, vals(e)))
            e = rng.random(s) * 1500.0
            cases["two_param" if s < 12 else "five_param"].append((e, vals(e)))
            # the 90th percentile sits at 0: h1i starts at 0, so h1 == h0
            e = np.r_[-rng.random(s // 2 + 1) * 600.0, np.zeros(s - s // 2 - 1)]
            cases["h1_eq_h0"].append((e, vals(e)))
            e = rng.random(s) * 1500.0
            e[rng.integers(0, s)] = rng.choice([np.nan, np.inf])
            cases["non_finite"].append((e, vals(np.nan_to_num(e))))
    e = np.array([250.0])
    cases["single"].append((e, vals(e)))
    return cases


def test_vertical_profile_batch_matches_scalar_fit():
    rng = np.random.default_rng(2024)
    cases = _profile_cases(rng)
    boxes = [b for bs in cases.values() for b in bs]
    order = rng.permutation(len(boxes))  # mixed box sizes and branches
    boxes = [boxes[i] for i in order]
    got = vertical_profile_batch(
        [e for e, _ in boxes], [v for _, v in boxes], 12, 100.0
    )
    assert len(got) == len(boxes)
    for (e, v), g in zip(boxes, got):
        want = vertical_profile_np(e, v, 12, 100.0)
        assert g.shape == want.shape
        assert g.tobytes() == want.tobytes()


@pytest.mark.parametrize("num_min_prof", [0, 1000])
def test_vertical_profile_batch_branches_per_problem(num_min_prof):
    rng = np.random.default_rng(num_min_prof)
    for name, boxes in _profile_cases(rng).items():
        got = vertical_profile_batch(
            [e for e, _ in boxes], [v for _, v in boxes], num_min_prof, 100.0
        )
        for (e, v), g in zip(boxes, got):
            want = vertical_profile_np(e, v, num_min_prof, 100.0)
            assert g.tobytes() == want.tobytes(), name


@pytest.mark.parametrize(
    "chunk_bytes, seeds",
    [
        (None, sorted(KERNEL_DIGESTS)),
        # fit and resolve after every cell: chunking must not move a bit
        (1, [0, 7, 13, 22]),
    ],
    ids=["one_stack", "chunk_per_cell"],
)
def test_sct_partition_returns_each_cells_recorded_rows(monkeypatch, chunk_bytes, seeds):
    """All 24 cells in one frame, interleaved at random with each cell's
    rows in their own order, each cell keyed by its seed; per seed, the
    partition kernel run with that seed's parameters must return that
    cell's recorded rows (ids are offset per cell; the kernel reads ids
    only for their order)."""
    if chunk_bytes is not None:
        monkeypatch.setattr(sct_module, "_CHUNK_BYTES", chunk_bytes)
    rng = np.random.default_rng(99)
    frames, params = [], {}
    for seed in sorted(KERNEL_DIGESTS):
        pdf, params[seed] = _random_cell(seed)
        frames.append(pdf.assign(_sid=pdf["_sid"] + seed * 1_000_000,
                                 _cx=seed, _cy=-seed % 3, _cz=7))
    allf = pd.concat(frames, ignore_index=True)
    cell = allf["_cx"].to_numpy()
    slots = cell[rng.permutation(len(allf))]
    rows = np.empty(len(allf), dtype=np.int64)
    for seed in sorted(KERNEL_DIGESTS):
        rows[slots == seed] = np.flatnonzero(cell == seed)
    allf = allf.iloc[rows].reset_index(drop=True)
    for seed in seeds:
        out = _sct_partition(allf, _Params(**params[seed]))
        assert out["_sid"].is_unique and len(out) == allf["_score"].sum()
        mine = out[out["_sid"] // 1_000_000 == seed]
        mine = mine.assign(_sid=mine["_sid"] - seed * 1_000_000)
        assert _kernel_digest(mine) == KERNEL_DIGESTS[seed]


def test_sct_partition_skips_halo_only_cells():
    pdf, params = _random_cell(3)
    halo_only = pdf.assign(_score=False, _cx=1)
    both = pd.concat([pdf.assign(_cx=0), halo_only], ignore_index=True)
    both = both.assign(_cy=0, _cz=0)
    out = _sct_partition(both, _Params(**params))
    assert _kernel_digest(out) == KERNEL_DIGESTS[3]
    empty = _sct_partition(halo_only.assign(_cy=0, _cz=0), _Params(**params))
    assert list(empty.columns) == ["_sid", "_sct_flag", "prob_gross_error"]
    assert len(empty) == 0
