"""The SCT family's circle sweep reproduces the per-member kernels it
replaced.

Seeded cells run through ``circle_sweep`` with each member's decision
hook (sct_resistant's OI core, fgt_spatial's fgt core, sct_dual) in
phase 1 with set_flag0 False and True, phase 2 and phase 3. The cells mix
NA/GOOD/BAD start states, scalar and column-valued bands, co-located
centroids (the versioned memo), sparse rows (flags 11 and 12), rows
masked by obs_to_check and all five background modes. The digests were
recorded from the separate sct_resistant and sct_dual kernels before
they were folded into the sweep. No Spark session needed.
"""

from __future__ import annotations

import hashlib
from functools import partial

import numpy as np
import pandas as pd
import pytest

from titanlib_spark.flags import BAD, GOOD, ISOLATED_INNER, ISOLATED_OUTER
from titanlib_spark.functions.geo import EARTH_RADIUS
from titanlib_spark.operators._sct_phases import NA_STATE, band, circle_sweep
from titanlib_spark.operators.fgt import _fgt_core_np
from titanlib_spark.operators.sct_dual import CONDITIONS, _dual_decide
from titanlib_spark.operators.sct_resistant import _innovation_decide, _sct_core_np

PHASES = ((1, False), (1, True), (2, True), (3, True))
MODES = (
    "median_outer_circle", "mean_outer_circle", "external",
    "vertical_profile", "vertical_profile_theil_sen",
)


def _random_cell(seed: int, kind: str):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(12, 60))
    lats = 60.0 + rng.random(n) * 0.15
    lons = 10.0 + rng.random(n) * 0.3
    if seed % 2 == 0:  # co-located centroids
        k = int(rng.integers(2, max(3, n // 3)))
        src, dst = rng.integers(0, n, k), rng.integers(0, n, k)
        lats[dst], lons[dst] = lats[src], lons[src]
    if seed % 4 == 3:  # sparse: isolated rows (flags 11/12)
        lats = 60.0 + (lats - 60.0) * 8.0
    elevs = np.round(rng.random(n) * 600.0, -1)
    values = 5.0 + 3.0 * np.sin(np.radians(lons) * 60.0) - 0.0065 * elevs
    values = values + rng.normal(0.0, 0.3, n)
    spikes = rng.integers(0, n, max(1, n // 8))
    values[spikes] += rng.choice([-1.0, 1.0], spikes.size) * 9.0
    if kind == "dual":
        values = np.round(values)  # exercises Eq
    latr, lonr = np.radians(lats), np.radians(lons)
    state = rng.choice([NA_STATE, GOOD, BAD], n, p=[0.6, 0.2, 0.2]).astype(np.int32)
    pdf = pd.DataFrame(
        {
            "_sid": rng.permutation(n).astype(np.int64) * 7 + 3,
            "_slat": lats,
            "_slon": lons,
            "_selev": elevs,
            "_svalue": values,
            "_sobs": rng.random(n) > 0.15,
            "_sbg": values + rng.normal(0.0, 1.5, n),
            "_sx": EARTH_RADIUS * np.cos(latr) * np.cos(lonr),
            "_sy": EARTH_RADIUS * np.cos(latr) * np.sin(lonr),
            "_sz": EARTH_RADIUS * np.sin(latr),
            "_sstate": state,
            "_score": rng.random(n) > 0.25,
            # column-valued bands
            "b_mina": values - 15.0,
            "b_maxa": values + 15.0,
            "b_minv": values - rng.random(n) * 2.0,
            "b_maxv": values + rng.random(n) * 2.0,
            "b_eps2": 0.3 + rng.random(n) * 0.4,
            "b_tpos": 2.0 + rng.random(n) * 2.0,
            "b_tneg": 2.0 + rng.random(n) * 2.0,
            "b_sigma": 0.5 + rng.random(n),
            "b_event": np.round(values) + rng.choice([-1.0, 0.0, 1.0], n),
            "b_test": 0.1 + rng.random(n) * 0.4,
        }
    )
    col = seed % 3 == 1  # column-valued bands on a third of the seeds
    inner = float(rng.choice([4000.0, 8000.0, 15000.0]))
    params = dict(
        num_min_outer=int(rng.integers(2, 6)),
        num_max_outer=int(rng.integers(6, 30)),
        inner_radius=inner,
        outer_radius=float(rng.choice([1.5, 2.0])) * inner,
        accept_isolated=bool(seed % 4 != 3),
        min_horizontal_scale=float(rng.choice([250.0, 2000.0])),
        max_horizontal_scale=float(rng.choice([20000.0, 100000.0])),
        kth_closest=int(rng.integers(1, 6)),
        vertical_scale=200.0,
    )
    if kind == "dual":
        params.update(
            condition=CONDITIONS[seed % 5],
            event_threshold="b_event" if col else float(np.round(np.median(values))),
            test_threshold="b_test" if col else float(rng.choice([0.1, 0.3, 0.5])),
        )
    else:
        params.update(
            background_elab_type=MODES[seed % 5],
            num_min_prof=int(rng.choice([3, 5, 100])),
            min_elev_diff=100.0,
            basic=bool(seed % 5 == 4),
            value_mina="b_mina" if col else (None if seed % 2 else -5.0),
            value_maxa="b_maxa" if col else (None if seed % 2 else 14.0),
            value_minv="b_minv" if col else (None if seed % 3 == 2 else 2.0),
            value_maxv="b_maxv" if col else (None if seed % 3 == 2 else 9.0),
            eps2="b_eps2" if col else 0.5,
            tpos="b_tpos" if col else float(rng.choice([2.0, 3.0])),
            tneg="b_tneg" if col else float(rng.choice([2.0, 3.0])),
            sigma_b="b_sigma" if col else 1.0,
        )
    return pdf, params


def _plausible(pdf, params):
    def ext(spec, fn, default):
        if isinstance(spec, str):
            return float(fn(pdf[spec]))
        return default if spec is None else float(spec)

    return (
        ext(params.get("value_mina"), np.min, -np.inf),
        ext(params.get("value_maxa"), np.max, np.inf),
    )


def _digest(outs) -> str:
    h = hashlib.sha256()
    for out in outs:
        score = out["score"].to_numpy(np.float64)
        score = np.where(np.isnan(score), np.nan, score)
        h.update(out["_sid"].to_numpy(np.int64).tobytes())
        h.update(out["_state"].to_numpy(np.int32).tobytes())
        h.update(score.tobytes())
        h.update(b"|")
    return h.hexdigest()[:16]


def _sweep_kwargs(kind: str, p: dict, pdf: pd.DataFrame) -> dict:
    """circle_sweep arguments as circle_check builds them for ``kind``."""
    scales = dict(
        dh_min=p["min_horizontal_scale"],
        dh_max=p["max_horizontal_scale"],
        kth=p["kth_closest"],
        dz=p["vertical_scale"],
    )
    iso_inner = GOOD if p["accept_isolated"] else ISOLATED_INNER
    kw = dict(
        num_min_outer=p["num_min_outer"],
        num_max_outer=p["num_max_outer"],
        inner_radius=p["inner_radius"],
        outer_radius=p["outer_radius"],
        flag_iso_outer=GOOD if p["accept_isolated"] else ISOLATED_OUTER,
        plausible=_plausible(pdf, p),
    )
    if kind == "dual":
        return dict(
            kw,
            flag_iso_inner=None,
            bands=dict(
                event_threshold=band(p["event_threshold"], 0.0),
                test_threshold=band(p["test_threshold"], 0.5),
            ),
            decide=partial(_dual_decide, condition=p["condition"], **scales),
        )
    bands = dict(
        mina=band(p["value_mina"], -np.inf),
        maxa=band(p["value_maxa"], np.inf),
        minv=band(p["value_minv"], np.inf),
        maxv=band(p["value_maxv"], -np.inf),
        tpos=band(p["tpos"], 3.0),
        tneg=band(p["tneg"], 3.0),
    )
    if kind == "fgt":
        bands["sigma_b"] = band(p["sigma_b"], 1.0)
        core = partial(_fgt_core_np, basic=p["basic"])
    else:
        bands["eps2"] = band(p["eps2"], 0.5)
        core = partial(_sct_core_np, basic=p["basic"], **scales)
    decide = partial(
        _innovation_decide,
        core=core,
        mode=p["background_elab_type"],
        num_min_prof=p["num_min_prof"],
        min_elev_diff=p["min_elev_diff"],
    )
    return dict(kw, flag_iso_inner=iso_inner, bands=bands, decide=decide)


# recorded from _sct_resistant_kernel (sct core and fgt core) and
# _sct_dual_kernel, before the circle sweep replaced them
RECORDED = {
    "sct-0": "4cfa3d4884606e52",
    "sct-1": "89ac5172ed13be08",
    "sct-2": "1428056e4423ea76",
    "sct-3": "f6df145a5161560d",
    "sct-4": "983288018e2f0c68",
    "sct-5": "d80f32699af1eb8b",
    "sct-6": "f84fe7dc7a14eed7",
    "sct-7": "6f49a49df70174eb",
    "sct-8": "54beb71cdae84ae9",
    "sct-9": "8812b62e07ba62d1",
    "sct-10": "54852e86242de340",
    "sct-11": "3787250b62644b45",
    "sct-12": "de360de0f86a06de",
    "sct-13": "38d00e7aa894daff",
    "sct-14": "3bead44d639de379",
    "sct-15": "13ac015660330cde",
    "sct-16": "6a11f5aa00a76d6c",
    "sct-17": "d575e01bf6ae1bc3",
    "fgt-0": "b1c4318922812d4d",
    "fgt-1": "996d2e93e84e2bcd",
    "fgt-2": "a4fb5abf2e4ea95f",
    "fgt-3": "ecddf550a2ed4f9a",
    "fgt-4": "427e61c1a77987c0",
    "fgt-5": "925863e2d0110d68",
    "fgt-6": "f84fe7dc7a14eed7",
    "fgt-7": "6f49a49df70174eb",
    "fgt-8": "07f1e4111da30af4",
    "fgt-9": "00ddcd649f3ca1fa",
    "fgt-10": "c7ac4a37a81415b9",
    "fgt-11": "3787250b62644b45",
    "fgt-12": "50f0789a8258086c",
    "fgt-13": "332277095ecc6c40",
    "fgt-14": "95975898bb5c3878",
    "fgt-15": "4a25f5c8493f4f33",
    "fgt-16": "6a11f5aa00a76d6c",
    "fgt-17": "be8ace7011563016",
    "dual-0": "667ab87290ad2f0e",
    "dual-1": "b74fe405b5856a96",
    "dual-2": "e48415f148135cc9",
    "dual-3": "16126e53ca95de85",
    "dual-4": "e3f8ab8ec938c41f",
    "dual-5": "04ee284cd6b7f022",
    "dual-6": "b0ed71782211a857",
    "dual-7": "5faab6287262975a",
    "dual-8": "8e33b868c166395e",
    "dual-9": "4c14f360ae5feb0d",
    "dual-10": "68458fec54d361d6",
    "dual-11": "5725e625fd77aaea",
    "dual-12": "c1df4e23fe88e95c",
    "dual-13": "af439f6433114cba",
    "dual-14": "4ccbe4b693c6f4c0",
    "dual-15": "4f997225956692b5",
    "dual-16": "173bf2c63fafbce9",
    "dual-17": "30b2c1bf6f36b2c7",
}


@pytest.mark.parametrize("key", sorted(RECORDED))
def test_sweep_reproduces_recorded_kernels(key):
    kind, seed = key.rsplit("-", 1)
    pdf, p = _random_cell(int(seed), kind)
    kw = _sweep_kwargs(kind, p, pdf)
    outs = [
        circle_sweep(pdf.copy(), phase=phase, set_flag0=set_flag0, **kw)
        for phase, set_flag0 in PHASES
    ]
    assert _digest(outs) == RECORDED[key]
