"""SCT — Spatial Consistency Test (Lussana et al. 2010) on Spark.

Statistical core from reference src/sct.cpp:120-306, re-expressed for a
cluster: Spark owns data movement (grid partitioning with halo exchange),
numpy owns the per-neighborhood optimal-interpolation (OI) algebra inside
one Arrow-batched ``mapInPandas`` call per partition of halo rows.

Plan per iteration (driver-side loop, flags.iterate_flags: early stop
when nothing new is flagged — src/sct.cpp:294-299):

1. keep unflagged points; bucket into ECEF grid cells of side
   ``outer_radius``;
2. replicate each point to the 27 adjacent cells as *halo* rows
   (``_sct_phases.halo``, shared with the SCT family's driver) — every
   point within ``outer_radius`` of any core point of a cell is then
   present in that cell's group (chord distance <= arc distance);
   ``repartition`` by cell key is the one exchange;
3. per partition (one Python call): split the rows by cell key and drop
   cells with no core row, a guaranteed no-op (``_sct_phases.split_cells``,
   shared with the SCT family's passes), and run the reference's
   per-centroid loop (src/sct.cpp:108-123) as three passes:

   a. per cell, a geometry sweep over its core points in id order: the
      ``checked`` memo, the co-located guard, gather <= ``num_max``
      nearest unflagged neighbors within ``outer_radius`` (>= ``num_min``
      or skip), Gaussian covariance S = exp(-.5 (dh/Dh)^2 - .5 (dz/Dz)^2)
      + eps2*I with Dh = mean per-row 10th-pct pairwise distance clamped
      to ``min_horizontal_scale``, and its inverse (a failed inversion
      skips the centroid, src/sct.cpp:221-224);
   b. one stacked vertical-profile fit over every recorded centroid of
      the partition (``background.vertical_profile_batch``);
   c. per centroid in sweep order: analysis residuals ``ares``,
      cross-validation residuals ``cvres = -(1/diag(Sinv)) * Sinv d``,
      ``sig2o = max(mean(d * -ares), 0.01)``, ``pog = cvres*ares/sig2o``;
      flag rows within ``inner_radius`` where pog exceeds pos (cvres<0) /
      neg (cvres>=0) thresholds (src/sct.cpp:272-291).

   The split is exact: which centroids get evaluated, and their S, read
   only positions, ids, elevations, ``obs_to_check`` and eps2 — the
   ``checked`` memo marks rows whatever their values or verdicts — so
   pass (a) picks the reference loop's centroids, and (b) and (c) run
   each one's arithmetic in its own op order. Stacking the fit across the
   whole partition, not per cell, is what pays (rule 43).

Deviation from the reference (documented): the sequential centroid sweep is
per-cell instead of global, so the `checked` memo never spans cells.
Verdicts for a given neighborhood are identical; which neighborhoods get
evaluated can differ — the reference itself is order-tolerant here.

Skew control: dense cells are bounded by ``num_max`` per centroid
(O(num_max^3) inversion cap — the reference's own control,
src/sct.cpp:130-146); per-cell kernel input is bounded by cell geography
times the 27x halo replication, the same bound the reference's in-memory
R-tree carries globally.

The reference also returns ``rep`` (coefficient of representativity,
include/titanlib.h:82) — it is allocated and zero-filled but never
written (src/sct.cpp:91-92), so parity is a constant-0 column.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from titanlib_spark.flags import (
    BAD,
    GOOD,
    apply_check_flags,
    ensure_flags,
    iterate_flags,
)
from titanlib_spark.functions.geo import with_ecef
from titanlib_spark.operators._neighbors import CellNeighborhood
from titanlib_spark.operators._sct_phases import band, halo, split_cells
from titanlib_spark.operators.background import exact_quantile_rows, vertical_profile_batch
from titanlib_spark.operators.range_check import is_invalid_value


def _geodetic_dist_matrix(lats: np.ndarray, lons: np.ndarray) -> np.ndarray:
    """Great-circle distance matrix (reference calc_distance,
    src/util.cpp:89-112, R=6.378137e6)."""
    latr = np.radians(lats)[:, None]
    lonr = np.radians(lons)[:, None]
    ratio = (
        np.cos(latr) @ np.cos(latr).T * np.cos(lonr - lonr.T)
        + np.sin(latr) @ np.sin(latr).T
    )
    np.clip(ratio, -1.0, 1.0, out=ratio)
    return np.arccos(ratio) * 6.378137e6


def _dh_rows(disth: np.ndarray) -> np.ndarray:
    """Per-row 10th percentile of the off-diagonal distances (Dh is their
    mean), bit-identical to a per-row ``exact_quantile`` loop, which drops
    non-finite distances per row and gives NaN for a single point."""
    s_box = disth.shape[0]
    off = disth[~np.eye(s_box, dtype=bool)].reshape(s_box, s_box - 1)
    return exact_quantile_rows(0.10, off)


class _Params(NamedTuple):
    num_min: int
    num_max: int
    inner_radius: float
    outer_radius: float
    num_min_prof: int
    min_elev_diff: float
    min_horizontal_scale: float
    vertical_scale: float
    pos: tuple
    neg: tuple
    eps2: tuple


# pass-1 matrices (S and its inverse) held before a fit; the partition is
# fitted and resolved in chunks of cells that stay under this
_CHUNK_BYTES = 32 << 20


def _columns(pdf: pd.DataFrame, p: _Params) -> dict:
    n = len(pdf)

    def band(spec, default):
        # per-row vectors (reference vec pos/neg/eps2, include/titanlib.h:86-102)
        if spec[0] == "col":
            return pdf[spec[1]].to_numpy(dtype=float)
        return np.full(n, default if spec[1] is None else float(spec[1]))

    return {
        "ids": pdf["_sid"].to_numpy(),
        "lats": pdf["_slat"].to_numpy(dtype=float),
        "lons": pdf["_slon"].to_numpy(dtype=float),
        "elevs": pdf["_selev"].to_numpy(dtype=float),
        "values": pdf["_svalue"].to_numpy(dtype=float),
        "to_test": pdf["_stest"].to_numpy(dtype=bool),
        "core": pdf["_score"].to_numpy(dtype=bool),
        "x": pdf["_sx"].to_numpy(dtype=float),
        "y": pdf["_sy"].to_numpy(dtype=float),
        "z": pdf["_sz"].to_numpy(dtype=float),
        "pos_v": band(p.pos, 4.0),
        "neg_v": band(p.neg, 4.0),
        "eps2_v": band(p.eps2, 0.5),
    }


def _sweep(col: dict, p: _Params) -> list:
    """Pass 1: the reference's centroid loop over one cell's core rows,
    with every step that reads no value — the ``checked`` memo, the
    co-located guard, the ``num_min`` skip, Dh, S and its inverse.
    Returns (sel, dists, S, Sinv) per evaluated centroid in sweep order,
    S's diagonal unweighted."""
    ids, x, y, z = col["ids"], col["x"], col["y"], col["z"]
    elevs, eps2_v = col["elevs"], col["eps2_v"]
    to_test, core = col["to_test"], col["core"]
    checked = np.zeros(len(ids), dtype=bool)
    circles = []

    order = np.argsort(ids, kind="stable")  # deterministic sweep order
    # output-sensitive radius/kNN queries: identical results to the naive
    # scan, O(candidates) per centroid for dense distinct-location cells
    # (see _neighbors.py)
    nbr = CellNeighborhood(np.stack([x, y, z], axis=1), ids, p.outer_radius, p.num_max)

    # Dense-cell guard: co-located centroids define IDENTICAL circles
    # (sel is a pure function of position + ids here — the unflagged
    # filter is applied outside the kernel per iteration), so a repeat
    # pass re-applies exactly the same verdicts. Skipping it is a no-op
    # by construction and turns the 50k-duplicate-location pathology
    # from O(n^2) scans into one scan (measured 227s -> ~2s).
    pos_seen: set = set()

    for curr in order:
        if not core[curr] or checked[curr]:
            continue
        pos_key = (x[curr], y[curr], z[curr])
        if pos_key in pos_seen:
            continue
        pos_seen.add(pos_key)
        # chord-metric radius query (reference KDTree semantics), nearest
        # num_max with id tie-break for determinism
        sel, dists = nbr.query(curr)
        if sel.size < p.num_min:
            checked[curr] = True
            continue

        e_box = elevs[sel]
        disth = _geodetic_dist_matrix(col["lats"][sel], col["lons"][sel])
        distz = np.abs(e_box[:, None] - e_box[None, :])
        s_box = sel.size
        dh_mean = max(float(np.mean(_dh_rows(disth))), float(p.min_horizontal_scale))

        S = np.exp(
            -0.5 * (disth / dh_mean) ** 2 - 0.5 * (distz / p.vertical_scale) ** 2
        )
        S[np.diag_indices(s_box)] += eps2_v[sel]
        try:
            Sinv = np.linalg.inv(S)
        except np.linalg.LinAlgError:
            continue  # reference skips on inversion failure (src/sct.cpp:221-224)
        S[np.diag_indices(s_box)] -= eps2_v[sel]  # unweight diagonal
        circles.append((sel, dists, S, Sinv))

        # obs_to_check masks rows from flagging/pog entirely but they
        # still contribute to the OI (src/sct.cpp:274-278); a masked row
        # marks the centroid checked, mirroring the reference's own quirk
        if not to_test[sel].all():
            checked[curr] = True
        checked[sel[to_test[sel] & (dists <= p.inner_radius) & core[sel]]] = True

    return circles


def _resolve(cells: list, p: _Params) -> list[pd.DataFrame]:
    """Passes 2 and 3 over (columns, circles) per cell: one stacked
    vertical-profile fit over every circle, then per circle in sweep order
    the OI residuals, pog and verdicts. Returns each cell's core rows."""
    boxes = [col["values"][sel] for col, circles in cells for sel, *_ in circles]
    if p.num_min_prof >= 0:
        elev_boxes = [col["elevs"][sel] for col, circles in cells for sel, *_ in circles]
        profiles = iter(
            vertical_profile_batch(elev_boxes, boxes, p.num_min_prof, p.min_elev_diff)
        )
    else:
        profiles = iter([np.full(v.size, float(np.mean(v))) for v in boxes])

    out = []
    for col, circles in cells:
        to_test, core = col["to_test"], col["core"]
        flags = np.zeros(len(core), dtype=np.int32)
        pog_out = np.full(len(core), np.nan)
        for sel, dists, S, Sinv in circles:
            d = col["values"][sel] - next(profiles)
            Sinv_d = Sinv @ d
            ares = S @ Sinv_d - d
            zinv = 1.0 / np.diag(Sinv)
            cvres = -zinv * Sinv_d
            sig2o = max(float(np.mean(d * (-ares))), 0.01)
            pog = cvres * ares / sig2o

            hit = to_test[sel] & (dists <= p.inner_radius) & core[sel]
            idx, pog, cvres = sel[hit], pog[hit], cvres[hit]
            prev = pog_out[idx]
            pog_out[idx] = np.where(np.isnan(prev) | (pog > prev), pog, prev)
            bad = ((cvres < 0) & (pog > col["pos_v"][idx])) | (
                (cvres >= 0) & (pog > col["neg_v"][idx])
            )
            flags[idx[bad]] = BAD
        out.append(
            pd.DataFrame(
                {
                    "_sid": col["ids"][core],
                    "_sct_flag": flags[core],
                    "prob_gross_error": pog_out[core],
                }
            )
        )
    return out


def _sct_cells(pdf: pd.DataFrame, cells, p: _Params) -> pd.DataFrame:
    """Run the three passes over the cells of ``pdf`` (each an array of
    row positions, in arrival order), fitting and resolving in chunks of
    cells whose pass-1 matrices stay under ``_CHUNK_BYTES``."""
    col = _columns(pdf, p)
    out: list[pd.DataFrame] = []
    pending: list = []
    held = 0
    for rows in cells:
        cell = {k: v[rows] for k, v in col.items()}
        circles = _sweep(cell, p)
        pending.append((cell, circles))
        held += sum(S.nbytes + Sinv.nbytes for _, _, S, Sinv in circles)
        if held > _CHUNK_BYTES:
            out += _resolve(pending, p)
            pending, held = [], 0
    out += _resolve(pending, p)
    if not out:
        return pd.DataFrame(
            {
                "_sid": col["ids"][:0],
                "_sct_flag": np.zeros(0, dtype=np.int32),
                "prob_gross_error": np.zeros(0),
            }
        )
    return pd.concat(out, ignore_index=True)


def _sct_kernel(pdf: pd.DataFrame, *args, **kwargs) -> pd.DataFrame:
    """One cell's rows (no cell key): the partition kernel's one-cell
    case. Arguments as ``_Params``."""
    return _sct_cells(pdf, [np.arange(len(pdf))], _Params(*args, **kwargs))


def _sct_partition(pdf: pd.DataFrame, p: _Params) -> pd.DataFrame:
    """One partition of halo rows: run every cell that holds a core row
    (``_sct_phases.split_cells``) through one kernel call."""
    return _sct_cells(pdf, split_cells(pdf), p)


def sct(
    df: DataFrame,
    num_min: int,
    num_max: int,
    inner_radius: float,
    outer_radius: float,
    num_iterations: int = 1,
    num_min_prof: int = -1,
    min_elev_diff: float = 200.0,
    min_horizontal_scale: float = 10000.0,
    vertical_scale: float = 200.0,
    pos: float | str = 4.0,
    neg: float | str = 4.0,
    eps2: float | str = 0.5,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    elev_col: str = "elev",
    value_col: str = "value",
    flag_col: str = "flags",
    obs_to_check: str | None = None,
) -> DataFrame:
    """Returns df with `flags` updated plus `prob_gross_error` and `rep`
    columns (`rep` is constant 0: the reference allocates but never writes
    it, src/sct.cpp:91-92). `obs_to_check` optionally names a 0/1 column
    gating which rows may be flagged (reference tests/sct_test.py:91-100
    semantics: masked rows still contribute as neighbors). pos/neg/eps2
    accept a scalar or a column name (per-row vectors, reference
    include/titanlib.h:86-102)."""
    df = ensure_flags(df, flag_col)
    df = apply_check_flags(
        df, F.when(is_invalid_value(F.col(value_col)), BAD).otherwise(GOOD), flag_col
    )
    pos_s, neg_s, eps2_s = band(pos, 4.0), band(neg, 4.0), band(eps2, 0.5)
    band_cols = sorted(
        {s[1] for s in (pos_s, neg_s, eps2_s) if s[0] == "col"}
    )

    params = _Params(
        num_min,
        num_max,
        inner_radius,
        outer_radius,
        num_min_prof,
        min_elev_diff,
        min_horizontal_scale,
        vertical_scale,
        pos_s,
        neg_s,
        eps2_s,
    )

    def kernel(batches):
        frames = list(batches)  # an empty partition still makes the call
        if frames:
            yield _sct_partition(pd.concat(frames, ignore_index=True), params)

    def one_round(df: DataFrame) -> DataFrame:
        pts = with_ecef(df.where(F.col(flag_col) == GOOD), lat_col, lon_col)
        base = pts.select(
            F.col(id_col).alias("_sid"),
            F.col(lat_col).cast("double").alias("_slat"),
            F.col(lon_col).cast("double").alias("_slon"),
            F.col(elev_col).cast("double").alias("_selev"),
            F.col(value_col).cast("double").alias("_svalue"),
            (
                F.col(obs_to_check).cast("boolean")
                if obs_to_check
                else F.lit(True)
            ).alias("_stest"),
            F.col("x").alias("_sx"),
            F.col("y").alias("_sy"),
            F.col("z").alias("_sz"),
            *[F.col(c).cast("double").alias(c) for c in band_cols],
        )
        verdicts = halo(base, outer_radius).repartition("_cx", "_cy", "_cz").mapInPandas(
            kernel, schema="_sid long, _sct_flag int, prob_gross_error double"
        )
        verdicts = verdicts.select(
            F.col("_sid").alias(id_col),
            F.col("_sct_flag"),
            F.col("prob_gross_error").alias("_pog_new"),
        )
        joined = df.drop("prob_gross_error").join(verdicts, on=id_col, how="left")
        return apply_check_flags(
            joined,
            F.when(F.col("_sct_flag") == BAD, BAD).otherwise(GOOD),
            flag_col,
        ).withColumnRenamed("_pog_new", "prob_gross_error").drop("_sct_flag")

    out = iterate_flags(df, one_round, num_iterations, flag_col)
    return out.withColumn("rep", F.lit(0.0))  # src/sct.cpp:91-92: never written
