"""The SCT family's shared machinery: one circle sweep, one front end, one
three-phase driver and one 27-cell halo.

sct_resistant, fgt_spatial and sct_dual (reference
src/sct_resistant.cpp:206-712, src/fgt.cpp:29-715, src/sct_dual.cpp:204-663)
run the same state machine over per-centroid circles and differ only in
how they judge one circle. Each member supplies that judgment as a
``decide`` hook; everything else lives here.

**State machine** (``three_phase_driver``; states start at NA = -999):

* phase 1: iterated sweep over centroids still NA; stop when a pass
  throws nothing out. If the FIRST pass threw nothing, every remaining
  NA row becomes good (set_all_good). Good verdicts are allowed only
  from the second pass on (set_flag0).
* phase 2: every row still NA is tested alone (test_just_this).
* phase 3: every bad row whose value lies in the plausible range
  [min(mina), max(maxa)] is re-tested alone against the non-bad network:
  it can be restored, re-condemned or found isolated.

**Circle sweep** (``circle_sweep``, once per grid cell and pass). In
ascending id order, for every core observation row (``_sobs``) in the
phase's target state:

* outer circle: the nearest <= num_max_outer rows within outer_radius,
  truncated by distance BEFORE the bad rows are dropped (the reference's
  kdtree-then-filter order, src/util.cpp:232-295). Phases 2 and 3 drop
  the centroid from that guess and re-append it (test_just_this);
* fewer than num_min_outer rows -> the centroid gets flag 12; fewer than
  two rows within inner_radius -> flag 11 (only where the member checks
  it; both become 0 under accept_isolated);
* test set: in phase 1 the inner-circle observation rows without a
  verdict, in phases 2 and 3 the centroid alone; an empty test set is
  skipped;
* ``decide(cell, sel, inner_mask, test_mask, phase, set_flag0)`` judges
  the circle ``sel`` (row indices into ``cell``, a namespace of the
  cell's lat/lon/elev/value/bg arrays, its band arrays and the plausible
  range minp/maxp). It returns a list of (index into sel, new state,
  score or NaN), or None when a matrix inversion failed (the centroid
  gets flag 100). Updates apply at once, so later centroids of the same
  pass see them.
* co-located memo (phase 1 only): a centroid at the same position as an
  earlier one, with no state change in between, computes an identical
  circle and identical updates, so it is skipped. Any state change bumps
  the version and re-opens every position. Phases 2 and 3 single out the
  centroid itself and are not memoizable.

The kernel emits (_sid, _state, score) for core rows whose state or
score changed.

**Spark recast.** The front end (``circle_check``) flags invalid values,
computes the plausible range (one job, only for column-valued bands),
projects a slim pool with ECEF coordinates once, runs the driver and
merges flags (and, where the member reports one, the score) back. Every
pass of every phase has one shape (``three_phase_driver``'s ``one_pass``):
replicate the pool to a 27-cell ECEF halo (``halo``; cell side =
outer_radius, so a core row's whole outer circle is in its cell), keep
only cells holding a row in the phase's target state, ``repartition`` by
cell key and make one ``mapInPandas`` call per partition, which splits
the rows by cell (``split_cells``, shared with ``sct``) and sweeps each
cell; left-join a broadcast of the small verdict delta onto the slim
frame and end in a lazy ``localCheckpoint``. Phase 1 takes one count of
the BAD rows per pass, which also materializes that checkpoint; phases 2
and 3 take none, and phase 3's frame is read by the caller's own job.

Deviation: the sequential centroid sweep is per cell rather than global,
so live flag propagation never crosses cells within one pass. The
iterate-until-stable loop converges the global state, and the
reference's own phase 3 exists because its verdicts tolerate sweep order.
"""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from titanlib_spark.flags import (
    BAD,
    FAILED_INVERSION,
    GOOD,
    ISOLATED_INNER,
    ISOLATED_OUTER,
    UNCHECKED as NA_STATE,
    apply_check_flags,
    ensure_flags,
)
from titanlib_spark.functions.geo import cell_offsets, with_ecef
from titanlib_spark.operators._neighbors import CellNeighborhood
from titanlib_spark.operators.background import exact_quantile
from titanlib_spark.operators.range_check import is_invalid_value


def band(spec, default: float):
    """A band/threshold parameter as ("col", name) for a column name
    (the reference's length-N vector convention) or ("const", value),
    ``default`` standing in for None."""
    if isinstance(spec, str):
        return ("col", spec)
    return ("const", default if spec is None else float(spec))


def check_choice(name: str, value, choices) -> None:
    if value not in choices:
        raise ValueError(
            f"unknown {name} {value!r}; expected one of {', '.join(choices)}"
        )


def check_background(mode: str, modes, background_col: str | None) -> None:
    """Refuse an unknown circle-background mode, and an "external" one
    without its column (every background would read NULL), before any
    Spark job."""
    check_choice("background_elab_type", mode, modes)
    if mode == "external" and background_col is None:
        raise ValueError(
            'background_elab_type="external" requires background_col'
        )


def plausible_range(df: DataFrame, mina, maxa):
    """(minp, maxp) = extremes of the admissible bands (reference
    src/sct_resistant.cpp:191-196 / src/fgt.cpp:140-148). Column-valued
    bands need a driver-side scalar aggregate — ONE job for both."""
    aggs = []
    if mina[0] == "col":
        aggs.append(F.min(F.col(mina[1]).cast("double")).alias("_minp"))
    if maxa[0] == "col":
        aggs.append(F.max(F.col(maxa[1]).cast("double")).alias("_maxp"))
    row = df.agg(*aggs).first() if aggs else None

    def val(spec, key, default):
        if spec[0] == "col":
            v = row[key]
            return float(v) if v is not None else default
        return spec[1]

    return val(mina, "_minp", -np.inf), val(maxa, "_maxp", np.inf)


def robust_z_verdict(cell, sel, yb, inner, test_mask, chi, chi_alt, adm, guard,
                     *, basic, set_flag0):
    """Worst-offender tail of sct_core and fgt_core (reference
    src/sct_resistant.cpp:984-1058 and its fgt_core twin). ``chi``,
    ``chi_alt``, ``adm`` and ``guard`` are over the inner rows ``inner``
    (indices into ``sel``); ``guard`` is the estimate that must fall
    outside the valid band [minv, maxv] for a row to be a candidate.

    * no admissible row -> every test row is bad;
    * z = chi (basic) or (chi - mu) / (sigma + sigma/sqrt(n)) with median
      mu and sigma = max(IQR(chi), IQR(chi_alt)) over the admissible rows;
      sigma == 0 -> no verdicts;
    * the candidate test row with the largest z is bad (score z) when z
      exceeds tpos (yo >= yb) or tneg; else, with set_flag0, every test
      row is good."""
    test_local = np.where(test_mask[inner])[0]  # positions within `inner`
    if not adm.any():
        return [(inner[m], BAD, np.nan) for m in test_local]

    if basic:
        z = chi
    else:
        chi_stat = chi[adm]
        mu = exact_quantile(0.5, chi_stat)
        sigma = exact_quantile(0.75, chi_stat) - exact_quantile(0.25, chi_stat)
        sigma_alt = exact_quantile(0.75, chi_alt[adm]) - exact_quantile(
            0.25, chi_alt[adm]
        )
        sigma = max(sigma, sigma_alt)  # NaN-safe: a NaN sigma_alt never wins
        if sigma == 0:
            return []
        sigma_mu = sigma / np.sqrt(chi_stat.size)
        z = (chi - mu) / (sigma + sigma_mu)

    minv, maxv = cell.minv[sel], cell.maxv[sel]
    zmx, mmx = -10000.0, -1
    for m in test_local:
        gi = inner[m]
        if z[m] > zmx and (guard[m] < minv[gi] or guard[m] > maxv[gi]):
            zmx, mmx = float(z[m]), m
    if mmx >= 0:
        gi = inner[mmx]
        g = sel[gi]
        thr = cell.tpos[g] if (cell.value[g] - yb[gi]) >= 0 else cell.tneg[g]
        if zmx > thr:
            return [(gi, BAD, zmx)]
    if set_flag0:
        return [(inner[m], GOOD, np.nan) for m in test_local]
    return []


def circle_sweep(
    pdf: pd.DataFrame,
    *,
    phase: int,
    set_flag0: bool,
    decide,
    bands: dict,
    plausible: tuple[float, float],
    num_min_outer: int,
    num_max_outer: int,
    inner_radius: float,
    outer_radius: float,
    flag_iso_outer: int,
    flag_iso_inner: int | None,
) -> pd.DataFrame:
    """One pass of the per-cell centroid sweep (module docstring).
    ``flag_iso_inner`` None skips the flag-11 check."""
    ids = pdf["_sid"].to_numpy()
    n = len(ids)
    obs = pdf["_sobs"].to_numpy(dtype=bool)
    core = pdf["_score"].to_numpy(dtype=bool)
    state = pdf["_sstate"].to_numpy(dtype=np.int32).copy()
    orig_state = state.copy()
    pts = np.stack([pdf[c].to_numpy(float) for c in ("_sx", "_sy", "_sz")], axis=1)
    minp, maxp = plausible
    cell = SimpleNamespace(
        lat=pdf["_slat"].to_numpy(dtype=float),
        lon=pdf["_slon"].to_numpy(dtype=float),
        elev=pdf["_selev"].to_numpy(dtype=float),
        value=pdf["_svalue"].to_numpy(dtype=float),
        bg=pdf["_sbg"].to_numpy(dtype=float),
        minp=minp,
        maxp=maxp,
        **{
            name: pdf[v].to_numpy(dtype=float) if kind == "col" else np.full(n, v)
            for name, (kind, v) in bands.items()
        },
    )
    scores = np.full(n, np.nan)
    score_set = np.zeros(n, dtype=bool)
    target = BAD if phase == 3 else NA_STATE

    pos_seen: dict = {}
    state_ver = 0
    nbr = CellNeighborhood(pts, ids, outer_radius, num_max_outer)

    for curr in np.argsort(ids, kind="stable"):
        if not core[curr] or not obs[curr] or state[curr] != target:
            continue
        if phase == 3 and (cell.value[curr] < minp or cell.value[curr] > maxp):
            continue
        if phase == 1:
            pos_key = (pts[curr, 0], pts[curr, 1], pts[curr, 2])
            if pos_seen.get(pos_key) == state_ver:
                continue
            pos_seen[pos_key] = state_ver

        guess, d_guess = nbr.query(curr)
        keep = state[guess] != BAD
        if phase != 1:
            keep &= guess != curr
        sel = guess[keep]
        d_sel = d_guess[keep]
        if phase != 1:
            sel = np.append(sel, curr)                # test_just_this append
            d_sel = np.append(d_sel, 0.0)             # d(curr, curr) == 0

        if sel.size < num_min_outer:
            state[curr] = flag_iso_outer
            state_ver += 1
            continue
        inner_mask = d_sel <= inner_radius            # curr: d=0 -> inner
        if flag_iso_inner is not None and int(inner_mask.sum()) < 2:
            state[curr] = flag_iso_inner
            state_ver += 1
            continue

        if phase == 1:
            st = state[sel]
            test_mask = inner_mask & obs[sel] & (st != GOOD) & (st != BAD)
        else:
            test_mask = sel == curr
        if not test_mask.any():
            continue

        updates = decide(cell, sel, inner_mask, test_mask, phase, set_flag0)
        if updates is None:
            state[curr] = FAILED_INVERSION
            state_ver += 1
            continue
        if updates:
            state_ver += 1
        for local_i, new_state, sc in updates:
            gi = sel[local_i]
            state[gi] = new_state
            if not np.isnan(sc):
                scores[gi] = sc
                score_set[gi] = True

    changed = core & ((state != orig_state) | score_set)
    return pd.DataFrame(
        {"_sid": ids[changed], "_state": state[changed], "score": scores[changed]}
    )


def halo(frame: DataFrame, cell_side: float) -> DataFrame:
    """Replicate every row of ``frame`` (ECEF ``_sx``/``_sy``/``_sz``) to
    the 27 grid cells around its own (side ``cell_side``), so a cell's
    group holds every row within ``cell_side`` of any of its core rows
    (chord <= arc). Keeps ``frame``'s columns and adds ``_score`` (the
    copy in the row's own cell) and the group key ``_cx``/``_cy``/``_cz``."""
    own = frame.select("*", *_cell_key(cell_side))
    return own.withColumn("_o", F.explode(cell_offsets())).select(
        *frame.columns,
        ((F.col("_o.dx") == 0) & (F.col("_o.dy") == 0) & (F.col("_o.dz") == 0))
        .alias("_score"),
        *[(F.col(f"_c{a}") + F.col(f"_o.d{a}")).alias(f"_c{a}") for a in "xyz"],
    )


def _cell_key(cell_side: float):
    cs = float(cell_side)
    return [F.floor(F.col(f"_s{a}") / cs).cast("int").alias(f"_c{a}") for a in "xyz"]


def split_cells(pdf: pd.DataFrame) -> list[np.ndarray]:
    """Row positions of each cell (key ``_cx``/``_cy``/``_cz``) in one
    partition of ``halo`` rows, in arrival order within a cell, leaving out
    cells with no core row (a guaranteed kernel no-op)."""
    keys = np.stack([pdf[c].to_numpy() for c in ("_cx", "_cy", "_cz")], axis=1)
    order = np.lexsort(keys.T[::-1])  # stable: arrival order within a cell
    keys = keys[order]
    first = np.ones(len(order), dtype=bool)
    first[1:] = (keys[1:] != keys[:-1]).any(axis=1)
    core = pdf["_score"].to_numpy(dtype=bool)
    return [
        rows for rows in np.split(order, np.flatnonzero(first)[1:]) if core[rows].any()
    ]


def three_phase_driver(
    pool: DataFrame,
    kernel,
    *,
    outer_radius: float,
    num_iterations: int,
    id_col: str,
) -> DataFrame:
    """Run the three-phase sweep. ``pool`` must carry
    _sid,_slat,_slon,_selev,_svalue,_sobs,_sbg,_sx,_sy,_sz plus the band
    columns; ``kernel(pdf, phase, set_flag0)`` returns (_sid,_state,score)
    for the changed core rows of one cell. Returns (id_col, _state, score)
    per pool row, lazily.

    Every pass (each phase-1 round, phase 2, phase 3) is ``one_pass``: one
    Python call per partition of halo rows, a broadcast join of the
    verdict delta and a lazy checkpoint. Phase 1 counts the BAD rows once
    per pass, which materializes that pass's checkpoint. Phases 2 and 3
    take no count: the next job that reads each one materializes it."""
    slim = pool.select(
        "*",
        F.lit(NA_STATE).cast("int").alias("_sstate"),
        F.lit(None).cast("double").alias("_sscore"),
    ).localCheckpoint(eager=False)

    def one_pass(frame: DataFrame, phase: int, set_flag0: bool) -> DataFrame:
        # ACTIVE-CELL pruning: a phase only emits verdicts for centroids in
        # its target state (phases 1/2 sweep NA rows, phase 3 re-tests BAD
        # rows; non-obs rows are never centroids) — a cell with no such
        # core row is a guaranteed kernel no-op, so don't ship it. The
        # worst-offender process has a shrinking frontier: after the first
        # passes most cells hold no NA rows and per-pass shuffle + Arrow +
        # sweep cost collapses to the neighborhoods still converging,
        # instead of re-paying the full 27x replication every pass.
        target_state = BAD if phase == 3 else NA_STATE
        active = (
            frame.where((F.col("_sstate") == target_state) & F.col("_sobs"))
            .select(*_cell_key(outer_radius))
            .distinct()
        )
        replicated = halo(frame.drop("_sscore"), outer_radius).join(
            F.broadcast(active), on=["_cx", "_cy", "_cz"], how="leftsemi"
        )

        def run(batches):
            frames = list(batches)  # an empty partition still makes the call
            if not frames:
                return
            pdf = pd.concat(frames, ignore_index=True)
            cells = split_cells(pdf)
            if cells:
                yield pd.concat(
                    [kernel(pdf.iloc[rows], phase=phase, set_flag0=set_flag0)
                     for rows in cells],
                    ignore_index=True,
                )

        delta = replicated.repartition("_cx", "_cy", "_cz").mapInPandas(
            run, schema="_sid long, _state int, score double"
        ).withColumnsRenamed({"_state": "_new_state", "score": "_new_score"})
        return (
            frame.join(F.broadcast(delta), on="_sid", how="left")
            .withColumn("_sstate", F.coalesce("_new_state", "_sstate"))
            .withColumn("_sscore", F.coalesce("_new_score", "_sscore"))
            .drop("_new_state", "_new_score")
            .localCheckpoint(eager=False)
        )

    n_bad = 0
    for it in range(num_iterations):
        out = one_pass(slim, phase=1, set_flag0=it > 0)
        # BAD rows stay BAD in phase 1, so an unchanged count means the
        # pass threw nothing out
        prev_bad, n_bad = n_bad, out.where(F.col("_sstate") == BAD).count()
        slim.unpersist()  # rule 17: dead checkpoint blocks squeeze exec memory
        slim = out
        if n_bad == prev_bad:
            break

    if num_iterations > 0 and n_bad == 0:
        # the first pass threw nothing out: every NA row is good
        slim = slim.withColumn(
            "_sstate",
            F.when(
                (F.col("_sstate") == NA_STATE) & F.col("_sobs"), F.lit(GOOD)
            ).otherwise(F.col("_sstate")),
        )
    else:
        for phase in (2, 3):
            slim = one_pass(slim, phase=phase, set_flag0=True)

    return slim.select(
        F.col("_sid").alias(id_col),
        F.when(F.col("_sstate") == NA_STATE, F.lit(GOOD))
        .otherwise(F.col("_sstate"))
        .alias("_state"),
        F.col("_sscore").alias("score"),
    )


def circle_check(
    df: DataFrame,
    decide,
    *,
    bands: dict,
    num_min_outer: int,
    num_max_outer: int,
    inner_radius: float,
    outer_radius: float,
    num_iterations: int,
    accept_isolated: bool,
    isolate_inner: bool,
    with_score: bool,
    obs_to_check: str | None,
    background_col: str | None,
    id_col: str,
    lat_col: str,
    lon_col: str,
    elev_col: str,
    value_col: str,
    flag_col: str,
) -> DataFrame:
    """The SCT family's front end (module docstring): ``decide`` judges a
    circle, ``bands`` maps band names to ``band`` specs. Returns df with
    `flags` updated and, when ``with_score``, a per-row `score` column."""
    df = ensure_flags(df, flag_col)
    df = apply_check_flags(
        df, F.when(is_invalid_value(F.col(value_col)), BAD).otherwise(GOOD), flag_col
    )
    minp, maxp = plausible_range(
        df, bands.get("mina", ("const", -np.inf)), bands.get("maxa", ("const", np.inf))
    )
    band_cols = sorted({v for kind, v in bands.values() if kind == "col"})

    # slim working projection: computed ONCE, state updated per pass
    pts = with_ecef(df.where(F.col(flag_col) == GOOD), lat_col, lon_col)
    pool = pts.select(
        F.col(id_col).alias("_sid"),
        F.col(lat_col).cast("double").alias("_slat"),
        F.col(lon_col).cast("double").alias("_slon"),
        F.coalesce(F.col(elev_col).cast("double"), F.lit(0.0)).alias("_selev"),
        F.col(value_col).cast("double").alias("_svalue"),
        (
            F.col(obs_to_check).cast("boolean") if obs_to_check else F.lit(True)
        ).alias("_sobs"),
        (
            F.col(background_col).cast("double")
            if background_col
            else F.lit(None).cast("double")
        ).alias("_sbg"),
        F.col("x").alias("_sx"),
        F.col("y").alias("_sy"),
        F.col("z").alias("_sz"),
        *[F.col(c).cast("double").alias(c) for c in band_cols],
    )

    iso_inner = GOOD if accept_isolated else ISOLATED_INNER
    sweep = dict(
        decide=decide,
        bands=bands,
        plausible=(minp, maxp),
        num_min_outer=int(num_min_outer),
        num_max_outer=int(num_max_outer),
        inner_radius=float(inner_radius),
        outer_radius=float(outer_radius),
        flag_iso_outer=GOOD if accept_isolated else ISOLATED_OUTER,
        flag_iso_inner=iso_inner if isolate_inner else None,
    )

    def kernel(pdf: pd.DataFrame, phase: int, set_flag0: bool) -> pd.DataFrame:
        return circle_sweep(pdf, phase=phase, set_flag0=set_flag0, **sweep)

    verdict = three_phase_driver(
        pool,
        kernel,
        outer_radius=float(outer_radius),
        num_iterations=int(num_iterations),
        id_col=id_col,
    ).select(
        id_col,
        F.col("_state").alias("_new_flag"),
        *([F.col("score").alias("_new_score")] if with_score else []),
    )
    joined = df.join(verdict, on=id_col, how="left")
    if with_score:
        joined = joined.withColumn("score", F.col("_new_score"))
    return apply_check_flags(
        joined, F.coalesce(F.col("_new_flag"), F.lit(GOOD)), flag_col
    ).drop("_new_flag", "_new_score")
