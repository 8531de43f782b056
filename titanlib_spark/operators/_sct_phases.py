"""Shared three-phase driver for the SCT family (sct_resistant, sct_dual).

Both reference algorithms (src/sct_resistant.cpp:206-712,
src/sct_dual.cpp:204-663) run the same state machine over per-centroid
circles:

* phase 1: iterated sweep over not-yet-checked centroids, early stop when
  an iteration throws nothing out; if the FIRST iteration threw nothing,
  all remaining unchecked rows become good (set_all_good);
* phase 2: every row still unchecked is tested alone (test_just_this);
* phase 3: every bad row is re-tested alone against the non-bad network.

Spark recast: one slim projection with ECEF coords computed once and a
mutable ``_sstate`` column; each pass replicates rows to a 27-cell ECEF
halo (cell side = outer_radius, so every core row's full outer circle is
in-cell), runs the per-cell numpy kernel via ``applyInPandas``, and merges
the (small) verdict delta back with a broadcast join. ``localCheckpoint``
truncates lineage per pass; deltas are checkpointed eagerly so the big
kernel job runs exactly once (count + join reuse it).

Deviation (documented in both operators): the sequential centroid sweep is
per-cell rather than global, so live flag propagation never crosses cells
within one pass — the iterate-until-stable loop converges the global
state, and the reference's own phase 3 exists precisely because its
verdicts are sweep-order tolerant.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from titanlib_spark.flags import BAD, GOOD
from titanlib_spark.functions.geo import cell_offsets

NA_STATE = -999  # reference: flags start at -999 = not checked


def scalar_or_col(spec):
    """Band/threshold params accept None, a scalar, or a column name
    (reference length-N vector convention)."""
    if isinstance(spec, str):
        return ("col", spec)
    return ("const", spec)


def plausible_range(df: DataFrame, value_mina, value_maxa):
    """(minp, maxp) = extremes of the admissible bands (reference
    src/sct_resistant.cpp:191-196 / src/fgt.cpp:140-148). Column-valued
    bands need a driver-side scalar aggregate — ONE job for both."""
    import numpy as np

    sa, sb = scalar_or_col(value_mina), scalar_or_col(value_maxa)
    aggs = []
    if sa[0] == "col":
        aggs.append(F.min(F.col(sa[1]).cast("double")).alias("_minp"))
    if sb[0] == "col":
        aggs.append(F.max(F.col(sb[1]).cast("double")).alias("_maxp"))
    row = df.agg(*aggs).first() if aggs else None

    def val(s, key, default):
        if s[0] == "col":
            v = row[key]
            return float(v) if v is not None else default
        return default if s[1] is None else float(s[1])

    return val(sa, "_minp", -np.inf), val(sb, "_maxp", np.inf)


def three_phase_driver(
    pool: DataFrame,
    kernel,
    *,
    outer_radius: float,
    num_iterations: int,
    band_cols: list[str],
    id_col: str,
) -> DataFrame:
    """Run the three-phase sweep. ``pool`` must carry
    _sid,_slat,_slon,_selev,_svalue,_sobs,_sbg,_sx,_sy,_sz plus band_cols;
    ``kernel(pdf, phase, set_flag0)`` returns (_sid,_state,score) for
    changed core rows. Returns (id_col, _state, score) per pool row."""
    slim = pool.select(
        "*",
        F.lit(NA_STATE).cast("int").alias("_sstate"),
        F.lit(None).cast("double").alias("_sscore"),
    ).localCheckpoint(eager=True)

    def run_phase(frame: DataFrame, phase: int, set_flag0: bool) -> DataFrame:
        cs = float(outer_radius)
        cell = frame.select(
            "*",
            F.floor(F.col("_sx") / cs).cast("int").alias("_cx"),
            F.floor(F.col("_sy") / cs).cast("int").alias("_cy"),
            F.floor(F.col("_sz") / cs).cast("int").alias("_cz"),
        )
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
            cell.where((F.col("_sstate") == target_state) & F.col("_sobs"))
            .select("_cx", "_cy", "_cz")
            .distinct()
        )
        replicated = (
            cell.withColumn("_o", F.explode(cell_offsets()))
            .withColumn(
                "_score",
                (F.col("_o.dx") == 0) & (F.col("_o.dy") == 0) & (F.col("_o.dz") == 0),
            )
            .select(
                "_sid", "_slat", "_slon", "_selev", "_svalue", "_sobs", "_sbg",
                "_sx", "_sy", "_sz", "_sstate", "_score", *band_cols,
                (F.col("_cx") + F.col("_o.dx")).alias("_cx"),
                (F.col("_cy") + F.col("_o.dy")).alias("_cy"),
                (F.col("_cz") + F.col("_o.dz")).alias("_cz"),
            )
            .join(F.broadcast(active), on=["_cx", "_cy", "_cz"], how="leftsemi")
        )

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            return kernel(pdf, phase=phase, set_flag0=set_flag0)

        return replicated.groupBy("_cx", "_cy", "_cz").applyInPandas(
            run, schema="_sid long, _state int, score double"
        ).localCheckpoint(eager=True)  # small delta; force the big job once

    def merge_delta(frame: DataFrame, delta: DataFrame) -> DataFrame:
        if delta.isEmpty():
            # nothing changed: re-checkpointing the full frame would be a
            # pure copy — keep the current blocks
            delta.unpersist()
            return frame
        upd = delta.select(
            F.col("_sid"),
            F.col("_state").alias("_new_state"),
            F.col("score").alias("_new_score"),
        )
        out = frame.join(F.broadcast(upd), on="_sid", how="left")
        out = out.withColumn(
            "_sstate", F.coalesce(F.col("_new_state"), F.col("_sstate"))
        ).withColumn(
            "_sscore", F.coalesce(F.col("_new_score"), F.col("_sscore"))
        ).drop("_new_state", "_new_score")
        out = out.localCheckpoint(eager=True)
        # rule 17: the previous pass's blocks are dead once the merged
        # frame is materialized — free them before the next big kernel job
        frame.unpersist()
        delta.unpersist()
        return out

    set_all_good = False
    for it in range(int(num_iterations)):
        delta = run_phase(slim, phase=1, set_flag0=(it > 0))
        thrown_out = delta.where(F.col("_state") == BAD).count()
        slim = merge_delta(slim, delta)
        if thrown_out == 0:
            set_all_good = it == 0
            break

    if set_all_good:
        slim = slim.withColumn(
            "_sstate",
            F.when(
                (F.col("_sstate") == NA_STATE) & F.col("_sobs"), F.lit(GOOD)
            ).otherwise(F.col("_sstate")),
        )
    else:
        slim = merge_delta(slim, run_phase(slim, phase=2, set_flag0=True))
        slim = merge_delta(slim, run_phase(slim, phase=3, set_flag0=True))

    return slim.select(
        F.col("_sid").alias(id_col),
        F.when(F.col("_sstate") == NA_STATE, F.lit(GOOD))
        .otherwise(F.col("_sstate"))
        .alias("_state"),
        F.col("_sscore").alias("score"),
    )
