"""Duplicate checks — exact-key dedup (the web-scale path) and the
reference-parity greedy spatial dedup.

Reference src/duplicate_check.cpp:7-56 is a sequential first-wins sweep:
scan rows in input order; an unchecked row is kept and all its neighbors
within `radius` (optionally within `vertical_range` elevation) are marked
duplicates. The scan is explicitly non-parallelizable as written
(src/duplicate_check.cpp:24) — order matters only *within* chains of
radius-overlapping points, so the distributed recast is:

1. build neighbor pairs (grid join),
2. find connected components of the neighbor graph via iterative min-id
   label propagation (O(log diameter) shuffles),
3. run the exact greedy sweep per component inside applyInPandas
   (components are tiny in practice; there is no size cap, so one huge
   component runs in one task).

`duplicate_check_exact` is the degenerate-radius case used by the webtext
pipeline: partition by a dedup key (e.g. content hash) and keep the first
row by a deterministic order — one window, one shuffle.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from titanlib_spark.flags import BAD, GOOD, apply_check_flags
from titanlib_spark.functions.geo import neighbor_pairs
from titanlib_spark.operators.range_check import is_invalid_value


def duplicate_check_exact(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    flag_col: str = "flags",
) -> DataFrame:
    """Keep the first row per key by `order_cols`; flag the rest BAD."""
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).asc() for c in order_cols])
    out = df.withColumn("_rn", F.row_number().over(w))
    out = apply_check_flags(
        out, F.when(F.col("_rn") > 1, BAD).otherwise(GOOD), flag_col
    )
    return out.drop("_rn")


def _components(pairs: DataFrame, id_col: str, max_rounds: int = 25) -> DataFrame:
    """Connected components by min-id label propagation WITH pointer
    jumping (follow the label's own label each round), so convergence is
    O(log diameter) even for long chains — plain one-hop propagation needs
    `diameter` rounds and silently mislabels anything further than
    max_rounds hops from its component's minimum.

    Returns (id, comp). Raises if not converged within max_rounds
    (2^25 diameter bound — a loud failure beats a silently wrong dedup).
    """
    edges = pairs.select(
        F.col(id_col).alias("src"), F.col(f"n_{id_col}").alias("dst")
    )
    edges = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels = edges.select("src").distinct().withColumn("comp", F.col("src"))
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_rounds):
        neigh_min = (
            edges.join(labels, on="src")
            .groupBy("dst")
            .agg(F.min("comp").alias("_nc"))
            .withColumnRenamed("dst", "src")
        )
        hop = (
            labels.join(neigh_min, on="src", how="left")
            .select(
                "src",
                F.least(F.col("comp"), F.coalesce(F.col("_nc"), F.col("comp"))).alias("comp"),
            )
        )
        # pointer jump: comp <- label(comp); halves chain distances per round
        jump_map = hop.select(
            F.col("src").alias("comp"), F.col("comp").alias("_cc")
        )
        new_labels = (
            hop.join(jump_map, on="comp", how="left")
            .select(
                "src",
                F.least(F.col("comp"), F.coalesce(F.col("_cc"), F.col("comp"))).alias("comp"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="src")
            .where(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected components did not converge in {max_rounds} rounds"
        )
    return labels.withColumnRenamed("src", id_col)


def duplicate_check_spatial(
    df: DataFrame,
    radius: float,
    vertical_range: float | None = None,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    elev_col: str = "elev",
    order_col: str | None = None,
    flag_col: str = "flags",
    coord_type: str = "geodetic",
) -> DataFrame:
    """Reference-parity greedy spatial dedup (first-wins by `order_col`,
    default the id column — the reference uses input row order).

    With `vertical_range`, rows with invalid elevation are pre-marked
    checked (and kept un-flagged only if never reached — the reference
    marks them checked up-front, so they are never kept NOR flagged as
    duplicates of others; they end up flagged BAD because the reference
    initializes flags to 1 and only clears kept rows,
    src/duplicate_check.cpp:17-22,49-54).
    """
    order_col = order_col or id_col
    elev_ok = None
    if vertical_range is not None:
        elev_ok = ~is_invalid_value(F.col(elev_col))

    payload = (elev_col,) if vertical_range is not None else ()
    pairs = neighbor_pairs(
        df,
        radius,
        id_col=id_col,
        lat_col=lat_col,
        lon_col=lon_col,
        payload_cols=payload,
        include_self=True,
        coord_type=coord_type,
    ).where(F.col(id_col) != F.col(f"n_{id_col}"))

    comps = _components(pairs, id_col)

    # rows with no neighbors at all: kept (their own component, trivially first)
    base = df.select(
        id_col,
        F.col(order_col).alias("_ord"),
        *( [F.col(elev_col).alias("_elev")] if vertical_range is not None else [] ),
    )
    member = base.join(comps, on=id_col, how="left").withColumn(
        "_comp", F.coalesce(F.col("comp"), F.col(id_col))
    )

    edge_list = pairs.join(
        comps.withColumnRenamed("comp", "_comp"), on=id_col, how="inner"
    ).select("_comp", id_col, f"n_{id_col}")

    vr = float(vertical_range) if vertical_range is not None else None

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf.loc[pdf["_kind"] == 0].sort_values("_ord")
        rows = ids["_id"].tolist()
        edges: dict[int, list] = {}
        for s, d in zip(
            pdf.loc[pdf["_kind"] == 1, "_id"], pdf.loc[pdf["_kind"] == 1, "_nid"]
        ):
            edges.setdefault(s, []).append(d)
        # the _elev column is always present (null-filled when the check
        # runs without vertical_range) — elevation semantics apply only
        # when a vertical range was requested
        elev = dict(zip(ids["_id"], ids["_elev"])) if vr is not None else None
        checked: set = set()
        if elev is not None:
            for r, e in elev.items():
                if e is None or (isinstance(e, float) and np.isnan(e)):
                    checked.add(r)
        keep = []
        for i in rows:
            if i in checked:
                continue
            checked.add(i)
            keep.append(i)
            for j in edges.get(i, []):
                if elev is not None:
                    ej, ei = elev.get(j), elev.get(i)
                    if ej is None or (isinstance(ej, float) and np.isnan(ej)):
                        checked.add(j)
                    elif abs(ei - ej) <= vr:
                        checked.add(j)
                else:
                    checked.add(j)
        return pd.DataFrame({"_id": keep})

    # pack member rows (kind 0) and edges (kind 1) into one frame per component
    member_packed = member.select(
        F.col("_comp"),
        F.lit(0).alias("_kind"),
        F.col(id_col).alias("_id"),
        F.lit(None).cast("long").alias("_nid"),
        F.col("_ord").cast("double").alias("_ord"),
        *( [F.col("_elev").cast("double")] if vertical_range is not None else [F.lit(None).cast("double").alias("_elev")] ),
    )
    edges_packed = edge_list.select(
        F.col("_comp"),
        F.lit(1).alias("_kind"),
        F.col(id_col).alias("_id"),
        F.col(f"n_{id_col}").cast("long").alias("_nid"),
        F.lit(None).cast("double").alias("_ord"),
        F.lit(None).cast("double").alias("_elev"),
    )
    packed = member_packed.unionByName(edges_packed)

    kept = packed.groupBy("_comp").applyInPandas(greedy, schema="_id long")
    kept = kept.select(F.col("_id").alias(id_col), F.lit(1).alias("_keep"))

    out = df.join(kept, on=id_col, how="left")
    out = apply_check_flags(
        out, F.when(F.col("_keep").isNull(), BAD).otherwise(GOOD), flag_col
    )
    return out.drop("_keep")
