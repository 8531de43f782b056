"""Isolation check — flag points with too few neighbors.

Reference src/isolation_check.cpp:31-92: a row is flagged when
* its lat/lon is invalid, or
* (with vertical_radius) its elev is invalid, or
* fewer than `num_min` neighbors lie within `radius` (chord distance,
  excluding the point itself / coordinate-identical points), optionally
  restricted to neighbors whose |elev diff| <= vertical_radius.

`radius` is a scalar in meters or a per-row column name (then pass
cell_size >= max radius). Neighbor counts come from
`functions.geo._neighbor_key_sums` (integer sums, bit-identical to a
per-point count).

Neighbors are counted among ALL located points regardless of their flags —
the reference operates on a bare Points set; flag-pushdown (running only on
unflagged rows) is the caller's composition choice (src/dataset.cpp:222-241).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from titanlib_spark.flags import BAD, GOOD, apply_check_flags
from titanlib_spark.functions.geo import _neighbor_key_sums
from titanlib_spark.operators.range_check import is_invalid_value


def isolation_check(
    df: DataFrame,
    num_min: int,
    radius: float,
    vertical_radius: float | None = None,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    elev_col: str = "elev",
    flag_col: str = "flags",
    coord_type: str = "geodetic",
    cell_size: float | None = None,
) -> DataFrame:
    bad_pos = is_invalid_value(F.col(lat_col)) | is_invalid_value(F.col(lon_col))
    bad_coord = bad_pos
    if vertical_radius is not None:
        bad_coord = bad_coord | is_invalid_value(F.col(elev_col))

    # an invalid elev drops all of a row's pairs through the gate; such a
    # row is flagged by bad_coord regardless
    out = _neighbor_key_sums(
        df,
        ~bad_pos,
        radius,
        {"_key_n": F.count(F.lit(1))},
        lambda q, n: {"_n_neigh": n("_key_n")},
        elev_gate=(elev_col, vertical_radius) if vertical_radius is not None else None,
        id_col=id_col,
        lat_col=lat_col,
        lon_col=lon_col,
        cell_size=cell_size,
        coord_type=coord_type,
    ).withColumn("_n_neigh", F.coalesce(F.col("_n_neigh"), F.lit(0)))
    bad = bad_coord | (F.col("_n_neigh") < int(num_min))
    out = apply_check_flags(out, F.when(bad, BAD).otherwise(GOOD), flag_col)
    return out.drop("_n_neigh", "_key_n")
