"""End-to-end drive of titanlib_spark through its public API on real testdata.

Run from the repository root (Python workers import the package from
there): python scripts/verify_e2e.py [SF_DIR]   (default ~/testdata/sf0.001)"""
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from titanlib_spark import get_spark, GOOD  # noqa: E402
from titanlib_spark.pipeline import QCDataset  # noqa: E402
from titanlib_spark.operators import (  # noqa: E402
    metadata_check, range_check, isolation_check, buddy_check, sct,
    duplicate_check_exact, fgt, background,
)

spark = get_spark("verify_e2e", master="local[8]", shuffle_partitions=8)

# Build a point table from the events parquet (deterministic derivation)
sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.expanduser("~/testdata/sf0.001")
ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
pts = ev.select(
    F.col("event_id").alias("id"),
    ((F.col("event_id") * 7919 % 2000) / 100.0 + 50.0).alias("lat"),
    ((F.col("event_id") * 104729 % 4000) / 100.0 - 20.0).alias("lon"),
    (F.col("event_id") * 31 % 2500).cast("double").alias("elev"),
    F.col("value"),
)
print("rows:", pts.count())

qc = QCDataset(pts)
qc = qc.apply("metadata", lambda df: metadata_check(df, ["lat", "lon", "elev"]))
qc = qc.apply("range", lambda df: range_check(df, -5.0, 5.0))
qc = qc.apply("isolation", lambda df: isolation_check(df, num_min=2, radius=100_000.0))
qc = qc.apply("buddy", lambda df: buddy_check(
    df, radius=100_000.0, num_min=3, threshold=2.5, min_std=0.1, num_iterations=2))
print("history:", qc.history)
qc.summary().show()

# SCT over the surviving points
out = sct(qc.df, num_min=5, num_max=30, inner_radius=50_000.0, outer_radius=100_000.0,
          num_iterations=1, num_min_prof=-1, pos=8.0, neg=8.0, eps2=0.5)
out.groupBy("flags").count().orderBy("flags").show()

# FGT via background
bg = background(out.where(F.col("flags") == GOOD).withColumn(
    "grp", (F.col("id") % 5)), mode="median", group_cols=["grp"], value_col="value")
f = fgt(bg, group_cols=["grp"], tpos=5.0, tneg=5.0, num_iterations=2)
f.groupBy("flags").count().orderBy("flags").show()

# dedup on a synthetic key
d = duplicate_check_exact(ev.select("event_id", "user_id", "ts"),
                          key_cols=["user_id"], order_cols=["ts", "event_id"])
d.groupBy("flags").count().show()

# explain one plan to eyeball pushdown / codegen
pts2 = metadata_check(pts, ["lat"]).where(F.col("flags") == 0).select("id", "value")
pts2.explain("formatted")

print("E2E OK")
spark.stop()
