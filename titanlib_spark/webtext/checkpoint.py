"""Resumable partitioned runs: per-partition progress + lineage + metrics.

North-rule requirement: "writes salted, size-balanced Iceberg partitions
with explicit skew handling on host-level hot keys, checkpoints
per-partition progress with lineage and keep/drop/scrub metrics for
resumable reruns".

Design:

* **Salted partition key** — ``part_id = pmod(xxhash64(url), n_parts)``.
  url-hash salting is host-independent, so a hot host (the Zipf head)
  spreads uniformly over all partitions: size balance is guaranteed by the
  hash, not by luck. (Partitioning by host would concentrate the Zipf head
  in one file — exactly the skew the rule asks us to handle.)
* **Progress table** — one row per (run_id, part_id) appended *after* that
  partition's data is committed, carrying lineage (run_id, config hash,
  input path, wall time) and metrics (docs / kept / dropped / scrubbed).
* **Resume** — a rerun anti-joins the pending parts against recorded
  progress and processes only the remainder; dynamic partition overwrite
  makes a crashed write idempotent (the partition is rewritten whole, and
  its progress row only appears once the rewrite succeeded).

The writer targets plain parquet here (the container has no Iceberg
catalog); `format="iceberg"` on a configured catalog is the drop-in
production path — the salting, progress and resume logic are identical.
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import asdict

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PART_COL = "part_id"


def with_salted_partition(df: DataFrame, n_parts: int, url_col: str = "url") -> DataFrame:
    return df.withColumn(
        PART_COL, F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_parts)).cast("int")
    )


def _progress_path(out_dir: str) -> str:
    return f"{out_dir.rstrip('/')}/_progress"


def completed_parts(spark: SparkSession, out_dir: str) -> set[int]:
    try:
        rows = spark.read.parquet(_progress_path(out_dir)).select(PART_COL).distinct().collect()
    except Exception:
        return set()
    return {r[PART_COL] for r in rows}


def run_partitioned(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_parts: int = 64,
    cfg=None,
    run_id: str | None = None,
    output_format: str = "parquet",
) -> dict:
    """Run the quality pipeline over only the not-yet-completed partitions,
    write salted output + progress, return the run summary dict."""
    from titanlib_spark.webtext.pipeline import QualityFilterConfig, run_quality_pipeline

    cfg = cfg or QualityFilterConfig()
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    salted = with_salted_partition(pages, n_parts)
    done = completed_parts(spark, out_dir)
    pending = salted.where(~F.col(PART_COL).isin(*done) if done else F.lit(True))

    result = run_quality_pipeline(pending, cfg)
    result = result.withColumn(
        "scrub_changed", F.coalesce(F.col("scrub_changed"), F.lit(False))
    )
    out_cols = [PART_COL, "url", "warc_ts", "host", "pred_lang", "pred_lang_score",
                "flags", "keep", "reasons", "scrubbed_text", "scrub_changed"]
    out = result.select(*[c for c in out_cols if c in result.columns])
    (
        out.repartition(F.col(PART_COL))  # one shuffle; AQE coalesces small parts
        .write.mode("overwrite")
        .partitionBy(PART_COL)
        .format(output_format)
        .save(f"{out_dir.rstrip('/')}/pages_qc")
    )

    # metrics over what was just written (read back: metrics reflect the
    # committed bytes, not the pre-write plan)
    written = spark.read.format(output_format).load(f"{out_dir.rstrip('/')}/pages_qc")
    if done:
        written = written.where(~F.col(PART_COL).isin(*done))
    per_part = written.groupBy(PART_COL).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum((~F.col("keep")).cast("long")).alias("n_drop"),
        F.sum(F.col("scrub_changed").cast("long")).alias("n_scrubbed"),
    )
    # aggregate once: the progress rows are built from the collected
    # counts. They go back through Arrow (driver-side); createDataFrame
    # of a row list would start a Python worker (~300 MB peak RSS)
    mrows = per_part.collect()
    progress = (
        spark.createDataFrame(
            pd.DataFrame(mrows, columns=per_part.columns), per_part.schema
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("config_json", F.lit(json.dumps(asdict(cfg), sort_keys=True)))
        .withColumn("completed_ts", F.current_timestamp())
        .withColumn("wall_s", F.lit(round(time.time() - t0, 3)))
    )
    progress.write.mode("append").parquet(_progress_path(out_dir))
    return {
        "run_id": run_id,
        "parts_completed": len(mrows),
        "parts_skipped": len(done),
        "n_docs": sum(r["n_docs"] for r in mrows),
        "n_keep": sum(r["n_keep"] for r in mrows),
        "n_drop": sum(r["n_drop"] for r in mrows),
        "wall_s": round(time.time() - t0, 3),
    }
