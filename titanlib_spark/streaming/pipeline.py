"""Structured-Streaming ingestion for the quality pipeline.

The reference is pure batch (SURVEY.md §2.3: no streaming operators), and
the keep/drop rules are row-local or bounded-scope, so streaming support
is an ingestion-shape concern, not a new operator semantics: pages arrive
as files (the WARC-dump pattern), each micro-batch runs the SAME
run_quality_pipeline, and results land in the salted layout.

Exactly-once: foreachBatch is at-least-once, so the sink is made
idempotent by partitioning on batch_id and DYNAMICALLY OVERWRITING that
batch's partitions — a replayed micro-batch (same batch_id after a crash)
rewrites exactly its own output instead of appending duplicates; Spark's
streaming checkpoint owns the source offsets.

Cross-batch dedup is a STATE-STORE operator, not a sink re-scan: the
stream is keyed by the row-local content key (md5 of the effective
extracted text — identical to the pipeline's content_hash) and an
applyInPandasWithState stage marks rows whose key was seen in an earlier
micro-batch. Work per trigger is O(batch) — the state store holds the
seen-key set, lookups are keyed, and nothing ever re-reads prior sink
partitions (the previous design scanned every prior batch's hash column
per trigger: O(total history)). State commits atomically with the source
offsets in the streaming checkpoint, so a replayed batch sees the
pre-batch state — dedup verdicts are replay-stable. A page whose text
already shipped is kept in the output for lineage but flagged
`cross_batch_duplicate` with keep=false; within-batch duplicates are
handled by the pipeline itself. The keyed stage shuffles the micro-batch
once by content key (bounded by trigger size; at web scale, size triggers
accordingly).

`trigger=availableNow` drains the backlog and stops — the incremental-
batch mode the north rule's resumability requirement describes; leave
`trigger=None` for continuous tailing.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from titanlib_spark.flags import BAD
from titanlib_spark.webtext.checkpoint import with_salted_partition
from titanlib_spark.webtext.pipeline import QualityFilterConfig, run_quality_pipeline
from titanlib_spark.webtext.schema import PAGES_SCHEMA

OUT_COLS = [
    "batch_id", "part_id", "url", "warc_ts", "host", "pred_lang",
    "pred_lang_score", "flags", "keep", "reasons", "scrubbed_text",
    "content_hash",
]

# singleton-key prefix for rows with no hashable text: the state stage
# passes them through unmarked and stores nothing for them
_NOHASH = "_nohash_"


# DataType object, not a DDL string: string parsing needs an active
# session, which doesn't exist at import time
@F.pandas_udf(StringType())
def _content_key(text: pd.Series, html: pd.Series) -> pd.Series:
    """Row-local cross-batch dedup key: md5 of the EFFECTIVE text — the
    same bytes features.analyze_batch hashes into content_hash (null-text
    rows extract from html first), so state-store verdicts agree with the
    pipeline's within-batch dedup keys. Empty docs are non-hashable."""
    import hashlib

    from titanlib_spark.webtext.extract import extract_text_py

    out = []
    hvals = html.to_numpy(dtype=object)
    for i, t in enumerate(text.to_numpy(dtype=object)):
        if (t is None or not isinstance(t, str)) and hvals[i] is not None:
            t = extract_text_py(bytes(hvals[i]))
        if isinstance(t, str) and t.strip():
            out.append(hashlib.md5(t.encode("utf-8")).hexdigest())
        else:
            out.append(None)
    return pd.Series(out, dtype=object)


def mark_cross_batch_dups(stream: DataFrame, url_col: str = "url") -> DataFrame:
    """Hash-keyed applyInPandasWithState stage: appends `_xb_dup` (boolean)
    — true iff the row's content key was first seen in an EARLIER
    micro-batch. O(batch) per trigger; the seen-key set lives in the
    streaming state store, never in the sink."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    # the final literal arm keeps _xb_key non-null even when BOTH the
    # content hash and the url are NULL (unhashable row with no url): a
    # NULL group key would reach update() as key=(None,) and crash the
    # micro-batch on key[0].startswith. Unhashable rows never mark dups or
    # write state, so collapsing them into one `_NOHASH` group is safe —
    # it only affects grouping fan-out, and such rows are rare by
    # construction (no url AND no hashable payload).
    keyed = stream.withColumn(
        "_xb_key",
        F.coalesce(
            _content_key(F.col("text"), F.col("html")),
            F.concat(F.lit(_NOHASH), F.col(url_col)),
            F.lit(_NOHASH),
        ),
    )
    # rule 4: never mutate a cached schema object in place
    out_schema = StructType(
        list(keyed.schema.fields) + [StructField("_xb_dup", BooleanType())]
    )
    state_schema = StructType([StructField("n_seen", LongType())])

    def update(key, pdfs, state):
        unhashable = key[0].startswith(_NOHASH)
        seen_before = state.exists
        n = 0
        for pdf in pdfs:
            n += len(pdf)
            pdf["_xb_dup"] = bool(seen_before and not unhashable)
            yield pdf
        if not unhashable:
            prev = state.get[0] if state.exists else 0
            state.update((prev + n,))

    return keyed.groupBy("_xb_key").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    ).drop("_xb_key")


def stream_quality_pipeline(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    cfg: QualityFilterConfig | None = None,
    n_parts: int = 64,
    available_now: bool = True,
    input_format: str = "parquet",
    cross_batch_dedup: bool = True,
):
    """readStream(pages files) -> [state-store cross-batch dedup] ->
    foreachBatch(quality pipeline) -> idempotent batch-partitioned salted
    parquet. Returns the StreamingQuery."""
    cfg = cfg or QualityFilterConfig(
        # iterative per-host refinement is batch-scope; within a micro-batch
        # run a single outlier pass against the global background
        ppl_iterations=1,
        keep_content_hash=True,
    )

    reader = spark.readStream.format(input_format)
    if input_format in ("parquet", "json", "csv"):
        reader = reader.schema(PAGES_SCHEMA)
    stream = reader.load(input_path)
    if cross_batch_dedup:
        stream = mark_cross_batch_dups(stream, url_col=cfg.url_col)

    def _persistent_rdds(sc):
        out = {}
        it = sc._jsc.sc().getPersistentRDDs().iterator()
        while it.hasNext():
            kv = it.next()
            out[int(kv._1())] = kv._2()
        return out

    def process_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # the pipeline checkpoints its UDF output per call; without scoped
        # cleanup every micro-batch would leak those blocks for the life
        # of the JVM (and squeeze execution memory). Snapshot persistent
        # RDDs before, free only the batch's own additions after the write.
        sc = batch_df.sparkSession.sparkContext
        before = set(_persistent_rdds(sc))
        result = run_quality_pipeline(batch_df, cfg)
        if "content_hash" not in result.columns:
            result = result.withColumn("content_hash", F.lit(None).cast("string"))
        if cross_batch_dedup:
            is_xdup = F.coalesce(F.col("_xb_dup"), F.lit(False))
            result = (
                result.withColumn(
                    "reasons",
                    F.when(
                        is_xdup,
                        F.array_union(
                            F.col("reasons"),
                            F.array(F.lit("cross_batch_duplicate")),
                        ),
                    ).otherwise(F.col("reasons")),
                )
                .withColumn(
                    "flags", F.when(is_xdup, F.lit(BAD)).otherwise(F.col("flags"))
                )
                .withColumn("keep", F.col("keep") & ~is_xdup)
                .drop("_xb_dup")
            )
        out = with_salted_partition(result, int(n_parts), cfg.url_col).withColumn(
            "batch_id", F.lit(batch_id)
        )
        (
            out.select(*OUT_COLS)
            .write.mode("overwrite")
            # replay-idempotent: rewrite ONLY this batch_id's partitions
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "part_id")
            .parquet(output_path)
        )
        after = _persistent_rdds(sc)
        for rdd_id, rdd in after.items():
            if rdd_id not in before:
                rdd.unpersist(False)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    if cross_batch_dedup:
        writer = writer.outputMode("update")
    return writer.start()


def host_key(url_col: str = "url") -> F.Column:
    """Host of a URL, scheme matched case-insensitively (HTTPS:// and
    scheme-relative //host/ both resolve); rows with no extractable host
    yield '' — callers filter them rather than sharing one state key."""
    return F.regexp_extract(
        F.col(url_col), r"(?i)^(?:[a-z][a-z0-9+.-]*:)?//([^/]+)", 1
    )


def running_host_quality(
    pages,
    url_col: str = "url",
    text_col: str = "text",
    min_words: int = 30,
):
    """Custom stateful streaming operator via applyInPandasWithState:
    per-host RUNNING page/keep counts across micro-batches. The state
    store (not a sink re-scan) carries each host's totals, so the
    operator is O(batch) per trigger and survives restarts through the
    streaming checkpoint — the pattern for cross-batch host reputations
    (a host whose keep-rate decays gets demoted without replaying
    history). Rows with no extractable host are dropped (they would all
    share one '' state key). Emits one (host, n_pages, n_keep, keep_rate)
    row per host per batch in update mode."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    toks = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    keep = (F.col(text_col).isNotNull() & (toks >= int(min_words))).cast("long")
    scored = pages.select(
        host_key(url_col).alias("host"), keep.alias("_keep")
    ).where(F.col("host") != "")

    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("n_pages", LongType()),
            StructField("n_keep", LongType()),
            StructField("keep_rate", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n_pages", LongType()), StructField("n_keep", LongType())]
    )

    def update(key, pdfs, state):
        n, k = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            k += int(pdf["_keep"].sum())
        state.update((n, k))
        yield pd.DataFrame(
            {
                "host": [key[0]],
                "n_pages": [n],
                "n_keep": [k],
                "keep_rate": [k / n if n else 0.0],
            }
        )

    return scored.groupBy("host").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_keep_rates(
    pages,
    time_col: str = "warc_ts",
    text_col: str = "text",
    watermark: str = "2 hours",
    window_len: str = "1 hour",
    min_words: int = 30,
):
    """Event-time windowed keep-rate telemetry over the page stream — the
    stateful-aggregation shape (withWatermark + window + agg) rather than
    foreachBatch: arrivals and rows passing a row-local keep rule per
    window. The watermark bounds aggregation state and drops late rows
    whose window closed more than `watermark` before the max event time
    seen (state survives restarts via the streaming checkpoint).

    Row-local scoring only (a pure Catalyst predicate), so the windowed
    aggregation is the single stateful operator; full-pipeline verdicts
    stay in stream_quality_pipeline's foreachBatch. Returns a streaming
    DataFrame (window_start, window_end, n_pages, n_keep) — attach a sink
    with outputMode("update") (or "append" for finalized-only windows)."""
    toks = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    keep = F.col(text_col).isNotNull() & (toks >= int(min_words))
    return (
        pages.withColumn("_keep", keep.cast("int"))
        .withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window_len))
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("_keep").alias("n_keep"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_pages",
            "n_keep",
        )
    )
