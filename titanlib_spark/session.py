"""SparkSession factory with scale-appropriate defaults.

Local mode is for tests/bench only; every config here is also correct on a
real multi-executor cluster (AQE, skew-join handling, Arrow batching).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _size_bytes(conf_val: str) -> int:
    units = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    v = conf_val.strip().lower()
    for suffix, mult in units.items():
        if v.endswith(suffix):
            return int(v[: -len(suffix)]) * mult
    return int(v)


def spread_small_input(df, min_parts: int | None = None):
    """Round-robin repartition a degenerately-partitioned input up to the
    session's default parallelism.

    A small table (one parquet file, a fresh createDataFrame) scans as 1-2
    partitions, so every downstream per-row expression runs on one core
    no matter how many the session has. At real scale the scan already
    yields >= cores partitions and this is a no-op — the repartition only
    fires (and is then trivially cheap) on inputs small enough to fit in a
    couple of scan splits.

    The degeneracy test reads the scan's FILE LISTING (split count
    replayed from total bytes + per-file open cost, the scan-packing
    formula) instead of df.rdd.getNumPartitions(), which forces a full
    analyze+optimize+toRdd pass driver-side per call (rule 32). Each size
    comes from the Hadoop FileSystem of the file's URI, so any scheme the
    scan reads (and URI-escaped local paths) is sized the way the scan
    sizes it. Frames with no backing files (createDataFrame, generated
    data) or a file the FileSystem cannot stat fall back to the rdd
    probe — they are small by construction in every call site."""
    spark = df.sparkSession
    sc = spark.sparkContext
    target = min_parts or sc.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        max_pb = _size_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
        )
        open_cost = _size_bytes(
            spark.conf.get("spark.sql.files.openCostInBytes", "4m")
        )
        from py4j.protocol import Py4JError

        jvm, conf = sc._jvm, sc._jsc.hadoopConfiguration()
        total = 0
        for f in files:
            try:
                path = jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(f))
                size = path.getFileSystem(conf).getFileStatus(path).getLen()
            except Py4JError:
                total = None
                break
            total += size + open_cost
        if total is not None:
            est_splits = max(1, -(-total // max_pb))
            return df.repartition(target) if est_splits < target else df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def get_spark(
    app_name: str = "titanlib_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Defaults: AQE on (runtime coalesce + skew-join split), Arrow on
    (all pandas-UDF stages are Arrow-batched), UTC session timezone
    (oracle comparability), shuffle partitions sized to the core count
    rather than the 200 default, and PySpark's per-call origin capture
    off (rule 41): every ``F.*``/Column call otherwise pays ~10
    extra py4j round trips to record its Python call site, which error
    query contexts then lose.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master.split("[")[-1].rstrip("]")
        shuffle_partitions = 32 if n == "*" else max(8, int(n))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # single-JVM local mode: the "driver" heap is the whole executor
        # pool; an undersized heap turns high-parallelism runs into GC
        # storms (measured: local[32] 3x SLOWER than local[8] at 8g)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
