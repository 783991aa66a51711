"""SparkSession construction with scale-oriented defaults.

Single place where every entrypoint (tests, bench, driver contract) gets its
session, so the tuning story is consistent: AQE on (runtime coalescing +
skew-join splitting), Arrow on (vectorized pandas UDF transfer), and a
shuffle-partition count tied to core count rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "crawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a local SparkSession tuned for this engine.

    ``cores=None`` → ``local[*]``. ``shuffle_partitions`` defaults to
    2×cores — small enough to avoid tiny-task overhead at test scale, and AQE
    re-coalesces at runtime anyway; on a real cluster this is overridden via
    ``spark-submit --conf``.
    """
    if cores is None:
        env_cores = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env_cores) if env_cores else (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2048-row Arrow batches: the embed UDF expands each row by a 6 KB
        # vector, so 10k-row batches mean ~61 MB python-side output buffers —
        # measured 26-35% slower end-to-end than 2048 (pipelining + cache)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Broadcast threshold: robots/politeness state and dim tables are
        # small; make sure they broadcast instead of shuffling the big side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Dynamic-partition parquet writes (replace_buckets' partitionBy,
        # which writes the copy-on-write bucketed tables: frontier,
        # url_seen, blooms, refcounts) otherwise SORT each task's rows by
        # partition key before writing — an extra pass over the sink's rows
        # that spilled at local[4] when the documents sink still took this
        # path (BENCH/docsink_scaling.json: the concurrent-writer path was
        # 1.5-2x faster at both core counts). replace_buckets repartitions
        # by bucket first, so a task's distinct keys stay far below this cap
        # and the sort fallback never triggers.
        .config("spark.sql.maxConcurrentOutputFileWriters", "16")
        # A bucketed read passes one path per chain link, and past this many
        # paths (Spark's default: 32) Spark lists them with a Spark job,
        # pinned schema or not. The store's largest read at the default
        # config is the whole documents table: num_partitions=32 buckets ×
        # (MAX_DELTAS + 1) = 288 links.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_scan_splits(spark: SparkSession, input_bytes: int,
                     target_splits: int = 48) -> int:
    """Size ``spark.sql.files.maxPartitionBytes`` to the job's input.

    Scan-side stages (the crawl's fetch-join → extract kernel, and every
    sink that re-reads the extract scratch) deliberately run where the data
    already sits — no shuffle moves the page-body / extracted-text mass. The
    flip side is that their parallelism equals the parquet SPLIT count, and
    Spark's default 128 MB split serializes any input smaller than
    ``cores × 128 MB`` onto a handful of tasks no matter how many cores the
    job has. At the 10^10-URL scale the rule targets, the pages table is
    TBs and the default is already thousands of splits per executor wave —
    this helper returns the default unchanged there (the ``min`` clamp). At
    bench/test scale it shrinks the split so the same plan decomposes into
    ~``target_splits`` units at every parallelism level (identical work
    decomposition at N and 4N cores, like a real cluster comparison where
    the input layout is fixed).

    Returns the chosen split size in bytes after setting it on the session.
    """
    default = 128 * 1024 * 1024
    floor = 4 * 1024 * 1024
    split = min(default, max(floor, input_bytes // max(target_splits, 1)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    return split
