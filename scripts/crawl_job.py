"""spark-submit entry point: run the crawl engine end-to-end on a cluster.

Deployment shape required by the north rule: ``spark-submit --py-files
dist/crawler_spark.zip scripts/crawl_job.py`` on a multi-executor cluster.
In this sandbox the master is ``local[K]``; on a real cluster pass
``--master yarn``/``k8s://...`` and the identical artifact runs unchanged
(no code path depends on local mode).

Prints one JSON line with fetch/dedup totals and throughput.
"""

from __future__ import annotations

import argparse
import json
import tempfile
import time

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sites", type=int, default=10)
    ap.add_argument("--chunks", type=int, default=6)
    ap.add_argument("--items", type=int, default=200)
    ap.add_argument("--hot-chunks", type=int, default=24)
    ap.add_argument("--state-dir", default=None, help="resume from an existing state dir")
    args = ap.parse_args()

    # session comes from spark-submit's --master/--conf; only app-level
    # settings are applied here
    spark = (
        SparkSession.builder.appName("crawler_spark_job")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from pyspark.sql import functions as F

    from crawler_spark.crawl import CrawlConfig, CrawlEngine
    from crawler_spark.sources.synth import corpus_pages_df, seeds_df
    from crawler_spark.sources.tables import SnapshotStore

    pages = corpus_pages_df(
        spark, args.sites, args.chunks,
        items_per_chunk=args.items, hot_site_chunks=args.hot_chunks,
    )
    tmp = args.state_dir or tempfile.mkdtemp(prefix="crawl_job_")
    pages.write.mode("overwrite").parquet(f"{tmp}/pages")
    pages = spark.read.parquet(f"{tmp}/pages")

    cores = spark.sparkContext.defaultParallelism
    cfg = CrawlConfig(
        num_partitions=max(cores, 8),
        per_host_budget=max(args.chunks, args.hot_chunks),
    )
    engine = CrawlEngine(spark, SnapshotStore(f"{tmp}/state"), pages, cfg)
    engine.bootstrap(seeds_df(spark, args.sites))

    t0 = time.time()
    reports = engine.run()
    wall = time.time() - t0

    fetched = engine.frontier().filter(
        (F.col("status") == "done") & (F.col("job_type") == "process_file")).count()
    deduped = engine.url_seen().count()
    print(json.dumps({
        "epochs": len(reports),
        "files_fetched": fetched,
        "ids_deduped": deduped,
        "wall_s": round(wall, 3),
        "urls_per_sec": round((fetched + deduped) / wall, 1) if wall else 0.0,
        "state_dir": tmp,
        "default_parallelism": cores,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
