"""Benchmark driver: headline queries + crawl throughput on one JSON line.

Run:  python bench.py
Env:  SPARK_GRAFT_SF_DIR  (default /root/testdata/sf0.1)
      SPARK_GRAFT_CPUS    (default 32)

Output: one JSON line
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "crawl": {...}}

The crawl section reports the authoritative BASELINE.json metric — URLs
fetched+deduped per second over a deterministic synthetic frontier (hot-host
skew included) — measured end-to-end through the epoch loop (discovery,
politeness, fetch-join, extract, Bloom+anti-join dedup, ref-count, index,
snapshot commit).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


#: rough bench working set: corpus + snapshots + shuffle at the largest sf
_EXPECTED_SCRATCH_BYTES = 12 * 1024**3


def bench_tmp_root() -> str | None:
    """Fast scratch root for bench state (corpus, snapshots, shuffle).

    The crawl writes ~10 GB per run; on this single-VM sandbox the virtual
    disk's async writeback bleeds into subsequent timings (load-average
    spikes with no runnable processes). A real cluster writes state to
    distributed storage whose bandwidth scales with executors, so the bench
    uses tmpfs when present — and large enough — to measure the engine, not
    the sandbox disk. Hosts with a small tmpfs fall back to disk instead of
    dying on ENOSPC. Override with SPARK_GRAFT_TMP (e.g. /tmp forces disk).
    """
    env = os.environ.get("SPARK_GRAFT_TMP")
    if env:
        return env
    if os.path.isdir("/dev/shm"):
        free = shutil.disk_usage("/dev/shm").free
        if free >= _EXPECTED_SCRATCH_BYTES:
            return "/dev/shm"
    return None

#: headline catalog queries (names from crawler_spark.plans.queries.CATALOG);
#: chosen to cover scan-agg, shuffle joins, windows, dedup, ANN and text ops.
BENCH_QUERIES = [
    "pricing_summary",
    "shipping_priority",
    "region_revenue",
    "site_status_rollup",
    "url_seen_refcount",
    "first_occurrence_gate",
    "per_host_budget",
    "windowed_events",
    "json_extract_agg",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_lines",
    "ann_cosine_topk",
    "text_quality",
    "token_stats",
    "top_tokens",
    # round 5 (r4 verdict #6): the training-pipeline operators joined the
    # headline set — totals are NOT comparable with BENCH_r04's 17-query
    # suite; compare per-query or on the common subset (NOTES.md).
    "pack_sequences",
    "posting_lists",
]

# crawl corpus per sf: (n_sites, chunks_per_site, items_per_chunk, hot_chunks)
_CRAWL_SCALE = {
    "sf0.001": (3, 3, 50, 6),
    "sf0.01": (10, 6, 200, 24),
    "sf0.1": (40, 10, 400, 80),
}


def _sf_tag(sf_dir: str) -> str:
    return Path(sf_dir).name


def run_queries(spark, sf_dir: str) -> dict[str, float]:
    from crawler_spark.plans.queries import CATALOG

    # untimed warm-up: JVM JIT + codegen + parquet footer reads, so the first
    # timed query doesn't also pay one-time session costs
    for t in ("lineitem", "orders", "customer", "events", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()

    subset_env = os.environ.get("SPARK_GRAFT_QUERY_SUBSET")
    names = subset_env.split(",") if subset_env else BENCH_QUERIES
    timings: dict[str, float] = {}
    for name in names:
        fn, _ = CATALOG[name]
        t0 = time.time()
        n = fn(spark, sf_dir).count()  # full materialization
        timings[name] = round(time.time() - t0, 3)
        assert n >= 0
    return timings


def run_crawl_bench(spark, sf_tag: str, cores: int,
                    scale: tuple[int, int, int, int] | None = None) -> dict:
    from crawler_spark.crawl import CrawlConfig, CrawlEngine
    from crawler_spark.sources.synth import corpus_pages_df, seeds_df
    from crawler_spark.sources.tables import SnapshotStore

    scale_env = os.environ.get("SPARK_GRAFT_CRAWL_SCALE")
    if scale is not None:
        n_sites, chunks, items, hot = scale
    elif scale_env:  # "sites,chunks,items,hot" override
        n_sites, chunks, items, hot = (int(x) for x in scale_env.split(","))
    else:
        n_sites, chunks, items, hot = _CRAWL_SCALE.get(sf_tag, _CRAWL_SCALE["sf0.1"])
    pages = corpus_pages_df(
        spark, n_sites, chunks, items_per_chunk=items, hot_site_chunks=hot
    )
    # materialize the corpus once so generation cost is not billed to the crawl
    tmp = tempfile.mkdtemp(prefix="crawl_bench_", dir=bench_tmp_root())
    prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    try:
        corpus_path = f"{tmp}/pages"
        pages.write.mode("overwrite").parquet(corpus_path)
        # scan-side stages (fetch-join → extract, sink reads of the extract
        # scratch) parallelize by parquet split count; size the split to the
        # corpus so the crawl decomposes into the same ~48 units at every
        # core count (no-op at real scale — see tune_scan_splits)
        from crawler_spark.session import tune_scan_splits
        corpus_bytes = sum(f.stat().st_size
                           for f in Path(corpus_path).glob("*.parquet"))
        tune_scan_splits(spark, corpus_bytes)
        pages = spark.read.parquet(corpus_path)
        seeds = seeds_df(spark, n_sites)

        cfg = CrawlConfig(
            num_partitions=max(cores, 8),
            per_host_budget=max(chunks, hot),
            salt_buckets=16,
        )
        engine = CrawlEngine(spark, SnapshotStore(f"{tmp}/state"), pages, cfg)
        engine.bootstrap(seeds)
        t0 = time.time()
        reports = engine.run()
        wall = time.time() - t0

        # totals from committed state
        from pyspark.sql import functions as F
        fetched = engine.frontier().filter(
            (F.col("status") == "done") & (F.col("job_type") == "process_file")).count()
        deduped = engine.url_seen().count()
        return {
            "epochs": len(reports),
            "files_fetched": fetched,
            "ids_deduped": deduped,
            "wall_s": round(wall, 3),
            "urls_per_sec": round((fetched + deduped) / wall, 1) if wall > 0 else 0.0,
        }
    finally:
        # crashed/killed runs must not leak multi-GB scratch into tmpfs
        shutil.rmtree(tmp, ignore_errors=True)
        # tune_scan_splits sized the split to THIS corpus; anything the
        # session runs afterwards should see the default again
        if prev_split is not None:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)


def main() -> None:
    from crawler_spark.session import build_session

    sf_tag = _sf_tag(SF_DIR)

    local_dir = tempfile.mkdtemp(prefix="spark_local_", dir=bench_tmp_root())
    conf = {"spark.local.dir": local_dir}  # shuffle on fast scratch too

    try:
        if "--crawl-only" in sys.argv:
            # subprocess mode (e.g. scripts/samewindow.py A/Bs): fresh JVM,
            # crawl throughput only
            spark = build_session(app_name="crawler_spark_scaling", cores=CPUS, extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            if os.environ.get("SPARK_GRAFT_CRAWL_WARMUP", "1") != "0":
                # steady-state measurement: a tiny untimed crawl first drives
                # every epoch code path (extract kernel, bloom fold, task-side
                # document writer, all sinks) so one-time JVM JIT / codegen /
                # Python-worker spinup happens OUTSIDE the timed run. These
                # costs are identical in absolute terms at N and 4N cores but
                # ~3x heavier *proportionally* at 4N's shorter wall, so an
                # un-warmed ratio understates scaling that a long-lived
                # 10^10-URL crawl (the north_rule regime, where startup
                # amortizes to zero) would actually achieve.
                run_crawl_bench(spark, sf_tag, CPUS, scale=(20, 4, 50, 8))
            crawl = run_crawl_bench(spark, sf_tag, CPUS)
            spark.stop()
            print(json.dumps({"crawl": crawl, "cpus": CPUS, "sf": sf_tag}))
            return

        if "--queries-only" in sys.argv:
            # subprocess mode for per-query core-scaling legs
            # (BENCH/queries_scaling.py): fresh JVM, suite only, no crawl;
            # SPARK_GRAFT_QUERY_SUBSET narrows the suite
            spark = build_session(app_name="crawler_spark_qscaling", cores=CPUS, extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            timings = run_queries(spark, SF_DIR)
            spark.stop()
            print(json.dumps({"queries": timings, "cpus": CPUS, "sf": sf_tag,
                              "value": round(sum(timings.values()), 3)}))
            return

        spark = build_session(app_name="crawler_spark_bench", cores=CPUS, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")

        timings = run_queries(spark, SF_DIR)
        crawl = run_crawl_bench(spark, sf_tag, CPUS)
        total = round(sum(timings.values()), 3)

        result = {
            "metric": "headline query suite wall time (sum) + crawl urls/sec",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf_tag,
            "cpus": CPUS,
            "crawl": crawl,
        }
        spark.stop()
        print(json.dumps(result))
    finally:
        shutil.rmtree(local_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
