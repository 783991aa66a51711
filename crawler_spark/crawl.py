"""The crawl engine: seed → discover → fetch → extract → dedup → index.

One *epoch* is one Spark DAG over the snapshot-versioned state
(``SnapshotStore``): the reference's master/worker/queue trio
(``code/core/master.py``, ``worker.py``, ``queue_interface*.py``) becomes a
driver loop that each iteration

1. **discovers** due sites' sitemaps (robots ``SchemaMap:`` directives →
   sitemap XML → file URLs; fallback chain per master.py:103-127) and
   maintains the frontier incrementally via two anti-joins (J1/J2);
2. **selects** pending work within per-host politeness budgets (salted
   two-phase top-k, see ``operators/politeness.py``);
3. **fetches** via the ``pages`` table stand-in for HTTP — S1: the small
   selected-job list broadcasts into an inner join so page BODIES never
   shuffle, with 404 markers from a url-only anti-join (a real deployment
   swaps this for a ``mapInPandas`` HTTP kernel with identical columns);
4. **extracts** JSON-LD objects (Arrow-batched ``mapInPandas``, within-file
   id dedup inside the kernel — U1), diffs ids against the URL-seen set
   (the touched buckets' persisted Bloom blobs pre-filter, the exact
   anti-join decides), ref-counts first-occurrences /
   orphans set-wise (A1 as one groupBy per epoch);
5. **indexes** first-occurrence objects task-side: the embed kernel fills
   essential-fields text → embedding and writes the ``documents`` parquet
   buckets inside the same task (``replace_buckets_task_write``), so the
   wide embedding column never crosses Python→JVM; orphan deletes apply
   bucket-locally;
6. **commits** frontier/url_seen/documents/metrics snapshots atomically via
   the store manifest — crash anywhere ⇒ re-run epoch from last commit.

Every join/agg is keyed by (user_id-scoped) url columns with the frontier
partitioned on ``host_hash``; the only custom physical tactics are the salt
and the Bloom (SURVEY.md §4).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_spark.functions.canonical import (
    doc_bucket_expr,
    doc_key_expr,
    host_from_url_expr,
    host_hash_expr,
)
from crawler_spark.functions.embed import fill_missing_embeddings_transform
from crawler_spark.functions.extract import (
    EXTRACTED_META_SCHEMA,
    explode_jsonld_with_meta,
)
from crawler_spark.functions.sitemap import (
    parse_sitemap_udf,
    robots_crawl_delay_udf,
    robots_schema_maps_udf,
)
from crawler_spark.operators import frontier as fr
from crawler_spark.operators import politeness, seen
from crawler_spark.schema import FRONTIER, REFCOUNTS, URL_SEEN
from crawler_spark.sources.tables import SnapshotStore


@dataclass
class CrawlConfig:
    num_partitions: int = 32
    per_host_budget: int = 64
    salt_buckets: int = 16
    epoch_window_s: float = 60.0
    max_epochs: int = 50
    #: per-epoch counters in EpochReport cost extra Spark jobs; bench turns
    #: them off and derives totals from the committed state instead.
    collect_stats: bool = True


@dataclass
class EpochReport:
    epoch: int
    selected: int = 0
    fetched_ok: int = 0
    fetch_failed: int = 0
    ids_extracted: int = 0
    ids_added: int = 0
    ids_removed: int = 0
    docs_added: int = 0
    docs_deleted: int = 0
    files_added: int = 0
    files_removed: int = 0
    wall_s: float = 0.0
    extra: dict = field(default_factory=dict)


def _https(col):
    """Seeds are stored normalized (no scheme, db.py:13-34); fetches need one."""
    return F.concat(F.lit("https://"), col)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        pages: DataFrame,
        config: CrawlConfig | None = None,
        fetcher=None,
    ):
        """``fetcher``: optional production fetch stage — a callable
        ``jobs_df -> DataFrame`` with :data:`crawler_spark.sources.
        http_fetch.FETCHED_SCHEMA` columns (e.g. ``functools.partial(
        fetch_pages, transport_factory=...)``). ``None`` keeps the
        deterministic pages-join stand-in."""
        self.spark = spark
        self.store = store
        self.cfg = config or CrawlConfig()
        self._fetcher = fetcher
        # Column-pruned page projections; bodies only where needed.
        self._pages = pages
        self._page_bodies = pages.select("url", "html")
        # A store's layout is pinned in its meta at bootstrap: the bucket
        # modulus every bucketed table is split by, and the pre-filter kind
        # whose blobs cover every url_seen bucket that holds rows. Opening a
        # store whose record is missing or different would misroute bucket
        # reads/writes (data loss) or probe blobs that miss seen ids
        # (duplicate re-adds): refuse it.
        if store.exists("frontier"):
            for key, want in self._layout().items():
                got = store.get_meta(key)
                if got != want:
                    raise ValueError(
                        f"store was laid out with {key}={got!r}; this engine "
                        f"needs {want!r} — refusing to open it")

    def _layout(self) -> dict:
        """Layout facts ``bootstrap`` records and ``__init__`` checks."""
        return {"num_partitions": self.cfg.num_partitions,
                "seen_filter_kind": "blooms"}

    # ------------------------------------------------------------------
    # bootstrap / state access
    # ------------------------------------------------------------------

    def bootstrap(self, seeds: DataFrame) -> None:
        """Initialize state tables; idempotent (no-op if already committed)."""
        if self.store.exists("frontier"):
            return
        empty_frontier = self.spark.createDataFrame([], FRONTIER)
        empty_seen = self.spark.createDataFrame([], URL_SEEN)
        versions = {
            "seeds": self.store.write(seeds, "seeds"),
            # frontier/url_seen are bucket-versioned on host_hash: epochs
            # replace only the buckets they touch (see SnapshotStore)
            "frontier": self.store.replace_buckets(empty_frontier, "frontier", touched=[]),
            "url_seen": self.store.replace_buckets(empty_seen, "url_seen", touched=[]),
        }
        self.store.set_meta(**self._layout())
        self.store.commit(epoch=-1, table_versions=versions)

    # -- frontier bucket families -------------------------------------
    #
    # The frontier is bucketed by STATUS FAMILY as well as host: pending
    # rows live in buckets [0, P), settled rows (done / error / inactive)
    # in [P, 2P), where P = num_partitions. Epoch selection reads only the
    # pending family, so its input stays O(pending) instead of
    # O(all-ever-crawled) — at steady state on a 10^10-URL frontier the
    # done rows are the overwhelming mass and are never scanned. Rows
    # migrate between families when their bucket is rewritten (every write
    # recomputes ``fbucket`` and touches both families of each host).

    @staticmethod
    def _drop_fbucket(df: DataFrame) -> DataFrame:
        return df.drop("fbucket") if "fbucket" in df.columns else df

    def _frontier_fbucket(self, df: DataFrame) -> DataFrame:
        settled = (~F.col("is_active")) | (F.col("status") != F.lit("pending"))
        return df.withColumn(
            "fbucket",
            (F.col("host_hash")
             + F.when(settled, F.lit(self.cfg.num_partitions)).otherwise(F.lit(0))
             ).cast("int"))

    def _frontier_touched(self, hosts) -> list[int]:
        hs = {int(h) for h in hosts}
        return sorted(hs | {h + self.cfg.num_partitions for h in hs})

    def _write_frontier(self, updated: DataFrame, hosts) -> dict:
        """Replace both status families of the ``hosts`` buckets.
        ``updated`` must hold those hosts' complete new rows."""
        return self.store.replace_buckets(
            self._frontier_fbucket(updated), "frontier",
            self._frontier_touched(hosts), "fbucket")

    def frontier(self) -> DataFrame:
        return self._drop_fbucket(self.store.read(self.spark, "frontier"))

    def pending_frontier(self) -> DataFrame:
        """The pending-family view — reads only buckets [0, P), which hold
        exactly the active pending rows (see ``_frontier_fbucket``)."""
        return self._drop_fbucket(self.store.read_buckets(
            self.spark, "frontier", only=list(range(self.cfg.num_partitions))))

    def _frontier_for_hosts(self, hosts) -> DataFrame:
        """Both families of the ``hosts`` buckets — the exact row set a
        bucket-replacing write must re-emit. O(touched), not O(frontier)."""
        return self._drop_fbucket(self.store.read_buckets(
            self.spark, "frontier", only=self._frontier_touched(hosts)))

    def url_seen(self) -> DataFrame:
        return self.store.read(self.spark, "url_seen")

    def documents(self) -> DataFrame:
        if not self.store.exists("documents"):
            from crawler_spark.schema import DOCUMENTS

            return self.spark.createDataFrame([], DOCUMENTS)
        return self.store.read(self.spark, "documents")

    def _refcounts(self, buckets: list[int]) -> DataFrame:
        """(id, user_id, ref_count) rows of the ``buckets`` id buckets. No
        table yet means no seen rows yet: an epoch writes url_seen, blooms
        and refcounts for the same diff buckets in the same commit."""
        if not self.store.exists("refcounts"):
            return self.spark.createDataFrame([], REFCOUNTS).select(
                "id", "user_id", "ref_count")
        return self.store.read_buckets(
            self.spark, "refcounts", only=buckets
        ).select("id", "user_id", "ref_count")

    # ------------------------------------------------------------------
    # discovery (lifecycle 3.1 / 3.3)
    # ------------------------------------------------------------------

    def _due_seeds(self, epoch: int) -> DataFrame:
        """F5: last_processed IS NULL OR last_processed + interval <= now(epoch)."""
        now = F.lit(fr.epoch_ts(epoch)).cast("timestamp")
        return self.store.read(self.spark, "seeds").filter(
            F.col("is_active")
            & (
                F.col("last_processed").isNull()
                | (F.col("last_processed") + F.make_interval(hours=F.col("interval_hours")) <= now)
            )
        )

    def discover(self, epoch: int) -> tuple[int, int]:
        """Maintain the frontier from due sites' sitemaps. Returns (added, removed)."""
        due = self._due_seeds(epoch).select("site_url", "user_id")
        if due.isEmpty():
            return 0, 0

        # robots.txt fetch (broadcast-sized side) → schemaMap directives (S2)
        robots = (
            due.withColumn("robots_url", _https(F.concat(F.col("site_url"), F.lit("/robots.txt"))))
            .join(self._page_bodies.withColumnRenamed("url", "robots_url"), "robots_url", "left")
            .withColumn("site_base", _https(F.col("site_url")))
            .withColumn("schema_maps", robots_schema_maps_udf("html", "site_base"))
            .withColumn("crawl_delay", robots_crawl_delay_udf("html"))
        )
        # O(due sites) rows, but its lineage scans the full pages table for
        # the robots.txt join — cache it so the robots-state sink below
        # reuses the scan the candidate pipeline already pays for, instead
        # of re-reading every page body a second time
        robots = robots.cache()
        self._robots_state = (
            robots.select(
                F.col("site_url").alias("host"),
                "schema_maps",
                "crawl_delay",
                F.lit(fr.epoch_ts(epoch)).alias("fetched_at"),
            )
        )

        # fallback chain (S4): no robots directives → <site>/schema_map.xml
        maps = robots.select(
            "site_url",
            "user_id",
            "site_base",
            F.explode(
                F.when(
                    F.size("schema_maps") > 0, F.col("schema_maps")
                ).otherwise(F.array(F.concat(F.col("site_base"), F.lit("/schema_map.xml"))))
            ).alias("schema_map"),
        ).distinct()  # U2: unique schema maps per site

        # sitemap fetch + parse (S3) → candidate file urls
        candidates = (
            maps.join(self._page_bodies.withColumnRenamed("url", "schema_map"), "schema_map", "left")
            .withColumn("file_urls", parse_sitemap_udf("html", "site_base"))
            .select(
                "site_url", "user_id", "schema_map",
                F.explode("file_urls").alias("file_url"),
            )
            .dropDuplicates(["file_url", "user_id"])  # U4
        )

        frontier_df = self.frontier()
        added_cand, removed_rows = fr.diff_discovery(frontier_df, candidates, due)

        new_rows = fr.as_frontier_rows(added_cand, epoch, self.cfg.num_partitions)
        removal_jobs = (
            removed_rows.select("file_url", "user_id", "site_url", "schema_map")
            .transform(lambda df: fr.as_frontier_rows(df, epoch, self.cfg.num_partitions,
                                                      job_type="process_removed_file"))
        )

        # soft-delete removed process_file rows (is_active=0) + enqueue both kinds
        updated = fr.transition(
            frontier_df,
            deactivated=removed_rows.select(
                "file_url", "user_id", F.lit("process_file").alias("job_type")),
        )
        # a file can reappear later: drop superseded removal jobs for re-added files
        updated = updated.unionByName(new_rows).unionByName(removal_jobs)

        # the diff output is small (changed rows only) — cache it so the
        # touched-bucket collect, the counts, and the write share one pass
        new_rows.cache(); removal_jobs.cache(); removed_rows.cache()
        touched = [int(r[0]) for r in (
            new_rows.select("host_hash")
            .unionByName(removal_jobs.select("host_hash"))
            .unionByName(removed_rows.select("host_hash"))
            .distinct().collect()
        )]
        # counting costs two extra jobs; bench (collect_stats=False) derives
        # totals from committed state instead
        n_added = new_rows.count() if self.cfg.collect_stats else -1
        n_removed = removal_jobs.count() if self.cfg.collect_stats else -1

        # stamp last_processed on discovered seeds (scheduler.py:21-30 analogue)
        seeds_df = self.store.read(self.spark, "seeds")
        stamped = (
            seeds_df.join(due.select("site_url", "user_id").withColumn("_hit", F.lit(True)),
                          ["site_url", "user_id"], "left")
            .withColumn(
                "last_processed",
                F.when(F.col("_hit"), F.lit(fr.epoch_ts(epoch))).otherwise(F.col("last_processed")),
            )
            .drop("_hit")
        )
        # three independent sinks over already-pinned inputs → one concurrent round
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            f_frontier = pool.submit(self._write_frontier, updated, touched)
            f_seeds = pool.submit(self.store.write, stamped, "seeds")
            f_robots = pool.submit(self.store.write, self._robots_state, "robots")
            v, sv, rv = f_frontier.result(), f_seeds.result(), f_robots.result()
        for df in (new_rows, removal_jobs, removed_rows, robots):
            df.unpersist()
        self.store.commit(epoch, {"frontier": v, "seeds": sv, "robots": rv},
                          lineage_row={"stage": "discover", "added": n_added, "removed": n_removed})
        return n_added, n_removed

    def error_history(self, file_url: str | None = None, n: int = 50) -> DataFrame:
        """Newest ``n`` processing-error rows, optionally for one file —
        reference ``get_file_errors`` (db.py:150-159, TOP 50 newest-first).
        Planned as TakeOrderedAndProject — no full sort at any scale."""
        from crawler_spark.schema import PROCESSING_ERRORS

        if not self.store.exists("errors"):
            return self.spark.createDataFrame([], PROCESSING_ERRORS)
        errors = self.store.read(self.spark, "errors")
        if file_url is not None:
            errors = errors.filter(F.col("file_url") == file_url)
        return errors.orderBy(
            F.desc("occurred_at"), F.desc("epoch"), F.asc("file_url"),
            F.asc("error_type")).limit(n)

    def vector_count_by_site(self) -> DataFrame:
        """Vector-store document counts per site — reference
        ``vector_db.py:368-388`` (count query) + ``api.py:448-473``
        (``/vector-count``). One hash agg over the documents table; at
        scale the per-bucket partial counts combine map-side."""
        return self.documents().groupBy("site").agg(
            F.count(F.lit(1)).alias("vector_count"))

    def queue_history(self, n: int = 50) -> DataFrame:
        """Newest ``n`` queue operations, reconstructed from committed state
        — reference ``master.py:14-31`` (queue_history.jsonl log) +
        ``api.py:842-865`` (tail endpoint). Operations: ``send`` (row
        enqueued — frontier ``queued_at``), ``ack`` (processed clean) /
        ``nack`` (processing failed) from the per-epoch metrics parts.
        Newest-first with deterministic tiebreaks; planned as
        TakeOrderedAndProject over the appended parts — no full sort."""
        hist = self.frontier().select(
            F.col("file_url").alias("url"), "job_type",
            F.lit("send").alias("operation"),
            F.col("queued_at").alias("ts"), "epoch")
        if self.store.has_appended("metrics"):
            m = self.store.read_appended(self.spark, "metrics")
            hist = hist.unionByName(m.select(
                "url", F.lit("process_file").alias("job_type"),
                F.when(F.col("error").isNull(), F.lit("ack"))
                .otherwise(F.lit("nack")).alias("operation"),
                "ts", "epoch"))
        return hist.orderBy(
            F.desc("ts"), F.desc("epoch"), F.asc("url"), F.asc("operation")
        ).limit(n)

    # ------------------------------------------------------------------
    # manual file management + site teardown (reference api.py:315-446)
    # ------------------------------------------------------------------

    def add_manual_files(self, files: DataFrame, epoch: int) -> None:
        """Add files outside the sitemap diff (reference api.py:385-415,
        db.py:376-390 ``add_manual_schema_file``, ``add_test_files.py:15-63``).

        ``files``: (site_url, user_id, file_url, schema_map). Existing
        frontier rows are reactivated with ``is_manual=1`` and re-queued;
        unknown files become new pending manual rows. Manual rows are exempt
        from discovery-diff removal (see ``diff_discovery``).
        """
        keyed = files.select("site_url", "user_id", "file_url", "schema_map")
        frontier_df = self.frontier()
        upd = keyed.select(
            "file_url", "user_id", F.col("schema_map").alias("_new_map")
        ).withColumn("_m", F.lit(True))
        hit = F.col("_m") & (F.col("job_type") == "process_file")
        reactivated = (
            frontier_df.join(upd, ["file_url", "user_id"], "left")
            .withColumn("is_active", F.when(hit, F.lit(True)).otherwise(F.col("is_active")))
            .withColumn("is_manual", F.when(hit, F.lit(True)).otherwise(F.col("is_manual")))
            .withColumn("status", F.when(hit, F.lit("pending")).otherwise(F.col("status")))
            .withColumn("retries", F.when(hit, F.lit(0)).otherwise(F.col("retries")))
            .withColumn("schema_map", F.when(hit, F.col("_new_map")).otherwise(F.col("schema_map")))
            .drop("_m", "_new_map")
        )
        fresh = keyed.join(
            frontier_df.filter(F.col("job_type") == "process_file"),
            ["file_url", "user_id"], "left_anti")
        new_rows = fr.as_frontier_rows(
            fresh, epoch, self.cfg.num_partitions, is_manual=True)
        updated = reactivated.unionByName(new_rows)
        touched = [int(r[0]) for r in keyed.select(
            host_hash_expr(host_from_url_expr(F.col("file_url")),
                           self.cfg.num_partitions)).distinct().collect()]
        v = self._write_frontier(updated, touched)
        self.store.commit(epoch, {"frontier": v},
                          lineage_row={"stage": "manual_add"})

    def remove_manual_files(self, keys: DataFrame, epoch: int) -> None:
        """Soft-delete files and enqueue their removal jobs (reference
        api.py:352-383 ``_delete_schema_map_internal`` + db.py:392-398): the
        next epoch's ``process_removed_file`` pass wipes ids and vector docs,
        preserving the reference's ordering (ids → vector DB → files)."""
        frontier_df = self.frontier()
        live = (
            frontier_df.filter(F.col("is_active") & (F.col("job_type") == "process_file"))
            .join(keys.select("file_url", "user_id"), ["file_url", "user_id"], "left_semi")
        )
        removal_jobs = fr.as_frontier_rows(
            live.select("file_url", "user_id", "site_url", "schema_map"),
            epoch, self.cfg.num_partitions, job_type="process_removed_file")
        updated = fr.transition(
            frontier_df,
            deactivated=live.select(
                "file_url", "user_id", F.lit("process_file").alias("job_type")),
        ).unionByName(removal_jobs)
        live.cache()
        touched = [int(r[0]) for r in live.select("host_hash").distinct().collect()]
        v = self._write_frontier(updated, touched)
        live.unpersist()
        self.store.commit(epoch, {"frontier": v},
                          lineage_row={"stage": "manual_remove"})

    def delete_site(self, site_url: str, user_id: str, epoch: int) -> None:
        """Hard-delete a site: its frontier rows, seen ids, exclusively-owned
        vector docs, and its seed (reference api.py:315-351 +
        db.py:350-375 ``remove_site`` — ids first, then files, then the site;
        vector docs of ids whose last reference lived here are deleted, the
        J8 semi-delete done site-wide)."""
        site_pred = (F.col("site_url") == site_url) & (F.col("user_id") == user_id)
        victim_rows = self.frontier().filter(site_pred).cache()
        site_files = victim_rows.select("file_url", "user_id").distinct()
        touched = [int(r[0]) for r in victim_rows.select("host_hash").distinct().collect()]

        # O(touched): the site's seen rows live exactly in its files' host
        # buckets — never scan the global seen set for a site delete
        seen_touched = self.store.read_buckets(self.spark, "url_seen", only=touched)
        doomed = seen_touched.join(site_files, ["file_url", "user_id"], "left_semi").cache()
        seen_after = seen_touched.join(site_files, ["file_url", "user_id"], "left_anti")

        # orphans (last reference lived here → count reaches 0) come from
        # the maintained refcounts view: read only the doomed ids' buckets
        # and subtract the doomed counts — O(touched ids), the same merge
        # the epoch gates use, instead of an O(corpus) distinct anti-join
        # over the full seen set.
        rc_delta = doomed.groupBy("id", "user_id").agg(
            (-F.count(F.lit(1))).alias("delta"))
        rc_buckets = [int(r[0]) for r in doomed.select(
            doc_bucket_expr(F.col("id"), self.cfg.num_partitions)).distinct().collect()]
        merged = self._refcounts(rc_buckets).join(
            rc_delta, ["id", "user_id"], "left").select(
            "id", "user_id",
            (F.col("ref_count") + F.coalesce(F.col("delta"), F.lit(0)))
            .alias("ref_count"))
        orphans = merged.filter(F.col("ref_count") <= 0).select("id", "user_id").cache()
        rc_content = merged.filter(F.col("ref_count") > 0).select(
            doc_bucket_expr(F.col("id"), self.cfg.num_partitions).alias("rbucket"),
            "id", "user_id", "ref_count")
        orphan_keys = orphans.select(doc_key_expr(F.col("id")).alias("id"))
        touched_docs = [int(r[0]) for r in orphans.select(
            doc_bucket_expr(F.col("id"), self.cfg.num_partitions)).distinct().collect()]

        frontier_keep = self._frontier_for_hosts(touched).filter(~site_pred)
        seeds_after = self.store.read(self.spark, "seeds").filter(~site_pred)

        versions = {
            "url_seen": self.store.replace_buckets(seen_after, "url_seen", touched),
            "frontier": self._write_frontier(frontier_keep, touched),
            "seeds": self.store.write(seeds_after, "seeds"),
        }
        # Bloom blobs keep the doomed ids' bits: stale bits cost only false
        # positives, which the exact anti-join absorbs (operators/seen.py)
        if self.store.exists("documents"):
            docs_after = self.store.read_buckets(
                self.spark, "documents", only=touched_docs
            ).join(orphan_keys, "id", "left_anti")
            versions["documents"] = self.store.replace_buckets(
                docs_after, "documents", touched_docs, bucket_col="bucket")
        if rc_buckets:
            versions["refcounts"] = self.store.replace_buckets(
                rc_content, "refcounts", rc_buckets, "rbucket")
        for df in (victim_rows, doomed, orphans):
            df.unpersist()
        self.store.commit(epoch, versions,
                          lineage_row={"stage": "delete_site", "site_url": site_url})

    # ------------------------------------------------------------------
    # one epoch of the hot path (lifecycle 3.2)
    # ------------------------------------------------------------------

    def run_epoch(self, epoch: int) -> EpochReport:
        import time as _time

        t0 = _time.time()
        rep = EpochReport(epoch=epoch)
        cfg = self.cfg

        # O(1) termination probe: an all-settled frontier has no data files
        # in its pending-family buckets (they hold empty version dirs), which
        # the manifest + a dirlist can see without any Spark job — the
        # fixed-point epoch costs zero actions instead of a selection plan,
        # a scratch write and a collect.
        if not self.store.has_live_buckets(
                "frontier", list(range(cfg.num_partitions))):
            rep.wall_s = _time.time() - t0
            return rep

        # O(pending) selection input: reads only the pending-family buckets
        # (see _frontier_fbucket) — done/error rows, the corpus mass at
        # steady state, are pruned by path, not by filter
        pending = self.pending_frontier()

        robots = (
            self.store.read(self.spark, "robots").select("host", "crawl_delay")
            if self.store.exists("robots") else None
        )
        # politeness selection: budget applies to the *site host*; file hosts
        # equal site hosts in this corpus but we key on the row's host column.
        selected, _deferred = politeness.select_within_budget(
            pending, robots, cfg.per_host_budget, cfg.salt_buckets, cfg.epoch_window_s
        )
        selected = politeness.salted_repartition(selected, cfg.num_partitions, cfg.salt_buckets)
        # pin the selection to scratch (not cache): several downstream plans
        # reference it, and a flat parquet read keeps their analyzed trees
        # shallow — see the added/removed pinning note below
        selected = self.store.materialize(self.spark, selected, "selected_epoch")
        # ONE job yields both the termination count and the epoch's touched
        # host buckets (every frontier/url_seen mutation this epoch lives in
        # a selected row's bucket — the bucket-replace write set)
        host_counts = selected.groupBy("host_hash").count().collect()
        rep.selected = sum(r["count"] for r in host_counts)
        touched = sorted(int(r["host_hash"]) for r in host_counts)
        if rep.selected == 0:
            rep.wall_s = _time.time() - t0
            return rep

        fetch_jobs = selected.filter(F.col("job_type") == "process_file")
        removal_jobs = selected.filter(F.col("job_type") == "process_removed_file")

        # --- fetch (S1) + extract (C4/C6): ONE streaming pass over page
        # bodies — fetch stage → Arrow extract kernel (metadata passed
        # through in the same batch) → scratch parquet. The html bytes are
        # consumed exactly once and NEVER cached: at 100× page sizes a
        # pinned body cache evicts or spills mid-epoch, so only the
        # extracted text (the scratch) is pinned, and every downstream sink
        # derives from it. Fetch failures flow through the same pass as
        # marker rows carrying real status_code/fetch_error, so no second
        # pass or anti-join reconstructs them.
        jobs_cols = fetch_jobs.select("file_url", "user_id", "site_url", "queued_at")
        if self._fetcher is not None:
            # thread robots Crawl-delay to the HTTP kernel so it can space
            # same-host requests WITHIN the epoch (the budget only caps the
            # count per window; sources/http_fetch.py does the pacing)
            if robots is not None:
                jobs_cols = (
                    fetch_jobs.join(F.broadcast(robots), "host", "left")
                    .select("file_url", "user_id", "site_url", "queued_at",
                            F.col("crawl_delay").cast("double")
                            .alias("crawl_delay_s")))
            fetched = self._fetcher(jobs_cols)  # FETCHED_SCHEMA, real HTTP
        else:
            # deterministic pages-join stand-in: missing url ⇒ a 404.
            # Shaped so page BODIES never shuffle: a plain left join from
            # jobs would sort/exchange the html mass (the outer side of a
            # left join cannot be broadcast), so instead the small job list
            # broadcasts into an inner join that leaves the bodies scan in
            # place, and the 404 markers come from an anti-join that moves
            # only url strings. The epoch's selection is politeness-bounded
            # (a working set, not the corpus), which is what makes the
            # broadcast legitimate; the production path is the mapInPandas
            # HTTP kernel, which joins nothing at all.
            html_t = dict(self._page_bodies.dtypes)["html"]
            ok = (
                self._page_bodies.withColumnRenamed("url", "file_url")
                .join(F.broadcast(jobs_cols), "file_url")
                .withColumn("status_code", F.lit(200))
                .withColumn("fetch_error", F.lit(None).cast("string"))
            )
            missing = (
                jobs_cols.join(
                    self._page_bodies.select(F.col("url").alias("file_url")),
                    "file_url", "left_anti")
                .withColumn("html", F.lit(None).cast(html_t))
                .withColumn("status_code", F.lit(404))
                .withColumn(
                    "fetch_error",
                    F.concat(F.lit("HTTP 404: "), F.col("file_url"),
                             F.lit(" not available in source")))
            )
            fetched = ok.unionByName(missing)
        extracted_raw = (
            fetched.select("file_url", F.col("html").alias("body"),
                           "user_id", "site_url", "queued_at",
                           "status_code", "fetch_error")
            .mapInPandas(explode_jsonld_with_meta, schema=EXTRACTED_META_SCHEMA)
            .withColumn("partition_id", F.spark_partition_id())
        )
        # U1 (within-file id dedup) lives inside the extract kernel
        # (first-occurrence wins, reference worker.py:216-218 parity) —
        # frontier rows are unique per (file_url, user_id), so no epoch-wide
        # dropDuplicates shuffle over the extracted mass is needed
        scratch = self.store.materialize(
            self.spark, extracted_raw, "extracted_epoch",
        )
        extracted = scratch.filter(F.col("id").isNotNull())
        if cfg.collect_stats:
            rep.ids_extracted = extracted.count()

        # fetch accounting for metrics (A6): bytes + ids + status per url
        # (null-id marker rows keep zero-object AND failed files in the
        # accounting — exactly one per_file row per selected fetch job)
        per_file = scratch.groupBy("file_url", "user_id").agg(
            F.max("num_ids").alias("num_ids"),
            F.first("partition_id").alias("partition_id"),
            F.max("content_length").alias("content_length"),
            F.max("error").alias("extract_error"),
            F.max("status_code").alias("status_code"),
            F.max("fetch_error").alias("fetch_error"),
        )
        ok_files = per_file.filter(F.col("fetch_error").isNull())
        failed = per_file.filter(F.col("fetch_error").isNotNull())
        ok_keys = ok_files.select("file_url", "user_id")

        # --- seen-set maintenance (J3/J4 + A1), incl. removed-file wipes ---
        # per-file diffs live entirely in the touched host buckets: read ONLY
        # those (explicit path pruning — O(touched), not O(seen-set))
        ext_ids = extracted.select(
            "file_url", "user_id", "id", "queued_at",
            host_hash_expr(host_from_url_expr(F.col("file_url")), cfg.num_partitions)
            .alias("host_hash"),
        )
        # never-crawled hosts (no data files in the touched seen buckets —
        # a manifest+dirlist check, no job): every extracted id is new and
        # nothing can be removed, so the bloom read, the semi/anti joins and
        # the removed-diff materialize are skipped outright. This is every
        # first-contact epoch — the bench's whole crawl and, at 10^10 URLs,
        # every frontier-expansion epoch's fresh-host partition.
        seen_live = self.store.has_live_buckets("url_seen", only=touched)
        from concurrent.futures import ThreadPoolExecutor

        if seen_live:
            seen_touched = self.store.read_buckets(self.spark, "url_seen", only=touched)
            processed_keys = (
                ok_keys.unionByName(removal_jobs.select("file_url", "user_id"))
            )
            existing = seen_touched.join(
                processed_keys, ["file_url", "user_id"], "left_semi")
            # the touched buckets' persisted Bloom blobs (live url_seen rows
            # imply the blooms table: both are written in the same commit)
            persisted_blooms = self.store.read_buckets(
                self.spark, "blooms", only=touched)
            added_df = seen.anti_join_new_ids(
                ext_ids, existing, blooms=persisted_blooms)
            removed_df = existing.select(
                "file_url", "user_id", "id", "host_hash").join(
                ext_ids, ["file_url", "user_id", "id"], "left_anti"
            )
            # pin the (small) diffs to scratch: SIX downstream sinks reference
            # them, and a cache() would leave each sink's logical plan carrying
            # the full bloom+anti-join lineage — the driver re-analyzes and
            # re-optimizes that deep tree per action (cache shortcuts execution,
            # not planning). Flat parquet reads keep every sink's plan shallow:
            # fixed driver cost per epoch stays O(1) in pipeline depth.
            with ThreadPoolExecutor(max_workers=2) as pre:
                f_add = pre.submit(self.store.materialize, self.spark, added_df, "added_epoch")
                f_rem = pre.submit(self.store.materialize, self.spark, removed_df, "removed_epoch")
                added, removed = f_add.result(), f_rem.result()
            rows_added = self.store.scratch_rows("added_epoch")
            rows_removed = self.store.scratch_rows("removed_epoch")
        else:
            seen_touched = self.spark.createDataFrame([], URL_SEEN)
            persisted_blooms = self.spark.createDataFrame([], seen.BLOOM_SCHEMA)
            added = self.store.materialize(self.spark, ext_ids, "added_epoch")
            removed = seen_touched.select("file_url", "user_id", "id", "host_hash")
            rows_added = self.store.scratch_rows("added_epoch")
            rows_removed = 0
        if cfg.collect_stats:
            rep.ids_added = rows_added   # parquet footer counts — no jobs
            rep.ids_removed = rows_removed

        # new content of the touched url_seen buckets (other buckets: zero I/O)
        added_seen_cols = added.select("file_url", "user_id", "id", "host_hash")
        seen_content = (
            seen_touched.join(removed, ["file_url", "user_id", "id"], "left_anti")
            .unionByName(added_seen_cols)
            if seen_live else added_seen_cols
        )

        # --- ref-count gates (A1) BEFORE the expensive embed stage ---
        # id-reference semantics are global, but scanning the whole seen set
        # per epoch is O(corpus). Instead the store maintains `refcounts` —
        # an incremental materialization of url_seen GROUP BY (id, user_id),
        # bucketed like documents — and the gates merge this epoch's deltas
        # against ONLY the touched buckets' counts: first-add = old count 0,
        # last-remove = new count 0 (reference db.py:278-282 / worker.py:
        # 216-218, 262-266 as view maintenance).
        rc_delta = (
            added.select("id", "user_id", F.lit(1).alias("d"))
            .unionByName(removed.select("id", "user_id", F.lit(-1).alias("d")))
            .groupBy("id", "user_id").agg(F.sum("d").alias("delta"))
        )

        def gates_for(touched_ids: list[int]):
            """(firsts, orphans, rc_content) from the touched id buckets only."""
            rc_old = self._refcounts(touched_ids)
            merged = rc_old.join(rc_delta, ["id", "user_id"], "full_outer").select(
                "id", "user_id",
                (F.coalesce(F.col("ref_count"), F.lit(0))
                 + F.coalesce(F.col("delta"), F.lit(0))).alias("ref_count"),
            )
            firsts = seen.first_occurrences(
                added, rc_old.filter(F.col("ref_count") > 0).select("id", "user_id"))
            orphans = merged.filter(F.col("ref_count") <= 0).select("id", "user_id")
            rc_content = merged.filter(F.col("ref_count") > 0).select(
                doc_bucket_expr(F.col("id"), cfg.num_partitions).alias("rbucket"),
                "id", "user_id", "ref_count")
            return firsts, orphans, rc_content

        def docs_for(firsts: DataFrame, orphan_keys: DataFrame,
                     touched_docs: list[int]) -> DataFrame:
            new_docs = (
                firsts.join(
                    extracted.select("file_url", "user_id", "id", "obj_json",
                                     "types", "type_list", "essential_text",
                                     "site_url"),
                    ["file_url", "user_id", "id"],
                )
                # F3: BreadcrumbList objects are never indexed. Exact
                # element match on the @type list (worker.py:221-226) — a
                # substring test on the display string would wrongly skip
                # e.g. `BreadcrumbListItem`.
                .filter(~F.array_contains("type_list", "BreadcrumbList"))
                .withColumn("bucket",
                            doc_bucket_expr(F.col("id"), cfg.num_partitions))
                # bucket-align the ~1 KB pre-embed rows BEFORE the embed
                # projection, salted so a hot host's bucket spreads over
                # several tasks: the explicit repartition sets the embed
                # stage's parallelism (AQE would under-coalesce ahead of
                # the 6 KB/row expansion) and the 6 KB embedded rows are
                # never shuffled again — the task-side writer below
                # (replace_buckets_task_write) writes each task's slices
                # where they are (files per bucket ≤ salt width)
                .repartition(cfg.num_partitions * 2, F.col("bucket"),
                             F.pmod(F.hash("id"), F.lit(8)))
                .select(
                    "bucket",
                    doc_key_expr(F.col("id")).alias("id"),
                    F.col("id").alias("url"),
                    F.col("site_url").alias("site"),
                    F.col("types").alias("type"),
                    F.col("obj_json").alias("content"),
                    F.col("essential_text"),
                    F.lit(fr.epoch_ts(epoch)).alias("timestamp"),
                    # filled inside the task-side writer kernel
                    # (fill_missing_embeddings_transform): the packed
                    # vectors are born next to the parquet writer and
                    # never cross the Python→JVM socket
                    F.lit(None).cast("binary").alias("embedding"),
                )
            )
            # only the touched doc buckets are read back and rewritten —
            # untouched embedding bytes (the table's mass) are never moved
            docs_touched_old = (
                self.store.read_buckets(self.spark, "documents", only=touched_docs)
                if self.store.exists("documents") else self.documents()
            )
            return (
                docs_touched_old.join(orphan_keys, "id", "left_anti")
                .unionByName(new_docs)
            )
        # --- frontier transitions + metrics ---
        # per_file covers every selected fetch job (zero-object and failed
        # files included via the extract kernel's marker rows), so `done`
        # and `failed` read straight off the materialized scratch — no
        # second pass over the fetch stage. Only the touched hosts' buckets
        # (both status families) are read and rewritten: O(touched), not
        # O(frontier).
        done = (
            ok_files.select(
                "file_url", "user_id",
                F.col("num_ids").cast("int").alias("number_of_items"))
            .withColumn("job_type", F.lit("process_file"))
        )
        frontier_after = fr.transition(
            self._frontier_for_hosts(touched),
            done=done,
            failed=failed.select("file_url", "user_id")
            .withColumn("job_type", F.lit("process_file")),
            deactivated=removal_jobs.select(
                "file_url", "user_id", F.lit("process_removed_file").alias("job_type")),
            epoch=epoch,
        )

        # real transport status/error per url (the join stand-in synthesizes
        # 200/404; the HTTP kernel reports DNS/timeout/5xx faithfully)
        metrics = per_file.select(
            F.lit(epoch).alias("epoch"),
            F.col("partition_id"),
            F.col("file_url").alias("url"),
            F.col("status_code"),
            F.when(F.col("fetch_error").isNull(), F.col("content_length"))
            .alias("content_length"),
            F.col("num_ids").cast("int").alias("num_ids_extracted"),
            F.coalesce(F.col("fetch_error"), F.col("extract_error")).alias("error"),
            F.lit(fr.epoch_ts(epoch)).cast("timestamp").alias("ts"),
        )

        # --- processing_errors analogue (db.py:126-168): real messages,
        # cleared for files that processed cleanly this epoch ---
        ts_lit = F.lit(fr.epoch_ts(epoch)).cast("timestamp")
        new_errors = (
            failed.select(
                "file_url", "user_id",
                F.lit("fetch_error").alias("error_type"),
                F.col("fetch_error").alias("error_message"),
                F.lit(None).cast("string").alias("error_details"),
                ts_lit.alias("occurred_at"),
                F.lit(epoch).alias("epoch"),
            )
            .unionByName(
                per_file.filter(F.col("extract_error").isNotNull()).select(
                    "file_url", "user_id",
                    F.lit("extract_error").alias("error_type"),
                    F.col("extract_error").alias("error_message"),
                    F.lit(None).cast("string").alias("error_details"),
                    ts_lit.alias("occurred_at"),
                    F.lit(epoch).alias("epoch"),
                )
            )
        )
        succeeded = ok_files.filter(F.col("extract_error").isNull()).select(
            "file_url", "user_id")
        from crawler_spark.schema import PROCESSING_ERRORS

        prev_errors = (
            self.store.read(self.spark, "errors")
            if self.store.exists("errors")
            else self.spark.createDataFrame([], PROCESSING_ERRORS)
        )
        errors_after = prev_errors.join(
            succeeded, ["file_url", "user_id"], "left_anti"
        ).unionByName(new_errors)

        # --- commit ---
        # ALL sinks run concurrently from driver threads — independent DAGs
        # over the pinned scratch + diff caches, so the short frontier/
        # metrics jobs never wait behind the long documents job and the
        # epoch's serial driver path is just (select-count → extract-pin →
        # sinks). Every bucket-replace write moves only this epoch's touched
        # buckets.
        from concurrent.futures import ThreadPoolExecutor

        # emptiness probe on the pinned diffs — already known from the
        # scratch parquet footers (zero Spark jobs): an epoch that re-crawled
        # only unchanged content skips every id-derived sink — url_seen,
        # blooms, refcounts and documents keep their current versions and
        # zero bytes move. Only the frontier transition, metrics and errors
        # sinks always run.
        diffs_empty = rows_added == 0 and rows_removed == 0

        def write_errors():
            # errors table is tiny (only failing files) — O(#errors) rewrite;
            # a clean epoch with no table yet skips the sink entirely. The
            # "any errors this epoch?" probe reads the extract scratch's
            # parquet null-count statistics driver-side (both error columns
            # all-null ⇔ new_errors is empty) — no Spark job; columns missing
            # statistics degrade to "maybe errors" and the write runs.
            if not self.store.exists("errors"):
                rows = self.store.scratch_rows("extracted_epoch")
                nulls = self.store.scratch_null_counts(
                    "extracted_epoch", ["fetch_error", "error"])
                if nulls["fetch_error"] == rows and nulls["error"] == rows:
                    return None
            return self.store.write(errors_after, "errors")

        versions = {}
        touched_docs: list[int] = []
        firsts = orphan_keys = None
        # the url_seen/bloom write set is the hosts whose id sets CHANGED —
        # a selected host whose re-crawl found identical content keeps its
        # current bucket versions (zero bytes move). Diff hosts come from the
        # pinned diff scratch driver-side (pyarrow column read, no job).
        diff_hosts: list[int] = []
        if not diffs_empty:
            dh = self.store.scratch_column_values("added_epoch", "host_hash")
            if rows_removed:
                dh |= self.store.scratch_column_values("removed_epoch", "host_hash")
            diff_hosts = sorted(int(h) for h in dh)
        with ThreadPoolExecutor(max_workers=6) as pool:
            futures = {}
            if not diffs_empty:
                futures["url_seen"] = pool.submit(
                    self.store.replace_buckets, seen_content, "url_seen", diff_hosts)
                # incremental Bloom maintenance: OR this epoch's added ids
                # into the diff buckets' blobs — O(added), never a rebuild.
                # url_seen, blooms and refcounts are written for the same
                # diff buckets in the same commit, so a bucket with url_seen
                # rows has a blob from its very first epoch. (A blob-less
                # bucket is still handled at probe time: no blob ⇒
                # maybe_seen, exact anti-join, see operators/seen.py.)
                futures["blooms"] = pool.submit(
                    self.store.replace_buckets,
                    seen.updated_blooms(persisted_blooms, added_seen_cols),
                    "blooms", diff_hosts)
            futures["frontier"] = pool.submit(self._write_frontier, frontier_after, touched)
            # per-epoch lineage is append-only: O(1) write, unioned at read time
            f_metrics = pool.submit(self.store.append, metrics, "metrics", f"{epoch:06d}")
            f_errors = pool.submit(write_errors)
            if not diffs_empty:
                # the touched-id-bucket collect overlaps the sinks above;
                # firsts ⊆ added and orphans ⊆ removed make the added∪removed
                # id buckets an exact cover for both documents and refcounts
                # (a trivial scan now — the diffs are pinned scratch parquet)
                doc_touch = (
                    added.select(F.col("id").alias("k"))
                    .unionByName(removed.select(F.col("id").alias("k")))
                    .select(doc_bucket_expr(F.col("k"), cfg.num_partitions).alias("b"))
                    .distinct().collect()
                )
                touched_docs = sorted(int(r["b"]) for r in doc_touch)
                firsts, orphans, rc_content = gates_for(touched_docs)
                orphan_keys = orphans.select(doc_key_expr(F.col("id")).alias("id"))
                futures["refcounts"] = pool.submit(
                    self.store.replace_buckets, rc_content, "refcounts",
                    touched_docs, "rbucket")
                # task-side pyarrow write + in-kernel embed fill:
                # uncompressed (the packed float32 mass shrinks ~0 under
                # any codec) and never re-encoded by the JVM writer —
                # the leg that dominates epoch wall and must scale N→4N
                futures["documents"] = pool.submit(
                    self.store.replace_buckets_task_write,
                    docs_for(firsts, orphan_keys, touched_docs),
                    "documents", touched_docs, "bucket",
                    fill_missing_embeddings_transform(), "none")
            for name, fut in futures.items():
                versions[name] = fut.result()
            ev = f_errors.result()
            if ev is not None:
                versions["errors"] = ev
            f_metrics.result()

        if cfg.collect_stats:
            rep.fetched_ok = done.count()
            rep.fetch_failed = failed.count()
            # docs delta derived from the gates already in hand (scratch +
            # touched-bucket reads) — no full-table counts, no extra commit
            if firsts is not None:
                new_docs_n = (
                    firsts.join(
                        extracted.select("file_url", "user_id", "id", "type_list"),
                        ["file_url", "user_id", "id"])
                    .filter(~F.array_contains("type_list", "BreadcrumbList"))
                    .count())
                deleted_n = (
                    self.store.read_buckets(self.spark, "documents", only=touched_docs)
                    .join(orphan_keys, "id", "left_semi").count()
                    if self.store.exists("documents") else 0)
                rep.docs_added = new_docs_n - deleted_n
                rep.docs_deleted = deleted_n
        self.store.commit(epoch, versions, lineage_row={
            "stage": "epoch", "selected": rep.selected, "fetched_ok": rep.fetched_ok,
            "ids_added": rep.ids_added, "ids_removed": rep.ids_removed,
        })

        rep.wall_s = _time.time() - t0
        return rep

    # ------------------------------------------------------------------
    # full loop with resume (T1/T5 + checkpointing)
    # ------------------------------------------------------------------

    def run(self, discover_each_epoch: bool = False) -> list[EpochReport]:
        """Drive epochs to fixed point, resuming from the manifest's epoch."""
        reports: list[EpochReport] = []
        start = self.store.read_manifest()["epoch"] + 1
        for epoch in range(start, start + self.cfg.max_epochs):
            if epoch == start or discover_each_epoch:
                self.discover(epoch)
            rep = self.run_epoch(epoch)
            reports.append(rep)
            if rep.selected == 0:
                break
        return reports
