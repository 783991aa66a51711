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
3. **fetches** the selected files through the engine's one fetch stage
   (S1, ``sources/http_fetch.py``), the same one discovery reads robots.txt
   and sitemaps with: the ``mapInPandas`` HTTP kernel, or the ``pages``
   table stand-in, whose job list broadcasts into an inner join so page
   BODIES never shuffle, with 404 markers from a url-only anti-join;
4. **extracts** JSON-LD objects (Arrow-batched ``mapInPandas``, within-file
   id dedup inside the kernel — U1), diffs ids against the URL-seen set
   (the touched buckets' persisted Bloom blobs pre-filter, the exact
   anti-join decides), ref-counts first-occurrences /
   orphans set-wise (A1 as one groupBy per epoch);
5. **indexes** first-occurrence objects task-side: the embed kernel fills
   essential-fields text → embedding and writes the ``documents`` parquet
   buckets inside the same task (``replace_buckets_task_write``), so the
   wide embedding column never crosses Python→JVM. Each touched bucket gets
   a delta holding its new docs plus the keys of its orphaned docs, merged
   on read; an epoch reads and moves no old document row unless a bucket's
   chain is due for compaction;
6. **commits** frontier/url_seen/documents/metrics snapshots atomically via
   the store manifest — crash anywhere ⇒ re-run epoch from last commit.

Every join/agg is keyed by (user_id-scoped) url columns with the frontier
partitioned on ``host_hash``; the only custom physical tactics are the salt
and the Bloom (SURVEY.md §4).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

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
from crawler_spark.schema import DOCUMENTS, FRONTIER, REFCOUNTS, ROBOTS, URL_SEEN
from crawler_spark.sources.http_fetch import pages_fetcher
from crawler_spark.sources.tables import SnapshotStore, empty_frame


@dataclass
class CrawlConfig:
    num_partitions: int = 32
    per_host_budget: int = 64
    salt_buckets: int = 16
    epoch_window_s: float = 60.0
    max_epochs: int = 50


@dataclass
class EpochReport:
    """Per-epoch counters, every one read off a job or parquet footer the
    epoch already runs — zero extra Spark jobs. A counter whose footer
    lacks the null-count statistic it needs reports -1 (unknown)."""
    epoch: int
    selected: int = 0
    fetched_ok: int = 0
    fetch_failed: int = 0
    ids_extracted: int = 0
    ids_added: int = 0
    ids_removed: int = 0
    wall_s: float = 0.0


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
        """``fetcher``: the fetch stage every page read goes through —
        robots.txt, sitemaps and the selected files. A callable from job
        rows ``(file_url, user_id, site_url, queued_at[, crawl_delay_s])``
        to :data:`crawler_spark.sources.http_fetch.FETCHED_SCHEMA` rows, one
        per job (e.g. ``functools.partial(fetch_pages, transport_factory=
        ...)``). ``None`` fetches from ``pages`` with the deterministic
        :func:`~crawler_spark.sources.http_fetch.pages_fetcher`."""
        self.spark = spark
        self.store = store
        self.cfg = config or CrawlConfig()
        self._fetch = fetcher or pages_fetcher(pages)
        # A store's layout is pinned in its meta at bootstrap: the bucket
        # modulus every bucketed table is split by, and the pre-filter kind
        # whose blobs cover every url_seen bucket that holds rows. Opening a
        # store whose record is missing or different would misroute bucket
        # reads/writes (data loss) or probe blobs that miss seen ids
        # (duplicate re-adds): refuse it. So is a store whose bucketed
        # tables predate per-bucket version chains (``bucket_layout``):
        # their manifest entries have no chains to read; and one whose
        # tables predate pinned schemas (``schemas``): reads never infer.
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
                "seen_filter_kind": "blooms",
                "bucket_layout": "chains",
                "schemas": "pinned"}

    # ------------------------------------------------------------------
    # bootstrap / state access
    # ------------------------------------------------------------------

    def bootstrap(self, seeds: DataFrame) -> None:
        """Initialize state tables; idempotent (no-op if already committed)."""
        if self.store.exists("frontier"):
            return
        versions = {
            "seeds": self.store.write(seeds, "seeds"),
            # frontier/url_seen are bucket-versioned on host_hash: epochs
            # replace only the buckets they touch (see SnapshotStore). The
            # empty writes pin their schemas.
            "frontier": self.store.replace_buckets(
                empty_frame(self.spark, FRONTIER), "frontier", touched=[]),
            "url_seen": self.store.replace_buckets(
                empty_frame(self.spark, URL_SEEN), "url_seen", touched=[]),
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
    # recomputes the family and touches both families of each host). The
    # family bucket only routes rows: it is not stored, so frontier reads
    # return exactly the pinned ``FRONTIER`` columns.

    def _frontier_bucket(self):
        settled = (~F.col("is_active")) | (F.col("status") != F.lit("pending"))
        return (F.col("host_hash")
                + F.when(settled, F.lit(self.cfg.num_partitions)).otherwise(F.lit(0))
                ).cast("int")

    def _frontier_touched(self, hosts) -> list[int]:
        hs = {int(h) for h in hosts}
        return sorted(hs | {h + self.cfg.num_partitions for h in hs})

    def _write_frontier(self, updated: DataFrame, hosts) -> dict:
        """Replace both status families of the ``hosts`` buckets.
        ``updated`` must hold those hosts' complete new rows."""
        return self.store.replace_buckets(
            updated, "frontier", self._frontier_touched(hosts),
            self._frontier_bucket())

    def frontier(self) -> DataFrame:
        return self.store.read(self.spark, "frontier")

    def pending_frontier(self) -> DataFrame:
        """The pending-family view — reads only buckets [0, P), which hold
        exactly the active pending rows (see ``_frontier_bucket``)."""
        return self.store.read_buckets(
            self.spark, "frontier", only=list(range(self.cfg.num_partitions)))

    def _frontier_for_hosts(self, hosts) -> DataFrame:
        """Both families of the ``hosts`` buckets — the exact row set a
        bucket-replacing write must re-emit. O(touched), not O(frontier)."""
        return self.store.read_buckets(
            self.spark, "frontier", only=self._frontier_touched(hosts))

    def _pin_change(self, change: DataFrame, name: str) -> tuple[DataFrame, list[int]]:
        """Pin a frontier change (rows with a ``host_hash``) to scratch and
        read the host buckets it touches off the pinned file: every frontier
        writer learns its write set this way, at no Spark job beyond the
        pin's own write."""
        pinned = self.store.materialize(self.spark, change, name)
        hosts = self.store.scratch_column_values(name, "host_hash")
        return pinned, sorted(int(h) for h in hosts)

    def url_seen(self) -> DataFrame:
        return self.store.read(self.spark, "url_seen")

    def documents(self) -> DataFrame:
        if not self.store.exists("documents"):
            return empty_frame(self.spark, DOCUMENTS)
        return self.store.read(self.spark, "documents")

    def _robots(self) -> DataFrame:
        """The per-host robots table; empty before the first discover."""
        if not self.store.exists("robots"):
            return empty_frame(self.spark, ROBOTS)
        return self.store.read(self.spark, "robots")

    def _write_documents(self, new_docs: DataFrame, orphans: DataFrame,
                         touched_docs: list[int]) -> dict:
        """The one documents write, shared by the epoch and ``delete_site``:
        add ``new_docs`` (``DOCUMENTS`` rows; the writer fills null
        embeddings) and delete the docs of the ``orphans``' ids in the
        ``touched_docs`` buckets — a delta per bucket, or a compacted base
        (``replace_buckets_task_write``)."""
        deletes = orphans.select(
            doc_bucket_expr(F.col("id"), self.cfg.num_partitions).alias("bucket"),
            doc_key_expr(F.col("id")).alias("id"))
        return self.store.replace_buckets_task_write(
            new_docs, "documents", touched_docs, "bucket",
            fill_missing_embeddings_transform(), deletes)

    def _refcounts(self, buckets: list[int]) -> DataFrame:
        """(id, user_id, ref_count) rows of the ``buckets`` id buckets. No
        table yet means no seen rows yet: an epoch writes url_seen, blooms
        and refcounts for the same diff buckets in the same commit."""
        if not self.store.exists("refcounts"):
            return empty_frame(self.spark, REFCOUNTS).select(
                "id", "user_id", "ref_count")
        return self.store.read_buckets(
            self.spark, "refcounts", only=buckets
        ).select("id", "user_id", "ref_count")

    # ------------------------------------------------------------------
    # discovery (lifecycle 3.1 / 3.3)
    # ------------------------------------------------------------------

    @staticmethod
    def _is_due(epoch: int):
        """F5, over seeds rows: active AND (last_processed IS NULL OR
        last_processed + interval <= now(epoch))."""
        now = F.lit(fr.epoch_ts(epoch)).cast("timestamp")
        return F.col("is_active") & (
            F.col("last_processed").isNull()
            | (F.col("last_processed") + F.make_interval(hours=F.col("interval_hours")) <= now)
        )

    def discover(self, epoch: int) -> tuple[int, int]:
        """Maintain the frontier from due sites' sitemaps. Returns (added, removed).

        Three scratch pins keep each Python UDF and each page fetch to one
        run: the robots columns, the sitemap candidates, and the diff as one
        tagged frame (0 new job, 1 removal job, 2 deactivated row) whose
        columns give the touched hosts and the counts, and which the
        frontier sink reads."""
        cfg = self.cfg
        seeds_df = self.store.read(self.spark, "seeds")
        due = seeds_df.filter(self._is_due(epoch)).select("site_url", "user_id")
        if due.isEmpty():
            return 0, 0
        now = F.lit(fr.epoch_ts(epoch))

        # Both fetches are coalesced (narrow, no job) to num_partitions: a
        # fetch's output keeps its fetcher's partitioning, which for the
        # pages stand-in is the whole pages scan, so without it the parse
        # UDFs would run a task per pages split and the robots pin would
        # hold a file, thus a task on every read, per split.
        # robots.txt fetch (one job per due site) → schemaMap directives and
        # Crawl-delay (S2)
        robots = self.store.materialize(self.spark, self._fetch(due.select(
            _https(F.concat(F.col("site_url"), F.lit("/robots.txt"))).alias("file_url"),
            "user_id", "site_url", now.alias("queued_at"),
        )).coalesce(cfg.num_partitions).select(
            "site_url", "user_id",
            robots_schema_maps_udf("html", _https(F.col("site_url"))).alias("schema_maps"),
            robots_crawl_delay_udf("html").alias("crawl_delay"),
        ), "discover_robots")

        # fallback chain (S4): no robots directives → <site>/schema_map.xml;
        # U2: unique schema maps per site
        maps = robots.select("site_url", "user_id", F.explode(
            F.when(F.size("schema_maps") > 0, F.col("schema_maps")).otherwise(
                F.array(_https(F.concat(F.col("site_url"), F.lit("/schema_map.xml")))))
        ).alias("file_url"), now.alias("queued_at")).distinct()

        # sitemap fetch (one job per (site, user, schema map)) + parse (S3)
        # → candidate file urls
        candidates = self.store.materialize(self.spark, (
            self._fetch(maps).coalesce(cfg.num_partitions)
            .select("site_url", "user_id", F.col("file_url").alias("schema_map"),
                    F.explode(parse_sitemap_udf("html", _https(F.col("site_url"))))
                    .alias("file_url"))
            .dropDuplicates(["file_url", "user_id"])  # U4
        ), "discover_candidates")

        added, removed = fr.diff_discovery(
            self.frontier(), candidates, robots.select("site_url", "user_id"))
        # new pending jobs, removal jobs for vanished files, and the live
        # rows those removals soft-delete (is_active=0)
        diff, touched = self._pin_change((
            fr.as_frontier_rows(added, epoch, cfg.num_partitions)
            .withColumn("_t", F.lit(0))
            .unionByName(fr.as_frontier_rows(
                removed.select("file_url", "user_id", "site_url", "schema_map"),
                epoch, cfg.num_partitions, job_type="process_removed_file")
                .withColumn("_t", F.lit(1)))
            .unionByName(removed.withColumn("_t", F.lit(2)))
        ), "discover_diff")
        # the (added, removed) counts from the pinned tags, driver-side
        kinds = self.store.scratch_column_values("discover_diff", "_t")
        n_added, n_removed = kinds[0], kinds[1]

        # the touched hosts' rows with the removals soft-deleted, plus both
        # kinds of new job
        updated = fr.transition(
            self._frontier_for_hosts(touched),
            deactivated=diff.filter(F.col("_t") == 2),
        ).unionByName(diff.filter(F.col("_t") < 2).drop("_t"))

        # stamp last_processed on discovered seeds (scheduler.py:21-30
        # analogue): the due rows are the ones the F5 predicate holds for
        stamped = seeds_df.withColumn("last_processed", F.when(
            self._is_due(epoch), now).otherwise(F.col("last_processed")))
        # one robots row per host: the due hosts' fresh rows replace their
        # old ones, and every other host keeps its current row (a site
        # shared by several users is one host, and a partial discover must
        # not drop the hosts it did not visit)
        fresh = robots.select(
            F.col("site_url").alias("host"), "schema_maps", "crawl_delay",
            now.alias("fetched_at"), F.lit(1).alias("_fresh"))
        robots_state = (
            fresh.unionByName(self._robots().withColumn("_fresh", F.lit(0)))
            .groupBy("host")
            .agg(F.max_by(F.struct("schema_maps", "crawl_delay", "fetched_at"),
                          "_fresh").alias("_row"))
            .select("host", "_row.*"))
        # three independent sinks over pinned inputs → one concurrent round
        with ThreadPoolExecutor(max_workers=3) as pool:
            f_frontier = pool.submit(self._write_frontier, updated, touched)
            f_seeds = pool.submit(self.store.write, stamped, "seeds")
            f_robots = pool.submit(self.store.write, robots_state, "robots")
            v, sv, rv = f_frontier.result(), f_seeds.result(), f_robots.result()
        self.store.commit(epoch, {"frontier": v, "seeds": sv, "robots": rv})
        return n_added, n_removed

    def error_history(self, file_url: str | None = None, n: int = 50) -> DataFrame:
        """Newest ``n`` processing-error rows, optionally for one file —
        reference ``get_file_errors`` (db.py:150-159, TOP 50 newest-first).
        Planned as TakeOrderedAndProject — no full sort at any scale."""
        from crawler_spark.schema import PROCESSING_ERRORS

        if not self.store.exists("errors"):
            return empty_frame(self.spark, PROCESSING_ERRORS)
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
        rows, touched = self._pin_change(fr.as_frontier_rows(
            files.select("site_url", "user_id", "file_url", "schema_map"),
            epoch, self.cfg.num_partitions, is_manual=True), "manual_added")
        frontier_df = self._frontier_for_hosts(touched)
        fresh = rows.join(frontier_df.filter(F.col("job_type") == "process_file"),
                          ["file_url", "user_id"], "left_anti")
        updated = fr.transition(frontier_df, requeued=rows).unionByName(fresh)
        self.store.commit(epoch, {"frontier": self._write_frontier(updated, touched)})

    def remove_manual_files(self, keys: DataFrame, epoch: int) -> None:
        """Soft-delete files and enqueue their removal jobs (reference
        api.py:352-383 ``_delete_schema_map_internal`` + db.py:392-398): the
        next epoch's ``process_removed_file`` pass wipes ids and vector docs,
        preserving the reference's ordering (ids → vector DB → files)."""
        keyed, touched = self._pin_change(fr.as_frontier_rows(
            keys.select("file_url", "user_id"), epoch, self.cfg.num_partitions
        ).select("file_url", "user_id", "host_hash"), "manual_removed")
        frontier_df = self._frontier_for_hosts(touched)
        live = (
            frontier_df.filter(F.col("is_active") & (F.col("job_type") == "process_file"))
            .join(keyed.select("file_url", "user_id"), ["file_url", "user_id"], "left_semi")
        )
        removal_jobs = fr.as_frontier_rows(
            live.select("file_url", "user_id", "site_url", "schema_map"),
            epoch, self.cfg.num_partitions, job_type="process_removed_file")
        updated = fr.transition(
            frontier_df,
            deactivated=live.select(
                "file_url", "user_id", F.lit("process_file").alias("job_type")),
        ).unionByName(removal_jobs)
        self.store.commit(epoch, {"frontier": self._write_frontier(updated, touched)})

    def delete_site(self, site_url: str, user_id: str, epoch: int) -> None:
        """Hard-delete a site: its frontier rows, seen ids, exclusively-owned
        vector docs, and its seed (reference api.py:315-351 +
        db.py:350-375 ``remove_site`` — ids first, then files, then the site;
        vector docs of ids whose last reference lived here are deleted, the
        J8 semi-delete done site-wide)."""
        site_pred = (F.col("site_url") == site_url) & (F.col("user_id") == user_id)
        victims, touched = self._pin_change(self.frontier().filter(site_pred).select(
            "file_url", "user_id", "host_hash"), "site_files")
        site_files = victims.select("file_url", "user_id")

        # O(touched): the site's seen rows live exactly in its files' host
        # buckets — never scan the global seen set for a site delete
        seen_touched = self.store.read_buckets(self.spark, "url_seen", only=touched)
        doomed = self.store.materialize(self.spark, seen_touched.join(
            site_files, ["file_url", "user_id"], "left_semi").withColumn(
            "doc_bucket", doc_bucket_expr(F.col("id"), self.cfg.num_partitions)),
            "site_ids")
        seen_after = seen_touched.join(site_files, ["file_url", "user_id"], "left_anti")

        # orphans (last reference lived here → count reaches 0) come from
        # the maintained refcounts view: read only the doomed ids' buckets
        # and subtract the doomed counts — O(touched ids), the same merge
        # the epoch gates use, instead of an O(corpus) distinct anti-join
        # over the full seen set. Orphans ⊆ doomed ids, so the doomed ids'
        # doc buckets are an exact cover for the refcounts and documents
        # writes.
        rc_delta = doomed.groupBy("id", "user_id").agg(
            (-F.count(F.lit(1))).alias("delta"))
        rc_buckets = sorted(int(b) for b in
                            self.store.scratch_column_values("site_ids", "doc_bucket"))
        merged = self._refcounts(rc_buckets).join(
            rc_delta, ["id", "user_id"], "left").select(
            "id", "user_id",
            (F.col("ref_count") + F.coalesce(F.col("delta"), F.lit(0)))
            .alias("ref_count"))
        orphans = merged.filter(F.col("ref_count") <= 0).select("id", "user_id")
        rc_content = merged.filter(F.col("ref_count") > 0).select(
            doc_bucket_expr(F.col("id"), self.cfg.num_partitions).alias("rbucket"),
            "id", "user_id", "ref_count")

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
            versions["documents"] = self._write_documents(
                empty_frame(self.spark, DOCUMENTS), orphans, rc_buckets)
        if rc_buckets:
            versions["refcounts"] = self.store.replace_buckets(
                rc_content, "refcounts", rc_buckets, "rbucket")
        self.store.commit(epoch, versions)

    # ------------------------------------------------------------------
    # one epoch of the hot path (lifecycle 3.2)
    # ------------------------------------------------------------------

    def run_epoch(self, epoch: int) -> EpochReport:
        t0 = time.time()
        rep = EpochReport(epoch=epoch)
        cfg = self.cfg

        # O(1) termination probe: an all-settled frontier has no data files
        # in its pending-family buckets (they hold empty version dirs), which
        # the manifest + a dirlist can see without any Spark job — the
        # fixed-point epoch costs zero actions instead of a selection plan,
        # a scratch write and a collect.
        if not self.store.has_live_buckets(
                "frontier", list(range(cfg.num_partitions))):
            rep.wall_s = time.time() - t0
            return rep

        # O(pending) selection input: reads only the pending-family buckets
        # (see _frontier_bucket) — done/error rows, the corpus mass at
        # steady state, are pruned by path, not by filter
        pending = self.pending_frontier()

        # politeness selection: budget applies to the *site host*; file hosts
        # equal site hosts in this corpus but we key on the row's host column.
        selected = politeness.select_within_budget(
            pending, self._robots(), cfg.per_host_budget, cfg.salt_buckets,
            cfg.epoch_window_s)
        selected = politeness.salted_repartition(selected, cfg.num_partitions, cfg.salt_buckets)
        # pin the selection to scratch (not cache): several downstream plans
        # reference it, and a flat parquet read keeps their analyzed trees
        # shallow — see the added/removed pinning note below. The pinned
        # columns give the epoch's touched host buckets (every frontier/
        # url_seen mutation this epoch lives in a selected row's bucket — the
        # bucket-replace write set), the termination count and the fetch-job
        # count, driver-side with no job.
        selected, touched = self._pin_change(selected, "selected_epoch")
        kinds = self.store.scratch_column_values("selected_epoch", "job_type")
        rep.selected = sum(kinds.values())
        n_fetch_jobs = kinds["process_file"]
        if rep.selected == 0:
            rep.wall_s = time.time() - t0
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
        # pass or anti-join reconstructs them. The selection carries each
        # host's robots Crawl-delay, which the HTTP kernel paces same-host
        # requests by WITHIN the epoch (the budget only caps the count per
        # window).
        fetched = self._fetch(fetch_jobs.select(
            "file_url", "user_id", "site_url", "queued_at",
            F.col("crawl_delay").alias("crawl_delay_s")))
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
        # fetch/extract counters from the scratch's parquet footers (no job):
        # a failed fetch emits exactly one marker row with a non-null
        # fetch_error, and every extracted object one row with a non-null id
        ext_rows = self.store.scratch_rows("extracted_epoch")
        ext_nulls = self.store.scratch_null_counts(
            "extracted_epoch", ["id", "fetch_error", "error"])

        def non_null(col: str) -> int:
            n = ext_nulls[col]
            return -1 if n is None else ext_rows - n

        rep.ids_extracted = non_null("id")
        rep.fetch_failed = non_null("fetch_error")
        rep.fetched_ok = (-1 if rep.fetch_failed < 0
                          else n_fetch_jobs - rep.fetch_failed)

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
            doc_bucket_expr(F.col("id"), cfg.num_partitions).alias("doc_bucket"),
        )
        # never-crawled hosts (no data files in the touched seen buckets —
        # a manifest+dirlist check, no job): every extracted id is new and
        # nothing can be removed, so the bloom read, the semi/anti joins and
        # the removed-diff materialize are skipped outright. This is every
        # first-contact epoch — the bench's whole crawl and, at 10^10 URLs,
        # every frontier-expansion epoch's fresh-host partition.
        seen_live = self.store.has_live_buckets("url_seen", only=touched)
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
                "file_url", "user_id", "id", "host_hash",
                doc_bucket_expr(F.col("id"), cfg.num_partitions).alias("doc_bucket"),
            ).join(ext_ids, ["file_url", "user_id", "id"], "left_anti")
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
            seen_touched = empty_frame(self.spark, URL_SEEN)
            persisted_blooms = empty_frame(self.spark, seen.BLOOM_SCHEMA)
            added = self.store.materialize(self.spark, ext_ids, "added_epoch")
            removed = seen_touched.select("file_url", "user_id", "id", "host_hash")
            rows_added = self.store.scratch_rows("added_epoch")
            rows_removed = 0
        rep.ids_added, rep.ids_removed = rows_added, rows_removed

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

        def new_docs_for(firsts: DataFrame) -> DataFrame:
            return (
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
                .withColumnRenamed("doc_bucket", "bucket")
                # bucket-align the ~1 KB pre-embed rows BEFORE the embed
                # projection, salted so a hot host's bucket spreads over
                # several tasks: the explicit repartition sets the embed
                # stage's parallelism (AQE would under-coalesce ahead of
                # the 6 KB/row expansion) and the 6 KB embedded rows are
                # never shuffled again — the task-side writer
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
            else empty_frame(self.spark, PROCESSING_ERRORS)
        )
        errors_after = prev_errors.join(
            succeeded, ["file_url", "user_id"], "left_anti"
        ).unionByName(new_errors)

        # --- commit ---
        # ALL sinks run concurrently from driver threads — independent DAGs
        # over the pinned scratch tables, so the short frontier/metrics
        # jobs never wait behind the long documents job and the epoch's
        # serial driver path is just (select-pin → extract-pin → sinks).
        # Every bucket-replace write moves only this epoch's touched
        # buckets.
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
            # all-null ⇔ new_errors is empty) — no Spark job; a column missing
            # statistics (None) degrades to "maybe errors" and the write runs.
            if (not self.store.exists("errors")
                    and ext_nulls["fetch_error"] == ext_rows
                    and ext_nulls["error"] == ext_rows):
                return None
            return self.store.write(errors_after, "errors")

        versions = {}
        # the url_seen/bloom write set is the hosts whose id sets CHANGED —
        # a selected host whose re-crawl found identical content keeps its
        # current bucket versions (zero bytes move). Diff hosts come from the
        # pinned diff scratch driver-side (pyarrow column read, no job).
        # The documents/refcounts write set comes from the same scratch:
        # firsts ⊆ added and orphans ⊆ removed make the added∪removed ids'
        # doc buckets an exact cover for both.
        diff_hosts: list[int] = []
        touched_docs: list[int] = []
        if not diffs_empty:
            dh = self.store.scratch_column_values("added_epoch", "host_hash")
            db = self.store.scratch_column_values("added_epoch", "doc_bucket")
            if rows_removed:
                dh |= self.store.scratch_column_values("removed_epoch", "host_hash")
                db |= self.store.scratch_column_values("removed_epoch", "doc_bucket")
            diff_hosts = sorted(int(h) for h in dh)
            touched_docs = sorted(int(b) for b in db)
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
            # per-epoch metrics are append-only: O(1) write, unioned at read time
            f_metrics = pool.submit(self.store.append, metrics, "metrics", f"{epoch:06d}")
            f_errors = pool.submit(write_errors)
            if not diffs_empty:
                firsts, orphans, rc_content = gates_for(touched_docs)
                futures["refcounts"] = pool.submit(
                    self.store.replace_buckets, rc_content, "refcounts",
                    touched_docs, "rbucket")
                # task-side pyarrow write + in-kernel embed fill of the new
                # docs, plus the orphans' delete keys: a delta per touched
                # bucket, so the old embedding rows (the table's mass) are
                # neither read nor rewritten
                futures["documents"] = pool.submit(
                    self._write_documents, new_docs_for(firsts), orphans,
                    touched_docs)
            for name, fut in futures.items():
                versions[name] = fut.result()
            ev = f_errors.result()
            if ev is not None:
                versions["errors"] = ev
            f_metrics.result()

        self.store.commit(epoch, versions)

        rep.wall_s = time.time() - t0
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
