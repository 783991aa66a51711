"""Frontier state machine: discovery diffs and epoch status transitions.

The reference's queue (send/receive/ack/nack + visibility timeout + stale-job
recovery, ``code/core/queue_interface.py``/``job_manager.py``) collapses into
columns on one table: ``status ∈ {pending, in_flight, done, error}``,
``retries`` (≤3 → error, job_manager.py:71), ``epoch``. A failed epoch is
re-run from the last committed snapshot, so no leases/heartbeats exist
(SURVEY.md §2.8 T2-T4).

Discovery = incremental view maintenance (T8): per epoch the candidate file
set from sitemaps is anti-joined both ways against the live frontier —
added files become ``pending`` jobs, vanished files become
``process_removed_file`` jobs and are soft-deleted (``is_active=false``),
exactly the reference's ``update_site_files`` diff (db.py:176-225, J1/J2).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawler_spark.functions.canonical import host_from_url_expr, host_hash_expr

MAX_RETRIES = 3  # reference job_manager.py:71

_KEY = ["file_url", "user_id", "job_type"]


def epoch_ts(epoch: int) -> datetime:
    """Deterministic queue timestamp for rows enqueued at ``epoch``.

    The reference stamps wall-clock enqueue time (master.py:177); the engine
    uses a fixed epoch-derived timestamp so crawl order — (epoch, queued_at,
    file_url), SURVEY.md §2.9 — is reproducible bit-for-bit.
    """
    base = datetime(2026, 1, 1, tzinfo=timezone.utc)  # epoch seconds 1767225600
    return datetime.fromtimestamp(base.timestamp() + epoch * 60, tz=timezone.utc)


def as_frontier_rows(
    candidates: DataFrame,
    epoch: int,
    num_partitions: int,
    job_type: str = "process_file",
    depth: int = 1,
    is_manual: bool = False,
) -> DataFrame:
    """Decorate discovered (site_url, user_id, schema_map, file_url) rows into
    full frontier rows (status=pending). ``is_manual`` marks rows added by the
    manual add API (db.py:376-390) — exempt from discovery-diff removal."""
    host = host_from_url_expr(F.col("file_url"))
    return (
        candidates
        .withColumn("job_type", F.lit(job_type))
        .withColumn("status", F.lit("pending"))
        .withColumn("retries", F.lit(0))
        .withColumn("depth", F.lit(depth))
        .withColumn("score", F.lit(0.0))
        .withColumn("host", host)
        .withColumn("host_hash", host_hash_expr(F.col("host"), num_partitions))
        .withColumn("queued_at", F.lit(epoch_ts(epoch)))
        .withColumn("epoch", F.lit(epoch))
        .withColumn("is_manual", F.lit(is_manual))
        .withColumn("is_active", F.lit(True))
        .withColumn("last_read_time", F.lit(None).cast("timestamp"))
        .withColumn("number_of_items", F.lit(None).cast("int"))
    )


def diff_discovery(
    frontier: DataFrame, candidates: DataFrame, discovered_sites: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(added_candidates, removed_files) — J1/J2 of SURVEY.md §2.3.

    ``candidates``: (site_url, user_id, schema_map, file_url) fresh from
    sitemaps. ``removed_files``: live process_file rows of *re-discovered*
    sites whose URL vanished from the new sitemap state. Manual rows
    (``is_manual``, added via :meth:`CrawlEngine.add_manual_files`) live
    outside the sitemap diff and are never removal candidates here — only
    the explicit manual-remove / site-delete APIs retire them.
    """
    file_key = ["file_url", "user_id"]
    live = frontier.filter(F.col("is_active") & (F.col("job_type") == "process_file"))
    added = candidates.join(live, file_key, "left_anti")
    in_scope = (
        live.filter(~F.col("is_manual"))
        .join(F.broadcast(discovered_sites), ["site_url", "user_id"], "left_semi")
    )
    removed = in_scope.join(candidates, file_key, "left_anti")
    return added, removed


def transition(
    frontier: DataFrame,
    done: DataFrame | None = None,
    failed: DataFrame | None = None,
    deactivated: DataFrame | None = None,
    epoch: int | None = None,
    requeued: DataFrame | None = None,
) -> DataFrame:
    """Apply end-of-epoch status transitions and return the new frontier.

    * ``done`` (file_url, user_id, number_of_items): → status=done, stamp
      last_read_time (S8 ack / A2 count write-back, db.py:270-273);
    * ``failed`` (file_url, user_id): retries+1; < MAX_RETRIES → pending
      (nack/retry), else → error (job_manager escalation);
    * ``deactivated``: soft-delete (is_active=false, status=done) — the
      removed-file path (worker.py:284-311);
    * ``requeued`` (file_url, user_id, job_type, schema_map): re-queue as a
      live manual row (is_active, is_manual, status=pending, retries=0, the
      new schema_map) — the manual add path (db.py:376-390).
    """
    out = frontier
    ts = F.lit(epoch_ts(epoch) if epoch is not None else None).cast("timestamp")
    if done is not None:
        out = _set_where(
            out, done.select(*_KEY, F.col("number_of_items").alias("_n_items")),
            {"status": F.lit("done"), "last_read_time": ts,
             "number_of_items": F.col("_n_items")})
    if failed is not None:
        retries = F.col("retries") + 1
        out = _set_where(out, failed.select(*_KEY), {
            "retries": retries,
            "status": F.when(retries >= MAX_RETRIES, "error").otherwise("pending")})
    if deactivated is not None:
        out = _set_where(out, deactivated.select(*_KEY),
                         {"is_active": F.lit(False), "status": F.lit("done")})
    if requeued is not None:
        out = _set_where(
            out, requeued.select(*_KEY, F.col("schema_map").alias("_map")),
            {"is_active": F.lit(True), "is_manual": F.lit(True),
             "status": F.lit("pending"), "retries": F.lit(0),
             "schema_map": F.col("_map")})
    return out


def _set_where(frontier: DataFrame, hits: DataFrame, sets: dict) -> DataFrame:
    """``frontier`` with each ``sets`` column replaced by its value on the
    rows whose key is in ``hits``. The values read ``frontier``'s columns
    as they were, and any extra ``hits`` column, which is then dropped."""
    extra = [c for c in hits.columns if c not in _KEY]
    return (
        frontier.join(hits.withColumn("_hit", F.lit(True)), _KEY, "left")
        .withColumns({c: F.when(F.col("_hit"), v).otherwise(F.col(c))
                      for c, v in sets.items()})
        .drop("_hit", *extra)
    )
