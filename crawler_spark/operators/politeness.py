"""Per-host politeness: budgeted top-k selection with hot-host salting.

The reference serializes work per site with a semaphore (``code/core/db.py:
9-39``) and has no explicit crawl-delay; the north_rule upgrades this to a
per-host fetch *budget* per epoch with robots ``Crawl-delay`` respected and a
priority ordering (depth, score, queued_at, file_url) — SURVEY.md §2.5 O6 /
§2.8 T7.

Scale design: a naive ``row_number() OVER (PARTITION BY host)`` puts every
pending URL of a hot host into one task. We select top-k in two phases:

1. *salted pre-rank*: rank within (host, salt) where
   ``salt = pmod(hash(file_url), S)`` and keep ``budget`` rows per salt
   bucket — S tasks share the hot host's rows;
2. *final rank* on the ≤ budget·S survivors per host — now provably small.

Phase 2's window input is bounded per host, so the skew is broken regardless
of frontier distribution (SURVEY.md §4 custom piece #1; AQE cannot do this —
it rebalances joins, not windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def _priority():
    """Order within a host: shallow first, high score first, FIFO, url tiebreak."""
    return [
        F.col("depth").asc_nulls_last(),
        F.col("score").desc_nulls_last(),
        F.col("queued_at").asc_nulls_last(),
        F.col("file_url").asc(),
    ]


def effective_budget(default_budget: int, epoch_window_s: float = 60.0):
    """Column: per-host budget honoring robots Crawl-delay.

    With a crawl delay ``d`` a polite fetcher does at most
    ``epoch_window_s / d`` fetches per epoch window; no delay → default.
    """
    return F.when(
        F.col("crawl_delay").isNotNull() & (F.col("crawl_delay") > 0),
        F.least(
            F.lit(default_budget),
            F.greatest(F.floor(F.lit(epoch_window_s) / F.col("crawl_delay")), F.lit(1)),
        ),
    ).otherwise(F.lit(default_budget)).cast("int")


def select_within_budget(
    pending: DataFrame,
    robots: DataFrame | None,
    default_budget: int,
    salt_buckets: int = 16,
    epoch_window_s: float = 60.0,
) -> DataFrame:
    """The pending frontier rows selected for this epoch.

    ``robots`` is the small (host, crawl_delay) politeness table — broadcast.
    Rows not selected stay ``pending`` and compete again next epoch with
    their original ``queued_at`` (FIFO fairness preserved).
    """
    if robots is not None:
        pending = pending.join(
            F.broadcast(robots.select("host", "crawl_delay")), "host", "left"
        )
    else:
        pending = pending.withColumn("crawl_delay", F.lit(None).cast("double"))

    budget = effective_budget(default_budget, epoch_window_s)
    pending = pending.withColumn("host_budget", budget).drop("crawl_delay")

    # phase 1: salted pre-rank — bounds any host's rows per task
    salted = Window.partitionBy("host", "salt").orderBy(*_priority())
    survivors = (
        pending
        .withColumn("salt", F.pmod(F.hash("file_url"), F.lit(salt_buckets)))
        .withColumn("salt_rank", F.row_number().over(salted))
        .filter(F.col("salt_rank") <= F.col("host_budget"))
        .drop("salt", "salt_rank")
    )

    # phase 2: exact top-k over ≤ budget·S rows per host
    final = Window.partitionBy("host").orderBy(*_priority())
    ranked = survivors.withColumn("host_rank", F.row_number().over(final))
    return ranked.filter(F.col("host_rank") <= F.col("host_budget")).drop("host_rank", "host_budget")


def salted_repartition(df: DataFrame, num_partitions: int, salt_buckets: int = 16) -> DataFrame:
    """Spread the fetch/extract stage: repartition on (host_hash, salt) so a
    hot host fans out over ``salt_buckets`` tasks (de-salted downstream by
    aggregation keys, not by a second shuffle)."""
    return df.repartition(
        num_partitions,
        F.col("host_hash"),
        F.pmod(F.hash("file_url"), F.lit(salt_buckets)),
    )
