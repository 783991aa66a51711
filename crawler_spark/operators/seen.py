"""URL-seen set operators: Bloom pre-filter, exact anti-join, ref-count.

The reference's ``ids`` table keeps one row per (file_url, extracted id) with
duplicates by design: the reference count ``COUNT(*) GROUP BY id`` decides
first-add (count==1) and last-remove (count==0) — reference
``code/core/db.py:116-124`` (table), ``db.py:278-282`` (ref-count),
``db.py:237-240`` (added/removed diffs, J3/J4), used at
``code/core/worker.py:215-272``.

Scale design (north_rule): the seen set at 10^10 URLs dominates the join
cost. We keep it partitioned by ``host_hash`` (bucket layout → partition
pruning: an epoch only reads seen-set buckets whose hosts are being crawled)
and pre-filter the *incoming* side with a Bloom filter built from the current
seen-set ids, so the exact ``left_anti`` join only shuffles candidate rows
that *might* be duplicates plus Bloom false positives. Exactness is
preserved: the Bloom only short-circuits definite-new rows; everything else
goes through the exact anti-join (SURVEY.md §4 custom piece #2). This
Bloom — one blob per bucket, persisted and OR-updated each epoch — is the
engine's only seen-set pre-filter; NOTES.md records why no second filter
kind is kept.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

_ID_KEY = ["file_url", "user_id", "id"]

_BLOOM_K = 4            # hash functions (double hashing)
_BITS_PER_ITEM = 12     # ~0.3% fpp at k=4
_H1_KEY = "0123456789abcdef"
_H2_KEY = "fedcba9876543210"

BLOOM_SCHEMA = StructType([
    StructField("host_hash", IntegerType(), True),
    StructField("bloom", BinaryType(), True),
    StructField("m_bits", LongType(), True),
    StructField("n_items", LongType(), True),
])


def _bloom_positions(keys: pd.Series, m_bits: int) -> np.ndarray:
    """(k, n) bit positions via double hashing of two independent 64-bit
    vectorized hashes (pandas' SipHash with fixed keys — deterministic)."""
    h1 = pd.util.hash_pandas_object(keys, index=False, hash_key=_H1_KEY).to_numpy(np.uint64)
    h2 = pd.util.hash_pandas_object(keys, index=False, hash_key=_H2_KEY).to_numpy(np.uint64) | np.uint64(1)
    m = np.uint64(m_bits)
    return np.stack([(h1 + np.uint64(i) * h2) % m for i in range(_BLOOM_K)])


def _composite(pdf: pd.DataFrame) -> pd.Series:
    return pdf["file_url"].astype(str) + "\x1f" + pdf["user_id"].astype(str) + "\x1f" + pdf["id"].astype(str)


def build_host_blooms(seen: DataFrame, bits_per_item: int = _BITS_PER_ITEM) -> DataFrame:
    """One Bloom blob per ``host_hash`` bucket over the seen-set composite key.

    The north_rule's *partitioned* Bloom URL-seen pre-filter: blobs are built
    where the data lives (``applyInPandas`` per bucket — one pass, no
    driver-side state) and sized to the bucket (``bits_per_item`` × rows).
    """

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        m = max(1 << 10, int(bits_per_item * n))
        m += (-m) % 8  # byte-align
        bits = np.zeros(m, dtype=bool)
        pos = _bloom_positions(_composite(pdf), m)
        bits[pos.ravel()] = True
        return pd.DataFrame([{
            "host_hash": int(pdf["host_hash"].iloc[0]),
            "bloom": np.packbits(bits).tobytes(),
            "m_bits": m,
            "n_items": n,
        }])

    return seen.groupBy("host_hash").applyInPandas(build, schema=BLOOM_SCHEMA)


def split_by_bloom_blobs(
    incoming: DataFrame, blooms: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(definitely_new, maybe_seen) split of ``incoming`` by per-bucket Bloom
    blobs (``BLOOM_SCHEMA`` rows — persisted in the store or freshly built).

    Implemented as a *cogrouped* pandas op: each bucket's candidate rows meet
    that bucket's single Bloom blob — the blob is never replicated per row,
    and buckets process in parallel. ``definitely_new`` rows skip the exact
    anti-join shuffle entirely; ``maybe_seen`` (true dups + ~0.3% false
    positives) continue to the exact check, so the final seen set is exact
    (SURVEY.md §4 custom piece #2). A blob that is a *superset* of the live
    seen set (stale bits of removed ids) only adds false positives — never
    false negatives — so persisted blobs stay valid without deletions.

    A bucket with NO blob defaults to ``maybe_seen=True``. The engine writes
    a bucket's url_seen rows and its blob in the same commit, so every
    bucket with seen rows has a blob; the default is a safety net, because
    treating a blob-less bucket as definitely-new would silently re-admit
    duplicate ids. Falling through to the exact anti-join costs nothing when
    the bucket truly has no seen rows (empty build side) and preserves
    exactness when it does.
    """
    from pyspark.sql.types import BooleanType

    out_schema = StructType(incoming.schema.fields + [StructField("maybe_seen", BooleanType(), False)])

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return left.assign(maybe_seen=pd.Series([], dtype=bool))
        if right.empty:
            return left.assign(maybe_seen=True)
        blob = right.iloc[0]
        bits = np.unpackbits(np.frombuffer(blob["bloom"], dtype=np.uint8)).astype(bool)
        pos = _bloom_positions(_composite(left), int(blob["m_bits"]))
        return left.assign(maybe_seen=bits[pos].all(axis=0))

    flagged = (
        incoming.groupBy("host_hash")
        .cogroup(blooms.groupBy("host_hash"))
        .applyInPandas(probe, schema=out_schema)
    )
    return (
        flagged.filter(~F.col("maybe_seen")).drop("maybe_seen"),
        flagged.filter(F.col("maybe_seen")).drop("maybe_seen"),
    )


def split_by_bloom(incoming: DataFrame, seen: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Build-then-probe convenience: per-bucket Blooms from ``seen``, then
    :func:`split_by_bloom_blobs`. The epoch loop persists blobs instead
    (see :func:`updated_blooms`) so they are never rebuilt from scratch."""
    return split_by_bloom_blobs(incoming, build_host_blooms(seen))


#: blob growth headroom: a fresh bucket blob is sized for 4× its first batch
_BLOOM_HEADROOM = 4


def updated_blooms(
    blooms: DataFrame, added: DataFrame, bits_per_item: int = _BITS_PER_ITEM
) -> DataFrame:
    """Incrementally fold this epoch's ``added`` ids into the persisted
    per-bucket blobs — O(added) hashing per epoch, never a rebuild of the
    bucket's full id set.

    Cogrouped per ``host_hash``: an existing blob gets the added keys' bits
    OR-ed in; a bucket with no blob yet gets a fresh one sized with
    :data:`_BLOOM_HEADROOM` growth room. A blob that outgrows its capacity
    *doubles losslessly w.r.t. false negatives*: with double hashing,
    ``pos mod 2m ∈ {pos mod m, pos mod m + m}``, so copying the old bitmap
    into both halves keeps every previously-inserted key matching while new
    keys use the full 2m space — no access to the bucket's historical rows
    needed, no extra Spark job, exactness preserved (the pre-doubling bits
    only cost extra false positives that the exact anti-join absorbs).
    """

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty and right.empty:
            return pd.DataFrame({
                "host_hash": pd.Series([], dtype="int32"),
                "bloom": pd.Series([], dtype="object"),
                "m_bits": pd.Series([], dtype="int64"),
                "n_items": pd.Series([], dtype="int64"),
            })
        if left.empty:  # blob of an untouched bucket passes through unchanged
            blob = right.iloc[0]
            return pd.DataFrame([blob.to_dict()])
        n_add = len(left)
        if right.empty:
            m = max(1 << 10, bits_per_item * n_add * _BLOOM_HEADROOM)
            m += (-m) % 8
            bits = np.zeros(m, dtype=bool)
            n_before = 0
            hh = int(left["host_hash"].iloc[0])
        else:
            blob = right.iloc[0]
            m = int(blob["m_bits"])
            bits = np.unpackbits(np.frombuffer(blob["bloom"], dtype=np.uint8)).astype(bool)
            n_before = int(blob["n_items"])
            hh = int(blob["host_hash"])
        n_now = n_before + n_add
        while n_now * bits_per_item > m:  # no-false-negative doubling
            bits = np.concatenate([bits, bits])
            m *= 2
        pos = _bloom_positions(_composite(left), m)
        bits[pos.ravel()] = True
        return pd.DataFrame([{
            "host_hash": hh,
            "bloom": np.packbits(bits).tobytes(),
            "m_bits": m,
            "n_items": n_now,
        }])

    return (
        added.groupBy("host_hash")
        .cogroup(blooms.groupBy("host_hash"))
        .applyInPandas(merge, schema=BLOOM_SCHEMA)
    )


def anti_join_new_ids(
    extracted: DataFrame,
    seen: DataFrame,
    blooms: DataFrame | None = None,
) -> DataFrame:
    """Rows of ``extracted`` whose (file_url, user_id, id) is not in ``seen``,
    with the partitioned Bloom pre-filter in front of the exact anti-join.

    Both frames must carry ``host_hash``. Pass persisted ``blooms`` blobs
    (the epoch loop does) to skip the build pass; they may be a superset of
    ``seen`` — supersets only cost false positives.
    """
    if blooms is not None:
        fresh, maybe = split_by_bloom_blobs(extracted, blooms)
    else:
        fresh, maybe = split_by_bloom(extracted, seen)
    checked = maybe.join(seen.select(*_ID_KEY), _ID_KEY, "left_anti")
    return fresh.unionByName(checked)


def first_occurrences(added: DataFrame, seen_before: DataFrame) -> DataFrame:
    """Ids whose insertion takes the ref-count 0 → ≥1 this epoch.

    Reference semantics: an id is indexed when its post-insert count is 1
    (worker.py:216-218). Processing per-file serially, the *first* file to
    insert an id wins; set-wise we reproduce that by keeping ids absent from
    ``seen_before`` and picking the representative row with the smallest
    (queued_at, file_url) — the FIFO tiebreak of SURVEY.md §2.9.
    """
    new_ids = added.join(seen_before, ["id", "user_id"], "left_anti")
    best = F.struct("queued_at", "file_url").alias("rank_key")
    ranked = new_ids.withColumn("rank_key", best)
    winner = ranked.groupBy("id", "user_id").agg(F.min("rank_key").alias("win_key"))
    return (
        ranked.join(winner, ["id", "user_id"])
        .filter(F.col("rank_key") == F.col("win_key"))
        .drop("rank_key", "win_key")
        # a single file can list the same id twice at different positions;
        # keep the first position (reference set() collapses them — U1)
        .dropDuplicates(["id", "user_id"])
    )

