"""Partitioned-Bloom URL-seen pre-filter: exactness and effectiveness."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_spark.operators.seen import (
    anti_join_new_ids,
    build_host_blooms,
    split_by_bloom,
    split_by_bloom_blobs,
    updated_blooms,
)


def _ids_df(spark, rows):
    return spark.createDataFrame(
        [
            {
                "file_url": f"https://h{h}.com/f{f}.json",
                "user_id": "u1",
                "id": f"https://h{h}.com/f{f}.json#schema-{i}",
                "host_hash": h % 8,
                "queued_at": None,
            }
            for h, f, i in rows
        ],
        "file_url string, user_id string, id string, host_hash int, queued_at timestamp",
    )


def test_bloom_no_false_negatives_and_exact_result(spark):
    seen = _ids_df(spark, [(h, f, i) for h in range(6) for f in range(4) for i in range(30)])
    # half overlapping, half new (new files + new hosts)
    incoming = _ids_df(
        spark,
        [(h, f, i) for h in range(6) for f in range(4) for i in range(15)]      # dups
        + [(h, 9, i) for h in range(6) for i in range(10)]                      # new files
        + [(77, 0, i) for i in range(10)],                                      # unseen host bucket
    )

    fresh, maybe = split_by_bloom(incoming, seen)
    fresh_keys = {tuple(r) for r in fresh.select("file_url", "user_id", "id").collect()}
    seen_keys = {tuple(r) for r in seen.select("file_url", "user_id", "id").collect()}
    # no false negatives: nothing marked definitely-new is actually seen
    assert not (fresh_keys & seen_keys)

    # end result identical to the exact anti-join
    got = {
        tuple(r)
        for r in anti_join_new_ids(incoming, seen)
        .select("file_url", "user_id", "id").collect()
    }
    want = {
        tuple(r)
        for r in incoming.join(seen, ["file_url", "user_id", "id"], "left_anti")
        .select("file_url", "user_id", "id").collect()
    }
    assert got == want

    # effectiveness: every true duplicate lands in maybe_seen, and the Bloom
    # routes the bulk of genuinely-new rows around the exact join
    n_maybe = maybe.count()
    n_dups = incoming.join(seen, ["file_url", "user_id", "id"], "left_semi").count()
    assert n_maybe >= n_dups
    assert fresh.count() >= 60  # most of the 130 new rows skip the join


def test_updated_blooms_incremental_no_false_negatives(spark):
    """OR-ing an epoch's added ids into persisted blobs must keep EVERY key
    ever inserted matching (old and new), across multiple increments."""
    epoch1 = _ids_df(spark, [(h, f, i) for h in range(4) for f in range(2) for i in range(20)])
    blooms = build_host_blooms(epoch1)

    epoch2 = _ids_df(spark, [(h, 5, i) for h in range(4) for i in range(15)]
                     + [(9, 0, i) for i in range(10)])  # 9%8=1: bucket 1 extra
    blooms2 = updated_blooms(blooms, epoch2)

    all_seen = epoch1.unionByName(epoch2)
    fresh, maybe = split_by_bloom_blobs(all_seen, blooms2)
    assert fresh.count() == 0, "previously inserted key escaped the blobs"

    # blob bookkeeping: n_items accumulates
    n_items = {r["host_hash"]: r["n_items"] for r in blooms2.collect()}
    assert sum(n_items.values()) == all_seen.count()


def test_updated_blooms_doubling_keeps_old_members(spark):
    """Over-capacity blobs double; pre-doubling keys must still match
    (the bitmap-copy trick guarantees pos mod 2m lands on a set bit)."""
    first = _ids_df(spark, [(0, 0, i) for i in range(10)])
    blooms = build_host_blooms(first)  # sized for ~10 items (min 1024 bits)
    # push far past capacity to force >=1 doubling
    flood = _ids_df(spark, [(0, 1, i) for i in range(2000)])
    blooms2 = updated_blooms(blooms, flood)
    blob = blooms2.collect()[0]
    assert blob["m_bits"] > build_host_blooms(first).collect()[0]["m_bits"]
    fresh, _ = split_by_bloom_blobs(first.unionByName(flood), blooms2)
    assert fresh.count() == 0


def test_missing_blob_falls_through_to_exact_join(spark):
    """A bucket with seen rows but NO persisted blob (the engine never
    leaves one, but a lost blob must stay safe) must route its candidates to
    the exact anti-join, not declare them definitely-new — otherwise
    duplicates silently re-enter the seen set and ref-counts inflate."""
    seen = _ids_df(spark, [(h, f, i) for h in range(4) for f in range(2) for i in range(10)])
    incoming = _ids_df(
        spark,
        [(h, 0, i) for h in range(4) for i in range(5)]   # true dups
        + [(h, 7, i) for h in range(4) for i in range(5)],  # genuinely new
    )
    no_blobs = build_host_blooms(seen).limit(0)  # blooms table exists, no rows

    fresh, maybe = split_by_bloom_blobs(incoming, no_blobs)
    assert fresh.count() == 0, "blob-less bucket rows must go to the exact join"

    got = {
        tuple(r)
        for r in anti_join_new_ids(incoming, seen, blooms=no_blobs)
        .select("file_url", "user_id", "id").collect()
    }
    want = {
        tuple(r)
        for r in incoming.join(seen, ["file_url", "user_id", "id"], "left_anti")
        .select("file_url", "user_id", "id").collect()
    }
    assert got == want


def test_engine_blooms_persist_and_untouched_buckets_keep_version(spark, tmp_path):
    """Epoch loop: blobs live in the store, only touched buckets advance."""
    from crawler_spark.crawl import CrawlConfig, CrawlEngine
    from crawler_spark.sources.synth import chunk_url, corpus_pages_df, seeds_df, site_host
    from crawler_spark.sources.tables import SnapshotStore

    pages = corpus_pages_df(spark, 6, 2, items_per_chunk=4,
                            sitemap_chunks={0: [0]})  # site 0 chunk 1 unlisted
    store = SnapshotStore(tmp_path / "state")
    engine = CrawlEngine(spark, store, pages,
                         CrawlConfig(num_partitions=8, salt_buckets=4))
    engine.bootstrap(seeds_df(spark, 6))
    engine.run()
    assert store.exists("blooms")
    v_before = dict(store.bucket_versions("blooms"))

    # one-site epoch → only that host's bloom bucket advances
    epoch = store.read_manifest()["epoch"] + 1
    engine.add_manual_files(spark.createDataFrame(
        [{"site_url": site_host(0), "user_id": "test:user001",
          "file_url": chunk_url(0, 1), "schema_map": "manual"}]), epoch)
    engine.run()
    v_after = dict(store.bucket_versions("blooms"))
    advanced = {b for b in v_after if v_after[b] != v_before.get(b)}
    assert len(advanced) >= 1
    assert len(advanced) < len(v_after), "every bloom bucket was rewritten"
    # and the seen set is exact: all 6×2 chunks' ids present exactly once
    assert engine.url_seen().count() == 6 * 2 * 4
    assert engine.url_seen().distinct().count() == 6 * 2 * 4
