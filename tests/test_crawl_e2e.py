"""End-to-end epoch-loop tests against the plain-Python oracle.

Reference analogues (SURVEY.md §5): ``testing/test_dynamic_updates.py``
(3-phase add/remove with exact per-site totals), ``test_file_removal.py``
(is_active=0 + zero ids per removed file), ``test_job_recovery.py``
(kill-and-resume), plus the crawl-ordering contract of SURVEY.md §2.9.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from crawler_spark.crawl import CrawlConfig, CrawlEngine
from crawler_spark.sources.synth import chunk_url, corpus_pages_df, seeds_df, site_host
from crawler_spark.sources.tables import SnapshotStore
from crawler_spark.sources.txnlog import TxnLogStore
from tests.py_oracle import OracleState, crawl_fixed_point, pages_dict

N_SITES = 3
CHUNKS = 3
ITEMS = 5


@pytest.fixture()
def small_corpus(spark):
    pages = corpus_pages_df(spark, N_SITES, CHUNKS, items_per_chunk=ITEMS)
    seeds = seeds_df(spark, N_SITES)
    return pages, seeds


def build_engine(spark, tmp_path, pages, **cfg_kwargs):
    cfg = CrawlConfig(num_partitions=8, salt_buckets=4, **cfg_kwargs)
    return CrawlEngine(spark, SnapshotStore(tmp_path / "state"), pages, cfg)


def assert_refcounts_consistent(engine):
    """Invariant: the maintained `refcounts` view must equal
    url_seen GROUP BY (id, user_id) exactly, after any sequence of ops."""
    want = {
        (r["id"], r["user_id"]): r["n"]
        for r in engine.url_seen().groupBy("id", "user_id")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {
        (r["id"], r["user_id"]): r["ref_count"]
        for r in engine.store.read(engine.spark, "refcounts").collect()
    } if engine.store.exists("refcounts") else {}
    assert got == want, (
        f"refcounts drifted: {len(got)} rows vs {len(want)} expected; "
        f"sample diff {list(set(got.items()) ^ set(want.items()))[:3]}")


def engine_state(engine):
    seen = {
        (r["file_url"], r["user_id"], r["id"])
        for r in engine.url_seen().collect()
    }
    docs = {
        r["id"]: {"url": r["url"], "site": r["site"], "type": r["type"],
                  "content": r["content"], "essential_text": r["essential_text"]}
        for r in engine.documents().collect()
    }
    return seen, docs


def test_crawl_matches_oracle(spark, tmp_path, small_corpus):
    pages, seeds = small_corpus
    engine = build_engine(spark, tmp_path, pages)
    engine.bootstrap(seeds)
    reports = engine.run()
    assert reports[-1].selected == 0  # reached fixed point

    oracle = crawl_fixed_point(
        pages_dict(pages.collect()),
        [(site_host(i), "test:user001") for i in range(N_SITES)],
    )

    seen, docs = engine_state(engine)
    assert seen == oracle.url_seen
    assert len(seen) == N_SITES * CHUNKS * ITEMS

    # documents: same keys, byte-identical essential text + content per url
    assert set(docs) == set(oracle.documents)
    for key, doc in oracle.documents.items():
        got = docs[key]
        assert got["essential_text"] == doc["essential_text"], key
        assert got["content"] == doc["content"], key
        assert got["type"] == doc["type"]
        assert got["url"] == doc["url"]
        assert len_embedding_ok(engine, key)

    # frontier: every file done with the right item count
    frontier = engine.frontier().filter(F.col("job_type") == "process_file")
    rows = frontier.collect()
    assert len(rows) == N_SITES * CHUNKS
    assert all(r["status"] == "done" and r["number_of_items"] == ITEMS for r in rows)


def len_embedding_ok(engine, key) -> bool:
    # packed float32 storage: 1536 dims × 4 bytes (functions/embed.py)
    row = engine.documents().filter(F.col("id") == key).select(
        F.octet_length("embedding")).first()
    return row[0] == 1536 * 4


def test_breadcrumb_exact_element_match(spark, tmp_path):
    """F3 golden (worker.py:221-226): @type='BreadcrumbListItem' must be
    indexed (substring trap), ['Thing','BreadcrumbList'] must be skipped,
    and both still count toward the URL-seen set."""
    import json
    from datetime import datetime, timezone

    from crawler_spark.schema import PAGES

    base = "https://site00000.example.com"
    objs = [
        {"@type": "BreadcrumbListItem", "@id": f"{base}/chunk0.json#schema-0",
         "name": "keep me"},
        {"@type": ["Thing", "BreadcrumbList"], "@id": f"{base}/chunk0.json#schema-1",
         "name": "skip me"},
        {"@type": "BreadcrumbList", "@id": f"{base}/chunk0.json#schema-2",
         "name": "skip me too"},
        {"@type": "Thing", "@id": f"{base}/chunk0.json#schema-3",
         "name": "normal"},
    ]
    ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
    rows = [
        {"url": f"{base}/robots.txt", "warc_ts": ts,
         "html": b"User-agent: *\nSchemaMap: /schema_map.xml\n", "text": "", "lang": "en"},
        {"url": f"{base}/schema_map.xml", "warc_ts": ts,
         "html": ('<?xml version="1.0"?><urlset><url contentType="schema.org/Thing">'
                  "<loc>/chunk0.json</loc></url></urlset>").encode(),
         "text": "", "lang": "en"},
        {"url": f"{base}/chunk0.json", "warc_ts": ts,
         "html": json.dumps(objs).encode(), "text": "", "lang": "en"},
    ]
    pages = spark.createDataFrame(rows, PAGES)
    engine = build_engine(spark, tmp_path, pages)
    engine.bootstrap(seeds_df(spark, 1))
    engine.run()

    seen, docs = engine_state(engine)
    assert len(seen) == 4  # breadcrumbs still enter the seen set
    indexed_urls = {d["url"] for d in docs.values()}
    assert f"{base}/chunk0.json#schema-0" in indexed_urls  # BreadcrumbListItem kept
    assert f"{base}/chunk0.json#schema-3" in indexed_urls
    assert f"{base}/chunk0.json#schema-1" not in indexed_urls  # list member skipped
    assert f"{base}/chunk0.json#schema-2" not in indexed_urls  # exact match skipped


def test_malformed_urls_do_not_stall_the_crawl(spark, tmp_path):
    """`@id`s and a sitemap `<loc>` that `java.net.URI` rejects (a space, a
    `|`) must not fail the epoch: a failed epoch re-runs on the same rows, so
    one such URL would stop the crawl for good. The `<loc>` keeps its site's
    host, so its site's politeness group, not a pooled one, governs it."""
    import json
    from datetime import datetime, timezone

    from crawler_spark.schema import PAGES

    base, other = (f"https://{site_host(i)}" for i in range(2))
    ids0 = [f"{base}/chunk0.json#a b", f"{base}/q?x=1|2", f"{base}/chunk0.json#ok"]
    ids1 = [f"{base}/chunk 1.json#schema-0"]
    ids2 = [f"{other}/chunk0.json#x"]

    def body(ids):
        return json.dumps([{"@type": "Thing", "@id": i, "name": f"n{k}"}
                           for k, i in enumerate(ids)]).encode()

    def site_rows(host_url, files):
        locs = "".join(f'<url contentType="schema.org/Thing"><loc>{f}</loc></url>'
                       for f in files)
        return [
            {"url": f"{host_url}/robots.txt",
             "html": b"User-agent: *\nSchemaMap: /schema_map.xml\n"},
            {"url": f"{host_url}/schema_map.xml",
             "html": f'<?xml version="1.0"?><urlset>{locs}</urlset>'.encode()},
        ] + [{"url": f"{host_url}{f}", "html": body(ids)} for f, ids in files.items()]

    ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
    rows = [
        {**r, "warc_ts": ts, "text": "", "lang": "en"}
        for r in site_rows(base, {"/chunk0.json": ids0, "/chunk 1.json": ids1})
        + site_rows(other, {"/chunk0.json": ids2})
    ]
    engine = build_engine(spark, tmp_path, spark.createDataFrame(rows, PAGES))
    engine.bootstrap(seeds_df(spark, 2))
    reports = engine.run()

    assert reports[-1].selected == 0, "crawl did not reach fixed point"
    seen, docs = engine_state(engine)
    assert {i for _, _, i in seen} == set(ids0 + ids1 + ids2)
    assert {d["url"] for d in docs.values()} == set(ids0 + ids1 + ids2)
    assert_refcounts_consistent(engine)
    files = {r["file_url"]: (r["host"], r["host_hash"]) for r in engine.frontier()
             .filter(F.col("job_type") == "process_file").collect()}
    assert files[f"{base}/chunk 1.json"] == files[f"{base}/chunk0.json"]
    assert files[f"{base}/chunk 1.json"][0] == site_host(0)


def test_dynamic_add_remove_phases(spark, tmp_path):
    """Phases mirror test_dynamic_updates.py: {0,1,2} → +{3,4} → −{1}."""
    user = "test:user001"
    seeds = seeds_df(spark, 1).withColumn("interval_hours", F.lit(0))

    def corpus(chunk_ids):
        return corpus_pages_df(
            spark, 1, 5, items_per_chunk=ITEMS, sitemap_chunks={0: chunk_ids}
        )

    phases = [[0, 1, 2], [0, 1, 2, 3, 4], [0, 2, 3, 4]]
    store = SnapshotStore(tmp_path / "state")
    oracle = OracleState()

    for chunk_ids in phases:
        pages = corpus(chunk_ids)
        engine = CrawlEngine(spark, store, pages, CrawlConfig(num_partitions=8, salt_buckets=4))
        engine.bootstrap(seeds)
        engine.run(discover_each_epoch=True)
        oracle = crawl_fixed_point(pages_dict(pages.collect()), [(site_host(0), user)], oracle)

        seen, docs = engine_state(engine)
        assert seen == oracle.url_seen, f"phase {chunk_ids}"
        assert set(docs) == set(oracle.documents), f"phase {chunk_ids}"
        assert_refcounts_consistent(engine)

    # removal invariants (test_file_removal.py analogue): chunk1 inactive, 0 ids
    frontier = engine.frontier()
    removed_url = f"https://{site_host(0)}/chunk1.json"
    row = frontier.filter(
        (F.col("file_url") == removed_url) & (F.col("job_type") == "process_file")
    ).first()
    assert row["is_active"] is False
    assert not any(t[0] == removed_url for t in oracle.url_seen)
    n_ids = engine.url_seen().filter(F.col("file_url") == removed_url).count()
    assert n_ids == 0


def test_manual_file_add_survives_discovery_and_removes_cleanly(spark, tmp_path):
    """Mirror of the reference's add_test_files.py flow (api.py:385-446):
    a manually-added file outside the sitemap is crawled, survives a
    re-discovery diff (is_manual exempt), and a manual remove wipes its ids
    and vector docs via the process_removed_file path."""
    from crawler_spark.sources.synth import chunk_url

    # site 0's sitemap lists only chunks {0,1}; chunk 2 exists but unlisted
    pages = corpus_pages_df(
        spark, 2, 3, items_per_chunk=ITEMS,
        sitemap_chunks={0: [0, 1], 1: [0, 1, 2]})
    engine = build_engine(spark, tmp_path, pages)
    engine.bootstrap(seeds_df(spark, 2))
    engine.run()

    manual_url = chunk_url(0, 2)
    seen, _ = engine_state(engine)
    assert not any(f == manual_url for f, _, _ in seen)  # unlisted → not crawled

    epoch = engine.store.read_manifest()["epoch"] + 1
    manual = spark.createDataFrame(
        [{"site_url": site_host(0), "user_id": "test:user001",
          "file_url": manual_url, "schema_map": "manual_test"}])
    engine.add_manual_files(manual, epoch)
    engine.run(discover_each_epoch=True)  # re-discovery must NOT remove it

    seen, docs = engine_state(engine)
    manual_ids = {i for f, _, i in seen if f == manual_url}
    assert len(manual_ids) == ITEMS
    row = engine.frontier().filter(F.col("file_url") == manual_url).collect()[0]
    assert row["is_manual"] and row["is_active"] and row["status"] == "done"

    # manual remove → removal job → ids and exclusive docs wiped
    epoch = engine.store.read_manifest()["epoch"] + 1
    engine.remove_manual_files(
        spark.createDataFrame([{"file_url": manual_url, "user_id": "test:user001"}]),
        epoch)
    engine.run()
    seen, docs = engine_state(engine)
    assert not any(f == manual_url for f, _, _ in seen)
    assert not any(d["url"] in manual_ids for d in docs.values())
    row = engine.frontier().filter(
        (F.col("file_url") == manual_url) & (F.col("job_type") == "process_file")
    ).collect()[0]
    assert not row["is_active"]


def test_unchanged_recrawl_writes_only_diff_host_buckets(spark, tmp_path):
    """r4: the url_seen/bloom write set is the hosts whose id sets CHANGED,
    not every selected host. A re-crawl of 6 sites where only site 0's
    content changed must create new url_seen/bloom bucket versions for
    site 0's host bucket ONLY — unchanged hosts' buckets keep their current
    versions and zero of their bytes move (the steady-state 10^10 shape:
    most re-crawled content is unchanged)."""
    from crawler_spark.sources.synth import chunk_url

    n_sites = 6
    pages = corpus_pages_df(spark, n_sites, 2, items_per_chunk=ITEMS)
    cfg = CrawlConfig(num_partitions=8, salt_buckets=4)
    engine = CrawlEngine(spark, SnapshotStore(tmp_path / "state"), pages, cfg)
    engine.bootstrap(seeds_df(spark, n_sites))
    engine.run()

    # corpus B: identical except site 0 chunk 0's ids are all replaced
    changed_url = chunk_url(0, 0)
    pages_b = pages.withColumn(
        "html",
        F.when(
            F.col("url") == changed_url,
            F.encode(F.regexp_replace(F.decode(F.col("html"), "utf-8"),
                                      "#schema-", "#schemaX-"), "utf-8"),
        ).otherwise(F.col("html")))
    engine_b = CrawlEngine(spark, engine.store, pages_b, cfg)

    seen_vers_before = dict(engine.store.bucket_versions("url_seen"))
    bloom_vers_before = dict(engine.store.bucket_versions("blooms"))

    # re-queue every file of every site (manual re-add), then run one epoch
    epoch = engine.store.read_manifest()["epoch"] + 1
    all_files = [
        {"site_url": site_host(s), "user_id": "test:user001",
         "file_url": chunk_url(s, c), "schema_map": "manual"}
        for s in range(n_sites) for c in range(2)
    ]
    engine_b.add_manual_files(spark.createDataFrame(all_files), epoch)
    engine_b.run()

    site0_bucket = spark.createDataFrame([(site_host(0),)], "h string").select(
        F.pmod(F.hash("h"), F.lit(cfg.num_partitions)).alias("b")).first()["b"]
    changed_seen = {
        b for b, v in engine.store.bucket_versions("url_seen").items()
        if seen_vers_before.get(b) != v
    }
    changed_blooms = {
        b for b, v in engine.store.bucket_versions("blooms").items()
        if bloom_vers_before.get(b) != v
    }
    assert changed_seen == {str(site0_bucket)}, (
        f"unchanged hosts' url_seen buckets were rewritten: {changed_seen}")
    assert changed_blooms == {str(site0_bucket)}, (
        f"unchanged hosts' bloom buckets were rewritten: {changed_blooms}")

    # and the diff itself landed: chunk0's ids swapped, everything else kept
    seen = engine_b.url_seen().filter(F.col("file_url") == changed_url)
    assert seen.filter(F.col("id").contains("#schemaX-")).count() == ITEMS
    assert seen.filter(F.col("id").contains("#schema-")
                       & ~F.col("id").contains("#schemaX-")).count() == 0
    assert_refcounts_consistent(engine_b)


def test_epoch_write_amplification_is_bucket_local(spark, tmp_path):
    """Bucket-level replace (the MERGE-INTO analogue): an epoch that touches
    one of twelve sites must write roughly that site's share of bytes for
    frontier/url_seen/documents — not rewrite the tables wholesale."""
    from crawler_spark.sources.synth import chunk_url

    n_sites = 12
    pages = corpus_pages_df(
        spark, n_sites, 3, items_per_chunk=ITEMS,
        sitemap_chunks={0: [0, 1]})  # site 0's chunk 2 exists but unlisted
    cfg = CrawlConfig(num_partitions=16, salt_buckets=4)
    engine = CrawlEngine(spark, SnapshotStore(tmp_path / "state"), pages, cfg)
    engine.bootstrap(seeds_df(spark, n_sites))
    engine.run()

    state_root = tmp_path / "state"

    def files_now():
        return {str(p): p.stat().st_size for p in state_root.rglob("*")
                if p.is_file()}

    before = files_now()
    table_bytes = sum(
        engine.store.table_bytes(t) for t in ("frontier", "url_seen", "documents"))

    # one-site epoch: manually add site 0's unlisted chunk and process it
    epoch = engine.store.read_manifest()["epoch"] + 1
    engine.add_manual_files(spark.createDataFrame(
        [{"site_url": site_host(0), "user_id": "test:user001",
          "file_url": chunk_url(0, 2), "schema_map": "manual"}]), epoch)
    engine.run()
    assert engine.url_seen().filter(
        F.col("file_url") == chunk_url(0, 2)).count() == ITEMS

    after = files_now()
    new_bucket_bytes = sum(
        sz for p, sz in after.items()
        if p not in before and "/b0" in p)  # bucket version dirs only
    # 1 site of 12 → ~8% of rows; parquet per-file floors make small buckets
    # relatively fat, so allow up to 35% — a full rewrite would be ~300%
    # (three tables) and the pre-fix engine rewrote everything every epoch
    assert new_bucket_bytes < table_bytes * 0.35, (
        f"one-site epoch wrote {new_bucket_bytes}B vs tables {table_bytes}B")


def test_delete_site_wipes_ids_and_documents(spark, tmp_path, small_corpus):
    """Site hard-delete (api.py:315-351, db.py:350-375): frontier rows, seen
    ids, exclusively-owned vector docs, and the seed all go; other sites'
    state is untouched (reference test_file_removal.py:235-279 analogue)."""
    pages, seeds = small_corpus
    engine = build_engine(spark, tmp_path, pages)
    engine.bootstrap(seeds)
    engine.run()
    seen_before, docs_before = engine_state(engine)

    victim = site_host(0)
    epoch = engine.store.read_manifest()["epoch"] + 1
    engine.delete_site(victim, "test:user001", epoch)

    seen, docs = engine_state(engine)
    assert all(victim not in f for f, _, _ in seen)
    assert len(seen) == len(seen_before) - CHUNKS * ITEMS
    assert all(victim not in d["url"] for d in docs.values())
    # every surviving doc existed before; only the victim's are gone
    assert set(docs) == {k for k, d in docs_before.items() if victim not in d["url"]}
    assert engine.frontier().filter(F.col("site_url") == victim).count() == 0
    seeds_left = engine.store.read(spark, "seeds").collect()
    assert victim not in {r["site_url"] for r in seeds_left}
    assert len(seeds_left) == N_SITES - 1
    assert_refcounts_consistent(engine)

    # re-add the site and crawl it again: its ids return to buckets whose
    # blobs still hold their stale bits, so only the exact anti-join keeps
    # the seen set right
    epoch = engine.store.read_manifest()["epoch"] + 1
    engine.add_manual_files(spark.createDataFrame(
        [{"site_url": victim, "user_id": "test:user001",
          "file_url": chunk_url(0, c), "schema_map": "manual"}
         for c in range(CHUNKS)]), epoch)
    engine.run()
    seen_again, docs_again = engine_state(engine)
    assert seen_again == seen_before
    assert set(docs_again) == set(docs_before)
    assert_seen_invariants(engine)


def assert_seen_invariants(engine):
    """Every url_seen bucket with rows has a Bloom blob, url_seen holds no
    duplicate keys, and refcounts equals url_seen grouped."""
    seen_buckets = {r["host_hash"] for r in
                    engine.url_seen().select("host_hash").distinct().collect()}
    blob_buckets = {r["host_hash"] for r in engine.store.read(
        engine.spark, "blooms").select("host_hash").collect()}
    assert seen_buckets <= blob_buckets, (
        f"url_seen buckets without a blob: {sorted(seen_buckets - blob_buckets)}")
    keys = engine.url_seen().select("file_url", "user_id", "id")
    assert keys.count() == keys.distinct().count(), "duplicate url_seen keys"
    assert_refcounts_consistent(engine)


def _page(url, body):
    from datetime import datetime, timezone

    return {"url": url, "warc_ts": datetime(2026, 1, 1, tzinfo=timezone.utc),
            "html": body if isinstance(body, bytes) else body.encode(),
            "text": "", "lang": "en"}


def test_error_history_records_and_clears(spark, tmp_path):
    """processing_errors analogue (db.py:126-168): fetch and extract failures
    carry their real error strings, newest-first top-k reads back, and a
    later successful process clears the file's history."""
    import json

    from crawler_spark.schema import PAGES

    base = "https://site00000.example.com"
    sitemap = ('<?xml version="1.0"?><urlset>'
               '<url contentType="schema.org/Thing"><loc>/chunk0.json</loc></url>'
               '<url contentType="schema.org/Thing"><loc>/chunk1.json</loc></url>'
               '<url contentType="schema.org/Thing"><loc>/chunk2.json</loc></url>'
               "</urlset>")
    good = json.dumps([{"@type": "Thing", "@id": f"{base}/chunk0.json#s-0", "name": "x"}])
    common = [
        _page(f"{base}/robots.txt", "User-agent: *\nSchemaMap: /schema_map.xml\n"),
        _page(f"{base}/schema_map.xml", sitemap),
        _page(f"{base}/chunk0.json", good),
        # chunk1: malformed JSON → extract_error; chunk2: absent → fetch_error
        _page(f"{base}/chunk1.json", "{not valid json"),
    ]
    pages = spark.createDataFrame(common, PAGES)
    engine = build_engine(spark, tmp_path, pages)
    engine.bootstrap(seeds_df(spark, 1))
    engine.run()

    hist = engine.error_history().collect()
    by_file = {}
    for r in hist:
        by_file.setdefault(r["file_url"], []).append(r)
    assert by_file[f"{base}/chunk1.json"][0]["error_type"] == "extract_error"
    assert "JSONDecodeError" in by_file[f"{base}/chunk1.json"][0]["error_message"]
    assert by_file[f"{base}/chunk2.json"][0]["error_type"] == "fetch_error"
    assert "HTTP 404" in by_file[f"{base}/chunk2.json"][0]["error_message"]
    assert f"{base}/chunk0.json" not in by_file  # clean file has no history
    # single-file filter mirrors get_file_errors(file_url, limit)
    only = engine.error_history(file_url=f"{base}/chunk2.json").collect()
    assert {r["file_url"] for r in only} == {f"{base}/chunk2.json"}
    # fetch failures exhausted the retry budget → error status
    row = engine.frontier().filter(F.col("file_url") == f"{base}/chunk2.json").collect()[0]
    assert row["status"] == "error"

    # phase 2: chunk1 becomes valid → success clears its error history
    good1 = json.dumps([{"@type": "Thing", "@id": f"{base}/chunk1.json#s-0", "name": "y"}])
    fixed = common[:3] + [_page(f"{base}/chunk1.json", good1)]
    engine2 = build_engine(spark, tmp_path, spark.createDataFrame(fixed, PAGES))
    engine2.store = engine.store
    epoch = engine.store.read_manifest()["epoch"] + 1
    # re-crawl chunk1 by re-queueing it (its status is done with the old body)
    engine2.add_manual_files(spark.createDataFrame(
        [{"site_url": "site00000.example.com", "user_id": "test:user001",
          "file_url": f"{base}/chunk1.json", "schema_map": "manual"}]), epoch)
    engine2.run()
    files_left = {r["file_url"] for r in engine2.error_history().collect()}
    assert f"{base}/chunk1.json" not in files_left  # cleared on success
    assert f"{base}/chunk2.json" in files_left      # still failing file retained


def test_http_fetch_kernel_matches_fetch_join(spark, small_corpus):
    """The production HTTP kernel (sources/http_fetch.py) is a drop-in for
    the fetch-join: identical bytes per url, explicit status/error rows for
    failures (reference worker.py:103-111 semantics)."""
    from datetime import datetime, timezone

    from crawler_spark.sources.http_fetch import fetch_pages, make_fetch_kernel  # noqa: F401
    from pyspark import cloudpickle

    pages, _ = small_corpus
    corpus = {r["url"]: bytes(r["html"]) for r in pages.collect()}

    def fake_transport_factory(corpus=corpus):
        calls = {"n": 0}

        def get(url):
            calls["n"] += 1
            body = corpus.get(url)
            if body is None:
                return 404, None, "HTTP 404"
            return 200, body, None

        return get

    ts = datetime(2026, 1, 1, tzinfo=timezone.utc)
    urls = sorted(corpus)[:5] + ["https://site00000.example.com/missing.json"]
    jobs = spark.createDataFrame(
        [{"file_url": u, "user_id": "test:user001",
          "site_url": "site00000.example.com", "queued_at": ts} for u in urls])

    fetched = {r["file_url"]: r for r in fetch_pages(jobs, fake_transport_factory).collect()}
    assert len(fetched) == 6
    for u in urls[:5]:
        assert bytes(fetched[u]["html"]) == corpus[u]
        assert fetched[u]["status_code"] == 200 and fetched[u]["fetch_error"] is None
    miss = fetched["https://site00000.example.com/missing.json"]
    assert miss["html"] is None and miss["status_code"] == 404
    assert miss["fetch_error"] == "HTTP 404"


def _frontier_family_bytes(store, num_partitions):
    """(pending_family_bytes, settled_family_bytes) of the live frontier."""
    pend = settled = 0
    for b, ver in store.bucket_versions("frontier").items():
        d = store._bucket_dir("frontier", int(b), int(ver))
        sz = sum(f.stat().st_size for f in d.rglob("*") if f.is_file())
        if int(b) < num_partitions:
            pend += sz
        else:
            settled += sz
    return pend, settled


def test_pending_selection_reads_o_pending(spark, tmp_path, small_corpus):
    """Epoch selection input must not grow with the done-row count: pending
    rows live in their own bucket family ([0, P)), so at fixed point (all
    rows done) the selection's readable bytes are ~zero while the settled
    family holds the table's mass. The analogue of
    test_epoch_write_amplification_is_bucket_local for the read side."""
    pages, seeds = small_corpus
    engine = build_engine(spark, tmp_path, pages)
    engine.bootstrap(seeds)
    engine.run()

    P = engine.cfg.num_partitions
    pend_bytes, settled_bytes = _frontier_family_bytes(engine.store, P)
    n_done = engine.frontier().filter(F.col("status") == "done").count()
    assert n_done == N_SITES * (CHUNKS + 0), "corpus fully crawled"
    assert settled_bytes > 0, "done rows must live in the settled family"
    # the pending family may keep empty version dirs; no parquet mass allowed
    assert pend_bytes < settled_bytes / 4, (
        f"pending family holds {pend_bytes}B vs settled {settled_bytes}B — "
        "selection would re-scan done rows")
    assert engine.pending_frontier().count() == 0
    # full view still sees everything (families are a layout, not a filter)
    assert engine.frontier().count() >= n_done


def test_unchanged_recrawl_skips_id_sinks(spark, tmp_path, small_corpus):
    """An epoch that re-processes byte-identical content produces empty id
    diffs and must leave url_seen / documents / refcounts / blooms at their
    current versions — only frontier, metrics (and errors) move."""
    pages, seeds = small_corpus
    engine = build_engine(spark, tmp_path, pages)
    engine.bootstrap(seeds)
    engine.run()

    def versions(name):
        return dict(engine.store.bucket_versions(name))

    before = {t: versions(t) for t in ("url_seen", "documents", "refcounts", "blooms")}
    f_before = versions("frontier")

    # re-queue one already-done file with unchanged body
    url = f"https://{site_host(0)}/chunk0.json"
    epoch = engine.store.read_manifest()["epoch"] + 1
    engine.add_manual_files(spark.createDataFrame(
        [{"site_url": site_host(0), "user_id": "test:user001",
          "file_url": url, "schema_map": "manual"}]), epoch)
    engine.run()

    for t, v in before.items():
        assert versions(t) == v, f"{t} buckets rewritten on a no-change epoch"
    assert versions("frontier") != f_before, "frontier transition must land"
    assert_refcounts_consistent(engine)


def test_engine_with_http_kernel_end_to_end(spark, tmp_path, small_corpus):
    """The engine runs with the production HTTP kernel swapped in for the
    pages join (CrawlEngine(fetcher=...)) and reaches the same final state;
    transport-reported failures (DNS, 5xx) surface verbatim in metrics and
    processing_errors instead of the stand-in's 404 literal."""
    from functools import partial

    from crawler_spark.sources.http_fetch import fetch_pages

    pages, seeds = small_corpus
    corpus = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    dns_victim = f"https://{site_host(1)}/chunk1.json"

    def fake_transport_factory(corpus=corpus, victim=dns_victim):
        def get(url):
            if url == victim:
                return 0, None, "ConnectionError: DNS lookup failed"
            body = corpus.get(url)
            if body is None:
                return 404, None, "HTTP 404"
            return 200, body, None

        return get

    engine = build_engine(
        spark, tmp_path / "kernel", pages,
    )
    engine._fetcher = partial(fetch_pages, transport_factory=fake_transport_factory)
    engine.bootstrap(seeds)
    engine.run()

    ref = build_engine(spark, tmp_path / "join", pages)
    ref.bootstrap(seeds)
    ref.run()

    got_seen, got_docs = engine_state(engine)
    want_seen, want_docs = engine_state(ref)
    victim_ids = {k for k in want_seen if k[0] == dns_victim}
    assert got_seen == want_seen - victim_ids
    assert set(got_docs) == {
        k for k, d in want_docs.items() if d["url"].rsplit("#", 1)[0] != dns_victim}

    # real transport status/error in metrics, not a synthesized 404
    m = engine.store.read_appended(spark, "metrics").filter(
        F.col("url") == dns_victim).orderBy("epoch").collect()
    assert m and all(r["status_code"] == 0 for r in m)
    assert all(r["error"] == "ConnectionError: DNS lookup failed" for r in m)
    hist = engine.error_history(file_url=dns_victim).collect()
    assert hist and hist[0]["error_type"] == "fetch_error"
    assert hist[0]["error_message"] == "ConnectionError: DNS lookup failed"


def test_vector_count_and_queue_history_readers(spark, tmp_path, small_corpus):
    """The two ops readers over the live store: per-site vector counts
    (reference vector_db.py:368-388 / api.py:448-473) and the reconstructed
    queue send/ack/nack history (master.py:14-31 / api.py:842-865)."""
    pages, seeds = small_corpus
    engine = build_engine(spark, tmp_path, pages)
    engine.bootstrap(seeds)
    engine.run()

    counts = {r["site"]: r["vector_count"]
              for r in engine.vector_count_by_site().collect()}
    # every site indexed CHUNKS*ITEMS ids minus its breadcrumb-skipped ones;
    # cross-check against the documents table itself
    want = {r["site"]: r["n"] for r in engine.documents().groupBy("site")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == want and len(counts) == N_SITES

    hist = engine.queue_history(n=500).collect()
    assert 0 < len(hist) <= 500
    ops = {r["operation"] for r in hist}
    assert "send" in ops and "ack" in ops
    # newest-first ordering
    ts = [r["ts"] for r in hist]
    assert ts == sorted(ts, reverse=True)
    # every fetched file has an ack newer than (or equal to) its send
    one = next(r["url"] for r in hist if r["operation"] == "ack")
    per_url = [r for r in hist if r["url"] == one]
    assert {r["operation"] for r in per_url} >= {"send", "ack"}
    assert engine.queue_history(n=3).count() == 3


def test_engine_runs_on_txnlog_store(spark, tmp_path, small_corpus):
    """Seam proof: the full crawl (bootstrap → epochs → resume) runs
    unchanged on the Delta-style transaction-log backend and lands in the
    same final state as the parquet-manifest backend."""
    from crawler_spark.sources.txnlog import TxnLogStore
    from crawler_spark.crawl import CrawlConfig, CrawlEngine

    pages, seeds = small_corpus
    ref = build_engine(spark, tmp_path / "ref", pages)
    ref.bootstrap(seeds)
    ref.run()
    want_seen, want_docs = engine_state(ref)

    cfg = CrawlConfig(num_partitions=8, salt_buckets=4)
    eng = CrawlEngine(spark, TxnLogStore(tmp_path / "txn" / "state"), pages, cfg)
    eng.bootstrap(seeds)
    eng.run()
    got_seen, got_docs = engine_state(eng)
    assert got_seen == want_seen
    assert set(got_docs) == set(want_docs)
    # resume path folds state from the log, not a mutable manifest
    resumed = CrawlEngine(
        spark, TxnLogStore(tmp_path / "txn" / "state"), pages, cfg)
    assert resumed.store.read_manifest()["epoch"] == eng.store.read_manifest()["epoch"]
    assert (tmp_path / "txn" / "state" / "_txn_log").exists()
    assert not (tmp_path / "txn" / "state" / "MANIFEST.json").exists()


def test_num_partitions_mismatch_fails_fast(spark, tmp_path, small_corpus):
    """The bucket modulus and the seen-filter kind are pinned in the
    manifest at bootstrap; reopening the store with a different
    num_partitions must refuse (silently misrouted bucket reads/writes would
    drop rows), and so must a store whose layout record is missing or
    names a non-Bloom filter."""
    from crawler_spark.crawl import CrawlConfig, CrawlEngine
    from crawler_spark.sources.tables import SnapshotStore

    pages, seeds = small_corpus
    engine = build_engine(spark, tmp_path, pages)
    engine.bootstrap(seeds)

    with pytest.raises(ValueError, match="num_partitions"):
        CrawlEngine(spark, SnapshotStore(tmp_path / "state"), pages,
                    CrawlConfig(num_partitions=engine.cfg.num_partitions * 2))

    # a store with a frontier whose layout record is missing or names
    # another pre-filter kind is refused too, naming the field
    for key, value in [("num_partitions", None),
                       ("seen_filter_kind", None),
                       ("seen_filter_kind", "none")]:
        store = SnapshotStore(tmp_path / "state")
        good = store.get_meta(key)
        store.set_meta(**{key: value})
        with pytest.raises(ValueError, match=key):
            CrawlEngine(spark, store, pages, engine.cfg)
        store.set_meta(**{key: good})
    CrawlEngine(spark, SnapshotStore(tmp_path / "state"), pages, engine.cfg)


def test_resume_from_checkpoint(spark, tmp_path, small_corpus):
    """Kill after the first epoch; a fresh engine must finish identically."""
    pages, seeds = small_corpus

    full = build_engine(spark, tmp_path / "a", pages, per_host_budget=2)
    full.bootstrap(seeds)
    full.run()
    want_seen, want_docs = engine_state(full)

    part = build_engine(spark, tmp_path / "b", pages, per_host_budget=2)
    part.bootstrap(seeds)
    part.discover(0)
    part.run_epoch(0)  # "crash" here: abandon this engine object

    resumed = build_engine(spark, tmp_path / "b", pages, per_host_budget=2)
    resumed.run()  # picks up from the manifest
    got_seen, got_docs = engine_state(resumed)

    assert got_seen == want_seen
    assert set(got_docs) == set(want_docs)
    assert resumed.store.read_manifest()["epoch"] >= 1


def test_epoch_counters_need_no_actions(spark, tmp_path, small_corpus, monkeypatch):
    """Every EpochReport counter (and discover's (added, removed)) comes from
    a job or parquet footer the epoch already runs: with ``DataFrame.count``
    disabled the crawl still runs (a 404 manual file and a manual removal
    included), every counter is known, and the summed counters agree with
    the committed state."""
    from crawler_spark.sources.synth import chunk_url

    pages, seeds = small_corpus
    engine = build_engine(spark, tmp_path, pages)
    engine.bootstrap(seeds)

    def no_count(self):
        raise AssertionError("an epoch counter ran a DataFrame.count() job")

    with monkeypatch.context() as m:
        for cls in type(pages).__mro__:  # the concrete class overrides count
            if "count" in vars(cls):
                m.setattr(cls, "count", no_count)
        assert engine.discover(0) == (N_SITES * CHUNKS, 0)
        reports = engine.run()
        epoch = engine.store.read_manifest()["epoch"] + 1
        engine.add_manual_files(spark.createDataFrame(
            [{"site_url": site_host(0), "user_id": "test:user001",
              "file_url": f"https://{site_host(0)}/missing.json",
              "schema_map": "manual_test"}]), epoch)
        engine.remove_manual_files(spark.createDataFrame(
            [{"file_url": chunk_url(1, 0), "user_id": "test:user001"}]), epoch)
        reports += engine.run()

    fields = ("selected", "fetched_ok", "fetch_failed", "ids_extracted",
              "ids_added", "ids_removed")
    assert all(getattr(r, f) >= 0 for r in reports for f in fields)
    total = {f: sum(getattr(r, f) for r in reports) for f in fields}

    seen_rows = len(engine.url_seen().collect())
    assert total["ids_added"] - total["ids_removed"] == seen_rows
    assert total["ids_removed"] == ITEMS  # the removed file's ids

    frontier = engine.frontier()
    done_files = frontier.filter(
        (F.col("job_type") == "process_file") & (F.col("status") == "done"))
    assert total["fetched_ok"] == len(done_files.collect()) == N_SITES * CHUNKS

    metrics = engine.store.read_appended(spark, "metrics").collect()
    removals_run = frontier.filter(
        (F.col("job_type") == "process_removed_file")
        & (F.col("status") == "done")).collect()
    assert len(removals_run) == 1
    assert total["selected"] == len(metrics) + len(removals_run)
    # the missing file fails once per retry until it settles as an error
    assert total["fetch_failed"] == sum(
        r["status_code"] == 404 for r in metrics) == 3
    assert total["ids_extracted"] == sum(r["num_ids_extracted"] for r in metrics)


# -- merge-on-read documents: churn, compaction, spread churn, crash resume --

USER = "test:user001"


class SimulatedCrash(RuntimeError):
    pass


def _churned(pages, tag):
    """``pages`` with every ``@id`` of site 0's chunk files replaced."""
    body = F.decode(F.col("html"), "utf-8")
    return pages.withColumn("html", F.when(
        F.col("url").startswith(f"https://{site_host(0)}/chunk"),
        F.encode(F.regexp_replace(body, "#schema-", f"#schema{tag}-"), "utf-8"),
    ).otherwise(F.col("html")))


def _recrawl_site0(spark, store, pages, cfg):
    """Re-queue every chunk file of site 0 and crawl to fixed point."""
    engine = CrawlEngine(spark, store, pages, cfg)
    epoch = store.read_manifest()["epoch"] + 1
    engine.add_manual_files(spark.createDataFrame(
        [{"site_url": site_host(0), "user_id": USER,
          "file_url": chunk_url(0, c), "schema_map": "manual"}
         for c in range(CHUNKS)]), epoch)
    engine.run()
    return engine


def _doc_bucket(spark, host, num_partitions):
    return str(spark.createDataFrame([(host,)], "h string").select(
        F.pmod(F.hash("h"), F.lit(num_partitions)).alias("b")).first()["b"])


def frontier_state(engine):
    return sorted(
        (r["file_url"], r["job_type"], r["status"], r["is_active"],
         r["number_of_items"]) for r in engine.frontier().collect())


def assert_matches_oracle(engine, pages):
    """url_seen, documents (keys + essential text), the live files' frontier
    rows and refcounts equal the plain-Python oracle's crawl of ``pages``."""
    oracle = crawl_fixed_point(
        pages_dict(pages.collect()),
        [(site_host(i), USER) for i in range(N_SITES)])
    seen, docs = engine_state(engine)
    assert seen == oracle.url_seen
    assert {k: d["essential_text"] for k, d in docs.items()} == {
        k: d["essential_text"] for k, d in oracle.documents.items()}
    live_files = {r["file_url"]: r["number_of_items"] for r in engine.frontier()
                  .filter((F.col("job_type") == "process_file")
                          & F.col("is_active") & (F.col("status") == "done"))
                  .collect()}
    assert live_files == {k[0]: v["n_items"] for k, v in oracle.files.items()
                          if v["active"]}
    assert_refcounts_consistent(engine)


STORES = [pytest.param(SnapshotStore, id="parquet"),
          pytest.param(TxnLogStore, id="txnlog")]


def _crawl(spark, store, pages, seeds):
    engine = CrawlEngine(spark, store, pages,
                         CrawlConfig(num_partitions=8, salt_buckets=4))
    engine.bootstrap(seeds)
    engine.run()
    return engine


@pytest.mark.parametrize("store_cls", STORES)
def test_churn_forces_compaction_and_matches_oracle(
        spark, tmp_path, small_corpus, store_cls):
    """Re-crawling site 0 with every id replaced puts a delta (its new docs
    and the old ones' delete keys) on its documents bucket; doing it again
    finds the chain due and compacts it back to one base. Frontier,
    url_seen, documents and refcounts match the oracle throughout."""
    pages, seeds = small_corpus
    engine = _crawl(spark, store_cls(tmp_path / "state"), pages, seeds)
    store, cfg = engine.store, engine.cfg
    b = _doc_bucket(spark, site_host(0), cfg.num_partitions)
    assert len(store.bucket_chains("documents")[b]) == 1

    pages_a = _churned(pages, "A")
    assert_matches_oracle(_recrawl_site0(spark, store, pages_a, cfg), pages_a)
    chain = store.bucket_chains("documents")[b]
    assert len(chain) == 2 and chain[1]["deletes"] == CHUNKS * ITEMS

    pages_b = _churned(pages, "B")
    assert_matches_oracle(_recrawl_site0(spark, store, pages_b, cfg), pages_b)
    compacted = store.bucket_chains("documents")[b]
    assert len(compacted) == 1 and compacted[0]["v"] > chain[-1]["v"]
    assert compacted[0]["deletes"] == 0


@pytest.mark.parametrize("store_cls", STORES)
def test_crash_around_documents_write_resumes(
        spark, tmp_path, small_corpus, store_cls):
    """A crash between the documents write and the epoch's commit — after a
    delta write, inside a compaction's read-back, and after a compacted base
    was written — resumes, with a fresh engine and store handle, to the
    uninterrupted run's state and the oracle's."""
    pages, seeds = small_corpus
    pages_a, pages_b = _churned(pages, "A"), _churned(pages, "B")
    ref = _crawl(spark, store_cls(tmp_path / "ref"), pages, seeds)
    cfg = ref.cfg
    # the crashing run starts from a hard-linked copy of the cold crawl:
    # a store never modifies a file in place
    root = tmp_path / "state"
    shutil.copytree(tmp_path / "ref", root, copy_function=os.link)
    _recrawl_site0(spark, ref.store, pages_a, cfg)
    ref = _recrawl_site0(spark, ref.store, pages_b, cfg)

    def crash_after_write():
        store = store_cls(root)
        real = store.replace_buckets_task_write

        def write_then_crash(*args, **kwargs):
            real(*args, **kwargs)
            raise SimulatedCrash("after the documents write")
        store.replace_buckets_task_write = write_then_crash
        return store

    def crash_in_compaction():
        store = store_cls(root)
        real = store.read_buckets

        def read(spark_, name, *args, **kwargs):
            if name == "documents":  # only a compaction reads documents
                raise SimulatedCrash("inside the compaction")
            return real(spark_, name, *args, **kwargs)
        store.read_buckets = read
        return store

    with pytest.raises(SimulatedCrash):  # recrawl 1: a delta
        _recrawl_site0(spark, crash_after_write(), pages_a, cfg)
    CrawlEngine(spark, store_cls(root), pages_a, cfg).run()

    with pytest.raises(SimulatedCrash):  # recrawl 2: a compaction
        _recrawl_site0(spark, crash_in_compaction(), pages_b, cfg)
    with pytest.raises(SimulatedCrash):
        CrawlEngine(spark, crash_after_write(), pages_b, cfg).run()
    got = CrawlEngine(spark, store_cls(root), pages_b, cfg)
    got.run()

    b = _doc_bucket(spark, site_host(0), cfg.num_partitions)
    assert len(got.store.bucket_chains("documents")[b]) == 1
    assert engine_state(got) == engine_state(ref)
    assert frontier_state(got) == frontier_state(ref)
    assert_matches_oracle(got, pages_b)


#: Spark jobs of the working re-crawl epoch below, as measured. The
#: selection's size and touched hosts and the touched doc buckets come from
#: scratch columns driver-side, a documents delta reads no old docs, and
#: every store read passes its pinned schema, so none of them costs a job.
WORKING_EPOCH_JOBS = 47


def test_working_epoch_job_budget(spark, tmp_path, small_corpus):
    """One working re-crawl epoch (ids added and removed; url_seen, blooms,
    refcounts and documents written) launches at most ``WORKING_EPOCH_JOBS``
    Spark jobs, counted with ``statusTracker``."""
    pages, seeds = small_corpus
    engine = _crawl(spark, SnapshotStore(tmp_path / "state"), pages, seeds)
    churned = CrawlEngine(spark, engine.store, _churned(pages, "A"), engine.cfg)
    epoch = engine.store.read_manifest()["epoch"] + 1
    churned.add_manual_files(spark.createDataFrame(
        [{"site_url": site_host(0), "user_id": USER,
          "file_url": chunk_url(0, c), "schema_map": "manual"}
         for c in range(CHUNKS)]), epoch)
    churned.discover(epoch + 1)

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    rep = churned.run_epoch(epoch + 1)
    jobs = len(set(tracker.getJobIdsForGroup(None)) - before)
    assert rep.ids_added == rep.ids_removed == CHUNKS * ITEMS
    assert jobs <= WORKING_EPOCH_JOBS, f"working epoch ran {jobs} Spark jobs"


#: Spark jobs of a first ``discover(0)`` on the small corpus, as measured;
#: the counts and touched hosts come from the pinned diff's columns
COLD_DISCOVER_JOBS = 16


def test_cold_discover_job_budget(spark, tmp_path, small_corpus):
    """A first ``discover(0)`` (robots and sitemap fetch, the diff against
    an empty frontier, the frontier, seeds and robots writes) launches at
    most ``COLD_DISCOVER_JOBS`` Spark jobs, counted with ``statusTracker``.
    The engine that joined due sites straight onto the pages table, cached
    three diff projections and inferred every read's schema ran 30."""
    pages, seeds = small_corpus
    engine = build_engine(spark, tmp_path, pages)
    engine.bootstrap(seeds)

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    added_removed = engine.discover(0)
    jobs = len(set(tracker.getJobIdsForGroup(None)) - before)
    assert added_removed == (N_SITES * CHUNKS, 0)
    assert jobs <= COLD_DISCOVER_JOBS, f"cold discover ran {jobs} Spark jobs"


def _discovered(spark, tmp_path, small_corpus):
    """An engine over the small corpus after its first ``discover``, and the
    frames that add one file of site 0 and remove one of site 1."""
    pages, seeds = small_corpus
    engine = build_engine(spark, tmp_path, pages)
    engine.bootstrap(seeds)
    engine.discover(0)
    add = spark.createDataFrame(
        [{"site_url": site_host(0), "user_id": USER,
          "file_url": chunk_url(0, 1), "schema_map": "manual"}])
    remove = spark.createDataFrame([{"file_url": chunk_url(1, 0), "user_id": USER}])
    return engine, add, remove


def test_manual_file_ops_read_only_their_hosts(spark, tmp_path, small_corpus):
    """``add_manual_files`` and ``remove_manual_files`` never read the whole
    frontier: a spy on the store instance sees each read only both status
    families of its keys' host buckets."""
    engine, add, remove = _discovered(spark, tmp_path, small_corpus)
    p = engine.cfg.num_partitions
    host = {r["file_url"]: r["host_hash"] for r in engine.frontier().collect()}
    reads = []
    real = engine.store.read_buckets

    def spy(spark_, name, *args, **kwargs):
        if name == "frontier":
            only = kwargs.get("only", args[0] if args else None)
            reads.append(None if only is None else sorted(only))
        return real(spark_, name, *args, **kwargs)
    engine.store.read_buckets = spy

    engine.add_manual_files(add, 1)
    engine.remove_manual_files(remove, 1)
    h_add, h_rm = host[chunk_url(0, 1)], host[chunk_url(1, 0)]
    assert reads == [[h_add, h_add + p], [h_rm, h_rm + p]]

    engine.store.read_buckets = real
    rows = {(r["file_url"], r["job_type"]): r for r in engine.frontier().collect()}
    added = rows[(chunk_url(0, 1), "process_file")]
    assert added["is_manual"] and added["is_active"] and added["status"] == "pending"
    assert not rows[(chunk_url(1, 0), "process_file")]["is_active"]
    assert rows[(chunk_url(1, 0), "process_removed_file")]["status"] == "pending"


#: Spark jobs of adding one file and of removing one on the discovered small
#: corpus, as measured. The engine that read the whole frontier and
#: collected the touched hosts off a join ran 8 and 7.
MANUAL_ADD_JOBS = 5
MANUAL_REMOVE_JOBS = 6


def test_manual_file_ops_job_budget(spark, tmp_path, small_corpus):
    """Adding one file and removing one launch at most ``MANUAL_ADD_JOBS``
    and ``MANUAL_REMOVE_JOBS`` Spark jobs, counted with ``statusTracker``."""
    engine, add, remove = _discovered(spark, tmp_path, small_corpus)
    tracker = spark.sparkContext.statusTracker()
    counts = []
    for op, frame in ((engine.add_manual_files, add),
                      (engine.remove_manual_files, remove)):
        before = set(tracker.getJobIdsForGroup(None))
        op(frame, 1)
        counts.append(len(set(tracker.getJobIdsForGroup(None)) - before))
    assert counts[0] <= MANUAL_ADD_JOBS, f"add ran {counts[0]} Spark jobs"
    assert counts[1] <= MANUAL_REMOVE_JOBS, f"remove ran {counts[1]} Spark jobs"


def test_spread_churn_writes_only_new_docs(spark, tmp_path):
    """One changed file on every site, so every documents bucket churns:
    the documents bytes an epoch writes (new docs plus delete keys) stay
    within twice the new docs' own bytes. Rewriting the touched buckets
    would move every unchanged doc with them (here 4x the new docs)."""
    n_sites, chunks = 16, 4
    pages = corpus_pages_df(spark, n_sites, chunks, items_per_chunk=ITEMS)
    cfg = CrawlConfig(num_partitions=8, salt_buckets=4)
    engine = CrawlEngine(spark, SnapshotStore(tmp_path / "state"), pages, cfg)
    engine.bootstrap(seeds_df(spark, n_sites))
    engine.run()

    changed = [chunk_url(s, 0) for s in range(n_sites)]
    body = F.decode(F.col("html"), "utf-8")
    pages_b = pages.withColumn("html", F.when(
        F.col("url").isin(changed),
        F.encode(F.regexp_replace(body, "#schema-", "#schemaX-"), "utf-8"),
    ).otherwise(F.col("html")))
    docs_root = tmp_path / "state" / "documents"
    before = {str(f) for f in docs_root.rglob("*.parquet")}
    vers_before = engine.store.bucket_versions("documents")

    engine_b = CrawlEngine(spark, engine.store, pages_b, cfg)
    epoch = engine.store.read_manifest()["epoch"] + 1
    engine_b.add_manual_files(spark.createDataFrame(
        [{"site_url": site_host(s), "user_id": USER, "file_url": url,
          "schema_map": "manual"} for s, url in enumerate(changed)]), epoch)
    engine_b.run()

    vers_after = engine.store.bucket_versions("documents")
    assert {b for b, v in vers_after.items() if vers_before[b] != v} == set(
        vers_before), "the churn must reach every documents bucket"
    written = sum(f.stat().st_size for f in docs_root.rglob("*.parquet")
                  if str(f) not in before)
    new_docs = engine_b.documents().filter(F.col("url").contains("#schemaX-"))
    new_bytes = new_docs.select(F.sum(
        F.octet_length("id") + F.octet_length("url") + F.octet_length("site")
        + F.octet_length("type") + F.octet_length("content")
        + F.octet_length("essential_text") + F.octet_length("embedding")
    )).first()[0]
    assert new_docs.count() > 0
    assert written <= 2 * new_bytes, (
        f"documents wrote {written}B for {new_bytes}B of new docs")
    assert_refcounts_consistent(engine_b)


def test_politeness_budget_and_order(spark, tmp_path):
    """budget=1 → one fetch per host per epoch, FIFO (queued_at, file_url)."""
    pages = corpus_pages_df(spark, 1, 4, items_per_chunk=2)
    seeds = seeds_df(spark, 1)
    engine = build_engine(spark, tmp_path, pages, per_host_budget=1)
    engine.bootstrap(seeds)
    reports = engine.run()

    fetch_epochs = [r for r in reports if r.fetched_ok > 0]
    assert all(r.fetched_ok == 1 for r in fetch_epochs)
    assert len(fetch_epochs) == 4

    # crawl order = (epoch, queued_at, file_url): chunk files in url order
    metrics = engine.store.read_appended(spark, "metrics")
    ordered = [
        r["url"] for r in metrics.filter(F.col("status_code") == 200)
        .orderBy("epoch", "ts", "url").collect()
    ]
    assert ordered == sorted(ordered[:1]) + sorted(ordered[1:])  # epochs ascend
    expected = [f"https://{site_host(0)}/chunk{i}.json" for i in range(4)]
    assert ordered == expected


def test_http_kernel_paces_same_host_requests():
    """r4 verdict #5: budget-per-epoch alone lets a host's whole budget
    burst in seconds. The kernel must space same-host requests >= the
    row's robots crawl_delay_s, across batch boundaries, while hosts with
    no delay proceed unthrottled. Fake clock: no real sleeping."""
    import pandas as pd

    from crawler_spark.sources.http_fetch import make_fetch_kernel

    class FakeClock:
        def __init__(self):
            self.t = 0.0

        def now(self):
            return self.t

        def sleep(self, s):
            assert s > 0
            self.t += s

    clk = FakeClock()
    starts = []

    def factory():
        def get(url):
            host = url.split("/")[2]
            starts.append((host, clk.t))
            clk.t += 0.2  # the fetch itself takes 0.2 s
            return 200, b"x", None

        return get

    def batch(rows):
        return pd.DataFrame(
            [{"file_url": u, "user_id": "u", "site_url": "s",
              "queued_at": pd.Timestamp("2026-01-01"),
              "crawl_delay_s": d} for u, d in rows])

    kernel = make_fetch_kernel(factory, clock=clk.now, sleep=clk.sleep)
    out = list(kernel(iter([
        batch([("https://slow.com/1", 2.0), ("https://fast.com/1", None),
               ("https://fast.com/2", None), ("https://slow.com/2", 2.0)]),
        # second batch: the per-host clock must carry over
        batch([("https://slow.com/3", 2.0), ("https://fast.com/3", None)]),
    ])))

    slow = [t for h, t in starts if h == "slow.com"]
    fast = [t for h, t in starts if h == "fast.com"]
    assert len(slow) == 3 and len(fast) == 3
    gaps = [b - a for a, b in zip(slow, slow[1:])]
    assert all(g >= 2.0 for g in gaps), f"same-host spacing violated: {gaps}"
    # the no-delay host was never throttled on its own account: its fetches
    # only move with time already spent, never with an added sleep of its own
    fgaps = [b - a for a, b in zip(fast, fast[1:])]
    assert min(fgaps) < 2.0, f"no-delay host was over-throttled: {fgaps}"
    assert sum(len(p) for p in out) == 6
    assert all(set(p.columns) == {"file_url", "user_id", "site_url",
                                  "queued_at", "html", "status_code",
                                  "fetch_error"} for p in out)
