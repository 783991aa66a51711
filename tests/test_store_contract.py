"""Seam contract for the state-store backend (``sources/tables.py``).

The engine's only state dependency is the ``SnapshotStore`` interface; a
real deployment swaps the parquet snapshot implementation for an Iceberg
(or Delta) catalog — MERGE semantics per reference ``code/core/db.py:
205-213`` — without touching the engine. This suite pins the behaviors the
engine relies on, parametrized over every available backend, so the swap
is provably drop-in: implement the same surface, add a fixture param, run
this file.

Contract surface exercised (exactly what ``CrawlEngine`` calls):
  write/commit/read visibility · bucket-level replace with per-bucket
  versioning and O(touched) reads · merge-on-read bucket chains (delete-key
  sequence rule, compaction) · crash re-run overwrite · append-only parts ·
  manifest meta pinning · current-state-only manifest · footer null counts
  · vacuum retention of live chains and stage-dir sweep · schema-pinned
  reads that launch no Spark job.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark.sources.tables import DELETES_DIR, SnapshotStore, empty_frame
from crawler_spark.sources.txnlog import TxnLogStore

BACKENDS = [
    "parquet",
    "txnlog",
    pytest.param(
        "iceberg",
        marks=pytest.mark.skip(
            reason="no Iceberg runtime jars in this sandbox; implement an "
            "IcebergSnapshotStore with the same surface and register it here"),
    ),
]


@pytest.fixture(params=BACKENDS)
def make_store(request, tmp_path):
    cls = {"parquet": SnapshotStore, "txnlog": TxnLogStore}.get(request.param)
    if cls is None:
        raise NotImplementedError(request.param)

    def factory(name="s"):
        return cls(tmp_path / name)
    return factory


def _df(spark, rows):
    return spark.createDataFrame(
        [{"host_hash": h, "k": k, "v": v} for h, k, v in rows],
        "host_hash int, k string, v long")


def test_write_invisible_until_commit(spark, make_store):
    store = make_store()
    v0 = store.write(_df(spark, [(0, "a", 1)]), "t")
    assert not store.exists("t"), "uncommitted write must be invisible"
    store.commit(0, {"t": v0})
    assert store.exists("t")
    assert store.read(spark, "t").count() == 1

    # next version: invisible until its own commit (snapshot isolation)
    v1 = store.write(_df(spark, [(0, "a", 1), (1, "b", 2)]), "t")
    assert store.read(spark, "t").count() == 1
    store.commit(1, {"t": v1})
    assert store.read(spark, "t").count() == 2
    assert store.read_manifest()["epoch"] == 1


def test_bucket_replace_is_bucket_local(spark, make_store):
    store = make_store()
    base = _df(spark, [(b, f"k{b}{i}", i) for b in range(4) for i in range(10)])
    store.commit(0, {"t": store.replace_buckets(base, "t", [0, 1, 2, 3])})
    v_before = dict(store.bucket_versions("t"))

    # replace bucket 1 only; rows of other buckets in df are filtered out
    newb1 = _df(spark, [(1, "k1x", 99), (3, "stray", 0)])
    store.commit(1, {"t": store.replace_buckets(newb1, "t", [1])})
    v_after = dict(store.bucket_versions("t"))
    assert v_after["1"] == v_before["1"] + 1
    assert all(v_after[b] == v_before[b] for b in v_before if b != "1")

    rows = {(r["host_hash"], r["k"]) for r in store.read(spark, "t").collect()}
    assert (1, "k1x") in rows
    assert not any(h == 1 and k.startswith("k1") and k != "k1x" for h, k in rows)
    assert (3, "stray") not in rows, "rows outside touched buckets must be dropped"
    assert sum(1 for h, _ in rows if h == 3) == 10, "untouched bucket intact"

    # O(touched) read: only= returns exactly the requested buckets' rows
    only = store.read_buckets(spark, "t", only=[0, 2])
    assert {r["host_hash"] for r in only.collect()} == {0, 2}

    # emptying a bucket needs no tombstones
    store.commit(2, {"t": store.replace_buckets(
        _df(spark, []), "t", [0])})
    assert store.read_buckets(spark, "t", only=[0]).count() == 0
    assert store.read(spark, "t").count() > 0


def test_crash_rerun_overwrites_uncommitted_version(spark, make_store):
    """A crashed epoch leaves an uncommitted snapshot dir; the re-run must
    overwrite it and land cleanly (idempotent epoch re-execution — the
    engine's whole recovery story, SURVEY §2.8 T2)."""
    store = make_store()
    store.commit(0, {"t": store.write(_df(spark, [(0, "a", 1)]), "t")})
    # "crash": write v1 twice without commit in between
    store.write(_df(spark, [(0, "crashed", 0)]), "t")
    v1 = store.write(_df(spark, [(0, "rerun", 7)]), "t")
    store.commit(1, {"t": v1})
    assert [r["k"] for r in store.read(spark, "t").collect()] == ["rerun"]

    # same for bucketed tables
    store.commit(2, {"b": store.replace_buckets(_df(spark, [(0, "x", 1)]), "b", [0])})
    store.replace_buckets(_df(spark, [(0, "crashed", 0)]), "b", [0])  # no commit
    store2 = make_store()  # fresh handle, same root: resume path
    store2.commit(3, {"b": store2.replace_buckets(_df(spark, [(0, "ok", 2)]), "b", [0])})
    assert [r["k"] for r in store2.read(spark, "b").collect()] == ["ok"]


def test_append_only_parts_union_at_read(spark, make_store):
    store = make_store()
    assert not store.has_appended("m")
    store.append(_df(spark, [(0, "e0", 0)]), "m", "000000")
    store.append(_df(spark, [(0, "e1", 1)]), "m", "000001")
    assert store.has_appended("m")
    got = {r["k"] for r in store.read_appended(spark, "m").collect()}
    assert got == {"e0", "e1"}
    # re-running a crashed epoch overwrites its own part, never duplicates
    store.append(_df(spark, [(0, "e1b", 1)]), "m", "000001")
    got = {r["k"] for r in store.read_appended(spark, "m").collect()}
    assert got == {"e0", "e1b"}


def test_meta_pins_layout_invariants(make_store):
    store = make_store()
    assert store.get_meta("num_partitions") is None
    store.set_meta(num_partitions=8, bucket_col="host_hash")
    assert store.get_meta("num_partitions") == 8
    assert store.get_meta("bucket_col") == "host_hash"
    # meta survives commits
    store.commit(0, {})
    assert store.get_meta("num_partitions") == 8


def test_vacuum_keeps_live_versions(spark, make_store):
    store = make_store()
    for e in range(4):
        store.commit(e, {"t": store.write(_df(spark, [(0, f"v{e}", e)]), "t")})
    store.vacuum(keep_last=1)
    assert [r["k"] for r in store.read(spark, "t").collect()] == ["v3"]


def test_vacuum_removes_crashed_stage_dirs(spark, make_store):
    """A bucket write that crashed before its rename leaves
    ``<table>/stage-<ns>/`` behind; vacuum (run between epochs) removes it
    and committed buckets still read."""
    store = make_store()
    base = _df(spark, [(b, f"k{b}", b) for b in range(3)])
    store.commit(0, {"t": store.replace_buckets(base, "t", [0, 1, 2])})
    leftover = store.root / "t" / "stage-123"
    (leftover / "_b=1").mkdir(parents=True)
    (leftover / "_b=1" / "part-0.parquet").write_bytes(b"partial")
    store.vacuum()
    assert not leftover.exists()
    assert sorted(r["k"] for r in store.read(spark, "t").collect()) == ["k0", "k1", "k2"]


def test_manifest_size_independent_of_epoch_count(make_store):
    """The manifest holds current state only: committing the same table set
    again and again leaves it the same size (no per-commit history)."""
    import json

    store = make_store()
    tables = {"t": 0, "b": {"buckets": {"0": 3, "1": 5}}}
    sizes = {}
    for n, epoch in enumerate(range(10, 40), start=1):
        store.commit(epoch, tables)
        sizes[n] = len(json.dumps(store.read_manifest()))
    assert "lineage" not in store.read_manifest()
    assert sizes[10] == sizes[30]


def test_null_counts_unknown_without_statistics(make_store):
    """A scratch column whose parquet footer carries no statistics reports
    ``None`` (unknown), not 0 nulls; with statistics the count is exact."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    store = make_store()
    tbl = pa.table({"a": ["x", None, None], "b": [1, 2, None]})
    for name, stats in (("bare", False), ("stats", True)):
        d = store.root / "scratch" / name
        d.mkdir(parents=True)
        pq.write_table(tbl, str(d / "part-0.parquet"), write_statistics=stats)
    assert store.scratch_null_counts("bare", ["a", "b"]) == {"a": None, "b": None}
    assert store.scratch_null_counts("stats", ["a", "b"]) == {"a": 2, "b": 1}
    assert store.scratch_rows("bare") == 3


# -- txn-log-specific behaviors (the Delta-shaped commit protocol) ----------


def test_txnlog_optimistic_concurrency(spark, tmp_path):
    """Two handles racing commits must both land (distinct sequence numbers,
    both visible after fold) — the log claim is atomic, not last-writer-wins."""
    a = TxnLogStore(tmp_path / "s")
    b = TxnLogStore(tmp_path / "s")
    va = a.write(_df(spark, [(0, "a", 1)]), "ta")
    vb = b.write(_df(spark, [(0, "b", 2)]), "tb")
    a.commit(0, {"ta": va})
    b.commit(1, {"tb": vb})  # b's handle never saw a's commit; fold merges
    fresh = TxnLogStore(tmp_path / "s")
    assert fresh.exists("ta") and fresh.exists("tb")
    assert fresh.read_manifest()["epoch"] == 1


def test_txnlog_checkpoint_bounds_replay(spark, tmp_path):
    store = TxnLogStore(tmp_path / "s")
    for e in range(12):
        store.commit(e, {"t": store.write(_df(spark, [(0, f"v{e}", e)]), "t")})
    cps = list((tmp_path / "s" / "_txn_log").glob("checkpoint-*.json"))
    assert cps, "no checkpoint written after 12 commits"
    # a cold handle folds from the checkpoint and sees identical state
    cold = TxnLogStore(tmp_path / "s")
    assert cold.read_manifest() == store.read_manifest()
    assert [r["k"] for r in cold.read(spark, "t").collect()] == ["v11"]


def _keys(spark, rows):
    return spark.createDataFrame(rows, "host_hash int, k string")


def test_task_write_replace_contract(spark, make_store):
    """`replace_buckets_task_write` carries the store contract on every
    backend: invisible until commit, per-bucket versioning, touched-only
    writes, crash re-run overwrite of an uncommitted version. Adding rows
    while deleting every old key of a bucket replaces its content."""
    store = make_store()
    df = _df(spark, [(h, f"k{h}{i}", i) for h in (0, 1, 2) for i in range(5)])
    v = store.replace_buckets_task_write(df, "t", [0, 1, 2], bucket_col="host_hash")
    assert not store.exists("t")
    store.commit(0, {"t": v})
    assert store.read(spark, "t").count() == 15
    assert store.bucket_versions("t") == {"0": 0, "1": 0, "2": 0}

    # touched-only write; untouched buckets keep bytes and version
    upd = _df(spark, [(1, "k1x", 99)])
    old1 = _keys(spark, [(1, f"k1{i}") for i in range(5)])
    v2 = store.replace_buckets_task_write(
        upd, "t", [1], bucket_col="host_hash", deletes=old1)
    # crash before commit: re-run must overwrite the uncommitted version
    v2 = store.replace_buckets_task_write(
        upd, "t", [1], bucket_col="host_hash", deletes=old1)
    store.commit(1, {"t": v2})
    assert store.bucket_versions("t") == {"0": 0, "1": 1, "2": 0}
    got = sorted((r.host_hash, r.k, r.v) for r in store.read(spark, "t").collect())
    assert [r for r in got if r[0] == 1] == [(1, "k1x", 99)]
    assert len(got) == 11


def _chain_writer(spark, store, name="t"):
    """``write(epoch, adds, dels)``: one committed task-side write to bucket
    0 of ``name``; ``live()``: its sorted (k, v) rows."""
    def write(epoch, adds=(), dels=()):
        entry = store.replace_buckets_task_write(
            _df(spark, list(adds)), name, [0], bucket_col="host_hash",
            deletes=_keys(spark, list(dels)))
        store.commit(epoch, {name: entry})

    def live():
        return sorted((r.k, r.v) for r in store.read(spark, name).collect())
    return write, live


def test_delete_key_sequence_rule(spark, make_store):
    """A delete key removes a row only from versions older than its own
    (Iceberg's sequence-number rule): a key deleted at version k and re-added
    at k+1 is live; a key added at k and deleted at k+1 is gone."""
    store = make_store()
    write, live = _chain_writer(spark, store)
    write(0, [(0, f"k{i}", i) for i in range(10)])
    write(1, dels=[(0, "k1")])
    assert ("k1", 1) not in live()
    write(2, [(0, "k1", 100)])
    assert ("k1", 100) in live() and ("k1", 1) not in live()
    write(3, [(0, "new", 7)])
    assert ("new", 7) in live()
    write(4, dels=[(0, "new")])
    assert "new" not in {k for k, _ in live()}
    assert len(live()) == 10
    # every write was a delta: the base and four links, none compacted
    assert [link["v"] for link in store.bucket_chains("t")["0"]] == [0, 1, 2, 3, 4]


def test_task_write_compacts_a_due_chain(spark, make_store):
    """The write that finds a bucket's deltas' rows plus delete keys at or
    above its base rows compacts the chain into one base; so does the write
    that finds ``MAX_DELTAS`` deltas. The bucket reads the same."""
    from crawler_spark.sources.tables import MAX_DELTAS

    store = make_store()
    write, live = _chain_writer(spark, store)
    write(0, [(0, f"k{i}", i) for i in range(4)])
    write(1, [(0, "a", 10), (0, "b", 11)], dels=[(0, "k0")])
    write(2, [(0, "c", 12)])
    assert len(store.bucket_chains("t")["0"]) == 3  # pending 4 of base 4
    before = live()
    write(3)  # nothing to add or delete: this write compacts
    assert store.bucket_chains("t")["0"] == [{"v": 3, "rows": 6, "deletes": 0}]
    assert live() == before

    big, bigl = _chain_writer(spark, store, "big")
    big(0, [(0, f"k{i}", i) for i in range(100)])
    for e in range(1, MAX_DELTAS + 1):
        big(e, [(0, f"x{e}", e)])
    assert len(store.bucket_chains("big")["0"]) == MAX_DELTAS + 1
    before = bigl()
    big(MAX_DELTAS + 1)
    assert len(store.bucket_chains("big")["0"]) == 1
    assert bigl() == before


def test_vacuum_keeps_every_link_of_a_live_chain(spark, make_store):
    """``vacuum`` keeps every link of a live bucket chain, however old (a
    base under its deltas is live data), and ``table_bytes`` counts exactly
    those links; once a compaction supersedes them they are swept."""
    store = make_store()
    write, live = _chain_writer(spark, store)
    write(0, [(0, f"k{i}", i) for i in range(6)])
    for e in (1, 2, 3):
        write(e, [(0, f"d{e}", e)], dels=[(0, f"k{e - 1}")])
    before = live()
    chain_dirs = [store.root / "t" / "b00000" / f"v{link['v']}"
                  for link in store.bucket_chains("t")["0"]]
    assert len(chain_dirs) == 4
    store.vacuum(keep_last=1)
    assert live() == before
    assert store.table_bytes("t") == sum(
        f.stat().st_size for d in chain_dirs for f in d.rglob("*") if f.is_file())

    write(4)  # pending 6 of base 6: compacts into v4
    store.vacuum(keep_last=1)
    assert live() == before
    assert sorted(p.name for p in (store.root / "t" / "b00000").iterdir()) == ["v4"]


def test_drop_removes_table_until_rewritten(spark, make_store):
    """``drop`` (filter-blob invalidation seam) removes both snapshot and
    bucketed tables from committed state, is idempotent, and the name is
    rewritable from scratch afterwards."""
    store = make_store()
    v0 = store.write(_df(spark, [(0, "a", 1)]), "t")
    store.commit(0, {"t": v0})
    store.drop("t")
    assert not store.exists("t")
    store.drop("t")  # idempotent on an already-missing table

    vers = store.replace_buckets(
        _df(spark, [(0, "a", 1), (1, "b", 2)]), "bk", [0, 1])
    store.commit(1, {"bk": vers})
    assert store.bucket_versions("bk")
    store.drop("bk")
    assert not store.exists("bk")
    assert store.bucket_versions("bk") == {}

    v1 = store.write(_df(spark, [(2, "c", 3)]), "t")
    store.commit(2, {"t": v1})
    assert store.read(spark, "t").count() == 1


def test_buckets_with_nulls_footer_stats(spark, make_store):
    """Driver-side footer gate: only buckets whose files hold NULLs in the
    probed column are reported."""
    store = make_store()
    df = spark.createDataFrame(
        [{"host_hash": 0, "table": b"x"},
         {"host_hash": 1, "table": None},
         {"host_hash": 2, "table": b"y"}],
        "host_hash int, table binary")
    vers = store.replace_buckets(df, "blobs", [0, 1, 2])
    store.commit(0, {"blobs": vers})
    assert store.buckets_with_nulls("blobs", "table") == [1]
    assert store.buckets_with_nulls("blobs", "table", only=[0, 2]) == []


# -- schema-pinned reads ----------------------------------------------------


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it launched."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = fn()
    return out, len(set(tracker.getJobIdsForGroup(None)) - before)


def _shape(schema):
    """{column: type}; nullability aside, which a parquet read drops."""
    return {f.name: f.dataType.simpleString() for f in schema}


def test_reads_launch_no_spark_job(spark, make_store, tmp_path):
    """Every kind of table reads with the schema pinned at its first write:
    building the frame launches no Spark job (an inferred parquet read
    launches one to read a footer) and returns the pinned schema. This
    holds for delete-key files too, for a read over more chain directories
    than Spark lists on the driver by default (32; the session raises the
    threshold), and for ``materialize``, whose read-back adds no job to its
    write."""
    store = make_store()
    df = _df(spark, [(h, f"k{h}{i}", i) for h in (0, 1) for i in range(3)])
    store.commit(0, {
        "w": store.write(df, "w"),
        "b": store.replace_buckets(df, "b", [0, 1]),
        "d": store.replace_buckets_task_write(df, "d", [0, 1], bucket_col="host_hash"),
    })
    store.commit(1, {"d": store.replace_buckets_task_write(
        _df(spark, [(0, "new", 9)]), "d", [0], bucket_col="host_hash",
        deletes=_keys(spark, [(0, "k00")]))})
    assert (store.root / "d" / "b00000" / "v1" / DELETES_DIR).is_dir()
    store.append(df, "m", "000000")
    # more chain directories than Spark lists without a job by default (32)
    many = list(range(40))
    store.commit(2, {"many": store.replace_buckets(
        _df(spark, [(h, f"k{h}", h) for h in many]), "many", many)})

    reads = {
        "write": lambda: store.read(spark, "w"),
        "replace_buckets": lambda: store.read(spark, "b"),
        "task write with delete keys": lambda: store.read(spark, "d"),
        "empty buckets": lambda: store.read_buckets(spark, "b", only=[7]),
        "40 chain directories": lambda: store.read_buckets(spark, "many"),
        "append": lambda: store.read_appended(spark, "m"),
    }
    for what, read in reads.items():
        frame, jobs = _jobs(spark, read)
        assert jobs == 0, f"{what}: reading launched {jobs} Spark jobs"
        assert _shape(frame.schema) == _shape(df.schema), what
    got = sorted((r.k, r.v) for r in store.read(spark, "d").collect())
    assert got == sorted([(f"k{h}{i}", i) for h in (0, 1) for i in range(3)
                          if (h, i) != (0, 0)] + [("new", 9)])

    _, write_jobs = _jobs(spark, lambda: df.write.parquet(str(tmp_path / "plain")))
    frame, jobs = _jobs(spark, lambda: store.materialize(spark, df, "x"))
    assert jobs == write_jobs, f"materialize ran {jobs} jobs, its write {write_jobs}"
    assert _shape(frame.schema) == _shape(df.schema)


def test_empty_frame_runs_no_python_task(spark):
    """``empty_frame`` has exactly the given schema, nullability included,
    plans as an empty local relation, not a scan of a Python RDD, and a
    plan over it launches no job."""
    from crawler_spark.schema import DOCUMENTS

    frame = empty_frame(spark, DOCUMENTS)
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan
    assert frame.schema == DOCUMENTS
    rows, jobs = _jobs(spark, lambda: frame.unionByName(frame).collect())
    assert (rows, jobs) == ([], 0)


def test_pinned_schemas_match_every_data_file(spark, make_store):
    """After a small crawl with a removal (so documents carry delete keys),
    every data file of every table holds exactly its table's pinned columns
    and types. A schema'd read drops a file column the pin lacks and nulls a
    pinned column the file lacks, silently; this catches either."""
    from crawler_spark.crawl import CrawlConfig, CrawlEngine
    from crawler_spark.sources.synth import chunk_url, corpus_pages_df, seeds_df

    store = make_store()
    engine = CrawlEngine(spark, store, corpus_pages_df(spark, 2, 2, items_per_chunk=3),
                         CrawlConfig(num_partitions=4, salt_buckets=2))
    engine.bootstrap(seeds_df(spark, 2))
    engine.run()
    engine.remove_manual_files(spark.createDataFrame(
        [{"file_url": chunk_url(1, 0), "user_id": "test:user001"}]),
        store.read_manifest()["epoch"] + 1)
    engine.run()

    checked = set()
    for f in sorted(store.root.rglob("*.parquet")):
        parts = f.relative_to(store.root).parts
        if parts[0] == "scratch":
            continue
        pin = f"{parts[0]}/{DELETES_DIR}" if DELETES_DIR in parts else parts[0]
        assert _shape(spark.read.parquet(str(f)).schema) == _shape(
            store.schema(pin)), f"{f} does not match {pin}'s pinned schema"
        checked.add(pin)
    assert checked >= {"seeds", "robots", "frontier", "url_seen", "blooms",
                       "refcounts", "documents", f"documents/{DELETES_DIR}",
                       "metrics"}
