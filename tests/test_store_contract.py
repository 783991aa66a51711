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
  versioning and O(touched) reads · crash re-run overwrite · append-only
  parts · manifest meta pinning · vacuum retention.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark.sources.tables import SnapshotStore
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


def test_task_write_replace_contract(spark, make_store):
    """`replace_buckets_task_write` carries the same contract as
    `replace_buckets` on every backend: invisible until commit, per-bucket
    versioning, O(touched) replace, crash re-run overwrite of an
    uncommitted version."""
    store = make_store()
    df = _df(spark, [(h, f"k{h}{i}", i) for h in (0, 1, 2) for i in range(5)])
    v = store.replace_buckets_task_write(df, "t", [0, 1, 2], bucket_col="host_hash")
    assert not store.exists("t")
    store.commit(0, {"t": v})
    assert store.read(spark, "t").count() == 15
    assert store.bucket_versions("t") == {"0": 0, "1": 0, "2": 0}

    # touched-only replace; untouched bucket keeps bytes and version
    upd = _df(spark, [(1, "k1x", 99)])
    v2 = store.replace_buckets_task_write(upd, "t", [1], bucket_col="host_hash")
    # crash before commit: re-run must overwrite the uncommitted version
    v2 = store.replace_buckets_task_write(upd, "t", [1], bucket_col="host_hash")
    store.commit(1, {"t": v2})
    assert store.bucket_versions("t") == {"0": 0, "1": 1, "2": 0}
    got = sorted((r.host_hash, r.k, r.v) for r in store.read(spark, "t").collect())
    assert [r for r in got if r[0] == 1] == [(1, "k1x", 99)]
    assert len(got) == 11


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
