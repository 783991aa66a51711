"""Unit tests for the vectorized stub embedder, the provider retry ladder,
and snapshot-store scratch."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from crawler_spark.functions.embed import (
    EMBED_DIM,
    embed_with_provider,
    stub_embedding_batch,
)
from crawler_spark.sources.tables import SnapshotStore, parquet_rows


def test_batch_embedding_deterministic_and_normalized():
    texts = [f"essential text {i}" for i in range(300)]
    a = stub_embedding_batch(texts)
    b = stub_embedding_batch(texts)
    assert a.shape == (300, EMBED_DIM)
    assert a.dtype == np.float32
    assert np.array_equal(a, b)
    norms = np.linalg.norm(a, axis=1)
    assert np.allclose(norms, 1.0, atol=1e-5)
    # distinct texts → distinct vectors; same text → same vector
    assert not np.array_equal(a[0], a[1])
    assert np.array_equal(a[0], stub_embedding_batch([texts[0]])[0])


def test_batch_embedding_none_is_zero_vector():
    out = stub_embedding_batch(["x", None, "y"])
    assert np.all(out[1] == 0.0)
    assert np.linalg.norm(out[0]) > 0.99


def test_batch_embedding_chunk_boundaries_consistent():
    """Values must not depend on where the row falls in the internal chunks."""
    texts = [f"t{i}" for i in range(2500)]  # spans multiple 1024-row chunks
    whole = stub_embedding_batch(texts)
    per_row = np.stack([stub_embedding_batch([t])[0] for t in texts[:5] + texts[1020:1030]])
    assert np.array_equal(whole[:5], per_row[:5])
    assert np.array_equal(whole[1020:1030], per_row[5:])


def test_binary_packing_roundtrip():
    vec = stub_embedding_batch(["roundtrip me"])[0]
    blob = vec.astype("<f4").tobytes()
    assert len(blob) == EMBED_DIM * 4
    assert np.array_equal(np.frombuffer(blob, dtype="<f4"), vec)


def test_stub_seed_wider_than_32_bits():
    """Two texts whose sha256 agrees on the first 4 bytes must still embed
    differently (the old 4-byte seed collapsed them byte-identically)."""
    seen: dict[bytes, str] = {}
    pair = None
    i = 0
    while pair is None:
        t = f"collision probe {i}"
        p = hashlib.sha256(t.encode()).digest()[:4]
        if p in seen:
            pair = (seen[p], t)
        seen[p] = t
        i += 1
    a, b = stub_embedding_batch(list(pair), dim=64)
    assert not np.array_equal(a, b), f"colliding pair {pair} embeds identically"


class FakeProvider:
    """Scripted provider: pops one behavior per call.

    Behaviors: "ok" (hash-deterministic vectors), "429" (rate limit error),
    "token" (token-limit error), "boom" (unrelated error).
    """

    def __init__(self, script, dim=8):
        self.script = list(script)
        self.dim = dim
        self.calls = []  # list of batch sizes

    def __call__(self, texts):
        self.calls.append(len(texts))
        action = self.script.pop(0) if self.script else "ok"
        if action == "429":
            raise Exception("429: RateLimitReached, slow down")
        if action == "token":
            raise Exception("This model's maximum context length is 8192 tokens")
        if action == "boom":
            raise Exception("connection reset by peer")
        return [[float(len(t) + d) for d in range(self.dim)] for t in texts]


def test_provider_rate_limit_backoff_sequence():
    sleeps = []
    p = FakeProvider(["429", "429", "429", "ok"])
    out = embed_with_provider(p, ["a", "bb"], sleep=sleeps.append, dim=8)
    # reference azure_oai_embedding.py:76: wait = 2^(retry+1) → 2, 4, 8
    assert sleeps == [2, 4, 8]
    assert out.shape == (2, 8)
    assert out[0, 0] == 1.0 and out[1, 0] == 2.0


def test_provider_rate_limit_exhaustion_raises():
    p = FakeProvider(["429"] * 20)
    with pytest.raises(RuntimeError, match="Rate limit exceeded after 8 retries"):
        embed_with_provider(p, ["a"], sleep=lambda s: None, dim=8)
    assert p.calls == [1] * 9  # initial + 8 retries


def test_provider_token_limit_binary_split():
    # batch of 4 too big → halves of 2 → first half too big again → singles
    p = FakeProvider(["token", "token", "ok", "ok", "ok"])
    out = embed_with_provider(p, ["a", "bb", "ccc", "dddd"], sleep=lambda s: None, dim=8)
    assert p.calls == [4, 2, 1, 1, 2]
    assert [v[0] for v in out] == [1.0, 2.0, 3.0, 4.0]


def test_provider_oversize_single_item_zero_vector():
    p = FakeProvider(["token"])
    out = embed_with_provider(p, ["way too big"], sleep=lambda s: None, dim=8)
    assert np.all(out[0] == 0.0)


def test_provider_unrelated_error_raises():
    p = FakeProvider(["boom"])
    with pytest.raises(RuntimeError, match="Error generating batch embeddings"):
        embed_with_provider(p, ["a"], sleep=lambda s: None, dim=8)


def test_provider_batching_and_none_handling():
    p = FakeProvider([])
    out = embed_with_provider(p, ["a", None, ""] + ["x"] * 120,
                              batch_size=50, sleep=lambda s: None, dim=8)
    # None/empty skip the provider entirely and come back as zero vectors
    assert np.all(out[1] == 0.0) and np.all(out[2] == 0.0)
    assert sum(p.calls) == 121 and max(p.calls) <= 50
    assert out.shape == (123, 8)


def _bucketed_df(spark, n_rows, n_buckets, tag):
    from pyspark.sql import functions as F

    return (
        spark.range(n_rows)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % n_buckets).cast("int").alias("host_hash"),
            F.concat(F.lit(tag), F.col("id")).alias("payload"),
        )
    )


def test_replace_buckets_roundtrip_and_isolation(spark, tmp_path):
    from pyspark.sql import functions as F

    store = SnapshotStore(tmp_path / "state")
    full = _bucketed_df(spark, 320, 8, "v0-")
    entry = store.replace_buckets(full, "t", touched=list(range(8)))
    store.commit(0, {"t": entry})
    assert store.read(spark, "t").count() == 320

    # replace only bucket 3 with new content; others must keep version 0
    new3 = _bucketed_df(spark, 320, 8, "v1-").filter(F.col("host_hash") == 3)
    entry = store.replace_buckets(new3, "t", touched=[3])
    store.commit(1, {"t": entry})
    got = store.read(spark, "t")
    assert got.count() == 320
    assert got.filter(F.col("payload").startswith("v1-")).count() == 40
    versions = store.bucket_versions("t")
    assert versions["3"] == 1 and all(v == 0 for b, v in versions.items() if b != "3")

    # bucket-subset read touches only the requested paths
    only = store.read_buckets(spark, "t", only=[3, 4])
    assert only.select("host_hash").distinct().count() == 2

    # emptying a bucket leaves an empty versioned dir, reads stay consistent
    empty = full.filter(F.col("host_hash") == 99)  # no rows
    entry = store.replace_buckets(empty, "t", touched=[4])
    store.commit(2, {"t": entry})
    assert store.read(spark, "t").filter(F.col("host_hash") == 4).count() == 0
    assert store.read(spark, "t").count() == 280


def test_replace_buckets_write_amplification(spark, tmp_path):
    """The point of bucket-level replace: an epoch touching 1 of 32 buckets
    must write ~1/32 of the table's bytes, not rewrite the table."""
    from pyspark.sql import functions as F

    store = SnapshotStore(tmp_path / "state")
    full = _bucketed_df(spark, 3200, 32, "x-")
    store.commit(0, {"t": store.replace_buckets(full, "t", touched=list(range(32)))})
    base_bytes = store.table_bytes("t")

    new0 = full.filter(F.col("host_hash") == 0)
    store.commit(1, {"t": store.replace_buckets(new0, "t", touched=[0])})
    new_version_dir = tmp_path / "state" / "t" / "b00000" / "v1"
    written = sum(f.stat().st_size for f in new_version_dir.rglob("*") if f.is_file())
    assert written < base_bytes * 0.15, (
        f"1/32-bucket epoch wrote {written}B vs table {base_bytes}B")
    # no other bucket gained a new version
    assert sorted(store.bucket_versions("t").values()) == [0] * 31 + [1]


def test_replace_buckets_empty_table_bootstrap(spark, tmp_path):
    from crawler_spark.schema import URL_SEEN

    store = SnapshotStore(tmp_path / "state")
    empty = spark.createDataFrame([], URL_SEEN)
    store.commit(-1, {"url_seen": store.replace_buckets(empty, "url_seen", touched=[])})
    got = store.read(spark, "url_seen")
    assert got.count() == 0
    assert got.schema == URL_SEEN


def test_store_materialize_pins_data(spark, tmp_path):
    store = SnapshotStore(tmp_path / "state")
    df = spark.range(100).withColumnRenamed("id", "k")
    pinned = store.materialize(spark, df, "probe")
    assert pinned.count() == 100
    # scratch is not manifest-tracked and is overwritable (epoch re-run)
    assert not store.exists("probe")
    again = store.materialize(spark, spark.range(7).withColumnRenamed("id", "k"), "probe")
    assert again.count() == 7


def test_replace_buckets_task_write_matches_jvm_writer(spark, tmp_path):
    """The task-side pyarrow writer (documents-sink hot path): a bucket's
    first write is a base identical to what `replace_buckets` writes (same
    committed content, same bucket-version bookkeeping). Later writes are
    deltas: new rows plus delete keys in the next version, no old row read
    or moved, an emptied bucket reads empty, and untouched buckets keep
    their version and bytes."""
    from pyspark.sql import functions as F

    df = (spark.range(2000)
          .select(F.col("id"),
                  F.pmod(F.col("id"), F.lit(4)).cast("int").alias("bucket"),
                  F.concat(F.lit("t"), F.col("id").cast("string")).alias("t")))

    a = SnapshotStore(tmp_path / "jvm")
    b = SnapshotStore(tmp_path / "task")
    va = a.replace_buckets(df, "docs", [0, 1, 2, 3], bucket_col="bucket")
    vb = b.replace_buckets_task_write(df, "docs", [0, 1, 2, 3], bucket_col="bucket")
    a.commit(0, {"docs": va}); b.commit(0, {"docs": vb})
    assert vb["buckets"] == va["buckets"]
    assert vb["chains"] == {str(k): [{"v": 0, "rows": 500, "deletes": 0}]
                            for k in range(4)}
    ra = sorted(tuple(r) for r in a.read(spark, "docs").collect())
    rb = sorted(tuple(r) for r in b.read(spark, "docs").collect())
    assert ra == rb and len(rb) == 2000

    def version_files(bucket, version):
        d = tmp_path / "task" / "docs" / f"b{bucket:05d}" / f"v{version}"
        return {str(f): f.stat().st_size for f in d.rglob("*") if f.is_file()}

    untouched = {k: version_files(k, 0) for k in (0, 3)}

    # second epoch: bucket 1 keeps only ids < 100 and gains 5 rows, bucket 2
    # loses every row; buckets 0/3 untouched keep version 0
    add = (spark.range(5000, 5020)
           .select(F.col("id"),
                   F.pmod(F.col("id"), F.lit(4)).cast("int").alias("bucket"),
                   F.concat(F.lit("n"), F.col("id").cast("string")).alias("t"))
           .filter(F.col("bucket") == 1))
    gone = df.filter(((F.col("bucket") == 1) & (F.col("id") >= 100))
                     | (F.col("bucket") == 2)).select("bucket", "id")
    vb2 = b.replace_buckets_task_write(add, "docs", [1, 2], bucket_col="bucket",
                                       deletes=gone)
    b.commit(1, {"docs": vb2})
    assert vb2["buckets"] == {"0": 0, "1": 1, "2": 1, "3": 0}
    assert vb2["chains"]["1"][1] == {"v": 1, "rows": 5, "deletes": 475}
    assert vb2["chains"]["2"][1] == {"v": 1, "rows": 0, "deletes": 500}
    # the delta holds only the new rows; the keys sit in _deletes/
    delta = tmp_path / "task" / "docs" / "b00001" / "v1"
    assert parquet_rows(delta) == 5
    assert parquet_rows(delta / "_deletes") == 475
    rows = b.read(spark, "docs").groupBy("bucket").count().collect()
    got = {r["bucket"]: r["count"] for r in rows}
    assert got == {0: 500, 1: 30, 3: 500}  # bucket 2 emptied
    assert {k: version_files(k, 0) for k in (0, 3)} == untouched


def test_fill_missing_embeddings_transform_paths():
    """All-null batches embed zero-copy, null-free batches pass through,
    mixed batches fill only the null rows — all byte-identical to the
    stub embedder, and a ``None`` text packs to a zero vector."""
    import pyarrow as pa

    from crawler_spark.functions.embed import fill_missing_embeddings_transform

    tr = fill_missing_embeddings_transform()
    texts = [f"doc {i}" if i != 6 else None for i in range(50)]
    want = stub_embedding_batch(texts).astype("<f4")

    allnull = pa.RecordBatch.from_pydict({
        "essential_text": pa.array(texts),
        "embedding": pa.array([None] * 50, type=pa.binary())})
    out = tr(allnull)
    got = [bytes(v.as_py()) for v in out.column("embedding")]
    assert got == [want[i].tobytes() for i in range(50)]
    assert got[6] == bytes(4 * EMBED_DIM)  # None text → zero vector

    nonull = out
    assert tr(nonull) is nonull  # pass-through, no copy

    mixed = pa.RecordBatch.from_pydict({
        "essential_text": pa.array(texts),
        "embedding": pa.array(
            [want[i].tobytes() if i % 3 else None for i in range(50)],
            type=pa.binary())})
    outm = tr(mixed)
    gotm = [bytes(v.as_py()) for v in outm.column("embedding")]
    assert gotm == [want[i].tobytes() for i in range(50)]
