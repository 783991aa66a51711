"""Snapshot-versioned table store: the engine's state backend.

The reference keeps mutable state in Azure SQL with per-site semaphores and a
queue with visibility timeouts. This engine replaces all of that with
*snapshot-per-epoch* table semantics (SURVEY.md §1.6, §2.8 T2):

* every state table (``frontier``, ``url_seen``, ``seeds``, ``documents``)
  is written as an immutable snapshot directory per version;
* a tiny JSON *manifest* records, per epoch, which snapshot of each table is
  current — committed atomically via write-temp + ``os.replace``;
* resume = read the manifest, load the recorded snapshots (the reference's
  visibility-timeout / stale-job recovery collapses into "re-run the epoch
  from the last committed manifest").

On a real deployment this class is swapped for Iceberg tables (``MERGE
INTO``, snapshot isolation, multi-table commit via an epoch manifest); the
interface is deliberately shaped so only this module changes. Parquet
snapshots keep the sandbox dependency-free while preserving the exact
semantics tests need (atomic commit, resume, lineage).

Scale note: snapshots are written partitioned by ``host_hash`` (bucket-style
layout) so the next epoch's joins against ``url_seen``/``frontier`` scan only
matching buckets and partition pruning applies.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class SnapshotStore:
    """Directory layout::

        root/
          MANIFEST.json            # {"epoch": k, "tables": {name: version}, ...}
          <table>/v<version>/      # immutable parquet snapshot
    """

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- manifest ----------------------------------------------------------

    @property
    def _manifest_path(self) -> Path:
        return self.root / "MANIFEST.json"

    def read_manifest(self) -> dict:
        if not self._manifest_path.exists():
            return {"epoch": -1, "tables": {}, "lineage": []}
        return json.loads(self._manifest_path.read_text())

    def commit(self, epoch: int, table_versions: dict[str, int], lineage_row: dict | None = None) -> None:
        """Atomically advance the store to ``epoch`` (os.replace = atomic)."""
        manifest = self.read_manifest()
        manifest["epoch"] = epoch
        manifest["tables"].update({
            k: v if isinstance(v, dict) else int(v)
            for k, v in table_versions.items()
        })
        if lineage_row is not None:
            manifest.setdefault("lineage", []).append({"epoch": epoch, **lineage_row})
        tmp = self._manifest_path.with_suffix(".json.tmp")
        tmp.write_text(json.dumps(manifest, indent=1))
        os.replace(tmp, self._manifest_path)

    # -- store metadata (layout invariants) ---------------------------------

    def set_meta(self, **kv) -> None:
        """Pin layout invariants (e.g. ``num_partitions`` — the bucket
        modulus baked into every bucketed table) in the manifest so a resume
        with a different configuration fails fast instead of silently
        misrouting bucket reads/writes."""
        manifest = self.read_manifest()
        manifest.setdefault("meta", {}).update(kv)
        tmp = self._manifest_path.with_suffix(".json.tmp")
        tmp.write_text(json.dumps(manifest, indent=1))
        os.replace(tmp, self._manifest_path)

    def get_meta(self, key: str, default=None):
        return self.read_manifest().get("meta", {}).get(key, default)

    # -- snapshots ----------------------------------------------------------

    def _table_dir(self, name: str, version: int) -> Path:
        return self.root / name / f"v{version}"

    def current_version(self, name: str) -> int | None:
        v = self.read_manifest()["tables"].get(name)
        return None if v is None or isinstance(v, dict) else int(v)

    def exists(self, name: str) -> bool:
        return self.read_manifest()["tables"].get(name) is not None

    def drop(self, name: str) -> None:
        """Remove ``name`` from the committed state (metadata-only; the data
        dirs linger until :meth:`vacuum`), e.g. to invalidate a *derived*
        table that is rebuilt from its source on the next write."""
        manifest = self.read_manifest()
        if manifest["tables"].pop(name, None) is None:
            return
        tmp = self._manifest_path.with_suffix(".json.tmp")
        tmp.write_text(json.dumps(manifest, indent=1))
        os.replace(tmp, self._manifest_path)

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        version = self.read_manifest()["tables"].get(name)
        if version is None:
            raise FileNotFoundError(f"table {name!r} has no committed snapshot")
        if isinstance(version, dict):  # bucketed table
            return self.read_buckets(spark, name)
        return spark.read.parquet(str(self._table_dir(name, int(version))))

    def write(self, df: DataFrame, name: str, partition_by: list[str] | None = None) -> int:
        """Write the next snapshot of ``name``; returns the new version.

        Not visible until :meth:`commit` records it in the manifest.
        """
        current = self.current_version(name)
        version = 0 if current is None else current + 1
        target = self._table_dir(name, version)
        if target.exists():  # stale leftover from an uncommitted epoch: re-runnable
            shutil.rmtree(target)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(target))
        return version

    # -- bucketed tables: partition-level replace -----------------------------
    #
    # The reference updates state with per-row MERGE (db.py:205-213). The
    # scale-safe snapshot equivalent is *bucket-level* replace: each table is
    # a set of hash buckets (host_hash for crawl state, an id-hash for
    # documents), each bucket independently versioned in the manifest. An
    # epoch that touches 1% of hosts writes ~1% of the table's bytes instead
    # of a full rewrite, and reads of untouched buckets are skipped entirely
    # (the epoch passes an explicit bucket list — physical partition pruning
    # by path, no full-table listing). Same commit/rollback semantics: new
    # bucket versions are invisible until the manifest commit lands.

    def _bucket_dir(self, name: str, bucket: int, version: int) -> Path:
        return self.root / name / f"b{bucket:05d}" / f"v{version}"

    def _schema_path(self, name: str) -> Path:
        return self.root / name / "schema.json"

    def bucket_versions(self, name: str) -> dict[str, int]:
        v = self.read_manifest()["tables"].get(name)
        return dict(v["buckets"]) if isinstance(v, dict) else {}

    def replace_buckets(
        self,
        df: DataFrame,
        name: str,
        touched: list[int],
        bucket_col: str = "host_hash",
        pre_partitioned: bool = False,
        compression: str | None = None,
    ) -> dict:
        """Write new content for exactly the ``touched`` buckets of ``name``.

        ``df`` must hold the *complete* new content of those buckets (rows of
        other buckets are filtered out defensively). Buckets not in
        ``touched`` keep their current version — zero I/O. Returns the
        manifest entry to pass to :meth:`commit`; nothing is visible until
        the commit lands. A bucket whose new content is empty gets an empty
        version directory (deletes work without tombstones).
        """
        buckets = self.bucket_versions(name)
        if not self._schema_path(name).exists():
            self._schema_path(name).parent.mkdir(parents=True, exist_ok=True)
            self._schema_path(name).write_text(df.schema.json())
        if touched:
            stage = self.root / name / f"stage-{time.time_ns()}"
            staged = (
                df.filter(F.col(bucket_col).isin([int(b) for b in touched]))
                .withColumn("_b", F.col(bucket_col))
            )
            if not pre_partitioned:
                # co-locate each bucket's rows into one task before the
                # directory split — otherwise every upstream task writes a
                # sliver per bucket (tasks × buckets small files). Callers
                # whose rows are already bucket-aligned (e.g. the documents
                # sink, which must not shuffle 6 KB embedded rows) pass
                # pre_partitioned=True to skip this exchange.
                staged = staged.repartition(max(len(touched), 1), F.col("_b"))
            writer = staged.write.mode("overwrite").partitionBy("_b")
            if compression is not None:
                # the documents sink passes "uncompressed": its mass is the
                # packed float32 embedding column, which no codec shrinks —
                # snappy/zstd only add a full pass over the table's bytes
                # (A/B-measured, NOTES.md round-4 delta)
                writer = writer.option("compression", compression)
            writer.parquet(str(stage))
            for b in touched:
                nxt = int(buckets.get(str(int(b)), -1)) + 1
                target = self._bucket_dir(name, int(b), nxt)
                if target.exists():  # uncommitted leftover: epoch re-run
                    shutil.rmtree(target)
                target.parent.mkdir(parents=True, exist_ok=True)
                src = stage / f"_b={int(b)}"
                if src.exists():
                    os.replace(src, target)
                else:
                    target.mkdir()  # bucket emptied this epoch
                buckets[str(int(b))] = nxt
            shutil.rmtree(stage, ignore_errors=True)
        return {"buckets": buckets}

    def replace_buckets_task_write(
        self,
        df: DataFrame,
        name: str,
        touched: list[int],
        bucket_col: str = "bucket",
        transform=None,
        compression: str = "none",
    ) -> dict:
        """:meth:`replace_buckets`, but each task writes its parquet files
        itself (pyarrow C++) instead of handing rows back to the JVM writer.

        Built for the documents sink, whose mass is the 6 KB packed-float32
        embedding column: with the JVM writer those bytes cross the
        Python→JVM Arrow socket and a second encode pipeline; here they go
        straight from the task's numpy buffers to parquet (A/B:
        ``scripts/write_leg_ab.py`` — task-side write is both faster per
        core and scales 1→4 cores at ~0.87 vs ~0.72 for the JVM writer on
        this host). ``transform(record_batch) -> record_batch`` runs inside
        the writer task after the split: each Arrow batch is sorted by
        bucket and cut into zero-copy per-bucket slices, and ``transform``
        runs once per slice. The documents sink uses it to fill missing
        embeddings, so new vectors are *born* next to the writer and never
        cross a process boundary at all.

        Commit protocol (same guarantees as Spark's Hadoop commit protocol,
        collapsed onto the store's stage-then-rename layout): tasks write
        uniquely-named files under ``stage/_b=<bucket>/`` and *return* the
        (bucket, path, rows) manifest of what they wrote; only files listed
        by successful tasks are moved into the new bucket versions (Spark
        surfaces one attempt's output per partition, so a retried/
        speculated attempt's leftovers stay unlisted and are deleted with
        the stage dir). Nothing is visible until :meth:`commit`.
        """
        from pyspark.sql.types import (
            IntegerType, LongType, StringType, StructField)

        buckets = self.bucket_versions(name)
        if not self._schema_path(name).exists():
            self._schema_path(name).parent.mkdir(parents=True, exist_ok=True)
            self._schema_path(name).write_text(df.schema.json())
        if not touched:
            return {"buckets": buckets}
        stage = self.root / name / f"stage-{time.time_ns()}"
        stage.mkdir(parents=True, exist_ok=True)
        staged = df.filter(F.col(bucket_col).isin([int(b) for b in touched]))
        man_schema = StructType([
            StructField("bucket", IntegerType()),
            StructField("path", StringType()),
            StructField("rows", LongType()),
        ])
        kernel = _bucket_writer_kernel(str(stage), bucket_col, transform, compression)
        manifest_rows = staged.mapInArrow(kernel, man_schema).collect()
        listed: dict[int, list[str]] = {}
        for r in manifest_rows:
            listed.setdefault(int(r.bucket), []).append(r.path)
        for b in touched:
            nxt = int(buckets.get(str(int(b)), -1)) + 1
            target = self._bucket_dir(name, int(b), nxt)
            if target.exists():  # uncommitted leftover: epoch re-run
                shutil.rmtree(target)
            target.mkdir(parents=True)
            for path in listed.get(int(b), ()):  # empty bucket → empty dir
                os.replace(path, target / Path(path).name)
            buckets[str(int(b))] = nxt
        shutil.rmtree(stage, ignore_errors=True)
        return {"buckets": buckets}

    def _live_bucket_paths(self, name: str, only: list[int] | None = None) -> list[str]:
        want = None if only is None else {int(b) for b in only}
        paths = []
        for b, ver in self.bucket_versions(name).items():
            if want is not None and int(b) not in want:
                continue
            d = self._bucket_dir(name, int(b), int(ver))
            if any(d.glob("*.parquet")):
                paths.append(str(d))
        return paths

    def read_buckets(
        self, spark: SparkSession, name: str, only: list[int] | None = None
    ) -> DataFrame:
        """Read a bucketed table — all buckets, or just ``only`` (an epoch
        reads exactly the buckets it crawls: O(touched), not O(table))."""
        paths = self._live_bucket_paths(name, only)
        if not paths:
            schema = StructType.fromJson(json.loads(self._schema_path(name).read_text()))
            return spark.createDataFrame([], schema)
        return spark.read.parquet(*paths)

    def table_bytes(self, name: str) -> int:
        """Total bytes of the table's *live* snapshot files (tests use the
        delta across an epoch to assert write amplification)."""
        v = self.read_manifest()["tables"].get(name)
        if isinstance(v, dict):
            dirs = [self._bucket_dir(name, int(b), int(ver))
                    for b, ver in v["buckets"].items()]
        elif v is None:
            return 0
        else:
            dirs = [self._table_dir(name, int(v))]
        return sum(f.stat().st_size for d in dirs if d.exists()
                   for f in d.rglob("*") if f.is_file())

    def materialize(self, spark: SparkSession, df: DataFrame, name: str) -> DataFrame:
        """Write ``df`` to a transient scratch area and read it back.

        Used for per-epoch intermediates that feed several downstream sinks
        (e.g. the extract output): one parquet pass pins the data so no sink
        re-runs the upstream Python stage — ``cache()`` alone does not give
        that guarantee across multi-action epochs, and on a real cluster the
        scratch write doubles as the shuffle-safe restart point. Scratch is
        NOT manifest-tracked: a crashed epoch simply overwrites it on re-run.
        """
        path = self.root / "scratch" / name
        df.write.mode("overwrite").parquet(str(path))
        return spark.read.parquet(str(path))

    def scratch_rows(self, name: str) -> int:
        """Row count of a materialized scratch table from parquet footers —
        driver-side pyarrow, no Spark job. Each avoided ``count()``/
        ``isEmpty()`` action saves ~0.1-0.3 s of fixed driver cost per epoch,
        which is exactly the non-scaling term the N-vs-4N efficiency ratio
        punishes."""
        return parquet_rows(self.root / "scratch" / name)

    def scratch_null_counts(self, name: str, cols: list[str]) -> dict[str, int]:
        """Per-column null counts of a scratch table from parquet row-group
        statistics (written by Spark by default) — driver-side, no Spark job.
        A column missing statistics is reported conservatively as 0 nulls."""
        return parquet_null_counts(self.root / "scratch" / name, cols)

    def scratch_column_values(self, name: str, col: str) -> set:
        """Distinct values of one (small, e.g. bucket-id) column of a scratch
        table — pyarrow column read, driver-side, no Spark job. Used to
        shrink an epoch's bucket-replace write set to the buckets that
        actually changed."""
        import pyarrow.parquet as pq

        vals: set = set()
        for f in (self.root / "scratch" / name).glob("*.parquet"):
            vals.update(pq.read_table(str(f), columns=[col])
                        .column(col).unique().to_pylist())
        return vals

    def buckets_with_nulls(
        self, name: str, col: str, only: list[int] | None = None
    ) -> list[int]:
        """Bucket ids (within ``only``) whose live files hold NULLs in
        ``col``, from parquet footer statistics alone — no Spark job.
        Missing statistics read as "no NULLs", so callers must treat the
        result as best-effort. The engine has no caller; the method stays
        because the benchmark's tracer (``perfbench/tracing.py``) wraps it by
        name on every store it traces."""
        want = None if only is None else {int(b) for b in only}
        out: list[int] = []
        for b_str, ver in self.bucket_versions(name).items():
            b = int(b_str)
            if want is not None and b not in want:
                continue
            d = self._bucket_dir(name, b, int(ver))
            if d.exists() and parquet_null_counts(d, [col])[col] > 0:
                out.append(b)
        return sorted(out)

    def has_live_buckets(self, name: str, only: list[int] | None = None) -> bool:
        """True if any of the ``only`` buckets (or any bucket) of a bucketed
        table currently holds data files. Driver-side manifest + dirlist
        check — lets the epoch loop skip whole Spark plans (selection on an
        all-settled frontier, seen-set anti-joins on never-crawled hosts)
        without launching a job. False for missing or non-bucketed tables."""
        return bool(self._live_bucket_paths(name, only))

    # -- append-only tables (logs / lineage) --------------------------------

    def append(self, df: DataFrame, name: str, label: str) -> None:
        """Append a labeled part to an append-only table (e.g. per-epoch
        metrics). Parts are immutable; the union happens at read time —
        O(1) write per epoch instead of cumulative rewrites."""
        df.write.mode("overwrite").parquet(str(self.root / name / f"a{label}"))

    def read_appended(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(str(self.root / name / "a*"))

    def has_appended(self, name: str) -> bool:
        table_root = self.root / name
        return table_root.exists() and any(table_root.glob("a*"))

    def vacuum(self, keep_last: int = 2) -> None:
        """Drop snapshot directories older than the last ``keep_last`` per table."""
        def _sweep(dir_: Path, current: int) -> None:
            for child in dir_.iterdir():
                if child.name.startswith("v"):
                    try:
                        v = int(child.name[1:])
                    except ValueError:
                        continue
                    if v <= current - keep_last:
                        shutil.rmtree(child, ignore_errors=True)

        manifest = self.read_manifest()
        for name, current in manifest["tables"].items():
            table_root = self.root / name
            if not table_root.exists():
                continue
            if isinstance(current, dict):
                for b, ver in current["buckets"].items():
                    bdir = table_root / f"b{int(b):05d}"
                    if bdir.exists():
                        _sweep(bdir, int(ver))
            else:
                _sweep(table_root, int(current))

    def destroy(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def _bucket_writer_kernel(stage_dir: str, bucket_col: str, transform, compression: str):
    """``mapInArrow`` kernel for :meth:`SnapshotStore.replace_buckets_task_write`.

    Keeps one open ``ParquetWriter`` per bucket seen by the task (bounded by
    the table's bucket modulus), splits each Arrow batch by the bucket
    column, and yields (bucket, path, rows) manifest rows on completion.
    File names carry the partition id plus a fresh uuid, so retried/
    speculated attempts can never collide.

    Split strategy: rows are ordered by bucket BEFORE the transform runs,
    with one ``take()`` over the ~1 KB pre-embed rows, and each bucket's
    run is then a ZERO-COPY contiguous slice. The previous shape
    (transform first, then one ``filter()`` per bucket) re-copied the
    post-transform 6 KB embedding rows once per batch — on a 16 GB epoch
    that is 16 GB of pure memcpy on the exact resource (DRAM bandwidth)
    that contends across executor cores, i.e. it taxed the N→4N scaling of
    the engine's single heaviest leg. The transform now runs per slice;
    its output feeds the parquet writer directly.
    """

    def kernel(batches):
        import os
        import uuid

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        writers: dict[int, tuple] = {}
        counts: dict[int, int] = {}
        ctx = TaskContext.get()
        tid = ctx.partitionId() if ctx is not None else 0
        tag = uuid.uuid4().hex[:12]
        for b in batches:
            if b.num_rows == 0:
                continue
            col = b.column(bucket_col)
            if pc.count_distinct(col).as_py() > 1:
                b = b.take(pc.sort_indices(col))
                col = b.column(bucket_col)
            vals = col.to_numpy()
            edges = [0, *(np.flatnonzero(np.diff(vals)) + 1).tolist(),
                     len(vals)]
            for i in range(len(edges) - 1):
                v = int(vals[edges[i]])
                part = b.slice(edges[i], edges[i + 1] - edges[i])
                if transform is not None:
                    part = transform(part)
                part = pa.Table.from_batches([part])
                w = writers.get(v)
                if w is None:
                    d = os.path.join(stage_dir, f"_b={v}")
                    os.makedirs(d, exist_ok=True)
                    path = os.path.join(d, f"part-{tid:05d}-{tag}.parquet")
                    # Dictionary-encode and keep footer statistics only for
                    # non-binary columns: a high-entropy 6 KB packed-float32
                    # embedding value never repeats, so dictionary encoding
                    # just hashes every value until the 1 MB dict page
                    # overflows and falls back to PLAIN, and min/max stats
                    # memcmp 6 KB values for a footer nobody reads (the
                    # engine's null-count gates read the JVM-written filter
                    # tables, not this sink). Measured: -16% encode wall on
                    # the embedding-dominated documents schema.
                    small = [f.name for f in part.schema
                             if not pa.types.is_binary(f.type)
                             and not pa.types.is_large_binary(f.type)]
                    w = (pq.ParquetWriter(path, part.schema,
                                          compression=compression,
                                          use_dictionary=small,
                                          write_statistics=small), path)
                    writers[v] = w
                    counts[v] = 0
                w[0].write_table(part)
                counts[v] += part.num_rows
        man = pa.schema([("bucket", pa.int32()), ("path", pa.string()),
                         ("rows", pa.int64())])
        for v, (w, path) in writers.items():
            w.close()
            yield pa.RecordBatch.from_pylist(
                [{"bucket": v, "path": path, "rows": counts[v]}], schema=man)

    return kernel


def parquet_rows(path: str | Path) -> int:
    """Total row count of a parquet directory from file footers (pyarrow,
    driver-side — no Spark job)."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(str(f)).metadata.num_rows
        for f in Path(path).glob("*.parquet")
    )


def parquet_null_counts(path: str | Path, cols: list[str]) -> dict[str, int]:
    """Per-column null counts summed over a parquet directory's row-group
    statistics (pyarrow, driver-side). Columns whose statistics are absent
    in any row group are reported as 0 (conservative: "maybe non-null")."""
    import pyarrow.parquet as pq

    out = dict.fromkeys(cols, 0)
    missing = set()
    for f in Path(path).glob("*.parquet"):
        md = pq.ParquetFile(str(f)).metadata
        name_to_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            for c in cols:
                idx = name_to_idx.get(c)
                st = md.row_group(rg).column(idx).statistics if idx is not None else None
                if st is None or st.null_count is None:
                    missing.add(c)
                else:
                    out[c] += st.null_count
    for c in missing:
        out[c] = 0
    return out


def wait_for_files(path: Path, timeout: float = 5.0) -> None:
    """Best-effort barrier for tests on slow filesystems."""
    deadline = time.time() + timeout
    while time.time() < deadline and not path.exists():
        time.sleep(0.05)
