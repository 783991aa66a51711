"""Snapshot-versioned table store: the engine's state backend.

The reference keeps mutable state in Azure SQL with per-site semaphores and a
queue with visibility timeouts. This engine replaces all of that with
*snapshot-per-epoch* table semantics (SURVEY.md §1.6, §2.8 T2):

* every state table (``frontier``, ``url_seen``, ``seeds``, ``documents``)
  is written as an immutable snapshot directory per version;
* a tiny JSON *manifest* records which snapshot of each table is current —
  committed atomically via write-temp + ``os.replace``. It holds current
  state only (epoch, table versions, layout meta), so its size does not grow
  with the number of epochs;
* resume = read the manifest, load the recorded snapshots (the reference's
  visibility-timeout / stale-job recovery collapses into "re-run the epoch
  from the last committed manifest").

On a real deployment this class is swapped for Iceberg tables (``MERGE
INTO``, snapshot isolation, multi-table commit via an epoch manifest); the
interface is deliberately shaped so only this module changes. Parquet
snapshots keep the sandbox dependency-free while preserving the exact
semantics tests need (atomic commit, resume).

Scale note: bucketed tables are split by a hash bucket (``host_hash`` for
crawl state, the host of the ``@id`` for documents), and every bucket is
versioned on its own, so an epoch reads and writes only the buckets it
touches.

Each bucket is a *chain* of version directories merged on read: a base,
then deltas that add rows, each optionally carrying delete keys that drop
rows of older versions (Iceberg v2 merge-on-read delete files with its
sequence-number rule). Copy-on-write tables (``url_seen``, ``frontier``,
``blooms``, ``refcounts``) always have a chain of one; ``documents`` grows
deltas and compacts a bucket back to one base only when its chain outgrows
a fixed share of the base, so a re-crawl writes its new docs and delete
keys instead of rewriting its buckets' unchanged embeddings.

Every table's schema is pinned at its first write (``<table>/schema.json``;
a bucketed table's delete keys get their own under ``<table>/_deletes/``),
and every read passes it: a parquet read without a schema launches one
Spark job to infer it from a footer, a read with one launches none. There
is no inference fallback — a table without a pinned schema does not read.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
from collections import Counter
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType, IntegerType, LongType, StringType, StructField, StructType)

#: merge-on-read compaction policy (``replace_buckets_task_write``): the next
#: write to a bucket rewrites it as one base once its deltas' rows plus
#: delete keys reach ``COMPACT_RATIO`` × its base rows, or once it has
#: ``MAX_DELTAS`` deltas. Reads then scan at most about twice the base rows.
COMPACT_RATIO = 1.0
MAX_DELTAS = 8

#: a version's delete keys live in this subdirectory; Spark's file index
#: skips ``_``-prefixed names, so a plain read of the version dir sees only
#: its data files
DELETES_DIR = "_deletes"

#: (bucket, version) of a data or delete-key file, from its path
_LINK_RE = rf"/b(\d+)/v(\d+)/(?:{DELETES_DIR}/)?[^/]+$"

#: marks delete-key rows in the writer job's input
_DELETE_FLAG = "_delete"


class SnapshotStore:
    """Directory layout::

        root/
          MANIFEST.json            # {"epoch": k, "tables": {name: version}, ...}
          <table>/schema.json      # pinned at the table's first write
          <table>/v<version>/      # immutable parquet snapshot
          <table>/b<bucket>/v<version>/            # one link of a bucket chain
          <table>/b<bucket>/v<version>/_deletes/   # its delete keys, if any
          <table>/_deletes/schema.json             # the delete keys' schema

    A bucketed table's manifest entry is ``{"buckets": {b: head version},
    "chains": {b: [link, ...]}}``, oldest link first. A link is ``{"v": n}``
    for a copy-on-write version, and ``{"v": n, "rows": r, "deletes": d}``
    for one written by the task-side writer.
    """

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        #: pinned schemas parsed so far; a pin never changes once written
        self._schemas: dict[str, StructType] = {}

    # -- manifest ----------------------------------------------------------

    @property
    def _manifest_path(self) -> Path:
        return self.root / "MANIFEST.json"

    def read_manifest(self) -> dict:
        if not self._manifest_path.exists():
            return {"epoch": -1, "tables": {}}
        return json.loads(self._manifest_path.read_text())

    def _write_manifest(self, manifest: dict) -> None:
        """Replace the manifest atomically (write-temp + ``os.replace``)."""
        tmp = self._manifest_path.with_suffix(".json.tmp")
        tmp.write_text(json.dumps(manifest, indent=1))
        os.replace(tmp, self._manifest_path)

    def commit(self, epoch: int, table_versions: dict[str, int]) -> None:
        """Atomically advance the store to ``epoch``."""
        manifest = self.read_manifest()
        manifest["epoch"] = epoch
        manifest["tables"].update({
            k: v if isinstance(v, dict) else int(v)
            for k, v in table_versions.items()
        })
        self._write_manifest(manifest)

    # -- store metadata (layout invariants) ---------------------------------

    def set_meta(self, **kv) -> None:
        """Pin layout invariants (e.g. ``num_partitions`` — the bucket
        modulus baked into every bucketed table) in the manifest so a resume
        with a different configuration fails fast instead of silently
        misrouting bucket reads/writes."""
        manifest = self.read_manifest()
        manifest.setdefault("meta", {}).update(kv)
        self._write_manifest(manifest)

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
        if manifest["tables"].pop(name, None) is not None:
            self._write_manifest(manifest)

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """The committed state of ``name``, read with its pinned schema: no
        Spark job runs until the caller's own action."""
        version = self.read_manifest()["tables"].get(name)
        if version is None:
            raise FileNotFoundError(f"table {name!r} has no committed snapshot")
        if isinstance(version, dict):  # bucketed table
            return self.read_buckets(spark, name)
        return spark.read.schema(self.schema(name)).parquet(
            str(self._table_dir(name, int(version))))

    def write(self, df: DataFrame, name: str, partition_by: list[str] | None = None) -> int:
        """Write the next snapshot of ``name``; returns the new version.

        Not visible until :meth:`commit` records it in the manifest.
        """
        self._pin_schema(name, df.schema)
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

    # -- bucketed tables: per-bucket version chains ---------------------------
    #
    # The reference updates state with per-row MERGE (db.py:205-213). The
    # scale-safe snapshot equivalent works per *bucket*: each table is a set
    # of hash buckets (host_hash for crawl state, the host of the @id for
    # documents), each bucket independently versioned in the manifest. An
    # epoch that touches 1% of hosts writes ~1% of the table's bytes instead
    # of a full rewrite, and reads of untouched buckets are skipped entirely
    # (the epoch passes an explicit bucket list — physical partition pruning
    # by path, no full-table listing). New versions are invisible until the
    # manifest commit lands.
    #
    # ``replace_buckets`` is copy-on-write: a touched bucket's new version
    # holds its complete content, and its chain restarts there. An emptied
    # bucket gets an empty version directory. ``replace_buckets_task_write``
    # is merge-on-read: it appends a delta (rows to add plus delete keys) to
    # each touched bucket's chain, or compacts the chain into a new base.

    def _bucket_dir(self, name: str, bucket: int, version: int) -> Path:
        return self.root / name / f"b{bucket:05d}" / f"v{version}"

    def _schema_path(self, name: str) -> Path:
        return self.root / name / "schema.json"

    def _pin_schema(self, name: str, schema: StructType) -> None:
        """Record the schema of ``name``'s first write (write-temp +
        ``os.replace``, so a crash leaves no torn pin); later writes, also
        after a ``drop``, keep it. Reads of a table without data files
        return an empty frame of it."""
        path = self._schema_path(name)
        if name in self._schemas or path.exists():
            return
        path.parent.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".json.tmp")
        tmp.write_text(schema.json())
        os.replace(tmp, path)
        self._schemas[name] = schema

    def schema(self, name: str) -> StructType:
        """``name``'s pinned schema, parsed once per store instance. A table
        written without one (a store laid out before schemas were pinned)
        raises ``FileNotFoundError``: reads never fall back to inference."""
        if name not in self._schemas:
            self._schemas[name] = StructType.fromJson(
                json.loads(self._schema_path(name).read_text()))
        return self._schemas[name]

    def _bucket_entry(self, name: str) -> dict:
        """A copy of ``name``'s manifest entry (empty for a new table)."""
        v = self.read_manifest()["tables"].get(name)
        if not isinstance(v, dict):
            return {"buckets": {}, "chains": {}}
        return {"buckets": dict(v["buckets"]),
                "chains": {b: list(c) for b, c in v["chains"].items()}}

    def bucket_versions(self, name: str) -> dict[str, int]:
        """The head version of each bucket: the version last written."""
        return self._bucket_entry(name)["buckets"]

    def bucket_chains(self, name: str) -> dict[str, list[dict]]:
        """Each bucket's live chain of version links, oldest first."""
        return self._bucket_entry(name)["chains"]

    def _chain_dirs(self, name: str, only: list[int] | None = None) -> list[Path]:
        """Version directories of the live chains of the ``only`` buckets
        (or of all buckets), oldest link first within a bucket."""
        want = None if only is None else {int(b) for b in only}
        return [self._bucket_dir(name, int(b), int(link["v"]))
                for b, chain in self.bucket_chains(name).items()
                if want is None or int(b) in want
                for link in chain]

    def replace_buckets(
        self,
        df: DataFrame,
        name: str,
        touched: list[int],
        bucket_col: str | Column = "host_hash",
    ) -> dict:
        """Write new content for exactly the ``touched`` buckets of ``name``
        (copy-on-write).

        ``df`` must hold the *complete* new content of those buckets (rows of
        other buckets are filtered out defensively). ``bucket_col`` names
        the bucket column, or is an expression over ``df``'s columns that
        routes rows to buckets without being stored (the frontier's status
        family). Buckets not in ``touched`` keep their current version —
        zero I/O. Returns the manifest entry to pass to :meth:`commit`;
        nothing is visible until the commit lands. Each touched bucket's
        chain restarts at its new version; a bucket whose new content is
        empty gets an empty version directory.
        """
        entry = self._bucket_entry(name)
        buckets, chains = entry["buckets"], entry["chains"]
        self._pin_schema(name, df.schema)
        if touched:
            stage = self.root / name / f"stage-{time.time_ns()}"
            bucket = F.col(bucket_col) if isinstance(bucket_col, str) else bucket_col
            # co-locate each bucket's rows into one task before the
            # directory split — otherwise every upstream task writes a sliver
            # per bucket (tasks × buckets small files)
            (df.withColumn("_b", bucket)
             .filter(F.col("_b").isin([int(b) for b in touched]))
             .repartition(max(len(touched), 1), F.col("_b"))
             .write.mode("overwrite").partitionBy("_b").parquet(str(stage)))
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
                chains[str(int(b))] = [{"v": nxt}]
            shutil.rmtree(stage, ignore_errors=True)
        return entry

    def replace_buckets_task_write(
        self,
        df: DataFrame,
        name: str,
        touched: list[int],
        bucket_col: str = "bucket",
        transform=None,
        deletes: DataFrame | None = None,
    ) -> dict:
        """Write the next version of each ``touched`` bucket of ``name``: a
        delta, or a compacted base. Returns the manifest entry to pass to
        :meth:`commit`; nothing is visible until the commit lands.

        ``df`` holds the rows to add. ``deletes`` holds ``bucket_col`` plus
        the key columns of rows to remove. Once committed, a touched bucket
        reads as its old rows minus those a delete key matches, plus the
        ``df`` rows: a delete key removes rows of older versions only.

        * **Delta.** The new version holds the ``df`` rows, and the delete
          keys in ``_deletes/``; no old row is read or moved. A bucket with
          nothing to add or delete still gets an (empty) delta, so the head
          version of every touched bucket is the version just written.
        * **Base.** A bucket with no chain yet, or whose chain is due (its
          deltas' rows plus delete keys reach ``COMPACT_RATIO`` × its base
          rows, or it has ``MAX_DELTAS`` deltas), is compacted in the same
          job: its live rows minus the delete keys are read back and
          written with the ``df`` rows as one base, which restarts its
          chain. A copy-on-write base has no row count and is always due.

        Link row counts come from the writer's own (bucket, path, rows)
        manifest, so the policy costs no footer read and no extra job.

        Each task writes its parquet files itself (pyarrow C++) instead of
        handing rows back to the JVM writer. Built for the documents sink,
        whose mass is the 6 KB packed-float32 embedding column: with the JVM
        writer those bytes cross the Python→JVM Arrow socket and a second
        encode pipeline; here they go straight from the task's numpy buffers
        to parquet (A/B: ``BENCH/write_leg_ab.json`` — task-side write is
        both faster per core and scales 1→4 cores at ~0.87 vs ~0.72 for the
        JVM writer on a 4-core host). ``transform(record_batch) ->
        record_batch`` runs inside the writer task after the split, on rows
        to add only: each Arrow batch is sorted by bucket and cut into
        zero-copy per-bucket slices, and ``transform`` runs once per slice.
        The documents sink uses it to fill missing embeddings, so new
        vectors are *born* next to the writer and never cross a process
        boundary at all.

        Commit protocol (same guarantees as Spark's Hadoop commit protocol,
        collapsed onto the store's stage-then-rename layout): tasks write
        uniquely-named files under ``stage/_b=<bucket>/`` and *return* the
        (bucket, path, rows, deletes) manifest of what they wrote; only
        files listed by successful tasks are moved into the new bucket
        versions (Spark surfaces one attempt's output per partition, so a
        retried/speculated attempt's leftovers stay unlisted and are deleted
        with the stage dir).
        """
        entry = self._bucket_entry(name)
        buckets, chains = entry["buckets"], entry["chains"]
        keys = [] if deletes is None else [
            c for c in deletes.columns if c != bucket_col]
        self._pin_schema(name, df.schema)
        if keys:
            self._pin_schema(f"{name}/{DELETES_DIR}",
                             StructType([df.schema[k] for k in keys]))
        if not touched:
            return entry
        touched = sorted({int(b) for b in touched})
        bases = {b for b in touched if _compacts(chains.get(str(b)))}
        deltas = [b for b in touched if b not in bases]

        def adds(frame: DataFrame) -> DataFrame:
            return frame.select(*df.columns, F.lit(False).alias(_DELETE_FLAG))

        parts = [adds(df.filter(F.col(bucket_col).isin(touched)))]
        old = sorted(b for b in bases if str(b) in chains)
        if old:  # compaction: the live rows come along into the new base
            live = self.read_buckets(df.sparkSession, name, only=old)
            if deletes is not None:
                live = live.join(
                    deletes.filter(F.col(bucket_col).isin(old)).select(*keys),
                    keys, "left_anti")
            parts.append(adds(live))
        if deletes is not None and deltas:
            types = {f.name: f.dataType for f in df.schema}
            parts.append(deletes.filter(F.col(bucket_col).isin(deltas)).select(
                *[F.col(c) if c in deletes.columns
                  else F.lit(None).cast(types[c]).alias(c) for c in df.columns],
                F.lit(True).alias(_DELETE_FLAG)))
        staged = functools.reduce(DataFrame.union, parts)

        stage = self.root / name / f"stage-{time.time_ns()}"
        stage.mkdir(parents=True, exist_ok=True)
        kernel = _bucket_writer_kernel(str(stage), bucket_col, transform, keys)
        listed: dict[int, list] = {}
        for r in staged.mapInArrow(kernel, _WRITER_MANIFEST).collect():
            listed.setdefault(int(r.bucket), []).append(r)
        for b in touched:
            nxt = int(buckets.get(str(b), -1)) + 1
            target = self._bucket_dir(name, b, nxt)
            if target.exists():  # uncommitted leftover: epoch re-run
                shutil.rmtree(target)
            target.mkdir(parents=True)
            link = {"v": nxt, "rows": 0, "deletes": 0}
            for r in listed.get(b, ()):
                dest = target / DELETES_DIR if r.deletes else target
                dest.mkdir(exist_ok=True)
                os.replace(r.path, dest / Path(r.path).name)
                link["deletes" if r.deletes else "rows"] += int(r.rows)
            chains[str(b)] = [link] if b in bases else [*chains[str(b)], link]
            buckets[str(b)] = nxt
        shutil.rmtree(stage, ignore_errors=True)
        return entry

    def read_buckets(
        self, spark: SparkSession, name: str, only: list[int] | None = None
    ) -> DataFrame:
        """Read a bucketed table — all buckets, or just ``only`` (an epoch
        reads exactly the buckets it crawls: O(touched), not O(table)).

        Each bucket reads as its chain merged: the rows of every link, minus
        the rows a delete key of a *later* link of the same bucket matches
        (Iceberg's sequence-number rule, so a key deleted at version k and
        re-added at k+1 is live). Chains without delete keys are a plain
        parquet read. Rows and delete keys read with their pinned schemas,
        and buckets without data files read as an empty frame that runs no
        task, so building the frame launches no Spark job."""
        dirs = self._chain_dirs(name, only)
        data = [str(d) for d in dirs if any(d.glob("*.parquet"))]
        if not data:
            return empty_frame(spark, self.schema(name))
        rows = spark.read.schema(self.schema(name)).parquet(*data)
        dels = [str(d / DELETES_DIR) for d in dirs if (d / DELETES_DIR).is_dir()]
        if not dels:
            return rows
        keys = spark.read.schema(
            self.schema(f"{name}/{DELETES_DIR}")).parquet(*dels)

        def link(group: int):
            return F.regexp_extract(
                F.col("_metadata.file_path"), _LINK_RE, group).cast("int")

        live = rows.select("*", link(1).alias("_b"), link(2).alias("_v"))
        kill = keys.select(*[F.col(k).alias(f"_k_{k}") for k in keys.columns],
                           link(1).alias("_kb"), link(2).alias("_kv"))
        cond = [F.col(k) == F.col(f"_k_{k}") for k in keys.columns]
        cond += [F.col("_b") == F.col("_kb"), F.col("_v") < F.col("_kv")]
        return live.join(kill, cond, "left_anti").select(*rows.columns)

    def table_bytes(self, name: str) -> int:
        """Total bytes of the table's *live* files — every link of every
        bucket chain, delete keys included (tests use the delta across an
        epoch to assert write amplification)."""
        v = self.read_manifest()["tables"].get(name)
        if v is None:
            return 0
        dirs = (self._chain_dirs(name) if isinstance(v, dict)
                else [self._table_dir(name, int(v))])
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
        The read-back passes ``df.schema``, the schema just written, so it
        launches no Spark job (its columns come back nullable).
        """
        path = self.root / "scratch" / name
        df.write.mode("overwrite").parquet(str(path))
        return spark.read.schema(df.schema).parquet(str(path))

    def scratch_rows(self, name: str) -> int:
        """Row count of a materialized scratch table from parquet footers —
        driver-side pyarrow, no Spark job. Each avoided ``count()``/
        ``isEmpty()`` action saves ~0.1-0.3 s of fixed driver cost per epoch,
        which is exactly the non-scaling term the N-vs-4N efficiency ratio
        punishes."""
        return parquet_rows(self.root / "scratch" / name)

    def scratch_null_counts(self, name: str, cols: list[str]) -> dict[str, int | None]:
        """Per-column null counts of a scratch table from parquet row-group
        statistics (written by Spark by default) — driver-side, no Spark job.
        A column missing statistics is reported as ``None`` (unknown)."""
        return parquet_null_counts(self.root / "scratch" / name, cols)

    def scratch_column_values(self, name: str, col: str) -> Counter:
        """Each value of one (small, e.g. bucket-id or tag) column of a
        scratch table with its row count — pyarrow column read, driver-side,
        no Spark job. This is how the engine learns the buckets a pinned
        change touches and how many rows of each kind it holds."""
        import pyarrow.parquet as pq

        counts = Counter()
        for f in (self.root / "scratch" / name).glob("*.parquet"):
            vc = pq.read_table(str(f), columns=[col]).column(col).value_counts()
            counts.update(dict(zip(vc.field("values").to_pylist(),
                                   vc.field("counts").to_pylist())))
        return counts

    def buckets_with_nulls(
        self, name: str, col: str, only: list[int] | None = None
    ) -> list[int]:
        """Bucket ids (within ``only``) whose live files hold NULLs in
        ``col``, from parquet footer statistics alone — no Spark job.
        Missing statistics read as "no NULLs", so callers must treat the
        result as best-effort. The engine has no caller; the method stays
        because the benchmark's tracer (``perfbench/tracing.py``) wraps it by
        name on every store it traces."""
        return sorted({
            int(d.parent.name[1:]) for d in self._chain_dirs(name, only)
            if d.exists() and (parquet_null_counts(d, [col])[col] or 0) > 0})

    def has_live_buckets(self, name: str, only: list[int] | None = None) -> bool:
        """True if any link of the ``only`` buckets' chains (or of any
        bucket's) holds data files. Driver-side manifest + dirlist
        check — lets the epoch loop skip whole Spark plans (selection on an
        all-settled frontier, seen-set anti-joins on never-crawled hosts)
        without launching a job. False for missing or non-bucketed tables."""
        return any(any(d.glob("*.parquet")) for d in self._chain_dirs(name, only))

    # -- append-only tables (per-epoch logs) --------------------------------

    def append(self, df: DataFrame, name: str, label: str) -> None:
        """Append a labeled part to an append-only table (e.g. per-epoch
        metrics). Parts are immutable; the union happens at read time —
        O(1) write per epoch instead of cumulative rewrites."""
        self._pin_schema(name, df.schema)
        df.write.mode("overwrite").parquet(str(self.root / name / f"a{label}"))

    def read_appended(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.schema(self.schema(name)).parquet(
            str(self.root / name / "a*"))

    def has_appended(self, name: str) -> bool:
        table_root = self.root / name
        return table_root.exists() and any(table_root.glob("a*"))

    def vacuum(self, keep_last: int = 2) -> None:
        """Drop the version directories no live chain holds that are older
        than the last ``keep_last`` versions of their table or bucket, and
        every ``stage-*`` directory a crashed bucket write left behind. Every
        link of a live bucket chain stays, however old: a base under its
        deltas is live data. Run it between epochs, never while a write is
        in flight: an in-flight write's stage directory looks the same as a
        crashed one."""
        def _sweep(dir_: Path, current: int, live: set[int]) -> None:
            for child in dir_.iterdir():
                if child.name.startswith("v"):
                    try:
                        v = int(child.name[1:])
                    except ValueError:
                        continue
                    if v not in live and v <= current - keep_last:
                        shutil.rmtree(child, ignore_errors=True)

        manifest = self.read_manifest()
        for name, current in manifest["tables"].items():
            table_root = self.root / name
            if not table_root.exists():
                continue
            if isinstance(current, dict):
                for b, chain in current["chains"].items():
                    bdir = table_root / f"b{int(b):05d}"
                    if bdir.exists():
                        _sweep(bdir, int(current["buckets"][b]),
                               {int(link["v"]) for link in chain})
            else:
                _sweep(table_root, int(current), {int(current)})
        for stage in self.root.glob("*/stage-*"):
            shutil.rmtree(stage, ignore_errors=True)


def empty_frame(spark: SparkSession, schema: StructType) -> DataFrame:
    """An empty frame of exactly ``schema`` that runs no task: built from an
    empty Arrow table, it plans as an empty local relation, which the
    optimizer prunes out of unions and joins. ``createDataFrame([], schema)``
    instead scans a Python RDD, which costs Python tasks in every plan that
    reads it."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema)


#: what each writer task returns: one row per file it wrote
_WRITER_MANIFEST = StructType([
    StructField("bucket", IntegerType()),
    StructField("path", StringType()),
    StructField("rows", LongType()),
    StructField("deletes", BooleanType()),
])


def _compacts(chain: list[dict] | None) -> bool:
    """Whether the next task-side write to a bucket with this chain writes a
    base: the bucket is new, its base has no row count (a copy-on-write
    version), or its deltas are due (see ``COMPACT_RATIO``)."""
    if not chain or "rows" not in chain[0]:
        return True
    deltas = chain[1:]
    pending = sum(link["rows"] + link["deletes"] for link in deltas)
    return (len(deltas) >= MAX_DELTAS
            or pending >= COMPACT_RATIO * chain[0]["rows"])


def _bucket_writer_kernel(stage_dir: str, bucket_col: str, transform,
                          keys: list[str]):
    """``mapInArrow`` kernel for :meth:`SnapshotStore.replace_buckets_task_write`.

    Keeps one open ``ParquetWriter`` per (bucket, kind) seen by the task
    (bounded by twice the table's bucket modulus), splits each Arrow batch
    by the ``_delete`` flag and then by the bucket column, and yields
    (bucket, path, rows, deletes) manifest rows on completion. Rows to add
    keep every column but the flag and go to ``_b=<bucket>/``; delete-key
    rows keep only the ``keys`` columns and go to ``_b=<bucket>/_deletes/``.
    File names carry the partition id plus a fresh uuid, so retried/
    speculated attempts can never collide.

    Split strategy: rows are ordered by bucket BEFORE the transform runs,
    with one ``take()`` over the ~1 KB pre-embed rows, and each bucket's
    run is then a ZERO-COPY contiguous slice. The previous shape
    (transform first, then one ``filter()`` per bucket) re-copied the
    post-transform 6 KB embedding rows once per batch — on a 16 GB epoch
    that is 16 GB of pure memcpy on the exact resource (DRAM bandwidth)
    that contends across executor cores, i.e. it taxed the N→4N scaling of
    the engine's single heaviest leg. The transform now runs per slice of
    rows to add; its output feeds the parquet writer directly. The writer's
    input is a union whose partitions never mix kinds, so the flag split is
    a pass-through in practice.
    """

    def kernel(batches):
        import os
        import uuid

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        writers: dict[tuple[int, bool], tuple] = {}
        counts: dict[tuple[int, bool], int] = {}
        ctx = TaskContext.get()
        tid = ctx.partitionId() if ctx is not None else 0
        tag = uuid.uuid4().hex[:12]

        def write(part, v: int, is_del: bool) -> None:
            part = pa.Table.from_batches([part])
            w = writers.get((v, is_del))
            if w is None:
                d = os.path.join(stage_dir, f"_b={v}",
                                 *([DELETES_DIR] if is_del else []))
                os.makedirs(d, exist_ok=True)
                path = os.path.join(d, f"part-{tid:05d}-{tag}.parquet")
                # Dictionary-encode and keep footer statistics only for
                # non-binary columns: a high-entropy 6 KB packed-float32
                # embedding value never repeats, so dictionary encoding
                # just hashes every value until the 1 MB dict page
                # overflows and falls back to PLAIN, and min/max stats
                # memcmp 6 KB values for a footer nobody reads (the
                # engine's null-count probes read the JVM-written extract
                # scratch, not this sink). Measured: -16% encode wall on
                # the embedding-dominated documents schema.
                small = [f.name for f in part.schema
                         if not pa.types.is_binary(f.type)
                         and not pa.types.is_large_binary(f.type)]
                # Uncompressed: the mass is packed float32 embeddings,
                # which no codec shrinks — a codec only adds a full pass
                # over the table's bytes (A/B-measured, NOTES.md
                # round-4 delta).
                w = (pq.ParquetWriter(path, part.schema,
                                      compression="none",
                                      use_dictionary=small,
                                      write_statistics=small), path)
                writers[(v, is_del)] = w
                counts[(v, is_del)] = 0
            w[0].write_table(part)
            counts[(v, is_del)] += part.num_rows

        for batch in batches:
            if batch.num_rows == 0:
                continue
            flag = batch.column(_DELETE_FLAG)
            kinds = pc.unique(flag).to_pylist()
            for is_del in kinds:
                b = batch if len(kinds) == 1 else batch.filter(
                    pc.equal(flag, is_del))
                col = b.column(bucket_col)
                if pc.count_distinct(col).as_py() > 1:
                    b = b.take(pc.sort_indices(col))
                    col = b.column(bucket_col)
                b = b.select(keys if is_del else [
                    c for c in b.schema.names if c != _DELETE_FLAG])
                vals = col.to_numpy()
                edges = [0, *(np.flatnonzero(np.diff(vals)) + 1).tolist(),
                         len(vals)]
                for i in range(len(edges) - 1):
                    part = b.slice(edges[i], edges[i + 1] - edges[i])
                    if transform is not None and not is_del:
                        part = transform(part)
                    write(part, int(vals[edges[i]]), is_del)
        man = pa.schema([("bucket", pa.int32()), ("path", pa.string()),
                         ("rows", pa.int64()), ("deletes", pa.bool_())])
        for (v, is_del), (w, path) in writers.items():
            w.close()
            yield pa.RecordBatch.from_pylist(
                [{"bucket": v, "path": path, "rows": counts[(v, is_del)],
                  "deletes": is_del}], schema=man)

    return kernel


def parquet_rows(path: str | Path) -> int:
    """Total row count of a parquet directory from file footers (pyarrow,
    driver-side — no Spark job)."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(str(f)).metadata.num_rows
        for f in Path(path).glob("*.parquet")
    )


def parquet_null_counts(path: str | Path, cols: list[str]) -> dict[str, int | None]:
    """Per-column null counts summed over a parquet directory's row-group
    statistics (pyarrow, driver-side). A column whose statistics are absent
    in any row group is reported as ``None``: its null count is unknown."""
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
        out[c] = None
    return out
