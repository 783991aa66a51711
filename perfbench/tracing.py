"""Span recorder for the traced run: per-leg time, rows, bytes and Spark jobs.

The crawl engine is traced from the outside. The benchmark wraps the public
methods of the ``SnapshotStore`` and ``CrawlEngine`` *instances* it creates
(no class is patched), so every store call and engine entry point becomes a
span with a name, start, end, parent and thread. Spans live in memory and
are dumped as JSON when the run ends.

A crawl leg is keyed by the table its store call names (``LEG_OF_TABLE``).
Store calls made inside ``discover`` belong to the ``discover`` leg. Store
calls nested in another store call (for example ``bucket_versions`` inside
``replace_buckets``) inherit their parent's leg. What ``run_epoch`` does
itself is the ``epoch`` leg: driver glue plus the jobs it runs outside any
store call. The manual add/remove entry points only maintain the frontier,
so their own work is billed to the ``frontier`` leg.

Each span tags the Spark jobs it triggers with ``setJobGroup`` in its own
thread; job counts per leg come from ``statusTracker``. The time the tracer
spends in its own bookkeeping (span records, job-group calls, footer reads)
is summed over all threads as ``overhead_s``: an upper bound on how much it
lengthens the traced crawl.
"""

from __future__ import annotations

import json
import threading
import time
from pathlib import Path

LEG_OF_TABLE = {
    "selected_epoch": "select",
    "extracted_epoch": "extract",
    "added_epoch": "seen_diff",
    "removed_epoch": "seen_diff",
    "url_seen": "url_seen",
    "blooms": "filter",
    "cuckoos": "filter",
    "refcounts": "refcounts",
    "documents": "documents",
    "frontier": "frontier",
    "metrics": "metrics",
    "errors": "errors",
}

#: engine entry points and the leg their own work (and nested store calls)
#: is billed to
LEG_OF_ENGINE = {
    "run_epoch": "epoch",
    "discover": "discover",
    "add_manual_files": "frontier",
    "remove_manual_files": "frontier",
}

#: every leg the benchmark reports, in epoch order
LEGS = ("select", "extract", "seen_diff", "url_seen", "filter", "refcounts",
        "documents", "frontier", "metrics", "errors", "discover", "commit",
        "epoch")

#: SnapshotStore methods that write data; their output is measured from
#: parquet footers and file sizes once the call returns
WRITE_METHODS = ("materialize", "write", "replace_buckets",
                 "replace_buckets_task_write", "append")

STORE_METHODS = (
    "read_manifest", "commit", "set_meta", "get_meta", "current_version",
    "exists", "drop", "read", "write", "bucket_versions", "replace_buckets",
    "replace_buckets_task_write", "read_buckets", "table_bytes", "materialize",
    "scratch_rows", "scratch_null_counts", "scratch_column_values",
    "buckets_with_nulls", "has_live_buckets", "append", "read_appended",
    "has_appended",
)


class Span:
    __slots__ = ("id", "name", "kind", "leg", "table", "parent", "thread",
                 "start", "end", "rows", "bytes", "buckets")

    def __init__(self, sid, name, kind, leg, table, parent, thread, start):
        self.id, self.name, self.kind, self.leg = sid, name, kind, leg
        self.table, self.parent, self.thread = table, parent, thread
        self.start = self.end = start
        self.rows = self.bytes = self.buckets = 0

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


def parquet_stats(path: Path) -> tuple[int, int]:
    """(rows, bytes) of the parquet files under ``path`` — footers only."""
    import pyarrow.parquet as pq

    rows = size = 0
    for f in path.rglob("*.parquet"):
        rows += pq.ParquetFile(str(f)).metadata.num_rows
        size += f.stat().st_size
    return rows, size


class Tracer:
    """Records the spans of one traced crawl. ``tag`` prefixes its Spark job
    groups so jobs of other runs in the same application are not counted."""

    def __init__(self, spark, tag: str):
        self.sc = spark.sparkContext
        self.tag = tag
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._engine_span: Span | None = None
        #: set False to stop recording (e.g. while the correctness gate
        #: reads the traced store after the timed part)
        self.active = True
        self.overhead_s = 0.0

    # -- span bookkeeping ---------------------------------------------------

    def _parent(self) -> Span | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else self._engine_span

    def _open(self, name: str, kind: str, leg: str, table: str | None):
        parent = self._parent()
        with self._lock:
            span = Span(len(self.spans), name, kind, leg, table,
                        parent.id if parent else None,
                        threading.current_thread().name, time.perf_counter())
            self.spans.append(span)
        if getattr(self._local, "stack", None) is None:
            self._local.stack = []
        self._local.stack.append(span)
        prev = getattr(self._local, "group", None)
        group = f"{self.tag}|{leg}"
        if group != prev:
            self.sc.setJobGroup(group, leg)
            self._local.group = group
        span.start = span.end = time.perf_counter()  # bookkeeping excluded
        return span, prev

    def _close(self, span: Span, prev_group: str | None) -> None:
        span.end = time.perf_counter()
        self._local.stack.pop()
        if self._local.group != prev_group:
            if prev_group is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev_group, prev_group.split("|", 1)[1])
            self._local.group = prev_group

    def _store_leg(self, method: str, table: str | None) -> str:
        parent = self._parent()
        if parent is not None and (parent.kind == "store"
                                   or parent.leg == "discover"):
            return parent.leg
        if method == "commit":
            return "commit"
        return LEG_OF_TABLE.get(table, "epoch")

    # -- wrappers -----------------------------------------------------------

    def wrap_store(self, store) -> None:
        for method in STORE_METHODS:
            setattr(store, method, self._store_wrapper(store, method))

    def _store_wrapper(self, store, method: str):
        fn = getattr(store, method)

        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            table = None
            if method not in ("get_meta", "set_meta"):
                table = next((a for a in args if isinstance(a, str)), None)
            span, prev = self._open(method, "store",
                                    self._store_leg(method, table), table)
            try:
                out = fn(*args, **kwargs)
            finally:
                self._close(span, prev)
            if method in WRITE_METHODS:
                self._measure_write(store, span, args, kwargs, out)
            self._charge(time.perf_counter() - t0 - (span.end - span.start))
            return out

        return traced

    def wrap_engine(self, engine) -> None:
        for method in LEG_OF_ENGINE:
            setattr(engine, method, self._engine_wrapper(engine, method))

    def _engine_wrapper(self, engine, method: str):
        fn = getattr(engine, method)

        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            span, prev = self._open(method, "engine", LEG_OF_ENGINE[method], None)
            outer, self._engine_span = self._engine_span, span
            try:
                return fn(*args, **kwargs)
            finally:
                self._engine_span = outer
                self._close(span, prev)
                self._charge(time.perf_counter() - t0 - (span.end - span.start))

        return traced

    def _charge(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    def _measure_write(self, store, span: Span, args, kwargs, out) -> None:
        """Rows and bytes of what a write call produced, read back from the
        store's documented layout after the call returned."""
        root = Path(store.root)
        name = span.table
        if span.name == "materialize":
            dirs = [root / "scratch" / name]
        elif span.name == "write":
            dirs = [root / name / f"v{out}"]
        elif span.name == "append":
            label = args[2] if len(args) > 2 else kwargs["label"]
            dirs = [root / name / f"a{label}"]
        else:
            touched = args[2] if len(args) > 2 else kwargs["touched"]
            span.buckets = len(touched)
            dirs = [root / name / f"b{int(b):05d}" / f"v{out['buckets'][str(int(b))]}"
                    for b in touched]
        for d in dirs:
            r, b = parquet_stats(d)
            span.rows += r
            span.bytes += b

    # -- reports --------------------------------------------------------------

    def leg_metrics(self, num_partitions: int) -> dict[str, float]:
        """Per-leg self time, calls, rows, bytes written and Spark jobs,
        plus the driver serial/overlapped split and two leg ratios."""
        tracker = self.sc.statusTracker()
        out: dict[str, float] = {}
        for leg in LEGS:
            out[f"{leg}.s"] = 0.0
            for k in ("calls", "rows", "bytes_written"):
                out[f"{leg}.{k}"] = 0
            out[f"{leg}.spark_jobs"] = len(
                tracker.getJobIdsForGroup(f"{self.tag}|{leg}"))
        by_id = {s.id: s for s in self.spans}
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        serial = overlapped = 0.0
        for s in self.spans:
            out[f"{s.leg}.s"] += _self_time(s, kids.get(s.id, ()))
            out[f"{s.leg}.rows"] += s.rows
            out[f"{s.leg}.bytes_written"] += s.bytes
            parent = by_id.get(s.parent)
            outermost = parent is None or parent.kind != "store"
            if s.kind == "engine" and s.leg in ("discover", "epoch") or (
                    s.name == "commit" and s.leg == "commit") or (
                    outermost and s.name in WRITE_METHODS
                    and s.leg in LEG_OF_TABLE.values()):
                out[f"{s.leg}.calls"] += 1
            # driver split: outermost store calls on the main thread (the
            # serial path) versus on sink pool threads (overlapped)
            if s.kind == "store" and outermost:
                if s.thread == "MainThread":
                    serial += s.end - s.start
                else:
                    overlapped += s.end - s.start
        out["driver.serial_s"] = serial
        out["driver.overlapped_s"] = overlapped
        doc_writes = [s for s in self.spans if s.leg == "documents"
                      and s.name == "replace_buckets_task_write"]
        out["documents.buckets_rewritten"] = (
            sum(s.buckets for s in doc_writes) / (len(doc_writes) * num_partitions)
            if doc_writes else 0.0)
        extracted = sum(s.rows for s in self.spans
                        if s.name == "materialize" and s.table == "extracted_epoch")
        added = sum(s.rows for s in self.spans
                    if s.name == "materialize" and s.table == "added_epoch")
        out["seen_diff.added_share"] = added / extracted if extracted else 0.0
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([s.as_dict() for s in self.spans]))


def _self_time(span: Span, kids) -> float:
    """Span duration minus the part of it that child spans cover (the union
    of their intervals: children on sink pool threads overlap)."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(k.start, span.start), min(k.end, span.end))
                       for k in kids):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start) - covered
