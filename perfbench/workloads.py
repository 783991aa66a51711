"""The two crawl workloads and their correctness gate.

``cold_crawl``: bootstrap and crawl the synthetic corpus to fixed point on a
fresh store, as the first crawl of a fresh driver process. Every host is
first-contact, so the seen-set probe is skipped; extract, embed, the
documents write and the Bloom build do the work.

``recrawl``: the production shape. Setup crawls corpus A to fixed point
(untimed, doubling as warm-up) and keeps that store as a baseline. Each
timed iteration starts from a copy of the baseline and, against corpus B,
re-queues every live file (``add_manual_files``), removes ~1% of files
(``remove_manual_files``), adds ~1% new files and crawls to fixed point.
In corpus B ~5% of the chunk files have every ``@id`` replaced. The seed
picks which files change, go and arrive.

Correctness is checked against an oracle parsed straight from the corpus
bodies (plain ``json``, not the engine's extract kernel).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import random
import shutil
import time
from pathlib import Path

USER = "test:user001"

#: the synthetic corpus: 40 sites x 10 chunk files (site 0 is hot with 80),
#: 100 JSON-LD objects per chunk file -> 470 files and 47,000 ids
CORPUS = {"n_sites": 40, "chunks_per_site": 10, "items_per_chunk": 100,
          "hot_site_chunks": 80}
#: fixes the corpus structure; see write_corpus
CORPUS_SEED = 42
CHANGED_SHARE = 0.05
REMOVED_SHARE = 0.01
ADDED_SHARE = 0.01


def crawl_config():
    """The benchmark's engine configuration: the layout fields, plus
    ``collect_stats=False`` only while the engine still has that field."""
    from crawler_spark.crawl import CrawlConfig

    kw = {"num_partitions": 8, "per_host_budget": 80, "salt_buckets": 16}
    if "collect_stats" in {f.name for f in dataclasses.fields(CrawlConfig)}:
        kw["collect_stats"] = False
    return CrawlConfig(**kw)


# -- oracle -------------------------------------------------------------------

def _id_hash(ident: str) -> tuple[int, int]:
    h = hashlib.md5(ident.encode()).hexdigest()
    return int(h[:8], 16), int(h[8:16], 16)


@dataclasses.dataclass
class Expected:
    files: int
    ids: int
    docs: int
    hash_a: int
    hash_b: int


class CorpusTruth:
    """Per chunk file: its ``@id`` list and how many of its objects are
    indexable (not typed ``BreadcrumbList``), parsed from the page bodies."""

    def __init__(self, pages_dir: Path):
        import pyarrow.parquet as pq

        tbl = pq.read_table(str(pages_dir), columns=["url", "html"])
        self.files: dict[str, tuple[list[str], int]] = {}
        for url, body in zip(tbl.column("url").to_pylist(),
                             tbl.column("html").to_pylist()):
            if not url.endswith(".json"):
                continue
            ids: dict[str, bool] = {}
            for obj in json.loads(body):
                t = obj.get("@type")
                types = t if isinstance(t, list) else [t]
                ids.setdefault(obj["@id"], "BreadcrumbList" not in types)
            self.files[url] = (list(ids), sum(ids.values()))

    def expected(self, live: list[str]) -> Expected:
        n_ids = n_docs = ha = hb = 0
        for url in live:
            ids, docs = self.files[url]
            n_ids += len(ids)
            n_docs += docs
            for i in ids:
                a, b = _id_hash(i)
                ha += a
                hb += b
        return Expected(len(live), n_ids, n_docs, ha, hb)


def check_state(spark, engine, expect: Expected) -> dict[str, bool]:
    """The correctness gate over the committed state after a crawl (three
    Spark jobs)."""
    from pyspark.sql import functions as F

    def half(lo):
        return F.conv(F.substring(F.md5("id"), lo, 8), 16, 10).cast("long")

    grouped = engine.url_seen().groupBy("id", "user_id").agg(
        F.count(F.lit(1)).alias("n"))
    refcounts = engine.store.read(spark, "refcounts").select(
        "id", "user_id", F.col("ref_count").cast("long").alias("rc"))
    n, ha, hb, rc_mismatch = grouped.join(
        refcounts, ["id", "user_id"], "full_outer").agg(
        F.sum("n"), F.sum(half(1) * F.col("n")), F.sum(half(9) * F.col("n")),
        F.count(F.when(~F.col("rc").eqNullSafe(F.col("n")), 1))).first()
    pending, done = engine.frontier().agg(
        F.count(F.when((F.col("status") == "pending") & F.col("is_active"), 1)),
        F.count(F.when((F.col("job_type") == "process_file") & F.col("is_active")
                       & (F.col("status") == "done"), 1))).first()
    return {
        "url_seen_ids": (n, ha, hb) == (expect.ids, expect.hash_a, expect.hash_b),
        "documents_count": engine.documents().count() == expect.docs,
        "refcounts_match_url_seen": rc_mismatch == 0,
        "no_pending_frontier": pending == 0,
        "files_done": done == expect.files,
    }


# -- corpus ---------------------------------------------------------------------

def _rename_ids(html, tag: str):
    from pyspark.sql import functions as F

    return F.regexp_replace(html.cast("string"), F.lit("#schema-"),
                            F.lit(f"#schema-{tag}-")).cast("binary")


def write_corpus(spark, path: Path, seed: int, extra_chunks: int = 0):
    """Materialize the pages table to parquet and return the read-back
    DataFrame.

    The corpus structure (sites, chunk counts, robots delays, object types)
    is fixed by ``CORPUS_SEED``, so every workload seed crawls the same
    number of epochs; ``seed`` renames every ``@id`` (``#schema-`` becomes
    ``#schema-s<seed>-``), which moves ids across document buckets.
    ``extra_chunks`` adds unlisted chunk files per site: pages that exist
    but no sitemap names.
    """
    from pyspark.sql import functions as F

    from crawler_spark.sources.synth import corpus_pages_df

    chunks = CORPUS["chunks_per_site"]
    hot = CORPUS["hot_site_chunks"]
    listed = None
    if extra_chunks:
        listed = {s: list(range(hot if s == 0 else chunks))
                  for s in range(CORPUS["n_sites"])}
    pages = corpus_pages_df(
        spark, CORPUS["n_sites"], chunks + extra_chunks,
        items_per_chunk=CORPUS["items_per_chunk"], seed=CORPUS_SEED,
        hot_site_chunks=hot, sitemap_chunks=listed)
    pages = pages.withColumn("html", F.when(
        F.col("url").endswith(".json"), _rename_ids(F.col("html"), f"s{seed}")
    ).otherwise(F.col("html")))
    pages.write.mode("overwrite").parquet(str(path))
    return spark.read.parquet(str(path))


def write_changed(spark, src: Path, dst: Path, changed: list[str], tag: str):
    """Copy of the pages table at ``src`` in which every ``@id`` of the
    ``changed`` files is replaced by a disjoint one."""
    from pyspark.sql import functions as F

    pages = spark.read.parquet(str(src))
    pages.withColumn("html", F.when(
        F.col("url").isin(changed), _rename_ids(F.col("html"), tag)
    ).otherwise(F.col("html"))).write.mode("overwrite").parquet(str(dst))
    return spark.read.parquet(str(dst))


def corpus_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.glob("*.parquet"))


def data_files(root: Path) -> dict[str, int]:
    """Size of every committed data file under a store root (the transient
    ``scratch`` area excluded)."""
    return {str(f): f.stat().st_size for f in root.rglob("*.parquet")
            if "scratch" not in f.relative_to(root).parts}


# -- workloads --------------------------------------------------------------------

@dataclasses.dataclass
class Iteration:
    wall_s: float
    urls: int
    bytes_written: int
    checks: dict[str, bool]


class CrawlWorkload:
    """Common driver of both crawl workloads: ``setup`` once, then any
    number of ``iteration`` calls, each on its own fresh store."""

    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cfg = crawl_config()
        self._n = 0

    def _prepare(self, root: Path) -> None:
        """Lay out the store an iteration starts from (empty by default)."""

    def iteration(self, tracer=None) -> Iteration:
        from crawler_spark.crawl import CrawlEngine
        from crawler_spark.sources.tables import SnapshotStore

        shutil.rmtree(self.work / f"state{self._n}", ignore_errors=True)
        self._n += 1
        root = self.work / f"state{self._n}"
        self._prepare(root)
        store = SnapshotStore(root)
        engine = CrawlEngine(self.spark, store, self.pages, self.cfg)
        if tracer is not None:
            tracer.wrap_store(store)
            tracer.wrap_engine(engine)
        before = data_files(root)
        # start every timed crawl from the same state: setup's dirty pages
        # written back and the driver heap collected
        os.sync()
        self.spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        self._timed(engine)
        wall = time.perf_counter() - t0
        if tracer is not None:
            tracer.active = False
        written = sum(size for path, size in data_files(root).items()
                      if path not in before)
        checks = check_state(self.spark, engine, self.expect)
        return Iteration(wall, self.expect.files + self.expect.ids, written, checks)


class ColdCrawl(CrawlWorkload):
    def setup(self) -> None:
        from crawler_spark.session import tune_scan_splits
        from crawler_spark.sources.synth import seeds_df

        self.pages_dir = self.work / "pages"
        self.pages = write_corpus(self.spark, self.pages_dir, self.seed)
        tune_scan_splits(self.spark, corpus_bytes(self.pages_dir))
        self.seeds = seeds_df(self.spark, CORPUS["n_sites"], USER)
        truth = CorpusTruth(self.pages_dir)
        self.expect = truth.expected(sorted(truth.files))

    def _timed(self, engine) -> None:
        engine.bootstrap(self.seeds)
        engine.run()


class Recrawl(CrawlWorkload):
    def setup(self) -> None:
        from crawler_spark.crawl import CrawlEngine
        from crawler_spark.session import tune_scan_splits
        from crawler_spark.sources.synth import chunk_url, seeds_df
        from crawler_spark.sources.tables import SnapshotStore

        rng = random.Random(self.seed)
        n_sites, chunks = CORPUS["n_sites"], CORPUS["chunks_per_site"]
        # corpus A holds one unlisted extra chunk page per non-hot site (the
        # candidates for new files); corpus B is A with the changed files'
        # ids replaced
        pages_a_dir = self.work / "pages_a"
        pages_a = write_corpus(self.spark, pages_a_dir, self.seed, extra_chunks=1)
        unlisted = sorted(chunk_url(s, chunks) for s in range(1, n_sites))
        truth_a = CorpusTruth(pages_a_dir)
        files = sorted(set(truth_a.files) - set(unlisted))
        changed = rng.sample(files, round(CHANGED_SHARE * len(files)))
        keep = sorted(set(files) - set(changed))
        removed = rng.sample(keep, round(REMOVED_SHARE * len(files)))
        added = sorted(rng.sample(unlisted, round(ADDED_SHARE * len(files))))
        self.pages_dir = self.work / "pages_b"
        self.pages = write_changed(self.spark, pages_a_dir, self.pages_dir,
                                   changed, f"s{self.seed}c")
        live = sorted((set(files) - set(removed)) | set(added))
        self.expect = CorpusTruth(self.pages_dir).expected(live)

        def rows(urls):
            return [(u.split("/")[2], USER, u,
                     f"https://{u.split('/')[2]}/schema_map.xml") for u in urls]

        cols = ["site_url", "user_id", "file_url", "schema_map"]
        self.requeue = self.spark.createDataFrame(rows(files + added), cols)
        self.removed = self.spark.createDataFrame(rows(removed), cols)

        # the untimed cold crawl of corpus A: the baseline every timed
        # iteration starts from, and the warm-up
        tune_scan_splits(self.spark, corpus_bytes(pages_a_dir))
        self.baseline = self.work / "baseline"
        base = CrawlEngine(self.spark, SnapshotStore(self.baseline), pages_a, self.cfg)
        base.bootstrap(seeds_df(self.spark, n_sites, USER))
        base.run()
        self.last_epoch = base.store.read_manifest()["epoch"]
        tune_scan_splits(self.spark, corpus_bytes(self.pages_dir))

    def _prepare(self, root: Path) -> None:
        # hard links: the store never modifies a file in place (new versions
        # go to new directories, the manifest is replaced by rename)
        shutil.copytree(self.baseline, root, copy_function=os.link)

    def _timed(self, engine) -> None:
        epoch = self.last_epoch + 1
        engine.add_manual_files(self.requeue, epoch)
        engine.remove_manual_files(self.removed, epoch)
        engine.run()


WORKLOADS = {"cold_crawl": ColdCrawl, "recrawl": Recrawl}
