"""The headline catalog queries as a per-layer leg of the traced run.

Generates a deterministic star-schema dataset shaped like the sf0.1 test
tables (region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), runs the 19 headline queries of
``crawler_spark.plans.queries.CATALOG`` over it, each fully materialized with
``.count()`` after an untimed table-read warm-up, and checks every result's
row count and order-insensitive value hash against ``query_goldens.json``.

The query list is a copy, so edits elsewhere cannot change the workload.

Re-record the goldens (only when the dataset or the list changes):
    python3 perfbench/querysuite.py --record
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

HEADLINE = (
    "pricing_summary", "shipping_priority", "region_revenue",
    "site_status_rollup", "url_seen_refcount", "first_occurrence_gate",
    "per_host_budget", "windowed_events", "json_extract_agg", "dedup_exact",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_lines", "ann_cosine_topk",
    "text_quality", "token_stats", "top_tokens", "pack_sequences",
    "posting_lists",
)

GOLDENS = Path(__file__).resolve().parent / "query_goldens.json"
DATA_SEED = 42
SF = 0.1

_WORDS = ("spark", "window", "merge", "table", "column", "vector", "stream",
          "value", "data", "small", "join", "filter", "big", "group", "hash",
          "customer", "sort", "order", "slow", "line", "part", "fast", "row",
          "the", "agg", "key", "query", "a", "scan", "batch")


def generate(out: Path, seed: int = DATA_SEED, sf: float = SF) -> None:
    """Write ``<table>.parquet`` for every table the headline queries read."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    def pick(options, n):
        return np.asarray(options, dtype=object)[rng.integers(0, len(options), n)]

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, span, n):
        return (np.datetime64(start, "us")
                + rng.integers(0, span, n).astype("timedelta64[D]"))

    def save(name, cols):
        pq.write_table(pa.table(cols), str(out / f"{name}.parquet"))

    save("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    save("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    save("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], n_cust)})
    save("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["red", "new", "hot", "small", "big", "old", "blue", "cold"]
    noun = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]
    save("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(adj, n_part), pick(noun, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                        "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    save("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": days("1995-01-01", 2405, n_ord),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    save("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": days("1995-01-02", 2499, n_li)})
    gaps = rng.exponential(26.0, n_ev) * 1e6
    save("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_cust // 10, n_ev),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.gamma(2.0, 25.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(pick(_WORDS, int(n))) for n in rng.integers(8, 100, n_doc)]
    for i in range(50, n_doc, 97):  # plant exact duplicates
        texts[i] = texts[i - 50] = texts[i - 50] + " dup"
    save("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pick(["en", "en", "en", "zh", "es", "fr", "de"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    save("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def value_hash(df) -> tuple[int, int]:
    """(row count, order-insensitive hash) of a query result: the sum over
    rows of 32 bits of md5 of the row's canonical text. Doubles are rounded
    to 6 decimals so partial-sum order cannot change the hash."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType, FloatType, MapType, StructType

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (DoubleType, FloatType)):
            c = F.format_number(F.round(c, 6), 6)
        elif isinstance(f.dataType, (ArrayType, MapType, StructType)):
            c = F.to_json(c)
        cols.append(F.coalesce(c.cast("string"), F.lit("∅")))
    row = F.md5(F.concat_ws("␟", *cols))
    n, h = df.agg(F.count(F.lit(1)),
                  F.sum(F.conv(F.substring(row, 1, 8), 16, 10).cast("long"))).first()
    return int(n), int(h or 0)


def run_suite(spark, data_dir: Path, goldens: dict | None) -> tuple[dict, dict]:
    """Time every headline query; return (seconds per query, check per
    query). With ``goldens`` None the checks are skipped."""
    from crawler_spark.plans.queries import CATALOG

    for t in ("lineitem", "orders", "customer", "events", "documents", "embeddings"):
        spark.read.parquet(str(data_dir / f"{t}.parquet")).count()
    seconds, checks = {}, {}
    for name in HEADLINE:
        fn = CATALOG[name][0]
        t0 = time.perf_counter()
        fn(spark, str(data_dir)).count()
        seconds[name] = time.perf_counter() - t0
        if goldens is not None:
            checks[name] = list(value_hash(fn(spark, str(data_dir)))) == goldens[name]
    return seconds, checks


def _record() -> None:
    import shutil

    root = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(root))
    from run import session  # noqa: E402 - perfbench/run.py, same directory

    work = root / ".perfbench_work" / "record"
    with session(work) as spark:
        generate(work / "tpch")
        from crawler_spark.plans.queries import CATALOG

        out = {n: list(value_hash(CATALOG[n][0](spark, str(work / "tpch"))))
               for n in HEADLINE}
    shutil.rmtree(work, ignore_errors=True)
    GOLDENS.write_text(json.dumps(out, indent=1) + "\n")
    print(f"wrote {GOLDENS}")


if __name__ == "__main__":
    if sys.argv[1:] != ["--record"]:
        sys.exit("usage: python3 perfbench/querysuite.py --record")
    _record()
