"""Kernel leaves, timed driver-side on a fixed sample of the workload's pages.

The Python-UDF leaves of the crawl — the JSON-LD extract kernel and the stub
embedder — and the parquet encode of embedded rows, each run in-process on
the same sample with no Spark in the way. Each figure is the median of
``REPS`` repetitions.
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

SAMPLE_FILES = 40
REPS = 5


def _median_time(fn) -> float:
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_leaves(pages_dir: Path, out_dir: Path, user_id: str) -> dict[str, float]:
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from crawler_spark.functions.embed import stub_embedding_batch
    from crawler_spark.functions.extract import explode_jsonld_with_meta

    tbl = pq.read_table(str(pages_dir), columns=["url", "html"])
    tbl = tbl.filter(pc.ends_with(tbl.column("url"), ".json")).sort_by("url")
    tbl = tbl.slice(0, SAMPLE_FILES)
    urls = tbl.column("url").to_pylist()
    batch = pd.DataFrame({
        "file_url": urls,
        "body": tbl.column("html").to_pylist(),
        "user_id": user_id,
        "site_url": [u.split("/")[2] for u in urls],
        "queued_at": pd.Timestamp("2026-01-01"),
        "status_code": 200,
        "fetch_error": None,
    })

    def extract():
        return pd.concat(list(explode_jsonld_with_meta(iter([batch]))))

    rows = extract()
    rows = rows[rows["id"].notna()]
    texts = rows["essential_text"].tolist()
    t_extract = _median_time(extract)
    t_embed = _median_time(lambda: stub_embedding_batch(texts))

    vecs = np.ascontiguousarray(stub_embedding_batch(texts).astype("<f4"))
    item = vecs.shape[1] * 4
    offsets = np.arange(0, (len(texts) + 1) * item, item, dtype=np.int32)
    embedded = pa.table({
        "id": rows["id"].tolist(),
        "essential_text": texts,
        "embedding": pa.BinaryArray.from_buffers(
            pa.binary(), len(texts),
            [None, pa.py_buffer(offsets), pa.py_buffer(vecs)]),
    })
    out_dir.mkdir(parents=True, exist_ok=True)
    path = out_dir / "leaf.parquet"

    def encode():
        # the documents sink's writer settings: no codec, and no dictionary
        # or statistics for the packed-float32 binary column
        pq.write_table(embedded, str(path), compression="none",
                       use_dictionary=["id", "essential_text"],
                       write_statistics=["id", "essential_text"])

    t_encode = _median_time(encode)
    size = path.stat().st_size
    return {
        "extract.kernel_rows_per_s": len(rows) / t_extract,
        "embed.kernel_rows_per_s": len(texts) / t_embed,
        "parquet.encode_mb_per_s": size / 1e6 / t_encode,
    }
