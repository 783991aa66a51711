"""Embedding stage: deterministic stub + pluggable provider semantics.

The reference embeds essential-field text through Azure OpenAI in batches of
50 with backoff on 429 and binary batch-splitting on token-limit errors
(``code/core/embedding_provider/azure_oai_embedding.py:50-98``,
``code/core/vector_db.py:286-316``). In this engine the whole stage is one
Arrow-batch kernel that runs inside the task-side documents writer
(:func:`fill_missing_embeddings_transform`):

* batching is Arrow's job (``spark.sql.execution.arrow.maxRecordsPerBatch``);
* retry/backoff/split live *inside* the kernel per batch (provider path —
  :func:`embed_with_provider`, passed as ``embed_batch`` to
  :func:`fill_missing_embeddings_transform`);
* tests/bench use the deterministic hash-seeded stub below — same shape
  (1536-dim float32, L2-normalized), zero network, reproducible bit-for-bit.

Texts are truncated to 20 000 chars before embedding (reference
``vector_db.py:146-149``).
"""

from __future__ import annotations

import hashlib
import time

import numpy as np

EMBED_DIM = 1536  # reference text-embedding-3-small (vector_db.py:209)
TEXT_CAP = 20000  # reference truncation (vector_db.py:146-149)

PROVIDER_BATCH = 50   # reference vector_db.py:286-316 batch size
MAX_RETRIES = 8       # reference azure_oai_embedding.py:50


def _is_rate_limit(msg: str) -> bool:
    # reference azure_oai_embedding.py:73
    return "429" in msg or "RateLimitReached" in msg or "rate limit" in msg.lower()


_TOKEN_LIMIT_PHRASES = (
    "maximum context length",
    "context length exceeded",
    "context_length_exceeded",
    "too many tokens",
    "token limit",
)


def _is_token_limit(msg: str) -> bool:
    """Context-length errors only. The reference matches any message
    containing "token" (azure_oai_embedding.py:86), which misclassifies e.g.
    "invalid authentication token" as a token-limit — the batch then binary-
    splits to single items and every item silently becomes a zero vector
    instead of the stage failing. Here only genuine context-length
    phrases trigger the split/zero path; everything else raises."""
    low = msg.lower()
    return any(p in low for p in _TOKEN_LIMIT_PHRASES)


def _call_provider(provider, texts, retry_count, max_retries, sleep, dim):
    """One provider call with the reference's full error ladder
    (``azure_oai_embedding.py:50-98``):

    * 429 / rate limit → exponential backoff ``2^(retry+1)`` s, up to
      ``max_retries`` retries, then raise;
    * token-limit on a multi-item batch → binary split, each half retried
      from a fresh retry budget (the reference recurses with the default
      ``retry_count=0``);
    * token-limit on a single item → zero vector (oversize sentinel);
    * anything else → raise.
    """
    try:
        return [list(v) for v in provider(texts)]
    except Exception as e:  # noqa: BLE001 - provider errors are string-typed upstream
        msg = str(e)
        if _is_rate_limit(msg):
            if retry_count < max_retries:
                sleep(2 ** (retry_count + 1))
                return _call_provider(provider, texts, retry_count + 1,
                                      max_retries, sleep, dim)
            raise RuntimeError(
                f"Rate limit exceeded after {max_retries} retries: {msg}") from e
        if _is_token_limit(msg):
            if len(texts) > 1:
                mid = len(texts) // 2
                first = _call_provider(provider, texts[:mid], 0, max_retries, sleep, dim)
                second = _call_provider(provider, texts[mid:], 0, max_retries, sleep, dim)
                return first + second
            return [[0.0] * dim]
        raise RuntimeError(f"Error generating batch embeddings: {msg}") from e


def embed_with_provider(
    provider,
    texts,
    batch_size: int = PROVIDER_BATCH,
    max_retries: int = MAX_RETRIES,
    sleep=time.sleep,
    dim: int = EMBED_DIM,
) -> np.ndarray:
    """Embed ``texts`` through a real provider with the reference's retry /
    backoff / binary-split semantics (T9). ``provider`` is any callable
    ``list[str] -> list[list[float]]`` that raises with a message the error
    ladder can classify; ``sleep`` is injectable so tests drive 429 storms
    without wall-clock waits. ``None`` / empty texts become zero vectors
    without a provider call (reference zero-embedding sentinel)."""
    out = np.zeros((len(texts), dim), dtype=np.float32)
    live_idx = [i for i, t in enumerate(texts) if t]
    for lo in range(0, len(live_idx), batch_size):
        idx = live_idx[lo:lo + batch_size]
        batch = [texts[i][:TEXT_CAP] for i in idx]
        vecs = _call_provider(provider, batch, 0, max_retries, sleep, dim)
        for i, v in zip(idx, vecs):
            out[i] = np.asarray(v, dtype=np.float32)
    return out


def stub_embedding_batch(texts, dim: int = EMBED_DIM) -> np.ndarray:
    """Deterministic unit vectors for a whole batch — fully vectorized.

    Each text seeds TWO uint32 lanes from 8 bytes of its sha256 (a 4-byte /
    2^32 seed space would collide distinct texts into byte-identical vectors
    with ~50% probability by ~77 k documents — far below the 10^8-10^10 doc
    target — manufacturing false near-duplicates downstream; 64 bits pushes
    the birthday bound past 10^9). vec[i, d] = xxhash-style mix of
    (lane_lo ⊕ d·K1) folded with (lane_hi ⊕ d·K2), mapped to [-1, 1), then
    L2-normalized per row. One (n × dim) SIMD-friendly numpy pass per Arrow
    batch — no per-row RNG objects (per-row ``np.random.default_rng`` at
    ~80 µs/row dominated the embed stage's Python CPU; this is ~25 µs/row).

    Oversized-single-item semantics from the reference (zero vector for an
    item that cannot be embedded — ``azure_oai_embedding.py:94-96``) are kept
    for ``None``.
    """
    none_mask = np.array([t is None for t in texts], dtype=bool)
    seeds64 = np.array(
        [
            0 if t is None
            else int.from_bytes(hashlib.sha256(t[:TEXT_CAP].encode("utf-8")).digest()[:8], "big")
            for t in texts
        ],
        dtype=np.uint64,
    )
    s_lo = (seeds64 & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    s_hi = (seeds64 >> np.uint64(32)).astype(np.uint32)
    d1 = np.arange(1, dim + 1, dtype=np.uint32) * np.uint32(2654435761)
    d2 = np.arange(1, dim + 1, dtype=np.uint32) * np.uint32(3266489917)
    out = np.empty((len(seeds64), dim), dtype=np.float32)
    # chunk so the per-chunk intermediates (~6 MB at 1024 rows) stay in LLC:
    # the mix makes ~10 passes over its work arrays, and at full Arrow-batch
    # width those passes saturate DRAM bandwidth across 32 workers (measured:
    # throughput stops scaling past ~8 cores without chunking)
    for lo in range(0, len(seeds64), 1024):
        hi = lo + 1024
        with np.errstate(over="ignore"):
            x = s_lo[lo:hi, None] ^ d1[None, :]
            x *= np.uint32(2246822519)
            x ^= x >> np.uint32(13)
            x *= np.uint32(3266489917)
            x ^= x >> np.uint32(16)
            y = s_hi[lo:hi, None] ^ d2[None, :]
            y *= np.uint32(2654435761)
            y ^= y >> np.uint32(15)
            x ^= y
            x *= np.uint32(2246822519)
            x ^= x >> np.uint32(16)
        v = x.astype(np.float32) / np.float32(2 ** 31) - np.float32(1.0)  # [-1, 1)
        norms = np.linalg.norm(v, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        v /= norms
        out[lo:hi] = v
    out[none_mask] = 0.0
    return out


def fill_missing_embeddings_transform(
    embed_batch=stub_embedding_batch,
    dim: int = EMBED_DIM,
    text_col: str = "essential_text",
    out_col: str = "embedding",
):
    """Arrow-batch transform for the task-side documents writer
    (``SnapshotStore.replace_buckets_task_write``): rows whose ``embedding``
    is null get one computed from ``essential_text``; rows that already
    carry a vector (a bucket's live rows, read back only when the writer
    compacts its chain into a new base) pass through untouched.

    Call granularity: the writer sorts each Arrow batch by bucket, cuts it
    into one zero-copy slice per bucket, and calls ``transform`` once per
    slice, after that split. One input batch that spans k buckets therefore
    makes k embed calls, each over that bucket's rows only.

    A compacting write unions the read-back rows with this epoch's new rows
    (embedding = null), and a union's partitions never mix legs, so in
    practice every slice is all-null (fast path: one zero-copy BinaryArray
    over the kernel's float32 matrix, no per-row Python object) or null-free
    (pass-through). The mixed path is kept correct for any future coalesce
    across the union.

    Vectors are stored as little-endian float32 bytes (1536 × 4 = 6144 B)
    rather than ``array<float>``: parquet encodes a binary column ~12×
    faster than a repeated float field at identical on-disk size. Unpack
    with ``np.frombuffer(b, dtype='<f4')``. A ``None`` text packs to a zero
    vector (reference oversize sentinel).

    ``embed_batch`` is any ``list[str|None] -> (n × dim) float32 ndarray``;
    deployments pass ``lambda ts: embed_with_provider(provider, ts)`` to
    keep the reference's retry/backoff/split semantics (T9).
    """
    import pyarrow as pa

    item = 4 * dim

    def _packed(texts) -> "pa.BinaryArray":
        n = len(texts)
        mat = np.ascontiguousarray(embed_batch(texts).astype("<f4", copy=False))
        offsets = np.arange(0, (n + 1) * item, item, dtype=np.int32)
        return pa.BinaryArray.from_buffers(
            pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(mat)])

    def transform(b: "pa.RecordBatch") -> "pa.RecordBatch":
        idx = b.schema.get_field_index(out_col)
        emb = b.column(idx)
        if emb.null_count == 0:
            return b
        if emb.null_count == len(emb):
            new = _packed(b.column(text_col).to_pylist())
        else:  # mixed batch: embed the null rows, keep the rest
            null_mask = emb.is_null().to_numpy(zero_copy_only=False)
            texts = b.column(text_col).to_pylist()
            mat = embed_batch([t for t, m in zip(texts, null_mask) if m]).astype("<f4")
            old = emb.to_pylist()
            it = iter(mat)
            new = pa.array(
                [next(it).tobytes() if m else v for v, m in zip(old, null_mask)],
                type=pa.binary())
        return b.set_column(idx, b.schema.field(idx), new)

    return transform

