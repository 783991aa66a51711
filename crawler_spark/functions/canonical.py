"""URL canonicalization, host extraction and hashing.

Fidelity targets (reference semantics, reimplemented — not copied):

* site-URL normalization: strip scheme, strip a leading ``www.``, strip
  trailing slashes (reference ``code/core/db.py:13-34``). Must be
  byte-identical — it is the canonical-URL invariant of the whole engine.
* vector-doc key: ``sha256(url).hexdigest()[:32]`` (reference
  ``code/core/vector_db.py:245-247``) — expressed as a built-in Spark
  expression (``substring(sha2(url,256),1,32)``), JVM-side.
* partition key: murmur3(host) — Spark's built-in ``hash()`` IS murmur3-32,
  so the partitioner needs no Python at all.

Scale note: host extraction and hashing run over every frontier row and
every extracted ``@id`` each epoch, so the engine and the driver catalog
use only the JVM ``*_expr`` functions below — no Python UDF.
:func:`normalize_site_url` is the pure-Python fidelity core that
:func:`normalize_site_url_expr` is tested against. RFC-3986 resolution of
robots/sitemap URLs (``urllib.parse.urljoin``, reference
``code/core/master.py:60,77,85,104``) lives in the sitemap parser,
``functions/sitemap.py``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_SCHEME_RE = re.compile(r"^https?://")
_WWW_RE = re.compile(r"^www\.")


def normalize_site_url(site_url: str | None) -> str | None:
    """Canonical site key: no scheme, no leading ``www.``, no trailing ``/``.

    Byte-compatible with the reference normalizer (``db.py:13-34``):
    ``https://www.imdb.com`` → ``imdb.com``; empty/None pass through.
    """
    if not site_url:
        return site_url
    stripped = _SCHEME_RE.sub("", site_url)
    stripped = _WWW_RE.sub("", stripped)
    return stripped.rstrip("/")


def normalize_site_url_expr(col: Column) -> Column:
    """JVM-side twin of :func:`normalize_site_url`, byte-identical to it.
    ``\\z`` anchors at the true end: Java's ``$`` also matches before a final
    line terminator, which would strip ``a.com/\\n`` to ``a.com\\n``.
    """
    c = F.regexp_replace(col, r"^https?://", "")
    c = F.regexp_replace(c, r"^www\.", "")
    return F.regexp_replace(c, r"/+\z", "")


def doc_key_expr(url_col: Column) -> Column:
    """``sha256(url)[:32]`` vector-index key, as a built-in expression."""
    return F.substring(F.sha2(url_col, 256), 1, 32)


def doc_bucket_expr(id_url_col: Column, num_buckets: int) -> Column:
    """Bucket of a vector document = host bucket of its own ``@id`` URL.

    The documents table is bucket-versioned on this (see
    ``SnapshotStore.replace_buckets_task_write``). Host-of-id — NOT a hash
    of the doc key — gives the layout locality: an epoch's new docs and
    orphan delete keys both belong to the hosts being crawled, so the epoch
    appends a delta to a few host buckets instead of one to every bucket of
    the table, and compaction, when a chain comes due, rewrites only those
    buckets.
    """
    return host_hash_expr(host_from_url_expr(id_url_col), num_buckets)


def host_hash_expr(host_col: Column, num_partitions: int) -> Column:
    """murmur3(host) mod P — the frontier partition key (north_rule).

    ``F.hash`` is murmur3-32 on the JVM; ``pmod`` keeps it non-negative.
    """
    return F.pmod(F.hash(host_col), F.lit(num_partitions))


def host_from_url_expr(url_col: Column) -> Column:
    """JVM-side host extraction via ``try_parse_url`` (no Python).

    Tolerates scheme-less URLs by prepending ``http://`` when absent. A URL
    that ``java.net.URI`` rejects (a space, ``|``, a bad ``%`` escape) takes
    its host from the authority by regex instead, so ``https://ex.com/a b``
    keeps host ``ex.com`` and that site's robots delay and budget.
    ``parse_url`` would raise on it under ANSI mode and fail the whole epoch
    — on every re-run. Ids without a host (``_:b0``, ``#org``, ``""``) get a
    NULL host, and NULL hosts share one fixed bucket.
    """
    with_scheme = F.when(
        url_col.contains("://"), url_col
    ).otherwise(F.concat(F.lit("http://"), url_col))
    host = F.try_parse_url(with_scheme, F.lit("HOST"))
    rejected = F.try_parse_url(with_scheme, F.lit("PROTOCOL")).isNull()
    authority = F.nullif(F.regexp_extract(
        with_scheme, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^@/?#]*@)?([^:/?#]+)", 1), F.lit(""))
    return F.lower(F.when(host.isNotNull(), host).when(rejected, authority))
