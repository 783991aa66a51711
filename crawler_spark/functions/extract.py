"""JSON-LD ``@id``/``@graph`` extraction and essential-field text extraction.

Fidelity targets (semantics of the reference, reimplemented table-driven):

* id/object extraction from a fetched JSON body — reference
  ``code/core/worker.py:75-132``: top-level dicts bearing ``@id`` are
  collected first (a lone dict is treated as a one-element list), then one
  level of ``@graph`` is scanned for each container that has a ``@graph``
  list but no ``@id`` of its own. Output order = all top-level ids, then
  graph ids grouped by container order.
* ``extract_essential_fields`` — reference ``code/core/vector_db.py:32-123``:
  type-dispatched projection of a schema.org object to a compact JSON string
  (``json.dumps`` defaults ⇒ ``ensure_ascii=True``, ``', '``/``': '``
  separators, insertion-ordered keys), with a 6000-char budget and a
  two-stage minimal-fields fallback. The output string per url is the
  **byte-identical** invariant checked by tests.

The Spark wrapper is a ``mapInPandas`` (1 fetched file row → N object rows),
Arrow-batched; no per-row Python at the DataFrame layer.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

# ---------------------------------------------------------------------------
# id / object extraction (pure core)
# ---------------------------------------------------------------------------

def _ided(items: list[Any]) -> list[dict]:
    """Dicts in ``items`` that carry an ``@id``, in order."""
    return [it for it in items if isinstance(it, dict) and "@id" in it]


def extract_ids_and_objects(payload: Any) -> tuple[list[str], list[dict]]:
    """Extract (ids, objects) from a parsed JSON payload.

    Mirrors the reference extraction semantics (``worker.py:93-132``):
    non-dict/list payloads yield nothing; a bare dict acts as a 1-item list;
    ``@graph`` is descended exactly one level, and only for containers that
    themselves lack an ``@id``.
    """
    if not isinstance(payload, (dict, list)):
        return [], []
    top = payload if isinstance(payload, list) else [payload]

    objects = _ided(top)
    for container in top:
        if (
            isinstance(container, dict)
            and "@graph" in container
            and "@id" not in container
            and isinstance(container["@graph"], list)
        ):
            objects.extend(_ided(container["@graph"]))
    return [o["@id"] for o in objects], objects


def extract_with_error(
    body: bytes | str | None,
) -> tuple[list[str], list[dict], str | None]:
    """Parse a fetched body; returns (ids, objects, error_message).

    Parse failures yield no objects plus the real error string — the
    ``processing_errors`` analogue (reference db.py:141-148) records it
    instead of a constant placeholder.
    """
    if body is None:
        return [], [], "empty body"
    try:
        text = body.decode("utf-8") if isinstance(body, (bytes, bytearray)) else body
    except UnicodeDecodeError as e:
        return [], [], f"UnicodeDecodeError: {e}"
    try:
        payload = json.loads(text)
    except ValueError as e:
        return [], [], f"JSONDecodeError: {e}"
    ids, objects = extract_ids_and_objects(payload)
    return ids, objects, None


def extract_from_bytes(body: bytes | str | None) -> tuple[list[str], list[dict]]:
    """Parse a fetched body and extract ids/objects; parse errors → empty."""
    ids, objects, _ = extract_with_error(body)
    return ids, objects


# ---------------------------------------------------------------------------
# essential-fields text extraction (pure core, table-driven)
# ---------------------------------------------------------------------------

_COMMON_FIELDS = ("name", "description", "headline", "text", "abstract", "summary")

_TEXT_BUDGET = 6000  # reference MAX_CHARS (vector_db.py:107)


def _copy_verbatim(value: Any) -> Any:
    return value


def _name_or_value(value: Any) -> Any:
    # nested object → its name; list → names of first 5 entries
    if isinstance(value, dict) and "name" in value:
        return value["name"]
    if isinstance(value, list):
        return [
            v["name"] if isinstance(v, dict) and "name" in v else v
            for v in value[:5]
        ]
    return value


def _name_only(value: Any) -> Any:
    return value["name"] if isinstance(value, dict) and "name" in value else value


def _product_shrink(field: str) -> Callable[[Any], Any]:
    def shrink(value: Any) -> Any:
        if field == "offers" and isinstance(value, dict):
            return {"price": value.get("price"), "availability": value.get("availability")}
        if field == "aggregateRating" and isinstance(value, dict):
            return {"ratingValue": value.get("ratingValue"), "ratingCount": value.get("ratingCount")}
        return value

    return shrink


# dispatch table: (type-substring predicates, [(field, transform), ...])
_TYPE_RULES: list[tuple[tuple[str, ...], list[tuple[str, Callable[[Any], Any]]]]] = [
    (
        ("Recipe",),
        [(f, _copy_verbatim) for f in (
            "recipeIngredient", "recipeYield", "totalTime", "cookTime",
            "prepTime", "recipeCategory", "recipeCuisine", "keywords",
        )],
    ),
    (
        ("Movie", "TVSeries"),
        [(f, _name_or_value) for f in (
            "genre", "datePublished", "director", "actor", "duration", "contentRating",
        )],
    ),
    (
        ("Product",),
        [(f, _product_shrink(f)) for f in (
            "brand", "model", "offers", "aggregateRating", "category",
        )],
    ),
    (
        ("Article", "NewsArticle"),
        [(f, _name_only) for f in (
            "author", "datePublished", "publisher", "articleSection",
        )],
    ),
]


def extract_essential_fields(obj: dict) -> str:
    """Compact JSON projection of a schema.org object (byte-identical target).

    Reimplements the reference's projection (``vector_db.py:32-123``) as a
    dispatch table; output string is byte-equal for every input the reference
    handles.
    """
    kept: dict[str, Any] = {}
    if "@type" in obj:
        kept["@type"] = obj["@type"]
    if "@id" in obj:
        kept["@id"] = obj["@id"]
    for field in _COMMON_FIELDS:
        if field in obj:
            kept[field] = obj[field]

    type_tag = obj.get("@type", "")
    if isinstance(type_tag, list):
        type_tag = type_tag[0] if type_tag else ""

    for substrings, field_rules in _TYPE_RULES:
        if any(s in type_tag for s in substrings):
            for field, transform in field_rules:
                if field in obj:
                    kept[field] = transform(obj[field])
            break  # reference dispatch is an elif-chain: first match wins

    rendered = json.dumps(kept)
    if len(rendered) > _TEXT_BUDGET:
        minimal = {
            "@type": kept.get("@type"),
            "@id": kept.get("@id"),
            "name": kept.get("name", "")[:500],
            "description": kept.get("description", "")[:1000],
        }
        rendered = json.dumps(minimal)
        if len(rendered) > _TEXT_BUDGET:
            rendered = rendered[:_TEXT_BUDGET]
    return rendered


def join_types(type_tag: Any) -> str:
    """``@type`` display string: lists joined with ``', '`` (vector_db.py:237-239)."""
    if isinstance(type_tag, list):
        return ", ".join(str(t) for t in type_tag)
    return str(type_tag) if type_tag is not None else ""


def type_list(type_tag: Any) -> list[str]:
    """``@type`` as a normalized element list.

    Type predicates must match reference semantics — exact equality for a
    scalar ``@type``, membership for a list (worker.py:221-226) — NOT a
    substring test on the joined display string, which would wrongly match
    e.g. ``BreadcrumbListItem`` or any multi-type join containing the word.
    """
    if isinstance(type_tag, list):
        return [str(t) for t in type_tag]
    return [] if type_tag is None else [str(type_tag)]


# ---------------------------------------------------------------------------
# Spark wrappers
# ---------------------------------------------------------------------------

_EXTRACT_COLS = ("file_url", "id", "obj_json", "types", "type_list",
                 "essential_text", "position", "num_ids", "error")


def _object_rows(file_url, body) -> list[tuple]:
    """Extracted rows for one fetched file, in :data:`_EXTRACT_COLS` order.
    Files yielding no objects emit a single null-id marker row so fetch
    accounting (``num_ids == 0`` + the error string) survives.

    U1 (within-file id dedup) happens HERE, first position wins — the
    reference worker builds a per-file ``set`` of ids (worker.py:216-218)
    and counts items post-dedup. A file's objects all pass through one
    kernel call, so kernel-side dedup is exactly the per-file set and the
    epoch needs no ``dropDuplicates`` over the extracted mass (that was a
    full extra shuffle of obj_json + essential_text, and its arbitrary
    row pick could keep a LATER duplicate's content where the reference
    keeps the first)."""
    ids, objects, error = extract_with_error(body)
    uniq: dict = {}
    for oid, obj in zip(ids, objects):
        uniq.setdefault(oid, obj)
    n = len(uniq)
    if n == 0:
        return [(file_url, None, None, None, None, None, 0, 0, error)]
    return [
        (
            file_url, oid, json.dumps(obj), join_types(obj.get("@type")),
            type_list(obj.get("@type")), extract_essential_fields(obj),
            pos, n, None,
        )
        for pos, (oid, obj) in enumerate(uniq.items())
    ]


#: :func:`explode_jsonld_with_meta` output — one row per extracted object,
#: plus the fetch metadata threaded through the SAME pass, so the epoch
#: scans page bodies exactly once and never caches them (bytes stream
#: kernel → scratch).
#: ``status_code``/``fetch_error`` come from the fetch stage (real values
#: from the HTTP kernel, synthesized 200/404 from the pages-join stand-in)
#: so fetch failures land in the scratch too — the epoch needs no second
#: pass or anti-join to find them, and metrics/processing_errors report the
#: transport's actual error instead of a hardcoded 404.
EXTRACTED_META_SCHEMA = (
    "file_url string, id string, obj_json string, types string, "
    "type_list array<string>, essential_text string, position int, num_ids int, "
    "error string, user_id string, site_url string, "
    "queued_at timestamp, content_length bigint, "
    "status_code int, fetch_error string"
)


def explode_jsonld_with_meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` kernel: fetched file rows → extracted object rows,
    with per-file metadata passed through.

    Input columns: ``file_url, body, user_id, site_url, queued_at,
    status_code, fetch_error``. Emits one row per ``@id``-bearing object
    with the byte-fidelity ``essential_text`` already computed (the
    reference computes it just before embedding — hoisting it here keeps
    one Python hop per row total); callers filter ``id IS NOT NULL`` (see
    :func:`_object_rows`). Each emitted row carries its file's metadata
    plus ``content_length = len(body)``. Rows whose fetch failed
    (``fetch_error`` non-null) emit a single marker row with no extract
    error — the failure is the transport's, not the parser's. One Python
    pass total: the raw ``html`` is consumed here and nowhere else
    downstream (the scratch parquet holds only extracted text), so executor
    memory never pins page bodies.
    """
    meta_cols = ("user_id", "site_url", "queued_at")
    for pdf in batches:
        rows: list[tuple] = []
        for file_url, body, user_id, site_url, queued_at, status, ferr in zip(
            pdf["file_url"], pdf["body"], pdf["user_id"],
            pdf["site_url"], pdf["queued_at"],
            pdf["status_code"], pdf["fetch_error"],
        ):
            status = None if pd.isna(status) else int(status)
            ferr = None if pd.isna(ferr) else str(ferr)
            if ferr is not None:
                base_rows = [(file_url, None, None, None, None, None, 0, 0, None)]
                n_bytes = 0
            else:
                base_rows = _object_rows(file_url, body)
                n_bytes = 0 if body is None else len(body)
            for base in base_rows:
                rows.append(base + (user_id, site_url, queued_at, n_bytes, status, ferr))
        yield pd.DataFrame(
            rows,
            columns=list(_EXTRACT_COLS) + list(meta_cols)
            + ["content_length", "status_code", "fetch_error"])
