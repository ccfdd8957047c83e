"""JSON payload introspection (SURVEY §2.8 F1-F3, §2.2 P7 fixed).

The reference navigates JSON-encoded string columns with
``get_json_object`` (event_verify.py:42,56,60,159,164,169,173) and
``json_object_keys`` (event_verify.py:51-61,85-86), and tests key
presence with a substring regex built from a driver-collected key list
(event_verify.py:65-76) — which false-positives on key names inside
values and matches everything when the list is empty (SURVEY §4.2.4).

This module keeps schema-on-read (payloads stay strings) but:

- key presence is EXACT set membership on ``json_object_keys`` output;
- dynamic per-row extraction parses the payload ONCE to
  ``map<string,string>`` and uses ``element_at`` — one ``from_json``
  instead of N ``get_json_object`` parses per payload (the optimizer
  does not fuse repeated ``get_json_object`` on the same column);
- empty-string scrubbing (``nullif(v, '')``) is uniform, unlike the
  reference's per-property-kind inconsistency (SURVEY §4.2.5).

All functions are Column->Column or DataFrame->DataFrame, JVM-side only
(no UDFs), so they stay inside whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "extract_path",
    "object_keys",
    "payload_map",
    "extract_key",
    "multi_path_coalesce",
    "key_presence",
    "enumerate_keys",
]


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def extract_path(payload: Column | str, path: str, scrub_empty: bool = True) -> Column:
    """JSONPath extraction (reference F1, event_verify.py:42 etc.).

    ``scrub_empty`` applies the uniform ``'' -> NULL`` rule so that
    "present but empty" does not count as a value (SURVEY §7.4.2).
    """
    out = F.get_json_object(_col(payload), path)
    return F.nullif(out, F.lit("")) if scrub_empty else out


def object_keys(payload: Column | str) -> Column:
    """Top-level key enumeration of a JSON object column (reference F2).

    NULL/invalid payloads yield NULL; callers that concat key arrays
    should wrap with ``coalesce(..., array())``.
    """
    return F.json_object_keys(_col(payload))


def payload_map(payload: Column | str) -> Column:
    """Parse a flat JSON object to ``map<string,string>`` in ONE pass.

    The fast path for dynamic (non-foldable) key extraction: the
    reference re-parses the payload for every property it extracts
    (event_verify.py:153-174, a ``withColumn`` per property); a single
    ``from_json`` + ``element_at`` replaces all of them.
    """
    return F.from_json(_col(payload), "map<string,string>")


def extract_key(payload: Column | str, key: Column | str) -> Column:
    """Extract a *dynamic* (per-row) top-level key from a JSON payload,
    with the uniform ``'' -> NULL`` rule applied."""
    key_col = F.col(key) if isinstance(key, str) else key
    out = F.try_element_at(payload_map(payload), key_col)
    return F.nullif(out, F.lit(""))


def multi_path_coalesce(
    candidates: Sequence[tuple[Column | str, str]],
) -> Column:
    """First non-null (and non-empty) value across candidate
    ``(payload_column, json_path)`` pairs.

    Generalizes the reference's org_id / project_id extraction chains —
    7 and 4 hand-written ``nullif(get_json_object(...))`` candidates at
    event_verify.py:159 and :164 — into data: pass the path list, get
    one ``coalesce`` expression.
    """
    if not candidates:
        raise ValueError("multi_path_coalesce needs at least one (column, path)")
    return F.coalesce(
        *[extract_path(c, p) for c, p in candidates]
    )


def _keys_union(payload_cols: Sequence[Column | str]) -> Column:
    """Distinct union of top-level keys across several payload columns."""
    arrays = [F.coalesce(object_keys(c), F.array().cast("array<string>"))
              for c in payload_cols]
    merged = arrays[0] if len(arrays) == 1 else F.concat(*arrays)
    return F.array_distinct(merged)


def key_presence(payload_cols: Sequence[Column | str], key: Column | str) -> Column:
    """TRUE iff ``key`` appears as a top-level JSON key in ANY payload column.

    Exact-membership replacement for the reference's
    ``col.rlike("|".join(keys))`` (event_verify.py:69-76): no substring
    false positives, no match-everything on an empty key list.
    """
    key_col = F.col(key) if isinstance(key, str) else key
    return F.array_contains(_keys_union(payload_cols), key_col)


def enumerate_keys(
    df: DataFrame,
    payload_cols: Sequence[str],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Distinct top-level JSON keys observed across payload columns,
    optionally per group (reference's five-source key-union pipeline,
    event_verify.py:51-62, as one plan: no unions of five scans — one
    scan, one concat, one explode).

    Returns columns ``[*group_cols, key]``.
    """
    exploded = df.select(
        *[F.col(g) for g in group_cols],
        F.explode(_keys_union([F.col(c) for c in payload_cols])).alias("key"),
    )
    return exploded.distinct()
