"""Spec-vs-observed event conformance metrics — the flagship composite.

Reproduces the full capability of the reference pipeline
(event_verify.py:33-231) — per ``(channel, event, property)`` key-presence
and value-completeness metrics against a human-maintained spec — as ONE
lazy Catalyst plan:

  reference                                   this module
  ---------------------------------------     -------------------------------
  driver loop over channels (:35)             ``channel`` stays a column
  rank window + .first() per channel (:36-41) in-plan max window (ties kept)
  driver loop over spec rows, createDataFrame ``melt`` of the wide spec
    (:107-119)
  regex key presence (:69-76)                 exact ``json_object_keys``
                                                membership
  per-event filter + stack + collect_list +   one broadcast spec join +
    repeated count() actions (:134-208)         one groupBy
  union folds (:212-214, :227-229)            nothing to fold — one plan

Scale shape: catalog is scanned ONCE; the spec (KBs) is broadcast; the
only wide shuffle is the final groupBy on (group, event, prop) whose
cardinality is |spec| — tiny. At 100 TB the cost is the scan + one
map-side-combinable aggregation; there are no O(channels x events) jobs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .relational import latest_per_group, melt

__all__ = [
    "melt_spec",
    "verify_events",
    "verify_pipeline",
]

_COUNT_COLS = (
    "value_null_count",
    "value_not_null_count",
    "keys_not_null_count",
    "total_records",
    "key_null_count",
)


def melt_spec(
    spec_wide: DataFrame,
    id_cols: Sequence[str],
    event_col: str = "event_name",
) -> DataFrame:
    """Wide spec -> long ``(.., event, prop_name)`` pairs.

    The reference's wide spec stores *expected property names as cell
    values* in arbitrarily-many columns, and reshapes it with a driver
    loop over ``collect()``-ed rows guarded by value-inequality
    heuristics (event_verify.py:107-119, :110 — including the
    ``prop_name != rank`` function-object bug, SURVEY §4.2.5). Here the
    id-columns are DECLARED and everything else melts; blank cells drop.
    """
    long = melt(spec_wide, id_cols=list(id_cols), var_name="spec_col",
                value_name="prop_name")
    return (
        long.where(F.col("prop_name").isNotNull() & (F.col("prop_name") != ""))
        .select(*id_cols, "prop_name")
        .distinct()
    )


def verify_events(
    catalog: DataFrame,
    spec_long: DataFrame,
    event_col: str = "event_name",
    prop_col: str = "prop_name",
    payload_cols: Sequence[str] = ("props",),
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Per ``(group.., event, prop)`` key-presence + value-completeness.

    ``spec_long`` columns: ``[*group_cols, event_col, prop_col]`` (use
    ``melt_spec`` to produce it). ``catalog`` must carry ``event_col``,
    ``group_cols`` and the JSON-string ``payload_cols``.

    Output schema (reference output, SURVEY §1.3 / FIXTURES.md §3):
    ``[*group_cols, event_name, prop_name, total_records,
    keys_not_null_count, key_null_count, key_null_count_percentage,
    value_not_null_count, value_null_count, value_null_count_percentage]``
    with spec pairs never observed kept at 0 (reference's left join +
    ``na.fill(0)``, event_verify.py:120-129, :222).

    Null semantics are uniform: a value counts as present iff it is
    extractable AND non-empty-string (the reference is inconsistent
    between property kinds — SURVEY §4.2.5; divergence deliberate).
    """
    group_cols = list(group_cols)
    join_keys = [*group_cols, event_col]

    # Parse each payload ONCE per row (staged projection): both the key
    # membership test and the value extraction read the same
    # map<string,string> — json_object_keys + a second from_json would
    # parse every payload twice per fanned row.
    from .json_ops import payload_map

    map_aliases = [f"__m{i}" for i in range(len(payload_cols))]
    parsed = catalog.select(
        "*", *[payload_map(c).alias(a) for c, a in zip(payload_cols, map_aliases)]
    )

    # One broadcast fan-out: each catalog row appears once per expected
    # prop of its event; per-(event,prop) count(*) therefore equals the
    # event's total record count — the denominator lives in the plan.
    joined = parsed.join(F.broadcast(spec_long), join_keys, "inner")

    prop = F.col(prop_col)
    value = F.coalesce(
        *[F.nullif(F.try_element_at(F.col(a), prop), F.lit("")) for a in map_aliases]
    )
    present_terms = [
        F.array_contains(F.map_keys(F.col(a)), prop) for a in map_aliases
    ]
    present = present_terms[0]
    for term in present_terms[1:]:
        present = present | term

    agg = joined.groupBy(*join_keys, prop_col).agg(
        F.count(F.lit(1)).alias("total_records"),
        F.count(F.when(present, F.lit(1))).alias("keys_not_null_count"),
        F.count(value).alias("value_not_null_count"),
    )

    # Keep spec pairs with zero observed rows (tiny x tiny broadcast join).
    full = spec_long.join(F.broadcast(agg), [*join_keys, prop_col], "left")

    def pct(num):
        return F.round(F.col(num) * 100.0 / F.col("total_records"), 4)

    out = (
        full.na.fill(0, subset=["total_records", "keys_not_null_count",
                                "value_not_null_count"])
        .withColumn("value_null_count",
                    F.col("total_records") - F.col("value_not_null_count"))
        .withColumn("key_null_count",
                    F.col("total_records") - F.col("keys_not_null_count"))
        .withColumn(
            "value_null_count_percentage",
            F.when(F.col("total_records") > 0, pct("value_null_count"))
            .otherwise(F.lit(0.0)),
        )
        .withColumn(
            "key_null_count_percentage",
            F.when(F.col("total_records") > 0, pct("key_null_count"))
            .otherwise(F.lit(0.0)),
        )
    )
    return out.select(
        *group_cols,
        F.col(event_col).alias("event_name"),
        F.col(prop_col).alias("prop_name"),
        "total_records",
        "keys_not_null_count",
        "key_null_count",
        "key_null_count_percentage",
        "value_not_null_count",
        "value_null_count",
        "value_null_count_percentage",
    )


def verify_pipeline(
    catalog: DataFrame,
    spec_wide: DataFrame,
    spec_id_cols: Sequence[str] = ("channel", "version", "event_name"),
    channel_col: str = "channel",
    version_col: str = "version",
    event_col: str = "event_name",
    catalog_channel_col: str = "client_name",
    payload_cols: Sequence[str] = ("context", "traits", "properties"),
) -> DataFrame:
    """End-to-end reference pipeline, all channels at once.

    1. latest spec version per channel (event_verify.py:36-41, in-plan);
    2. melt the wide spec to (channel, version, event, prop) pairs;
    3. restrict the catalog to rows whose channel+version match the
       selected spec version (event_verify.py:42-43) — version extracted
       from ``$.app.version`` of the first payload column, as the
       reference;
    4. conformance metrics per (channel, event, prop), stamped with the
       spec version.
    """
    # the spec is KB-sized by contract (a human-maintained spec), so a
    # per-channel window is never a skew risk
    latest = latest_per_group(spec_wide, [channel_col], version_col)
    spec_long = melt_spec(latest, id_cols=list(spec_id_cols), event_col=event_col)

    from .json_ops import extract_path

    # scrub OUTSIDE the tainted projection below: nullif's
    # ``if (x = '') null else x`` would duplicate the parse textually
    # inside the CASE branch, and the uniform ''->NULL rule applies
    # identically to the computed attribute
    catalog_version = extract_path(
        payload_cols[0], "$.app.version", scrub_empty=False
    )
    # Parse the version payload ONCE per row. The inner spec join emits
    # a null-key filter on __spec_version, and deterministic filters
    # legally push through PROJECTIONS (alias substitution — exactly
    # the re-inlining), so a plain projection leaves the $.app.version
    # parse appearing 3x in the optimized plan: once via common-expr
    # elimination, twice inside the pushed-down filter. A
    # ``pushdown_fence`` below the projection cannot stop that (the
    # filter only crosses the Project, never the fence). The barrier
    # that works is tainting the projected FIELD: an always-true
    # ``rand`` branch makes the field nondeterministic, and
    # PushPredicateThroughNonJoin refuses to substitute through a
    # nondeterministic projection — the filter stays above and
    # references the computed attribute. With KB-sized real payloads
    # the eliminated copies are whole extra parses of every row.
    cat = catalog.withColumn(
        "__version",
        F.when(
            F.rand(42) != F.lit(-1.0), catalog_version.cast("string")
        ),
    ).withColumn("__version", F.nullif(F.col("__version"), F.lit("")))
    cat = cat.withColumnRenamed(catalog_channel_col, channel_col) \
             .withColumn("__spec_version", F.col("__version"))

    spec_for_join = spec_long.withColumnRenamed(version_col, "__spec_version")
    metrics = verify_events(
        cat,
        spec_for_join,
        event_col=event_col,
        payload_cols=payload_cols,
        group_cols=[channel_col, "__spec_version"],
    )
    return metrics.withColumnRenamed("__spec_version", version_col)
