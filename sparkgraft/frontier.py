"""Crawl-frontier temporal tier: WHEN to (re)fetch, and in what order.

The r12-r13 crawl loop answers WHAT to fetch (WARC crack -> HTML
extract -> robots gate -> url_filter -> canonical dedup -> domain
cap). This module adds the loop's temporal dimension — the operators
an incremental recrawl runs between crawls:

- :func:`recrawl_frontier` — which known/announced URLs are worth a
  refetch, driven by sitemap ``<lastmod>`` vs the last crawl's fetch
  time (the change-detection signal publishers actually provide);
- :func:`fetch_schedule` — per-host politeness serialization: a
  deterministic fetch slot and start offset per URL from the host's
  effective ``Crawl-delay`` (robots.py's rate companion), so a
  distributed fetcher fleet can honor RFC 9309 politeness without a
  central coordinator.

Snapshot DIFFING (which already-fetched pages changed content) is
deliberately NOT re-implemented here: ``relational.snapshot_diff``
keyed on ``web.canonical_url`` is exactly that operator — see the
``crawl_snapshot_delta`` query for the composition.

Scale shape: ``recrawl_frontier`` pays one aggregation shuffle (the
per-URL lastmod fold over duplicate announcements) plus one key join
against the snapshot — the minimum any staleness check must pay; the
verdict is row-local. ``fetch_schedule`` pays one broadcast join (the
delay table is per-host-per-agent, tiny by construction) plus ONE
window over the host key. The window needs the exact per-host rank, so
it cannot use the salted two-stage trick ``web.domain_cap_sample``
uses — run the frontier through the domain cap FIRST so per-host row
counts are bounded by policy. (A mega-host frontier is a policy bug
before it is a skew bug: 1e8 sequential fetches at even 1s/fetch is
three years of wall-clock — no correct scheduler output is useful for
that input.)

Extension surface beyond the reference (event_verify.py has no crawl
tier); protocol semantics follow sitemaps.org (lastmod = W3C
Datetime) and RFC 9309 (Crawl-delay group selection mirrors
robots.robots_gate: exact agent group wins, else ``*``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "w3c_sortkey",
    "recrawl_frontier",
    "effective_delays",
    "fetch_schedule",
]


def w3c_sortkey(ts: Column | str) -> Column:
    """Normalize a W3C Datetime string (the sitemaps.org ``lastmod``
    grammar: ``YYYY-MM-DD``, ``YYYY-MM-DDThh:mmTZD``,
    ``YYYY-MM-DDThh:mm:ssTZD``, ``YYYY-MM-DDThh:mm:ss.sTZD``, TZD =
    ``Z`` or ``±hh:mm``) into ONE canonical UTC form
    ``'yyyy-MM-dd HH:mm:ss'`` that compares lexicographically across
    ALL input precisions — the normalizer :func:`recrawl_frontier`'s
    contract tells mixed-form callers to apply first. Date-only means
    midnight UTC; fractional seconds order at second precision (the
    sub-second tail is truncated — announcement granularity, not an
    event log). Anything outside the grammar (including the RFC 822
    dates some feeds emit) returns NULL — fold semantics then treat
    the announcement as signal-less rather than mis-ordered.

    Pure row-local codegen, and deliberately SESSION-TIMEZONE-PROOF:
    the fields assemble via ``try_make_timestamp_ntz`` (no zone ever
    attached), the ``±hh:mm`` offset is subtracted as an explicit
    interval, and the render is ``CAST(ntz AS STRING)`` — NOT
    ``date_format``, which rebinds a timestamp_ntz through the
    session zone and corrupts wall-clocks inside that zone's DST gap,
    and NOT ``to_timestamp`` on the raw string, which silently binds
    the session zone outright. Both traps are pinned by the test
    matrix under ``America/New_York``."""
    c = F.col(ts) if isinstance(ts, str) else ts
    # TZD hour/minute bounds are part of the grammar: '+24:00' or
    # '+00:60' is not a W3C offset — reject (NULL), don't compute a
    # nonsense instant from it
    valid = c.rlike(
        r"^\d{4}-\d{2}-\d{2}"
        r"(T\d{2}:\d{2}(:\d{2})?(\.\d+)?"
        r"(Z|[+-]([01][0-9]|2[0-3]):[0-5][0-9]))?$"
    )
    date_part = F.regexp_extract(c, r"^(\d{4}-\d{2}-\d{2})", 1)
    time_part = F.regexp_extract(c, r"T(\d{2}:\d{2}(?::\d{2})?)", 1)
    tzd = F.regexp_extract(c, r"(Z|[+-]\d{2}:\d{2})$", 1)
    hhmm = F.when(time_part == "", F.lit("00:00:00")).otherwise(
        F.when(F.length(time_part) == 5, F.concat(time_part, F.lit(":00")))
        .otherwise(time_part)
    )
    # assemble from numeric fields via try_make_timestamp_ntz: a
    # regex-shaped non-date ('2026-13-45') yields NULL instead of a
    # task-killing DateTimeException, and — unlike try_to_timestamp,
    # whose TimestampType result binds the SESSION zone and corrupts
    # wall-clock fields that fall into a DST gap when cast back — the
    # ntz constructor never consults a zone at all
    ntz = F.try_make_timestamp_ntz(
        F.substring(date_part, 1, 4).cast("int"),
        F.substring(date_part, 6, 2).cast("int"),
        F.substring(date_part, 9, 2).cast("int"),
        F.substring(hhmm, 1, 2).cast("int"),
        F.substring(hhmm, 4, 2).cast("int"),
        F.substring(hhmm, 7, 2).cast("int"),
    )
    # offset minutes: '+01:30' -> 90; 'Z'/'' -> 0; subtracting the
    # offset converts local-with-offset to the UTC instant
    sign = F.when(F.substring(tzd, 1, 1) == "-", F.lit(-1)).otherwise(
        F.lit(1)
    )
    off_min = F.when(
        tzd.rlike(r"^[+-]"),
        sign
        * (
            F.substring(tzd, 2, 2).cast("int") * 60
            + F.substring(tzd, 5, 2).cast("int")
        ),
    ).otherwise(F.lit(0))
    utc = ntz - F.make_dt_interval(F.lit(0), F.lit(0), off_min.cast("int"))
    # CAST(ntz AS STRING) renders the fields verbatim ('yyyy-MM-dd
    # HH:mm:ss' for whole seconds); date_format would NOT do — it
    # rebinds timestamp_ntz through the session zone and corrupts
    # wall-clock values inside that zone's DST gap
    return F.when(valid & ntz.isNotNull(), utc.cast("string"))


def recrawl_frontier(
    candidates: DataFrame,
    snapshot: DataFrame,
    url_col: str = "url",
    lastmod_col: str = "lastmod",
    fetched_col: str = "fetched_at",
    validator_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """Decide which announced URLs an incremental recrawl should fetch.

    ``candidates`` carries ``(url_col, lastmod_col)`` rows — the
    discovery union (sitemap entries, outlink frontier, seed lists);
    one URL may appear many times with different ``lastmod`` values
    (several sitemaps, several announcements), so candidates are first
    folded to ONE row per URL keeping the MAX lastmod (the freshest
    claim governs; ``max`` ignores NULLs, so a URL whose every
    announcement lacks lastmod folds to NULL). ``snapshot`` carries
    ``(url_col, fetched_col)`` — the last completed crawl.

    Verdict per folded URL (left join — candidates drive; snapshot
    rows nobody announces anymore are the DELETE side of
    ``snapshot_diff``, not a refetch concern):

    - ``'new'``     — not in the snapshot; refetch.
    - ``'stale'``   — ``lastmod > fetched_at``; refetch.
    - ``'fresh'``   — ``lastmod <= fetched_at``; skip.
    - ``'unknown'`` — seen before but no lastmod signal; skip. TTL
      refresh policy for signal-less URLs is the caller's knob, not
      baked in here.

    Timestamps compare LEXICOGRAPHICALLY: sitemaps.org lastmod is W3C
    Datetime, which sorts correctly as a string within one canonical
    form (same precision, same UTC offset — e.g. all ``YYYY-MM-DD`` or
    all ``...THH:MM:SSZ``). Callers mixing precisions or offsets must
    normalize first; parsing arbitrary W3C forms into timestamps is a
    session-timezone trap this operator refuses to hide.

    Returns one row per candidate URL: ``(url_col, lastmod_col,
    fetched_col, reason string, refetch boolean)``. With
    ``validator_cols`` (snapshot columns holding the last response's
    cache validators — the ``etag`` / ``last_modified`` that
    ``warc.warc_responses`` now surfaces), those columns ride through
    and a ``fetch_mode`` verdict is added — the recrawl's COST plan:
    ``'conditional'`` for a refetch whose snapshot holds any
    validator (an If-None-Match / If-Modified-Since revalidation that
    costs headers on a 304, not the body), ``'full'`` for a refetch
    with none (a new URL, or a server that sent no validators), NULL
    for skipped rows.
    """
    folded = candidates.groupBy(url_col).agg(
        F.max(lastmod_col).alias(lastmod_col)
    )
    snap = snapshot.select(url_col, fetched_col, *validator_cols)
    joined = folded.join(snap, url_col, "left")
    lastmod = F.col(lastmod_col)
    fetched = F.col(fetched_col)
    reason = (
        F.when(fetched.isNull(), F.lit("new"))
        .when(lastmod.isNull(), F.lit("unknown"))
        .when(lastmod > fetched, F.lit("stale"))
        .otherwise(F.lit("fresh"))
    )
    refetch = reason.isin("new", "stale")
    out = [
        url_col,
        lastmod_col,
        fetched_col,
        reason.alias("reason"),
        refetch.alias("refetch"),
    ]
    if validator_cols:
        any_validator = F.coalesce(*validator_cols, F.lit(None)).isNotNull()
        out += [
            *validator_cols,
            F.when(
                refetch,
                F.when(any_validator, F.lit("conditional")).otherwise(
                    F.lit("full")
                ),
            ).alias("fetch_mode"),
        ]
    return joined.select(*out)


def effective_delays(
    delays: DataFrame, agent: str, default_delay_sec: float = 1.0
) -> DataFrame:
    """Fold per-(host, agent) ``Crawl-delay`` rows (the shape
    ``robots.robots_crawl_delays`` emits) into ONE effective delay per
    host for ``agent``: the exact agent group's delay when the host
    has one, else the ``*`` group's, else ``default_delay_sec`` — the
    same group selection ``robots_gate`` applies to Allow/Disallow
    (RFC 9309 §2.2.1: a crawler obeys exactly one group). One tiny
    aggregation; the result is per-host and broadcast-sized by
    construction."""
    al = agent.lower()
    return delays.groupBy("host").agg(
        F.coalesce(
            F.max(
                F.when(F.col("agent") == al, F.col("crawl_delay_sec"))
            ),
            F.max(
                F.when(F.col("agent") == "*", F.col("crawl_delay_sec"))
            ),
            F.lit(float(default_delay_sec)),
        ).alias("crawl_delay_sec")
    )


def fetch_schedule(
    frontier: DataFrame,
    delays: DataFrame | None = None,
    url_col: str = "url",
    priority_col: str | None = None,
    agent: str = "*",
    connections: int = 1,
) -> DataFrame:
    """Serialize the fetch frontier per host: every URL gets a
    deterministic ``fetch_slot`` (0-based position in its host's
    queue), a ``fetch_connection`` (which of the host's
    ``connections`` parallel connections carries it — round-robin,
    ``slot % connections``) and ``fetch_offset_sec = (slot //
    connections) * delay`` — the earliest politeness-legal start time
    relative to the host's first fetch, with Crawl-delay honored
    PER CONNECTION (each connection waits ``delay`` between its own
    fetches; ``connections=1``, the default, is strict single-lane
    RFC 9309 politeness). A fetcher fleet partitioned by host can
    then honor the budget with no coordination beyond the plan
    itself.

    ``delays`` is per-(host, agent) ``crawl_delay_sec`` rows as
    parsed by ``robots.robots_crawl_delays``; group selection and the
    default follow :func:`effective_delays`. ``None`` means every
    host gets the 1-second default. The host key is the URL's
    parse_url host with any explicit ``:port`` stripped — the same
    bare-host keying as ``robots_gate`` (one robots.txt, one
    politeness budget per authority).

    Queue order within a host: ``priority_col`` DESC (NULLs last)
    when given, then ``url_col`` ASC as the total-order tiebreak —
    deterministic across retries and partitionings, so a re-run
    re-issues the same schedule.

    Returns the input columns plus ``(host, crawl_delay_sec,
    fetch_slot, fetch_connection, fetch_offset_sec)``. See the module
    docstring for why the per-host window wants a domain-capped
    frontier.
    """
    from . import web as W

    if connections < 1:
        raise ValueError(f"connections must be >= 1, got {connections}")
    reserved = {
        "host",
        "crawl_delay_sec",
        "fetch_slot",
        "fetch_connection",
        "fetch_offset_sec",
    } & set(frontier.columns)
    if reserved:
        raise ValueError(
            "frontier already carries schedule output column(s) "
            f"{sorted(reserved)} — rename them before scheduling "
            "(silently overwriting would corrupt a re-schedule)"
        )

    p = W.parse_url(url_col)
    in_cols = frontier.columns
    tagged = frontier.withColumn(
        "host", F.regexp_replace(p["host"], r":[0-9]+$", "")
    )
    if delays is not None:
        eff = effective_delays(delays, agent)
        tagged = tagged.join(F.broadcast(eff), "host", "left").withColumn(
            "crawl_delay_sec",
            F.coalesce(
                F.col("crawl_delay_sec"), F.lit(1.0)
            ),
        )
    else:
        tagged = tagged.withColumn(
            "crawl_delay_sec", F.lit(1.0)
        )
    order = (
        [F.col(priority_col).desc_nulls_last(), F.col(url_col).asc()]
        if priority_col is not None
        else [F.col(url_col).asc()]
    )
    w = Window.partitionBy("host").orderBy(*order)
    slot = (F.row_number().over(w) - F.lit(1)).cast("bigint")
    conns = F.lit(int(connections)).cast("bigint")
    return tagged.withColumn("fetch_slot", slot).select(
        *in_cols,
        "host",
        "crawl_delay_sec",
        "fetch_slot",
        (F.col("fetch_slot") % conns).alias("fetch_connection"),
        (
            F.floor(F.col("fetch_slot") / conns).cast("bigint")
            * F.col("crawl_delay_sec")
        ).alias("fetch_offset_sec"),
    )
