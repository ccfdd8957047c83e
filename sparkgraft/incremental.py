"""Incremental aggregate maintenance: keep a keyed rollup current by
MERGING each arriving batch's partial aggregates into a persistent
state table — never re-scanning history. This is the batch-side twin of
the streaming tier's stateful operators, and the pattern behind every
"daily revenue per customer, updated nightly" table at 100 TB: the
nightly job aggregates ONLY the new partition and folds it in.

Only decomposable statistics are offered (count / sum / min / max —
the classic commutative monoids): ``merge(agg(A), agg(B)) == agg(A u B)``
holds exactly, which the oracle-paired query verifies by folding three
arrival batches and hash-comparing against the direct aggregation.
Mean is DERIVED at read time (sum/count). Count-distinct does not
decompose as a plain monoid — but its SKETCH does:
``partial_distinct`` / ``merge_distinct`` maintain keyed Datasketches
HLL states whose union is associative and deterministic, completing
the incremental surface for the one statistic the count/sum/min/max
monoids cannot express.

Scale shape: ``partial_aggregate`` is one map-side-combinable groupBy
over the batch; ``merge_aggregates`` unions the (already tiny, one row
per key) states and re-aggregates — a shuffle on the key proportional
to |keys|, not |history|. Sums run in exact DECIMAL so the folded state
is bit-identical to the direct aggregation under any batch split or
merge order.

Reference scope: the reference re-reads its full input every run
(event_verify.py:21's daily path template); this module is the
extension that makes the daily cadence incremental.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "partial_aggregate",
    "merge_aggregates",
    "partial_distinct",
    "merge_distinct",
    "partial_histogram",
    "merge_histograms",
    "histogram_quantile",
    "partial_cms",
    "merge_cms",
    "cms_estimate",
]

# spec kinds -> (batch aggregate, state-merge aggregate)
_KINDS = ("count", "sum", "min", "max")


def _check_specs(specs: Mapping[str, tuple[str, str | None]]) -> None:
    for out, (kind, col) in specs.items():
        if kind not in _KINDS:
            raise ValueError(
                f"spec {out!r}: kind {kind!r} not in {_KINDS} — "
                "non-decomposable statistics (count_distinct, medians) "
                "cannot be maintained incrementally without a sketch"
            )
        if kind != "count" and col is None:
            raise ValueError(f"spec {out!r}: {kind} needs a column")


def partial_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    specs: Mapping[str, tuple[str, str | None]],
) -> DataFrame:
    """One batch's keyed partial aggregates: ``specs`` maps each output
    column to ``(kind, column)`` with kind in count / sum / min / max
    (``("count", None)`` counts rows). Sums accumulate in
    ``DECIMAL(38, 2)`` so later merges are order-independent
    and engine-exact; cast once at read time if doubles are wanted."""
    _check_specs(specs)
    aggs = []
    for out, (kind, col) in specs.items():
        if kind == "count":
            aggs.append(F.count(F.lit(1)).cast("bigint").alias(out))
        elif kind == "sum":
            aggs.append(
                F.sum(F.col(col).cast("decimal(38,2)")).alias(out)
            )
        elif kind == "min":
            aggs.append(F.min(col).alias(out))
        else:
            aggs.append(F.max(col).alias(out))
    return df.groupBy(*keys).agg(*aggs)


def merge_aggregates(
    states: Sequence[DataFrame],
    keys: Sequence[str],
    specs: Mapping[str, tuple[str, str | None]],
) -> DataFrame:
    """Fold any number of partial-aggregate states (from
    :func:`partial_aggregate` or prior merges — merging is associative
    and commutative) into one: counts and sums add, mins min, maxes
    max. Keys present in only some states contribute their rows alone
    (union semantics); the result is exactly
    ``partial_aggregate(union of all underlying batches)``."""
    _check_specs(specs)
    if not states:
        raise ValueError("merge_aggregates needs at least one state")
    unioned = states[0]
    for s in states[1:]:
        unioned = unioned.unionByName(s)
    aggs = []
    for out, (kind, _) in specs.items():
        if kind == "count":
            aggs.append(F.sum(out).cast("bigint").alias(out))
        elif kind == "sum":
            aggs.append(F.sum(out).alias(out))
        elif kind == "min":
            aggs.append(F.min(out).alias(out))
        else:
            aggs.append(F.max(out).alias(out))
    return unioned.groupBy(*keys).agg(*aggs)


def partial_distinct(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    sketch_col: str = "distinct_sketch",
) -> DataFrame:
    """One batch's keyed HLL sketch states — the sketch that makes
    count-distinct decomposable after all (the statistic the plain
    count/sum/min/max monoids of :func:`partial_aggregate` cannot
    express). Each key's state is a Datasketches HLL binary
    (``hll_sketch_agg``), a few KB regardless of how many distinct
    values it has absorbed.

    The union of HLL states is associative and deterministic: folding
    per-batch sketches through :func:`merge_distinct` yields the
    IDENTICAL estimate to sketching the concatenated history directly
    (asserted exactly, not within-tolerance, in tests) — so the
    nightly job can maintain "distinct users per key, all time" by
    merging each day's sketch into the state table, never re-scanning
    history. Estimate error is the standard HLL bound (~1.6% at
    lg_k=12); exactness of the MERGE is not approximate.
    """
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(col), F.lit(12)).alias(sketch_col)
    )


def merge_distinct(
    states: Sequence[DataFrame],
    keys: Sequence[str],
    sketch_col: str = "distinct_sketch",
    estimate_col: str = "n_distinct",
) -> DataFrame:
    """Fold per-batch HLL states into one state per key and expose the
    estimate: union the state tables (each one row per key), merge
    sketches with ``hll_union_agg``, read with
    ``hll_sketch_estimate``. Shuffle cost is |keys| x sketch-size —
    proportional to the state, never the history.

    Returns ``keys + [sketch_col, estimate_col]`` so callers can both
    persist the merged state (for the next fold) and serve the count.
    """
    from functools import reduce as _reduce

    if not states:
        raise ValueError("merge_distinct: need at least one state table")
    unioned = _reduce(lambda a, b: a.unionByName(b), states)
    merged = unioned.groupBy(*keys).agg(
        F.hll_union_agg(F.col(sketch_col)).alias(sketch_col)
    )
    return merged.select(
        *keys,
        sketch_col,
        F.hll_sketch_estimate(F.col(sketch_col)).alias(estimate_col),
    )


def partial_histogram(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    lo: float,
    hi: float,
    bins: int = 32,
) -> DataFrame:
    """One batch's keyed fixed-bin histogram — the state that makes
    QUANTILES decomposable (the way the HLL sketch decomposes
    count-distinct): with bounds fixed up front, bin counts are plain
    summable monoids, so per-batch histograms merge exactly and any
    quantile reads off the merged cumulative counts. The price is the
    fixed ``[lo, hi)`` domain (values clamp into the edge bins —
    counted, never dropped) and bin-width resolution; the gain is a
    state table of ``bins`` longs per key that folds forever.

    Returns ``keys + (bin int, n bigint)`` — long form, so merging is
    ``unionByName + groupBy sum`` with ordinary map-side combine.
    """
    if bins < 1:
        raise ValueError(f"partial_histogram: bins must be >= 1, got {bins}")
    if not hi > lo:
        raise ValueError(
            f"partial_histogram: need hi > lo, got lo={lo} hi={hi} — a "
            "degenerate range would send every row into a NULL bin"
        )
    v = F.col(col).cast("double")
    width = (hi - lo) / bins
    bin_expr = F.least(
        F.greatest(F.floor((v - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(bins - 1),
    ).cast("int")
    return (
        df.where(v.isNotNull())
        .groupBy(*keys, bin_expr.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def merge_histograms(
    states: Sequence[DataFrame], keys: Sequence[str]
) -> DataFrame:
    """Fold per-batch histogram states: union + one summing groupBy on
    ``keys + bin`` — shuffle proportional to |keys| x bins, never the
    history."""
    from functools import reduce as _reduce

    if not states:
        raise ValueError("merge_histograms: need at least one state table")
    unioned = _reduce(lambda a, b: a.unionByName(b), states)
    return unioned.groupBy(*keys, "bin").agg(F.sum("n").alias("n"))


def histogram_quantile(
    hist: DataFrame,
    keys: Sequence[str],
    q: float,
    lo: float,
    hi: float,
    bins: int = 32,
    out_col: str = "quantile",
) -> DataFrame:
    """Read a quantile off a (merged) histogram state: the left edge
    of the first bin whose cumulative count reaches ``q`` of the key's
    total — resolution is the bin width, the standard histogram
    estimator (same convention as ``packing.ntile_by_histogram``: no
    interpolation, a real data value's bin edge). One window over the
    ``bins``-row-per-key state — the data is long gone.
    """
    from pyspark.sql import Window

    if bins < 1:
        raise ValueError(f"histogram_quantile: bins must be >= 1, got {bins}")
    if not hi > lo:
        raise ValueError(
            f"histogram_quantile: need hi > lo, got lo={lo} hi={hi}"
        )
    width = (hi - lo) / bins
    w = Window.partitionBy(*keys).orderBy("bin")
    tot = Window.partitionBy(*keys)
    cum = (
        hist.withColumn("__cum", F.sum("n").over(w))
        .withColumn("__tot", F.sum("n").over(tot))
        .where(F.col("__cum") >= F.lit(q) * F.col("__tot"))
    )
    first = cum.groupBy(*keys).agg(F.min("bin").alias("__bin"))
    return first.select(
        *keys,
        (F.lit(lo) + F.col("__bin") * F.lit(width)).alias(out_col),
    )


def partial_cms(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """One batch's keyed Count-Min sketch — the state that makes
    per-ITEM frequency estimation decomposable under fixed memory
    (Cormode & Muthukrishnan 2005), completing the mergeable-state
    family: count/sum/min/max (exact), HLL (count-distinct), fixed-bin
    histograms (quantiles), and now item frequencies. Exact per-item
    counts need a state table as large as the item domain; the sketch
    caps state at ``depth x width`` longs per key, over-counting only
    by hash collisions (never under — see ``cms_estimate``).

    Each item increments one counter per row: ``(seed, md5-derived
    position)`` — md5 so an external SQL engine (and any later reader)
    reproduces positions exactly, the repo hash convention. Long form
    ``keys + (seed int, pos int, n bigint)``: states merge by
    ``unionByName + groupBy sum`` (map-side combinable, plain monoid),
    and zero cells stay implicit (absent rows), so a sparse batch costs
    rows only for the cells it touches.
    """
    if width < 1 or depth < 1:
        raise ValueError(
            f"partial_cms: need width/depth >= 1, got width={width} depth={depth}"
        )
    v = F.col(col).cast("string")
    cells = F.array(
        *[
            F.struct(
                F.lit(s).alias("seed"),
                F.pmod(
                    F.conv(
                        F.substring(F.md5(F.concat(F.lit(f"{s}|"), v)), 1, 8),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(width),
                )
                .cast("int")
                .alias("pos"),
            )
            for s in range(depth)
        ]
    )
    return (
        df.where(v.isNotNull())
        .select(*keys, F.explode(cells).alias("__c"))
        .groupBy(*keys, F.col("__c.seed").alias("seed"), F.col("__c.pos").alias("pos"))
        .agg(F.count(F.lit(1)).alias("n"))
        # the sketch geometry travels WITH the state (constant literal
        # columns, zero shuffle cost) so cms_estimate can refuse a
        # width/depth mismatch instead of silently producing arbitrary
        # plausible-looking estimates against wrong hash positions
        .select("*", F.lit(width).alias("width"), F.lit(depth).alias("depth"))
    )


def merge_cms(states: Sequence[DataFrame], keys: Sequence[str]) -> DataFrame:
    """Fold per-batch CMS states: cellwise sum — the same plain monoid
    as every partial state here, so folding N batches is exactly
    equivalent to sketching their union (asserted exactly in tests,
    not approximately: the SKETCH is deterministic; only its reading
    is an estimate).

    Geometry validation at MERGE time, not first-read time: mixing a
    geometry-carrying state with a legacy geometry-less one would die
    inside unionByName with an opaque column-mismatch AnalysisException,
    and two states with DIFFERENT geometries would merge "successfully"
    (groupBy keeps them as separate geometry rows) only to fail later at
    cms_estimate — both now raise here with a message that names the
    actual problem. The value check is one bounded job over the states'
    constant (width, depth) columns (<= 1 row per state), the accepted
    bounded-collect pattern (see cms_estimate)."""
    from functools import reduce as _reduce

    carrying = [
        "width" in s.columns and "depth" in s.columns for s in states
    ]
    if any(carrying) and not all(carrying):
        raise ValueError(
            "merge_cms: mixing geometry-carrying and legacy geometry-less "
            "CMS states — re-sketch the legacy batches with partial_cms "
            "(which stamps width/depth on the state) before merging"
        )
    if all(carrying) and len(states) > 1:
        geoms = (
            _reduce(
                lambda a, b: a.unionByName(b),
                [s.select("width", "depth") for s in states],
            )
            .distinct()
            .collect()
        )
        if len({(r.width, r.depth) for r in geoms}) > 1:
            raise ValueError(
                "merge_cms: input states disagree on sketch geometry "
                f"{sorted({(r.width, r.depth) for r in geoms})} — cells "
                "from different (width, depth) hash to different positions "
                "and must never be summed"
            )
    merged = _reduce(lambda a, b: a.unionByName(b), states)
    geom = [c for c in ("width", "depth") if c in merged.columns]
    out = merged.groupBy(*keys, "seed", "pos", *geom).agg(
        F.sum("n").alias("n")
    )
    # keep the state schema (keys, seed, pos, n[, width, depth])
    return out.select(*keys, "seed", "pos", "n", *geom)


def cms_estimate(
    state: DataFrame,
    items: DataFrame,
    keys: Sequence[str],
    item_col: str,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Point-estimate item frequencies from a (merged) CMS state:
    ``est = min over seeds of state[seed][h_seed(item)]`` — the
    classic one-sided guarantee: ``est >= true`` always (counters only
    ever over-count via collisions), and ``est <= true + eps * N``
    with probability ``1 - (1/2)^depth`` for ``eps = e / width``.
    ``items`` supplies the probe set (per key); probing is one
    broadcast-friendly join per cell against the state, never a scan
    of the raw data — the whole point of keeping the sketch.

    Items whose cells are absent from the state (true count 0 and no
    collision) estimate 0 via the left join + coalesce.

    Geometry validation: states built by :func:`partial_cms` carry
    (width, depth) literal columns; probing with mismatched parameters
    would hash items to the WRONG cells and return arbitrary (still
    plausible-looking) numbers, so a carried geometry that disagrees
    with the arguments raises instead. The check is one bounded
    driver-side distinct over two constant columns (1 row for any
    well-formed state) — the accepted bounded-collect pattern. Legacy
    states without the columns skip the check.
    """
    geom = [c for c in ("width", "depth") if c in state.columns]
    if geom == ["width", "depth"]:
        carried = state.select("width", "depth").distinct().collect()
        bad = [
            (r.width, r.depth)
            for r in carried
            if r.width != width or r.depth != depth
        ]
        if bad:
            raise ValueError(
                "cms_estimate: state was built with (width, depth) in "
                f"{sorted(set(bad))} but probe requested ({width}, {depth}) "
                "— estimates against mismatched geometry are meaningless"
            )
        state = state.drop("width", "depth")
    v = F.col(item_col).cast("string")
    cells = F.array(
        *[
            F.struct(
                F.lit(s).alias("seed"),
                F.pmod(
                    F.conv(
                        F.substring(F.md5(F.concat(F.lit(f"{s}|"), v)), 1, 8),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(width),
                )
                .cast("int")
                .alias("pos"),
            )
            for s in range(depth)
        ]
    )
    probes = items.select(
        *keys, F.col(item_col), F.explode(cells).alias("__c")
    ).select(
        *keys,
        item_col,
        F.col("__c.seed").alias("seed"),
        F.col("__c.pos").alias("pos"),
    )
    return (
        probes.join(state, [*keys, "seed", "pos"], "left")
        .groupBy(*keys, item_col)
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).cast("bigint").alias("est"))
    )
