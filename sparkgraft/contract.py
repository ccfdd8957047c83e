"""Declarative data-contract validation: assert column-level
expectations over a table in ONE scan and report violations per rule —
the gate a pipeline runs before promoting a snapshot to training
(schema drift, null regressions, out-of-range values, enum rot).

Rules are plain dicts, so a contract can live in config:

    rules = [
        {"column": "doc_id", "check": "not_null"},
        {"column": "doc_id", "check": "unique"},
        {"column": "n_chars", "check": "min", "value": 0},
        {"column": "lang", "check": "allowed", "values": ["en", "de"]},
        {"column": "text", "check": "matches", "pattern": r"^\\S|^$"},
    ]

Scale shape: every per-row check compiles to one conditional-sum
aggregate expression, so the whole rule set is a SINGLE pass over the
table with map-side partial aggregation — adding a rule adds a column,
not a scan. ``unique`` checks are the exception (they need per-key
counts): each runs as a two-phase aggregate on its column and the tiny
per-rule results union together. Nothing is collected; the report is a
|rules|-row DataFrame the caller can sink, alert on, or join into a
run manifest.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "validate_contract",
    "profile_table",
    "profile_drift",
    "numeric_correlations",
    "mad_outliers",
    "psi_drift",
]


def _violation(rule: Mapping) -> Column:
    """Boolean column: TRUE when the row VIOLATES the rule. NULL
    handling is explicit per check: range/regex/enum checks pass NULLs
    (compose with not_null to forbid them), mirroring SQL constraint
    semantics where NULL comparisons are not violations."""
    c = F.col(rule["column"])
    check = rule["check"]
    if check == "not_null":
        return c.isNull()
    if check == "min":
        return c.isNotNull() & (c < F.lit(rule["value"]))
    if check == "max":
        return c.isNotNull() & (c > F.lit(rule["value"]))
    if check == "allowed":
        return c.isNotNull() & ~c.isin(list(rule["values"]))
    if check == "matches":
        return c.isNotNull() & ~c.rlike(rule["pattern"])
    raise ValueError(f"unknown contract check: {check!r}")


def _rule_ids(rules: Sequence[Mapping]) -> list[str]:
    """One id per rule, ``column:check`` with a ``#k`` suffix only when
    the same (column, check) pair appears more than once (two min
    thresholds, two regexes on one column) — duplicate ids would
    collide as aggregate aliases and break the stack() unpivot."""
    seen: dict[str, int] = {}
    ids = []
    for r in rules:
        base = f"{r['column']}:{r['check']}"
        n = seen.get(base, 0)
        seen[base] = n + 1
        ids.append(base if n == 0 else f"{base}#{n + 1}")
    return ids


def validate_contract(df: DataFrame, rules: Sequence[Mapping]) -> DataFrame:
    """Evaluate ``rules`` against ``df``; returns one row per rule:
    ``(rule_id, column, check, n_violations, passed)``.

    All non-``unique`` rules share one aggregation pass; each
    ``unique`` rule adds one two-phase count-per-key aggregate whose
    violation count is the number of rows carrying a duplicated value
    (NULLs ignored — add not_null to forbid them). The per-rule result
    frames are unioned: |rules| rows total, safe to collect or sink.
    """
    spark = df.sparkSession
    ids = _rule_ids(rules)
    scalar = [(i, r) for i, r in zip(ids, rules) if r["check"] != "unique"]
    uniques = [(i, r) for i, r in zip(ids, rules) if r["check"] == "unique"]

    report_schema = (
        "rule_id string, column string, check string, n_violations bigint"
    )
    if not rules:
        empty = spark.createDataFrame([], report_schema)
        return empty.withColumn("passed", F.lit(True))

    reports: list[DataFrame] = []
    if scalar:
        aggs = [
            F.sum(_violation(r).cast("bigint")).alias(rid) for rid, r in scalar
        ]
        wide = df.agg(*aggs)
        # one wide row -> |scalar| rows, via the stack() unpivot idiom
        pairs = ", ".join(f"'{rid}', `{rid}`" for rid, _ in scalar)
        long = wide.selectExpr(
            f"stack({len(scalar)}, {pairs}) as (rule_id, n_violations)"
        )
        # 1-slice parallelize (r14, guide §4): a few rule-meta rows,
        # broadcast-joined below — the default createDataFrame spreads
        # them over defaultParallelism near-empty Python partitions
        meta = spark.createDataFrame(
            spark.sparkContext.parallelize(
                [(rid, r["column"], r["check"]) for rid, r in scalar], 1
            ),
            "rule_id string, column string, check string",
        )
        reports.append(long.join(F.broadcast(meta), "rule_id"))

    for rid, r in uniques:
        c = F.col(r["column"])
        dup_rows = (
            df.where(c.isNotNull())
            .groupBy(r["column"])
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > 1)
            .agg(
                F.coalesce(F.sum("__n"), F.lit(0)).cast("bigint").alias(
                    "n_violations"
                )
            )
            .select(
                F.lit(rid).alias("rule_id"),
                F.lit(r["column"]).alias("column"),
                F.lit("unique").alias("check"),
                "n_violations",
            )
        )
        reports.append(dup_rows.select("rule_id", "n_violations", "column", "check"))

    out = reports[0]
    for extra in reports[1:]:
        out = out.unionByName(extra)
    return out.select(
        "rule_id",
        "column",
        "check",
        F.coalesce(F.col("n_violations"), F.lit(0)).cast("bigint").alias(
            "n_violations"
        ),
        (F.coalesce(F.col("n_violations"), F.lit(0)) == 0).alias("passed"),
    )


def profile_table(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    rsd: float = 0.05,
) -> DataFrame:
    """One-pass column profile: ``(column, n_rows, n_null, null_frac,
    n_distinct_approx, min_str, max_str)`` per profiled column — the
    snapshot report that feeds contract thresholds (yesterday's
    null_frac becomes tomorrow's rule) and catches drift between
    snapshots.

    ``rsd`` is the HLL++ relative standard deviation (state grows as
    ~1/rsd^2 — the default trades 5% typical error for tiny state;
    callers asserting an error BOUND should size rsd well inside it:
    the r6 full-registry sf0.1 re-check caught the default sketch
    missing 5000 distinct ids by 6.6%, outside a 5% bound calibrated
    at sf0.01).

    Scale shape: every statistic for every column lives in ONE
    aggregate over the table (map-side combinable; distinct counts are
    HyperLogLog++ sketches, never exact per-column shuffles — exactness
    is the contract tier's job, profiling wants bounded cost). min/max
    are reported as strings so heterogeneous column types fit one
    report schema; the unpivot to rows happens on the 1-row aggregate,
    not the data.
    """
    cols = list(columns) if columns is not None else list(df.columns)
    if not cols:
        # mirror validate_contract's empty-rules branch: stack(0, ) is
        # malformed SQL, so an empty column list returns an empty report
        # with the documented schema instead of an AnalysisException
        return df.sparkSession.createDataFrame(
            [],
            "column string, n_rows bigint, n_null bigint, null_frac double, "
            "n_distinct_approx bigint, min_str string, max_str string",
        )
    n_rows = F.count(F.lit(1))
    aggs: list[Column] = [n_rows.alias("__n")]
    for c in cols:
        col = F.col(c)
        aggs.extend(
            [
                F.sum(col.isNull().cast("bigint")).alias(f"__null_{c}"),
                F.approx_count_distinct(c, rsd=rsd).alias(f"__dist_{c}"),
                F.min(col).cast("string").alias(f"__min_{c}"),
                F.max(col).cast("string").alias(f"__max_{c}"),
            ]
        )
    wide = df.agg(*aggs)
    per_col = ", ".join(
        f"'{c}', `__null_{c}`, `__dist_{c}`, `__min_{c}`, `__max_{c}`"
        for c in cols
    )
    return wide.selectExpr(
        "__n as n_rows",
        f"stack({len(cols)}, {per_col}) as "
        "(column, n_null, n_distinct_approx, min_str, max_str)",
    ).select(
        "column",
        "n_rows",
        # sum over an empty table is NULL, not 0 — coalesce both outputs
        F.coalesce(F.col("n_null"), F.lit(0)).cast("bigint").alias("n_null"),
        F.round(
            F.coalesce(F.col("n_null"), F.lit(0)).cast("double")
            / F.greatest(F.col("n_rows").cast("double"), F.lit(1.0)),
            6,
        ).alias("null_frac"),
        F.col("n_distinct_approx").cast("bigint").alias("n_distinct_approx"),
        "min_str",
        "max_str",
    )


def profile_drift(
    before: DataFrame,
    after: DataFrame,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Snapshot-over-snapshot drift report — the check a recurring
    pipeline runs BETWEEN :func:`profile_table` calls: yesterday's
    corpus vs today's, per profiled column. Returns one row per column:

    ``(column, n_rows_before, n_rows_after, null_frac_before,
    null_frac_after, null_frac_delta, distinct_before, distinct_after,
    distinct_ratio, drifted)``

    where ``drifted`` flags a null-fraction move beyond 0.05
    (absolute) or a distinct-count ratio outside ``[0.5, 2]`` — the
    two cheap
    signals that catch a broken extractor (nulls spike) or a key
    collapse / explosion (cardinality jumps) before training sees it.

    Scale shape: exactly two ``profile_table`` passes (one scan each,
    map-side combinable) joined on the tiny per-column report — the
    drift logic itself never touches the data. The distinct counts are
    the profile's HyperLogLog estimates, so ``distinct_ratio`` is an
    approximate signal by design (the 0.5 bound sits well outside the
    sketch's ~2% error); null fractions are exact.

    ``columns`` defaults to the columns the two snapshots SHARE (drift
    is only defined for common columns; added/dropped columns are a
    schema-diff concern, visible via ``set(before.columns) ^
    set(after.columns)`` without a data pass).
    """
    if columns is None:
        columns = [c for c in before.columns if c in set(after.columns)]
    b = profile_table(before, columns).select(
        "column",
        F.col("n_rows").alias("n_rows_before"),
        F.col("null_frac").alias("null_frac_before"),
        F.col("n_distinct_approx").alias("distinct_before"),
    )
    a = profile_table(after, columns).select(
        "column",
        F.col("n_rows").alias("n_rows_after"),
        F.col("null_frac").alias("null_frac_after"),
        F.col("n_distinct_approx").alias("distinct_after"),
    )
    ratio = F.round(
        F.col("distinct_after").cast("double")
        / F.greatest(F.col("distinct_before").cast("double"), F.lit(1.0)),
        6,
    )
    delta = F.round(
        F.col("null_frac_after") - F.col("null_frac_before"), 6
    )
    return b.join(a, "column").select(
        "column",
        "n_rows_before",
        "n_rows_after",
        "null_frac_before",
        "null_frac_after",
        delta.alias("null_frac_delta"),
        "distinct_before",
        "distinct_after",
        ratio.alias("distinct_ratio"),
        (
            (F.abs(delta) > F.lit(0.05))
            | (ratio < F.lit(0.5))
            | (ratio > F.lit(2.0))
        ).alias("drifted"),
    )


def numeric_correlations(
    df: DataFrame, columns: Sequence[str]
) -> DataFrame:
    """Pairwise Pearson correlation for numeric columns in ONE scan —
    the profiling companion that catches broken joins and unit changes
    (two columns that always moved together suddenly decorrelating is
    a louder drift signal than either column's own distribution).

    Every pair's sufficient statistics (n, sum x, sum y, sum x^2,
    sum y^2, sum xy over PAIRWISE-COMPLETE rows) are conditional-sum
    columns of a single map-side-combinable aggregate — adding a pair
    adds columns, never a scan (the validate_contract design). Sums
    accumulate in exact DECIMAL so the correlation is identical under
    any partitioning; the final Pearson arithmetic runs once on the
    1-row aggregate. Degenerate pairs (no complete rows, zero
    variance) yield NULL.

    Returns ``(col_a, col_b, n, corr)`` for each unordered pair.
    """
    cols = list(columns)
    if len(cols) < 2:
        return df.sparkSession.createDataFrame(
            [], "col_a string, col_b string, n bigint, corr double"
        )
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    dec = "decimal(38,10)"
    aggs: list[Column] = []
    for i, (a, b) in enumerate(pairs):
        x, y = F.col(a).cast("double"), F.col(b).cast("double")
        both = x.isNotNull() & y.isNotNull()
        z = F.lit(0).cast(dec)
        aggs.extend(
            [
                F.sum(both.cast("bigint")).alias(f"__n_{i}"),
                F.sum(F.when(both, x.cast(dec)).otherwise(z)).alias(f"__sx_{i}"),
                F.sum(F.when(both, y.cast(dec)).otherwise(z)).alias(f"__sy_{i}"),
                F.sum(F.when(both, (x * x).cast(dec)).otherwise(z)).alias(
                    f"__sxx_{i}"
                ),
                F.sum(F.when(both, (y * y).cast(dec)).otherwise(z)).alias(
                    f"__syy_{i}"
                ),
                F.sum(F.when(both, (x * y).cast(dec)).otherwise(z)).alias(
                    f"__sxy_{i}"
                ),
            ]
        )
    wide = df.agg(*aggs)
    per_pair = ", ".join(
        f"'{a}', '{b}', `__n_{i}`, CAST(`__sx_{i}` AS DOUBLE), "
        f"CAST(`__sy_{i}` AS DOUBLE), CAST(`__sxx_{i}` AS DOUBLE), "
        f"CAST(`__syy_{i}` AS DOUBLE), CAST(`__sxy_{i}` AS DOUBLE)"
        for i, (a, b) in enumerate(pairs)
    )
    long = wide.selectExpr(
        f"stack({len(pairs)}, {per_pair}) as "
        "(col_a, col_b, n, sx, sy, sxx, syy, sxy)"
    )
    n = F.col("n").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    return long.select(
        "col_a",
        "col_b",
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.try_divide(cov, F.sqrt(vx) * F.sqrt(vy)), 6
        ).alias("corr"),
    )


def mad_outliers(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    id_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Robust per-group outlier detection via the median absolute
    deviation (Iglewicz-Hoaglin modified z-score): a value is
    anomalous when ``|0.6745 * (v - median) / MAD| > 3.5``.
    Mean/stddev z-scores are useless exactly when you need them — the
    outliers you hunt inflate the stddev and hide themselves; the
    median/MAD pair has a 50% breakdown point.

    Two grouped EXACT percentile aggregations (median of values, then
    median of absolute deviations) with the per-group statistics
    joined back — |groups| rows each, broadcast-sized at any corpus
    scale; the data itself is scanned twice but never globally sorted.
    Exact grouped percentiles sort within groups; at 100 TB swap
    ``F.percentile`` for ``percentile_approx`` (mergeable sketch, no
    sort) — the flag-day change is one function name, and the
    histogram route (``packing.ntile_by_histogram``) is the
    third option when even the sketch's memory is unwelcome.

    Degenerate groups (MAD = 0: over half the group shares one value)
    yield a NULL ``robust_z``, and ``is_outlier`` falls back to "any
    deviation from the median" — documented, engine-portable, and
    division-free (neither engine's x/0 semantics are relied on).

    Returns id/group/value columns plus ``(med, mad, robust_z,
    is_outlier)``; ``robust_z`` is rounded to 6 places so the double
    quotient is oracle-comparable.
    """
    gcols = list(group_cols)
    ids = list(id_cols) if id_cols else []
    v = F.col(value_col).cast("double")
    med_df = df.groupBy(*gcols).agg(
        F.percentile(v, F.lit(0.5)).alias("med")
    )
    with_med = df.select(*ids, *gcols, v.alias(value_col)).join(
        F.broadcast(med_df), gcols
    )
    dev = F.abs(F.col(value_col) - F.col("med"))
    mad_df = with_med.groupBy(*gcols).agg(
        F.percentile(dev, F.lit(0.5)).alias("mad")
    )
    out = with_med.join(F.broadcast(mad_df), gcols)
    z = F.lit(0.6745) * (F.col(value_col) - F.col("med")) / F.col("mad")
    dev_out = F.abs(F.col(value_col) - F.col("med"))
    return out.select(
        *ids,
        *gcols,
        value_col,
        "med",
        "mad",
        F.round(F.when(F.col("mad") > 0, z), 6).alias("robust_z"),
        F.when(F.col("mad") > 0, F.abs(z) > 3.5)
        .otherwise(dev_out > 0)
        .alias("is_outlier"),
    )


def psi_drift(
    baseline: DataFrame,
    current: DataFrame,
    col: str,
    lo: float,
    hi: float,
    bins: int = 10,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column — the standard distribution-shift score model-monitoring
    gates on (rule of thumb: < 0.1 stable, 0.1-0.25 drifting, > 0.25
    shifted): ``PSI = sum over bins of (p_b - q_b) * ln(p_b / q_b)``
    with fixed ``[lo, hi)`` bins (edge-clamped, like the incremental
    histogram states this composes with). Complements
    ``profile_drift``, which sees null-fraction and cardinality moves
    but is blind to a distribution sliding within the same range.

    Zero-count bins take the standard epsilon (1e-6) so the log stays
    finite. Each side is ONE map-side-combinable aggregate (bins
    conditional sums); the PSI arithmetic runs on the joined
    ``bins``-row frames. Per-bin fractions round to 6 BEFORE the log
    (the repo's engine-portability convention), so the score is
    oracle-comparable.

    Returns one row: ``(n_baseline, n_current, psi)``.
    """
    if bins < 1:
        raise ValueError(f"psi_drift: bins must be >= 1, got {bins}")
    if not hi > lo:
        raise ValueError(
            f"psi_drift: need hi > lo, got lo={lo} hi={hi} — a degenerate "
            "range would send every row into a NULL bin"
        )
    eps = 1e-6

    def frac(df: DataFrame, side: str) -> DataFrame:
        v = F.col(col).cast("double")
        width = (hi - lo) / bins
        bin_expr = F.least(
            F.greatest(F.floor((v - F.lit(lo)) / F.lit(width)), F.lit(0)),
            F.lit(bins - 1),
        ).cast("int")
        counts = (
            df.where(v.isNotNull())
            .groupBy(bin_expr.alias("bin"))
            .agg(F.count(F.lit(1)).alias(f"__n_{side}"))
        )
        return counts

    b = frac(baseline, "b")
    c = frac(current, "c")
    all_bins = baseline.sparkSession.range(bins).select(
        F.col("id").cast("int").alias("bin")
    )
    from pyspark.sql import Window

    # totals via a window over the bins-row frame — each input is
    # aggregated exactly once; everything after runs on `bins` rows
    whole = Window.partitionBy()
    joined = (
        all_bins.join(b, "bin", "left")
        .join(c, "bin", "left")
        .select(
            "bin",
            F.coalesce("__n_b", F.lit(0)).alias("nb"),
            F.coalesce("__n_c", F.lit(0)).alias("nc"),
        )
        .withColumn("tb", F.sum("nb").over(whole))
        .withColumn("tc", F.sum("nc").over(whole))
    )
    p = F.greatest(
        F.round(F.col("nb") / F.col("tb"), 6), F.lit(eps)
    )
    q = F.greatest(
        F.round(F.col("nc") / F.col("tc"), 6), F.lit(eps)
    )
    per_bin = joined.select(
        "tb",
        "tc",
        ((p - q) * F.log(p / q)).cast("decimal(38,10)").alias("__term"),
    )
    return per_bin.groupBy("tb", "tc").agg(
        F.round(F.sum("__term").cast("double"), 6).alias("psi")
    ).select(
        F.col("tb").cast("bigint").alias("n_baseline"),
        F.col("tc").cast("bigint").alias("n_current"),
        "psi",
    )


def groupwise_ols(
    df: DataFrame,
    keys: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group least-squares trend line in ONE aggregate — the trend
    sibling of :func:`numeric_correlations`: for each key group, fit
    ``y = slope * x + intercept`` over pairwise-complete rows and
    report the fit (slope, intercept, r2, n). The monitoring question
    it answers: "is this metric drifting, per segment, and how fast" —
    a per-group regression over a time-like x, computed without ever
    collecting a group.

    Scale shape: all five sufficient statistics (n, Σx, Σy, Σxy, Σx²,
    Σy²) are conditional-sum columns of one map-side-combinable keyed
    aggregate; the closed-form OLS arithmetic runs on the |groups|-row
    result. Sums accumulate in exact DECIMAL, the final arithmetic is
    double rounded to 6 places — identical under any partitioning
    and reproducible by a SQL oracle. Degenerate groups (n < 2 or zero
    x-variance) yield NULL slope/intercept/r2 via ``try_divide``.
    """
    dec = "decimal(38,10)"
    x, y = F.col(x_col).cast("double"), F.col(y_col).cast("double")
    both = x.isNotNull() & y.isNotNull()
    z = F.lit(0).cast(dec)
    stats = df.groupBy(*keys).agg(
        F.sum(both.cast("bigint")).alias("__n"),
        F.sum(F.when(both, x.cast(dec)).otherwise(z)).alias("__sx"),
        F.sum(F.when(both, y.cast(dec)).otherwise(z)).alias("__sy"),
        F.sum(F.when(both, (x * x).cast(dec)).otherwise(z)).alias("__sxx"),
        F.sum(F.when(both, (y * y).cast(dec)).otherwise(z)).alias("__syy"),
        F.sum(F.when(both, (x * y).cast(dec)).otherwise(z)).alias("__sxy"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    sxy = F.col("__sxy").cast("double")
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    cov = n * sxy - sx * sy
    slope = F.try_divide(cov, var_x)
    intercept = F.try_divide(sy - slope * sx, n)
    r2 = F.try_divide(cov * cov, var_x * var_y)
    return stats.select(
        *keys,
        F.col("__n").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def key_skew_report(
    df: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Per-key-column skew diagnostics: ``(key_col, n_rows, n_distinct,
    top1_share, topn_share, entropy)`` — the measurement that decides
    BEFORE a join whether a key needs the salted path: a key whose
    top1_share is a few percent saturates one task under plain hash
    partitioning (the round-5 skew probe in BENCH_NOTES.md measured
    3.75x), and entropy near ln(n_distinct) certifies a uniform key
    that needs nothing.

    Per column: one exact per-value count aggregate (map-side
    combinable), a TakeOrdered top-10 over it (never a full sort), and
    a one-row roll-up; columns union into one report. Entropy terms
    ``-p ln p`` round then accumulate in exact DECIMAL (the
    unigram_logprob discipline) so the report is partitioning-stable
    and SQL-reproducible; shares divide exact integer counts.
    """
    from .relational import union_all

    parts: list[DataFrame] = []
    for key in keys:
        counts = (
            df.where(F.col(key).isNotNull())
            .groupBy(F.col(key).cast("string").alias("__k"))
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        top = counts.orderBy(F.desc("__c"), F.asc("__k")).limit(10)
        top_sums = top.agg(
            F.max("__c").alias("__top1"), F.sum("__c").alias("__topn")
        )
        total = counts.agg(
            F.sum("__c").alias("__n"), F.count(F.lit(1)).alias("__d")
        )
        ent_term = F.round(
            -(F.col("__c") / F.col("__n"))
            * F.log(F.col("__c") / F.col("__n")),
            9,
        ).cast("decimal(18,9)")
        entropy = (
            counts.crossJoin(F.broadcast(total))
            .agg(F.sum(ent_term).cast("double").alias("__h"))
        )
        parts.append(
            total.crossJoin(F.broadcast(top_sums))
            .crossJoin(F.broadcast(entropy))
            .select(
                F.lit(key).alias("key_col"),
                F.col("__n").alias("n_rows"),
                F.col("__d").alias("n_distinct"),
                F.round(F.col("__top1") / F.col("__n"), 6).alias(
                    "top1_share"
                ),
                F.round(F.col("__topn") / F.col("__n"), 6).alias(
                    "topn_share"
                ),
                F.round(F.col("__h"), 6).alias("entropy"),
            )
        )
    return union_all(parts)
