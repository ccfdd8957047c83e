"""Training-batch assembly operators for LLM data pipelines.

The stage between "clean corpus" and "training job" needs three
operators that are easy to get wrong at 100 TB:

- :func:`pack_contiguous` — assign documents to fixed token-budget
  training sequences (GPT-style concat-then-chunk packing). A naive
  global cumulative sum is a single-partition window (one task sees the
  whole corpus); the scale-correct form shards the corpus into
  deterministic hash buckets and packs each bucket independently —
  embarrassingly parallel, and the assignment is a pure function of
  (doc_id, token counts), independent of cluster size.
- :func:`epoch_replicate` — materialize a domain-mixture plan: each
  source is repeated ``full_epochs`` times, plus one extra epoch for a
  deterministic hash-drawn fraction of its documents (how fractional
  mixture weights like 2.5x are realized without ``rand()``).
- :func:`percentile_keep` — per-group adaptive quality threshold (keep
  the top fraction of each group by score). A ``percent_rank`` window
  would sort entire groups — with a handful of sources that is a few
  corpus-sized sort partitions. Instead: histogram the scores per group
  (map-side combinable aggregate), rank the TINY histogram with a
  window, broadcast the surviving scores back, filter row-locally.

Everything is a pure DataFrame expression; determinism comes from md5
hex buckets (engine-identical hex, the repo-wide convention), so a
DuckDB oracle can recompute every assignment value-by-value.

Reference scope: the reference script has no batching surface
(event_verify.py ends at an aggregated CSV sink); these are extension
operators per the build brief's training-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "hex_bucket",
    "pack_contiguous",
    "epoch_replicate",
    "percentile_keep",
    "ntile_by_histogram",
    "winsorize",
    "leakage_safe_split",
    "deterministic_shuffle",
    "chunk_documents",
    "weighted_sample_exact_k",
    "quantile_normalize",
    "bin_pack_documents",
]


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def hex_bucket(key: Column | str, width: int) -> Column:
    """Deterministic shard id: first ``width`` hex chars of md5(key) —
    16**width uniform buckets, identical on every engine, stable under
    repartitioning and task retries (unlike ``rand()`` / zipWithIndex)."""
    return F.substring(F.md5(_col(key).cast("string")), 1, width)


def pack_contiguous(
    df: DataFrame,
    token_col: str,
    order_col: str,
    budget: int,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Concat-then-chunk sequence packing within each bucket.

    Documents are laid end-to-end in ``order_col`` order inside their
    bucket; the token stream is carved into ``budget``-sized sequences.
    A document starts at global token offset ``cumsum - n_tokens`` and
    may span a sequence boundary (standard GPT-style packing — the
    trainer masks across the seam or accepts the split).

    Adds ``seq_id`` (which sequence the document STARTS in, per bucket)
    and ``seq_offset`` (token offset within that sequence). One shuffle
    on the uniform hash bucket; each bucket packs independently, so the
    plan is a sort within ~16**width bounded partitions, never a global
    sort. The assignment depends only on (bucket, order, token counts)
    — re-running on a different cluster yields byte-identical packing.
    """
    tok = _col(token_col)
    w = (
        Window.partitionBy(bucket_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum(tok).over(w) - tok).cast("bigint")
    return df.withColumns(
        {
            "seq_id": F.floor(start / F.lit(float(budget))).cast("bigint"),
            "seq_offset": (start % F.lit(budget)).cast("bigint"),
        }
    )


def epoch_replicate(
    df: DataFrame,
    key_col: str,
    source_col: str,
    plan: DataFrame,
) -> DataFrame:
    """Realize a domain-mixture plan by replicating rows per source.

    ``plan`` is a tiny config frame ``(source, full_epochs int,
    extra_thr string)``: every row of that source appears
    ``full_epochs`` times, plus once more iff its 4-hex md5 bucket is
    below ``extra_thr`` (so ``extra_thr='8000'`` realizes a +0.5-epoch
    fractional weight on a deterministic half of the documents, the
    no-``rand()`` way to hit a 2.5x mixture multiplier). A source the
    plan does not name appears once.

    Plan is broadcast; the replication is a row-local
    ``explode(sequence(...))`` — no shuffle at any scale, output size
    is exactly the mixture-weighted corpus.
    """
    bucket = hex_bucket(key_col, 4)
    n = (
        F.coalesce(F.col("full_epochs"), F.lit(1))
        + F.when(bucket < F.coalesce(F.col("extra_thr"), F.lit("0000")), 1)
        .otherwise(0)
    ).cast("bigint")
    return (
        df.join(F.broadcast(plan), source_col, "left")
        .withColumn("epoch", F.explode(F.sequence(F.lit(1).cast("bigint"), n)))
        .drop("full_epochs", "extra_thr")
    )


def percentile_keep(
    df: DataFrame,
    group_col: str,
    score_col: str,
    min_frac_below: float,
    frac_col: str = "pct_below",
) -> DataFrame:
    """Keep rows whose score sits in the top of their group: a row
    survives iff the fraction of its group scoring STRICTLY below it is
    ``>= min_frac_below`` (0.7 keeps ~the top 30%, tie-inclusive).

    Scale shape — the reason this is not a ``percent_rank`` window:
    partitioning a window by a low-cardinality group puts entire groups
    through single sort tasks. Here the full-size data is only touched
    by (1) a ``groupBy(group, score).count()`` — map-side combinable,
    output is |distinct scores| rows — and (3) a broadcast-join +
    row-local filter. The actual ranking (2) is a window over the tiny
    histogram. NULL scores must be coalesced by the caller (a NULL
    group key in an equi-join would silently drop rows).
    """
    hist = df.groupBy(group_col, score_col).agg(F.count(F.lit(1)).alias("__cnt"))
    cum = (
        Window.partitionBy(group_col)
        .orderBy(score_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    whole = Window.partitionBy(group_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    frac = (F.sum("__cnt").over(cum) - F.col("__cnt")) / F.sum("__cnt").over(whole)
    kept = (
        hist.select(group_col, score_col, F.round(frac, 6).alias(frac_col))
        .where(F.col(frac_col) >= min_frac_below)
    )
    return df.join(F.broadcast(kept), [group_col, score_col])


def ntile_by_histogram(
    df: DataFrame,
    group_col: str,
    score_col: str,
    n: int,
    tile_col: str = "tile",
) -> DataFrame:
    """Equi-depth n-tile assignment per group WITHOUT a global sort:
    each row gets ``tile = floor(frac_strictly_below * n)`` (clamped to
    ``n - 1``) — deciles/quartiles of a quality score, the binning step
    behind curriculum schedules and tiered mixtures.

    Differs from SQL ``NTILE`` deliberately: NTILE splits equal scores
    across tiles by ROW ORDER, which is partitioning-dependent — two
    runs of the same data can bin the same document differently. Here
    equal scores always share a tile (the same fixed point the
    percentile_keep gate uses), so the assignment is a pure function
    of the score distribution and reproducible on any engine/cluster.
    Tiles are equi-depth up to tie granularity: a value spanning a
    boundary lands wholly in the lower tile.

    Scale shape (same as :func:`percentile_keep`): the corpus is
    touched only by a ``groupBy(group, score).count()`` histogram
    (map-side combinable) and a broadcast-join back; the cumulative
    ranking runs over the tiny distinct-score table. Never a
    corpus-wide sort/NTILE window partition.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    hist = df.groupBy(group_col, score_col).agg(F.count(F.lit(1)).alias("__cnt"))
    cum = (
        Window.partitionBy(group_col)
        .orderBy(score_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    whole = Window.partitionBy(group_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    frac = (F.sum("__cnt").over(cum) - F.col("__cnt")) / F.sum("__cnt").over(whole)
    tiles = hist.select(
        group_col,
        score_col,
        F.least(
            F.floor(F.round(frac, 9) * n).cast("int"), F.lit(n - 1)
        ).alias(tile_col),
    )
    return df.join(F.broadcast(tiles), [group_col, score_col])


def deterministic_shuffle(
    df: DataFrame,
    id_col: str,
    seed: str,
    num_partitions: int | None = None,
    order_col: str = "shuffle_key",
) -> DataFrame:
    """Global pseudo-random reorder of the corpus — the "shuffle the
    training data" step before sharding to data loaders. ``rand()`` is
    useless here (changes under retries/partitioning); the order key is
    ``md5(seed || id)``, so epoch N's order is reproducible forever
    from the seed alone, and a different seed gives an independent
    order (one corpus, many epoch orders, zero data movement until
    read time).

    Scale shape: ``repartitionByRange`` + ``sortWithinPartitions`` on
    the hash key — a distributed range sort (sampled range boundaries,
    every partition sorts locally; md5 keys are uniform so the ranges
    balance). The TOTAL order across partition files follows the
    partition index, which is what a sequential shard reader consumes.
    Never a single-task global sort, never a driver collect.

    The hash key column stays in the output (``order_col``) so sinks
    can ``sortBy`` it in bucketed writes and audits can re-check the
    order; drop it after writing if unwanted.
    """
    keyed = df.withColumn(
        order_col, F.md5(F.concat(F.lit(seed + ":"), _col(id_col).cast("string")))
    )
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return keyed.repartitionByRange(n, order_col).sortWithinPartitions(order_col)


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 512,
    stride: int | None = None,
) -> DataFrame:
    """Split long documents into fixed-token-window chunks — the stage
    BEFORE :func:`pack_contiguous` when documents exceed the model
    context (a 200k-token document cannot ride one training sequence):
    each document explodes into windows of ``chunk_tokens`` whitespace
    tokens starting every ``stride`` tokens (``stride < chunk_tokens``
    gives sliding-window overlap, the long-context training recipe;
    default ``stride = chunk_tokens`` is disjoint chunking).

    Returns one row per chunk: ``(doc_id, chunk_idx, chunk_start,
    n_chunk_tokens, chunk_text)``. The final chunk may be short; empty
    or NULL documents yield NO chunks (callers needing every doc id
    left-join back). Deterministic: the chunk set is a pure function of
    the token array.

    Scale shape: entirely ROW-LOCAL — tokenize, generate start offsets
    with ``sequence``, explode, slice; no shuffle at any corpus size,
    and the explode fan-out is bounded per row by
    ``ceil(n_tokens / stride)``. Output order inside a partition
    follows input order; partitioning carries through to downstream
    packing's bucket shuffle.
    """
    from .text import tokens

    if stride is None:
        stride = chunk_tokens
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    tok = tokens(_col(text_col))
    n = F.size(tok)
    starts = F.when(n <= 0, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(0), n - 1, F.lit(stride))
    )
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        tok.alias("__tok"),
        F.posexplode(starts).alias("chunk_idx", "chunk_start"),
    )
    piece = F.slice(F.col("__tok"), F.col("chunk_start") + 1, chunk_tokens)
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("chunk_start").cast("bigint").alias("chunk_start"),
        F.size(piece).cast("bigint").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def winsorize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo_frac: float = 0.01,
    hi_frac: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorize a value per group: clamp below the ``lo_frac`` and
    above the ``hi_frac`` quantile — the outlier-capping step before
    any mean/std-based scoring (a single 10^9-token document would
    otherwise own the corpus length statistics).

    Quantile definition (deterministic, engine-independent): the
    ``q``-quantile is the SMALLEST observed value whose inclusive
    cumulative share ``cum_count / total >= q`` — no interpolation, so
    the bounds are always actual data values and both engines agree
    exactly. Adds ``out_col`` (default ``{value_col}_w``) with the
    clamped value; rows keep their original column untouched.

    Scale shape (the percentile_keep / ntile_by_histogram pattern): the
    corpus is touched by one map-side histogram and one broadcast join
    of the 2-row-per-group bounds table; the quantile scan itself runs
    over the tiny distinct-value histogram. Never a corpus-wide sort.
    """
    if not (0.0 <= lo_frac <= hi_frac <= 1.0):
        raise ValueError("need 0 <= lo_frac <= hi_frac <= 1")
    out_col = out_col or f"{value_col}_w"
    hist = df.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    cum = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    whole = Window.partitionBy(group_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    share = F.round(
        F.sum("__cnt").over(cum) / F.sum("__cnt").over(whole), 9
    )
    shared = hist.select(group_col, value_col, share.alias("__share"))
    bounds = shared.groupBy(group_col).agg(
        F.min(
            F.when(F.col("__share") >= lo_frac, F.col(value_col))
        ).alias("__lo"),
        F.min(
            F.when(F.col("__share") >= hi_frac, F.col(value_col))
        ).alias("__hi"),
    )
    return (
        df.join(F.broadcast(bounds), group_col)
        .withColumn(
            out_col,
            F.least(F.greatest(F.col(value_col), F.col("__lo")), F.col("__hi")),
        )
        .drop("__lo", "__hi")
    )


def leakage_safe_split(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster-aware train/val/test assignment — the split a curation
    pipeline must use AFTER dedup decisions exist: bucketing each doc
    by a hash of its OWN id lets exact duplicates straddle the
    train/eval boundary (the canonical eval-leakage bug; near-dup-level
    leakage is the decontamination operators' job), so the split key
    here is the CLUSTER canonical id — min doc id per content
    fingerprint — and every copy of a text lands in the same split by
    construction.

    One shuffle: the min-per-fingerprint is a window over the
    fingerprint partition (map-side combinable key, uniform md5
    distribution — no skew at any corpus size); the bucket-to-split
    mapping is row-local: buckets below ``cccc`` train, below ``e666``
    val, the rest test — an 80/10/10 split."""
    from pyspark.sql import Window

    from .text import fingerprint

    w = Window.partitionBy("__fp")
    bucket = F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 4)
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("__fp"))
        .withColumn("cluster_id", F.min(id_col).over(w))
        .select(
            id_col,
            "cluster_id",
            bucket.alias("bucket"),
            F.when(bucket < F.lit("cccc"), "train")
            .when(bucket < F.lit("e666"), "val")
            .otherwise("test")
            .alias("split"),
        )
    )


def weighted_sample_exact_k(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    strata: "Sequence[str] | None" = None,
    seed: str = "aes:",
) -> DataFrame:
    """EXACTLY-k weighted sampling without replacement (Efraimidis &
    Spirakis 2006): each row draws key ``u^(1/w)`` with u a seeded
    uniform, and the k LARGEST keys are the sample — inclusion
    probability proportional to weight, sample size exactly k. The
    missing quadrant of the sampling tier: hash-threshold draws give
    weighted-but-BINOMIAL sizes (weighted_sample), exact-N draws are
    exactly-sized but UNWEIGHTED (exact_n_per_stratum); A-ES keys give
    both at once.

    Determinism & portability: u = (bucket + 0.5) / 2^32 from the
    seeded md5 bucket over 8 hex chars (+0.5 keeps u in (0,1) so ln(u)
    is finite), and the rank key is the LOG form ``ln(u) / w`` —
    monotone-equivalent to u^(1/w) (exp is increasing) but never
    saturating: the direct power form rounds to exactly 1.000000000
    for weights above ~2e2 at 9-decimal rounding, collapsing all
    high-weight rows into an id-ascending tie, whereas ln(u)/w keeps
    distinct negative keys at every weight. The key still ROUNDS to 9
    decimals before ranking with the id as tiebreak — ``ln`` may
    differ by an ulp between libm implementations, and the rounding
    absorbs it (the cosine round-6 convention).

    Scale shape: the key is a row-local expression. Global (strata =
    None) top-k compiles to TakeOrdered — per-partition partial top-k,
    never a global sort; per-stratum uses one window over the stratum
    partitioning. Zero-or-negative weights draw key -Infinity (never
    sampled while any positive-weight row remains), matching the A-ES
    limit.
    """
    if k < 1:
        raise ValueError(f"weighted_sample_exact_k: need k >= 1, got {k}")
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    u = (bucket.cast("double") + 0.5) / 4294967296.0
    w = F.col(weight_col).cast("double")
    key = F.when(w > 0, F.round(F.log(u) / w, 9)).otherwise(
        F.lit(float("-inf"))
    )
    staged = df.withColumn("aes_key", key)
    if strata:
        from pyspark.sql import Window

        win = Window.partitionBy(*strata).orderBy(
            F.desc("aes_key"), F.asc(id_col)
        )
        return (
            staged.withColumn("__rn", F.row_number().over(win))
            .where(F.col("__rn") <= k)
            .drop("__rn")
        )
    return staged.orderBy(F.desc("aes_key"), F.asc(id_col)).limit(k)


def quantile_normalize(
    df: DataFrame,
    score_col: str,
    group_col: str,
    bins: int = 32,
) -> DataFrame:
    """Cross-group score CALIBRATION by quantile normalization: each
    row's score is replaced by the GLOBAL distribution's value at the
    row's within-group quantile — after which "top 20% by score" means
    the same thing in every source, even when sources' scorers run at
    different scales (the cross-source comparability problem any
    multi-scorer curation stack hits before a single global gate).

    Histogram-based like every quantile op here (quality_percentile
    _filter / ntile_by_histogram): never a per-group sort, never
    percent_rank over an unbounded partition. Each group bins over its
    OWN [min, max] domain (a shared domain would collapse a
    narrow-scaled group into one or two bins and destroy its quantile
    resolution — the first cut did exactly that and failed its own
    calibration test); the global histogram bins over the global
    domain. The within-group CDF at each row's bin maps — via a
    broadcast non-equi join of two |groups| x bins frames — to the
    first global bin whose CDF covers it; the normalized score is that
    global bin's upper edge. Resolution is one bin width on both axes;
    determinism is exact integer counts + one rounded output.

    Returns the input plus ``norm_score``. NULL scores pass through
    with NULL norm_score; a constant-valued group lands entirely on
    the global value at its (single) quantile.
    """
    from pyspark.sql import Window

    if bins < 1:
        raise ValueError(f"quantile_normalize: bins must be >= 1, got {bins}")
    v = F.col(score_col).cast("double")

    def bin_of(lo: Column, width: Column) -> Column:
        return F.least(
            F.greatest(F.floor((v - lo) / width), F.lit(0)),
            F.lit(bins - 1),
        ).cast("int")

    gstats = df.agg(
        F.min(v).alias("__glo"),
        (
            F.greatest(F.max(v) - F.min(v), F.lit(1e-300)) / bins
        ).alias("__gwidth"),
    )
    sstats = df.groupBy(F.col(group_col).alias("__ssg")).agg(
        F.min(v).alias("__slo"),
        (
            F.greatest(F.max(v) - F.min(v), F.lit(1e-300)) / bins
        ).alias("__swidth"),
    )
    binned = (
        df.crossJoin(F.broadcast(gstats))
        .join(
            F.broadcast(sstats), F.col(group_col) == F.col("__ssg")
        )
        .withColumn(
            "__gbin", F.when(v.isNotNull(), bin_of(F.col("__glo"), F.col("__gwidth")))
        )
        .withColumn(
            "__sbin", F.when(v.isNotNull(), bin_of(F.col("__slo"), F.col("__swidth")))
        )
    )
    ghist = (
        binned.where(F.col("__gbin").isNotNull())
        .groupBy(F.col("__gbin").alias("__gb"))
        .agg(F.count(F.lit(1)).alias("__gc"))
    )
    gw = Window.orderBy("__gb").rowsBetween(Window.unboundedPreceding, 0)
    gtot = Window.partitionBy()
    gcdf = ghist.select(
        "__gb",
        (
            F.sum("__gc").over(gw).cast("double")
            / F.sum("__gc").over(gtot).cast("double")
        ).alias("__gcdf"),
    )
    shist = (
        binned.where(F.col("__sbin").isNotNull())
        .groupBy(F.col(group_col).alias("__sg"), F.col("__sbin").alias("__sb"))
        .agg(F.count(F.lit(1)).alias("__sc"))
    )
    sw = (
        Window.partitionBy("__sg").orderBy("__sb").rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    stot = Window.partitionBy("__sg")
    scdf = shist.select(
        "__sg",
        "__sb",
        (
            F.sum("__sc").over(sw).cast("double")
            / F.sum("__sc").over(stot).cast("double")
        ).alias("__scdf"),
    )
    # map each (group, bin) to the FIRST global bin whose CDF covers its
    # group CDF: non-equi join of two tiny aggregated frames (broadcast),
    # then min over qualifying global bins
    mapping = (
        scdf.join(
            F.broadcast(gcdf),
            F.col("__gcdf") >= F.col("__scdf") - F.lit(1e-12),
        )
        .groupBy("__sg", "__sb", "__scdf")
        .agg(F.min("__gb").alias("__tgt"))
        .select("__sg", "__sb", F.col("__tgt"))
    )
    return (
        binned.join(
            F.broadcast(mapping),
            (F.col(group_col) == F.col("__sg")) & (F.col("__sbin") == F.col("__sb")),
            "left",
        )
        .withColumn(
            "norm_score",
            F.round(
                F.col("__glo") + (F.col("__tgt") + 1) * F.col("__gwidth"),
                6,
            ),
        )
        .drop(
            "__sg", "__sb", "__sbin", "__gbin", "__ssg",
            "__slo", "__swidth", "__glo", "__gwidth", "__tgt",
        )
    )


def auto_shard_width(approx_docs: int) -> int:
    """The r9 FFD probe's docs-per-shard guidance as code (BENCH_NOTES
    r9: the per-shard O(docs x bins) Python loop stays seconds-per-
    shard while docs-per-shard <= ~10k; tail 0.83 measured at 2.5k
    with shard count HELD): the smallest hex ``shard_width`` whose
    ``16**width`` shards keep expected shard occupancy at or under
    10,000 docs. ``approx_docs`` is a caller hint
    (catalog stats / ``io.table_row_hint`` — never a driver count job,
    the auto_num_planes contract); a non-positive hint returns the
    pre-r10 default width 2 (256 shards). Clamped to [1, 8]: width 8
    is 4.3e9 shards — beyond any corpus this loop should see."""
    import math

    if approx_docs <= 0:
        return 2
    shards_needed = max(1, -(-approx_docs // 10_000))
    width = max(1, math.ceil(math.log(shards_needed, 16)))
    return min(8, width)


def bin_pack_documents(
    df: DataFrame,
    token_col: str,
    budget: int,
    id_col: str = "doc_id",
    shard_width: int | None = None,
    approx_rows: int | None = None,
) -> DataFrame:
    """First-fit-decreasing bin packing of WHOLE documents into
    token-budget bins — the instruction-tuning packing style, the
    complement of :func:`pack_contiguous`: documents are never split
    (no attention seam to mask), at the price of per-bin slack.

    Scale shape: FFD is sequential by definition, so the corpus shards
    into ``16**shard_width`` deterministic md5 buckets (the
    :func:`hex_bucket` convention) and each shard packs independently
    in ONE ``applyInPandas`` pass — parallel across shards, bounded
    state per shard, and the assignment is a pure function of (shard,
    token counts, id order), independent of cluster size or
    partitioning. Within a shard FFD's classic guarantee applies
    (<= 11/9 OPT + 1 bins); across shards the loss is one partial bin
    per shard, amortized away when shards hold many bins. Bin ids are
    globally unique as ``shard * 2**40 + local_bin``.

    Documents with ``token_col > budget`` cannot be packed whole and
    dead-letter with ``bin_id`` NULL (``overflow = true``) — a 100 TB
    run routes them to :func:`chunk_documents` instead of dying. Rows
    with a NULL id or NULL token count dead-letter the same way
    (ADVICE r8: they used to reach the packing loop and crash it — a
    broken row must never kill the job): they are routed out BEFORE
    the shard groupBy with ``shard``/``bin_id``/``bin_fill`` NULL and
    ``overflow = true``, so the packer only ever sees well-typed rows.

    Returns ``id_col, n_tokens, shard, bin_id, bin_fill, overflow``
    where ``bin_fill`` is the bin's total AFTER packing (asserted
    <= budget for every non-overflow row in tests).

    ``shard_width=None`` (the r10 default): sized from the
    ``approx_rows`` hint via :func:`auto_shard_width` so docs-per-
    shard stays at or under the measured ~10k comfort zone at any
    corpus size; without a hint the pre-r10 width 2 applies, and
    explicit widths stay the escape hatch (the probes pin them).
    """
    import pandas as pd

    if budget < 1:
        raise ValueError(f"bin_pack_documents: budget must be >= 1, got {budget}")
    if shard_width is None:
        shard_width = auto_shard_width(approx_rows or 0)
    typed = df.select(
        F.col(id_col),
        F.col(token_col).cast("bigint").alias("n_tokens"),
    )
    bad = F.col(id_col).isNull() | F.col("n_tokens").isNull()
    dead = typed.where(bad).select(
        F.col(id_col),
        "n_tokens",
        F.lit(None).cast("bigint").alias("shard"),
        F.lit(None).cast("bigint").alias("bin_id"),
        F.lit(None).cast("bigint").alias("bin_fill"),
        F.lit(True).alias("overflow"),
    )
    base = typed.where(~bad).select(
        F.col(id_col),
        "n_tokens",
        F.conv(hex_bucket(F.col(id_col).cast("string"), shard_width), 16, 10)
        .cast("bigint")
        .alias("shard"),
    )
    out_schema = (
        f"{id_col} long, n_tokens long, shard long, bin_id long, "
        "bin_fill long, overflow boolean"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        # decreasing token order, id tiebreak: deterministic FFD
        pdf = pdf.sort_values(
            ["n_tokens", id_col], ascending=[False, True], ignore_index=True
        )
        fills: list[int] = []
        bin_of = []
        overflow = []
        for n in pdf["n_tokens"]:
            n = int(n)
            if n > budget:
                bin_of.append(-1)
                overflow.append(True)
                continue
            # first fit over open bins (linear scan: bins per shard are
            # bounded by the shard's token mass / budget)
            for b, fill in enumerate(fills):
                if fill + n <= budget:
                    fills[b] = fill + n
                    bin_of.append(b)
                    break
            else:
                fills.append(n)
                bin_of.append(len(fills) - 1)
            overflow.append(False)
        pdf["bin_id"] = [
            (shard << 40) + b if b >= 0 else None for b in bin_of
        ]
        pdf["bin_fill"] = [
            fills[b] if b >= 0 else None for b in bin_of
        ]
        pdf["overflow"] = overflow
        return pdf[
            [id_col, "n_tokens", "shard", "bin_id", "bin_fill", "overflow"]
        ]

    return base.groupBy("shard").applyInPandas(pack, out_schema).unionByName(
        dead
    )
