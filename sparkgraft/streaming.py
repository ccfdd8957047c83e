"""Structured Streaming surface: the conformance aggregations over
``readStream`` (SURVEY §2.9 — the reference is pure batch; its daily
path-templated cadence, event_verify.py:21, becomes real stream
semantics here).

Operators are DataFrame-generic: the same column expressions power the
batch queries (json_ops / conformance) and these streaming variants —
batch/stream parity is tested by running the stream to completion on a
bounded source and comparing against the batch plan.

Late data: every aggregation takes a watermark; state for windows older
than the watermark is dropped, which is what bounds state size when
this runs against an unbounded source at production scale. For gap
sessions use ``session_window`` (native stateful sessionization) rather
than the batch lag+cumsum idiom, which needs unbounded history.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .json_ops import extract_key, key_presence

__all__ = [
    "stream_table",
    "stream_table_from_dir",
    "windowed_event_counts",
    "windowed_conformance",
    "windowed_sessions",
    "stateful_running_stats",
    "enrich_stream",
    "stream_interval_join",
    "run_stream_to_memory",
    "run_stream_foreach_batch",
    "run_stream_available_now",
    "foreach_batch_parquet_sink",
]


def stream_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    max_files_per_trigger: int = 1,
    split_files: int | None = None,
) -> DataFrame:
    """File-source stream over a testdata table (bounded, for tests /
    local smoke; production swaps in Kafka etc. — the downstream
    operators don't care). Schema comes from a batch read, including
    the nanos-timestamp normalization (io.read_table).

    ``split_files``: re-stage the single-file table as N parquet files
    so the bounded stream produces N micro-batches (with
    ``max_files_per_trigger=1``) — required to exercise cross-batch
    state (stateful ops, foreachBatch idempotence) rather than a
    degenerate one-batch run."""
    import hashlib
    import os
    import tempfile

    from .io import read_table

    batch = read_table(spark, sf_dir, name)
    # stream the already-normalized shape via the batch schema: the
    # nanos column arrives as long, converted identically to batch
    src = os.path.join(sf_dir, f"{name}.parquet")
    raw_schema = spark.read.parquet(src).schema
    # the file stream source wants a DIRECTORY; testdata ships single
    # files. Stage dirs are KEYED by (source, split) and reused, not
    # mkdtemp'd per call: the gate query runs stream_table on every
    # driver round / oracle check / test session, and a fresh staged
    # copy of the table per call leaks unboundedly on long-lived hosts.
    key = hashlib.md5(f"{os.path.abspath(src)}|{split_files}".encode()).hexdigest()[:12]
    stage = os.path.join(
        tempfile.gettempdir(), f"sparkgraft-stream-{name}-{key}"
    )
    done_marker = os.path.join(stage, "_STAGED")
    if not os.path.exists(done_marker):
        os.makedirs(stage, exist_ok=True)
        if split_files is not None:
            spark.read.parquet(src).repartition(split_files).write.mode(
                "overwrite"
            ).parquet(stage)
            # drop non-data files so maxFilesPerTrigger counts real batches
            for f in os.listdir(stage):
                if not f.endswith(".parquet"):
                    os.remove(os.path.join(stage, f))
        else:
            link = os.path.join(stage, f"{name}.parquet")
            if not os.path.exists(link):
                os.symlink(src, link)
        with open(done_marker, "w") as fh:
            fh.write(src)
    return _normalized_dir_stream(
        spark, stage, raw_schema, batch.schema, max_files_per_trigger
    )


def _normalized_dir_stream(
    spark: SparkSession,
    directory: str,
    raw_schema,
    target_schema,
    max_files_per_trigger: int = 1,
):
    """File-source stream over ``directory`` with the batch reader's
    column normalization applied (nanos-as-long -> timestamp_ntz, plus
    any residual casts) so streaming plans see the exact batch shape."""
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(directory)
    )
    for field, target in zip(raw_schema.fields, target_schema.fields):
        if field.dataType != target.dataType:
            if field.dataType.typeName() == "long":  # nanos-as-long column
                stream = stream.withColumn(
                    field.name,
                    F.expr(f"timestamp_micros(`{field.name}` div 1000)").cast(
                        "timestamp_ntz"
                    ),
                )
            else:
                stream = stream.withColumn(
                    field.name, F.col(field.name).cast(target.dataType)
                )
    return stream


def stream_table_from_dir(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    directory: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Stream a testdata table from a CALLER-MANAGED directory — the
    harness for arrival/recovery scenarios: the caller stages part
    files into ``directory`` over time (e.g. two files, run to a stop,
    add two more, restart from the same checkpoint), while schema and
    normalization stay identical to :func:`stream_table`. The file
    source's checkpoint records which files are committed, so a
    restarted query picks up exactly the unseen files."""
    import os

    from .io import read_table

    batch = read_table(spark, sf_dir, name)
    raw_schema = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
    return _normalized_dir_stream(
        spark, directory, raw_schema, batch.schema, max_files_per_trigger
    )


def _with_event_time(stream: DataFrame, ts_col: str) -> DataFrame:
    # watermarks need TIMESTAMP (LTZ); our tables are NTZ — convert once
    return stream.withColumn("__event_time", F.col(ts_col).cast("timestamp"))


def windowed_event_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    group_cols: Sequence[str] = ("event_type",),
) -> DataFrame:
    """Tumbling-window event counts + value sums with a 1-day late-data
    bound."""
    s = _with_event_time(stream, ts_col).withWatermark("__event_time", "1 day")
    return (
        s.groupBy(F.window("__event_time", window).alias("win"), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("window_start"),
            F.col("win.end").cast("timestamp_ntz").alias("window_end"),
            *group_cols,
            "n_events",
            "sum_value",
        )
    )


def windowed_conformance(
    stream: DataFrame,
    spec_long: DataFrame,
    ts_col: str = "ts",
    event_col: str = "event_name",
    prop_col: str = "prop_name",
    payload_cols: Sequence[str] = ("props",),
    window: str = "1 hour",
    watermark: str = "1 day",
) -> DataFrame:
    """The flagship conformance metrics per tumbling window — the
    reference's daily batch job recast as a continuous query. Same
    expressions as conformance.verify_events (key presence via exact
    json_object_keys membership, value completeness via single-parse
    map extraction); the broadcast spec join works identically on a
    stream."""
    s = _with_event_time(stream, ts_col).withWatermark("__event_time", watermark)
    joined = s.join(F.broadcast(spec_long), [event_col], "inner")

    payload_cols_c = [F.col(c) for c in payload_cols]
    value = F.coalesce(*[extract_key(c, F.col(prop_col)) for c in payload_cols_c])
    present = key_presence(payload_cols_c, F.col(prop_col))

    return (
        joined.groupBy(
            F.window("__event_time", window).alias("win"), event_col, prop_col
        )
        .agg(
            F.count(F.lit(1)).alias("total_records"),
            F.count(F.when(present, F.lit(1))).alias("keys_not_null_count"),
            F.count(value).alias("value_not_null_count"),
        )
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("window_start"),
            F.col(event_col).alias("event_name"),
            F.col(prop_col).alias("prop_name"),
            "total_records",
            "keys_not_null_count",
            "value_not_null_count",
        )
    )


def windowed_sessions(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 day",
) -> DataFrame:
    """Native stateful sessionization: ``session_window`` merges events
    within ``gap`` into one growing window per key — the streaming
    equivalent of relational.sessionize without unbounded state."""
    s = _with_event_time(stream, ts_col).withWatermark("__event_time", watermark)
    return (
        s.groupBy(F.session_window("__event_time", gap).alias("win"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.col("win.start").cast("timestamp_ntz").alias("session_start"),
            F.col("win.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup(
    stream: DataFrame,
    key_cols: Sequence[str] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact dedup: emit the FIRST event per key, dropping
    re-deliveries that arrive within the watermark horizon — the
    streaming counterpart of ``dedup.dedup_exact`` and the standard
    answer to at-least-once sources (Kafka redelivery, retried
    producers).

    Uses ``dropDuplicatesWithinWatermark``, NOT plain
    ``dropDuplicates``: the plain form keeps every key's state forever
    (unbounded growth on an unbounded stream); the watermarked form
    evicts a key's state once the watermark passes its event time, so
    cluster state is O(keys per watermark window) — bounded by
    throughput, not stream lifetime. Duplicates separated by more than
    the watermark are NOT caught (that's the documented contract; size
    the watermark to the source's redelivery horizon)."""
    s = _with_event_time(stream, ts_col).withWatermark("__event_time", watermark)
    return s.dropDuplicatesWithinWatermark(list(key_cols)).drop("__event_time")


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: Sequence[str],
    how: str = "left",
    broadcast: bool = True,
) -> DataFrame:
    """Stream-static enrichment join — the most common streaming shape
    (attach dimension attributes to each event as it arrives). The
    static side is re-evaluated per micro-batch, so a dimension backed
    by a table/file source picks up updates between batches without
    restarting the query; by default it is broadcast, so the stream
    side never shuffles and no join state accumulates (stateless,
    unlike stream-stream joins). ``how`` must keep the stream side
    intact (``inner``/``left``/``left_semi``/``left_anti`` — Spark
    rejects the right-preserving forms for stream-static).

    ``broadcast=False`` skips the hint for dimensions too large to
    materialize on every executor: the per-batch join degrades to a
    shuffled stream-static join (the stream side shuffles each batch —
    slower, but bounded memory) instead of failing with a broadcast
    OOM the caller could not opt out of."""
    rhs = F.broadcast(dim) if broadcast else dim
    return stream.join(rhs, list(on), how)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "1 day",
    upper: str = "1 hour",
) -> DataFrame:
    """Stream-stream INNER join within an event-time interval: each
    left event matches right events with the same ``key`` whose event
    time falls in ``[left_time, left_time + upper]`` — the
    click-to-purchase / request-to-response correlation shape.

    Both sides carry watermarks and the join condition bounds the two
    event times relative to each other, which is exactly what lets
    Spark EVICT buffered rows: a side's state is dropped once the
    other side's watermark passes the last instant it could still
    match, so state is O(throughput x (watermark + upper)), not
    O(stream lifetime). Without the time-range conjunct the same join
    would buffer both streams forever.

    Right-side columns come back prefixed ``r_`` (a stream-stream join
    cannot disambiguate same-named columns after the fact the way a
    batch self-join can — the rename happens before the join). Inner
    only: matches emit as soon as both rows have arrived, so a bounded
    test run needs no watermark advance past the data; the outer
    variants hold results until the watermark closes the book on a row
    and want a live clock to test against."""
    lhs = left.withColumn("__lt", F.col(left_ts).cast("timestamp")).withWatermark(
        "__lt", watermark
    )
    rhs = right.select([F.col(c).alias(f"r_{c}") for c in right.columns])
    rhs = rhs.withColumn(
        "__rt", F.col(f"r_{right_ts}").cast("timestamp")
    ).withWatermark("__rt", watermark)
    cond = (
        (F.col(key) == F.col(f"r_{key}"))
        & (F.col("__rt") >= F.col("__lt"))
        & (F.col("__rt") <= F.expr(f"__lt + INTERVAL {upper}"))
    )
    return lhs.join(rhs, cond, "inner").drop("__lt", "__rt")


def stateful_running_stats(
    stream: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (SURVEY
    §7.4.5): per-key RUNNING totals that survive across micro-batches —
    the one streaming shape tumbling windows cannot express, because the
    aggregate never closes (no window end, no watermark eviction).

    Each micro-batch emits one updated row per key seen in that batch:
    ``(key, n_events, sum_value)`` where the counts accumulate over the
    whole stream so far. State is a tiny fixed-width tuple per key —
    O(distinct keys) cluster-wide, partitioned by the groupBy key, so
    1000 executors each hold only their key range. Arrow-batched both
    directions (this is the sanctioned Python hook for custom state;
    per-row python UDFs never appear).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{key_col} bigint, n_events bigint, sum_value double"
    state_schema = "n bigint, s double"

    def update(key, pdfs, state):  # pragma: no cover (runs in worker)
        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].fillna(0.0).sum())
        state.update((n, s))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return (
        stream.select(key_col, value_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_stream_foreach_batch(
    stream_df: DataFrame,
    batch_fn,
    checkpoint_dir: str,
) -> int:
    """Drive a (bounded) stream through ``foreachBatch`` to completion,
    in append mode:
    ``batch_fn(batch_df, batch_id)`` runs once per micro-batch with a
    BATCH DataFrame — the escape hatch for sinks Structured Streaming
    lacks (merge/upsert targets, multi-table writes, JDBC). The
    checkpoint records committed batch ids, so a restarted production
    query re-runs at-least-once and ``batch_id`` is what makes the sink
    idempotent. Returns the number of batches executed."""
    seen: list[int] = []

    def _wrapped(batch_df: DataFrame, batch_id: int) -> None:
        seen.append(batch_id)
        batch_fn(batch_df, batch_id)

    q = (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(_wrapped)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return len(seen)


def run_stream_available_now(
    stream_df: DataFrame,
    batch_fn,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> int:
    """Drive a stream with ``Trigger.AvailableNow`` — THE production
    incremental-batch pattern: process everything that has arrived
    since the checkpoint's last commit (in rate-limited micro-batches,
    honoring ``maxFilesPerTrigger``), then STOP. A cron'd job calling
    this gets streaming semantics (exactly-once file tracking, state
    carry-over, late-data watermarks) with batch economics (no
    always-on cluster) — the shape the reference's daily
    path-templated cadence (event_verify.py:21) maps to when the
    "daily job" must neither miss nor double-process files.

    Unlike :func:`run_stream_foreach_batch` (processAllAvailable on a
    live query), the query TERMINATES on its own once the backlog
    drains; ``awaitTermination`` here is a join, not a stop. Returns
    the number of micro-batches executed this invocation (0 when
    nothing new arrived — also exercised in tests)."""
    seen: list[int] = []

    def _wrapped(batch_df: DataFrame, batch_id: int) -> None:
        seen.append(batch_id)
        batch_fn(batch_df, batch_id)

    q = (
        stream_df.writeStream.outputMode(output_mode)
        .foreachBatch(_wrapped)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return len(seen)


def foreach_batch_parquet_sink(
    stream_df: DataFrame, path: str, checkpoint_dir: str
) -> int:
    """Idempotent parquet append via foreachBatch: each micro-batch
    lands under ``batch_id=N/`` (dynamic partition overwrite), so a
    replayed batch overwrites its own partition instead of duplicating
    rows — the standard exactly-once-by-idempotence recipe."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    return run_stream_foreach_batch(stream_df, write_batch, checkpoint_dir)


def run_stream_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a (bounded) streaming query to completion synchronously
    into an in-memory table; returns the result as a batch DataFrame.
    Test/smoke harness only — production sinks are kafka/parquet/
    foreachBatch."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark = stream_df.sparkSession
    return spark.table(name)
