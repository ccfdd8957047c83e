"""Sources and sinks (SURVEY §2.1, S1-S7).

The reference templates partition values into the read path
(event_verify.py:18-21) and writes a single CSV via ``coalesce(1)``
(event_verify.py:230-231). Here:

- reads go through the table root and filter on partition columns, so
  Catalyst's partition pruning does the work and the same code serves
  one day or a thousand days;
- schemas for CSV are explicit (the reference's ``inferSchema``,
  event_verify.py:29, makes column typing run-dependent — SURVEY §4.2.6);
- writers default to partitioned Parquet; single-file CSV is an opt-in
  for small final results only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark cannot map
    natively (PARQUET_TYPE_ILLEGAL). Detected from the footer via Arrow."""
    try:
        import pyarrow.parquet as pq
        from pyarrow import types as pat
    except ImportError:  # pragma: no cover
        return []
    try:
        schema = pq.read_schema(path)
    except Exception:  # directory / remote path: caller handles explicitly
        return []
    return [
        f.name
        for f in schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table (TESTDATA.md layout): ``{sf_dir}/{name}.parquet``.

    The driver-generated files store timestamps as TIMESTAMP(NANOS);
    Spark has no nanosecond timestamp type, so they are read as
    nanos-since-epoch longs (``spark.sql.legacy.parquet.nanosAsLong``)
    and truncated to microsecond timestamps — the same truncation DuckDB
    applies when casting TIMESTAMP_NS to TIMESTAMP, keeping the oracle
    comparison exact. Set at runtime because the session is caller-owned.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _nanos_timestamp_cols(path)
    # All stored timestamps are naive (isAdjustedToUTC=false). Pin UTC so
    # every LTZ<->NTZ conversion below is wall-clock identity, whatever
    # the caller's session TZ; queries then see uniform TIMESTAMP_NTZ —
    # the exact values DuckDB reads.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        # integer `div`, not `/`: float division loses precision on
        # ~1e18 nanosecond epoch values (double mantissa is 53 bits)
        df = df.withColumn(
            c, F.expr(f"timestamp_micros(`{c}` div 1000)").cast("timestamp_ntz")
        )
    for field in df.schema.fields:
        if field.dataType.typeName() == "timestamp":  # LTZ -> NTZ (UTC pinned)
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp_ntz"))
    return df


def table_row_hint(sf_dir: str, name: str) -> int:
    """Row-count HINT for one table, from parquet footer metadata only —
    no Spark job, no data scan (pyarrow ``count_rows`` on a parquet
    dataset sums footer ``num_rows``). This is the "manifest row count"
    that sizing rules (``similarity.auto_num_planes``,
    ``semdedup.auto_n_clusters``, ``cosine_pairs_blocked``'s
    ``approx_rows``) take as input: at cluster scale the same number
    comes from catalog statistics or the ingest manifest; deriving it
    from a ``df.count()`` driver job is exactly what those contracts
    forbid. Returns 0 when the footprint is unreadable (caller rules
    all clamp their low end)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        import pyarrow.dataset as pds

        return pds.dataset(path, format="parquet").count_rows()
    except Exception:
        return 0


def read_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    names = names or TPCH_TABLES
    return {n: read_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register each table as a temp view so the SQL surface mirrors the
    DuckDB oracle's pre-registered views."""
    for name, df in read_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)


def read_partitioned(
    spark: SparkSession,
    root: str,
    partition_filters: dict[str, str] | None = None,
) -> DataFrame:
    """Partition-pruned Parquet read.

    Replaces the reference's path templating
    (``.../process_date=X/event_date=Y``, event_verify.py:21): read the
    table root, apply equality filters on the Hive partition columns, and
    let Catalyst prune directories — `.explain` shows ``PartitionFilters``.
    """
    df = spark.read.parquet(root)
    for col, value in (partition_filters or {}).items():
        df = df.where(F.col(col) == F.lit(value))
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
) -> DataFrame:
    """CSV read, header row skipped, with a mandatory explicit schema
    (no inference — SURVEY §4.2.6)."""
    return spark.read.csv(path, header=True, schema=schema)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    bad_record_col: str = "_corrupt_record",
) -> DataFrame:
    """JSON-lines read — the interchange format most raw LLM training
    corpora arrive in (one document object per line). The schema is
    mandatory, same discipline as read_csv: inference costs a full
    extra pass over 100 TB AND is nondeterministic under sampling.
    PERMISSIVE mode routes malformed lines into ``bad_record_col``
    instead of failing the job — on a web-scale corpus some lines ARE
    broken, and a dead-letter column the pipeline can count/quarantine
    beats a 6-hour job dying at 99%. Callers that want hard failure
    pass their schema without the corrupt-record column.

    Spark caveat: a query whose referenced columns are ONLY the
    corrupt-record column is disallowed on a raw JSON scan
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — include a
    data column (or cache the frame) when counting/quarantining the
    dead letters."""
    from pyspark.sql.types import StringType, StructField

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if bad_record_col and bad_record_col not in schema.fieldNames():
        schema = StructType(
            list(schema.fields) + [StructField(bad_record_col, StringType())]
        )
    reader = spark.read.schema(schema).option("mode", "PERMISSIVE")
    if bad_record_col:
        # without this, Spark only routes malformed lines into the
        # session-conf default column name — a custom bad_record_col
        # would silently read as an all-NULL data row
        reader = reader.option("columnNameOfCorruptRecord", bad_record_col)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSON-lines sink — the interchange export (hand a corpus slice to
    a tokenizer trainer or another team's loader). One object per line,
    written in parallel (a directory of part files, like every
    distributed sink; consumers that need one file compact with
    ``compact_partitions`` or read the directory). NULL-valued fields
    are omitted per line, the JSONL convention ``read_jsonl`` round-trips
    as NULL columns."""
    _write(df, path, "json", ())


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC read — the columnar interchange format some warehouse
    exports arrive in (Hive-era lakes). Self-describing like parquet,
    so no schema argument; predicate pushdown and column pruning work
    the same way through the ORC datasource."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
) -> None:
    """ORC sink, mirroring write_parquet (partitioned directory
    layout, same overwrite semantics)."""
    _write(df, path, "orc", partition_by)


def _write(
    df: DataFrame,
    path: str,
    fmt: str,
    partition_by: tuple[str, ...],
) -> None:
    # the one place writer-level behavior (overwrite, partitioning,
    # future default options) lives — the format sinks only pick the
    # codec
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
) -> None:
    _write(df, path, "parquet", partition_by)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_cols: tuple[str, ...],
    num_buckets: int,
    sort_cols: tuple[str, ...] = (),
) -> str:
    """Bucketed parquet table (external, at ``path``): rows are
    hash-partitioned into ``num_buckets`` files by ``bucket_cols`` AT
    WRITE TIME, and the layout is recorded in the catalog. A join or
    aggregation keyed on the bucket columns then reads each bucket
    co-located — no Exchange in the plan at all, which at 100 TB removes
    the single most expensive stage of a fact-fact join. ``sort_cols``
    additionally sorts within buckets so sort-merge joins skip the sort.

    This is the persisted-layout counterpart of ``repartition``: pay the
    shuffle once at ingest, reuse it across every downstream query.
    """
    writer = df.write.mode("overwrite").option("path", path).bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)
    return table_name


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    seed: str,
    num_shards: int,
    order_col: str = "shuffle_key",
) -> list[dict]:
    """The corpus -> training-job handoff: deterministically shuffle
    (``packing.deterministic_shuffle`` — seeded md5 order, reproducible
    forever from the seed) and write exactly ``num_shards`` parquet
    shard files, one per range partition, each internally sorted by the
    shuffle key. A data-loader fleet then assigns shard files to
    workers with no further coordination; a different ``seed`` yields
    an independent epoch order over the same corpus with no data
    rewrite needed until the next materialization.

    Returns (and writes as ``_MANIFEST.json`` next to the shards) the
    manifest a loader consumes: one entry per shard file with its row
    count and byte size, read from parquet FOOTERS — no Spark job, no
    data scan. Shard membership is a pure function of (data, seed,
    num_shards): re-running the write reproduces identical shard
    contents, which the tests assert."""
    import json

    from .packing import deterministic_shuffle

    shuffled = deterministic_shuffle(
        df, id_col, seed, num_partitions=num_shards, order_col=order_col
    )
    shuffled.write.mode("overwrite").parquet(path)
    try:
        import pyarrow.parquet as pq

        entries = []
        for name in sorted(os.listdir(path)):
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(path, name)
            meta = pq.ParquetFile(full).metadata
            entries.append(
                {
                    "file": name,
                    "n_rows": meta.num_rows,
                    "n_bytes": os.path.getsize(full),
                }
            )
    except ImportError:  # pragma: no cover
        entries = [
            {"file": n, "n_rows": None, "n_bytes": os.path.getsize(os.path.join(path, n))}
            for n in sorted(os.listdir(path))
            if n.endswith(".parquet")
        ]
    manifest = {
        "seed": seed,
        "num_shards": num_shards,
        "order_col": order_col,
        "total_rows": sum(e["n_rows"] or 0 for e in entries),
        "shards": entries,
    }
    with open(os.path.join(path, "_MANIFEST.json"), "w") as fh:
        json.dump(manifest, fh, indent=2, sort_keys=True)
    return entries


def write_single_csv(df: DataFrame, path: str) -> None:
    """Single-file CSV sink for small final results (reference S7,
    event_verify.py:230-231), overwriting ``path``. Only safe when the
    result fits one task."""
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def overwrite_partitions(
    df: DataFrame, path: str, partition_by: tuple[str, ...]
) -> None:
    """Idempotent partition-level overwrite — the backfill/late-data
    primitive a daily 100 TB pipeline runs: recompute one day (or any
    subset of partitions) and replace ONLY the partitions present in
    ``df``, leaving every other partition of the table untouched. Plain
    ``mode("overwrite")`` would truncate the whole table root; STATIC
    partitionOverwriteMode would too. Re-running the same compute is a
    no-op state-wise (same partitions, same content) — exactly the
    retry/replay semantics an orchestrator needs.

    The mode is set on the WRITER (per-write option), not the session,
    so concurrent writers with different semantics don't race on a
    session conf.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def compact_partitions(
    spark: SparkSession,
    src_root: str,
    dest_root: str,
    partition_by: tuple[str, ...],
) -> None:
    """Small-file compaction: rewrite a partitioned table so each
    partition holds few, large files instead of the thousands of
    small ones that incremental appends accumulate (every downstream
    scan pays per-file open/footer costs; at 100 TB small files are
    routinely the dominant scan overhead).

    One shuffle keyed on the partition columns co-locates each
    partition's rows into one task (AQE's optimizeSkewsInRebalance
    re-splits partitions too big for one task), and
    ``maxRecordsPerFile`` caps files at 1M rows on the way out.

    Writes to ``dest_root`` — never in place: a failed in-place
    compaction loses data, so production compaction always writes new
    files and atomically swaps the table pointer (or directory) after
    validation. The caller owns the swap.
    """
    df = spark.read.parquet(src_root)
    (
        df.repartition(*[F.col(c) for c in partition_by])
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 1_000_000)
        .partitionBy(*partition_by)
        .parquet(dest_root)
    )


def zorder_key(
    norm_cols: "list[Column]",
    bits: int = 16,
) -> Column:
    """Interleave the low ``bits`` bits of pre-normalized integer
    columns into one Morton (Z-order) key. ``norm_cols`` must already
    be integers in ``[0, 2**bits)`` — see ``zorder_write`` for the
    min/max normalization step. Pure bit arithmetic, whole-stage
    codegen, no shuffle.
    """
    from pyspark.sql import functions as F

    k = len(norm_cols)
    if k == 0:
        raise ValueError("zorder_key: need at least one column")
    if bits * k > 63:
        raise ValueError("zorder_key: bits * len(cols) must fit in a long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(norm_cols):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * k + j))
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    zorder_cols: "list[str]",
    num_files: int = 8,
) -> None:
    """Multi-dimensional data clustering on write — the open-source
    shape of Delta Lake's ``OPTIMIZE ZORDER BY`` / Databricks
    liquid clustering, built from public primitives: normalize each
    clustering column to 16-bit integers by global min/max,
    interleave into a Morton key, ``repartitionByRange`` on that key
    (one range shuffle), sort within partitions, write parquet.

    Why it matters at 100 TB: a single-column sort gives tight
    parquet min/max footer stats — and therefore row-group/file
    skipping — on ONE column only; the space-filling curve keeps
    EVERY clustering column's per-file range narrow, so predicate
    pushdown skips files for queries on any of them. The min/max
    normalization is one tiny aggregate (2*k numbers to the driver —
    bounded, standard); everything else is a map plus the single
    range shuffle any clustered write needs.

    Rows with NULL in a clustering column sort first (key -1).
    """
    from pyspark.sql import functions as F

    stats = df.agg(
        *[F.min(c).alias(f"__lo_{i}") for i, c in enumerate(zorder_cols)],
        *[F.max(c).alias(f"__hi_{i}") for i, c in enumerate(zorder_cols)],
    ).collect()[0]
    norm = []
    top = (1 << 16) - 1
    for i, c in enumerate(zorder_cols):
        lo, hi = stats[f"__lo_{i}"], stats[f"__hi_{i}"]
        col = F.col(c).cast("double")
        if lo is None or hi is None or hi == lo:
            norm.append(F.lit(0).cast("long"))
        else:
            span = float(hi) - float(lo)
            scaled = F.floor((col - F.lit(float(lo))) / F.lit(span) * top)
            norm.append(
                F.least(F.greatest(scaled, F.lit(0)), F.lit(top)).cast("long")
            )
    key = F.coalesce(zorder_key(norm), F.lit(-1))
    (
        df.withColumn("__z", key)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_layout_manifest(path: str, columns: "list[str]") -> list[dict]:
    """Write ``_LAYOUT_MANIFEST.json`` next to a parquet directory:
    per-file min/max for the given columns, read from parquet footers
    (metadata only — no data pages). The driver-side cost is one
    footer per file, which is exactly the work any engine's planning
    phase already does; materializing it once lets every later reader
    prune files WITHOUT opening footers (at 100 TB the footer pass
    itself is minutes — manifests are why table formats like Delta
    and Iceberg keep file stats in the log rather than the files).
    """
    import glob as _glob
    import json as _json

    import pyarrow.parquet as _pq

    entries: list[dict] = []
    for f in sorted(_glob.glob(os.path.join(path, "*.parquet"))):
        md = _pq.ParquetFile(f).metadata
        stats: dict[str, list] = {c: [None, None] for c in columns}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                name = col.path_in_schema
                if name in stats and col.statistics is not None:
                    lo, hi = stats[name]
                    cmin, cmax = col.statistics.min, col.statistics.max
                    stats[name][0] = cmin if lo is None else min(lo, cmin)
                    stats[name][1] = cmax if hi is None else max(hi, cmax)
        entries.append(
            {"file": os.path.basename(f), "rows": md.num_rows, "stats": stats}
        )
    with open(os.path.join(path, "_LAYOUT_MANIFEST.json"), "w") as fh:
        _json.dump({"columns": columns, "files": entries}, fh, indent=1)
    return entries


def read_manifest_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
) -> "tuple[DataFrame, int, int]":
    """Open ONLY the files whose manifest ``[min, max]`` range for
    ``col`` intersects ``[lo, hi]`` — file-level data skipping driven
    by the layout manifest instead of a full-directory footer pass.
    After a ``zorder_write`` on ``col`` (among others), a narrow
    predicate touches a small fraction of files; on a random layout it
    touches all of them (the test asserts both). Returns ``(df,
    files_read, files_total)``; the caller still applies the exact
    row-level filter — manifest pruning is a superset guarantee, the
    same contract as parquet row-group skipping.

    Files with no recorded stats for ``col`` (all-NULL, missing
    column) are conservatively kept.
    """
    import json as _json

    with open(os.path.join(path, "_LAYOUT_MANIFEST.json")) as fh:
        manifest = _json.load(fh)
    keep = []
    for entry in manifest["files"]:
        st = entry["stats"].get(col)
        if st is None or st[0] is None or st[1] is None:
            keep.append(entry["file"])
        elif not (st[1] < lo or st[0] > hi):
            keep.append(entry["file"])
    total = len(manifest["files"])
    if not keep:
        # empty selection: preserve schema by reading zero rows
        return (
            spark.read.parquet(path).limit(0),
            0,
            total,
        )
    paths = [os.path.join(path, f) for f in keep]
    return spark.read.parquet(*paths), len(keep), total


def write_bloom_manifest(
    spark: SparkSession,
    path: str,
    col: str,
    num_bits: int = 1 << 16,
) -> dict:
    """Write ``_BLOOM_MANIFEST.json`` next to a parquet directory: a
    per-FILE Bloom bitmap of ``col``'s values — the data-skipping
    complement of :func:`write_layout_manifest`. Min/max stats prune
    RANGE predicates but are useless for point lookups on a
    high-cardinality column that isn't the sort key (every file's
    [min, max] spans the whole domain); a per-file Bloom answers "can
    this file contain key K?" in the planner, which is exactly why
    Delta offers Bloom filter indexes alongside its min/max stats.

    Build is DISTRIBUTED, not a driver scan: ``_metadata.file_path``
    tags each row with its source file, each value sets 3
    md5-derived bit positions (the repo hash convention — chosen here
    so the READER can recompute probe positions in plain Python
    without a Spark job), and bits pack into 64-bit words via one
    (file, word) ``bit_or`` aggregate. The driver holds only the
    packed words (<= num_bits/64 longs per file).

    Values hash via their STRING form (exact for int/string keys —
    document keys, order ids; float keys would need a stable textual
    form and are not supported).
    """
    import json as _json

    seeds = list(range(3))
    src = spark.read.parquet(path).select(
        F.col(col).cast("string").alias("__k"),
        F.col("_metadata.file_path").alias("__f"),
    ).where(F.col("__k").isNotNull())
    pos = [
        F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{s}|"), F.col("__k"))), 1, 8),
                16,
                10,
            ).cast("long"),
            F.lit(num_bits),
        )
        for s in seeds
    ]
    words = (
        src.select("__f", F.explode(F.array(*pos)).alias("__pos"))
        .select(
            "__f",
            (F.col("__pos") / 64).cast("long").alias("__w"),
            F.expr("shiftleft(1L, cast(__pos % 64 AS int))").alias("__b"),
        )
        .groupBy("__f", "__w")
        .agg(F.expr("bit_or(__b)").alias("__bits"))
        .groupBy("__f")
        .agg(
            F.array_sort(F.collect_list(F.struct("__w", "__bits"))).alias("__words")
        )
        .collect()
    )
    files = {
        os.path.basename(r["__f"]): {
            str(w["__w"]): w["__bits"] for w in r["__words"]
        }
        for r in words
    }
    manifest = {
        "column": col,
        "num_bits": num_bits,
        "num_hashes": 3,
        "files": files,
    }
    with open(os.path.join(path, "_BLOOM_MANIFEST.json"), "w") as fh:
        _json.dump(manifest, fh, indent=1)
    return manifest


def read_bloom_pruned(
    spark: SparkSession,
    path: str,
    value,
) -> "tuple[DataFrame, int, int]":
    """Open ONLY the files whose ``_BLOOM_MANIFEST.json`` bitmap can
    contain ``value`` (all ``num_hashes`` bits set). A Bloom miss is
    exact — a skipped file provably does not contain the key — so
    pruning is a superset guarantee like every skipping tier here; the
    caller still applies the exact row filter (false positives only
    cost an extra file open). Probe positions are recomputed in plain
    Python (hashlib md5 — bit-identical to the build's Spark md5), so
    planning costs zero Spark jobs and zero footer reads.

    Returns ``(df, files_read, files_total)``; ``df`` is empty (with
    the directory's schema) when every file is pruned. Files missing
    from the manifest (written after it) are conservatively kept.
    """
    import glob as _glob
    import hashlib as _hashlib
    import json as _json

    with open(os.path.join(path, "_BLOOM_MANIFEST.json")) as fh:
        m = _json.load(fh)
    key = str(value)
    positions = [
        int(_hashlib.md5(f"{s}|{key}".encode()).hexdigest()[:8], 16) % m["num_bits"]
        for s in range(m["num_hashes"])
    ]
    all_files = sorted(
        os.path.basename(f) for f in _glob.glob(os.path.join(path, "*.parquet"))
    )
    keep = []
    for f in all_files:
        words = m["files"].get(f)
        if words is None:
            keep.append(f)  # not indexed: conservative
            continue
        if all(
            int(words.get(str(p // 64), 0)) & (1 << (p % 64)) for p in positions
        ):
            keep.append(f)
    if not keep:
        empty = spark.read.parquet(path).where(F.lit(False))
        return empty, 0, len(all_files)
    df = spark.read.parquet(*[os.path.join(path, f) for f in keep])
    return df, len(keep), len(all_files)
