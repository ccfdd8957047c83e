"""SparkSession factory with scale-appropriate defaults.

The reference creates a bare session (event_verify.py:13-15) and relies on
cluster-level config. Here every knob that matters for a 1000-executor /
100 TB deployment is set explicitly, with local-mode overrides for tests:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  broadcast demotion) so plans self-correct at scale.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster you'd size it to ~2-3x total executor cores (or leave AQE's
  ``coalescePartitions`` to shrink an intentionally-high value).
- UTC session timezone so timestamp semantics match DuckDB / Parquet.
- Arrow enabled for any pandas interchange (vectorized batches, not rows).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sparkgraft",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with sparkgraft defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for this environment; on a real cluster pass ``None`` via
    ``spark-submit`` and the builder inherits the cluster master.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r13 optimization round (guide §2.2/§2.4): let AQE coalesce the
        # output partitioning of CACHED plans too (off by default only
        # to keep cached partitioning stable for consumers that rely on
        # it — nothing here does). Without it a persisted intermediate
        # materializes at the static shuffle-partition count (32 here,
        # 1000s on a cluster) no matter how few bytes it holds, and
        # every downstream consumer stage — the BM25 tail alone hangs
        # ~10 subquery reads off its persisted tf state — pays a
        # 32-task scheduling floor to scan kilobytes. With the flag on,
        # AQE sizes cached-plan partitions by BYTES (advisory size), so
        # a small state caches as 1 partition at sf0.1 and as hundreds
        # only when it actually holds that much data — the
        # scale-adaptive behavior the guide's §2 asks for.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        # local mode = driver-only: this is the whole memory budget.
        # 32 threads on an 8g heap GC-thrash on shuffle-heavy queries.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # whole-stage codegen emits one compiled class per query shape;
        # a multi-query session (bench runs 25+) fills the default
        # 240 MB JIT code cache, after which HotSpot stops compiling
        # and generated code runs interpreted (~2x slower, and it looks
        # like random per-query regressions). Also pin a conservative
        # region-based GC pause target: with 48g x 32 threads the
        # default throughput collector's full-GC pauses show up as
        # multi-second noise spikes in per-query timings.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m -XX:+UseG1GC "
            "-XX:MaxGCPauseMillis=200",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
