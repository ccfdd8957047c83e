from __future__ import annotations

from pyspark.sql import functions as F

from sparkgraft import relational as R


def test_top_k_per_group_deterministic(spark):
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 10), ("a", 3, 5), ("b", 4, 7)],
        "grp string, id int, score int",
    )
    out = R.top_k_per_group(df, ["grp"], [F.desc("score"), F.desc("id")], k=1)
    rows = {r.grp: r.id for r in out.collect()}
    # tie on score=10 broken by id desc -> deterministic single winner
    assert rows == {"a": 2, "b": 4}


def test_latest_per_group_keeps_ties(spark):
    """Ties on the max are all kept; a NULL version is never the max;
    NULL group keys form one group, as rank() over a partition does."""
    df = spark.createDataFrame(
        [
            ("a", "2.0", "x"),
            ("a", "2.0", "y"),
            ("a", "1.0", "z"),
            ("a", None, "n"),
            ("b", "3.0", "w"),
            (None, "4.0", "g"),
        ],
        "grp string, version string, payload string",
    )
    out = R.latest_per_group(df, ["grp"], "version")
    got = {(r.grp, r.version, r.payload) for r in out.collect()}
    assert got == {
        ("a", "2.0", "x"),
        ("a", "2.0", "y"),
        ("b", "3.0", "w"),
        (None, "4.0", "g"),
    }


def test_melt_defaults_to_non_id_columns(spark):
    df = spark.createDataFrame(
        [("e1", "p_a", 1), ("e2", None, 2)],
        "event string, c1 string, c2 int",
    )
    out = R.melt(df, id_cols=["event"]).collect()
    got = {(r.event, r.prop_name, r.value) for r in out}
    assert got == {
        ("e1", "c1", "p_a"),
        ("e1", "c2", "1"),
        ("e2", "c1", None),
        ("e2", "c2", "2"),
    }


def test_counts_with_total_in_plan(spark):
    df = spark.createDataFrame(
        [("e1", "k1"), ("e1", "k1"), ("e1", "k2"), ("e2", "k1")],
        "event string, key string",
    )
    out = R.counts_with_total(df, ["event", "key"], total_over=["event"])
    got = {(r.event, r.key): (r["count"], r.total_records) for r in out.collect()}
    assert got == {
        ("e1", "k1"): (2, 3),
        ("e1", "k2"): (1, 3),
        ("e2", "k1"): (1, 1),
    }


def test_semi_anti_helpers(spark):
    expected = spark.createDataFrame([("e1",), ("e2",), ("e3",)], "event string")
    observed = spark.createDataFrame([("e1",), ("e3",), ("e4",)], "event string")
    missing = {r.event for r in R.missing_in(expected, observed, ["event"]).collect()}
    present = {r.event for r in R.present_in(expected, observed, ["event"]).collect()}
    assert missing == {"e2"}
    assert present == {"e1", "e3"}


def test_approx_distinct_close_to_exact(spark, sf_dir):
    from sparkgraft.io import read_table
    from pyspark.sql import functions as F

    ev = read_table(spark, sf_dir, "events")
    r = ev.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
    ).collect()[0]
    assert abs(r.approx - r.exact) <= max(3, 0.1 * r.exact)


def test_union_all_by_name(spark):
    a = spark.createDataFrame([(1, "x")], "id int, v string")
    b = spark.createDataFrame([("y", 2)], "v string, id int")
    out = R.union_all([a, b]).orderBy("id").collect()
    assert [(r.id, r.v) for r in out] == [(1, "x"), (2, "y")]


# ---- range_join (bucket-decomposed interval join) -------------------------


def _naive_range_join(spark, points, intervals, on=()):
    from pyspark.sql import functions as F

    cond = (F.col("t") >= F.col("s")) & (F.col("t") < F.col("e"))
    for k in on:
        cond = cond & (points[k] == intervals[k])
    joined = points.alias("p").join(
        intervals.alias("i"), cond, "inner"
    )
    cols = ["p.pid", "i.iid"]
    return {tuple(r) for r in joined.select(*cols).collect()}


def test_range_join_matches_naive_at_any_bucket_width(spark):
    """The bucket decomposition is an implementation detail: for every
    bucket width the result set must equal the naive non-equi join."""
    import random

    from pyspark.sql import functions as F

    from sparkgraft.relational import range_join

    rng = random.Random(11)
    points = spark.createDataFrame(
        [(i, rng.randint(0, 200), rng.choice("ab")) for i in range(60)],
        "pid int, t int, k string",
    )
    intervals = spark.createDataFrame(
        [
            (j, rng.randint(0, 200), rng.randint(0, 60), rng.choice("ab"))
            for j in range(40)
        ],
        "iid int, s int, dur int, k string",
    ).select("iid", "s", (F.col("s") + F.col("dur")).alias("e"), "k")

    expect = _naive_range_join(
        spark,
        points.select("pid", "t", "k"),
        intervals.select("iid", "s", "e", "k"),
        on=("k",),
    )
    for width in (1, 7, 64, 1000):
        got = {
            tuple(r)
            for r in range_join(
                points, intervals, "t", "s", "e", width, on=("k",)
            )
            .select("pid", "iid")
            .collect()
        }
        assert got == expect, f"width={width}"


def test_range_join_half_open_boundaries(spark):
    from sparkgraft.relational import range_join

    points = spark.createDataFrame(
        [(0, 10), (1, 19), (2, 20), (3, 9)], "pid int, t int"
    )
    intervals = spark.createDataFrame([(0, 10, 20)], "iid int, s int, e int")
    got = sorted(
        r.pid
        for r in range_join(points, intervals, "t", "s", "e", 8).collect()
    )
    assert got == [0, 1]  # t == start matches, t == end does not


def test_range_join_drops_null_and_degenerate(spark):
    from sparkgraft.relational import range_join

    points = spark.createDataFrame([(0, 5), (1, None)], "pid int, t int")
    intervals = spark.createDataFrame(
        [(0, 0, 10), (1, None, 10), (2, 0, None), (3, 7, 7), (4, 9, 2)],
        "iid int, s int, e int",
    )
    got = {
        (r.pid, r.iid)
        for r in range_join(points, intervals, "t", "s", "e", 4).collect()
    }
    assert got == {(0, 0)}


def test_range_join_validates_inputs(spark):
    import pytest as _pytest

    from sparkgraft.relational import range_join

    points = spark.createDataFrame([(0, 5)], "pid int, t int")
    intervals = spark.createDataFrame([(0, 0, 10)], "iid int, s int, e int")
    with _pytest.raises(ValueError, match="bucket_width"):
        range_join(points, intervals, "t", "s", "e", 0)
    clash = intervals.withColumnRenamed("iid", "pid")
    with _pytest.raises(ValueError, match="collide"):
        range_join(points, clash, "t", "s", "e", 4)


def test_scd2_join_versions_gaps_and_ties(spark):
    """SCD2 temporal join: the valid-at version attaches per fact;
    facts before history or inside a GAP get NULLs (an expired version
    must not leak forward); open-ended versions match indefinitely and
    beat a closed twin at an equal valid_from."""
    from sparkgraft.relational import scd2_join

    ts = "timestamp_ntz"
    dim = spark.createDataFrame(
        [
            # key 1: v1 [10, 20), GAP [20, 30), v2 [30, NULL)
            (1, "v1", "2020-01-10", "2020-01-20"),
            (1, "v2", "2020-01-30", None),
            # key 2: equal valid_from — open-ended must win
            (2, "closed", "2020-01-01", "2020-01-05"),
            (2, "open", "2020-01-01", None),
        ],
        "key long, attr string, valid_from string, valid_to string",
    ).selectExpr(
        "key", "attr",
        f"CAST(valid_from AS {ts}) AS valid_from",
        f"CAST(valid_to AS {ts}) AS valid_to",
    )
    facts = spark.createDataFrame(
        [
            (100, 1, "2020-01-05"),  # before history -> NULL
            (101, 1, "2020-01-10"),  # inclusive start -> v1
            (102, 1, "2020-01-19"),  # inside v1
            (103, 1, "2020-01-20"),  # exclusive end -> gap -> NULL
            (104, 1, "2020-01-25"),  # gap -> NULL
            (105, 1, "2020-01-30"),  # v2 starts
            (106, 1, "2030-12-31"),  # open-ended still valid
            (107, 2, "2020-01-02"),  # tie: open wins
            (108, 3, "2020-01-02"),  # unknown key -> NULL
        ],
        "fact_id long, key long, t string",
    ).selectExpr("fact_id", "key", f"CAST(t AS {ts}) AS t")
    out = {
        r.fact_id: r.attr
        for r in scd2_join(facts, dim, on="key", fact_time="t").collect()
    }
    assert out == {
        100: None, 101: "v1", 102: "v1", 103: None, 104: None,
        105: "v2", 106: "v2", 107: "open", 108: None,
    }


def test_apply_cdc_latest_change_wins(spark):
    """CDC merge: per key only the highest-seq change applies — update
    after delete recreates, delete last removes, unseen keys insert,
    untouched snapshot rows pass through."""
    from sparkgraft.relational import apply_cdc

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    changes = spark.createDataFrame(
        [
            (1, "DEAD", "D", 1), (1, "a2", "U", 2),   # delete then update -> survives as a2
            (2, "b2", "U", 1), (2, "DEAD", "D", 2),   # update then delete -> gone
            (4, "d", "I", 1),                          # new key insert
        ],
        "k long, v string, op string, seq long",
    )
    out = {r.k: r.v for r in apply_cdc(snap, changes, "k").collect()}
    assert out == {1: "a2", 3: "c", 4: "d"}


def test_fuzzy_join_token_blocked_contract(spark):
    """Fuzzy join: per-token typos match within the distance bound;
    precision is exact (no pair beyond max_dist); the documented recall
    bound — a single-token string whose only token carries the typo —
    is missed by design."""
    from sparkgraft.relational import fuzzy_join_token_blocked

    clean = spark.createDataFrame(
        [(1, "acme widgets inc"), (2, "globex corp"), (3, "zzyzx")],
        "id long, name string",
    )
    dirty = spark.createDataFrame(
        [(10, "acme wdgets inc"),   # one-char typo inside a token
         (11, "globex corpse"),     # 2 appended chars
         (12, "zzyzz"),             # single-token typo: blocked token differs
         (13, "totally different")],
        "did long, dname string",
    )
    out = fuzzy_join_token_blocked(clean, dirty, "name", "dname", max_dist=2)
    pairs = {(r.id, r.did, r.edit_dist) for r in out.collect()}
    assert (1, 10, 1) in pairs
    assert (2, 11, 2) in pairs
    assert all(d <= 2 for _, _, d in pairs)          # exact precision
    assert not any(did == 12 for _, did, _ in pairs)  # documented miss
    assert not any(did == 13 for _, did, _ in pairs)


def test_resample_fill_gaps_and_latest_in_period(spark):
    """Resample: complete per-key grid, forward fill across gaps, the
    latest observation wins inside one period, observed flags filled
    rows."""
    from sparkgraft.relational import resample_fill

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 09:00:00", 10.0),
            (1, "2024-01-01 18:00:00", 11.0),  # same day, later -> wins
            (1, "2024-01-04 12:00:00", 40.0),  # 2-day gap before this
            (2, "2024-02-01 00:00:00", 5.0),
        ],
        "k long, ts string, v double",
    ).select("k", F.col("ts").cast("timestamp_ntz").alias("ts"), "v")
    out = resample_fill(df, "k", "ts", "v", step="1 day", period="day")
    rows = {
        (r.k, str(r.period_ts)[:10]): (r.v, r.observed)
        for r in out.collect()
    }
    assert rows[(1, "2024-01-01")] == (11.0, True)
    assert rows[(1, "2024-01-02")] == (11.0, False)
    assert rows[(1, "2024-01-03")] == (11.0, False)
    assert rows[(1, "2024-01-04")] == (40.0, True)
    assert rows[(2, "2024-02-01")] == (5.0, True)
    assert len(rows) == 5


def test_resample_interpolate_linear_gaps(spark):
    """Interpolation: gaps take the straight-line value between the
    surrounding observations; observed rows keep their exact value;
    latest-in-period tiebreak matches resample_fill."""
    from sparkgraft.relational import resample_interpolate

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 09:00:00", 10.0),
            (1, "2024-01-01 18:00:00", 13.0),  # same day, later -> wins
            (1, "2024-01-04 12:00:00", 40.0),  # 2-day gap before this
            (1, "2024-01-06 00:00:00", 50.0),  # 1-day gap
            (2, "2024-02-01 00:00:00", 5.0),
        ],
        "k long, ts string, v double",
    ).select("k", F.col("ts").cast("timestamp_ntz").alias("ts"), "v")
    out = resample_interpolate(df, "k", "ts", "v", step="1 day", period="day")
    rows = {
        (r.k, str(r.period_ts)[:10]): (r.v, r.observed)
        for r in out.collect()
    }
    assert rows[(1, "2024-01-01")] == (13.0, True)
    assert rows[(1, "2024-01-02")] == (22.0, False)  # 13 + (40-13)/3
    assert rows[(1, "2024-01-03")] == (31.0, False)
    assert rows[(1, "2024-01-04")] == (40.0, True)
    assert rows[(1, "2024-01-05")] == (45.0, False)  # midpoint of 40..50
    assert rows[(1, "2024-01-06")] == (50.0, True)
    assert rows[(2, "2024-02-01")] == (5.0, True)
    assert len(rows) == 7


def test_snapshot_diff_classifies_and_inverts_cdc(spark):
    """snapshot_diff classifies insert/update/delete; applying the
    derived change feed via apply_cdc reproduces the new snapshot."""
    from sparkgraft.relational import apply_cdc, snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "c", 30), (4, "d", 40)],
        "k long, name string, v int",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", None), (4, None, 40), (5, "e", 50)],
        "k long, name string, v int",
    )
    diff = {
        r.k: r.change_type for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert diff == {2: "update", 3: "delete", 4: "update", 5: "insert"}

    full = snapshot_diff(old, new, ["k"], include_unchanged=True)
    assert {r.k: r.change_type for r in full.collect()}[1] == "unchanged"

    # NULL cannot collide with ANY literal string (per-column md5
    # tokens are hex; the null marker is not)
    o2 = spark.createDataFrame([(1, None)], "k long, s string")
    n2 = spark.createDataFrame([(1, "N")], "k long, s string")
    assert [
        r.change_type for r in snapshot_diff(o2, n2, ["k"]).collect()
    ] == ["update"]

    # inverse property: old + derived changes == new
    changes = (
        snapshot_diff(old, new, ["k"])
        .withColumnRenamed("change_type", "op")
        .withColumn(
            "op",
            F.when(F.col("op") == "delete", "D")
            .when(F.col("op") == "insert", "I")
            .otherwise("U"),
        )
        .join(new, ["k"], "left")
        .withColumn("seq", F.lit(1))
    )
    rebuilt = apply_cdc(old, changes, "k")
    assert sorted(map(tuple, rebuilt.collect())) == sorted(
        map(tuple, new.collect())
    )


def test_time_weighted_avg_locf_known_values(spark):
    """Hand-computed LOCF time-weighted averages, including an
    interval spanning a period boundary."""
    from sparkgraft.relational import time_weighted_avg

    df = spark.createDataFrame(
        [
            # day 1: value 10 holds 06:00->18:00 (12h), then 30 holds
            # 18:00 -> day2 06:00 (6h in day 1, 6h in day 2)
            (1, "2024-01-01 06:00:00", 10.0),
            (1, "2024-01-01 18:00:00", 30.0),
            (1, "2024-01-02 06:00:00", 50.0),
            (1, "2024-01-02 12:00:00", 0.0),  # terminal: carries no time
            # key 2: single observation -> no interval, absent from output
            (2, "2024-01-01 00:00:00", 7.0),
        ],
        "k long, ts string, v double",
    ).select("k", F.col("ts").cast("timestamp_ntz").alias("ts"), "v")
    out = {
        (r.k, str(r.period_ts)[:10]): (r.twa, r.covered_us)
        for r in time_weighted_avg(df, "k", "ts", "v", period="day").collect()
    }
    h = 3_600_000_000
    # day 1: (10*12h + 30*6h) / 18h = 300/18
    assert out[(1, "2024-01-01")] == (round(300 / 18, 6), 18 * h)
    # day 2: (30*6h + 50*6h) / 12h = 40
    assert out[(1, "2024-01-02")] == (40.0, 12 * h)
    assert not any(k == 2 for k, _ in out)
    assert len(out) == 2


# ---- bloom_prune_join (pre-shuffle Bloom pruning) --------------------------


def _bloom_fixture(spark):
    left = spark.createDataFrame(
        [(i, f"p{i}") for i in range(200)] + [(None, "pnull")],
        "k bigint, payload string",
    )
    # selective right side: 7 keys present, incl. a duplicate key row
    right = spark.createDataFrame(
        [(k, f"r{k}") for k in (3, 17, 42, 42, 99, 150, 151, 199)],
        "k bigint, name string",
    )
    return left, right


def test_bloom_prune_join_matches_plain_join(spark):
    left, right = _bloom_fixture(spark)
    plain = left.join(right, "k").select("k", "payload", "name")
    bloomed = R.bloom_prune_join(left, right, "k").select("k", "payload", "name")
    assert sorted(map(tuple, bloomed.collect())) == sorted(map(tuple, plain.collect()))


def test_bloom_prune_join_exact_under_heavy_false_positives(spark):
    # 64-bit filter for 200 probe keys: nearly every bit is set, so the
    # prune passes almost everything — the verifying join must still
    # produce exactly the plain result (false positives cost bytes, not
    # correctness)
    left, right = _bloom_fixture(spark)
    plain = left.join(right, "k", "left_semi")
    bloomed = R.bloom_prune_join(left, right, "k", how="left_semi", num_bits=64, num_hashes=2)
    assert sorted(map(tuple, bloomed.collect())) == sorted(map(tuple, plain.collect()))


def test_bloom_prune_join_prunes_before_shuffle(spark):
    # the probe stage (everything before the verifying join) must pass
    # only a small superset of the matching rows: with 8 keys in a 2^20
    # filter the false-positive rate is ~0, so the survivor count equals
    # the true match count
    left, right = _bloom_fixture(spark)
    semi = R.bloom_prune_join(left, right, "k", how="left_semi")
    true_matches = left.join(right, "k", "left_semi").count()
    assert semi.count() == true_matches
    # and the plan stays structurally sane: broadcast probes, no
    # cartesian, no row-UDFs
    plan = semi._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_bloom_prune_join_guards_outer_variants(spark):
    left, right = _bloom_fixture(spark)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="inner/left_semi"):
        R.bloom_prune_join(left, right, "k", how="left")
    with _pytest.raises(ValueError, match="power of two"):
        R.bloom_prune_join(left, right, "k", num_bits=1000)


# ---- golden_records (entity-resolution survivorship) -----------------------


def test_golden_records_survivorship_rules(spark):
    records = spark.createDataFrame(
        [
            (1, "acme corp", "NY", 10.0),
            (2, "acme corp", "NY", 12.0),   # cluster {1,2,3}
            (3, "acme inc", "CA", 11.0),
            (7, "zenith", "TX", 5.0),       # singleton
            (8, None, "TX", 6.0),           # cluster {8,9}; NULL name ignored by mode
            (9, "zed ltd", "WA", 4.0),
        ],
        "id long, name string, state string, price double",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (8, 9)], "id_a long, id_b long")
    out = {
        r.cluster_id: r
        for r in R.golden_records(
            records,
            pairs,
            "id",
            mode_cols=["name", "state"],
            max_cols=["price"],
        ).collect()
    }
    assert set(out) == {1, 7, 8}  # min-id canonical labels + singleton
    g = out[1]
    assert g.n_members == 3
    assert g.name == "acme corp"       # mode (2 votes vs 1)
    assert g.state == "NY"             # mode: 2 NY votes vs 1 CA
    assert g.price == 12.0             # max rule
    assert out[7].n_members == 1 and out[7].name == "zenith"
    assert out[8].n_members == 2 and out[8].name == "zed ltd"  # NULL ignored
    # deterministic under repartitioning
    again = {
        r.cluster_id: (r.name, r.state, r.price, r.n_members)
        for r in R.golden_records(
            records.repartition(5), pairs, "id",
            mode_cols=["name", "state"], max_cols=["price"],
        ).collect()
    }
    assert again == {
        k: (v.name, v.state, v.price, v.n_members) for k, v in out.items()
    }


def test_materialize_intermediate_modes(spark, monkeypatch):
    """r14 (VERDICT r13 #1/#6): eager=True truncates lineage via
    localCheckpoint; eager=False is a plain lazy persist (graceful
    recompute-from-lineage on block loss); the
    SPARK_GRAFT_EAGER_MATERIALIZE=0 escape hatch forces every call
    site onto the lazy path for clusters with executor churn."""
    def fresh():
        # a new Dataset each time: persist/localCheckpoint mutate or
        # force the SAME Dataset's cached queryExecution, so plan
        # assertions need an unforced frame
        return spark.range(100).selectExpr("id", "id % 7 AS k")

    eager = R.materialize_intermediate(fresh(), eager=True)
    # lineage truncated: the plan is a scan over a materialized RDD,
    # no trace of the Range source
    assert "Range" not in eager._jdf.queryExecution().executedPlan().toString()
    assert eager.count() == 100

    lazy = R.materialize_intermediate(fresh(), eager=False)
    # lazy persist: lineage kept, served through the cache — a
    # downstream consumer plans an InMemory scan over the Range source
    plan = lazy.select("k")._jdf.queryExecution().executedPlan().toString()
    assert "InMemory" in plan
    assert lazy.count() == 100
    assert lazy.storageLevel.useMemory  # engine-default persist
    lazy.unpersist()

    # env escape hatch: eager=True callers degrade to the lazy path
    monkeypatch.setenv("SPARK_GRAFT_EAGER_MATERIALIZE", "0")
    hatch = R.materialize_intermediate(fresh(), eager=True)
    hplan = hatch.select("k")._jdf.queryExecution().executedPlan().toString()
    assert "InMemory" in hplan
    assert hatch.count() == 100
    hatch.unpersist()
    monkeypatch.delenv("SPARK_GRAFT_EAGER_MATERIALIZE", raising=False)


def test_bench_control_update_guard():
    """r14 (VERDICT r13 #3): the quiet-control guard refuses cross-sf,
    cross-cpus, and slower-canary overwrites — the r13 driver's quiet
    8-core run silently replaced the 32-core control through the old
    sf/canary-only check."""
    import bench

    ctl = {
        "sf": 0.1,
        "cpus": 32,
        "canary": {"spark_pre": 0.5, "spark_post": 0.4},
    }
    quiet = {"spark_pre": 0.45, "spark_post": 0.41}
    # no existing control: always write
    assert bench.should_update_control(None, 0.1, 32, quiet)
    # same sf/cpus, quiet canary: refresh
    assert bench.should_update_control(ctl, 0.1, 32, quiet)
    # cross-cpus (the r13 incident): refuse even with a quieter canary
    assert not bench.should_update_control(ctl, 0.1, 8, quiet)
    # cross-sf smoke run: refuse
    assert not bench.should_update_control(ctl, 0.01, 32, quiet)
    # contended run (>20% slower best spark canary): refuse
    hot = {"spark_pre": 1.9, "spark_post": 0.55}
    assert not bench.should_update_control(ctl, 0.1, 32, hot)
    # legacy control without cpus: its core count is unknown, refuse
    legacy = {"sf": 0.1, "canary": {"spark_pre": 0.5, "spark_post": 0.4}}
    assert not bench.should_update_control(legacy, 0.1, 32, quiet)
