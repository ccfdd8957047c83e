from __future__ import annotations

from pyspark.sql import functions as F

from sparkgraft import conformance as C


def fixture_catalog(spark):
    # FIXTURES.md §1 content requirements: present-with-value,
    # present-with-empty, absent, value-contains-key-name
    rows = [
        ("signup", '{"k": "1", "s": "ok"}'),
        ("signup", '{"k": "", "s": "ok"}'),  # k present but empty
        ("signup", '{"s": "k"}'),  # k absent; appears as VALUE only
        ("click", '{"k": "9"}'),
    ]
    return spark.createDataFrame(rows, "event_name string, props string")


def fixture_spec(spark):
    rows = [("signup", "k"), ("signup", "s"), ("click", "k"), ("ghost", "k")]
    return spark.createDataFrame(rows, "event_name string, prop_name string")


def test_verify_events_metrics(spark):
    out = C.verify_events(
        fixture_catalog(spark), fixture_spec(spark), payload_cols=["props"]
    )
    got = {
        (r.event_name, r.prop_name): (
            r.total_records,
            r.keys_not_null_count,
            r.value_not_null_count,
            r.value_null_count,
        )
        for r in out.collect()
    }
    # k: present in 2 of 3 signup rows as a KEY (no regex false positive on
    # the row where "k" is only a value); value extractable+non-empty in 1
    assert got[("signup", "k")] == (3, 2, 1, 2)
    assert got[("signup", "s")] == (3, 3, 3, 0)
    assert got[("click", "k")] == (1, 1, 1, 0)
    # spec'd but never observed -> kept at 0 (reference left join + fill)
    assert got[("ghost", "k")] == (0, 0, 0, 0)


def test_verify_events_invariants(spark):
    out = C.verify_events(
        fixture_catalog(spark), fixture_spec(spark), payload_cols=["props"]
    ).collect()
    for r in out:
        assert r.value_null_count + r.value_not_null_count == r.total_records
        assert r.key_null_count + r.keys_not_null_count == r.total_records
        assert 0 <= r.key_null_count_percentage <= 100
        assert 0 <= r.value_null_count_percentage <= 100
        # a key can be present with an empty value, never the reverse
        assert r.keys_not_null_count >= r.value_not_null_count


def test_verify_events_malformed_payloads(spark):
    """Non-object / invalid JSON payloads must count as absent, never
    crash or miscount — from_json(map) and key membership both yield
    NULL for them, which count(when(...)) treats as 0."""
    catalog = spark.createDataFrame(
        [
            ("e", '{"k": "1"}'),  # valid
            ("e", "[1, 2, 3]"),  # JSON array, not object
            ("e", "not json at all"),
            ("e", "42"),
            ("e", None),
        ],
        "event_name string, props string",
    )
    spec = spark.createDataFrame([("e", "k")], "event_name string, prop_name string")
    r = C.verify_events(catalog, spec, payload_cols=["props"]).collect()[0]
    assert r.total_records == 5
    assert r.keys_not_null_count == 1
    assert r.value_not_null_count == 1
    assert r.value_null_count == 4


def test_melt_spec(spark):
    wide = spark.createDataFrame(
        [("web", "1.0", "signup", "k", "s", None), ("web", "1.0", "click", "k", "", None)],
        "channel string, version string, event_name string, p1 string, p2 string, p3 string",
    )
    out = C.melt_spec(wide, id_cols=["channel", "version", "event_name"])
    got = {(r.event_name, r.prop_name) for r in out.collect()}
    # blank/None cells drop; id cols excluded
    assert got == {("signup", "k"), ("signup", "s"), ("click", "k")}


def test_verify_pipeline_end_to_end(spark):
    # two channels x two versions; catalog carries version in $.app.version
    spec = spark.createDataFrame(
        [
            ("web", "2.0", "signup", "k", "org_id"),
            ("web", "1.0", "signup", "old_prop", None),
            ("ios", "5.5", "click", "k", None),
        ],
        "channel string, version string, event_name string, p1 string, p2 string",
    )
    catalog = spark.createDataFrame(
        [
            ("web", "signup", '{"app": {"version": "2.0"}, "k": "v"}', '{"organisation_id": "o1"}', "{}"),
            ("web", "signup", '{"app": {"version": "2.0"}}', "{}", '{"k": "v2"}'),
            ("web", "signup", '{"app": {"version": "1.0"}, "old_prop": "x"}', "{}", "{}"),  # stale version: excluded
            ("ios", "click", '{"app": {"version": "5.5"}}', "{}", '{"k": ""}'),
        ],
        "client_name string, event_name string, context string, traits string, properties string",
    )
    out = C.verify_pipeline(catalog, spec)
    got = {
        (r.channel, r.version, r.event_name, r.prop_name): (
            r.total_records,
            r.keys_not_null_count,
            r.value_not_null_count,
        )
        for r in out.collect()
    }
    # only latest version per channel is checked; version 1.0 spec row gone
    assert ("web", "1.0", "signup", "old_prop") not in got
    assert got[("web", "2.0", "signup", "k")] == (2, 2, 2)
    # org_id key not present under that exact name; top-level extraction none
    assert got[("web", "2.0", "signup", "org_id")] == (2, 0, 0)
    # k present on ios click but value empty-string -> scrubbed
    assert got[("ios", "5.5", "click", "k")] == (1, 1, 0)


def test_latest_per_group_keeps_version_ties(spark):
    """Reference semantics are rank()==1 (event_verify.py:38-39): ALL
    rows tied on the max version survive selection — a row_number-based
    implementation would arbitrarily drop one. latest_per_group's
    max window keeps ties structurally."""
    from sparkgraft.relational import latest_per_group

    spec = spark.createDataFrame(
        [
            ("web", "2.0", "click"),
            ("web", "2.0", "purchase"),  # tied on max version 2.0
            ("web", "1.0", "legacy"),
            ("ios", "5.5", "signup"),
        ],
        "channel string, version string, event_name string",
    )
    got = {
        (r.channel, r.version, r.event_name)
        for r in latest_per_group(spec, ["channel"], "version").collect()
    }
    assert got == {
        ("web", "2.0", "click"),
        ("web", "2.0", "purchase"),
        ("ios", "5.5", "signup"),
    }


def test_verify_pipeline_version_tie_checks_all_tied_rows(spark):
    """Two spec rows tie on the max version for one channel with
    DIFFERENT events: the pipeline must verify props of both events,
    stamped with the same spec version."""
    spec = spark.createDataFrame(
        [
            ("web", "2.0", "signup", "k", None),
            ("web", "2.0", "click", "s", None),  # tie on 2.0, second event
            ("web", "1.0", "signup", "old", None),
        ],
        "channel string, version string, event_name string, p1 string, p2 string",
    )
    catalog = spark.createDataFrame(
        [
            ("web", "signup", '{"app": {"version": "2.0"}}', "{}", '{"k": "v"}'),
            ("web", "click", '{"app": {"version": "2.0"}}', "{}", '{"s": "w"}'),
        ],
        "client_name string, event_name string, context string, traits string, properties string",
    )
    out = C.verify_pipeline(catalog, spec)
    got = {
        (r.channel, r.version, r.event_name, r.prop_name): (
            r.total_records,
            r.value_not_null_count,
        )
        for r in out.collect()
    }
    assert got[("web", "2.0", "signup", "k")] == (1, 1)
    assert got[("web", "2.0", "click", "s")] == (1, 1)
    assert ("web", "1.0", "signup", "old") not in got
