"""DuckDB oracles and output comparison, run by the harness outside
every timed region.

- crawl_to_corpus, minhash_lsh_near_dups and hybrid_bm25_cosine_rrf use
  the oracle SQL registered beside each query (``sparkgraft.queries.ORACLES``),
  over views of the job's own generated shard;
- the conformance job uses a three-payload form of the
  ``conformance_pipeline_versioned`` oracle: latest spec version per
  channel, the wide spec unpivoted, catalog rows matched on channel,
  event and ``$.app.version``, key presence as an OR over the three
  payloads' top-level keys and the value as the first non-empty one.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd


def conformance_sql(events_glob: str, spec_csv: str, prop_cols: list[str]) -> str:
    props = ", ".join(prop_cols)
    payloads = ("context", "traits", "properties")
    present = " OR ".join(
        f"list_contains(json_keys(c.{p}), s.prop_name)" for p in payloads)
    value = ", ".join(
        f"nullif(json_extract_string(c.{p}, '$.' || s.prop_name), '')" for p in payloads)
    return f"""
    WITH spec_wide AS (
        SELECT * FROM read_csv('{spec_csv}', header = true, all_varchar = true)
    ), latest AS (
        SELECT * FROM (
            SELECT *, max(version) OVER (PARTITION BY channel) AS __mx
            FROM spec_wide
        ) WHERE version = __mx
    ), spec_long AS (
        SELECT DISTINCT channel, version, event_name, prop_name FROM (
            UNPIVOT (SELECT channel, version, event_name, {props} FROM latest)
            ON {props} INTO NAME spec_col VALUE prop_name
        ) WHERE prop_name IS NOT NULL AND prop_name != ''
    ), catalog AS (
        SELECT client_name AS channel, event_name, context, traits, properties,
               nullif(json_extract_string(context, '$.app.version'), '') AS version
        FROM read_parquet('{events_glob}')
    ), matched AS (
        SELECT c.channel, c.version, c.event_name, s.prop_name,
               {present} AS key_present,
               coalesce({value}) AS v
        FROM catalog c
        JOIN spec_long s
          ON c.channel = s.channel AND c.event_name = s.event_name
         AND c.version = s.version
    ), agg AS (
        SELECT channel, version, event_name, prop_name,
               count(*) AS total_records,
               count(CASE WHEN key_present THEN 1 END) AS keys_not_null_count,
               count(v) AS value_not_null_count
        FROM matched GROUP BY 1, 2, 3, 4
    )
    SELECT s.channel, s.version, s.event_name, s.prop_name,
           coalesce(a.total_records, 0) AS total_records,
           coalesce(a.keys_not_null_count, 0) AS keys_not_null_count,
           coalesce(a.total_records, 0) - coalesce(a.keys_not_null_count, 0)
               AS key_null_count,
           CASE WHEN coalesce(a.total_records, 0) > 0
                THEN round((a.total_records - a.keys_not_null_count) * 100.0
                           / a.total_records, 4) ELSE 0.0 END
               AS key_null_count_percentage,
           coalesce(a.value_not_null_count, 0) AS value_not_null_count,
           coalesce(a.total_records, 0) - coalesce(a.value_not_null_count, 0)
               AS value_null_count,
           CASE WHEN coalesce(a.total_records, 0) > 0
                THEN round((a.total_records - a.value_not_null_count) * 100.0
                           / a.total_records, 4) ELSE 0.0 END
               AS value_null_count_percentage
    FROM spec_long s LEFT JOIN agg a
      USING (channel, version, event_name, prop_name)
    """


def _connect() -> duckdb.DuckDBPyConnection:
    # oracles run after the worker has exited, so the cores are free;
    # the same cap as the Spark session keeps the host footprint alike
    return duckdb.connect(config={"threads": min(4, len(os.sched_getaffinity(0)))})


def expected_conformance(inp: dict) -> pd.DataFrame:
    glob = os.path.join(inp["events_dir"], "*.parquet")
    with _connect() as con:
        return con.execute(conformance_sql(glob, inp["spec"], inp["prop_cols"])).df()


def _corpus_con(shard_dir: str) -> duckdb.DuckDBPyConnection:
    con = _connect()
    for t in ("documents", "embeddings"):
        path = os.path.join(shard_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def expected_query(name: str, shard_dir: str) -> pd.DataFrame:
    from sparkgraft.queries import ORACLES

    with _corpus_con(shard_dir) as con:
        return con.execute(ORACLES[name]).df()


def lsh_candidate_pairs(shard_dir: str) -> int:
    """Distinct LSH candidate pairs of ``minhash_lsh_near_dups`` — the
    registered oracle's candidate set, counted instead of verified."""
    from sparkgraft.queries import ORACLES

    sql = ORACLES["minhash_lsh_near_dups"]
    head = sql[: sql.rindex("SELECT c.doc_a")]
    with _corpus_con(shard_dir) as con:
        return con.execute(head + "SELECT count(*) FROM candidates").fetchone()[0]


def read_output(path: str, fmt: str) -> pd.DataFrame:
    """A job's written output; CSV cells are read as text and typed by
    ``mismatch`` against the oracle's column types."""
    with _connect() as con:
        if fmt == "csv":
            return con.execute(f"SELECT * FROM read_csv('{path}/*.csv', "
                               "header = true, all_varchar = true)").df()
        return con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _missing(x) -> bool:
    return x is None or (isinstance(x, float) and math.isnan(x))


def _same(a, b) -> bool:
    if _missing(a) or _missing(b):
        return _missing(a) and _missing(b)
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want`` as a multiset of rows (column
    order ignored; floats within 1e-9, since the CSV sink prints
    doubles as text); else a one-line description of the first
    difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} expected"
    got = got.copy()
    for c in got.columns:
        if want[c].dtype.kind in "iuf" and got[c].dtype == object:
            got[c] = pd.to_numeric(got[c])
    g, w = _canon(got), _canon(want)
    for c in g.columns:
        for i, (x, y) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            if not _same(x, y):
                return f"row {i} column {c}: {x!r} != {y!r}"
    return None
