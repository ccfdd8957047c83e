"""One benchmark run inside one fresh process: start the session, run
the cold job, then warm jobs in a closed loop until the run's seconds
are spent. Launched by ``run.py`` with a plan file; writes a result
file and exits. Correctness is checked by the harness afterwards,
against the outputs written here.

Usage: python perfbench/worker.py <plan.json>
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procfs  # noqa: E402

# warm jobs every run makes, even past its seconds. The first warm jobs
# still run 30-40% slower while the JVM warms up; job_s is the median of
# 6 daily jobs (2-4 s each) or 8 crawl jobs (3-5 s each), which lands
# past them whatever the host's speed, and keeps one job slowed by a busy
# host out of it
MIN_WARM = {"conformance_daily": 6, "crawl_to_corpus": 8}


# ---------------------------------------------------------------------------
# jobs: each reads its own input and writes real output
# ---------------------------------------------------------------------------


def conformance_job(spark, inp: dict, out: str):
    from sparkgraft import conformance, io, relational

    events = io.read_partitioned(spark, inp["events"], inp["filters"])
    spec = io.read_csv(spark, inp["spec"], inp["spec_schema"])
    # the registered conformance queries' idiom: fan the scan out to all
    # cores, and keep JSON-derived filters above the exchange
    catalog = relational.pushdown_fence(relational.spread(events))
    result = conformance.verify_pipeline(catalog, spec)
    io.write_single_csv(result, out)
    return [result]


def crawl_job(spark, inp: dict, out: str):
    """One shard through the registered ``crawl_to_corpus`` chain, written
    as parquet."""
    from sparkgraft import io
    from sparkgraft.queries import QUERIES

    df = QUERIES["crawl_to_corpus"](spark, inp["dir"])
    io.write_parquet(df, out)
    return [df]


# the near-duplicate and search queries, run once over one shard at the
# end of a traced crawl_to_corpus run: the dedup, text and similarity
# layers' figures come from this pass
SEARCH_QUERIES = (("near_dups", "minhash_lsh_near_dups"),
                  ("search", "hybrid_bm25_cosine_rrf"))


def dedup_search_pass(spark, inp: dict, out: str):
    from sparkgraft import io
    from sparkgraft.queries import QUERIES

    frames = []
    for sub, query in SEARCH_QUERIES:
        df = QUERIES[query](spark, inp["dir"])
        io.write_parquet(df, os.path.join(out, sub))
        frames.append(df)
    return frames


JOBS = {
    "conformance_daily": conformance_job,
    "crawl_to_corpus": crawl_job,
}


# ---------------------------------------------------------------------------
# traced-run breakdown
# ---------------------------------------------------------------------------


def _python_worker_cpu_s(root: int) -> float:
    return sum(cpu for pid, (comm, cpu) in procfs.tree(root).items()
               if pid != root and comm.startswith("python"))


def _json_parses(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().treeString(
        True, False, 2**31 - 1, False, False)
    return sum(plan.count(f) for f in ("from_json(", "get_json_object(",
                                       "json_object_keys(", "json_tuple("))


# per-layer metric -> stage field summed over a job's stages. Stage input
# bytes are left out: parquet scans under-report them, so io.input_bytes
# comes from the scan nodes' "size of files read"
STAGE_SUMS = {
    "spark.tasks": "tasks", "spark.task_run_s": "run_s", "spark.task_cpu_s": "cpu_s",
    "spark.gc_s": "gc_s", "io.input_rows": "input_rows",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.shuffle_read_bytes": "shuffle_read_bytes",
    "spark.shuffle_fetch_wait_s": "shuffle_fetch_wait_s",
    "spark.spill_bytes": "spill_bytes",
}


def job_breakdown(spans: list[dict], status: dict, wall_s: float,
                  cores: int) -> dict:
    """Per-layer metrics of one benchmark job from its spans and the
    Spark jobs, stages and SQL executions attributed to them."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]] = children.get(s["parent"], 0.0) + s["end"] - s["start"]

    def layer(s):
        return s["name"].split(".")[0]

    def outermost(s):
        p = s["parent"]
        return p is None or layer(by_id[p]) != layer(s)

    out: dict[str, float] = {}
    for s in spans:
        lay = layer(s)
        dur = s["end"] - s["start"]
        out[f"{lay}.self_s"] = out.get(f"{lay}.self_s", 0.0) + dur - children.get(s["id"], 0.0)
        if outermost(s):
            # time for the layer's outermost calls to return: plan-build
            # time for functions that return DataFrames, the whole action for sinks
            key = ("io.read_plan_s" if s["name"].startswith("io.read")
                   else "io.write_s" if lay == "io" else f"{lay}.plan_s")
            out[key] = out.get(key, 0.0) + dur

    span_ids = set(by_id)
    jobs = []
    for j in status["jobs"]:
        ids = [int(t[len("pb-span-"):]) for t in j["tags"] if t.startswith("pb-span-")]
        ids = [i for i in ids if i in span_ids]
        if ids:
            jobs.append((j["id"], max(ids)))
    job_ids = {jid for jid, _ in jobs}
    for jid, sid in jobs:
        s = by_id[sid]
        key = f"{layer(s)}.jobs"
        out[key] = out.get(key, 0) + 1
        while s is not None:  # construction jobs: launched inside a text.* call
            if layer(s) == "text":
                out["text.construction_jobs"] = out.get("text.construction_jobs", 0) + 1
                break
            s = by_id.get(s["parent"]) if s["parent"] is not None else None
    stages = [s for s in status["stages"] if s["job"] in job_ids]
    out["spark.jobs"] = len(jobs)
    out["spark.stages"] = len(stages)
    for name, key in STAGE_SUMS.items():
        out[name] = sum(s[key] for s in stages)
    out["spark.idle_core_s"] = wall_s * cores - out["spark.task_run_s"]

    sent = returned = sink = fanout = scanned = 0.0
    for e in status["execs"]:
        if not job_ids.intersection(e["jobs"]):
            continue
        for n in e["nodes"]:
            m = n["metrics"]
            sent += m.get("data sent to Python workers", 0.0)
            returned += m.get("data returned from Python workers", 0.0)
            if n["name"].startswith("Execute InsertIntoHadoopFsRelationCommand"):
                sink += m.get("task commit time", 0.0) + m.get("job commit time", 0.0)
            if n["name"].startswith("Scan "):
                scanned += m.get("size of files read", 0.0)
            if n["name"] == "BroadcastHashJoin":
                fanout = max(fanout, m.get("number of output rows", 0.0))
    out["spark.python_bytes_sent"] = sent
    out["spark.python_bytes_returned"] = returned
    out["io.sink_s"] = sink
    out["io.input_bytes"] = scanned
    if any(s["name"].startswith("conformance.") for s in spans):
        out["conformance.fanout_rows"] = fanout
    # shares of the job that say which regime it is in
    job = spans[0]  # the benchmark's own "job" span encloses the rest
    sinks = sum(s["end"] - s["start"] for s in spans
                if s["parent"] == job["id"] and s["name"].startswith("io.write"))
    out["share.task_busy"] = out["spark.task_run_s"] / (wall_s * cores)
    out["share.before_sink"] = 1.0 - sinks / wall_s
    return out


def json_parse_probe(spark, inp: dict, reps: int = 3) -> float:
    """``json_ops.parse_s``: the prefix cost of parsing the three
    payloads (scan + ``payload_map``) minus the scan alone, as medians
    of ``reps`` alternating noop-sink passes over one day."""
    from pyspark.sql import functions as F
    from sparkgraft import io, json_ops, relational

    cols = ("context", "traits", "properties")
    base = relational.pushdown_fence(relational.spread(
        io.read_partitioned(spark, inp["events"], inp["filters"])))
    scan = base.select(sum(F.length(c) for c in cols).alias("n"))
    parse = base.select(sum(F.size(F.map_keys(json_ops.payload_map(c)))
                            for c in cols).alias("n"))
    times: dict[str, list[float]] = {"scan": [], "parse": []}
    for _ in range(reps):
        for name, df in (("scan", scan), ("parse", parse)):
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            times[name].append(time.perf_counter() - t0)
    return statistics.median(times["parse"]) - statistics.median(times["scan"])


def crawl_record_probe(inp: dict, n_docs: int = 200) -> dict:
    """``warc.crack_us_per_doc`` and ``html.extract_us_per_doc``: the
    record-level public functions called directly, in this process, over
    WARC records built from the shard's first documents."""
    import pyarrow.parquet as pq
    from sparkgraft import html as H
    from sparkgraft import warc as WC

    docs = pq.read_table(os.path.join(inp["dir"], "documents.parquet"),
                         columns=["text"]).slice(0, n_docs)["text"].to_pylist()
    files = []
    for i, text in enumerate(docs):
        page = f"<html><body><p>{text}</p></body></html>".encode()
        resp = WC.build_http_response(status=200, body=page,
                                      content_encoding="gzip" if i % 2 else None)
        files.append(WC.build_warc_file(
            [WC.build_warc_record("response", resp, url=f"http://h{i}.example/x")],
            gzip_members=True))
    t0 = time.perf_counter()
    pages = []
    for payload in files:
        records, _err = WC.parse_warc_recover(payload)
        for rec in records:
            http = WC.parse_http_response(rec["payload"])
            h = http["headers"]
            body = WC.decode_http_payload(http["body"], h.get("transfer-encoding", ""),
                                          h.get("content-encoding", ""))
            pages.append(WC.decode_text_body(body, http["content_type"]))
    t1 = time.perf_counter()
    texts = [H.html_to_text(p) for p in pages]
    t2 = time.perf_counter()
    if len(texts) != len(docs):
        raise RuntimeError(f"crack probe recovered {len(texts)} of {len(docs)} records")
    return {"warc.crack_us_per_doc": (t1 - t0) / len(docs) * 1e6,
            "html.extract_us_per_doc": (t2 - t1) / len(docs) * 1e6}


def host_canary_s(reps: int = 3) -> float:
    """Median time of a fixed single-threaded numpy sort. Recorded beside
    each run, never inside a metric: on a shared host the CPU speed
    drifts between runs, and this tells a slow host from a slow job."""
    import numpy as np

    data = np.random.default_rng(0).random(1_000_000)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        np.sort(data)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def run_job(spark, fn, inp: dict, out: str, tracer, reader, cores: int, label):
    """One job, and in the traced run its per-layer breakdown. A failed
    job is recorded, not raised."""
    me = os.getpid()
    rec = {"input": inp["name"], "out": out, "error": None}
    if tracer:
        tracer.enabled, tracer.job = True, label
        py_cpu0, cpu0 = _python_worker_cpu_s(me), procfs.tree_cpu_s(me)
        span_mark, own0 = len(tracer.spans), tracer.own_s
    start = time.perf_counter()
    try:
        if tracer:
            with tracer.span("job"):
                frames = fn(spark, inp, out)
        else:
            frames = fn(spark, inp, out)
    except Exception as exc:  # noqa: BLE001 - a failed job is counted, not fatal
        rec["error"] = f"{type(exc).__name__}: {exc}"[:2000]
        frames = []
    rec["wall_s"] = time.perf_counter() - start
    if tracer:
        tracer.enabled = False
        cpu = procfs.tree_cpu_s(me) - cpu0
        b = job_breakdown(tracer.spans[span_mark:], reader.read(), rec["wall_s"], cores)
        b["tracing.overhead_s"] = tracer.own_s - own0
        b["spark.python_worker_cpu_s"] = _python_worker_cpu_s(me) - py_cpu0
        b["share.python_cpu"] = b["spark.python_worker_cpu_s"] / cpu if cpu else 0.0
        b["spark.storage_bytes"] = reader.storage_bytes()
        if fn is conformance_job and frames:
            b["json_ops.parses_in_plan"] = _json_parses(frames[0])
        rec["layers"] = b
    return rec


def main(plan_path: str) -> int:
    with open(plan_path) as fh:
        plan = json.load(fh)
    me = os.getpid()
    t0 = time.perf_counter()
    import sparkgraft  # noqa: F401
    import sparkgraft.queries  # noqa: F401  (the query registry)
    t1 = time.perf_counter()
    from sparkgraft.session import get_spark

    spark = get_spark("perfbench", master=f"local[{plan['cores']}]",
                      extra_conf=plan["extra_conf"])
    t2 = time.perf_counter()
    spark.range(1).count()
    setup_s = time.monotonic() - plan["spawn_mono"]
    result = {"setup_s": setup_s, "import_s": t1 - t0, "get_spark_s": t2 - t1,
              "trivial_job_s": time.perf_counter() - t2}

    tracer = reader = None
    if plan["trace"]:
        from sparkgraft.queries import QUERIES
        from tracing import StatusReader, Tracer

        tracer = Tracer(spark.sparkContext)
        tracer.install(QUERIES)
        reader = StatusReader(spark)
        reader.read()  # drop the set-up jobs

    canary = [host_canary_s()]
    job_fn = JOBS[plan["workload"]]
    inputs = plan["inputs"]
    jobs = []
    warm_t0 = warm_cpu0 = None
    result["pool_exhausted"] = False
    for i, inp in enumerate(inputs):
        if i == 1:
            warm_t0, warm_cpu0 = time.perf_counter(), procfs.tree_cpu_s(me)
        elif i > MIN_WARM[plan["workload"]] and time.perf_counter() - warm_t0 >= plan["seconds"]:
            break
        out = os.path.join(plan["out_root"], f"job{i:03d}")
        jobs.append({"i": i, **run_job(spark, job_fn, inp, out, tracer, reader,
                                       plan["cores"], i)})
    else:  # every input ran: the pool, not --seconds, ended the warm loop
        result["pool_exhausted"] = (len(jobs) > 1 and
                                    time.perf_counter() - warm_t0 < plan["seconds"])
    if len(jobs) > 1:
        result["warm_s"] = time.perf_counter() - warm_t0
        result["warm_cpu_s"] = procfs.tree_cpu_s(me) - warm_cpu0
    result["jobs"] = jobs
    result["host_canary_s"] = canary + [host_canary_s()]
    result["rss_mb_by_command"] = procfs.tree_hwm_mb(me)
    result["peak_rss_mb"] = sum(result["rss_mb_by_command"].values())

    if tracer:
        probes = {}
        if plan["workload"] == "conformance_daily":
            probes["json_ops.parse_s"] = json_parse_probe(spark, inputs[0])
        if plan["workload"] == "crawl_to_corpus":
            probes.update(crawl_record_probe(inputs[0]))
            result["dedup_search"] = run_job(
                spark, dedup_search_pass, inputs[0],
                os.path.join(plan["out_root"], "dedup_search"), tracer, reader,
                plan["cores"], "dedup_search")
        result["probes"] = probes
        result["spans"] = tracer.spans
        tracer.uninstall()
    spark.stop()
    with open(plan["result"], "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1]))
