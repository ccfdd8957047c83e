"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload conformance_daily --seed 1 \\
        --seconds 8 --trace 0

Run from the repository root. The harness generates (or reuses) the
seeded inputs, starts ``worker.py`` as one fresh process that owns the
Spark session, checks every job's written output against its DuckDB
oracle, and prints the run's details followed, as the last line, by
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones from a traced run. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import procfs  # noqa: E402

WORKLOADS = ("conformance_daily", "crawl_to_corpus")
RUN_LIMIT_S = 170  # the whole run, generation and checks included

def session_env(work: str) -> tuple[dict, dict]:
    """Environment and ``extra_conf`` that fit the session to this host,
    set only from the benchmark side."""
    cores = min(4, len(os.sched_getaffinity(0)))
    # the library default (48g) exceeds small hosts. The inputs need far
    # less than 1 GiB, and with a 2 GiB heap the JVM's peak RSS followed
    # its heap-growth path: 1.6-2.2 GiB for identical daily runs
    driver_mem = "1g"
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),  # the library default (32) oversubscribes
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        "PYTHONPATH": ROOT,  # Python workers unpickle sparkgraft functions
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    })
    extra_conf = {"spark.ui.showConsoleProgress": "false", "spark.local.dir": local}
    recorded = {"cores": cores, "driver_mem": driver_mem, "pythonpath": ROOT,
                "progress_bar": False, "local_dir": local}
    return env, {"extra_conf": extra_conf, "cores": cores, "session": recorded}


def run_worker(plan: dict, env: dict, run_dir: str, deadline: float) -> dict:
    plan_path = os.path.join(run_dir, "plan.json")
    log_path = os.path.join(run_dir, "worker.log")
    plan["result"] = os.path.join(run_dir, "result.json")
    plan["spawn_mono"] = time.monotonic()
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), plan_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # the JVM and its Python daemon and workers all stay in the
            # worker's session: end them all and wait until none is left
            gone_by = time.monotonic() + 10
            while True:
                left = procfs.session(proc.pid)
                if not left or time.monotonic() > gone_by:
                    break
                for pid in left:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                time.sleep(0.05)
            proc.wait()
    if code != 0 or not os.path.exists(plan["result"]):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        why = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"worker {why}; log tail:\n{tail}")
    with open(plan["result"]) as fh:
        return json.load(fh)


def _expected(inp: dict, key: str, compute):
    """Oracle result for one input, computed once per seed and cached in
    the pool, away from the job's input files."""
    import pandas as pd

    path = os.path.join(inp["expected"], f"{key}.parquet")
    if not os.path.exists(path):
        os.makedirs(inp["expected"], exist_ok=True)
        compute().to_parquet(path + ".tmp")
        os.rename(path + ".tmp", path)
    return pd.read_parquet(path)


def check_job(workload: str, job: dict, inp: dict) -> str | None:
    """None if the job's written output matches its oracle. ``workload``
    "dedup_search" is the traced run's near-duplicate and search pass."""
    import oracles as O

    if job["error"]:
        return job["error"]
    if workload == "conformance_daily":
        want = _expected(inp, "conformance", lambda: O.expected_conformance(inp))
        return O.mismatch(O.read_output(job["out"], "csv"), want)
    if workload == "crawl_to_corpus":
        want = _expected(inp, workload, lambda: O.expected_query(workload, inp["dir"]))
        return O.mismatch(O.read_output(job["out"], "parquet"), want)
    from worker import SEARCH_QUERIES

    for sub, query in SEARCH_QUERIES:
        want = _expected(inp, query, lambda q=query: O.expected_query(q, inp["dir"]))
        bad = O.mismatch(O.read_output(os.path.join(job["out"], sub), "parquet"), want)
        if bad:
            return f"{query}: {bad}"
    return None


def end_to_end(result: dict) -> dict:
    jobs = result["jobs"]
    warm = [j["wall_s"] for j in jobs[1:]]
    return {
        "setup_s": result["setup_s"],
        "first_job_s": jobs[0]["wall_s"],
        "job_s": statistics.median(warm),
        "job_cpu_s": result["warm_cpu_s"] / len(warm),
        "peak_rss_mb": result["peak_rss_mb"],
    }


def tail_s(values: list[float]) -> float | None:
    """The highest percentile with at least ten samples beyond it."""
    if len(values) < 11:
        return None
    return sorted(values)[len(values) - 11]


def per_layer(workload: str, result: dict, pool: list[dict]) -> dict:
    import oracles as O

    warm = result["jobs"][1:]
    keys = sorted({k for j in warm for k in j["layers"]})
    out = {k: statistics.fmean(j["layers"].get(k, 0.0) for j in warm) for k in keys}
    out["session.import_s"] = result["import_s"]
    out["session.get_spark_s"] = result["get_spark_s"]
    spreads = [s for s in result["spans"] if s["name"] == "relational.spread"]
    out["relational.spread_partitions"] = statistics.fmean(
        s["partitions"] for s in spreads) if spreads else 0.0
    # traced job_s: set against the job_s of the untraced runs of the same
    # set, it gives the end-to-end cost of tracing; tracing.overhead_s
    # (the tracer's own time per job) is the part of it one run can see
    out["tracing.job_s"] = statistics.median(j["wall_s"] for j in warm)
    out.update(result["probes"])
    if "json_ops.parse_s" in out:
        out["share.json_parse"] = out["json_ops.parse_s"] / out["tracing.job_s"]
    if workload == "crawl_to_corpus":
        # the dedup, text and similarity layers, from the one near-duplicate
        # and search pass over the pool's first shard
        probe = result["dedup_search"]
        out.update({k: v for k, v in probe["layers"].items()
                    if k.split(".")[0] in ("dedup", "text", "similarity")})
        out["dedup_search.wall_s"] = probe["wall_s"]
        verified = len(O.read_output(os.path.join(probe["out"], "near_dups"), "parquet"))
        out["dedup.lsh_precision"] = verified / O.lsh_candidate_pairs(pool[0]["dir"])
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + RUN_LIMIT_S
    # a terminated harness still ends its worker (run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "sparkgraft", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "BENCHMARK.json"))):
        print(f"perfbench: no sparkgraft package or BENCHMARK.json under {ROOT}",
              file=sys.stderr)
        return 2
    import inputs

    work = os.path.join(HERE, ".work")
    pool = inputs.pool(work, args.workload, args.seed)
    run_dir = os.path.join(work, "runs", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env, session = session_env(work)
    plan = {"workload": args.workload, "seconds": args.seconds,
            "trace": bool(args.trace), "inputs": pool,
            "out_root": os.path.join(run_dir, "out"),
            "cores": session["cores"], "extra_conf": session["extra_conf"]}
    try:
        result = run_worker(plan, env, run_dir, deadline - 20)
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1

    by_name = {p["name"]: p for p in pool}
    checked = [(args.workload, job["i"], job) for job in result["jobs"]]
    if "dedup_search" in result:  # the traced crawl run's extra pass
        checked.append(("dedup_search", "dedup_search", result["dedup_search"]))
    failures = {}
    for kind, key, job in checked:
        try:
            bad = check_job(kind, job, by_name[job["input"]])
        except Exception as exc:  # noqa: BLE001 - e.g. output missing: a failed job
            bad = f"check failed: {type(exc).__name__}: {exc}"
        if bad:
            failures[key] = bad
    attempted = len(checked)
    warm = [j["wall_s"] for j in result["jobs"][1:]]
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "session": session["session"],
        "setup": {k: result[k] for k in ("setup_s", "import_s", "get_spark_s",
                                         "trivial_job_s")},
        "jobs": [{k: j[k] for k in ("i", "input", "wall_s")} for j in result["jobs"]],
        "warm_jobs": len(warm), "warm_s": result["warm_s"], "job_tail_s": tail_s(warm),
        "pool_exhausted": result["pool_exhausted"],
        "rss_mb_by_command": result["rss_mb_by_command"],
        "host_canary_s": result["host_canary_s"],
        "error_rate": len(failures) / attempted, "failures": failures,
        "inputs": {j["input"]: by_name[j["input"]]["props"] for j in result["jobs"]},
    }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        metrics = per_layer(args.workload, result, pool)
        detail["layers"] = metrics
        detail["first_job_layers"] = result["jobs"][0].get("layers")
        if "dedup_search" in result:
            detail["dedup_search_layers"] = result["dedup_search"]["layers"]
        reported = {m["name"]: metrics[m["name"]] for m in listed}
        trace_dir = os.path.join(work, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"detail": detail, "spans": result["spans"]}, fh)
    else:
        detail["end_to_end"] = end_to_end(result)
        reported = {m["name"]: detail["end_to_end"][m["name"]] for m in listed}
    shutil.rmtree(run_dir, ignore_errors=True)

    print("perfbench detail: " + json.dumps(detail, sort_keys=True))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {m["name"]: {"value": reported[m["name"]], "unit": m["unit"]}
                    for m in listed},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
