"""Tracing for the traced run: spans around the benchmark's calls into
sparkgraft's public functions, and one reader of Spark's status stores
that attributes every Spark job to the span that launched it.

Spans are kept in memory (name, start, end, parent, benchmark job) and
written out with the run's results. Each open span also holds a Spark
job tag, so a job launched while a DataFrame is being BUILT (footer
reads, eager checkpoints, construction-time actions) is attributed to
the innermost span open at submission, not to the later write.

Wrapping is done at module-attribute level, in every ``sparkgraft``
module namespace that binds the function, so calls through
``from .x import f`` bindings are traced too. Nothing in ``sparkgraft``
is edited; the untraced runs never install the wrappers.
"""

from __future__ import annotations

import functools
import inspect
import re
import sys
import time
from contextlib import contextmanager

LAYERS = ("io", "json_ops", "relational", "conformance", "dedup", "text",
          "similarity", "warc", "html", "robots", "web")


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.enabled = False
        self.job: int | None = None
        # time spent in the tracer's own code (span bookkeeping, job-tag
        # calls, per-call attributes): what tracing adds to a traced job
        self.own_s = 0.0
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "job": self.job,
               "parent": self._stack[-1] if self._stack else None,
               "start": t0, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        tag = f"pb-span-{sid}"
        self.sc.addJobTag(tag)
        self.own_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            self.sc.removeJobTag(tag)
            self._stack.pop()
            rec["end"] = time.perf_counter()
            self.own_s += rec["end"] - t1

    def install(self, registry: dict[str, object]) -> None:
        """Wrap every public function of the LAYERS modules wherever a
        sparkgraft module binds it, and the registered query functions
        in ``registry`` (keyed by query name)."""
        targets: dict[int, tuple[object, str]] = {}
        for layer in LAYERS:
            mod = sys.modules[f"sparkgraft.{layer}"]
            for attr, obj in vars(mod).items():
                if (inspect.isfunction(obj) and not attr.startswith("_")
                        and obj.__module__ == mod.__name__):
                    targets[id(obj)] = (obj, f"{layer}.{attr}")
        wrappers = {k: _Traced(self, fn, name) for k, (fn, name) in targets.items()}
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("sparkgraft") or mod is None:
                continue
            for attr, obj in list(vars(mod).items()):
                if id(obj) in wrappers and targets[id(obj)][0] is obj:
                    self._patched.append((mod, attr, obj))
                    setattr(mod, attr, wrappers[id(obj)])
        for qname, fn in list(registry.items()):
            self._patched.append((registry, qname, fn))
            registry[qname] = _Traced(self, fn, f"queries.{qname}")

    def uninstall(self) -> None:
        for owner, attr, obj in reversed(self._patched):
            if isinstance(owner, dict):
                owner[attr] = obj
            else:
                setattr(owner, attr, obj)
        self._patched.clear()


class _Traced:
    """A traced stand-in for a module-level function. It pickles as the
    original (looked up by module and name on the unpickling side), so
    a Python UDF closure that captured it ships the plain function to
    the workers instead of the tracer that lives in this process."""

    def __init__(self, tracer: Tracer, fn, name: str):
        functools.update_wrapper(self, fn)
        self._tracer = tracer
        self._fn = fn
        self._name = name

    def __call__(self, *args, **kwargs):
        if not self._tracer.enabled:
            return self._fn(*args, **kwargs)
        with self._tracer.span(self._name) as rec:
            value = self._fn(*args, **kwargs)
            if self._name == "relational.spread":
                # relational.spread_partitions: the round-robin width
                # spread chose (its result's top node is the Repartition)
                t0 = time.perf_counter()
                rec["partitions"] = value._jdf.queryExecution().logical().numPartitions()
                self._tracer.own_s += time.perf_counter() - t0
            return value

    def __reduce__(self):
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


# ---------------------------------------------------------------------------
# status-store reader
# ---------------------------------------------------------------------------

_UNIT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
         "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def sql_metric_value(text: str) -> float:
    """Total of one formatted SQL metric: ``"60,000"``, ``"10 ms"``,
    ``"1091.0 B"``, or ``"total (min, med, max ...)\\n1.9 s (...)"``.
    Times come back in seconds and sizes in bytes; Spark formats sizes
    to one decimal of their unit, so byte totals are approximate."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


class StatusReader:
    """Reads jobs, stages and SQL executions that finished since the last
    call, from the JVM AppStatusStore and SQLAppStatusStore (populated
    with the UI disabled too)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._job_mark = -1
        self._stage_mark = -1
        self._exec_mark = -1

    def _empty(self):
        return self._gw.jvm.java.util.ArrayList()

    def read(self) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = []
        it = self._store.jobsList(self._empty()).iterator()
        while it.hasNext():
            j = it.next()
            if j.jobId() > self._job_mark:
                tags = [str(t) for t in _iter(j.jobTags())]
                jobs.append({"id": j.jobId(), "tags": tags,
                             "stages": [int(s) for s in _iter(j.stageIds())]})
        self._job_mark = max([self._job_mark] + [j["id"] for j in jobs])
        # a stage belongs to the first job that ran it; later jobs list
        # it again as skipped, including jobs of a later read
        owner: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j["id"]):
            for sid in j["stages"]:
                if sid > self._stage_mark:
                    owner.setdefault(sid, j["id"])
        self._stage_mark = max([self._stage_mark, *owner])
        stages = []
        it = self._store.stageList(
            self._empty(), False, False, self._gw.new_array(self._gw.jvm.double, 0),
            self._empty()).iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() not in owner:
                continue
            stages.append({
                "id": s.stageId(),
                "job": owner[s.stageId()],
                "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "input_rows": s.inputRecords(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            })
        execs = []
        it = self._sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            eid = e.executionId()
            if eid <= self._exec_mark:
                continue
            self._exec_mark = max(self._exec_mark, eid)
            values = self._sql.executionMetrics(eid)
            nodes = []
            nit = self._sql.planGraph(eid).allNodes().iterator()
            while nit.hasNext():
                n = nit.next()
                metrics = {}
                mit = n.metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[str(m.name())] = sql_metric_value(str(v.get()))
                nodes.append({"name": str(n.name()), "metrics": metrics})
            execs.append({"id": eid,
                          "jobs": [int(k) for k in _iter(e.jobs().keys())],
                          "nodes": nodes})
        return {"jobs": jobs, "stages": stages, "execs": execs}

    def storage_bytes(self) -> int:
        """Block-manager bytes held by persisted/checkpointed RDDs."""
        return sum(r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo())


def _iter(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()
