"""Per-workload input pools, generated once per ``(workload, seed)`` and
cached on disk, outside every timed region.

A pool holds one input per job a run may start: index 0 for the cold
job, the rest for warm jobs. Every job reads its own input, so no job
is served by another job's cached data.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pyarrow.parquet as pq

import gen

HERE = os.path.dirname(os.path.abspath(__file__))

# Sizes. The reference publishes no volume; these are set by the run
# budget (4 + 22 x workloads runs in 3420 s, each a fresh JVM plus a
# cold job). On 4 cores a warm daily job takes 2-4 s, and a warm crawl
# job 3.5-5 s, most of it plan build and the floors of its Spark jobs.
DAY_ROWS = 100_000
DAY_FILES = 8
STALE_SHARE = 0.2
SHARD_DOCS = 250
SHARD_MEAN_WORDS = 150
NEAR_DUP_SHARE = 0.1

POOL = {"conformance_daily": 7, "crawl_to_corpus": 9}
KEEP_POOLS = 40  # cached pools kept on disk, least recently used evicted
PATH_KEYS = {"events", "events_dir", "spec", "dir", "expected"}


def _generator_version() -> str:
    """Hash of what a cached pool depends on: the generator, and the
    oracles whose results are cached beside the inputs."""
    from sparkgraft.queries import ORACLES
    from worker import SEARCH_QUERIES

    h = hashlib.sha1()
    for name in ("gen.py", "inputs.py", "oracles.py"):
        with open(os.path.join(HERE, name), "rb") as fh:
            h.update(fh.read())
    for query in ("crawl_to_corpus", *(q for _sub, q in SEARCH_QUERIES)):
        h.update(ORACLES[query].encode())
    return h.hexdigest()[:10]


def _conformance_pool(root: str, seed: int, n: int) -> list[dict]:
    spec = gen.conformance_spec(seed)
    spec_csv = os.path.join(root, "spec.csv")
    spec_props = gen.write_spec_csv(spec, spec_csv)
    table = os.path.join(root, "events")
    pool = []
    for day in range(n):
        date = f"2024-01-{day + 1:02d}"
        part = os.path.join(table, f"event_date={date}")
        tbl = gen.conformance_events(seed, day, DAY_ROWS, spec, STALE_SHARE)
        gen.write_events(tbl, part, DAY_FILES)
        pool.append({
            "name": date, "expected": f"expected/{date}",
            "events": "events", "filters": {"event_date": date},
            "events_dir": os.path.relpath(part, root), "spec": "spec.csv",
            "spec_schema": gen.SPEC_SCHEMA,
            "prop_cols": list(gen.SPEC_COLS[3:]),
            "props": {**gen.event_properties(tbl, part, STALE_SHARE), **spec_props},
        })
    return pool


def _corpus_pool(root: str, seed: int, n: int) -> list[dict]:
    pool = []
    for k in range(n):
        shard = os.path.join(root, f"shard{k:02d}")
        os.makedirs(shard)
        tbl, src = gen.documents(seed, k, SHARD_DOCS, SHARD_MEAN_WORDS, NEAR_DUP_SHARE)
        pq.write_table(tbl, os.path.join(shard, "documents.parquet"))
        pq.write_table(gen.embeddings(seed, k, src),
                       os.path.join(shard, "embeddings.parquet"))
        pool.append({"name": f"shard{k:02d}", "dir": f"shard{k:02d}",
                     "expected": f"expected/shard{k:02d}",
                     "props": gen.corpus_properties(tbl, src, shard)})
    return pool


def _build(workload: str, root: str, seed: int) -> list[dict]:
    if workload == "conformance_daily":
        return _conformance_pool(root, seed, POOL[workload])
    return _corpus_pool(root, seed, POOL[workload])


def pool(work: str, workload: str, seed: int) -> list[dict]:
    """The cached pool for ``(workload, seed)``, generating it if absent."""
    cache = os.path.join(work, "inputs")
    os.makedirs(cache, exist_ok=True)
    key = f"{workload}-seed{seed}-{_generator_version()}"
    root = os.path.join(cache, key)
    manifest = os.path.join(root, "pool.json")
    if not os.path.exists(manifest):
        tmp = root + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        built = _build(workload, tmp, seed)
        with open(os.path.join(tmp, "pool.json"), "w") as fh:
            json.dump(built, fh)
        shutil.rmtree(root, ignore_errors=True)
        os.rename(tmp, root)
        _evict(cache, keep=root)
    os.utime(root)
    with open(manifest) as fh:
        entries = json.load(fh)
    # the manifest records paths relative to the pool directory
    for e in entries:
        for k in PATH_KEYS & e.keys():
            e[k] = os.path.join(root, e[k])
    return entries


def _evict(cache: str, keep: str) -> None:
    entries = sorted(
        (os.path.getmtime(os.path.join(cache, e)), os.path.join(cache, e))
        for e in os.listdir(cache))
    for _mtime, path in entries[:-KEEP_POOLS]:
        if path != keep:
            shutil.rmtree(path, ignore_errors=True)
