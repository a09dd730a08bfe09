#!/usr/bin/env python
"""Decompose the warm single-query latency floor (PLANS.md §6).

bench.py's bm25_warm_loop measures ~0.6 s per warm single query at
local[32] while the batch path does ~25-50 q/s — this probe breaks the
single-query wall into its parts so the floor is a measurement, not a
shrug:

  plan    driver-side DataFrame construction (py4j round trips, analysis)
  sched   job submission -> task launch + inter-job/stage gaps
  task    Σ task run time / busy cores (the actual compute)
  other   collect residue (py4j result fetch, driver deserialization)

Method: one session with the event log enabled; M warm queries, each
bracketed by wall timestamps and run under its own job group; the event
log is sliced per query afterwards. Config variants (shuffle partitions
for the scoring exchange, AQE coalescing) are toggled at runtime between
rounds — both are session-conf levers a serving deployment controls.

Usage: python scripts/warm_query_probe.py [n_docs] [queries_per_variant]
Prints one JSON line per variant + a summary.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from searchenginer_spark.session import get_spark  # noqa: E402
from searchenginer_spark.sources.corpus import build_docs  # noqa: E402
from searchenginer_spark.cache import CacheScope  # noqa: E402
from searchenginer_spark.plans.bm25 import Bm25CompressedIndex  # noqa: E402
from searchenginer_spark.plans.build_index import (  # noqa: E402
    IndexPaths, build_index, open_postings,
)

QUERIES = ["int return value", "def id42 result", "for while void",
           "id1729 id999 self", "int open close"]


def parse_events(evdir: str):
    """(job_spans, task_spans) lists of (submit_ms, end_ms, extra)."""
    files = []
    for root, _d, fns in os.walk(evdir):
        files += [os.path.join(root, fn) for fn in fns if "appstatus" not in fn]
    jobs, tasks = [], []
    for f in files:
        with open(f) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except Exception:
                    continue
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    jobs.append({"id": ev["Job ID"], "sub": ev["Submission Time"]})
                elif e == "SparkListenerJobEnd":
                    for j in jobs:
                        if j["id"] == ev["Job ID"]:
                            j["end"] = ev["Completion Time"]
                elif e == "SparkListenerTaskEnd":
                    ti = ev.get("Task Info", {})
                    tm = ev.get("Task Metrics") or {}
                    tasks.append({
                        "launch": ti.get("Launch Time", 0),
                        "finish": ti.get("Finish Time", 0),
                        "run": (tm.get("Executor Run Time", 0) or 0),
                        "deser": (tm.get("Executor Deserialize Time", 0) or 0),
                    })
    return jobs, tasks


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    m = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    evdir = tempfile.mkdtemp()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    conf = {
        "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(256 * 1024),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(4 * 1024 * 1024),
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": evdir,
        "spark.eventLog.compress": "false",
    }
    spark = get_spark("warmprobe", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    docs = build_docs(spark, n_docs, seed=42, num_partitions=cpus).persist()
    docs.count()
    root = tempfile.mkdtemp()
    build_index(docs, root, docs_per_part=max(256, n_docs // 64))
    scope = CacheScope()  # the handle's tables, cached for the whole probe
    idx = Bm25CompressedIndex(
        spark,
        scope.persist(open_postings(spark, root)),
        scope.persist(spark.read.parquet(IndexPaths(root).term_dict)),
        docs_per_part=max(256, n_docs // 64),
    )
    for q in QUERIES[:3]:
        idx.search(q, k=10, mode="or").collect()  # warm: JIT, caches, workers

    variants = [
        {"name": "default_sp32_aqe_on", "sp": str(cpus), "aqe": "true"},
        {"name": "sp8_aqe_on", "sp": "8", "aqe": "true"},
        {"name": "sp4_aqe_off", "sp": "4", "aqe": "false"},
        {"name": "sp8_aqe_off", "sp": "8", "aqe": "false"},
    ]
    windows = []
    for v in variants:
        spark.conf.set("spark.sql.shuffle.partitions", v["sp"])
        spark.conf.set("spark.sql.adaptive.enabled", v["aqe"])
        idx.search(QUERIES[0], k=10, mode="or").collect()  # re-warm variant
        runs = []
        for i in range(m):
            q = QUERIES[i % len(QUERIES)]
            w0 = time.time_ns() // 1_000_000
            t0 = time.monotonic()
            df = idx.search(q, k=10, mode="or" if i % 2 else "and")
            t1 = time.monotonic()
            df.collect()
            t2 = time.monotonic()
            w1 = time.time_ns() // 1_000_000
            runs.append({"plan_s": t1 - t0, "exec_s": t2 - t1,
                         "w0": w0, "w1": w1})
        windows.append({"variant": v["name"], "runs": runs})

    spark.stop()
    time.sleep(2)
    jobs, tasks = parse_events(evdir)

    out = []
    for w in windows:
        tot_plan = sum(r["plan_s"] for r in w["runs"])
        tot_exec = sum(r["exec_s"] for r in w["runs"])
        agg = {"plan_ms": 0.0, "sched_ms": 0.0, "task_core_ms": 0.0,
               "jobspan_ms": 0.0, "other_ms": 0.0, "jobs": 0, "tasks": 0}
        for r in w["runs"]:
            js = [j for j in jobs if "end" in j and r["w0"] <= j["sub"] <= r["w1"]]
            ts = [t for t in tasks if r["w0"] <= t["launch"] <= r["w1"]]
            span = sum(j["end"] - j["sub"] for j in js)
            trun = sum(t["run"] + t["deser"] for t in ts)
            # busy-core-normalized compute inside the job spans
            agg["jobs"] += len(js)
            agg["tasks"] += len(ts)
            agg["jobspan_ms"] += span
            agg["task_core_ms"] += trun
            exec_ms = r["exec_s"] * 1000
            agg["other_ms"] += max(exec_ms - span, 0.0)
        n = len(w["runs"])
        res = {
            "variant": w["variant"],
            "per_query_ms": round(1000 * (tot_plan + tot_exec) / n, 1),
            "plan_ms": round(1000 * tot_plan / n, 1),
            "exec_ms": round(1000 * tot_exec / n, 1),
            "job_span_ms": round(agg["jobspan_ms"] / n, 1),
            "collect_residue_ms": round(agg["other_ms"] / n, 1),
            "task_core_ms": round(agg["task_core_ms"] / n, 1),
            "jobs_per_query": round(agg["jobs"] / n, 1),
            "tasks_per_query": round(agg["tasks"] / n, 1),
        }
        out.append(res)
        print(json.dumps(res))
    print(json.dumps({"n_docs": n_docs, "cpus": cpus, "variants": out}))


if __name__ == "__main__":
    main()
