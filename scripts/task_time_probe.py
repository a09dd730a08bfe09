#!/usr/bin/env python
"""Work-inflation vs scheduler-occupancy decomposition for the scaling pair.

Runs ONE measured index build at a pinned parallelism level with the Spark
event log enabled, then sums `Executor Run Time` over exactly the measured
build's tasks. Comparing two levels decomposes wall-clock scaling
efficiency via the identity

    wall_N = sum_task_N / (N * occupancy_N)
    eff(A->B) = (sum_task_A / sum_task_B) * (occupancy_B / occupancy_A)

The first factor is per-core work inflation (single-socket cache/membus/
hypervisor sharing — absent from a real N vs 4N executor comparison, where
per-executor resources are constant); the second is scheduler occupancy,
the Spark-side term the engine's design actually controls.

Usage: taskset -c 0-(N-1) python scripts/task_time_probe.py N [n_docs]
Prints one JSON line; results discussed in BENCH/BASELINE.md §Decomposition.
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
from searchenginer_spark.plans.build_index import build_index  # noqa: E402


def main() -> None:
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    evdir = tempfile.mkdtemp()
    conf = {
        "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(256 * 1024),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(4 * 1024 * 1024),
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": evdir,
        "spark.eventLog.compress": "false",
    }
    spark = get_spark(
        "ttprobe", master=f"local[{cpus}]", shuffle_partitions=max(8, cpus), extra_conf=conf
    )
    docs = build_docs(spark, n_docs, seed=42, num_partitions=max(8, cpus)).persist()
    docs.count()
    warm = docs.limit(2000).persist()
    warm.count()
    build_index(warm, tempfile.mkdtemp(), docs_per_part=500)
    warm.unpersist()

    # wall-clock window brackets the measured build so the event-log slice
    # excludes corpus generation and the warm-up
    t0 = time.time_ns() // 1_000_000
    t = time.monotonic()
    build_index(docs, tempfile.mkdtemp(), docs_per_part=max(256, n_docs // 64))
    wall = time.monotonic() - t
    t1 = time.time_ns() // 1_000_000
    spark.stop()
    time.sleep(2)  # let the event-log writer flush

    run_ms = gc_ms = 0
    ntasks = 0
    files: list[str] = []
    for root, _dirs, fns in os.walk(evdir):  # Spark 4 rolling eventlog dirs
        files += [os.path.join(root, fn) for fn in fns if "appstatus" not in fn]
    for f in files:
        with open(f, "rt") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except Exception:
                    continue
                if ev.get("Event") != "SparkListenerTaskEnd":
                    continue
                ti = ev.get("Task Info", {})
                if not (t0 <= ti.get("Launch Time", 0) <= t1):
                    continue
                tm = ev.get("Task Metrics") or {}
                run_ms += tm.get("Executor Run Time", 0)
                gc_ms += tm.get("JVM GC Time", 0)
                ntasks += 1
    print(
        json.dumps(
            {
                "cpus": cpus,
                "n_docs": n_docs,
                "wall_s": round(wall, 2),
                "n_tasks": ntasks,
                "task_core_s": round(run_ms / 1000, 1),
                "gc_core_s": round(gc_ms / 1000, 1),
                "occupancy": round(run_ms / 1000 / (wall * cpus), 3),
            }
        )
    )


if __name__ == "__main__":
    main()
