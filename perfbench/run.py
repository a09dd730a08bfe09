#!/usr/bin/env python3
"""Benchmark of the searchenginer_spark engine: index builds plus query
traffic, end to end and layer by layer.

    python3 perfbench/run.py --workload serve|batch --seed N --seconds S --trace 0|1

Run it from the root of a checkout. Each run opens its own Spark session
at ``local[<cpus>]``, generates its corpus and traffic from ``--seed``,
times the build of the index the queries read and ``--seconds`` of
query traffic, checks the answers, and prints one JSON line last. ``--trace 1`` adds the
per-layer probes. perfbench/README.md describes the workloads and
metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import sys
import tempfile
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from concurrent.futures import ThreadPoolExecutor

from gen import BATCH_CYCLE, SERVE_CYCLE, make_request, stream
from layers import (
    JobCounter,
    adopt_orphans,
    cpu_probe,
    end_children,
    median,
    percentile,
    persisted_ids,
    release_new_rdds,
    spark_totals,
)

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

N_DOCS = 1000
DOCS_PER_PART = 128
K = 10
BATCH_SIZE = 200
SETUP_REPS = 3
ORACLE_SAMPLE = 8
MIN_BATCH_CALLS = 4
C4_SECONDS = 4.0
WORKLOADS = ("serve", "batch")


class Run:
    """Counts checked operations and collects what the run reports."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.detail: dict = {}
        self.windows: list[tuple[float, float]] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)
        return ok


def isolate(work: str) -> None:
    """Keep the temporary files of this process, the JVM and the Python
    workers inside ``work``."""
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    os.environ["SPARK_LOCAL_DIRS"] = work
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"


def start_session(cpus: int, work: str, trace: bool):
    from searchenginer_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)
    # the session's own background warm-up is part of starting it
    for t in threading.enumerate():
        if t.name == "session-warmup":
            t.join()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Let the session's JVM exit: it does when its stdin closes.
    ``end_children`` then waits for it and for its Python workers."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()


def same_ranking(got, want) -> bool:
    """Same doc_ids in the same rank order, with scores equal up to
    summation order. Scores are compared unrounded: the hot terms' idf is
    so small that rounding would collapse the top-k into ties."""
    got = sorted(got, key=lambda r: (-r[1], r[0]))
    want = sorted(want, key=lambda r: (-r[1], r[0]))
    return [d for d, _ in got] == [d for d, _ in want] and all(
        math.isclose(a, b, rel_tol=1e-9) for (_, a), (_, b) in zip(got, want)
    )


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# --------------------------------------------------------------- builds


def timed_build(run: Run, spark, docs, root: str, keep: set, **kw) -> tuple[float, dict]:
    """One timed build to a fresh root, then release what it left cached.
    Returns (wall seconds, build summary)."""
    from searchenginer_spark.plans.build_index import build_index

    t = time.perf_counter()
    summary = build_index(docs, root, docs_per_part=DOCS_PER_PART, **kw)
    wall = time.perf_counter() - t
    run.layers["cache.leaked_rdds"] = run.layers.get("cache.leaked_rdds", 0) + (
        release_new_rdds(spark, keep)
    )
    return wall, summary


def check_build(run: Run, summary: dict, lo: int, hi: int, what: str) -> None:
    parts = math.ceil(N_DOCS / DOCS_PER_PART)
    run.check(
        lo <= summary["n_docs"] <= hi and summary["parts_total"] == parts,
        f"{what} build: n_docs={summary['n_docs']} (want {lo}..{hi}), "
        f"parts_total={summary['parts_total']} (want {parts})",
    )


# -------------------------------------------------------------- serving


def http_call(port: int, req) -> tuple[bool, dict | str]:
    if req.kind == "suggest":
        path = "/api/suggest?" + urllib.parse.urlencode({"word": req.text, "k": K})
    else:
        path = "/api/search?" + urllib.parse.urlencode(
            {"query": req.text, "k": K, "mode": "or"}
        )
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=60) as r:
            return r.status == 200, json.loads(r.read())
    except (urllib.error.URLError, OSError, ValueError) as e:
        return False, f"{type(e).__name__}: {e}"


def reply_ok(req, ok: bool, body) -> bool:
    if not ok or not isinstance(body, dict):
        return False
    if req.kind == "suggest":
        sims = [s["sim"] for s in body.get("suggestions", [])]
        return bool(sims) and sims == sorted(sims, reverse=True)
    return isinstance(body.get("results"), list) and len(body["results"]) <= K


def closed_loop(
    port: int, seed: int, seconds: float, clients: int, first_stream: int,
    requests: int | None = None,
):
    """``clients`` threads, each sending its next request when the reply
    to the previous one arrives, until ``seconds`` have passed or each
    sent ``requests``. Returns (per-request records, wall seconds until
    the last reply)."""

    t0 = time.perf_counter()
    deadline = t0 + seconds

    def client(i: int):
        out = []
        # clients start spread over the cycle, so a short loop still
        # sends every kind of request
        offset = i * len(SERVE_CYCLE) // clients
        for req in stream(seed, first_stream + i, SERVE_CYCLE, offset):
            if time.perf_counter() >= deadline or len(out) == requests:
                break
            t = time.perf_counter()
            ok, body = http_call(port, req)
            out.append((req, time.perf_counter() - t, ok, body, time.perf_counter()))
        return out

    with ThreadPoolExecutor(clients) as ex:
        futures = [ex.submit(client, i) for i in range(clients)]
        recs = [r for f in futures for r in f.result()]
    return recs, max(r[4] for r in recs) - t0


def workload_serve(run: Run, spark, root: str, seed: int, seconds: float, cpus: int):
    """Set-up reps (gateway start + first answer), then the closed loop
    with ``cpus`` clients. Returns the server left running and the
    observed replies of plain-term queries."""
    from searchenginer_spark.serving import SearchServer

    first = next(stream(seed, 0, SERVE_CYCLE))
    setups, server = [], None
    for _ in range(SETUP_REPS):
        if server is not None:
            server.shutdown()
        t = time.perf_counter()
        server = SearchServer(spark, root).start()
        ok, body = http_call(server.port, first)
        setups.append(time.perf_counter() - t)
        run.check(reply_ok(first, ok, body), f"setup request: {body}")
    run.metrics["setup_s"] = median(setups)

    t0 = time.time()
    recs, wall = closed_loop(server.port, seed, seconds, cpus, first_stream=1)
    run.windows.append((t0, time.time()))
    search = [r[1] * 1000 for r in recs if r[0].kind != "suggest"]
    suggest_ms = [r[1] * 1000 for r in recs if r[0].kind == "suggest"]
    observed = []
    for req, _dt, ok, body, _end in recs:
        if run.check(reply_ok(req, ok, body), f"{req.kind} {req.text!r}: {body}") and req.plain:
            observed.append((req, [(r["doc_id"], r["score"]) for r in body["results"]]))
    run.metrics["query_per_s"] = len(recs) / wall
    run.metrics["query_p50_ms"] = median(search)
    run.detail.update(
        serve_qps={"value": len(recs) / wall, "unit": "1/s", "n": len(recs)},
        serve_search_p50_ms={"value": median(search), "unit": "ms", "n": len(search)},
        serve_search_p90_ms={"value": percentile(search, 90), "unit": "ms", "n": len(search)},
        serve_suggest_p50_ms={"value": median(suggest_ms), "unit": "ms", "n": len(suggest_ms)},
    )
    return server, observed, median(search)


def workload_batch(run: Run, spark, root: str, seed: int, seconds: float):
    """Set-up reps (open the index + first answer), then back-to-back
    ``search_query_batch`` calls of BATCH_SIZE unique queries."""
    from searchenginer_spark.plans.build_index import open_index

    gen = stream(seed, 1, BATCH_CYCLE)
    first = next(stream(seed, 0, BATCH_CYCLE))
    setups = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        idx = open_index(spark, root)
        idx.search_query_batch({"0": first.text}, k=K, mode="or").collect()
        setups.append(time.perf_counter() - t)
    run.metrics["setup_s"] = median(setups)

    calls, observed, n_calls = [], [], 0
    t0, start = time.time(), time.perf_counter()
    while time.perf_counter() - start < seconds or n_calls < MIN_BATCH_CALLS:
        reqs = {f"q{n_calls * BATCH_SIZE + i}": next(gen) for i in range(BATCH_SIZE)}
        n_calls += 1
        t = time.perf_counter()
        try:
            rows = idx.search_query_batch(
                {qid: r.text for qid, r in reqs.items()}, k=K, mode="or"
            ).collect()
        except Exception as e:  # a failed call fails all its queries
            for _ in reqs:
                run.check(False, f"batch call: {type(e).__name__}: {e}")
            continue
        calls.append(time.perf_counter() - t)
        by_q: dict[str, list] = {qid: [] for qid in reqs}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        for qid, req in reqs.items():
            hits = by_q.get(qid, [])
            ok = run.check(len(hits) <= K, f"batch {req.text!r}: {len(hits)} rows")
            if ok and req.plain:
                observed.append((req, hits))
        run.check(set(by_q) <= set(reqs), "batch returned unknown query ids")
    wall = time.perf_counter() - start
    run.windows.append((t0, time.time()))
    run.metrics["query_per_s"] = BATCH_SIZE * len(calls) / wall
    run.metrics["query_p50_ms"] = median(calls) * 1000
    run.detail.update(
        batch_qps={"value": BATCH_SIZE * len(calls) / wall, "unit": "1/s", "n": BATCH_SIZE * len(calls)},
        batch_call_p50_ms={"value": median(calls) * 1000, "unit": "ms", "n": len(calls)},
    )
    return idx, observed


def oracle_gate(run: Run, docs, observed: list, seed: int) -> None:
    """Rank identity of a seeded sample of the plain-term answers against
    the pure-Python BM25 oracle that pins the DataFrame engine. Queries
    with a term that matches nothing must come back empty; they are
    checked apart, as the oracle cannot tell them from a wrong answer."""
    from searchenginer_spark.plans.bm25_dataframe import bm25_oracle_python

    ranked = []
    for req, got in observed:
        if req.kind == "miss":
            run.check(got == [], f"{req.text!r} matched {len(got)} docs")
        else:
            ranked.append((req, got))
    sample = random.Random(seed).sample(ranked, min(ORACLE_SAMPLE, len(ranked)))
    if not run.check(len(sample) > 0, "no plain-term answers to check"):
        return
    texts = [(r["doc_id"], r["content"]) for r in docs.select("doc_id", "content").collect()]
    for req, got in sample:
        terms, mode = req.plain
        want = bm25_oracle_python(texts, terms, k=K, mode=mode)
        run.check(same_ranking(got, want), f"rank mismatch on {req.text!r}")


# --------------------------------------------------------------- traced


def trace_probes(
    run: Run, spark, docs, facts, work: str, keep: set, root: str,
    seed: int, cpus: int, server, c4_p50: float | None,
):
    """Per-layer numbers, timed from outside around calls into each
    module's public functions, after the measured window."""
    import re

    from pyspark.sql import functions as F
    from searchenginer_spark.functions.queryparse import parse_query
    from searchenginer_spark.functions.tokenize import IDENT_RE
    from searchenginer_spark.operators import stats as S
    from searchenginer_spark.operators.dict import build_term_dict
    from searchenginer_spark.operators.postings import build_postings
    from searchenginer_spark.operators.suggest import suggest
    from searchenginer_spark.plans.build_index import open_index
    from searchenginer_spark.serving import SearchServer

    jc = JobCounter(spark)
    L = run.layers

    # operators, each called directly and materialized
    t = time.perf_counter()
    tf = S.term_frequencies(docs, text_col="content").persist()
    tf.count()
    L["stats.term_frequencies_s"] = time.perf_counter() - t
    t = time.perf_counter()
    td = build_term_dict(S.document_frequencies(tf)).persist()
    L["term_dict.terms"] = td.count()
    L["dict.build_term_dict_s"] = time.perf_counter() - t
    t = time.perf_counter()
    dl = S.doc_lengths(tf)
    post = build_postings(tf, dl, td, S.corpus_stats(dl), DOCS_PER_PART).persist()
    L["postings.rows"] = post.count()
    L["postings.build_postings_s"] = time.perf_counter() - t
    L["postings.bytes"] = post.agg(
        F.sum(F.octet_length("docs") + F.octet_length("tfs") + F.octet_length("scores"))
    ).first()[0]
    for df in (post, td, tf):
        df.unpersist()

    # the simhash dedup build on the warm session, to a fresh root
    _, summary = timed_build(
        run, spark, docs, os.path.join(work, "dedup"), keep, dedup="simhash"
    )
    check_build(run, summary, facts["originals"], facts["distinct"], "simhash")
    L["build_index.dedup_s"] = summary["phases"]["setup"]

    # one request of every search kind, and a few suggest words
    rng = random.Random(seed + 999)
    searches = [make_request(rng, k) for k in ("and_rare", "must_not", "prefix", "phrase")]
    words = [make_request(rng, "suggest").text for _ in range(2)]

    parse_us = []
    for r in searches:
        t = time.perf_counter()
        parse_query(r.text)
        parse_us.append((time.perf_counter() - t) * 1e6)
    L["queryparse.parse_us"] = median(parse_us)

    # point path on a fresh, warmed handle
    idx = open_index(spark, root)
    idx.search_query(searches[0].text, k=K, mode="or").collect()
    lookup, plan, execute, jobs, tasks = [], [], [], [], []
    for r in searches:
        t = time.perf_counter()
        idx.lookup_terms(re.findall(IDENT_RE, r.text.lower()))
        lookup.append((time.perf_counter() - t) * 1000)
        with jc.span("point") as sp:
            t = time.perf_counter()
            frame = idx.search_query(r.text, k=K, mode="or")
            t1 = time.perf_counter()
            frame.collect()
            t2 = time.perf_counter()
        plan.append((t1 - t) * 1000)
        execute.append((t2 - t1) * 1000)
        jobs.append(sp["jobs"])
        tasks.append(sp["tasks"])
    L["bm25.lookup_ms"] = median(lookup)
    L["bm25.plan_ms"] = median(plan)
    L["bm25.execute_ms"] = median(execute)
    L["bm25.jobs_per_search"] = median(jobs)
    L["bm25.tasks_per_search"] = median(tasks)

    # batch path: one call of BATCH_SIZE queries
    bgen = stream(seed, 998, SERVE_CYCLE)
    batch = {}
    while len(batch) < BATCH_SIZE:
        r = next(bgen)
        if r.kind != "suggest":
            batch[str(len(batch))] = r.text
    with jc.span("batch") as sp:
        t = time.perf_counter()
        frame = idx.search_query_batch(batch, k=K, mode="or")
        t1 = time.perf_counter()
        frame.collect()
        t2 = time.perf_counter()
    L["bm25.batch_plan_s"] = t1 - t
    L["bm25.batch_execute_s"] = t2 - t1
    L["bm25.batch_jobs"] = sp["jobs"]
    L["bm25.batch_tasks"] = sp["tasks"]

    # suggest, called directly
    sug, sjobs = [], []
    for w in words:
        with jc.span("suggest") as sp:
            t = time.perf_counter()
            suggest(idx.term_dict, w, k=K).collect()
            sug.append((time.perf_counter() - t) * 1000)
        sjobs.append(sp["jobs"])
    L["suggest.execute_ms"] = median(sug)
    L["suggest.jobs_per_call"] = median(sjobs)

    # gateway: the route handler called directly, then the same request
    # over HTTP
    own = server is None
    if own:
        server = SearchServer(spark, root).start()
        http_call(server.port, searches[0])
    api, http = [], []
    for r in searches:
        t = time.perf_counter()
        server.api_search({"query": r.text, "k": str(K), "mode": "or"})
        t1 = time.perf_counter()
        ok, body = http_call(server.port, r)
        t2 = time.perf_counter()
        api.append((t1 - t) * 1000)
        http.append((t2 - t1) * 1000)
        run.check(reply_ok(r, ok, body), f"trace request {r.text!r}: {body}")

    def search_p50(clients: int, seconds: float, first_stream: int, requests=None) -> float:
        recs, _ = closed_loop(server.port, seed, seconds, clients, first_stream, requests)
        for req, _dt, ok, body, _end in recs:
            run.check(reply_ok(req, ok, body), f"{req.kind} {req.text!r}: {body}")
        return median([d * 1000 for q, d, *_ in recs if q.kind != "suggest"])

    # queueing: one client over one whole serve cycle, against the
    # 4-client loop over the same cycle (a short one if the workload has
    # none)
    c1_p50 = search_p50(1, math.inf, 600, len(SERVE_CYCLE))
    if c4_p50 is None:
        c4_p50 = search_p50(cpus, C4_SECONDS, 500)
    L["serving.api_search_ms"] = median(api)
    L["serving.http_ms"] = median(http) - median(api)
    L["serving.c1_search_p50_ms"] = c1_p50
    L["serving.queue_wait_ms"] = c4_p50 - c1_p50
    if own:
        server.shutdown()


# ----------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    sys.path.insert(0, REPO)
    try:
        import pyspark  # noqa: F401

        import searchenginer_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2

    # a run stopped by SIGTERM still stops what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    adopt_orphans()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    isolate(work)
    run = Run()
    t_start = time.perf_counter()

    def mark(phase: str) -> None:
        run.detail.setdefault("elapsed_s", {})[phase] = time.perf_counter() - t_start

    spark = server = None
    try:
        run.detail["cpu_probe_before"] = cpu_probe(cpus)
        t = time.perf_counter()
        spark = start_session(cpus, work, trace)
        run.layers["session.start_s"] = time.perf_counter() - t
        mark("session")

        from pyspark.sql import functions as F
        from searchenginer_spark.sources.corpus import build_docs

        t = time.perf_counter()
        docs = build_docs(spark, N_DOCS, seed=args.seed, num_partitions=cpus).persist()
        docs.count()
        run.layers["corpus.generate_s"] = time.perf_counter() - t
        keep = persisted_ids(spark)
        # the simhash build drops every exact copy and may catch each
        # injected near-duplicate (a renamed identifier)
        facts = docs.agg(
            F.sum(F.octet_length("content")).alias("bytes"),
            F.countDistinct("content_sha256").alias("distinct"),
            F.countDistinct(
                F.when(~F.col("content").contains("renamed_ident"), F.col("content_sha256"))
            ).alias("originals"),
        ).first()
        mark("corpus")

        # one timed build, right after the session's own warm-up: it writes
        # the index the queries read, with positions for phrase clauses. It
        # is the session's first build, so it pays the JIT and Spark's code
        # generation as a fresh build command would; a second, warm build
        # would not fit the time all runs may take (see README, Scope).
        served = os.path.join(work, "served")
        t0 = time.time()
        wall, summary = timed_build(run, spark, docs, served, keep, with_positions=True)
        run.windows.append((t0, time.time()))
        check_build(run, summary, N_DOCS, N_DOCS, "served")
        run.metrics["index_docs_per_s"] = N_DOCS / wall
        for name in ("dict", "stats", "encode", "listing", "metrics", "docs_write_wait"):
            run.layers[f"build_index.{name}_s"] = summary["phases"][name]
        index_bytes = sum(
            tree_bytes(os.path.join(served, t)) for t in ("postings", "term_dict")
        )
        run.metrics["index_bytes_per_input_byte"] = index_bytes / facts["bytes"]
        mark("build")

        c4_p50 = None
        if args.workload == "serve":
            server, observed, c4_p50 = workload_serve(
                run, spark, served, args.seed, args.seconds, cpus
            )
        else:
            _, observed = workload_batch(run, spark, served, args.seed, args.seconds)
        mark("queries")
        survivors = spark.read.parquet(os.path.join(served, "docs"))
        oracle_gate(run, survivors, observed, args.seed)
        run.layers["cache.leaked_rdds"] += release_new_rdds(spark, keep)
        mark("oracle")

        if trace:
            trace_probes(
                run, spark, docs, facts, work, keep, served, args.seed, cpus, server, c4_p50
            )
            mark("trace")
        if server is not None:
            server.shutdown()
            server = None
        spark.stop()
        spark = None
        if trace:
            run.layers.update(spark_totals(os.path.join(work, "eventlog"), run.windows))
            run.layers["trace.query_per_s"] = run.metrics["query_per_s"]
            run.layers["trace.query_p50_ms"] = run.metrics["query_p50_ms"]
            run.layers["trace.index_docs_per_s"] = run.metrics["index_docs_per_s"]
    finally:
        # the JVM and its workers are stopped and waited for even when
        # stopping the session fails (a SIGTERM can break the py4j link)
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            if server is not None:
                server.shutdown()
            if spark is not None:
                spark.stop()
        finally:
            stop_jvm()
            end_children()
            shutil.rmtree(work, ignore_errors=True)
    mark("stop")
    run.detail["cpu_probe_after"] = cpu_probe(cpus)

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if trace else "end_to_end"]
    measured = run.layers if trace else run.metrics
    out = {
        m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
        for m in declared
        if m["name"] in measured
    }
    missing = [m["name"] for m in declared if m["name"] not in out]
    if missing:
        run.check(False, f"metrics not measured: {missing}")
    run.detail["errors"] = run.errors
    print(json.dumps({"detail": run.detail, "workload": args.workload, "seed": args.seed}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
