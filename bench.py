#!/usr/bin/env python
"""Headline benchmark. Prints ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {<name>: sec, ...}, "sf": <sf>, "extras": {...}}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default: the CPUs this process may run on)
                                      -> master local[N] + shuffle partitions,
                                         reported as extras.cpus,
     BENCH_CORPUS_DOCS  (default 20000) -> synthetic corpus size for the
                                           index-build phase.

Phases: synthetic corpus gen + doc_id minting, full inverted-index build
(resumable pipeline), compressed BM25 queries (AND/OR, warm index), dedup
(MinHash-LSH + SimHash banded), ANN cosine, generic SQL ops at the sf dir.
Executor scaling is measured apart, by scripts/run_isolated_scaling.py.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from contextlib import nullcontext

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


_CPUPROBE = r"""
import time, multiprocessing as mp, json
def cpu(_):
    t = time.monotonic(); n = 0; x = 12345
    while time.monotonic() - t < 2.0:
        for _ in range(100000):
            x = (x * 6364136223846793005 + 1442695040888963407) & ((1 << 64) - 1)
        n += 1
    return n
out = {}
for nproc in (1, {nproc}):
    with mp.Pool(nproc) as p:
        out[str(nproc)] = sum(p.map(cpu, range(nproc)))
print(json.dumps(out))
"""


def cpu_probe(nproc: int) -> float:
    """Register-resident multi-process scaling efficiency (nproc vs 1) —
    the in-window hypervisor-steal indicator the scaling harness uses
    (scripts/run_isolated_scaling.py). ~1.0 = clean window; <0.8 = the
    wall numbers in this artifact are contaminated by host contention.
    Embedded IN the bench JSON (r5 verdict item 3) so every artifact can
    prove — or disclaim — its own window."""
    import json as _json
    import subprocess

    out = subprocess.run(
        [sys.executable, "-c", _CPUPROBE.replace("{nproc}", str(max(nproc, 2)))],
        capture_output=True, text=True, check=True,
    )
    d = _json.loads(out.stdout.strip().splitlines()[-1])
    n = str(max(nproc, 2))
    return round(d[n] / (int(n) * d["1"]), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    n_corpus = int(os.environ.get("BENCH_CORPUS_DOCS", "20000"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from pyspark.sql import functions as F

    from searchenginer_spark.cache import CacheScope, current_scope, scoped
    from searchenginer_spark.operators.ann import cosine_topk
    from searchenginer_spark.operators.dedup import minhash_lsh_pairs, simhash_near_pairs
    from searchenginer_spark.functions.hashing import simhash, tfidf_top_keywords
    from searchenginer_spark.plans.bm25_dataframe import Bm25DataFrameIndex
    from searchenginer_spark.plans.bm25 import Bm25CompressedIndex
    from searchenginer_spark.plans.build_index import (
        IndexPaths, build_index, open_index, open_postings,
    )
    from searchenginer_spark.session import get_spark
    from searchenginer_spark.sources.corpus import build_docs

    # small-input splits: at bench scale the 128MB default would serialize
    # scans into a couple of tasks; real-cluster deployments keep defaults
    spark = get_spark(
        "bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(8, cpus),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(256 * 1024),
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(4 * 1024 * 1024),
        },
    )

    timings: dict[str, float] = {}
    extras: dict[str, float] = {"cpus": cpus, "corpus_docs": n_corpus}
    extras["cpu_probe_pre"] = cpu_probe(min(cpus, 16))

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def timed(name: str, fn, reps: int = 1, keep: bool = False):
        """Record fn's wall. reps>1 = best-of-N (first result kept): the
        shared host's CPU-steal bursts add 50-100% to a single shot of the
        short operator phases, so one-rep numbers misrepresent round-over-
        round deltas. Build phases (side-effecting, minutes-long) stay 1.

        Each rep runs in a CacheScope of its own and must leave the
        persisted-RDD id set as it found it, so no rep reads a cache an
        earlier rep left behind. ``keep=True`` phases build state that
        later phases read: they cache into the session-lifetime root scope
        instead, and are not checked."""
        out = None
        best = None
        for r in range(reps):
            before = persisted()
            with nullcontext() if keep else CacheScope():
                t = time.monotonic()
                o = fn()
                w = time.monotonic() - t
            if not keep:
                left = persisted() - before
                assert not left, f"{name} rep {r} left persisted RDDs {sorted(left)}"
            if best is None or w < best:
                best = w
            if r == 0:
                out = o
        timings[name] = round(best, 3)
        return out

    # ---- corpus generation + doc_id minting --------------------------------
    root = tempfile.mkdtemp(prefix="bench_idx_")
    try:
        def _corpus():
            d = build_docs(spark, n_corpus, seed=42, num_partitions=cpus).persist()
            d.count()
            return d

        docs = timed("corpus_build", _corpus, keep=True)

        # warm-up build: JVM JIT + python-worker spawn + committer init are
        # session costs, not job costs; a tiny build pays them up front so
        # index_build measures steady-state throughput
        warm = docs.limit(1000).persist()
        warm.count()
        timed("warmup_build", lambda: build_index(warm, root + "_warm", docs_per_part=256))
        warm.unpersist()

        # ---- inverted index build (the north-rule job) ---------------------
        # docs_per_part is a property of the DATA, not the cluster size —
        # keep it identical across scaling runs so the job is the same job.
        # Best-of-2 to FRESH roots (a rerun to the same root would resume
        # and time a no-op); queries below read the first root.
        build_roots = iter([root, root + "_rep1"])
        summary = timed(
            "index_build",
            lambda: build_index(
                docs, next(build_roots), docs_per_part=max(256, n_corpus // 64)
            ),
            reps=2,
        )
        extras["index_docs_per_sec"] = round(n_corpus / timings["index_build"], 1)
        extras["index_parts"] = summary["parts_total"]
        # mid-run probe: the pre/post pair can sandwich a degraded
        # stretch (seen: probes 0.95/1.15 around indexing at half its
        # clean-window rate) — pin the window of the headline
        # throughput number specifically
        extras["cpu_probe_post_index"] = cpu_probe(min(cpus, 16))

        # ---- BM25 queries over the compressed index (warm) -----------------
        # the warm handle's tables stay cached through the query phases
        query_scope = CacheScope()
        idx = Bm25CompressedIndex(
            spark,
            query_scope.persist(open_postings(spark, root)),
            query_scope.persist(spark.read.parquet(IndexPaths(root).term_dict)),
            docs_per_part=max(256, n_corpus // 64),
        )
        idx.search("int return", k=10).collect()  # warmup / cache fill

        bm25_queries = {
            "bm25_and_hot": ("int return value", "and"),
            "bm25_and_mixed": ("def id42 result", "and"),
            "bm25_or_hot": ("for while void", "or"),
            "bm25_or_rare": ("id1729 id999 self", "or"),
        }
        lat = []
        for name, (q, mode) in bm25_queries.items():
            runs = []
            for _ in range(3):
                t = time.monotonic()
                idx.search(q, k=10, mode=mode).collect()
                runs.append(time.monotonic() - t)
            # first run stays the phase number (comparable with r01/r02
            # single-shot protocol); median-of-3 disarms run-to-run jitter
            timings[name] = round(runs[0], 3)
            extras[f"{name}_med3_ms"] = round(1000 * sorted(runs)[1], 1)
            lat.append(runs[0])
        lat.sort()
        extras["bm25_p50_ms"] = round(1000 * lat[len(lat) // 2], 1)

        # warm-query serving loop: repeated single queries on one session —
        # evidences how much of the single-query floor amortizes when the
        # session, dict cache, and python workers stay warm (PLANS.md §6)
        n_loop = 20
        qlist = list(bm25_queries.values())
        t = time.monotonic()
        for i in range(n_loop):
            q, mode = qlist[i % len(qlist)]
            idx.search(q, k=10, mode=mode).collect()
        dt = time.monotonic() - t
        timings["bm25_warm_loop"] = round(dt, 3)
        extras["warm_loop_qps"] = round(n_loop / dt, 2)

        # serving-mode loop (r4): same queries after serving_mode() — AQE
        # off (kills the per-exchange job AQE adds), 8-partition scoring
        # exchange, coalesced cached postings. Protocol-identical to the
        # loop above otherwise; confs restored after (PLANS.md §6).
        aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
        sp0 = spark.conf.get("spark.sql.shuffle.partitions")
        sidx = open_index(spark, root).serving_mode(n_partitions=8)
        sidx.search("int return", k=10).collect()  # warm the coalesced cache
        t = time.monotonic()
        for i in range(n_loop):
            q, mode = qlist[i % len(qlist)]
            sidx.search(q, k=10, mode=mode).collect()
        dt = time.monotonic() - t
        timings["bm25_warm_loop_serving"] = round(dt, 3)
        extras["serving_loop_qps"] = round(n_loop / dt, 2)
        sidx.postings.unpersist()
        sidx.term_dict.unpersist()
        spark.conf.set("spark.sql.adaptive.enabled", aqe0)
        spark.conf.set("spark.sql.shuffle.partitions", sp0)

        # batched throughput: 100 queries in one Spark job
        batch = {
            f"b{i}": f"id{i * 13 % 2000} {'int' if i % 2 else 'return'} value"
            for i in range(100)
        }
        t = time.monotonic()
        idx.search_batch(batch, k=10, mode="or").collect()
        dt = time.monotonic() - t
        timings["bm25_batch_100"] = round(dt, 3)
        extras["batch_queries_per_sec"] = round(100 / dt, 1)

        # composed-grammar batch (must/NOT/bare clauses): grammar overhead
        # on top of the plain batch path should be compile-time only
        gbatch = {
            f"g{i}": f"+{'int' if i % 2 else 'return'} id{i * 13 % 2000} "
                     f"-id{(i * 7 + 3) % 2000}"
            for i in range(100)
        }
        t = time.monotonic()
        idx.search_query_batch(gbatch, k=10).collect()
        dt = time.monotonic() - t
        timings["grammar_batch_100"] = round(dt, 3)
        extras["grammar_batch_queries_per_sec"] = round(100 / dt, 1)
        query_scope.close()

        # ---- exact-phrase over a positions-enabled index -------------------
        # hot phrase = worst case: ~every doc is a conjunctive candidate, so
        # this times the vectorized adjacency verification, not the probe
        def _phrase_index():
            from searchenginer_spark.operators import stats as S
            from searchenginer_spark.operators.dict import build_term_dict
            from searchenginer_spark.operators.postings import build_postings
            from searchenginer_spark.plans.bm25 import Bm25CompressedIndex

            pdocs = docs.filter(F.col("doc_id") < n_corpus // 2)
            ptf = S.term_frequencies(pdocs, text_col="content", with_positions=True)
            pdl = S.doc_lengths(ptf)
            ptd = build_term_dict(S.document_frequencies(ptf)).persist()
            pp = build_postings(
                ptf, pdl, ptd, S.corpus_stats(pdl), docs_per_part=max(256, n_corpus // 64)
            ).persist()
            pp.count()
            return Bm25CompressedIndex(spark, pp, ptd)

        pidx = timed("phrase_index_build", _phrase_index, keep=True)
        timed("phrase_hot", lambda: pidx.search_phrase("int return", k=10).collect(), reps=2)

        # ---- chunk -> pack training-pipeline pass (pure JVM, no shuffle
        # until the per-group window) ---------------------------------------
        def _chunk_pack():
            from searchenginer_spark.functions.chunking import (
                chunk_documents,
                pack_chunks,
            )

            p = pack_chunks(
                chunk_documents(docs, max_tokens=128, overlap=16, text_col="content"),
                budget=512,
            )
            row = p.groupBy().agg(
                F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("tok")
            ).first()
            return row["n"], row["tok"]

        t = time.monotonic()
        n_chunks, n_tok = _chunk_pack()
        dt = time.monotonic() - t
        timings["chunk_pack"] = round(dt, 3)
        extras["chunk_tokens_per_sec"] = round(n_tok / dt, 1)

        # ---- dict-CJK segmentation throughput (the Arrow-UDF tokenizer
        # path: max-probability DAG segmenter over synthetic unsegmented
        # CJK built JVM-side) ------------------------------------------------
        def _cjk_seg():
            from searchenginer_spark.operators import stats as S

            pool = F.array(*[F.lit(w) for w in [
                "搜索引擎", "查询", "中文", "文档", "机器学习", "算法",
                "自然语言处理", "倒排索引", "构建", "数据", "系统", "我们",
                "使用", "支持", "分词", "信息检索", "模型", "性能",
            ]])
            cjk = spark.range(n_corpus).select(
                F.col("id").alias("doc_id"),
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(0), (F.col("id") % 8 + 12).cast("int")),
                        lambda j: F.element_at(
                            pool, ((F.col("id") * 7 + j * 5) % 18 + 1).cast("int")
                        ),
                    ),
                    "",
                ).alias("text"),
            )
            tf = S.term_frequencies(cjk, text_col="text", tokenizer="dict_cjk")
            return tf.groupBy().agg(F.sum("tf")).first()[0]

        t = time.monotonic()
        seg_toks = _cjk_seg()
        dt = time.monotonic() - t
        timings["cjk_dict_segment"] = round(dt, 3)
        extras["cjk_seg_docs_per_sec"] = round(n_corpus / dt, 1)
        extras["cjk_seg_tokens"] = int(seg_toks)

        # ---- PPMI embedding training (r5: JVM co-occurrence counting +
        # driver-side factorization of the vocab-capped matrix) -------------
        @scoped
        def _embed_train():
            from searchenginer_spark.operators.embed import (
                cooccurrence_counts,
                train_ppmi_vectors,
            )

            cooc = cooccurrence_counts(docs, text_col="content", window=4)
            tv = train_ppmi_vectors(cooc, dim=16, top_vocab=1024)
            return tv.count()

        t = time.monotonic()
        vocab_n = _embed_train()
        dt = time.monotonic() - t
        timings["embed_train"] = round(dt, 3)
        extras["embed_vocab"] = int(vocab_n)
        extras["embed_docs_per_sec"] = round(n_corpus / dt, 1)

        # ---- n-gram LM training + perplexity scoring (r5: stupid-backoff
        # quality gate — count shuffles + broadcast-join scoring, zero
        # Python rows) -------------------------------------------------------
        @scoped
        def _lm_score():
            from searchenginer_spark.operators.ngram_lm import (
                score_docs as lm_score_docs,
            )
            from searchenginer_spark.operators.ngram_lm import train_ngram_counts

            counts = train_ngram_counts(
                docs, order=3, text_col="content", min_count=2
            )
            # broadcast_counts=True: this model is min_count-pruned and
            # corpus-bounded — the documented explicit fast path. The
            # safe default instead sizes each table first (one extra
            # counting pass, ~2x this phase's wall at bench scale).
            scored = lm_score_docs(
                docs, counts, text_col="content", broadcast_counts=True
            )
            return scored.count()

        t = time.monotonic()
        lm_docs = _lm_score()
        dt = time.monotonic() - t
        timings["lm_train_score"] = round(dt, 3)
        extras["lm_docs_per_sec"] = round(lm_docs / dt, 1)

        # ---- dedup-integrated build (corpus -> simhash dedup -> index) -----
        # single fused tokenize pass (dedup_docs_and_tf): wall should sit at
        # ~index_build + the banded pair join, NOT at 2x tokenize
        dd_roots = iter([root + "_dd", root + "_dd2"])
        timed(
            "dedup_simhash_build",
            lambda: build_index(
                docs, next(dd_roots), docs_per_part=max(256, n_corpus // 64),
                dedup="simhash",
            ),
            reps=2,
        )

        # ---- dedup over the synthetic corpus -------------------------------
        ddocs = docs.select("doc_id", F.col("content").alias("text"))

        timed(
            "dedup_minhash_lsh",
            lambda: minhash_lsh_pairs(ddocs, threshold=0.7).count(),
            reps=2,
        )

        # ExactSubstr spans (Lee et al. 2022) at the paper-ish L=20: one
        # corpus shuffle of 16-byte gram ids; count + total duplicated
        # tokens so the phase exercises merge + output materialization
        from searchenginer_spark.operators.dedup import duplicated_spans

        def _substr():
            sp = duplicated_spans(ddocs, min_len=20)
            row = sp.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(F.col("span_end") - F.col("span_start")), F.lit(0)).alias("t"),
            ).collect()[0]
            return int(row["n"]), int(row["t"])

        (n_spans, dup_toks) = timed("dedup_substr_spans", _substr, reps=2)
        extras["substr_spans"] = n_spans
        extras["substr_dup_tokens"] = dup_toks
        extras["substr_docs_per_sec"] = round(n_corpus / timings["dedup_substr_spans"], 1)

        # shared tf/dft/stats tables for simhash + the vector path — persist
        # and materialize as their own phase so the downstream phases time
        # the OPERATORS, not three repeated corpus tokenizations
        def _stats_tables():
            i = Bm25DataFrameIndex.build(ddocs, text_col="text", persist=True)
            i.tf.count(), i.dl.count(), i.dft.count()
            return i

        dfidx = timed("corpus_stats_build", _stats_tables, keep=True)

        def _simhash_pairs():
            # both sides of the banded self-join read the fingerprints:
            # persist and fill them in this rep's scope, as the build does
            kw = tfidf_top_keywords(dfidx.tf, dfidx.dft, dfidx.stats, top_n=20)
            fp = current_scope().persist(simhash(kw))
            fp.count()
            return simhash_near_pairs(fp, max_hamming=3).count()

        timed("dedup_simhash", _simhash_pairs, reps=2)

        # ---- fastText-analog doc vectors + text-query cosine search --------
        from searchenginer_spark.operators.vectors import doc_vectors, vector_search_text

        def _doc_vectors():
            dv = doc_vectors(dfidx.tf, dfidx.dft, dfidx.stats, dim=16).persist()
            dv.count()
            return dv

        dv = timed("doc_vectors_build", _doc_vectors, keep=True)
        extras["doc_vectors_per_sec"] = round(n_corpus / timings["doc_vectors_build"], 1)
        timed(
            "vector_search_text",
            lambda: vector_search_text(
                "int return value", dv, dfidx.dft, dfidx.stats, k=10, dim=16
            ).collect(),
            reps=2,
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root + "_warm", ignore_errors=True)
        shutil.rmtree(root + "_dd", ignore_errors=True)
        shutil.rmtree(root + "_dd2", ignore_errors=True)
        shutil.rmtree(root + "_rep1", ignore_errors=True)

    # ---- generic operators at the sf dir -----------------------------------
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    timed("ann_cosine_topk", lambda: cosine_topk(emb, qvec, k=10).collect(), reps=2)

    # PQ: one-time train+encode (the write side), then the compressed probe
    from searchenginer_spark.operators.ann import pq_encode, pq_topk, pq_train

    def _pq_build():
        cb = pq_train(emb, m=8, n_codes=16, seed=42)
        coded = pq_encode(emb, cb).select("vec_id", "codes").persist()
        coded.count()
        return cb, coded

    pq_cb, pq_coded = timed("ann_pq_encode", _pq_build, keep=True)
    timed("ann_pq_topk", lambda: pq_topk(pq_coded, pq_cb, qvec, k=10).collect(), reps=2)
    pq_coded.unpersist()

    # IVF-PQ on the PARTITIONED disk layout (r6): build + partitionBy
    # write is the one-time cost; the probe reads only nprobe list_id
    # directories (partition pruning) and ADC-scores codes-only rows —
    # the 100 TB vector-serving configuration end to end
    from searchenginer_spark.operators.ann import (
        ivf_pq_build,
        ivf_pq_open,
        ivf_pq_query,
        ivf_pq_write,
    )

    ivf_dir = tempfile.mkdtemp(prefix="bench_ivfpq_")
    try:
        def _ivfpq_build_write():
            centroids, cbs, coded = ivf_pq_build(
                emb, n_lists=16, m=8, n_codes=16, seed=42
            )
            ivf_pq_write(f"{ivf_dir}/idx", centroids, cbs, coded, residual=True)
            return ivf_pq_open(spark, f"{ivf_dir}/idx")

        ivfidx = timed("ann_ivfpq_build_write", _ivfpq_build_write)
        timed(
            "ann_ivfpq_partitioned_probe",
            lambda: ivf_pq_query(ivfidx, qvec, k=10, nprobe=4).collect(),
            reps=2,
        )
    finally:
        shutil.rmtree(ivf_dir, ignore_errors=True)

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    timed(
        "tpch_pricing_summary",
        lambda: li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
        .collect(),
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    timed(
        "top_customers",
        lambda: o.groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("total_spent"))
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .orderBy(F.desc("total_spent"))
        .limit(20)
        .collect(),
    )

    extras["cpu_probe_post"] = cpu_probe(min(cpus, 16))
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "index_build_and_query_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "extras": extras,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
