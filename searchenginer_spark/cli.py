"""spark-submit entry points.

On a cluster:  spark-submit --py-files searchenginer_spark.zip -m ... or
               spark-submit cli.py <command> [args]
Commands:
  gen-corpus  --n 100000 --out /path            synthetic corpus table
  build-index --corpus /path --root /idx        (resumable; re-run to resume)
  query       --root /idx --q "int return" --k 10 --mode and
  search      --root /idx --q 'data +value -merge quer* "a b"~3 lang:de'
              (composed grammar, functions/queryparse; --docs for facets)
  suggest     --root /idx --q "retrun"
  serve       --root /idx --port 5679           HTTP gateway (r6):
              /api/search + /api/suggest JSON routes over a warm index
  embed-train --corpus /path --out /vecs        PPMI word vectors (r5)
  bpe-train   --corpus /path --out /merges      learned BPE tokenizer (r5)
  lm-score    --corpus /path --out /ppl         perplexity quality gate (r5)
  corpus-clean --corpus /path --out /clean      Gopher repetition gate +
              ExactSubstr duplicated-span strip (r6, Lee et al. 2022)
  bench       (same as bench.py)

The reference's equivalents are the makepage/MakeDictTool binaries and the
SRPC services (/root/reference/Make_Page/main.cpp, srpc/*); query/suggest
here are batch jobs, and `serve` is the thin driver-side analog of the
reference's wfrest gateway (src/Search_Engine_Server.cpp:44-77).
"""

from __future__ import annotations

import argparse
import json
import sys

from .cache import current_scope, scoped


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="searchenginer_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen-corpus")
    g.add_argument("--n", type=int, default=100_000)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--out", required=True)

    b = sub.add_parser("build-index")
    b.add_argument("--corpus", help="existing corpus parquet (repo,path,commit,lang,content)")
    b.add_argument("--n", type=int, help="...or generate n synthetic docs")
    b.add_argument("--root", required=True)
    b.add_argument("--docs-per-part", type=int, default=1 << 16)
    b.add_argument("--with-positions", action="store_true",
                   help="store positions (enables phrase/NEAR queries)")
    b.add_argument("--dedup", choices=["exact", "simhash"],
                   help="dedup the corpus before indexing (lowest doc_id wins)")
    b.add_argument("--tokenizer", choices=["cjk_bigram", "dict_cjk", "jieba"],
                   help="non-default token source (functions.tokenize)")

    q = sub.add_parser("query")
    q.add_argument("--root", required=True)
    q.add_argument("--q", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--mode", choices=["and", "or"], default="and")

    c = sub.add_parser("search")
    c.add_argument("--root", required=True)
    c.add_argument("--q",
                   help='composed grammar: data +must -not pre* "phrase" "a b"~3 field:value')
    c.add_argument("--batch-file",
                   help="file with one grammar query per line, scored as one "
                        "set (search_query_batch): no Spark job on an index of "
                        "at most 1M postings without facets, else one job")
    c.add_argument("--k", type=int, default=10)
    c.add_argument("--mode", choices=["and", "or"], default="or")
    c.add_argument("--docs", help="docs parquet path, required for field:value facets")

    s = sub.add_parser("suggest")
    s.add_argument("--root", required=True)
    s.add_argument("--q", required=True)
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--pad", action="store_true",
                   help="exactly k rows, '' fillers (reference wire shape)")

    sv = sub.add_parser("serve", help="HTTP gateway: /api/search + /api/suggest")
    sv.add_argument("--root", required=True)
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=5679)  # reference main.cpp:6
    sv.add_argument("--k", type=int, default=10)
    sv.add_argument("--no-serving-mode", action="store_true",
                    help="skip serving_mode() warm-cache tuning")

    e = sub.add_parser("embed-train",
                       help="PPMI word vectors from a corpus (operators/embed)")
    e.add_argument("--corpus", required=True)
    e.add_argument("--text-col", default="content")
    e.add_argument("--out", required=True, help="term-vector parquet sink")
    e.add_argument("--dim", type=int, default=16)
    e.add_argument("--window", type=int, default=4)
    e.add_argument("--top-vocab", type=int, default=2048)
    e.add_argument("--distributed", action="store_true",
                   help="randomized block eigendecomposition over the "
                        "distributed PPMI COO — no vocab cap, driver "
                        "holds only (dim+oversample)^2 (r6)")

    bp = sub.add_parser("bpe-train",
                        help="learned BPE merge table + token counts (operators/bpe)")
    bp.add_argument("--corpus", required=True)
    bp.add_argument("--text-col", default="content")
    bp.add_argument("--out", required=True, help="merge-table parquet sink")
    bp.add_argument("--merges", type=int, default=200)
    bp.add_argument("--max-words", type=int, default=50_000)
    bp.add_argument("--counts-out",
                    help="also write per-doc (doc_id, n_bpe_tokens) parquet")

    lm = sub.add_parser("lm-score",
                        help="stupid-backoff perplexity gate (operators/ngram_lm)")
    lm.add_argument("--corpus", required=True, help="training corpus parquet")
    lm.add_argument("--score", help="table to score (default: the corpus itself)")
    lm.add_argument("--text-col", default="content")
    lm.add_argument("--out", required=True, help="(doc_id, perplexity) parquet sink")
    lm.add_argument("--order", type=int, default=3)
    lm.add_argument("--min-count", type=int, default=2)

    cc = sub.add_parser(
        "corpus-clean",
        help="training-data cleaning: Gopher repetition gate + ExactSubstr strip (r6)",
    )
    cc.add_argument("--corpus", required=True)
    cc.add_argument("--text-col", default="content")
    cc.add_argument("--id-col", default="doc_id")
    cc.add_argument("--out", required=True,
                    help="cleaned parquet sink: (id, text, n_tokens, n_removed)")
    cc.add_argument("--min-len", type=int, default=50,
                    help="ExactSubstr gram length in tokens (0 = skip the strip)")
    cc.add_argument("--keep-first", action="store_true",
                    help="leave the first (doc, pos) copy of each repeated passage")
    cc.add_argument("--gate", action="store_true",
                    help="drop docs failing the Gopher repetition thresholds first")
    cc.add_argument("--max-dup-line-frac", type=float, default=0.30)
    cc.add_argument("--max-top2gram-frac", type=float, default=0.20)
    cc.add_argument("--max-dup5gram-frac", type=float, default=0.15)

    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from .session import get_spark

    owned = SparkSession.getActiveSession() is None
    spark = get_spark(f"cli-{args.cmd}")
    _run(ap, args, spark)
    if owned:  # don't stop a session we merely joined
        spark.stop()


@scoped
def _run(ap: argparse.ArgumentParser, args: argparse.Namespace, spark) -> None:
    """Run one command; its caches are freed when it returns."""
    if args.cmd == "gen-corpus":
        from .sources.corpus import generate_corpus

        generate_corpus(spark, args.n, args.seed).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"written": args.out, "n": args.n}))

    elif args.cmd == "build-index":
        from .plans.build_index import build_index
        from .sources.corpus import build_docs, mint_doc_ids

        if args.corpus:
            docs = mint_doc_ids(spark.read.parquet(args.corpus))
        elif args.n:
            docs = build_docs(spark, args.n)
        else:
            ap.error("need --corpus or --n")
        summary = build_index(
            docs, args.root, docs_per_part=args.docs_per_part,
            with_positions=args.with_positions, dedup=args.dedup,
            tokenizer=args.tokenizer,
        )
        print(json.dumps(summary))

    elif args.cmd == "query":
        from .plans.build_index import open_index

        idx = open_index(spark, args.root)
        rows = idx.search(args.q, k=args.k, mode=args.mode).collect()
        print(json.dumps([{"doc_id": r["doc_id"], "score": r["score"]} for r in rows]))

    elif args.cmd == "search":
        from .plans.build_index import open_index

        if bool(args.q) == bool(args.batch_file):
            ap.error("search needs exactly one of --q / --batch-file")
        idx = open_index(spark, args.root)
        if args.batch_file:
            with open(args.batch_file) as f:
                qs = {str(i): line.strip() for i, line in enumerate(f) if line.strip()}
            bdocs = spark.read.parquet(args.docs) if args.docs else None
            rows = idx.search_query_batch(
                qs, k=args.k, mode=args.mode, docs=bdocs
            ).collect()
            print(json.dumps([
                {"query_id": r["query_id"], "doc_id": r["doc_id"], "score": r["score"]}
                for r in rows
            ]))
        else:
            docs = spark.read.parquet(args.docs) if args.docs else None
            rows = idx.search_query_rows(args.q, k=args.k, mode=args.mode, docs=docs)
            print(json.dumps([{"doc_id": d, "score": s} for d, s in rows]))

    elif args.cmd == "suggest":
        from .operators.suggest import suggest

        term_dict = spark.read.parquet(f"{args.root}/term_dict")
        rows = suggest(term_dict, args.q, k=args.k, pad=args.pad).collect()
        print(json.dumps([{"term": r["term"], "sim": r["sim"]} for r in rows]))

    elif args.cmd == "serve":
        from .serving import SearchServer

        server = SearchServer(
            spark, args.root, host=args.host, port=args.port, default_k=args.k
        )
        if not args.no_serving_mode:
            server.idx = server.idx.serving_mode()
        print(json.dumps({"serving": f"http://{args.host}:{server.port}",
                          "routes": ["/api/search", "/api/suggest"]}),
              flush=True)
        server.serve_forever()

    elif args.cmd == "embed-train":
        from .operators.embed import (
            cooccurrence_counts,
            train_ppmi_vectors,
            train_ppmi_vectors_distributed,
        )

        corpus = spark.read.parquet(args.corpus)
        cooc = cooccurrence_counts(corpus, text_col=args.text_col, window=args.window)
        if args.distributed:
            tv = train_ppmi_vectors_distributed(cooc, dim=args.dim)
            tv.write.mode("overwrite").parquet(args.out)
            tv = spark.read.parquet(args.out)
        else:
            tv = train_ppmi_vectors(cooc, dim=args.dim, top_vocab=args.top_vocab)
            tv.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"written": args.out, "vocab": tv.count(), "dim": args.dim}))

    elif args.cmd == "bpe-train":
        from .operators.bpe import bpe_token_counts, train_bpe, word_frequencies

        corpus = spark.read.parquet(args.corpus)
        wf = word_frequencies(corpus, text_col=args.text_col)
        merges = train_bpe(wf, n_merges=args.merges, max_words=args.max_words)
        spark.createDataFrame(
            [(a, b, i) for i, (a, b) in enumerate(merges)],
            "pair_a string, pair_b string, rank int",
        ).write.mode("overwrite").parquet(args.out)
        summary = {"written": args.out, "n_merges": len(merges)}
        if args.counts_out:
            bpe_token_counts(
                corpus, merges, text_col=args.text_col
            ).write.mode("overwrite").parquet(args.counts_out)
            summary["counts_written"] = args.counts_out
        print(json.dumps(summary))

    elif args.cmd == "lm-score":
        from .operators.ngram_lm import score_docs as lm_score
        from .operators.ngram_lm import train_ngram_counts

        corpus = spark.read.parquet(args.corpus)
        counts = train_ngram_counts(
            corpus, order=args.order, text_col=args.text_col,
            min_count=args.min_count,
        )
        from pyspark.sql import functions as F

        target = spark.read.parquet(args.score) if args.score else corpus
        scored = lm_score(target, counts, text_col=args.text_col)
        scored.write.mode("overwrite").parquet(args.out)
        # summarize from the WRITTEN table — re-aggregating the lazy plan
        # would execute the whole scoring pipeline a second time
        stats = spark.read.parquet(args.out).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("perplexity"), 2).alias("mean_ppl"),
        ).first()
        print(json.dumps({"written": args.out, "n_docs": stats["n"],
                          "mean_perplexity": stats["mean_ppl"]}))

    elif args.cmd == "corpus-clean":
        from pyspark.sql import functions as F

        from .functions.textstats import repetition_signals
        from .operators.dedup import duplicated_spans, strip_duplicated_spans

        docs = spark.read.parquet(args.corpus)
        n_in = docs.count()
        if args.gate:
            sig = repetition_signals(F.col(args.text_col), top_ns=(2,), dup_ns=(5,))
            docs = docs.filter(
                (sig["dup_line_frac"] <= args.max_dup_line_frac)
                & (sig["top_2gram_char_frac"] <= args.max_top2gram_frac)
                & (sig["dup_5gram_char_frac"] <= args.max_dup5gram_frac)
            )
            if args.min_len:
                # the gated plan (scan + per-row repetition folds) feeds
                # BOTH the span finder and the strip probe side — persist
                # it or the gate math runs twice end to end
                docs = current_scope().persist(docs)
        if args.min_len:
            spans = duplicated_spans(
                docs, text_col=args.text_col, id_col=args.id_col,
                min_len=args.min_len, keep_first=args.keep_first,
            )
            cleaned = strip_duplicated_spans(
                docs, spans, text_col=args.text_col, id_col=args.id_col
            )
            cleaned.write.mode("overwrite").parquet(args.out)
        else:
            docs.write.mode("overwrite").parquet(args.out)
        # summarize from the WRITTEN table (same rule as lm-score: never
        # re-execute the lazy cleaning plan for stats)
        out_df = spark.read.parquet(args.out)
        aggs = [F.count(F.lit(1)).alias("n")]
        if args.min_len:
            aggs += [
                F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("toks"),
                F.coalesce(F.sum("n_removed"), F.lit(0)).alias("cut"),
            ]
        stats = out_df.agg(*aggs).first()
        summary = {"written": args.out, "docs_in": n_in, "docs_out": stats["n"]}
        if args.min_len:
            summary["tokens_seen"] = int(stats["toks"])
            summary["tokens_removed"] = int(stats["cut"])
        print(json.dumps(summary))


if __name__ == "__main__":
    main(sys.argv[1:])
