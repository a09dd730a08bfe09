#!/usr/bin/env python
"""Decompose the or_hot vs and_hot latency gap (r4 verdict item 6).

Builds the bench corpus + index at bench scale, then measures BOTH layers:

  1. end-to-end Spark latency (median of R warm runs) for the bench's
     and_hot / or_hot queries — the number BENCH reports;
  2. the kernel (_score_part_bool's conjunctive branch, and its
     disjunctive branch _score_part_or) run in-process over the SAME
     posting rows Spark ships to the workers, decoded per part as the
     workers decode them (decode_table) — isolating worker-side scoring
     from scheduling/shuffle — and once over the whole index decoded flat,
     as the driver scores a resident index;
  3. OR pruning effectiveness: essential-term blocks left live and the
     candidate bound, with the tau seed as shipped (top term's own
     top-k) vs a hypothetical stronger seed (kth best of top-term scores
     + second term probed at those docs).

Usage: python scripts/or_query_probe.py [n_docs] [reps]
(the index is written under $TMPDIR, default /tmp, and removed on exit)
Prints one JSON line; findings recorded in PLANS.md §7.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402

from searchenginer_spark.operators.postings import BLOCK, decode_table  # noqa: E402
from searchenginer_spark.plans import bm25 as B  # noqa: E402
from searchenginer_spark.plans.build_index import build_index, open_index  # noqa: E402
from searchenginer_spark.session import get_spark  # noqa: E402
from searchenginer_spark.sources.corpus import build_docs  # noqa: E402

AND_Q, OR_Q = "int return value", "for while void"


def part_groups(idx, query):
    """({part: TermPostings list}, TermPostings list, qtf): the posting rows
    the Spark scorer receives, decoded per part as the workers decode
    them, and the same rows decoded flat as one doc range."""
    tids = list(idx.lookup_terms(query.split()).values())
    table = idx.postings.filter(B.F.col("term_id").isin(tids)).toArrow()
    parts = table.column("part").to_numpy()
    out = {}
    for p in sorted(set(parts.tolist())):
        dec = decode_table(table.filter(parts == p))
        out[p] = [dec.term(t) for t in dec.term_ids.tolist()]
    flat = decode_table(table)
    return out, [flat.term(t) for t in flat.term_ids.tolist()], {t: 1.0 for t in tids}


def time_scorer(fn, ranges, qtf, reps):
    """Median ms to score every doc range of ``ranges`` (lists of
    TermPostings) once."""
    walls = []
    for _ in range(reps):
        t = time.monotonic()
        for groups in ranges:
            fn(groups, qtf)
        walls.append(time.monotonic() - t)
    return round(1000 * sorted(walls)[len(walls) // 2], 2)


def or_prune_stats(parts, qtf, k=10):
    """Replicate _score_part_or's pruning bookkeeping: how many essential
    blocks stay live under (a) no tau, (b) the shipped seed, (c) a top-2
    intersection seed."""
    stats = {s: {"live": 0, "total": 0, "cand": 0} for s in ("shipped", "top2")}
    for groups in parts.values():
        uppers = [qtf[g.term_id] * g.block_max.max() for g in groups]
        order = np.argsort(-np.asarray(uppers))
        gs = [groups[i] for i in order]
        g0 = gs[0]
        s0 = g0.scores * qtf[g0.term_id]
        seeds = {}
        seeds["shipped"] = (
            np.partition(s0, s0.size - k)[s0.size - k] if s0.size >= k else -np.inf
        )
        if len(gs) > 1 and s0.size >= k:
            probe = B._probe_scores(gs[1], g0.doc_ids) * qtf[gs[1].term_id]
            s01 = s0 + probe
            seeds["top2"] = np.partition(s01, s01.size - k)[s01.size - k]
        else:
            seeds["top2"] = seeds["shipped"]
        for name, tau in seeds.items():
            st = stats[name]
            for g in gs:
                st["total"] += g.block_last.size
            if not np.isfinite(tau):
                for g in gs:
                    st["live"] += g.block_last.size
                    st["cand"] += g.doc_ids.size
                continue
            bl = [g.block_last for g in gs]
            bm = [g.block_max * qtf[g.term_id] for g in gs]
            seg_ends = np.unique(np.concatenate(bl))
            seg_upper = np.zeros(seg_ends.size)
            for bl_t, bm_t in zip(bl, bm):
                i = np.searchsorted(bl_t, seg_ends)
                valid = i < bl_t.size
                seg_upper[valid] += bm_t[i[valid]]
            live = seg_ends[seg_upper >= tau]
            for g, bl_t in zip(gs, bl):
                bidx = np.unique(np.searchsorted(bl_t, live))
                bidx = bidx[bidx < bl_t.size]
                st["live"] += int(bidx.size)
                st["cand"] += int(bidx.size) * BLOCK
    return stats


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 7
    spark = get_spark()
    docs = build_docs(spark, n_docs=n_docs, seed=7).persist()
    docs.count()
    root = os.path.join(tempfile.gettempdir(), f"or_probe_idx_{n_docs}")
    try:
        build_index(docs, root, docs_per_part=max(256, n_docs // 64))
        idx = open_index(spark, root)
        idx.postings = idx.postings.persist()
        idx.term_dict = idx.term_dict.persist()
        idx.search("int return", k=10).collect()

        out = {"n_docs": n_docs}
        for name, (q, mode) in {"and_hot": (AND_Q, "and"), "or_hot": (OR_Q, "or")}.items():
            runs = []
            for _ in range(reps):
                t = time.monotonic()
                idx.search(q, k=10, mode=mode).collect()
                runs.append(time.monotonic() - t)
            out[f"{name}_e2e_med_ms"] = round(1000 * sorted(runs)[len(runs) // 2], 1)

        and_parts, and_flat, and_qtf = part_groups(idx, AND_Q)
        or_parts, or_flat, or_qtf = part_groups(idx, OR_Q)
        out["and_rows"] = sum(len(v) for v in and_parts.values())
        out["or_rows"] = sum(len(v) for v in or_parts.values())
        out["and_postings"] = sum(g.doc_ids.size for g in and_flat)
        out["or_postings"] = sum(g.doc_ids.size for g in or_flat)
        and_fn = lambda g, q: B._score_part_bool(g, list(q), [], q, 10, round_to=4)  # noqa: E731
        or_fn = lambda g, q: B._score_part_or(g, q, 10, 4)  # noqa: E731
        out["and_scorer_ms"] = time_scorer(and_fn, and_parts.values(), and_qtf, reps)
        out["or_scorer_ms"] = time_scorer(or_fn, or_parts.values(), or_qtf, reps)
        out["and_flat_scorer_ms"] = time_scorer(and_fn, [and_flat], and_qtf, reps)
        out["or_flat_scorer_ms"] = time_scorer(or_fn, [or_flat], or_qtf, reps)
        pr = or_prune_stats(or_parts, or_qtf)
        for name, st in pr.items():
            out[f"or_blocks_live_{name}"] = st["live"]
            out[f"or_cand_bound_{name}"] = st["cand"]
        out["or_blocks_total"] = pr["shipped"]["total"]
        print(json.dumps(out))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
