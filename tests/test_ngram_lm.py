"""Stupid-backoff n-gram LM (operators/ngram_lm): count correctness,
scoring vs a pure-Python oracle, backoff/OOV semantics, JVM-only plan."""

from __future__ import annotations

import math
import re
from collections import Counter

import pytest

from searchenginer_spark.operators.ngram_lm import (
    BACKOFF,
    score_docs,
    train_ngram_counts,
)

TRAIN = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown cat sleeps on the warm mat"),
    (2, "a quick brown fox runs past the lazy dog"),
    (3, "the lazy dog sleeps and the quick fox jumps"),
]

SCORE = [
    (10, "the quick brown fox"),        # fluent: seen trigrams
    (11, "dog lazy the quick warm"),    # shuffled: rare grams
    (12, "zzz yyy xxx"),                # pure OOV
    (13, "the quick brown elephant"),   # OOV tail after fluent prefix
]


def _toks(text):
    return re.findall("[a-z_][a-z0-9_]*", text.lower())


def _train_py(order):
    tabs = {n: Counter() for n in range(1, order + 1)}
    for _, t in TRAIN:
        toks = _toks(t)
        for n in range(1, order + 1):
            for i in range(len(toks) - n + 1):
                tabs[n][" ".join(toks[i : i + n])] += 1
    return tabs


def _score_py(order):
    tabs = _train_py(order)
    n_total = sum(tabs[1].values())
    out = {}
    for doc_id, text in SCORE:
        toks = _toks(text)
        if not toks:
            continue
        lps = []
        for i in range(len(toks)):
            avail = min(i + 1, order)
            s = None
            for k in range(avail, 1, -1):
                g = " ".join(toks[i - k + 1 : i + 1])
                ctx = " ".join(toks[i - k + 1 : i])
                if tabs[k][g] > 0 and tabs[k - 1][ctx] > 0:
                    s = BACKOFF ** (avail - k) * tabs[k][g] / tabs[k - 1][ctx]
                    break
            if s is None:
                c1 = tabs[1][toks[i]]
                if c1 > 0:
                    s = BACKOFF ** (avail - 1) * c1 / n_total
                else:
                    s = BACKOFF ** (avail - 1) / (2.0 * n_total)
            lps.append(math.log10(s))
        avg = sum(lps) / len(lps)
        out[doc_id] = (len(toks), round(avg, 6), round(10 ** -avg, 4))
    return out


@pytest.fixture(scope="module")
def train_docs(spark):
    return spark.createDataFrame(TRAIN, "doc_id long, text string")


@pytest.fixture(scope="module")
def score_docs_df(spark):
    return spark.createDataFrame(SCORE, "doc_id long, text string")


@pytest.mark.parametrize("order", [2, 3])
def test_counts_match_bruteforce(train_docs, order):
    counts = train_ngram_counts(train_docs, order=order)
    tabs = _train_py(order)
    for n in range(1, order + 1):
        got = {r["gram"]: r["n_count"] for r in counts[n].collect()}
        assert got == dict(tabs[n]), n


@pytest.mark.parametrize("order", [2, 3])
def test_scores_match_python_oracle(train_docs, score_docs_df, order):
    counts = train_ngram_counts(train_docs, order=order)
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"], r["perplexity"])
        for r in score_docs(score_docs_df, counts, order=order).collect()
    }
    want = _score_py(order)
    assert set(got) == set(want)
    for d in want:
        assert got[d][0] == want[d][0], d
        assert abs(got[d][1] - want[d][1]) < 1e-6, d
        assert abs(got[d][2] - want[d][2]) < 1e-3 * max(1.0, want[d][2]), d


def test_fluency_ordering(train_docs, score_docs_df):
    counts = train_ngram_counts(train_docs, order=3)
    ppl = {r["doc_id"]: r["perplexity"]
           for r in score_docs(score_docs_df, counts).collect()}
    # fluent < shuffled < pure-OOV — the quality-gate property
    assert ppl[10] < ppl[11] < ppl[12]


def test_min_count_pruning(train_docs, score_docs_df):
    counts = train_ngram_counts(train_docs, order=3, min_count=2)
    # pruned tables: every surviving higher-order gram occurs >= 2 times
    for n in (2, 3):
        assert all(r["n_count"] >= 2 for r in counts[n].collect())
    # unigrams never pruned
    assert any(r["n_count"] == 1 for r in counts[1].collect())
    # scoring still runs and keeps the fluency ordering
    ppl = {r["doc_id"]: r["perplexity"]
           for r in score_docs(score_docs_df, counts).collect()}
    assert ppl[10] < ppl[12]


def test_plan_is_jvm_only(train_docs, score_docs_df):
    """The SCORING side (per-position grams, backoff CASE, joins) is pure
    JVM codegen. The count-table INPUTS are checkpointed first: their own
    (r7) Arrow batch-partial counting stage is pinned separately below,
    and this test is about the scorer."""
    counts = {
        k: v.localCheckpoint() for k, v in train_ngram_counts(train_docs, order=3).items()
    }
    plan = (
        score_docs(score_docs_df, counts)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan and "Arrow" not in plan
    assert "BroadcastHashJoin" in plan


def test_train_counts_plan_shape(train_docs):
    """r7 counting shape: one MapInArrow batch-partial pass per order (gram
    strings built once per batch-distinct tuple, never per occurrence), no
    row-at-a-time Python, one final (gram) hash-aggregate."""
    counts = train_ngram_counts(train_docs, order=3)
    for n, df in counts.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan, n
        assert "BatchEvalPython" not in plan, n
        assert "HashAggregate" in plan, n
        assert "Generate explode" not in plan, n


def test_shuffle_join_path_no_broadcast_hint(spark, train_docs, score_docs_df):
    """The uncapped-model contract: with broadcast_counts=False (what the
    size gate decides for a web-scale count table) NO broadcast hint is
    emitted — with auto-broadcast disabled the executed plan joins via
    shuffle (SortMerge/ShuffledHash), and the scores are IDENTICAL to the
    broadcast plan. A hard F.broadcast hint would override the size
    threshold and collect an unpruned table onto the driver."""
    counts = train_ngram_counts(train_docs, order=3)
    want = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"], r["perplexity"])
        for r in score_docs(score_docs_df, counts, order=3).collect()
    }
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        scored = score_docs(score_docs_df, counts, order=3, broadcast_counts=False)
        rows = scored.collect()
        plan = scored._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    got = {r["doc_id"]: (r["n_tokens"], r["avg_logprob"], r["perplexity"]) for r in rows}
    assert got == want


def test_auto_gate_hints_only_small_tables(train_docs, score_docs_df):
    """broadcast_counts=None (default) must hint PER TABLE by row count:
    with broadcast_max_rows below the unigram table size, no table gets
    the hint; with a huge cap, all do."""
    counts = train_ngram_counts(train_docs, order=2)
    plan_none = (
        score_docs(score_docs_df, counts, order=2, broadcast_max_rows=0)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "ResolvedHint" not in plan_none and "broadcast" not in plan_none.lower()
    plan_all = (
        score_docs(score_docs_df, counts, order=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan_all


def test_empty_docs_dropped(spark, train_docs):
    counts = train_ngram_counts(train_docs, order=2)
    d = spark.createDataFrame([(0, ""), (1, "the quick")], "doc_id long, text string")
    rows = score_docs(d, counts, order=2).collect()
    assert [r["doc_id"] for r in rows] == [1]


def test_score_docs_count_tables_freed_with_scope(spark, train_docs, score_docs_df):
    """score_docs persists its count tables (each feeds 2-3 consumers) in
    the current CacheScope, and closing the scope reclaims them — the same
    lifecycle as the dedup operators."""
    from searchenginer_spark.cache import CacheScope
    from tests.conftest import assert_released, persisted_ids

    # unique plan: no CacheManager plan-dedup against other tests' caches
    counts = train_ngram_counts(train_docs.filter("doc_id >= 0"), order=3)
    before = persisted_ids(spark)
    with CacheScope() as scope:
        score_docs(score_docs_df, counts).collect()
        # one persisted count table per order
        assert len(persisted_ids(spark) - before) == 3
    assert_released(spark, before)
    scope.close()  # idempotent release
