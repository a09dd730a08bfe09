"""Exact-substring dedup (ExactSubstr, Lee et al. 2022): duplicated_spans +
strip_duplicated_spans against a brute-force python oracle, including the
within-doc-repeat and keep-first semantics, plus the JVM-only plan gate."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from searchenginer_spark.cache import CacheScope
from searchenginer_spark.operators.dedup import duplicated_spans, strip_duplicated_spans
from tests._repetition_oracles import merge as _merge
from tests._repetition_oracles import tok as _tok


def _oracle_spans(docs: list[tuple[int, str]], L: int, keep_first: bool):
    grams: Counter = Counter()
    keepers: dict[tuple, tuple[int, int]] = {}
    for i, t in docs:
        ts = _tok(t)
        for p in range(len(ts) - L + 1):
            g = tuple(ts[p : p + L])
            grams[g] += 1
            if g not in keepers or (i, p) < keepers[g]:
                keepers[g] = (i, p)
    occs: dict[int, list[int]] = {}
    for i, t in docs:
        ts = _tok(t)
        for p in range(len(ts) - L + 1):
            g = tuple(ts[p : p + L])
            if grams[g] >= 2 and not (keep_first and keepers[g] == (i, p)):
                occs.setdefault(i, []).append(p)
    return sorted((d, s, e) for d, ps in occs.items() for s, e in _merge(ps, L))


DOCS = [
    (0, "alpha beta gamma delta epsilon zeta eta theta unique0 one two"),
    (1, "start alpha beta gamma delta epsilon zeta eta theta end1 xx"),
    (2, "totally different words here nothing shared at all ok fine"),
    (3, "rep rep rep rep rep rep rep rep tail"),  # within-doc repeat
    (4, "short one"),  # shorter than L: never marked
    (5, "alpha beta gamma delta mid break alpha beta gamma delta end"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.mark.parametrize("keep_first", [False, True])
def test_spans_match_bruteforce(spark, docs_df, keep_first):
    with CacheScope():  # reclaims the persisted occurrence table
        sp = duplicated_spans(docs_df, min_len=4, keep_first=keep_first)
        got = sorted(tuple(r) for r in sp.collect())
    assert got == _oracle_spans(DOCS, 4, keep_first)


def test_within_doc_repeat_marked(spark, docs_df):
    """Doc 3's self-repeated run is duplicated even with no partner doc —
    the count is over (doc, pos) sites, not distinct docs."""
    with CacheScope():
        got = {
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in duplicated_spans(docs_df, min_len=4).collect()
        }
    assert (3, 0, 8) in got


def test_strip_removes_exactly_the_spans(spark, docs_df):
    want_spans = _oracle_spans(DOCS, 4, keep_first=False)
    with CacheScope():
        spans = duplicated_spans(docs_df, min_len=4)
        out = {
            r["doc_id"]: (r["text"], r["n_tokens"], r["n_removed"])
            for r in strip_duplicated_spans(docs_df, spans).collect()
        }
    assert set(out) == {i for i, _ in DOCS}  # no doc lost, span-free included
    for i, t in DOCS:
        ts = _tok(t)
        marked: set[int] = set()
        for d, s, e in want_spans:
            if d == i:
                marked.update(range(s, e))
        kept = [x for p, x in enumerate(ts) if p not in marked]
        assert out[i] == (" ".join(kept), len(ts), len(ts) - len(kept))


def test_keep_first_semantics(spark, docs_df):
    """keep_first leaves the smallest (doc_id, pos) occurrence unmarked:
    doc 0 (the first copy of the shared passage) gets NO span while doc 1
    still does, and every keep_first position is a subset of the default
    marking. (No stronger guarantee exists: merged spans from OTHER
    overlapping duplicated grams may still cover a keeper's tokens —
    inherent to span-based cutting, same as the published tool.)"""
    with CacheScope():
        kf = {
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in duplicated_spans(docs_df, min_len=4, keep_first=True).collect()
        }
        all_spans = duplicated_spans(docs_df, min_len=4).collect()
    assert not any(d == 0 for d, _, _ in kf)  # first copy survives whole
    assert (1, 1, 9) in kf  # second copy still cut
    marked_kf = {(d, p) for d, s, e in kf for p in range(s, e)}
    marked_all = {
        (r["doc_id"], p)
        for r in all_spans
        for p in range(r["span_start"], r["span_end"])
    }
    assert marked_kf < marked_all


def test_plan_shape(spark, docs_df):
    """r7 shape: gram ids come from ONE vectorized Arrow window-hash pass
    (O(n) rolling polynomial over JVM-salted token hashes — never a
    row-at-a-time UDF, never the O(n*L) concat), and the strip side stays
    pure JVM codegen."""
    with CacheScope():
        spans = duplicated_spans(docs_df, min_len=4)
        plan = spans._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan  # the batch-vectorized window-hash pass
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    strip = strip_duplicated_spans(docs_df, spans.localCheckpoint())
    plan = strip._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan  # strip: pure JVM


@settings(max_examples=25, deadline=None, derandomize=True)
@given(
    st.lists(
        st.lists(st.sampled_from("aa bb cc dd".split()), min_size=0, max_size=24),
        min_size=1,
        max_size=8,
    ),
    st.integers(2, 5),
    st.booleans(),
)
def test_spans_property(spark, token_lists, L, keep_first):
    """Tiny alphabet -> dense duplication; spans equal the brute force for
    random corpora at several gram lengths (session-scoped fixture is
    hypothesis-safe — only function scope is reset between examples)."""
    docs = [(i, " ".join(ts)) for i, ts in enumerate(token_lists)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    with CacheScope():
        got = sorted(
            tuple(r)
            for r in duplicated_spans(df, min_len=L, keep_first=keep_first).collect()
        )
    assert got == _oracle_spans(docs, L, keep_first)


def test_custom_id_col_end_to_end(spark):
    """Review regression: duplicated_spans used to hardcode 'doc_id' in its
    output while strip_duplicated_spans grouped by the caller's id_col —
    any id_col != 'doc_id' crashed with UNRESOLVED_COLUMN."""
    docs = [(i, t) for i, t in DOCS]
    df = spark.createDataFrame(docs, "page_id long, body string")
    with CacheScope():
        spans = duplicated_spans(df, text_col="body", id_col="page_id", min_len=4)
        assert spans.columns == ["page_id", "span_start", "span_end"]
        got = sorted(tuple(r) for r in spans.collect())
        assert got == _oracle_spans(DOCS, 4, keep_first=False)
        out = strip_duplicated_spans(df, spans, text_col="body", id_col="page_id")
        rows = {r["page_id"]: r["body"] for r in out.collect()}
    assert rows[3] == "tail"  # within-doc repeat stripped, via custom cols
