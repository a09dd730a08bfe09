"""Property-based scorer verification (no Spark — numpy level).

hypothesis generates random small corpora; the REAL encoder
(`operators.postings._encode_part`) produces compressed block-max rows,
the loader (`operators.postings.decode_table`) decodes them, and the
kernel (`plans/bm25._score_part_bool`, with its disjunctive branch
`_score_part_or`) must reproduce a brute-force python BM25 on every
example — including multi-block postings, the conjunctive branch, MaxScore's
tau seed + essential split, the r4 block-max segment pruning,
deterministic kth-tie handling, phrase / NEAR matching, boolean NOT and
allow-set filtering. These paths carry every query; a generator is
far more adversarial than the handful of fixed corpora in the other
suites (this is what caught the argpartition tie bug's shape in r4)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest  # noqa: F401  (pytest collects via hypothesis decorators)
from hypothesis import given, settings
from hypothesis import strategies as st

from searchenginer_spark.operators.postings import _encode_part, decode_table
from searchenginer_spark.plans.bm25 import _score_part_bool, _score_part_or

K1, B = 1.2, 0.75


@st.composite
def corpora(draw):
    """(doc -> {term: tf}) with a couple of hot terms so multi-block rows
    (BLOCK=128) and skewed impact distributions actually occur."""
    n_docs = draw(st.integers(2, 180))
    n_terms = draw(st.integers(2, 6))
    docs = {}
    for d in range(n_docs):
        terms = {}
        for t in range(n_terms):
            # term 0 ~hot (most docs), later terms sparser
            p_present = 0.95 if t == 0 else 0.5 / t
            if draw(st.floats(0, 1)) < p_present:
                terms[t] = draw(st.integers(1, 5))
        if terms:
            docs[d] = terms
    if not docs:
        docs = {0: {0: 1}}
    return docs


def _decoded(enc: pa.Table) -> list:
    """Every term's decoded postings (TermPostings), the kernel's input."""
    index = decode_table(enc)
    return [index.term(t) for t in index.term_ids.tolist()]


def _encode(docs: dict) -> tuple[list, dict, float, float]:
    rows = []
    df = {}
    for d, terms in docs.items():
        for t, f in terms.items():
            df[t] = df.get(t, 0) + 1
    for d, terms in sorted(docs.items()):
        for t, f in terms.items():
            rows.append((0, t, d, f, df[t]))
    pdf = pd.DataFrame(rows, columns=["part", "term_id", "doc_id", "tf", "df"])
    n_docs = float(len(docs))
    avgdl = float(np.mean([sum(t.values()) for t in docs.values()]))
    enc = _encode_part(pa.Table.from_pandas(pdf, preserve_index=False), n_docs, avgdl)
    return _decoded(enc), df, n_docs, avgdl


def _brute(docs, df, n_docs, avgdl, qtf):
    dl = {d: sum(t.values()) for d, t in docs.items()}
    out = {}
    for d, terms in docs.items():
        s = 0.0
        for t, w in qtf.items():
            f = terms.get(t, 0)
            if f:
                idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                s += w * idf * f * (K1 + 1.0) / (
                    f + K1 * (1.0 - B + B * dl[d] / avgdl)
                )
        if s:
            out[d] = s
    return out


def _topk_ref(scores: dict, k: int):
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


@settings(max_examples=40, deadline=None, derandomize=True)
@given(corpora(), st.integers(1, 12), st.booleans())
def test_or_scorer_matches_bruteforce(docs, k, repeat_first):
    rows, df, n_docs, avgdl = _encode(docs)
    qtf = {t: (2.0 if repeat_first and i == 0 else 1.0)
           for i, t in enumerate(sorted(df))}
    groups = [g for g in rows if g.term_id in qtf]
    got_d, got_s = _score_part_or(groups, qtf, k)
    want = _topk_ref(_brute(docs, df, n_docs, avgdl, qtf), k)
    assert got_d == [d for d, _ in want]
    for g, (_, w) in zip(got_s, want):
        assert abs(g - w) < 1e-9


@settings(max_examples=40, deadline=None, derandomize=True)
@given(
    corpora(),
    st.integers(1, 12),
    st.lists(st.integers(1, 2), min_size=2, max_size=4),  # one qtf per MUST term
)
def test_and_scorer_matches_bruteforce(docs, k, weights):
    """The kernel's MUST branch: 2-4 terms, so the rarest-first carried
    scores run over 3+ intersections too."""
    rows, df, n_docs, avgdl = _encode(docs)
    terms = sorted(df)[: len(weights)]
    qtf = {t: float(w) for t, w in zip(terms, weights)}
    groups = [g for g in rows if g.term_id in qtf]
    got_d, got_s = _score_part_bool(groups, terms, [], qtf, k)
    brute = _brute(docs, df, n_docs, avgdl, qtf)
    conj = {d: s for d, s in brute.items()
            if all(t in docs[d] for t in terms)}
    want = _topk_ref(conj, k)
    assert got_d == [d for d, _ in want]
    for g, (_, w) in zip(got_s, want):
        assert abs(g - w) < 1e-9


@settings(max_examples=25, deadline=None, derandomize=True)
@given(corpora(), st.integers(1, 8))
def test_or_scorer_with_neg_and_allow(docs, k):
    rows, df, n_docs, avgdl = _encode(docs)
    terms = sorted(df)
    neg_t = terms[-1]
    pos = {t: 1.0 for t in terms if t != neg_t}
    if not pos:
        return
    allow = np.array(sorted(d for d in docs if d % 2 == 0), dtype=np.int64)
    groups = [g for g in rows if g.term_id in pos]
    neg = [g for g in rows if g.term_id == neg_t]
    got_d, got_s = _score_part_or(groups, pos, k, None, neg, allow)
    brute = _brute(docs, df, n_docs, avgdl, pos)
    keep = {d: s for d, s in brute.items()
            if d % 2 == 0 and neg_t not in docs[d]}
    want = _topk_ref(keep, k)
    assert got_d == [d for d, _ in want]
    for g, (_, w) in zip(got_s, want):
        assert abs(g - w) < 1e-9


# ------------------------------------------------ positional matchers


@st.composite
def token_corpora(draw):
    """doc -> token-id sequence (small vocab, so phrases/windows occur)."""
    n_docs = draw(st.integers(2, 40))
    return {
        d: draw(st.lists(st.integers(0, 4), min_size=1, max_size=30))
        for d in range(n_docs)
    }


def _encode_pos(tok_docs: dict):
    rows = []
    df = {}
    per_doc = {}
    for d, toks in tok_docs.items():
        by_t = {}
        for p, t in enumerate(toks):
            by_t.setdefault(t, []).append(p)
        per_doc[d] = by_t
        for t in by_t:
            df[t] = df.get(t, 0) + 1
    for d in sorted(tok_docs):
        for t, ps in per_doc[d].items():
            rows.append((0, t, d, len(ps), df[t], ps))
    pdf = pd.DataFrame(
        rows, columns=["part", "term_id", "doc_id", "tf", "df", "positions"]
    )
    n_docs = float(len(tok_docs))
    avgdl = float(np.mean([len(t) for t in tok_docs.values()]))
    enc = _encode_part(pa.Table.from_pandas(pdf, preserve_index=False), n_docs, avgdl)
    return _decoded(enc), df, n_docs, avgdl


@settings(max_examples=40, deadline=None, derandomize=True)
@given(token_corpora(), st.lists(st.integers(0, 4), min_size=2, max_size=3))
def test_phrase_matcher_matches_bruteforce(tok_docs, slots):
    rows, df, n_docs, avgdl = _encode_pos(tok_docs)
    qtf = {t: float(c) for t, c in
           __import__("collections").Counter(slots).items()}
    got_d, got_s = _score_part_bool(rows, [], [], qtf, 1 << 20, (tuple(slots),))
    want_docs = sorted(
        d for d, toks in tok_docs.items()
        if any(toks[i:i + len(slots)] == slots
               for i in range(len(toks) - len(slots) + 1))
    )
    assert sorted(got_d) == want_docs
    docs_tf = {d: {t: toks.count(t) for t in set(toks)}
               for d, toks in tok_docs.items()}
    brute = _brute(docs_tf, df, n_docs, avgdl, qtf)
    for d, s in zip(got_d, got_s):
        assert abs(s - brute[d]) < 1e-9


@settings(max_examples=40, deadline=None, derandomize=True)
@given(
    token_corpora(),
    st.lists(st.integers(0, 4), min_size=2, max_size=3, unique=True),
    st.integers(1, 8),
    st.booleans(),
)
def test_near_matcher_matches_bruteforce(tok_docs, terms, window, ordered):
    import itertools

    rows, df, n_docs, avgdl = _encode_pos(tok_docs)
    qtf = {t: 1.0 for t in terms}
    got_d, _ = _score_part_bool(
        rows, [], [], qtf, 1 << 20, nears=((tuple(terms), window, ordered),)
    )
    want = []
    for d, toks in tok_docs.items():
        pos = {t: [i for i, x in enumerate(toks) if x == t] for t in terms}
        if any(not p for p in pos.values()):
            continue
        hit = False
        for combo in itertools.product(*(pos[t] for t in terms)):
            if ordered:
                ok = all(a < b for a, b in zip(combo, combo[1:]))
                span_ok = combo[-1] - combo[0] <= window
            else:
                ok = True
                span_ok = max(combo) - min(combo) <= window
            if ok and span_ok:
                hit = True
                break
        if hit:
            want.append(d)
    assert sorted(got_d) == sorted(want), (terms, window, ordered)


# ------------------------------------------------ composed boolean scorer


@settings(max_examples=50, deadline=None, derandomize=True)
@given(
    token_corpora(),
    st.integers(0, 2),   # how many MUST terms
    st.integers(0, 2),   # how many SHOULD terms
    st.booleans(),       # include a phrase clause
    st.booleans(),       # include a NOT term
    st.booleans(),       # include an allow set
    st.integers(1, 10),
)
def test_bool_scorer_matches_bruteforce(
    tok_docs, n_must, n_should, with_phrase, with_neg, with_allow, k
):
    rows, df, n_docs, avgdl = _encode_pos(tok_docs)
    vocab = sorted(df)
    must = vocab[:n_must]
    should = [t for t in vocab[n_must:n_must + n_should]]
    phrases = ((0, 1),) if with_phrase and len(vocab) >= 2 else ()
    neg_t = vocab[-1] if with_neg and len(vocab) > n_must + n_should else None
    must = [t for t in must if t != neg_t]
    should = [t for t in should if t != neg_t]
    phrase_terms = [t for p in phrases for t in p]
    positive = must + should + phrase_terms
    if not positive or (neg_t in phrase_terms if neg_t is not None else False):
        return
    from collections import Counter

    qtf = {t: float(c) for t, c in Counter(positive).items()}
    allow = (
        np.array(sorted(d for d in tok_docs if d % 3 != 0), dtype=np.int64)
        if with_allow
        else None
    )
    pos_rows = [g for g in rows if g.term_id != neg_t]
    neg = [g for g in rows if g.term_id == neg_t]
    got_d, got_s = _score_part_bool(
        pos_rows, must, should, qtf, k, phrases, None, neg, allow, ()
    )

    # brute force, straight from the documented semantics
    def phrase_hits(toks, slots):
        slots = list(slots)
        return any(
            toks[i:i + len(slots)] == slots
            for i in range(len(toks) - len(slots) + 1)
        )

    docs_tf = {d: {t: toks.count(t) for t in set(toks)}
               for d, toks in tok_docs.items()}
    scores = _brute(docs_tf, df, n_docs, avgdl, qtf)
    want = {}
    for d, toks in tok_docs.items():
        if allow is not None and d % 3 == 0:
            continue
        if neg_t is not None and neg_t in docs_tf[d]:
            continue
        if any(t not in docs_tf[d] for t in must):
            continue
        if any(not phrase_hits(toks, p) for p in phrases):
            continue
        if d not in scores:
            continue
        # candidate generation: must-intersection, else phrase survivors,
        # else pure disjunction — all reduce to "scores > 0 here"
        want[d] = scores[d]
    top = _topk_ref(want, k)
    assert got_d == [d for d, _ in top], (must, should, phrases, neg_t, with_allow)
    for g, (_, w) in zip(got_s, top):
        assert abs(g - w) < 1e-9


def test_encoder_bytes_match_per_term_reference():
    """The whole-part encoder writes each term's bytes as a per-term loop
    does: doc-id deltas restarting every BLOCK postings, tfs, and position
    deltas restarting at every posting, whatever order the rows arrive in."""
    from searchenginer_spark.functions.codec import varbyte_encode
    from searchenginer_spark.operators.postings import BLOCK

    rng = np.random.default_rng(7)
    rows = []
    for d in range(300):
        for t in range(4):
            if rng.random() < (0.95 if t == 0 else 0.3):
                ps = np.sort(rng.choice(500, int(rng.integers(1, 5)), replace=False))
                rows.append((0, t, d, ps.size, 1, ps.tolist()))
    rows = [rows[i] for i in rng.permutation(len(rows))]
    cols = ["part", "term_id", "doc_id", "tf", "df", "positions"]
    enc = _encode_part(pa.table(dict(zip(cols, map(list, zip(*rows))))), 300.0, 10.0)

    by_term = {}
    for _, t, d, tf, _, ps in sorted(rows, key=lambda r: (r[1], r[2])):
        by_term.setdefault(t, []).append((d, tf, ps))
    assert max(len(p) for p in by_term.values()) > 2 * BLOCK
    got = enc.to_pylist()
    assert [r["term_id"] for r in got] == sorted(by_term)
    for r in got:
        post = by_term[r["term_id"]]
        ids = np.array([d for d, _, _ in post])
        assert (r["part"], r["n"]) == (0, len(post))
        assert r["docs"] == b"".join(
            varbyte_encode(np.diff(ids[s : s + BLOCK], prepend=0))
            for s in range(0, ids.size, BLOCK)
        )
        assert r["tfs"] == varbyte_encode(np.array([tf for _, tf, _ in post]))
        assert r["positions"] == b"".join(
            varbyte_encode(np.diff(ps, prepend=0)) for _, _, ps in post
        )
