"""Composed query-string surface (functions/queryparse + search_query).

Every grammar clause is checked two ways: (1) parser unit tests (pure
Python), (2) engine parity — each single-clause query must reproduce the
dedicated primitive (search / search_phrase / search_prefix /
search_filtered) exactly, and composed queries must match a brute-force
Python oracle over the corpus.
"""

from __future__ import annotations

import re

import pytest

from searchenginer_spark.functions.queryparse import QuerySpec, parse_query
from searchenginer_spark.operators import stats as S
from searchenginer_spark.operators.dict import build_term_dict
from searchenginer_spark.operators.postings import build_postings
from searchenginer_spark.plans.bm25 import Bm25CompressedIndex
from searchenginer_spark.plans.bm25_dataframe import IDENT_RE
from tests.conftest import count_jobs


# ------------------------------------------------------------------ parser


def test_parse_all_clause_kinds():
    spec = parse_query('data +value -merge quer* "exact phrase" lang:de')
    assert spec.should == ["data"]
    assert spec.must == ["value"]
    assert spec.exclude == ["merge"]
    assert spec.prefixes == ["quer"]
    assert spec.phrases == ["exact phrase"]
    assert spec.facets == [("lang", ("eq", "de"))]
    assert spec.has_positive


def test_parse_facet_forms():
    # multi-value, range, unbounded range, conjunctive repeats
    spec = parse_query("data lang:py,go stars:[100 TO *] lang:de")
    assert spec.facets == [
        ("lang", ("in", ["py", "go"])),
        ("stars", ("range", "100", "*")),
        ("lang", ("eq", "de")),  # repeated field kept — conjunctive
    ]
    assert parse_query("x f:[a TO b]").facets == [("f", ("range", "a", "b"))]
    assert parse_query("x f:[* TO *]").facets == [("f", ("range", "*", "*"))]
    for bad in ("x f:[100]", "x f:[1 TO 2 TO 3]", "x -f:[1 TO 2]", "x f:,"):
        with pytest.raises(ValueError):
            parse_query(bad)


def test_parse_edge_cases():
    assert parse_query("") == QuerySpec()
    assert not parse_query("-only -negative").has_positive
    # bare '*' is a term, not a prefix; ':' at an edge is not a facet
    assert parse_query("*").should == ["*"]
    assert parse_query(":x x:").should == [":x", "x:"]
    # empty phrase is dropped; repeated terms all kept (qtf accumulates)
    spec = parse_query('"" data data +data')
    assert spec.phrases == []
    assert spec.should == ["data", "data"] and spec.must == ["data"]


@pytest.mark.parametrize("bad", ['-"a b"', "-pre*", "-lang:de"])
def test_parse_rejects_unexecutable_negations(bad):
    with pytest.raises(ValueError):
        parse_query(bad)


# ------------------------------------------------------------------ engine


@pytest.fixture(scope="module")
def qindex(spark, docs_sf0001):
    """Positions-enabled compressed index with known geometry, so ALL
    clause kinds (phrase, facet) are executable."""
    tf = S.term_frequencies(docs_sf0001, text_col="text", with_positions=True).persist()
    dl = S.doc_lengths(tf)
    dft = S.document_frequencies(tf)
    stats = S.corpus_stats(dl)
    term_dict = build_term_dict(dft).persist()
    postings = build_postings(tf, dl, term_dict, stats, docs_per_part=128).persist()
    return Bm25CompressedIndex(spark, postings, term_dict, docs_per_part=128)


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _assert_same(got, want, label=""):
    assert [d for d, _ in got] == [d for d, _ in want], label
    for (_, g), (_, w) in zip(got, want):
        assert abs(g - w) < 1e-9, label


@pytest.mark.parametrize(
    "query,mode,primitive",
    [
        ("spark query", "and", lambda ix, k: ix.search("spark query", k=k, mode="and")),
        (
            "spark merge window",
            "or",
            lambda ix, k: ix.search("spark merge window", k=k, mode="or"),
        ),
        # +terms are MUST in either mode == the and-mode primitive
        ("+spark +query", "or", lambda ix, k: ix.search("spark query", k=k, mode="and")),
        (
            "spark query -merge",
            "and",
            lambda ix, k: ix.search("spark query", k=k, mode="and", exclude=["merge"]),
        ),
        ('"merge part"', "or", lambda ix, k: ix.search_phrase("merge part", k=k)),
        ("quer*", "or", lambda ix, k: ix.search_prefix("quer", k=k)),
    ],
)
def test_single_clause_parity_with_primitives(qindex, query, mode, primitive):
    got = _rows(qindex.search_query(query, k=10, mode=mode))
    want = _rows(primitive(qindex, 10))
    _assert_same(got, want, query)


def test_facet_parity_with_search_filtered(qindex, docs_sf0001):
    from pyspark.sql import functions as F

    allowed = docs_sf0001.filter(F.col("lang") == "de").select("doc_id")
    want = _rows(qindex.search_filtered("data value", allowed, k=10, mode="or"))
    got = _rows(qindex.search_query("data value lang:de", k=10, mode="or", docs=docs_sf0001))
    _assert_same(got, want)


def test_facet_range_and_multivalue_parity(qindex, docs_sf0001):
    """lang:de,en (any-of) + n_chars:[120 TO 200] (numeric inclusive range)
    + a repeated conjunctive field must equal the hand-built filter."""
    from pyspark.sql import functions as F

    allowed = docs_sf0001.filter(
        F.col("lang").isin("de", "en")
        & (F.col("n_chars") >= 120)
        & (F.col("n_chars") <= 200)
    ).select("doc_id")
    want = _rows(qindex.search_filtered("data value", allowed, k=10, mode="or"))
    got = _rows(
        qindex.search_query(
            "data value lang:de,en n_chars:[120 TO 200]",
            k=10, mode="or", docs=docs_sf0001,
        )
    )
    _assert_same(got, want)
    # conjunctive repeated field: de AND en on a single-valued column = empty
    assert (
        qindex.search_query(
            "data value lang:de lang:en", k=10, mode="or", docs=docs_sf0001
        ).count()
        == 0
    )
    # one-sided range + non-numeric bound (lexicographic on source string)
    allowed2 = docs_sf0001.filter(F.col("source") >= "src5").select("doc_id")
    want2 = _rows(qindex.search_filtered("data value", allowed2, k=10, mode="or"))
    got2 = _rows(
        qindex.search_query(
            "data value source:[src5 TO *]", k=10, mode="or", docs=docs_sf0001
        )
    )
    _assert_same(got2, want2)


def test_phrase_plus_term_is_filtered_disjunction(qindex, docs_sf0001):
    """'"merge part" data' == OR-score {merge, part, data} restricted to the
    phrase survivors (phrase docs contain merge and part by definition)."""
    surv = qindex.search_phrase("merge part", k=1 << 30).select("doc_id")
    want = _rows(qindex.search_filtered("merge part data", surv, k=10, mode="or"))
    got = _rows(qindex.search_query('"merge part" data', k=10))
    _assert_same(got, want)


def _bm25_oracle(pydocs):
    """Per-(doc, term) BM25 weights, brute-force in Python."""
    import math
    from collections import Counter

    rx = re.compile(IDENT_RE)
    toks = {d: rx.findall((t or "").lower()) for d, t in pydocs}
    tf = {d: Counter(ts) for d, ts in toks.items()}
    df = Counter(t for c in tf.values() for t in c)
    n = len(toks)
    avgdl = sum(len(ts) for ts in toks.values()) / n
    def w(d, t):
        f = tf[d].get(t, 0)
        if not f:
            return 0.0
        idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
        return idf * f * 2.2 / (f + 1.2 * (1 - 0.75 + 0.75 * len(toks[d]) / avgdl))
    return toks, tf, df, w


@pytest.fixture(scope="module")
def pydocs(docs_sf0001):
    return [(r["doc_id"], r["text"]) for r in docs_sf0001.select("doc_id", "text").collect()]


def test_composed_query_matches_python_oracle(qindex, pydocs):
    """'+data value* -merge spark': must + prefix-expansion + NOT + bare,
    brute-forced in Python (expansions score qtf=1, never required;
    explicit atoms win collisions)."""
    toks, tf, df, w = _bm25_oracle(pydocs)
    expansions = sorted(t for t in df if t.startswith("value"))
    want = []
    for d in toks:
        if not tf[d].get("data") or tf[d].get("merge"):
            continue
        score = w(d, "data") + w(d, "spark") + sum(w(d, t) for t in expansions)
        want.append((d, round(score, 6)))
    want.sort(key=lambda r: (-r[1], r[0]))
    got = _rows(qindex.search_query("+data value* -merge spark", k=10, round_to=6))
    _assert_same(got, want[:10])


def test_must_term_in_phrase_not_double_counted(qindex, pydocs):
    """'+merge "merge part"' — merge plays two roles but is one scoring atom
    with qtf=2 (its occurrence count across the query string)."""
    toks, tf, df, w = _bm25_oracle(pydocs)
    rx = re.compile(IDENT_RE)
    phrase = ["merge", "part"]
    want = []
    for d, ts in toks.items():
        hit = any(ts[i : i + 2] == phrase for i in range(len(ts) - 1))
        if hit and tf[d].get("merge"):
            want.append((d, round(2.0 * w(d, "merge") + w(d, "part"), 6)))
    want.sort(key=lambda r: (-r[1], r[0]))
    got = _rows(qindex.search_query('+merge "merge part"', k=10, round_to=6))
    _assert_same(got, want[:10])


def test_missing_required_atom_returns_empty(qindex):
    assert qindex.search_query("+zzz_not_here data").count() == 0
    assert qindex.search_query('"zzz_not_here data"').count() == 0
    assert qindex.search_query("-data").count() == 0  # no positive atom


def test_facet_requires_docs_table(qindex):
    with pytest.raises(ValueError):
        qindex.search_query("data lang:de")


# ------------------------------------------------------------------ NEAR


def _near_oracle(pydocs, terms, window):
    rx = re.compile(IDENT_RE)
    out = set()
    for d, t in pydocs:
        ts = rx.findall((t or "").lower())
        pos = {w: [i for i, x in enumerate(ts) if x == w] for w in terms}
        if any(not v for v in pos.values()):
            continue
        anchors = sorted(q for v in pos.values() for q in v)
        if any(
            all(any(a <= q <= a + window for q in pos[w]) for w in terms)
            for a in anchors
        ):
            out.add(d)
    return out


@pytest.mark.parametrize(
    "query,window",
    [("merge part", 1), ("merge part", 5), ("data query", 3), ("spark window fast", 8)],
)
def test_near_matches_python_oracle(qindex, pydocs, query, window):
    got = {r["doc_id"] for r in qindex.search_near(query, window, k=1 << 30).collect()}
    assert got == _near_oracle(pydocs, query.split(), window), (query, window)


def test_near_wide_window_equals_and_search(qindex):
    """A window larger than any doc degenerates NEAR to conjunctive AND —
    same docs, same scores."""
    want = _rows(qindex.search("data query", k=10, mode="and"))
    got = _rows(qindex.search_near("data query", 10**6, k=10))
    _assert_same(got, want)


def test_near_window1_superset_of_phrase(qindex):
    """Unordered adjacency (window=1) must contain every exact-phrase doc
    (and may add reversed-order ones)."""
    ph = {r["doc_id"] for r in qindex.search_phrase("merge part", k=1 << 30).collect()}
    nr = {r["doc_id"] for r in qindex.search_near("merge part", 1, k=1 << 30).collect()}
    assert ph <= nr


def test_parse_near_clause():
    spec = parse_query('data "merge part"~3 +x')
    assert spec.nears == [("merge part", 3)]
    assert spec.phrases == [] and spec.should == ["data"] and spec.must == ["x"]
    # plain phrase unaffected; ~ without quotes is just a term character
    assert parse_query('"a b"').phrases == ["a b"]


def test_search_query_near_parity(qindex):
    got = _rows(qindex.search_query('"merge part"~5'))
    want = _rows(qindex.search_near("merge part", 5, k=10))
    _assert_same(got, want)


def test_search_query_near_composed(qindex, pydocs):
    """'+data "merge part"~5' — near survivors intersected with the must
    term, scored over all three atoms."""
    toks, tf, df, w = _bm25_oracle(pydocs)
    near_docs = _near_oracle(pydocs, ["merge", "part"], 5)
    want = []
    for d in toks:
        if d in near_docs and tf[d].get("data"):
            want.append((d, round(w(d, "data") + w(d, "merge") + w(d, "part"), 6)))
    want.sort(key=lambda r: (-r[1], r[0]))
    got = _rows(qindex.search_query('+data "merge part"~5', k=10, round_to=6))
    _assert_same(got, want[:10])


def test_positional_ops_need_positions_index(engines_nopos):
    """Clear driver-side error on a positions-less index for every
    positional surface (instead of a worker-side KeyError)."""
    idx = engines_nopos
    with pytest.raises(ValueError, match="positions-enabled"):
        idx.search_phrase("merge part")
    with pytest.raises(ValueError, match="positions-enabled"):
        idx.search_near("merge part", 3)
    with pytest.raises(ValueError, match="positions-enabled"):
        idx.search_query('"merge part"')
    # non-positional grammar still works on the same index
    assert idx.search_query("data").count() > 0


@pytest.fixture(scope="module")
def engines_nopos(spark, docs_sf0001):
    tf = S.term_frequencies(docs_sf0001, text_col="text")
    dl = S.doc_lengths(tf)
    td = build_term_dict(S.document_frequencies(tf))
    p = build_postings(tf, dl, td, S.corpus_stats(dl), docs_per_part=128)
    return Bm25CompressedIndex(spark, p.persist(), td.persist())


# ------------------------------------------------------------ batched grammar


def test_search_query_batch_per_query_parity(qindex):
    """Every batch row set must equal its single search_query result —
    across all clause kinds (must/NOT/prefix/phrase/NEAR, both modes)."""
    queries = {
        "plain": "spark query",
        "boolean": "+data s* -merge window",
        "phrase": '"merge part" data',
        "near": '+data "merge part"~5',
        "unmatchable": "+zzz_not_here data",
    }
    batch = qindex.search_query_batch(queries, k=10, round_to=6).collect()
    by_q: dict[str, list] = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    assert "unmatchable" not in by_q
    for qid, q in queries.items():
        if qid == "unmatchable":
            continue
        want = _rows(qindex.search_query(q, k=10, round_to=6))
        _assert_same(sorted(by_q.get(qid, []), key=lambda t: (-t[1], t[0])), want, qid)


def test_search_query_batch_facets_need_docs(qindex):
    # facets are supported in batch (r4) but require the docs table
    with pytest.raises(ValueError, match="docs"):
        qindex.search_query_batch(["data lang:de"])


def test_search_query_batch_facet_parity(qindex, docs_sf0001):
    """Each faceted batch entry must equal its search_query result; mixed
    faceted/unfaceted batches keep unfaceted queries unfiltered."""
    queries = {
        "de": "data value lang:de",
        "range": "data value n_chars:[120 TO 200]",
        "plain": "data value",
        "empty": "data value lang:zz_nonexistent",
    }
    batch = qindex.search_query_batch(
        queries, k=10, round_to=6, docs=docs_sf0001
    ).collect()
    by_q: dict[str, list] = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    assert "empty" not in by_q  # facet allows nothing -> no rows
    for qid, q in queries.items():
        if qid == "empty":
            continue
        want = _rows(qindex.search_query(q, k=10, round_to=6, docs=docs_sf0001))
        got = sorted(by_q.get(qid, []), key=lambda t: (-t[1], t[0]))
        _assert_same(got, want, qid)


# ------------------------------------------------------------------ boosts


def test_parse_boosts():
    spec = parse_query("data^2 +key^1.5 -x^3 plain")
    assert spec.should == ["data", "plain"] and spec.must == ["key"]
    assert spec.boosts == [("data", 2.0), ("key", 1.5)]  # NOT boost dropped
    assert spec.exclude == ["x"]
    for bad in ("quer*^2", "lang:de^2"):
        with pytest.raises(ValueError, match="boost"):
            parse_query(bad)


def test_boost_is_term_repetition_sugar(qindex):
    """'data^2 spark' == 'data data spark' == the OR primitive on the
    repeated string; '+data^3' == AND with qtf 3."""
    want = _rows(qindex.search("data data spark", k=10, mode="or"))
    _assert_same(_rows(qindex.search_query("data^2 spark")), want)
    _assert_same(_rows(qindex.search_query("data data spark")), want)
    want_and = _rows(qindex.search("data data data", k=10, mode="and"))
    _assert_same(_rows(qindex.search_query("+data^3")), want_and)


def test_boost_accumulates_per_occurrence(qindex):
    """'data data^2' totals qtf 3 — same as 'data^3'."""
    a = _rows(qindex.search_query("data data^2 spark", round_to=6))
    b = _rows(qindex.search_query("data^3 spark", round_to=6))
    _assert_same(a, b)


# ------------------------------------------------------------- ordered NEAR


def _near_ordered_oracle(pydocs, terms, window):
    rx = re.compile(IDENT_RE)
    out = set()
    for d, t in pydocs:
        ts = rx.findall((t or "").lower())
        pos = {w: [i for i, x in enumerate(ts) if x == w] for w in set(terms)}
        if any(not pos[w] for w in terms):
            continue
        for p1 in pos[terms[0]]:
            cur, ok = p1, True
            for w in terms[1:]:
                nxt = [q for q in pos[w] if q > cur]
                if not nxt:
                    ok = False
                    break
                cur = min(nxt)
            if ok and cur - p1 <= window:
                out.add(d)
                break
    return out


@pytest.mark.parametrize(
    "query,window",
    [("merge part", 3), ("part merge", 3), ("data query", 5), ("spark window fast", 10)],
)
def test_near_ordered_matches_python_oracle(qindex, pydocs, query, window):
    got = {
        r["doc_id"]
        for r in qindex.search_near(query, window, k=1 << 30, ordered=True).collect()
    }
    assert got == _near_ordered_oracle(pydocs, query.split(), window), (query, window)


def test_near_ordered_tight_window_equals_phrase(qindex):
    """ordered NEAR with window = len(terms)-1 forces exact adjacency in
    order == search_phrase (docs AND scores)."""
    want = _rows(qindex.search_phrase("merge part", k=10))
    got = _rows(qindex.search_near("merge part", 1, k=10, ordered=True))
    _assert_same(got, want)


def test_near_ordered_subset_of_unordered(qindex):
    un = {r["doc_id"] for r in qindex.search_near("data query", 5, k=1 << 30).collect()}
    od = {
        r["doc_id"]
        for r in qindex.search_near("data query", 5, k=1 << 30, ordered=True).collect()
    }
    assert od <= un


# ------------------------------------------------------------------ fuzzing


def test_parse_query_total_on_arbitrary_input():
    """parse_query is total: any string either parses or raises the
    documented ValueError — never any other exception."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.text(max_size=80))
    def run(q):
        try:
            spec = parse_query(q)
        except ValueError:
            return
        # invariants: parsed clauses are non-None strings / well-formed
        assert all(isinstance(w, str) for w in spec.should + spec.must + spec.exclude)
        assert all(isinstance(p, str) and p.strip() for p in spec.phrases)
        assert all(w >= 0 for _s, w in spec.nears)
        assert all(b >= 0 for _t, b in spec.boosts)

    run()


# ------------------------------------------------------------------ fuzzy


def test_parse_fuzzy():
    spec = parse_query("quer~1 data near~2")
    assert spec.fuzzies == [("quer", 1), ("near", 2)]
    assert spec.should == ["data"]
    with pytest.raises(ValueError, match="negated fuzzy"):
        parse_query("-quer~1")
    with pytest.raises(ValueError, match="boost on a fuzzy"):
        parse_query("quer~1^2")
    with pytest.raises(ValueError, match="distance"):
        parse_query("quer~3")


def test_fuzzy_expansion_matches_manual(qindex, pydocs):
    """'quer~1 data' == OR-scoring {data} + every dict term within edit
    distance 1 of 'quer', each qtf=1 (brute-forced in Python)."""
    import math

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    toks, tf, df, w = _bm25_oracle(pydocs)
    exp = sorted(t for t in df if lev(t, "quer") <= 1)
    assert exp, "fixture must have at least one expansion"
    terms = set(exp) | {"data"}
    want = []
    for d in toks:
        s = sum(w(d, t) for t in terms)
        if s > 0:
            want.append((d, round(s, 6)))
    want.sort(key=lambda r: (-r[1], r[0]))
    got = _rows(qindex.search_query("quer~1 data", k=10, round_to=6))
    _assert_same(got, want[:10])


def test_fuzzy_collision_with_explicit_atom(qindex):
    """'query query~0' — the distance-0 expansion collides with the
    explicit term and is skipped (qtf stays 1, not 2)."""
    want = _rows(qindex.search("query", k=10, mode="or"))
    got = _rows(qindex.search_query("query query~0"))
    _assert_same(got, want)


def test_signed_prefix_stays_should():
    """'+pre*' is accepted; the prefix stays SHOULD (expansions are never
    required) — pinned so the behavior is deliberate, not accidental."""
    assert parse_query("+quer* data").prefixes == ["quer"]
    assert parse_query("+quer* data").must == []


def test_parse_regexp_clause():
    spec = parse_query("data /Quer[a-z]*/ other")
    assert spec.regexps == ["quer[a-z]*"]
    assert spec.should == ["data", "other"]
    with pytest.raises(ValueError, match="regexp"):
        parse_query("-/abc/")
    # slashes with a space inside are NOT a regexp clause
    assert parse_query("/a b/").regexps == []


def test_grammar_regexp_parity_with_search_regexp(qindex):
    want = _rows(qindex.search_regexp("quer[a-z]*", k=10, round_to=6))
    got = _rows(qindex.search_query("/quer[a-z]*/", k=10, round_to=6))
    _assert_same(got, want)


def test_parse_wildcard_clause():
    spec = parse_query("data quer?y a*b")
    # ? and mid-star compile to whole-term regexps (escaped literals)
    assert spec.regexps == ["quer.y", "a.*b"]
    assert spec.prefixes == [] and spec.should == ["data"]
    # trailing-star-only stays a prefix; bare * stays a term
    s2 = parse_query("plain* *")
    assert s2.prefixes == ["plain"] and s2.should == ["*"] and s2.regexps == []
    with pytest.raises(ValueError, match="wildcard"):
        parse_query("-qu?ry")


def test_grammar_wildcard_parity_with_regexp(qindex):
    # quer? == regex quer. — single-char wildcard over the fixture vocab
    want = _rows(qindex.search_regexp("quer.", k=10, round_to=6))
    got = _rows(qindex.search_query("quer?", k=10, round_to=6))
    _assert_same(got, want)


def test_numeric_range_facet_on_nonnumeric_strings_filters(qindex, docs_sf0001):
    """r6 fix (ANSI): a numeric range facet over a string column holding
    non-numeric values must FILTER those rows (try_cast), not hard-fail
    the query the way a plain cast does under Spark 4 ANSI mode."""
    got = qindex.search_query(
        "data value source:[1 TO 5]", k=10, mode="or", docs=docs_sf0001
    )
    assert got.count() == 0  # 'srcN' never parses as a number


def test_search_regexp_uppercase_pattern_lowercases(qindex):
    """r6 fix: the dictionary stores lowercased terms; the direct API
    must lowercase the pattern like search_prefix and the /re/ grammar
    clause already do, instead of silently matching nothing."""
    lo = _rows(qindex.search_regexp("dat.*", k=10))
    hi = _rows(qindex.search_regexp("Dat.*", k=10))
    assert lo, "fixture corpus must match dat.*"
    assert hi == lo


# ------------------------------------------------ driver-scored point queries

_ROWS_QUERIES = [
    ("spark query", "and"),
    ("spark query", "or"),
    ("+spark +query -merge", "or"),
    ("spark merge window -data", "or"),
    ("quer* data", "or"),
    ("quer~1 data", "or"),
    ("/quer[a-z]*/ window", "or"),
    ("spark^2 query", "or"),
    ('"merge part"', "or"),
    ('"merge part" data', "and"),
    ('"spark query"~4 data', "or"),
    ("zzz_not_here", "or"),
    ("+zzz_not_here data", "or"),
    ("-data -merge", "or"),
    # 3+ terms co-occurring in docs of several parts: each score is a sum
    # of 3+ impacts, so these pin the summation order of both executors
    ("spark merge window data", "or"),
    ("+spark +merge +window +data", "or"),
]


def _frame_calls(monkeypatch, idx) -> list:
    """Spy on the point helper that builds search_query_rows' distributed plan."""
    calls = []
    real = idx._point_frame

    def spy(*a, **kw):
        calls.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(idx, "_point_frame", spy)
    return calls


def _index_df(idx) -> int:
    """Summed df of the whole index, from its driver dictionary."""
    return int(idx._snapshot().dictionary.dfs.sum())


@pytest.mark.parametrize("cap", ["default", "narrow", 0])
def test_search_query_rows_equals_collect(qindex, monkeypatch, cap):
    """search_query_rows == search_query(...).collect() exactly (doc_id
    order and float score) over the grammar, on all three paths: the
    driver-resident postings (default cap), one narrow scan per query
    (cap between the query's df and the whole index's) and, with the cap
    at 0, the distributed plan."""
    if cap == "narrow":
        cap = _index_df(qindex) - 1  # every query here holds fewer postings
    if cap != "default":
        monkeypatch.setattr(Bm25CompressedIndex, "DRIVER_SCORE_MAX_POSTINGS", cap)
    calls = _frame_calls(monkeypatch, qindex)
    for query, mode in _ROWS_QUERIES:
        want = _rows(qindex.search_query(query, k=10, mode=mode))
        calls.clear()
        got = qindex.search_query_rows(query, k=10, mode=mode)
        assert got == want, (query, mode)
        if cap != 0:
            assert not calls, (query, mode)
        elif want:
            assert calls, (query, mode)
    assert (qindex._driver_postings(qindex._snapshot()) is not None) == (cap == "default")


def test_search_query_rows_facets_take_distributed_plan(qindex, docs_sf0001, monkeypatch):
    calls = _frame_calls(monkeypatch, qindex)
    query = "data value lang:de"
    want = _rows(qindex.search_query(query, k=10, mode="or", docs=docs_sf0001))
    calls.clear()
    got = qindex.search_query_rows(query, k=10, mode="or", docs=docs_sf0001)
    assert got == want and want
    assert len(calls) == 1
    with pytest.raises(ValueError):
        qindex.search_query_rows(query, k=10)  # no docs table


def test_search_query_rows_small_query_is_one_job(qindex, spark, monkeypatch):
    """Once the dict cache is filled, a small index serves point searches
    and suggestions with NO Spark job (resident postings, driver suggest);
    an index over the cap serves a small query with exactly one job, the
    narrow postings scan."""
    query = 'spark -merge "merge part"'
    want = qindex.search_query_rows(query, k=10)  # fills both caches
    assert want
    got, jobs = count_jobs(spark, lambda: qindex.search_query_rows(query, k=10))
    assert (got, jobs) == (want, 0)
    sugg, jobs = count_jobs(spark, lambda: qindex.suggest_rows("quey", k=5))
    assert sugg and jobs == 0

    monkeypatch.setattr(
        Bm25CompressedIndex, "DRIVER_SCORE_MAX_POSTINGS", _index_df(qindex) - 1
    )
    got, jobs = count_jobs(spark, lambda: qindex.search_query_rows(query, k=10))
    assert (got, jobs) == (want, 1)


# ------------------------------------------------ driver-scored batches


def _batch_rows(df) -> list:
    """(query_id, doc_id, score) rows in rank order per query."""
    rows = [(r["query_id"], r["doc_id"], r["score"]) for r in df.collect()]
    return sorted(rows, key=lambda t: (t[0], -t[2], t[1]))


@pytest.mark.parametrize("round_to", [None, 6])
@pytest.mark.parametrize("mode", ["and", "or"])
def test_search_query_batch_resident_equals_distributed(
    qindex, spark, monkeypatch, mode, round_to
):
    """A batch scored on the driver from the resident postings returns the
    distributed plan's rows exactly (doc ids and float scores), runs no
    Spark job once the caches are filled, and takes the list form too."""
    queries = [q for q, _mode in _ROWS_QUERIES]
    batch = {str(i): q for i, q in enumerate(queries)}
    qindex.search_query_rows("spark", k=1)  # fills the dict cache + resident table
    frame, jobs = count_jobs(
        spark, lambda: qindex.search_query_batch(batch, k=10, mode=mode, round_to=round_to)
    )
    got, collect_jobs = count_jobs(spark, lambda: _batch_rows(frame))
    assert (jobs, collect_jobs) == (0, 0)
    assert got == _batch_rows(
        qindex.search_query_batch(queries, k=10, mode=mode, round_to=round_to)
    )
    monkeypatch.setattr(Bm25CompressedIndex, "DRIVER_SCORE_MAX_POSTINGS", 0)
    dist = qindex.search_query_batch(batch, k=10, mode=mode, round_to=round_to)
    want = _batch_rows(dist)
    assert want and got == want
    assert frame.schema == dist.schema


def test_multi_term_rows_queries_span_parts(qindex):
    """The 3+-term entries of _ROWS_QUERIES match docs of several parts
    (docs_per_part=128), so the summation-order checks above see them."""
    for query in ("spark merge window data", "+spark +merge +window +data"):
        hits = qindex.search_query_rows(query, k=10)
        assert len({d // 128 for d, _ in hits}) > 1, query


def test_resident_queries_decode_nothing(qindex, spark, monkeypatch):
    """Once one search has filled the caches, a batch and a point query
    score from the decoded resident index: no varbyte decode and no Spark
    job. The spy is live: decoding an encoded part calls it."""
    import pandas as pd
    import pyarrow as pa

    from searchenginer_spark.functions import codec
    from searchenginer_spark.operators import postings as P

    qindex.search_query_rows("spark", k=1)  # fills the dict cache + resident index
    calls = []

    def spy(buf):
        calls.append(len(buf))
        return codec.varbyte_decode(buf)

    monkeypatch.setattr(P, "varbyte_decode", spy)
    queries = [q for q, _mode in _ROWS_QUERIES]
    batch, jobs = count_jobs(spark, lambda: _batch_rows(qindex.search_query_batch(queries, k=10)))
    rows, row_jobs = count_jobs(
        spark, lambda: qindex.search_query_rows("spark merge window data", k=10)
    )
    assert batch and rows
    assert (jobs, row_jobs, calls) == (0, 0, [])
    pdf = pd.DataFrame({"part": [0], "term_id": [1], "doc_id": [3], "tf": [1], "df": [1]})
    P.decode_table(P._encode_part(pa.Table.from_pandas(pdf), 4.0, 1.0))
    assert calls


def test_search_query_batch_resident_unmatchable(qindex, monkeypatch):
    """An all-unmatchable batch is an empty frame with the distributed
    frame's schema."""
    queries = ["zzz_not_here", "+zzz_not_here data", "-data -merge"]
    qindex.search_query_rows("spark", k=1)
    frame = qindex.search_query_batch(queries, k=10)
    assert frame.collect() == []
    monkeypatch.setattr(Bm25CompressedIndex, "DRIVER_SCORE_MAX_POSTINGS", 0)
    assert frame.schema == qindex.search_query_batch(["spark query"], k=10).schema


def test_search_query_batch_faceted_takes_distributed_plan(qindex, spark, docs_sf0001):
    """One faceted query sends the whole batch through the distributed plan;
    its unfaceted queries still equal the resident answers."""
    qindex.search_query_rows("spark", k=1)
    plain = _batch_rows(qindex.search_query_batch({"plain": "data value"}, k=10))
    mixed, jobs = count_jobs(
        spark,
        lambda: _batch_rows(
            qindex.search_query_batch(
                {"plain": "data value", "de": "data value lang:de"},
                k=10, docs=docs_sf0001,
            )
        ),
    )
    assert jobs > 0
    assert plain and [r for r in mixed if r[0] == "plain"] == plain
    assert any(r[0] == "de" for r in mixed)


# ------------------------------------------------------------ one executor


def test_entry_points_construct_with_no_job(qindex, spark, docs_sf0001, monkeypatch):
    """Once the dict cache is filled, building any entry point's frame runs
    no Spark job: compile on the driver, then a lazy plan (batches with the
    cap at 0, so they build the distributed plan too)."""
    from pyspark.sql import functions as F

    qindex.search_query_rows("spark", k=1)  # fills the dict cache
    monkeypatch.setattr(Bm25CompressedIndex, "DRIVER_SCORE_MAX_POSTINGS", 0)
    allowed = docs_sf0001.filter(F.col("lang") == "de").select("doc_id")
    builders = {
        "search": lambda: qindex.search("spark query -merge", k=10),
        "score_all": lambda: qindex.score_all("spark query", mode="or"),
        "search_filtered": lambda: qindex.search_filtered("data value", allowed, k=10),
        "search_prefix": lambda: qindex.search_prefix("quer", k=10),
        "search_regexp": lambda: qindex.search_regexp("quer[a-z]*", k=10),
        "search_near": lambda: qindex.search_near("merge part", 3, k=10, ordered=True),
        "search_phrase": lambda: qindex.search_phrase("merge part", k=10),
        "search_query": lambda: qindex.search_query('+data "merge part"~5 quer*'),
        "search_query facets": lambda: qindex.search_query(
            "data value lang:de", docs=docs_sf0001
        ),
        "search_batch": lambda: qindex.search_batch(["spark query", "data"], k=10),
        "search_query_batch": lambda: qindex.search_query_batch(
            ["spark -merge", "data value lang:de"], k=10, docs=docs_sf0001
        ),
    }
    for name, build in builders.items():
        frame, jobs = count_jobs(spark, build)
        assert jobs == 0, name
        assert frame.collect() or name == "search_filtered", name


@pytest.mark.parametrize("mode", ["and", "or"])
def test_search_batch_resident_equals_distributed(qindex, spark, monkeypatch, mode):
    """search_batch on the driver-resident postings returns the distributed
    plan's rows exactly (cap 0), with no Spark job, and each query's rows
    are exactly search(...)'s."""
    queries = {
        "hot": "data", "pair": "spark query", "three": "data query spark",
        "rep": "for for the", "absent": "zzz_not_here data", "none": "",
    }
    qindex.search_query_rows("spark", k=1)  # fills the dict cache + resident table
    frame, jobs = count_jobs(spark, lambda: qindex.search_batch(queries, k=10, mode=mode))
    got = _batch_rows(frame)
    assert jobs == 0 and got
    for qid, text in queries.items():
        mine = [(d, s) for q, d, s in got if q == qid]
        assert mine == _rows(qindex.search(text, k=10, mode=mode)), qid
    monkeypatch.setattr(Bm25CompressedIndex, "DRIVER_SCORE_MAX_POSTINGS", 0)
    dist = qindex.search_batch(queries, k=10, mode=mode)
    assert got == _batch_rows(dist)
    assert frame.schema == dist.schema


def test_and_search_equals_must_grammar_bitwise(qindex):
    """Plain AND terms and +MUST grammar terms are one compiled form, so
    their scores agree to the last bit however many terms there are (the
    kernel adds every term's score in ascending term_id order)."""
    for text in ("data query spark", "the data query value", "data data spark merge"):
        want = _rows(qindex.search(text, k=10, mode="and"))
        got = _rows(qindex.search_query(" ".join("+" + t for t in text.split()), k=10))
        assert got == want and want, text
