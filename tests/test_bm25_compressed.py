from __future__ import annotations

import numpy as np
import pytest

from searchenginer_spark.operators import stats as S
from searchenginer_spark.operators.dict import build_term_dict
from searchenginer_spark.operators.postings import (
    BLOCK,
    build_postings,
    decode_doc_ids,
    decode_scores,
    decode_table,
    decode_tfs,
)
from searchenginer_spark.plans.bm25 import Bm25CompressedIndex
from searchenginer_spark.plans.bm25_dataframe import Bm25DataFrameIndex
from tests.conftest import assert_released, count_jobs, persisted_ids

QUERIES = [
    ("data", "and"),
    ("data", "or"),
    ("spark query", "and"),
    ("spark query group", "or"),
    ("the fast key order", "and"),
    ("for for for", "and"),
    ("zzz_not_here", "and"),
    ("zzz_not_here data", "or"),  # one absent term, OR still scores the other
]


@pytest.fixture(scope="module")
def engines(spark, docs_sf0001):
    m1 = Bm25DataFrameIndex.build(docs_sf0001, text_col="text")
    term_dict = build_term_dict(m1.dft)
    # small docs_per_part so multiple parts + multi-block rows are exercised
    postings = build_postings(m1.tf, m1.dl, term_dict, m1.stats, docs_per_part=128)
    comp = Bm25CompressedIndex(spark, postings.persist(), term_dict.persist())
    return m1, comp


@pytest.mark.parametrize("query,mode", QUERIES)
def test_rank_identical_to_dataframe_engine(engines, query, mode):
    m1, comp = engines
    want = [(r["doc_id"], r["score"]) for r in m1.search(query, k=10, mode=mode).collect()]
    got = [(r["doc_id"], r["score"]) for r in comp.search(query, k=10, mode=mode).collect()]
    assert [d for d, _ in got] == [d for d, _ in want], f"{query}/{mode}"
    for (_, g), (_, w) in zip(got, want):
        assert abs(g - w) < 1e-9


@pytest.mark.parametrize("query,mode,excl", [
    ("spark query", "and", ["merge"]),
    ("spark query group", "or", ["fast", "zzz_absent"]),
    ("data", "and", ["data"]),  # exclusion overlapping the query is a no-op
])
def test_search_exclude_matches_bruteforce(engines, docs_sf0001, query, mode, excl, spark):
    from pyspark.sql import functions as F

    m1, comp = engines
    # brute-force reference: unexcluded top-100, drop docs containing any
    # excluded term, take 10
    base = m1.search(query, k=100, mode=mode, round_to=4).collect()
    eff_excl = [t for t in excl if t not in query.split()]
    bad = {
        r["doc_id"]
        for r in docs_sf0001.filter(
            F.arrays_overlap(
                F.split(F.lower("text"), "[^a-z0-9_]+"), F.array(*[F.lit(t) for t in eff_excl])
            )
        ).collect()
    } if eff_excl else set()
    want = [(r["doc_id"], r["score"]) for r in base if r["doc_id"] not in bad][:10]
    got = [
        (r["doc_id"], r["score"])
        for r in comp.search(query, k=10, mode=mode, round_to=4, exclude=excl).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want], (query, mode, excl)


def test_search_prefix_matches_or_expansion(engines, spark):
    from pyspark.sql import functions as F

    m1, comp = engines
    terms = sorted(
        r["term"]
        for r in m1.dft.filter(F.col("term").startswith("quer")).select("term").collect()
    )
    assert terms, "fixture vocab needs quer* terms"
    want = [
        (r["doc_id"], r["score"])
        for r in m1.search(" ".join(terms), k=10, mode="or", round_to=4).collect()
    ]
    got = [(r["doc_id"], r["score"]) for r in comp.search_prefix("quer", k=10, round_to=4).collect()]
    assert got == want
    # big-dict fallback path (no driver cache): identical result
    comp2 = Bm25CompressedIndex(spark, comp.postings, comp.term_dict)
    comp2.DRIVER_DICT_CACHE_MAX = 0  # simulate dict > cache cap
    got2 = [(r["doc_id"], r["score"]) for r in comp2.search_prefix("quer", k=10, round_to=4).collect()]
    assert got2 == want
    assert comp.search_prefix("zzzz_nothing", k=10).count() == 0


def test_search_filtered_matches_bruteforce(engines, docs_sf0001):
    from pyspark.sql import functions as F

    m1, comp = engines
    allowed = docs_sf0001.filter((F.col("doc_id") % 3) == 0).select("doc_id")
    allow_set = {r["doc_id"] for r in allowed.collect()}
    for query, mode in [("spark query", "and"), ("spark query group", "or")]:
        base = m1.search(query, k=1000, mode=mode, round_to=4).collect()
        want = [(r["doc_id"], r["score"]) for r in base if r["doc_id"] in allow_set][:10]
        got = [
            (r["doc_id"], r["score"])
            for r in comp.search_filtered(
                query, allowed, k=10, mode=mode, round_to=4, docs_per_part=128
            ).collect()
        ]
        assert got == want, (query, mode)
    empty = docs_sf0001.filter(F.col("doc_id") < 0).select("doc_id")
    assert comp.search_filtered("spark query", empty, k=10, docs_per_part=128).count() == 0
    with pytest.raises(ValueError, match="docs_per_part"):
        comp.search_filtered("spark query", allowed, k=10)  # no geometry


def test_open_index_carries_geometry(spark, docs_sf0001, tmp_path):
    from pyspark.sql import functions as F

    from searchenginer_spark.plans.build_index import build_index, open_index

    root = str(tmp_path / "fidx")
    build_index(docs_sf0001.select("doc_id", "text"), root, text_col="text", docs_per_part=128)
    idx = open_index(spark, root)
    assert idx.docs_per_part == 128  # meta table round-trips the geometry
    allowed = docs_sf0001.filter((F.col("doc_id") % 2) == 0).select("doc_id")
    got = {r["doc_id"] for r in idx.search_filtered("data", allowed, k=10).collect()}
    assert got and all(d % 2 == 0 for d in got)


def test_posting_row_layout(engines):
    m1, _ = engines
    # single part covering all 500 docs -> hot terms give multi-block rows
    term_dict = build_term_dict(m1.dft)
    postings = build_postings(m1.tf, m1.dl, term_dict, m1.stats, docs_per_part=1 << 16)
    row = postings.filter(postings.n > BLOCK).orderBy("term_id", "part").first()
    assert row is not None, "need a multi-block posting row for this test"
    ids = decode_doc_ids(row["docs"], row["n"])
    assert len(ids) == row["n"]
    assert np.all(np.diff(ids) > 0), "doc ids strictly increasing"
    tfs = decode_tfs(row["tfs"])
    scores = decode_scores(row["scores"])
    assert len(tfs) == row["n"] and len(scores) == row["n"]
    assert (tfs >= 1).all() and (scores > 0).all()
    # the loader's flat form of the row: the same ids and scores, and one
    # block_last/block_max entry per 128-posting block of them
    g = decode_table(
        postings.filter(postings.term_id == row["term_id"]).toArrow()
    ).term(row["term_id"])
    nblocks = -(-row["n"] // BLOCK)
    assert np.array_equal(g.doc_ids[(nblocks - 1) * BLOCK :], ids[(nblocks - 1) * BLOCK :])
    assert np.array_equal(g.doc_ids, ids) and np.array_equal(g.scores, scores)
    assert len(g.block_last) == nblocks == len(g.block_max)
    assert g.block_last[-1] == ids[-1]
    for b in range(nblocks):
        lo, hi = b * BLOCK, min((b + 1) * BLOCK, row["n"])
        assert g.block_last[b] == ids[hi - 1]
        assert abs(g.block_max[b] - scores[lo:hi].max()) < 1e-12


def test_binary_column_past_32bit_offsets_raises():
    """A part whose binary column would pass 2^31-1 bytes raises instead
    of wrapping its 32-bit offsets (checked before any buffer is read)."""
    from searchenginer_spark.operators.postings import _binary

    with pytest.raises(ValueError, match="docs_per_part"):
        _binary("docs", np.empty(0, dtype=np.uint8), np.array([0, 1 << 31]))
    col = _binary("tfs", np.frombuffer(b"abc", dtype=np.uint8), np.array([0, 1, 3]))
    assert col.to_pylist() == [b"a", b"bc"]


def test_parts_cover_disjoint_doc_ranges(engines):
    _, comp = engines
    from pyspark.sql import functions as F

    rows = comp.postings.select("part", "n", "docs").collect()
    for r in rows:
        assert np.all(decode_doc_ids(r["docs"], r["n"]) // 128 == r["part"])


def test_or_blockmax_multiblock_exact(spark):
    """Block-max OR pruning (essential-term segment skipping) must stay
    rank-identical to the uncompressed engine on MULTI-block posting rows
    with skewed impacts — the geometry where tau actually kills blocks.
    1500 docs in one part -> ~12 blocks per hot term."""
    rows = []
    for i in range(1500):
        words = ["alpha"] * (1 + i % 4) + ["beta"] * (1 + (i * 7) % 5)
        words += [f"filler{i % 60}"] * (i % 13)  # dl variance -> impact skew
        if i % 3 == 0:
            words.append("gamma")
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    m1 = Bm25DataFrameIndex.build(docs, text_col="text", persist=False)
    td = build_term_dict(m1.dft)
    postings = build_postings(m1.tf, m1.dl, td, m1.stats, docs_per_part=4096)
    comp = Bm25CompressedIndex(spark, postings, td, docs_per_part=4096)
    for query, k in [("alpha beta", 10), ("alpha beta gamma", 10),
                     ("alpha gamma", 5), ("alpha beta", 5000),  # k>n: no seed
                     ("alpha alpha beta", 10),  # qtf>1 scales block uppers
                     ("alpha beta gamma filler3", 7)]:  # non-essential tail
        # rank on ROUNDED scores (the engine contract — see round_to
        # docs): this corpus mass-produces exact score ties, and raw
        # float sums can differ by an ulp between the two engines'
        # summation orders, flipping rank vs the doc_id tie-break
        want = [(r["doc_id"], r["score"])
                for r in m1.search(query, k=k, mode="or", round_to=4).collect()]
        got = [(r["doc_id"], r["score"])
               for r in comp.search(query, k=k, mode="or", round_to=4).collect()]
        assert [d for d, _ in got] == [d for d, _ in want], query
        for (_, g), (_, w) in zip(got, want):
            assert abs(g - w) < 1e-9


def test_serving_mode_parity(spark, docs_sf0001):
    """serving_mode (AQE off, shrunk exchange, coalesced cache) is pure
    session/layout tuning — results must be identical; restore confs."""
    m1 = Bm25DataFrameIndex.build(docs_sf0001, text_col="text", persist=False)
    td = build_term_dict(m1.dft)
    postings = build_postings(m1.tf, m1.dl, td, m1.stats, docs_per_part=128)
    comp = Bm25CompressedIndex(spark, postings, td, docs_per_part=128)
    before = [(r["doc_id"], r["score"])
              for r in comp.search("spark query", k=10, mode="and").collect()]
    aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    sp0 = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        comp.serving_mode(n_partitions=4)
        after = [(r["doc_id"], r["score"])
                 for r in comp.search("spark query", k=10, mode="and").collect()]
        assert after == before
        or_after = comp.search("spark merge window", k=10, mode="or").collect()
        assert len(or_after) == 10
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe0)
        spark.conf.set("spark.sql.shuffle.partitions", sp0)
        comp.postings.unpersist()
        comp.term_dict.unpersist()


def test_search_regexp_matches_or_expansion(engines, spark):
    import re as _re

    from pyspark.sql import functions as F

    m1, comp = engines
    pat = "quer[a-z]*"
    rx = _re.compile(pat)
    terms = sorted(
        r["term"]
        for r in m1.dft.select("term").collect()
        if rx.fullmatch(r["term"])
    )
    assert terms, "fixture vocab needs quer* terms"
    want = [
        (r["doc_id"], r["score"])
        for r in m1.search(" ".join(terms), k=10, mode="or", round_to=4).collect()
    ]
    got = [
        (r["doc_id"], r["score"])
        for r in comp.search_regexp(pat, k=10, round_to=4).collect()
    ]
    assert got == want
    # big-dict fallback (Catalyst rlike probe, no driver cache): identical
    comp2 = Bm25CompressedIndex(spark, comp.postings, comp.term_dict)
    comp2.DRIVER_DICT_CACHE_MAX = 0
    got2 = [
        (r["doc_id"], r["score"])
        for r in comp2.search_regexp(pat, k=10, round_to=4).collect()
    ]
    assert got2 == want
    # no-literal-prefix pattern takes the rlike path even when cached
    got3 = comp.search_regexp("[q]uer[a-z]*", k=10, round_to=4).collect()
    assert [(r["doc_id"], r["score"]) for r in got3] == want
    assert comp.search_regexp("zzzz_nothing.*", k=10).count() == 0


def test_search_fields_weighted_sum(engines, spark, docs_sf0001):
    """BM25F-lite: title (first-12-tokens field, weight 2) + body. The
    weighted sum must match a brute-force recompute from the two engines'
    own un-truncated scores."""
    from pyspark.sql import functions as F

    from searchenginer_spark.plans.bm25 import search_fields

    m1, body = engines
    title_docs = docs_sf0001.select(
        "doc_id",
        F.array_join(
            F.slice(F.regexp_extract_all(F.lower("text"),
                                         F.lit("[a-z_][a-z0-9_]*"), F.lit(0)),
                    1, 12),
            " ",
        ).alias("text"),
    )
    t1 = Bm25DataFrameIndex.build(title_docs, text_col="text", persist=False)
    ttd = build_term_dict(t1.dft)
    tpost = build_postings(t1.tf, t1.dl, ttd, t1.stats, docs_per_part=128)
    title = Bm25CompressedIndex(spark, tpost, ttd, docs_per_part=128)

    got = [
        (r["doc_id"], r["score"])
        for r in search_fields(
            {"title": (title, 2.0), "body": (body, 1.0)},
            "data value", k=10, mode="or", round_to=6,
        ).collect()
    ]
    # brute force: un-truncated per-field scores, summed in python
    bscores = {r["doc_id"]: r["score"]
               for r in body.score_all("data value", mode="or").collect()}
    tscores = {r["doc_id"]: r["score"]
               for r in title.score_all("data value", mode="or").collect()}
    want = {}
    for d in set(bscores) | set(tscores):
        want[d] = round(2.0 * tscores.get(d, 0.0) + bscores.get(d, 0.0), 6)
    top = sorted(want.items(), key=lambda t: (-t[1], t[0]))[:10]
    assert [d for d, _ in got] == [d for d, _ in top]
    for (_, g), (_, w) in zip(got, top):
        assert abs(g - w) < 1e-9
    # title weight is load-bearing: weights (1,1) must differ from (2,1)
    got11 = search_fields(
        {"title": (title, 1.0), "body": (body, 1.0)},
        "data value", k=10, mode="or", round_to=6,
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in got11] != got


# ---------------------------------------------------------------- r5 fixes


def test_split_top_level_alternation_pure():
    from searchenginer_spark.plans.bm25 import (
        _regex_literal_prefix,
        _split_top_level_alternation,
    )

    assert _split_top_level_alternation("cat|dog") == ["cat", "dog"]
    assert _split_top_level_alternation("ca(t|d)") == ["ca(t|d)"]
    assert _split_top_level_alternation("a[|]b") == ["a[|]b"]
    assert _split_top_level_alternation(r"a\|b") == [r"a\|b"]
    assert _split_top_level_alternation("a|b|c") == ["a", "b", "c"]
    assert _split_top_level_alternation("cat|") == ["cat", ""]
    assert _split_top_level_alternation("plain") == ["plain"]
    # branch prefixes: the group-internal '|' keeps 'ca' mandatory
    assert _regex_literal_prefix("ca(t|d)") == "ca"
    assert _regex_literal_prefix("abc*") == "ab"
    assert _regex_literal_prefix(".any") == ""


def test_search_regexp_alternation_cached_matches_fallback(engines, spark):
    """/quer[a-z]*|data/ — the cached literal-prefix path must not drop
    the second branch (r4 bug: chars before a top-level '|' were treated
    as a mandatory prefix, silently losing every 'data' match)."""
    import re as _re

    m1, comp = engines
    pat = "quer[a-z]*|data"
    rx = _re.compile(pat)
    terms = sorted(
        r["term"] for r in m1.dft.select("term").collect() if rx.fullmatch(r["term"])
    )
    assert "data" in terms and len(terms) > 1, "fixture needs both branches"
    want = [
        (r["doc_id"], r["score"])
        for r in m1.search(" ".join(terms), k=10, mode="or", round_to=4).collect()
    ]
    assert comp._driver_dict(comp._snapshot()) is not None, "cached path must be active"
    got = [
        (r["doc_id"], r["score"])
        for r in comp.search_regexp(pat, k=10, round_to=4).collect()
    ]
    assert got == want
    # uncached rlike fallback agrees
    comp2 = Bm25CompressedIndex(spark, comp.postings, comp.term_dict)
    comp2.DRIVER_DICT_CACHE_MAX = 0
    got2 = [
        (r["doc_id"], r["score"])
        for r in comp2.search_regexp(pat, k=10, round_to=4).collect()
    ]
    assert got2 == want
    # a prefix-less branch ('cat|.og') still routes to the rlike path
    from searchenginer_spark.plans.bm25 import (
        _regex_literal_prefix,
        _split_top_level_alternation,
    )

    assert not all(
        _regex_literal_prefix(b) for b in _split_top_level_alternation("quer.*|.ata")
    )


def test_lev_within_matches_bruteforce():
    """Fuzzy expansion's cached path: CodeGroups.within keeps exactly the
    terms a plain Levenshtein puts within the distance, with it."""
    import random

    from searchenginer_spark.operators.suggest import CodeGroups

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = random.Random(7)
    words = ["".join(rng.choice("abc_") for _ in range(rng.randint(0, 6)))
             for _ in range(40)]
    terms = sorted(set(words[20:]))
    groups = CodeGroups(terms)
    for a in words[:20]:
        for maxd in (0, 1, 2):
            pos, d = groups.within(a, maxd)
            want = {t: lev(a, t) for t in terms if lev(a, t) <= maxd}
            assert {terms[p]: x for p, x in zip(pos.tolist(), d.tolist())} == want, (a, maxd)


def test_expand_fuzzy_cached_matches_spark_and_runs_no_job(engines, spark):
    """Cached fuzzy expansion (length-banded in-process DP) must rank
    identically to the Spark levenshtein probe — and must never touch
    term_dict (i.e. zero Spark jobs on the warm path)."""
    m1, comp = engines
    snap = comp._snapshot()
    assert comp._driver_dict(snap) is not None

    comp2 = Bm25CompressedIndex(spark, comp.postings, comp.term_dict)
    comp2.DRIVER_DICT_CACHE_MAX = 0  # force the Spark fallback path
    snap2 = comp2._snapshot()
    for word, dist in [("quer", 1), ("data", 1), ("dat", 2), ("zzzz", 1), ("", 1)]:
        want = comp2._expand_fuzzy(snap2, word, dist, 1 << 20)
        got = comp._expand_fuzzy(snap, word, dist, 1 << 20)
        assert got == want, (word, dist)
    # cap respected with the same ranking prefix
    full = comp._expand_fuzzy(snap, "dat", 2, 1 << 20)
    assert comp._expand_fuzzy(snap, "dat", 2, 3) == full[:3]

    # no-job assertion: the cached path never reads the term_dict table
    got, jobs = count_jobs(spark, lambda: comp._expand_fuzzy(snap, "quer", 1, 1 << 20))
    assert jobs == 0
    assert got == comp2._expand_fuzzy(snap2, "quer", 1, 1 << 20)


def test_dict_version_two_rapid_bumps_distinct(spark, tmp_path):
    """Two bumps inside the filesystem's mtime granularity must still
    produce distinct versions — the version is the marker's CONTENT
    (uuid), not an (mtime, len) stamp."""
    from searchenginer_spark.plans.bm25 import bump_dict_version, read_dict_version

    root = str(tmp_path / "vroot")
    assert read_dict_version(spark, root) is None
    bump_dict_version(spark, root)
    v1 = read_dict_version(spark, root)
    bump_dict_version(spark, root)  # immediately — same mtime tick on 1s fs
    v2 = read_dict_version(spark, root)
    assert v1 and v2 and v1 != v2
    assert len(v1) == 32  # uuid4 hex
    # a local marker is read in-process; the py4j read that every other
    # filesystem takes reads the same version, and None when it is missing
    from searchenginer_spark.plans.bm25 import _dict_version_marker

    fs, p, local = _dict_version_marker(spark, root)
    assert local is not None
    assert read_dict_version(spark, root, (fs, p, None)) == v2
    fs, p, _ = _dict_version_marker(spark, str(tmp_path / "none"))
    assert read_dict_version(spark, str(tmp_path / "none"), (fs, p, None)) is None

    # a handle resolves the marker once and reads it through that path:
    # a missing marker reads as None, two back-to-back bumps as two versions
    from searchenginer_spark.plans.bm25 import Bm25CompressedIndex

    td = spark.createDataFrame([("a", 0, 1)], "term string, term_id long, df long")
    idx = Bm25CompressedIndex(spark, td, td, root=str(tmp_path / "hroot"))

    def read():
        return read_dict_version(spark, idx._root, idx._version_marker)

    assert idx._version_marker is not None
    assert idx._snap.version is None and read() is None
    bump_dict_version(spark, idx._root)
    h1 = read()
    bump_dict_version(spark, idx._root)
    h2 = read()
    assert h1 and h2 and h1 != h2 and len(h2) == 32
    assert h2 == read_dict_version(spark, idx._root)


def test_empty_marker_keeps_the_snapshot(spark, tmp_path):
    """A bump overwrites the marker by truncating it first: a query that
    reads it empty in between keeps the handle's snapshot rather than
    building one for a version no writer stamped."""
    from searchenginer_spark.plans.bm25 import bump_dict_version

    root = str(tmp_path / "eroot")
    bump_dict_version(spark, root)
    td = spark.createDataFrame([("a", 0, 1)], "term string, term_id long, df long")
    idx = Bm25CompressedIndex(spark, td, td, root=root)
    snap = idx._snapshot()
    assert snap.version
    _, _, local = idx._version_marker
    open(local, "w").close()  # the overwrite's truncate, before its write
    assert idx._snapshot() is snap


def test_serving_mode_repeat_does_not_stack_persisted_rdds(spark, docs_sf0001):
    """serving_mode() called twice (and dict_version refreshes) must
    unpersist the previous coalesced cache instead of leaking it."""
    m1 = Bm25DataFrameIndex.build(docs_sf0001, text_col="text", persist=False)
    td = build_term_dict(m1.dft)
    post = build_postings(m1.tf, m1.dl, td, m1.stats, docs_per_part=128)
    comp = Bm25CompressedIndex(spark, post, td, docs_per_part=128)

    base = persisted_ids(spark)
    comp.serving_mode(n_partitions=4)
    first = persisted_ids(spark) - base
    comp.serving_mode(n_partitions=4)
    second = persisted_ids(spark) - base - first
    comp.serving_mode(n_partitions=4)
    # the leak regression (r4) kept every earlier call's cache: only the
    # last call's may stay
    last = persisted_ids(spark) - base - first - second
    assert_released(spark, base | last)
    # teardown
    for df in (comp.postings, comp.term_dict):
        df.unpersist()
    assert_released(spark, base)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "32")


def test_alternation_split_property():
    """Property: for random regexes over a small alphabet, every vocab
    term that fullmatches the whole pattern starts with SOME branch's
    literal prefix — the invariant the cached bisect path relies on.
    And rejoining the split always reproduces the original pattern."""
    import random
    import re as _re

    from searchenginer_spark.plans.bm25 import (
        _regex_literal_prefix,
        _split_top_level_alternation,
    )

    rng = random.Random(99)
    vocab = ["".join(rng.choice("abc") for _ in range(rng.randint(1, 5)))
             for _ in range(300)]
    pieces = ["a", "b", "c", "ab", "bc", "a*", "b?", "[ab]", "(a|b)", ".", "c+"]
    for _ in range(400):
        n_br = rng.randint(1, 3)
        pat = "|".join(
            "".join(rng.choice(pieces) for _ in range(rng.randint(1, 3)))
            for _ in range(n_br)
        )
        branches = _split_top_level_alternation(pat)
        assert "|".join(branches) == pat
        lits = [_regex_literal_prefix(b) for b in branches]
        if not all(lits):
            continue  # would take the rlike path — nothing to verify
        try:
            rx = _re.compile(pat)
        except _re.error:
            continue
        for t in vocab:
            if rx.fullmatch(t):
                assert any(t.startswith(p) for p in lits), (pat, t, lits)


def test_search_plan_cache_reuses_plan_never_results(engines, spark, tmp_path):
    """r7: repeated identical point queries reuse the PREPARED PLAN (the
    ~50 ms py4j construction, PLANS.md §6) but re-execute the job per
    collect — no result caching — and a dict_version bump invalidates."""
    _, comp = engines
    comp._snap.plans.clear()
    df1 = comp.search("spark query", k=5, mode="and")
    r1 = [tuple(r) for r in df1.collect()]
    assert comp.search("spark query", k=5, mode="and") is df1  # plan reuse
    assert [tuple(r) for r in df1.collect()] == r1  # re-executed, same rows
    assert not df1.is_cached  # plans cached, never results
    assert comp.search("spark query", k=6, mode="and") is not df1
    assert comp.search("spark query", k=5, mode="or") is not df1

    # staleness: a writer bump drops every prepared plan
    from pyspark.sql import functions as F

    from searchenginer_spark.plans.bm25 import bump_dict_version
    from searchenginer_spark.plans.build_index import build_index, open_index
    from searchenginer_spark.sources.corpus import generate_corpus, mint_doc_ids

    root = str(tmp_path / "pcroot")
    docs = mint_doc_ids(generate_corpus(spark, 60, seed=5), num_partitions=2)
    build_index(docs.select("doc_id", F.col("content").alias("content")),
                root, docs_per_part=32, with_positions=True)
    idx = open_index(spark, root)
    d1 = idx.search("int return", k=5)
    assert idx.search("int return", k=5) is d1
    p1 = idx.search_phrase("int return", k=5)
    assert idx.search_phrase("int return", k=5) is p1
    bump_dict_version(spark, root)
    d2 = idx.search("int return", k=5)
    assert d2 is not d1  # cache cleared, plan rebuilt on fresh snapshots


def test_snapshot_fills_lazily(spark, tmp_path):
    """A handle submits no job at construction, open_index only its reads
    of the root, and the first point query and the first suggest of a
    fresh handle exactly the jobs that fill what they read: the term_dict
    count and collect (and, for the query, the resident postings load)."""
    from searchenginer_spark.plans.build_index import build_index, open_index, read_postings
    from searchenginer_spark.sources.corpus import build_docs

    root = str(tmp_path / "lazy")
    build_index(build_docs(spark, 150, seed=7), root, docs_per_part=64, with_positions=True)
    postings = read_postings(spark, root)
    term_dict = spark.read.parquet(f"{root}/term_dict")
    _, jobs = count_jobs(spark, lambda: Bm25CompressedIndex(spark, postings, term_dict))
    assert jobs == 0
    idx, jobs = count_jobs(spark, lambda: open_index(spark, root))
    assert jobs == 4
    rows, jobs = count_jobs(spark, lambda: idx.search_query_rows("int return", k=5))
    assert rows and jobs == 4
    assert count_jobs(spark, lambda: idx.search_query_rows("int return", k=5)) == (rows, 0)
    idx = open_index(spark, root)
    sugg, jobs = count_jobs(spark, lambda: idx.suggest_rows("retrun", k=5))
    assert sugg and jobs == 3
    assert count_jobs(spark, lambda: idx.suggest_rows("retrun", k=5)) == (sugg, 0)
