from __future__ import annotations

import re

import numpy as np
import pytest

from searchenginer_spark.operators import stats as S
from searchenginer_spark.operators.dict import build_term_dict
from searchenginer_spark.operators.postings import (
    build_postings,
    decode_positions,
    decode_tfs,
)
from searchenginer_spark.plans.bm25 import Bm25CompressedIndex
from searchenginer_spark.plans.bm25_dataframe import IDENT_RE


@pytest.fixture(scope="module")
def pindex(spark, docs_sf0001):
    tf = S.term_frequencies(docs_sf0001, text_col="text", with_positions=True).persist()
    dl = S.doc_lengths(tf)
    dft = S.document_frequencies(tf)
    stats = S.corpus_stats(dl)
    term_dict = build_term_dict(dft).persist()
    postings = build_postings(tf, dl, term_dict, stats, docs_per_part=128).persist()
    return Bm25CompressedIndex(spark, postings, term_dict)


def _phrase_docs_oracle(docs, phrase):
    """All doc_ids whose token sequence contains the phrase contiguously."""
    rx = re.compile(IDENT_RE)
    want = rx.findall(phrase.lower())
    out = set()
    for d, t in docs:
        toks = rx.findall((t or "").lower())
        for i in range(len(toks) - len(want) + 1):
            if toks[i : i + len(want)] == want:
                out.add(d)
                break
    return out


@pytest.fixture(scope="module")
def pydocs(docs_sf0001):
    return [(r["doc_id"], r["text"]) for r in docs_sf0001.select("doc_id", "text").collect()]


@pytest.mark.parametrize(
    "phrase",
    ["merge part", "the fast key", "data data", "query spark zzz_absent", "row"],
)
def test_phrase_matches_oracle(pindex, pydocs, phrase):
    got = {r["doc_id"] for r in pindex.search_phrase(phrase, k=1000).collect()}
    want = _phrase_docs_oracle(pydocs, phrase)
    assert got == want, phrase


def test_phrase_ranking_and_k(pindex):
    rows = pindex.search_phrase("merge part", k=3).collect()
    assert len(rows) <= 3
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_positions_roundtrip(pindex):
    row = pindex.postings.filter(pindex.postings.n > 3).first()
    tfs = decode_tfs(row["tfs"])
    pos = decode_positions(row["positions"], tfs)
    assert len(pos) == row["n"]
    for p, t in zip(pos, tfs):
        assert len(p) == t
        assert np.all(np.diff(p) > 0)  # strictly increasing within a doc


@pytest.fixture(scope="module")
def multiblock(spark):
    """Positions index where hot terms span MANY 128-posting blocks (one
    giant part), so the loader decodes positions across block boundaries."""
    from pyspark.sql import functions as F

    from searchenginer_spark.sources.corpus import build_docs

    docs = build_docs(spark, 600, seed=7, num_partitions=4).select(
        "doc_id", F.col("content").alias("text")
    ).persist()
    tf = S.term_frequencies(docs, text_col="text", with_positions=True)
    dl = S.doc_lengths(tf)
    term_dict = build_term_dict(S.document_frequencies(tf)).persist()
    postings = build_postings(
        tf, dl, term_dict, S.corpus_stats(dl), docs_per_part=1 << 16
    ).persist()
    pydocs = [(r["doc_id"], r["text"]) for r in docs.collect()]
    return Bm25CompressedIndex(spark, postings, term_dict), pydocs


def test_decoded_positions_match_full_decode(multiblock):
    """The loader's positions of a >3-block hot term equal the row's full
    decode, posting by posting, in every block."""
    from searchenginer_spark.operators.postings import (
        BLOCK,
        decode_positions_flat,
        decode_table,
    )

    idx, _ = multiblock
    row = idx.postings.filter(idx.postings.n > 3 * BLOCK).first()
    assert row is not None, "fixture needs a >3-block hot term"
    tfs = decode_tfs(row["tfs"])
    flat_full, starts_full, counts_full = decode_positions_flat(row["positions"], tfs)
    g = decode_table(
        idx.postings.filter(idx.postings.term_id == row["term_id"]).toArrow()
    ).term(row["term_id"])
    assert np.array_equal(g.pos_off[:-1] - g.pos_off[0], starts_full)
    assert np.array_equal(np.diff(g.pos_off), counts_full)
    assert np.array_equal(g.positions[g.pos_off[0] : g.pos_off[-1]], flat_full)


def test_decode_table_matches_row_decoders(spark):
    """decode_table over a multi-part, multi-block positions index: every
    term's flat arrays equal its rows' per-row decodes concatenated in part
    order, its blocks are the flat list's 128-posting blocks, and a term
    one doc repeats 10^5 times keeps its positions exact. One row holds
    exactly 2 * BLOCK postings."""
    from searchenginer_spark.operators.postings import (
        BLOCK,
        decode_doc_ids,
        decode_positions_flat,
        decode_scores,
        decode_table,
    )

    def text(i: int) -> str:
        words = [f"w{i % 7}"] * (1 + i % 3) + ["common"]
        # alpha: docs 0-255 of part 0 (n = 2 * BLOCK), 300-429 of part 1,
        # all of part 2
        if i < 256 or 300 <= i < 430 or i >= 600:
            words.insert(i % len(words), "alpha")
        if i == 5:
            words += ["beta"] * 100_000
        return " ".join(words)

    docs = spark.createDataFrame(
        [(i, text(i)) for i in range(900)], "doc_id long, text string"
    )
    tf = S.term_frequencies(docs, text_col="text", with_positions=True)
    dl = S.doc_lengths(tf)
    term_dict = build_term_dict(S.document_frequencies(tf))
    table = build_postings(
        tf, dl, term_dict, S.corpus_stats(dl), docs_per_part=300
    ).toArrow()
    index = decode_table(table)
    rows = sorted(table.to_pylist(), key=lambda r: (r["term_id"], r["part"]))
    assert any(r["n"] == 2 * BLOCK for r in rows)
    assert index.term_ids.tolist() == sorted({r["term_id"] for r in rows})
    for t in index.term_ids.tolist():
        mine = [r for r in rows if r["term_id"] == t]
        g = index.term(t)
        ids = np.concatenate([decode_doc_ids(r["docs"], r["n"]) for r in mine])
        tfs = np.concatenate([decode_tfs(r["tfs"]) for r in mine])
        assert np.array_equal(g.doc_ids, ids), t
        assert np.array_equal(g.scores, np.concatenate([decode_scores(r["scores"]) for r in mine]))
        assert np.array_equal(g.tfs, tfs)
        flat = np.concatenate(
            [decode_positions_flat(r["positions"], decode_tfs(r["tfs"]))[0] for r in mine]
        )
        assert np.array_equal(np.diff(g.pos_off), tfs)
        assert np.array_equal(g.positions[g.pos_off[0] : g.pos_off[-1]], flat), t
        ends = np.minimum(np.arange(BLOCK, ids.size + BLOCK, BLOCK), ids.size)
        assert np.array_equal(g.block_last, ids[ends - 1])
        assert np.array_equal(
            g.block_max, np.maximum.reduceat(g.scores, np.arange(0, ids.size, BLOCK))
        )
    term_ids = {r["term"]: r["term_id"] for r in term_dict.collect()}
    alpha = index.term(term_ids["alpha"])
    assert alpha.doc_ids.size == 256 + 130 + 300 and alpha.block_last.size == 6
    beta = index.term(term_ids["beta"])
    assert beta.doc_ids.tolist() == [5]
    start = len(text(5).split()) - 100_000
    assert np.array_equal(
        beta.positions[beta.pos_off[0] : beta.pos_off[1]], np.arange(start, start + 100_000)
    )


@pytest.mark.parametrize("phrase", ["int return", "def id42", "return return"])
def test_phrase_multiblock_matches_oracle(multiblock, phrase):
    idx, pydocs = multiblock
    got = {r["doc_id"] for r in idx.search_phrase(phrase, k=100000).collect()}
    want = _phrase_docs_oracle(pydocs, phrase)
    assert got == want, phrase


def test_non_phrase_path_ignores_positions(pindex, docs_sf0001):
    # AND search on a positions-enabled index still works and matches the
    # positions-free engine
    from searchenginer_spark.plans.bm25_dataframe import Bm25DataFrameIndex

    m1 = Bm25DataFrameIndex.build(docs_sf0001, text_col="text", persist=False)
    want = [r["doc_id"] for r in m1.search("spark query", k=10).collect()]
    got = [r["doc_id"] for r in pindex.search("spark query", k=10).collect()]
    assert got == want
