from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from searchenginer_spark.functions.textstats import (
    bpe_ish_token_count,
    lang_id,
    quality_score,
    stopword_ratio,
    ws_token_count,
)
from searchenginer_spark.operators.ann import ann_lsh_topk, cosine_topk, srp_buckets
from searchenginer_spark.operators.suggest import suggest
from tests.conftest import count_jobs


@pytest.fixture(scope="module")
def term_dict(spark):
    rows = [
        ("return", 100), ("retain", 40), ("retry", 30), ("rerun", 20),
        ("random", 10), ("zeta", 5), ("result", 60), ("red", 3),
    ]
    df = spark.createDataFrame(rows, "term string, freq long")
    return df.withColumn("prefix", F.substring("term", 1, 1))


def test_suggest_misspelling(term_dict):
    got = suggest(term_dict, "retrun", k=4).collect()
    # lev('retrun','rerun') = 1 (delete 't'); retain/retry/return all at 2,
    # tie-broken lexicographically
    assert [r["term"] for r in got] == ["rerun", "retain", "retry", "return"]
    sims = [r["sim"] for r in got]
    assert sims == sorted(sims, reverse=True)


def test_suggest_prefix_prune(term_dict):
    # 'zeta' shares no char-prefix with 'retrun' candidates beyond r/e/t/u/n
    got = {r["term"] for r in suggest(term_dict, "retrun", k=8).collect()}
    assert "zeta" not in got


def test_suggest_exact_sim_value(term_dict, spark):
    got = suggest(term_dict, "return", k=1).collect()[0]
    assert got["term"] == "return" and abs(got["sim"] - 1.0) < 1e-12


def test_lang_id_and_quality(spark):
    rows = [
        (1, "the cat is in the house and it is warm"),
        (2, "der Hund ist nicht in das Haus und der Garten"),
        (3, "xyzzy qwfp zzz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in df.select(
        "doc_id",
        lang_id(F.col("text")).alias("lang"),
        ws_token_count(F.col("text")).alias("n_ws"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe"),
        quality_score(F.col("text")).alias("q"),
        stopword_ratio(F.col("text")).alias("sr"),
    ).collect()}
    assert out[1]["lang"] == "en"
    assert out[2]["lang"] == "de"
    assert out[3]["lang"] == "und"
    assert out[1]["n_ws"] == 10
    assert out[1]["q"] > out[3]["q"]
    assert out[1]["sr"] > 0.3


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").persist()


def test_cosine_topk_vs_numpy(embeddings):
    rows = embeddings.collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    q = mat[0]
    cos = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -cos))[:10]
    want = ids[order].tolist()
    got = [r["vec_id"] for r in cosine_topk(embeddings, q.tolist(), k=10).collect()]
    assert got == want
    assert got[0] == 0  # self-similarity = 1


def test_ivf_recall(embeddings):
    from searchenginer_spark.operators.ann import ivf_build, ivf_topk

    centroids, bucketed = ivf_build(embeddings, n_lists=8, seed=42)
    bucketed = bucketed.persist()
    assert centroids.shape == (8, 64)
    q = embeddings.limit(1).collect()[0]["embedding"]
    exact = [r["vec_id"] for r in cosine_topk(embeddings, q, k=10).collect()]
    approx = [r["vec_id"] for r in ivf_topk(bucketed, centroids, q, k=10, nprobe=3).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.4
    assert approx[0] == 0  # query vector's own list always probed first
    # every vector landed in exactly one list
    assert bucketed.count() == embeddings.count()


def test_ann_lsh_recall(embeddings):
    rows = embeddings.limit(1).collect()
    q = rows[0]["embedding"]
    exact = [r["vec_id"] for r in cosine_topk(embeddings, q, k=10).collect()]
    bucketed = srp_buckets(embeddings, n_planes=8, seed=42).persist()
    approx = [r["vec_id"] for r in ann_lsh_topk(bucketed, q, k=10, n_planes=8).collect()]
    # LSH with hamming-1 probing should recover a decent fraction of true top-10
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.3
    assert approx[0] == exact[0] == 0  # the query vector itself always found


def test_suggest_pad_to_exactly_k(spark):
    """pad=True reproduces the reference's fixed-width response
    (server.pb_skeleton.cc:169-185): exactly k rows, '' fillers strictly
    after every real candidate."""
    from searchenginer_spark.operators.suggest import suggest

    td = spark.createDataFrame(
        [("query", 0, 5, 5, "q"), ("quart", 1, 3, 3, "q")],
        "term string, term_id long, df long, cf long, prefix string",
    )
    rows = suggest(td, "quer", k=10, pad=True).collect()
    assert len(rows) == 10
    assert rows[0]["term"] == "query" and rows[1]["term"] == "quart"
    assert all(r["term"] == "" and r["sim"] == 0.0 for r in rows[2:])
    # default: only real candidates
    assert suggest(td, "quer", k=10).count() == 2


def test_suggest_lowercases_query(spark, term_dict):
    """r6 fix: the dictionary is lowercased; a capitalized query must
    fold before prefix pruning and edit distance, not prune away its
    own first-letter bucket and pay a phantom edit."""
    from searchenginer_spark.operators.suggest import suggest

    lo = [(r["term"], r["sim"]) for r in suggest(term_dict, "retrun", k=5).collect()]
    hi = [(r["term"], r["sim"]) for r in suggest(term_dict, "Retrun", k=5).collect()]
    assert lo and hi == lo


# ------------------------------------------------ driver-side suggest_rows

_SUGGEST_TERMS = [
    "return", "retain", "retry", "rerun", "result", "red", "random", "zeta",
    "über", "übel", "ubel",
    "搜索", "搜索引擎", "索引", "引擎",
    "𝒳ab", "𝒳abc", "𝒳", "😀x", "😀😀",
    "a", "ab", "ba",
    "abcdef", "abcdefx", "abcdefy",
    "w" * 320,  # one long term: its own length group
]


@pytest.fixture(scope="module")
def suggest_index(spark):
    from searchenginer_spark.plans.bm25 import Bm25CompressedIndex

    rows = [(t, i, len(t), len(t)) for i, t in enumerate(sorted(_SUGGEST_TERMS))]
    td = spark.createDataFrame(rows, "term string, term_id long, df long, cf long")
    td = td.withColumn("prefix", F.substring("term", 1, 1))
    return Bm25CompressedIndex(spark, td.limit(0), td)


@pytest.mark.parametrize(
    "word,k",
    [
        ("retrun", 4),  # sim ties: retain/retry/return at distance 2
        ("Retrun", 5),  # capitalised: folds before prune and distance
        ("RETRUN", 50),  # k larger than the candidate count
        ("Über", 3),
        ("搜索引", 10),  # CJK
        ("引索", 10),
        ("𝒳a", 10),  # astral plane: one code point each
        ("😀", 10),
        ("qqq", 10),  # no term starts with any of its letters
        ("ab", 10),  # ties at sim 0.5 and at sim 0
        ("zeta", 1),
        # all three at sim 1 - 1/7: abcdef wins the tie from the shorter
        # length group, whose bound 1 - 1/7 is not below the k-th sim
        # (a bound computed as 6/7 is, and stops before it)
        ("abcdefg", 2),
        pytest.param("w" * 310 + "x", 3, id="long-word"),  # int32 DP cells
    ],
)
def test_suggest_rows_equals_operator(spark, suggest_index, word, k):
    """suggest_rows runs on the driver dict cache and returns exactly the
    operator's rows: same terms, same order, same float sims."""
    want = [
        (r["term"], r["sim"])
        for r in suggest(suggest_index.term_dict, word, k=k).collect()
    ]
    suggest_index.suggest_rows("warm", k=1)  # fills the dict cache
    got, jobs = count_jobs(spark, lambda: suggest_index.suggest_rows(word, k=k))
    assert got == want
    assert jobs == 0
    if word == "qqq":
        assert got == []


def test_suggest_rows_without_dict_cache_runs_operator(spark, suggest_index):
    from searchenginer_spark.plans.bm25 import Bm25CompressedIndex

    idx = Bm25CompressedIndex(spark, suggest_index.postings, suggest_index.term_dict)
    idx._dict_cache_checked = True  # simulate a dict over the cache cap
    want = [(r["term"], r["sim"]) for r in suggest(idx.term_dict, "retrun", k=5).collect()]
    assert idx.suggest_rows("retrun", k=5) == want


def test_edit_distances_match_python_levenshtein():
    from searchenginer_spark.operators.suggest import CodeGroups, levenshtein

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = np.random.default_rng(7)
    alphabet = list("abc") + ["搜", "𝒳"]
    terms = sorted(
        {"".join(rng.choice(alphabet, size=rng.integers(0, 9))) for _ in range(300)}
        | {"a" * 260}
    )
    groups = CodeGroups(terms)
    assert groups.nbytes == 4 * sum(map(len, terms)) + 8 * len(terms)
    for word in ("a", "abca", "搜𝒳b", "ccccccccc", "ab" * 130):
        codes = np.array([ord(c) for c in word], dtype=np.uint32)
        for mat, rows in zip(groups.codes, groups.rows):
            got = levenshtein(codes, mat)
            assert got.tolist() == [lev(word, terms[i]) for i in rows], word
