from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from searchenginer_spark.cache import CacheScope
from searchenginer_spark.functions.hashing import (
    simhash,
    tfidf_top_keywords,
)
from searchenginer_spark.operators import stats as S
from searchenginer_spark.operators.dedup import (
    dedup_by_pairs,
    dedup_exact,
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from searchenginer_spark.sources.corpus import generate_corpus, mint_doc_ids
from tests.conftest import assert_released, count_jobs, persisted_ids


@pytest.fixture(scope="module")
def docs(spark):
    # corpus injects exact dups (id%97==1 copies id-1) and near dups
    # (id%101==2 = id-1 with one identifier renamed)
    d = mint_doc_ids(generate_corpus(spark, 300, seed=42), num_partitions=4)
    return d.select("doc_id", F.col("content").alias("text")).persist()


@pytest.fixture(scope="module")
def fingerprints(docs):
    tf = S.term_frequencies(docs, text_col="text")
    dft = S.document_frequencies(tf)
    stats = S.corpus_stats(S.doc_lengths(tf))
    kw = tfidf_top_keywords(tf, dft, stats, top_n=20)
    return simhash(kw).persist()


def test_exact_dedup(spark, docs):
    n = docs.count()
    groups = exact_duplicates(docs, "text").collect()
    assert len(groups) >= 1
    total_extra = sum(g["n_copies"] - 1 for g in groups)
    kept = dedup_exact(docs, "text")
    assert kept.count() == n - total_extra
    # lowest id survives in every group
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    for g in groups:
        assert g["keep_id"] in kept_ids


def test_simhash_deterministic_and_discriminative(fingerprints):
    fps = {r["doc_id"]: r["simhash"] for r in fingerprints.collect()}
    assert len(set(fps.values())) > len(fps) // 2  # mostly distinct
    # exact dup docs share identical text => identical keywords => same fp
    # (id 98 copies id 97 when 98 % 97 == 1 -> doc ids are rank-based so
    # just assert: identical text -> identical simhash via pair check below)


def test_simhash_near_pairs_finds_dups(spark, docs, fingerprints):
    pairs = simhash_near_pairs(fingerprints, max_hamming=3).collect()
    pairset = {(p["doc_id"], p["doc_id_2"]) for p in pairs}
    assert len(pairset) >= 1
    # every exact-duplicate pair must appear with hamming 0
    texts = docs.groupBy("text").agg(F.collect_list("doc_id").alias("ids")).collect()
    exact_pairs = set()
    for r in texts:
        ids = sorted(r["ids"])
        for i in range(len(ids) - 1):
            exact_pairs.add((ids[i], ids[i + 1]))
    dup_pairs = {p for p in exact_pairs}
    assert dup_pairs, "fixture must contain exact dups"
    hz = {(p["doc_id"], p["doc_id_2"]): p["hamming"] for p in pairs}
    for dp in dup_pairs:
        assert dp in hz and hz[dp] == 0, f"exact dup pair {dp} missed"

    deduped = dedup_by_pairs(docs, simhash_near_pairs(fingerprints))
    assert deduped.count() < docs.count()
    # deterministic: rerun gives same survivors
    again = dedup_by_pairs(docs, simhash_near_pairs(fingerprints))
    assert deduped.select("doc_id").exceptAll(again.select("doc_id")).count() == 0


def test_banding_pigeonhole_property(spark):
    # construct two fingerprints at hamming exactly 3 -> must share a band
    import random

    rnd = random.Random(7)
    from searchenginer_spark.operators.dedup import simhash_near_pairs as snp

    rows = []
    for i in range(20):
        base = rnd.getrandbits(63)
        flipped = base
        for b in rnd.sample(range(64), 3):
            flipped ^= 1 << b
        flipped &= (1 << 63) - 1  # keep positive for LongType simplicity
        rows.append((2 * i, base))
        rows.append((2 * i + 1, flipped if flipped != base else base ^ 1))
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    pairs = {(p["doc_id"], p["doc_id_2"]) for p in snp(df, max_hamming=3).collect()}
    for i in range(20):
        assert (2 * i, 2 * i + 1) in pairs


def test_minhash_lsh_finds_near_dups(docs):
    with CacheScope():
        pairs = minhash_lsh_pairs(docs, threshold=0.5).collect()
    assert len(pairs) >= 1
    assert all(0 <= p["est_jaccard"] <= 1 for p in pairs)
    # exact dups estimate at 1.0
    assert any(abs(p["est_jaccard"] - 1.0) < 1e-9 for p in pairs)


def test_ngram_jaccard_exact(docs):
    pairs = ngram_jaccard_pairs(docs, threshold=0.8).collect()
    assert len(pairs) >= 1
    assert all(p["jaccard"] <= 1.0 + 1e-12 for p in pairs)
    assert any(p["jaccard"] > 0.999 for p in pairs)  # exact dups


def test_dedup_by_pairs_releases_band_table(spark, docs, fingerprints):
    """dedup_by_pairs over simhash_near_pairs: the band table is derived
    from the fingerprints the caller persisted in its CacheScope, and
    closing the scope frees them. Compared as sets of persisted-RDD ids:
    other tests' asynchronous unpersists may still be landing, so a count
    could hide a leak."""
    docs.count()  # materialize the fixtures' own caches first
    fingerprints.count()
    before = persisted_ids(spark)
    with CacheScope() as scope:
        # unique plan: no CacheManager plan-dedup against other tests'
        fp = scope.persist(fingerprints.filter(F.col("doc_id") < 250))
        out = dedup_by_pairs(docs, simhash_near_pairs(fp))
        assert out.count() < docs.count()
        assert persisted_ids(spark) - before, "the band table should be live"
    assert_released(spark, before)


def test_minhash_scope_close_no_leak(spark, docs):
    docs.count()  # materialize the fixture's own cache first
    sub = docs.filter(F.col("doc_id") < 150)  # unique plan: no CacheManager
    before = persisted_ids(spark)  # plan-dedup against other tests' caches
    with CacheScope() as scope:
        pairs = minhash_lsh_pairs(sub, threshold=0.5)
        pairs.count()  # materialize (sigs persisted during the job)
    assert_released(spark, before)  # no cached RDD left behind
    scope.close()  # idempotent


def test_embedding_pairs_empty_input_and_release(spark):
    from searchenginer_spark.operators.dedup import embedding_cosine_pairs

    empty = spark.createDataFrame([], "vec_id long, vec array<double>")
    out = embedding_cosine_pairs(empty, id_col="vec_id", vec_col="vec")
    assert out.count() == 0
    assert out.columns == ["vec_id", "vec_id_2", "cos"]

    before = persisted_ids(spark)
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, vec array<double>",
    )
    with CacheScope():
        pairs = embedding_cosine_pairs(vecs, id_col="vec_id", vec_col="vec")
        got = {(r["vec_id"], r["vec_id_2"]) for r in pairs.collect()}
    assert (0, 1) in got
    assert_released(spark, before)


def test_pair_operators_construct_with_no_job(spark, docs, fingerprints):
    """The pair operators are plain lazy plans: building them submits no
    Spark job (the scope's persists are lazy too)."""
    from searchenginer_spark.operators.dedup import duplicated_spans

    docs.count()
    fingerprints.count()
    with CacheScope():
        for build in (
            lambda: simhash_near_pairs(fingerprints),
            lambda: minhash_lsh_pairs(docs, threshold=0.5),
            lambda: duplicated_spans(docs, min_len=8),
            lambda: dedup_by_pairs(docs, simhash_near_pairs(fingerprints)),
        ):
            assert count_jobs(spark, build)[1] == 0


def test_dedup_docs_custom_id_col(spark, docs):
    """simhash dedup with a non-default id column: both pair columns rename."""
    from searchenginer_spark.operators.dedup import dedup_docs

    renamed = docs.withColumnRenamed("doc_id", "file_id")
    kept = dedup_docs(renamed, how="simhash", text_col="text", id_col="file_id")
    default = dedup_docs(docs, how="simhash", text_col="text")
    assert {r["file_id"] for r in kept.select("file_id").collect()} == {
        r["doc_id"] for r in default.select("doc_id").collect()
    }


def test_embedding_cosine_pairs_find_injected_dups(spark):
    """doc_vectors of byte-identical docs are identical -> cos=1 pairs; the
    SRP-table candidate generator recalls them all (identical vectors share
    every code), never via an all-pairs join."""
    from pyspark.sql import functions as F

    from searchenginer_spark.operators.dedup import embedding_cosine_pairs
    from searchenginer_spark.operators.vectors import doc_vectors
    from searchenginer_spark.plans.bm25_dataframe import Bm25DataFrameIndex
    from searchenginer_spark.sources.corpus import build_docs

    docs = build_docs(spark, 400, seed=42, num_partitions=4).select(
        "doc_id", F.col("content").alias("text")
    )
    i = Bm25DataFrameIndex.build(docs, text_col="text", persist=False)
    dv = doc_vectors(i.tf, i.dft, i.stats, dim=16)
    pairs = embedding_cosine_pairs(
        dv, threshold=0.9999, tables=2, planes_per_table=4, seed=7,
        id_col="doc_id", vec_col="vec", round_to=4,
    )
    got = {(r["doc_id"], r["doc_id_2"]) for r in pairs.collect()}
    # expected: every pair of byte-identical docs (doc_ids are minted by
    # (repo, path) rank, so derive the pairs from actual content equality)
    by_sha: dict = {}
    for r in docs.select("doc_id", F.sha2("text", 256).alias("h")).collect():
        by_sha.setdefault(r["h"], []).append(r["doc_id"])
    expected = {
        (a, b)
        for ids in by_sha.values()
        for a in ids
        for b in ids
        if a < b
    }
    assert expected, "fixture should contain injected dups"
    assert expected <= got  # every injected exact dup recalled at cos≈1


# ---------------------------------------------------------------- components


def _uf_components(n_nodes, edges):
    """Union-find oracle: node -> min node id of its component."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n_nodes)}


@pytest.mark.parametrize("seed,n,m", [(7, 60, 40), (11, 120, 200), (13, 30, 29)])
def test_connected_components_matches_union_find(spark, seed, n, m):
    import random

    from searchenginer_spark.operators.dedup import connected_components

    rng = random.Random(seed)
    edges = {(min(a, b), max(a, b))
             for a, b in ((rng.randrange(n), rng.randrange(n)) for _ in range(m))
             if a != b}
    oracle = _uf_components(n, edges)
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_id long, doc_id_2 long"
    )
    got = {
        r["doc_id"]: r["component_id"]
        for r in connected_components(pairs).collect()
    }
    touched = {a for e in edges for a in e}
    assert got == {i: oracle[i] for i in touched}


def test_connected_components_chain_transitivity(spark):
    from searchenginer_spark.operators.dedup import connected_components

    # a 1000-node path: worst case for naive propagation, log-rounds for
    # star contraction; plus a disjoint triangle
    chain = [(i, i + 1) for i in range(1000)]
    tri = [(5000, 5001), (5001, 5002)]
    pairs = spark.createDataFrame(chain + tri, "doc_id long, doc_id_2 long")
    comp = connected_components(pairs).collect()
    roots = {r["doc_id"]: r["component_id"] for r in comp}
    assert all(roots[i] == 0 for i in range(1001))
    assert all(roots[i] == 5000 for i in (5000, 5001, 5002))


def test_near_dup_clusters_end_to_end(spark, docs):
    from searchenginer_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
        near_dup_clusters,
    )

    out = near_dup_clusters(docs, threshold=0.5).collect()
    assert len(out) == docs.count()
    by_id = {r["doc_id"]: r for r in out}
    # survivors are exactly the cluster minima
    for r in out:
        assert r["is_kept"] == (r["doc_id"] == r["cluster_id"])
        assert r["cluster_id"] <= r["doc_id"]
        assert by_id[r["cluster_id"]]["is_kept"]
    # clusters = transitive closure of the pair graph (same generator)
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    comp = {
        r["doc_id"]: r["component_id"]
        for r in connected_components(pairs).collect()
    }
    for doc_id, root in comp.items():
        assert by_id[doc_id]["cluster_id"] == root
    # every exact duplicate pair must share a cluster
    dup_groups = (
        docs.select(F.sha2("text", 256).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .collect()
    )
    assert dup_groups, "corpus should contain exact duplicates"
    for g in dup_groups:
        assert len({by_id[i]["cluster_id"] for i in g["ids"]}) == 1


def test_dedup_docs_minhash_cc_materializes_after_release(spark, docs):
    """dedup_docs('minhash_cc') returns a lazy result whose lineage is
    truncated at the clustering's localCheckpoints: those must stay live
    until its owner's scope closes (freeing them first made the first
    action fail with 'checkpoint block not found'). Result must equal the
    transitive-cluster survivor set, and closing the scope must reclaim
    both paths' checkpoints."""
    from searchenginer_spark.operators.dedup import dedup_docs, near_dup_clusters

    docs.count()  # materialize the fixture's persist + id-mint checkpoint
    # BEFORE the baseline — in an isolated run they'd otherwise first
    # materialize inside this test and read as a leak
    base = persisted_ids(spark)
    with CacheScope():
        kept = dedup_docs(docs, how="minhash_cc", text_col="text")
        got = {r["doc_id"] for r in kept.collect()}  # the action that crashed
        cl = near_dup_clusters(docs, text_col="text")
        want = {r["doc_id"] for r in cl.filter(F.col("is_kept")).collect()}
    assert got == want
    assert_released(spark, base)


def test_simhash_bands_derive_from_max_hamming(spark):
    """r6 fix: n_bands defaults to max_hamming+1 so the pigeonhole
    guarantee always covers the requested threshold. The fixture pair
    differs at bits 0/16/32/48 — one per band under the old fixed 4-band
    split, so it was silently missed for max_hamming=4."""
    import pytest as _pytest

    from searchenginer_spark.operators.dedup import simhash_near_pairs

    fp2 = (1 << 0) | (1 << 16) | (1 << 32) | (1 << 48)
    fps = spark.createDataFrame(
        [(1, 0), (2, fp2)], "doc_id long, simhash long"
    )
    got = simhash_near_pairs(fps, max_hamming=4).collect()
    assert [(r["doc_id"], r["doc_id_2"], r["hamming"]) for r in got] == [(1, 2, 4)]
    # insufficient explicit bands now raise instead of silently missing
    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_pairs(fps, max_hamming=4, n_bands=4)
    # default threshold still finds nothing (hamming 4 > 3)
    assert simhash_near_pairs(fps).count() == 0


def test_vector_sniffs_skip_null_rows(spark):
    """r6 fix: a corrupt NULL leading row must not make srp_buckets
    bucket-0 the whole table or zero out embedding_cosine_pairs."""
    import numpy as np

    from searchenginer_spark.operators.ann import srp_buckets
    from searchenginer_spark.operators.dedup import embedding_cosine_pairs

    rng = np.random.default_rng(3)
    base = rng.standard_normal(8)
    rows = [(0, None), (1, base.tolist()), (2, (base * 2).tolist()),
            (3, (-base).tolist())]
    vecs = spark.createDataFrame(rows, "vec_id long, vec array<double>")

    b = srp_buckets(vecs.filter(F.col("vec").isNotNull()), vec_col="vec")
    b_with_null = srp_buckets(vecs, vec_col="vec")
    got = {r["vec_id"]: r["bucket"]
           for r in b_with_null.filter(F.col("vec").isNotNull()).collect()}
    want = {r["vec_id"]: r["bucket"] for r in b.collect()}
    assert got == want and len(set(want.values())) > 1

    with CacheScope():
        pairs = embedding_cosine_pairs(
            vecs.filter(F.col("vec").isNotNull()).unionByName(
                spark.createDataFrame([(0, None)], "vec_id long, vec array<double>")
            ),
            threshold=0.95,
        ).collect()
    assert {(r["vec_id"], r["vec_id_2"]) for r in pairs} == {(1, 2)}
