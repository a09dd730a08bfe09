"""Dedup integrated into the build pipeline (reference dedups inside store,
Make_Page/rcc.cpp:146-202) + reliable-checkpoint id assignment."""

from __future__ import annotations

from pyspark.sql import functions as F

from searchenginer_spark.operators.dedup import dedup_docs, simhash_near_pairs
from searchenginer_spark.plans.build_index import IndexPaths, build_index
from searchenginer_spark.sources.corpus import build_docs


def _postings_fingerprint(spark, root):
    df = spark.read.parquet(IndexPaths(root).postings)
    return sorted(
        (r["term_id"], r["part"], r["n"], bytes(r["docs"]), bytes(r["scores"]))
        for r in df.collect()
    )


def test_build_with_exact_dedup_equals_clean_build(spark, tmp_path_factory):
    """Building over docs ∪ (shifted byte-copies) with dedup='exact' must
    produce the IDENTICAL index as building over the pre-deduped originals
    (lowest doc_id wins, so exactly the original surviving ids remain; the
    synthetic corpus itself contains id%97==1 exact dups, hence 197)."""
    docs = build_docs(spark, 200, seed=42, num_partitions=4).persist()
    dup = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 1000))

    clean_root = str(tmp_path_factory.mktemp("clean"))
    dedup_root = str(tmp_path_factory.mktemp("dedup"))
    build_index(dedup_docs(docs, how="exact", text_col="content"),
                clean_root, docs_per_part=64)
    summary = build_index(dup, dedup_root, docs_per_part=64, dedup="exact")

    assert summary["n_docs"] == 197  # 200 shifted copies + 3 in-corpus dups gone
    assert _postings_fingerprint(spark, clean_root) == _postings_fingerprint(
        spark, dedup_root
    )
    s1 = spark.read.parquet(IndexPaths(clean_root).stats).first()
    s2 = spark.read.parquet(IndexPaths(dedup_root).stats).first()
    assert (s1["n_docs"], s1["avgdl"]) == (s2["n_docs"], s2["avgdl"])
    docs.unpersist()


def test_dedup_docs_simhash_drops_near_dups(spark):
    """simhash mode removes the corpus's injected near-dups (one renamed
    identifier => hamming<=3 by construction) on top of exact dups."""
    docs = build_docs(spark, 400, seed=42, num_partitions=4).persist()
    exact = dedup_docs(docs, how="exact", text_col="content")
    near = dedup_docs(docs, how="simhash", text_col="content")
    n_exact, n_near = exact.count(), near.count()
    assert n_near < n_exact < 400
    # lowest-id-wins: no surviving doc has a smaller-id near neighbor that
    # also survived AND was its dedup reason — spot-check via the pair set
    kept = {r["doc_id"] for r in near.select("doc_id").collect()}
    from searchenginer_spark.functions.hashing import simhash, tfidf_top_keywords
    from searchenginer_spark.operators import stats as S

    tf = S.term_frequencies(exact, text_col="content")
    pairs = simhash_near_pairs(
        simhash(
            tfidf_top_keywords(
                tf, S.document_frequencies(tf), S.corpus_stats(S.doc_lengths(tf))
            )
        ),
        max_hamming=3,
    )
    losers = {r["doc_id_2"] for r in pairs.select("doc_id_2").collect()}
    assert kept.isdisjoint(losers)
    docs.unpersist()


def test_build_with_minhash_cc_dedup(spark, tmp_path_factory):
    """r6: dedup='minhash_cc' reachable from the one-call build pipeline.
    The built index's surviving doc set must equal near_dup_clusters'
    is_kept set over the exact-deduped corpus (parity with the
    dedup_clusters contract row), and the index must be IDENTICAL to a
    clean build over exactly those survivors."""
    from searchenginer_spark.cache import CacheScope
    from searchenginer_spark.operators.dedup import dedup_exact, near_dup_clusters

    docs = build_docs(spark, 200, seed=42, num_partitions=4).persist()
    dup = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 1000))

    cc_root = str(tmp_path_factory.mktemp("ccidx"))
    summary = build_index(dup, cc_root, docs_per_part=64, dedup="minhash_cc")

    exact = dedup_exact(dup.withColumnRenamed("content", "text"), "text")
    with CacheScope():
        clusters = near_dup_clusters(exact, text_col="text")
        want_kept = sorted(
            r["doc_id"] for r in clusters.filter("is_kept").collect()
        )

    built_docs = spark.read.parquet(IndexPaths(cc_root).docs)
    got_kept = sorted(r["doc_id"] for r in built_docs.select("doc_id").collect())
    assert got_kept == want_kept
    assert summary["n_docs"] == len(want_kept)

    clean_root = str(tmp_path_factory.mktemp("ccclean"))
    survivors = dup.filter(F.col("doc_id").isin([int(d) for d in want_kept]))
    build_index(survivors, clean_root, docs_per_part=64)
    assert _postings_fingerprint(spark, cc_root) == _postings_fingerprint(
        spark, clean_root
    )
    docs.unpersist()


def test_assign_ids_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir mode must mint the same dense ids as localCheckpoint."""
    from searchenginer_spark.operators.ids import assign_sequential_ids
    from searchenginer_spark.sources.corpus import corpus_meta

    meta = corpus_meta(spark, 300)
    a = assign_sequential_ids(meta, ["repo", "path"], "doc_id", 5)
    b = assign_sequential_ids(
        meta, ["repo", "path"], "doc_id", 5, checkpoint_dir=str(tmp_path / "ckpt")
    )
    rows_a = {(r["repo"], r["path"]): r["doc_id"] for r in a.collect()}
    rows_b = {(r["repo"], r["path"]): r["doc_id"] for r in b.collect()}
    assert rows_a == rows_b
    assert sorted(rows_b.values()) == list(range(300))


def test_dedup_build_resume_deterministic(spark, tmp_path_factory):
    """An interrupted dedup='exact' build resumed later converges to the
    same bytes as an uninterrupted one (the dedup stage re-derives the
    identical surviving set on every run)."""
    docs = build_docs(spark, 300, seed=42, num_partitions=4).persist()
    dup = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 1000))

    full_root = str(tmp_path_factory.mktemp("dfull"))
    res_root = str(tmp_path_factory.mktemp("dres"))
    build_index(dup, full_root, docs_per_part=64, dedup="exact")
    r1 = build_index(dup, res_root, docs_per_part=64, dedup="exact", max_parts=2)
    assert r1["parts_built"] == 2
    r2 = build_index(dup, res_root, docs_per_part=64, dedup="exact")
    assert r2["parts_done_before"] == 2
    assert _postings_fingerprint(spark, full_root) == _postings_fingerprint(
        spark, res_root
    )
    docs.unpersist()


def test_noop_resume_skips_dedup_stage(spark, tmp_path_factory, monkeypatch):
    """A build_index(dedup=...) call on an ALREADY-COMPLETE root (all
    stage gates satisfied, no pending parts) must not construct the dedup
    stage at all — the stage is eager (minhash_cc clusters at
    construction; the r7 simhash path materializes its dft broadcast
    gate), so re-paying it on a no-op resume charged O(corpus) for
    nothing (ADVICE r6). Proof: poison the stage constructor and resume."""
    import searchenginer_spark.operators.dedup as dedup_mod

    docs = build_docs(spark, 200, seed=42, num_partitions=4).persist()
    root = str(tmp_path_factory.mktemp("noop_resume"))
    build_index(docs, root, docs_per_part=64, dedup="simhash")

    def boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("dedup stage constructed on a no-op resume")

    monkeypatch.setattr(dedup_mod, "dedup_docs_and_tf", boom)
    summary = build_index(docs, root, docs_per_part=64, dedup="simhash")
    assert summary["parts_built"] == 0
    assert summary["parts_done_before"] == summary["parts_total"]
    docs.unpersist()
