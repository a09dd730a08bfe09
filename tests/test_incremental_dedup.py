"""Cross-fold dedup (r6): meta records the build's dedup mode; every fold
drops batch docs whose content hash already exists under a strictly
smaller doc_id, via the content_hashes side table. Near-dup modes fold the
exact-hash subset; compact_indexes re-runs the full rule."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from searchenginer_spark.plans.build_index import (
    IndexPaths,
    build_index,
    compact_indexes,
    open_index,
)
from searchenginer_spark.sources.corpus import build_docs
from searchenginer_spark.streaming.incremental import incremental_index

DPP = 64


def _docs_with_ids(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, content string")


def test_fold_drops_stored_and_batch_duplicates(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("xfold"))
    input_dir, root, ckpt = f"{base}/in", f"{base}/idx", f"{base}/ckpt"
    paths = IndexPaths(root)

    seed = build_docs(spark, 100, seed=42, num_partitions=2)
    build_index(seed, root, docs_per_part=DPP, dedup="exact")
    meta = spark.read.parquet(paths.meta).first()
    assert meta["dedup"] == "exact"
    n0 = spark.read.parquet(paths.docs).count()
    assert spark.read.parquet(paths.hashes).count() == n0

    stored_text = seed.filter(F.col("doc_id") == 5).first()["content"]
    batch = _docs_with_ids(
        spark,
        [
            (1000, stored_text),          # byte-copy of stored doc 5 -> dropped
            (1001, "fresh unique alpha"),  # new -> kept
            (1002, "twin in batch body"),  # in-batch dup, lowest id -> kept
            (1003, "twin in batch body"),  # in-batch dup, higher id -> dropped
        ],
    )
    batch.write.mode("append").parquet(input_dir)
    incremental_index(spark, input_dir, root, ckpt)

    stored = {r["doc_id"] for r in spark.read.parquet(paths.docs).collect()}
    assert 1000 not in stored and 1003 not in stored
    assert 1001 in stored and 1002 in stored
    # hashes side table grew by exactly the survivors
    assert spark.read.parquet(paths.hashes).count() == n0 + 2
    # the survivors are searchable
    idx = open_index(spark, root)
    got = {r["doc_id"] for r in idx.search("fresh alpha", k=5, mode="and").collect()}
    assert 1001 in got


def test_fold_replay_keeps_survivor_set(spark, tmp_path_factory):
    """Replay (wiped checkpoint, same files) must not drop the batch as
    'already stored': same-id store rows never evict (strictly-smaller
    rule), and the doc store converges to the same survivor set."""
    base = str(tmp_path_factory.mktemp("xfoldrep"))
    input_dir, root, ckpt = f"{base}/in", f"{base}/idx", f"{base}/ckpt"
    paths = IndexPaths(root)

    build_index(build_docs(spark, 100, seed=42, num_partitions=2), root,
                docs_per_part=DPP, dedup="exact")
    batch = _docs_with_ids(
        spark, [(2000, "replay survivor body"), (2001, "replay survivor body")]
    )
    batch.write.mode("append").parquet(input_dir)
    incremental_index(spark, input_dir, root, ckpt)
    first = sorted(
        r["doc_id"] for r in spark.read.parquet(paths.docs)
        .filter(F.col("doc_id") >= 2000).dropDuplicates(["doc_id"]).collect()
    )
    assert first == [2000]

    shutil.rmtree(ckpt)  # at-least-once: the same files drain again
    incremental_index(spark, input_dir, root, ckpt)
    again = sorted(
        r["doc_id"] for r in spark.read.parquet(paths.docs)
        .filter(F.col("doc_id") >= 2000).dropDuplicates(["doc_id"]).collect()
    )
    assert again == [2000]


def test_legacy_meta_without_dedup_field_folds_plain(spark, tmp_path_factory):
    """Pre-r6 roots carry a 3-column meta: the fold must read dedup=None
    (no crash, no dedup) and still work end to end."""
    base = str(tmp_path_factory.mktemp("legacy"))
    input_dir, root, ckpt = f"{base}/in", f"{base}/idx", f"{base}/ckpt"
    paths = IndexPaths(root)

    build_index(build_docs(spark, 100, seed=42, num_partitions=2), root,
                docs_per_part=DPP)
    # rewrite meta in the legacy 3-column shape
    spark.createDataFrame(
        [(DPP, False, None)],
        "docs_per_part int, with_positions boolean, tokenizer string",
    ).write.mode("overwrite").parquet(paths.meta)

    dup_text = spark.read.parquet(paths.docs).filter(
        F.col("doc_id") == 3
    ).first()["content"]
    _docs_with_ids(spark, [(3000, dup_text)]).write.mode("append").parquet(input_dir)
    incremental_index(spark, input_dir, root, ckpt)
    stored = {r["doc_id"] for r in spark.read.parquet(paths.docs).collect()}
    assert 3000 in stored  # no dedup mode recorded -> duplicate admitted


def test_compact_rededups_union_and_propagates_mode(spark, tmp_path_factory):
    """compact_indexes defaults dedup from the first root's meta and
    re-runs the FULL rule over the union: cross-root byte-copies collapse
    to the lowest doc_id, and the output meta records the mode."""
    base = str(tmp_path_factory.mktemp("xcompact"))
    r1, r2, out = f"{base}/r1", f"{base}/r2", f"{base}/out"

    d = build_docs(spark, 100, seed=42, num_partitions=2)
    build_index(d, r1, docs_per_part=DPP, dedup="exact")
    # second root: same texts under shifted ids (cross-root duplicates)
    shifted = d.withColumn("doc_id", F.col("doc_id") + 5000)
    build_index(shifted, r2, docs_per_part=DPP, dedup="exact")

    n1 = spark.read.parquet(IndexPaths(r1).docs).count()
    compact_indexes(spark, [r1, r2], out, docs_per_part=DPP)
    out_paths = IndexPaths(out)
    assert spark.read.parquet(out_paths.meta).first()["dedup"] == "exact"
    kept = spark.read.parquet(out_paths.docs)
    assert kept.count() == n1  # every shifted copy deduped away
    assert kept.filter(F.col("doc_id") >= 5000).count() == 0  # lowest id wins


def test_resume_with_conflicting_dedup_mode_raises(spark, tmp_path_factory):
    import pytest

    base = str(tmp_path_factory.mktemp("xconflict"))
    root = f"{base}/idx"
    d = build_docs(spark, 100, seed=42, num_partitions=2)
    build_index(d, root, docs_per_part=DPP, dedup="exact")
    with pytest.raises(ValueError, match="dedup"):
        build_index(d, root, docs_per_part=DPP)  # dedup=None conflicts


def test_null_content_docs_survive_dedup_fold(spark, tmp_path_factory):
    """Review regression: sha2(NULL) is NULL and null join keys never
    match — null-content docs used to vanish from dedup folds. The
    sentinel groups them as mutual duplicates instead (lowest id kept),
    matching the batch build's groupBy(sha256(text)) null group."""
    base = str(tmp_path_factory.mktemp("xnull"))
    input_dir, root, ckpt = f"{base}/in", f"{base}/idx", f"{base}/ckpt"
    paths = IndexPaths(root)

    build_index(build_docs(spark, 100, seed=42, num_partitions=2), root,
                docs_per_part=DPP, dedup="exact")
    _docs_with_ids(spark, [(4000, None), (4001, None), (4002, "real body")]) \
        .write.mode("append").parquet(input_dir)
    incremental_index(spark, input_dir, root, ckpt)
    stored = {r["doc_id"] for r in spark.read.parquet(paths.docs)
              .filter(F.col("doc_id") >= 4000).collect()}
    assert stored == {4000, 4002}  # null twins dedup to the lowest id


def test_legacy_meta_resume_with_dedup_is_accepted(spark, tmp_path_factory):
    """Review regression: a pre-r6 root (3-col meta, recorded mode
    unknowable) interrupted mid-build must stay resumable with the dedup
    mode it was actually built with — the conflict raise applies only
    when meta RECORDS a mode. Completion upgrades meta to 4 columns."""
    base = str(tmp_path_factory.mktemp("xlegacyres"))
    root = f"{base}/idx"
    paths = IndexPaths(root)

    d = build_docs(spark, 200, seed=42, num_partitions=2)
    build_index(d, root, docs_per_part=DPP, dedup="exact", max_parts=1)
    # downgrade meta to the legacy 3-column shape (simulates a pre-r6 build)
    spark.createDataFrame(
        [(DPP, False, None)],
        "docs_per_part int, with_positions boolean, tokenizer string",
    ).write.mode("overwrite").parquet(paths.meta)

    build_index(d, root, docs_per_part=DPP, dedup="exact")  # must not raise
    meta = spark.read.parquet(paths.meta).first()
    assert "dedup" in meta.__fields__ and meta["dedup"] == "exact"


def test_fold_dedups_by_the_text_col_the_build_hashed(spark, tmp_path_factory):
    """One content-hash rule: a build with text_col="text" over a frame
    that also carries content/content_sha256 records sha256(text) in the
    hashes table (the digest it dedups on), so a fold of a stored text's
    byte-copy under a larger id is dropped."""
    base = str(tmp_path_factory.mktemp("xtextcol"))
    input_dir, root, ckpt = f"{base}/in", f"{base}/idx", f"{base}/ckpt"
    paths = IndexPaths(root)

    seed = spark.createDataFrame(
        [(i, f"indexed body {i} alpha", f"other content {i}") for i in range(80)],
        "doc_id long, text string, content string",
    ).withColumn("content_sha256", F.sha2("content", 256))
    build_index(seed, root, docs_per_part=DPP, dedup="exact", text_col="text")

    spark.createDataFrame(
        [(1000, "indexed body 7 alpha"), (1001, "fresh text body")],
        "doc_id long, text string",
    ).write.mode("append").parquet(input_dir)
    incremental_index(spark, input_dir, root, ckpt, text_col="text")
    stored = {r["doc_id"] for r in spark.read.parquet(paths.docs)
              .filter(F.col("doc_id") >= 1000).collect()}
    assert stored == {1001}  # 1000 is a copy of stored doc 7's text
