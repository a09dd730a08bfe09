"""Builds and folds leave no cached data behind: every persist and
checkpoint they make belongs to the CacheScope each call opens. A scope
frees only the caches it made."""

from __future__ import annotations

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from searchenginer_spark.cache import CacheScope
from searchenginer_spark.operators.ids import assign_sequential_ids
from searchenginer_spark.plans.build_index import build_index
from searchenginer_spark.sources.corpus import build_docs
from searchenginer_spark.streaming.incremental import incremental_index
from tests.conftest import assert_released, persisted_ids

DPP = 64  # docs_per_part


@pytest.fixture(scope="module")
def docs(spark):
    before = persisted_ids(spark)
    d = build_docs(spark, 160, seed=42, num_partitions=4).persist()
    d.count()
    # the caller's own cache and id-minting checkpoint: a build must
    # neither leave RDDs of its own nor free these
    yield d, persisted_ids(spark) - before
    d.unpersist()


@pytest.mark.parametrize(
    "kw",
    [{}, {"with_positions": True}, {"dedup": "exact"}, {"dedup": "simhash"},
     {"dedup": "minhash_cc"}],
    ids=["plain", "positions", "exact", "simhash", "minhash_cc"],
)
def test_build_leaves_no_persisted_rdds(spark, docs, tmp_path, kw):
    d, own = docs
    before = persisted_ids(spark)
    summary = build_index(d, str(tmp_path / "idx"), docs_per_part=DPP, **kw)
    assert summary["parts_built"] == summary["parts_total"] > 0
    assert_released(spark, before)
    assert own <= persisted_ids(spark)


def test_noop_resume_and_fold_leave_no_persisted_rdds(spark, docs, tmp_path):
    d, own = docs
    root, input_dir = str(tmp_path / "idx"), str(tmp_path / "in")
    build_index(d.filter(F.col("doc_id") < 128), root, docs_per_part=DPP, dedup="exact")

    before = persisted_ids(spark)
    summary = build_index(
        d.filter(F.col("doc_id") < 128), root, docs_per_part=DPP, dedup="exact"
    )
    assert summary["parts_built"] == 0
    assert_released(spark, before)

    d.filter(F.col("doc_id") >= 128).write.parquet(input_dir)
    incremental_index(spark, input_dir, root, str(tmp_path / "ckpt"))
    assert spark.read.parquet(f"{root}/docs").count() > summary["n_docs"]
    assert_released(spark, before)
    assert own <= persisted_ids(spark)


def test_scope_leaves_a_callers_cache_alone(spark):
    """Id minting persists its input and frees that cache once the ids are
    pinned. When the caller had already cached the same plan, the minting
    gets an unowned handle: the caller's cache must survive."""
    with CacheScope() as scope:
        terms = scope.persist(spark.range(300).selectExpr("concat('u', id) AS term"))
        terms.count()
        assert assign_sequential_ids(terms, ["term"], "term_id").count() == 300
        assert terms.storageLevel != StorageLevel.NONE
