"""Replicates the driver's verify: run each __spark_entry__ query on Spark
and its oracle SQL on DuckDB at sf0.01; compare row count, column names,
and order-insensitive values."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod
from tests.conftest import assert_released, persisted_ids

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(rows):
    out = []
    for row in rows:
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append(round(v, 6) if math.isfinite(v) else v)
            else:
                vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert df.columns == ["doc_id", "score"]


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    sql = entrymod.oracle_sql().get(name)
    if sql is None:
        assert len(spark_rows) >= 0  # rows-only check
        return
    rel = ddb.sql(sql)
    duck_cols = [c.lower() for c in rel.columns]
    duck_rows = rel.fetchall()

    assert spark_cols == duck_cols, f"{name}: columns {spark_cols} != {duck_cols}"
    assert len(spark_rows) == len(duck_rows), f"{name}: rowcount"
    assert _norm(spark_rows) == _norm(duck_rows), f"{name}: values differ"


def test_release_entry_caches_leaves_no_persisted_rdds(spark):
    """Contract queries cache only through the module's CacheScope;
    release_entry_caches() must release every RDD they persisted or
    checkpointed: the index caches, the dedup operators' intermediates
    and the clustering's checkpoints. Compared as sets of persisted-RDD
    ids, not counts: earlier tests' asynchronous unpersists may still be
    landing, so a count can drop under the queries' new caches, while an
    id set cannot hide them."""
    base = persisted_ids(spark)
    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    # the last entry builds an index INLINE: build_index frees its own
    # caches (the term-dict checkpoint included) before it returns
    for name in ("bm25_compressed_and_topk", "bm25_compressed_prod_geometry",
                 "dedup_minhash_lsh", "dedup_simhash_pairs",
                 "dedup_embedding_pairs", "dedup_text_suite",
                 "dedup_clusters",  # CC loop: localCheckpoint blocks
                 "bm25_stopword_topk"):
        qs[name](spark, sf).collect()
    assert persisted_ids(spark) - base, "index caches should be live mid-run"
    entrymod.release_entry_caches()
    assert_released(spark, base)
