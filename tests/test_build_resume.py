from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from searchenginer_spark.plans.build_index import IndexPaths, build_index, open_index
from searchenginer_spark.sources.corpus import generate_corpus, mint_doc_ids

N_DOCS = 400
DPP = 64  # -> 7 parts


@pytest.fixture(scope="module")
def docs(spark):
    return mint_doc_ids(generate_corpus(spark, N_DOCS, seed=42), num_partitions=4).persist()


def _postings_fingerprint(spark, root):
    df = spark.read.parquet(IndexPaths(root).postings)
    return sorted(
        (r["term_id"], r["part"], r["n"], r["docs"], r["tfs"], r["scores"])
        for r in df.collect()
    )


def test_full_vs_interrupted_resume(spark, docs, tmp_path_factory):
    full_root = str(tmp_path_factory.mktemp("idx_full"))
    res_root = str(tmp_path_factory.mktemp("idx_resumed"))

    r_full = build_index(docs, full_root, docs_per_part=DPP)
    assert r_full["parts_total"] == (N_DOCS + DPP - 1) // DPP
    assert r_full["parts_built"] == r_full["parts_total"]

    # interrupted build: only 3 parts, then resume
    r1 = build_index(docs, res_root, docs_per_part=DPP, max_parts=3)
    assert r1["parts_built"] == 3
    r2 = build_index(docs, res_root, docs_per_part=DPP)
    assert r2["parts_done_before"] == 3
    assert r2["parts_built"] == r_full["parts_total"] - 3

    # resumed index content-identical to uninterrupted build
    assert _postings_fingerprint(spark, full_root) == _postings_fingerprint(spark, res_root)

    # completed parts were NOT recomputed on resume
    m = spark.read.parquet(IndexPaths(res_root).metrics)
    assert m.filter(F.col("status") == "done").count() == r_full["parts_total"]
    assert m.select("partition_id").distinct().count() == r_full["parts_total"]
    builds = [r["build_id"] for r in m.select("build_id").distinct().collect()]
    assert len(builds) == 2  # two runs, disjoint part sets

    # query over the resumed index works end to end
    idx = open_index(spark, res_root)
    assert idx.search("int return", k=5, mode="and").count() > 0


def test_crash_between_write_and_checkpoint(spark, docs, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_crash"))
    build_index(docs, root, docs_per_part=DPP, max_parts=2)
    # simulate crash AFTER postings write but BEFORE checkpoint append:
    # delete the metrics table entirely -> all parts look pending again
    shutil.rmtree(IndexPaths(root).metrics)
    r = build_index(docs, root, docs_per_part=DPP)
    assert r["parts_built"] == r["parts_total"]  # rebuilt idempotently

    ref_root = str(tmp_path_factory.mktemp("idx_ref"))
    build_index(docs, ref_root, docs_per_part=DPP)
    assert _postings_fingerprint(spark, root) == _postings_fingerprint(spark, ref_root)


def test_metrics_schema_and_lineage(spark, docs, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_m"))
    build_index(docs, root, docs_per_part=DPP)
    m = spark.read.parquet(IndexPaths(root).metrics)
    cols = set(m.columns)
    assert cols == {
        "build_id", "partition_id", "status", "input_sha",
        "n_docs", "n_postings", "bytes_written", "postings_per_sec", "wall_ms",
    }
    rows = m.collect()
    assert all(r["n_postings"] > 0 and r["bytes_written"] > 0 for r in rows)
    assert sum(r["n_docs"] for r in rows) == N_DOCS


def test_resume_geometry_conflict_raises(spark, docs, tmp_path_factory):
    """r6 fix: resuming a root with different bucketing / positions /
    tokenizer / stopwords raises instead of encoding pending parts
    inconsistently with the committed ones."""
    root = str(tmp_path_factory.mktemp("idx_geo"))
    build_index(docs, root, docs_per_part=DPP)
    with pytest.raises(ValueError, match="docs_per_part"):
        build_index(docs, root, docs_per_part=DPP * 2)
    with pytest.raises(ValueError, match="with_positions"):
        build_index(docs, root, docs_per_part=DPP, with_positions=True)
    with pytest.raises(ValueError, match="tokenizer"):
        build_index(docs, root, docs_per_part=DPP, tokenizer="cjk")
    with pytest.raises(ValueError, match="stopword"):
        build_index(
            docs, root, docs_per_part=DPP,
            stopwords=spark.createDataFrame([("int",)], "term string"),
        )
    # identical parameters still resume cleanly (no-op: everything done)
    summary = build_index(docs, root, docs_per_part=DPP)
    assert summary["parts_built"] == 0


def test_metrics_rate_is_run_level(spark, docs, tmp_path_factory):
    """r6 fix: postings_per_sec is the RUN's aggregate throughput (all
    postings built that run / run wall), shared by every row of the run
    — not one part's postings divided by the whole multi-part wall."""
    root = str(tmp_path_factory.mktemp("idx_rate"))
    build_index(docs, root, docs_per_part=DPP)
    rows = spark.read.parquet(IndexPaths(root).metrics).collect()
    assert len(rows) > 1, "need a multi-part build to exercise the fix"
    rates = {round(r["postings_per_sec"], 6) for r in rows}
    walls = {r["wall_ms"] for r in rows}
    assert len(rates) == 1 and len(walls) == 1  # run-level, shared
    total = sum(r["n_postings"] for r in rows)
    wall_s = rows[0]["wall_ms"] / 1000.0
    assert abs(rows[0]["postings_per_sec"] - total / wall_s) < 1e-6 * total


def test_bytes_written_counts_every_payload_column(spark, docs, tmp_path_factory):
    """On a positions build the metrics' bytes_written sums every stored
    payload column, positions included."""
    root = str(tmp_path_factory.mktemp("idx_bytes"))
    build_index(docs, root, docs_per_part=DPP, with_positions=True)
    written = spark.read.parquet(IndexPaths(root).metrics).agg(F.sum("bytes_written")).first()[0]
    stored = spark.read.parquet(IndexPaths(root).postings).agg(
        *(F.sum(F.octet_length(c)) for c in ("docs", "tfs", "scores", "positions"))
    ).first()
    assert written == sum(stored)


LEGACY_BLOCK_COLS = ("block_last", "block_max", "block_doc_off", "block_tf_off", "block_pos_off")


def _rewrite_in_legacy_layout(postings_dir: str, part: int) -> None:
    """Rewrite one part's postings files with the five block columns that
    roots written before the current layout carry (before ``positions``)."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(postings_dir, f"part={part}", "*.parquet"))
    assert files
    for path in files:
        table = pq.ParquetFile(path).read()
        legacy = table.drop_columns(["positions"])
        for name in LEGACY_BLOCK_COLS:
            item = pa.float64() if name == "block_max" else pa.int64()
            legacy = legacy.append_column(
                name, pa.array([[0]] * table.num_rows, pa.list_(item))
            )
        legacy = legacy.append_column("positions", table.column("positions"))
        # Spark reads a file's schema from the footer's row metadata: drop
        # the copied current-layout one
        pq.write_table(legacy.replace_schema_metadata(None), path)
        # the rewritten file no longer matches the checksum written beside it
        crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
        if os.path.exists(crc):
            os.remove(crc)


def test_resume_onto_legacy_layout_root(spark, docs, tmp_path_factory, monkeypatch):
    """A root whose first parts carry the legacy block columns, resumed so
    current-layout parts land beside them, answers like a fresh build: on
    the resident path, on the distributed path, and for a phrase query."""
    from searchenginer_spark.plans.bm25 import Bm25CompressedIndex

    dpp = 100  # -> 4 parts
    root = str(tmp_path_factory.mktemp("idx_legacy"))
    build_index(docs, root, docs_per_part=dpp, max_parts=2, with_positions=True)
    for part in (0, 1):
        _rewrite_in_legacy_layout(IndexPaths(root).postings, part)
    assert build_index(docs, root, docs_per_part=dpp, with_positions=True)["parts_built"] == 2
    assert set(LEGACY_BLOCK_COLS) <= set(
        spark.read.option("mergeSchema", "true").parquet(IndexPaths(root).postings).columns
    )
    fresh_root = str(tmp_path_factory.mktemp("idx_legacy_fresh"))
    build_index(docs, fresh_root, docs_per_part=dpp, with_positions=True)

    queries = ["int return", "+int +return", "return -int", '"return int"', "int~1 value"]
    legacy, fresh = open_index(spark, root), open_index(spark, fresh_root)
    want = [fresh.search_query_rows(q, k=10) for q in queries]
    assert want[3], "the phrase query needs hits"
    assert [legacy.search_query_rows(q, k=10) for q in queries] == want
    monkeypatch.setattr(Bm25CompressedIndex, "DRIVER_SCORE_MAX_POSTINGS", 0)
    assert [legacy.search_query_rows(q, k=10) for q in queries] == want
