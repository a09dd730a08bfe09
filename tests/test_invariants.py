"""SURVEY.md §5.3 invariant tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from searchenginer_spark.operators import stats as S
from searchenginer_spark.operators.dict import build_term_dict
from searchenginer_spark.operators.postings import build_postings
from searchenginer_spark.sources.corpus import build_docs
from tests.conftest import assert_released, persisted_ids


@pytest.fixture(scope="module")
def built(spark):
    docs = build_docs(spark, 400, seed=42, num_partitions=4).persist()
    tf = S.term_frequencies(docs, text_col="content").persist()
    dl = S.doc_lengths(tf)
    dft = S.document_frequencies(tf)
    stats = S.corpus_stats(dl)
    term_dict = build_term_dict(dft).persist()
    postings = build_postings(tf, dl, term_dict, stats, docs_per_part=64).persist()
    return docs, tf, dft, term_dict, postings


def test_df_equals_count_distinct_docs(spark, built):
    docs, tf, dft, _, _ = built
    from searchenginer_spark.functions.tokenize import explode_tokens

    direct = (
        explode_tokens(docs, "content", "doc_id")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df2"))
    )
    bad = dft.join(direct, "term").filter(F.col("df") != F.col("df2")).count()
    assert bad == 0


def test_postings_cover_all_tf_rows(built):
    _, tf, _, term_dict, postings = built
    n_postings = postings.agg(F.sum("n")).first()[0]
    assert n_postings == tf.count()


def test_term_ids_dense_and_sorted(built):
    _, _, _, term_dict, _ = built
    rows = term_dict.select("term", "term_id").orderBy("term").collect()
    assert [r["term_id"] for r in rows] == list(range(len(rows)))


def test_hot_term_group_sizes_bounded(built):
    """Skew guarantee: no (term_id, part) posting group exceeds
    docs_per_part — the doc-range part IS the salt for hot terms."""
    _, _, _, _, postings = built
    assert postings.agg(F.max("n")).first()[0] <= 64
    # hot terms really do split across every part
    hot = (
        postings.groupBy("term_id")
        .agg(F.count(F.lit(1)).alias("n_parts"), F.sum("n").alias("total"))
        .filter(F.col("total") > 300)
    )
    assert hot.filter(F.col("n_parts") < 7).count() == 0


def test_stored_postings_columns_are_the_decoded_ones(spark, built, tmp_path):
    """Every stored posting column is one decode_table reads, with and
    without positions: no column is stored that nothing reads."""
    from searchenginer_spark.plans.bm25 import _decode_cols
    from searchenginer_spark.plans.build_index import build_index, read_postings

    postings = built[4]
    assert postings.columns == _decode_cols(postings, positions=True)
    root = str(tmp_path / "pos")
    build_index(built[0], root, docs_per_part=64, with_positions=True)
    stored = read_postings(spark, root)
    assert "positions" in stored.columns
    assert sorted(stored.columns) == sorted(_decode_cols(stored, positions=True))


def test_content_sha_invariant(built):
    docs = built[0]
    assert docs.filter(F.sha2("content", 256) != F.col("content_sha256")).count() == 0


def test_scope_frees_id_minting_checkpoint(spark):
    """assign_sequential_ids pins partitions via localCheckpoint in the
    current CacheScope: a derived frame computes while the scope is open,
    and closing it must unpersist exactly that storage (a session-lifetime
    leak otherwise)."""
    from searchenginer_spark.cache import CacheScope
    from searchenginer_spark.operators.ids import assign_sequential_ids

    base = persisted_ids(spark)
    with CacheScope():
        df = spark.range(500).selectExpr("concat('t', id) AS term")
        ids = assign_sequential_ids(df, ["term"], "term_id")
        derived = ids.selectExpr("term_id", "upper(term) AS u")
        assert derived.count() == 500
        assert len(persisted_ids(spark) - base) == 1  # the checkpoint only
    assert_released(spark, base)


def test_no_adhoc_cache_lifecycles():
    """Every persist/cache/checkpoint in the package goes through a
    CacheScope (searchenginer_spark/cache.py), so no operator owns a
    cache lifecycle of its own. Scope calls are spelled
    ``current_scope().persist(...)`` or ``scope.persist(...)``; the one
    other owner is Bm25CompressedIndex.serving_mode, which replaces its
    cache on every refresh."""
    import ast
    import pathlib

    import searchenginer_spark

    pkg = pathlib.Path(searchenginer_spark.__file__).parent
    banned = {"persist", "cache", "localCheckpoint", "checkpoint"}

    def scope_call(recv: ast.expr) -> bool:
        if isinstance(recv, ast.Name):
            return recv.id == "scope"
        return (
            isinstance(recv, ast.Call)
            and isinstance(recv.func, ast.Name)
            and recv.func.id == "current_scope"
        )

    bad = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "cache.py":
            continue
        tree = ast.parse(path.read_text())
        allowed: list[range] = []
        for cls in ast.walk(tree):
            if isinstance(cls, ast.ClassDef) and cls.name == "Bm25CompressedIndex":
                allowed += [
                    range(f.lineno, f.end_lineno + 1)
                    for f in cls.body
                    if isinstance(f, ast.FunctionDef) and f.name == "serving_mode"
                ]
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in banned
                and not scope_call(node.func.value)
                and not any(node.lineno in r for r in allowed)
            ):
                bad.append(f"{path.relative_to(pkg)}:{node.lineno} .{node.func.attr}(")
    assert not bad, bad


def test_geometry_has_one_owner():
    """IndexPaths (plans/build_index.py) owns the index root's build
    geometry: no other module reads or writes its ``meta``, ``stopwords``
    or ``hashes`` (content_hashes) table, or resolves a Hadoop filesystem
    (getFileSystem) itself. This keeps the build, the incremental fold
    and compaction on one copy of the rule."""
    import ast
    import pathlib

    import searchenginer_spark

    pkg = pathlib.Path(searchenginer_spark.__file__).parent
    owner = pkg / "plans" / "build_index.py"
    attrs = {"meta", "stopwords", "hashes", "getFileSystem"}
    bad = []
    for path in sorted(pkg.rglob("*.py")):
        if path == owner:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr in attrs:
                bad.append(f"{path.relative_to(pkg)}:{node.lineno} .{node.attr}")
    assert not bad, bad
