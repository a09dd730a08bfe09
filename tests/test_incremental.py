"""Incremental fold: O(parts) stats refresh + at-least-once replay safety."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from searchenginer_spark.operators import stats as S
from searchenginer_spark.plans.build_index import IndexPaths
from searchenginer_spark.sources.corpus import build_docs
from searchenginer_spark.streaming.incremental import incremental_index

DPP = 64  # docs_per_part


def _resident(idx):
    """The driver-resident postings the handle's current snapshot has
    loaded, or None when no query has loaded them yet."""
    return vars(idx._snap).get("resident")


def _fold(spark, input_dir, root, ckpt):
    incremental_index(spark, input_dir, root, ckpt, docs_per_part=DPP)


def test_stats_refresh_never_rereads_untouched_parts(spark, tmp_path_factory):
    """After folding parts 0-2 we DELETE their doc files; folding a later
    batch that only touches part 4 must still produce corpus stats that
    include parts 0-2 — proof the refresh comes from stats_parts (O(parts)),
    not from re-tokenizing the docs table (O(corpus))."""
    base = str(tmp_path_factory.mktemp("incstats"))
    input_dir, root, ckpt = f"{base}/in", f"{base}/idx", f"{base}/ckpt"
    paths = IndexPaths(root)

    docs = build_docs(spark, 320, seed=42, num_partitions=4).persist()
    d1 = docs.filter(F.col("doc_id") < 192)           # parts 0,1,2
    d2 = docs.filter(F.col("doc_id") >= 256)          # part 4 only

    d1.write.mode("append").parquet(input_dir)
    _fold(spark, input_dir, root, ckpt)

    # ground truth over BOTH chunks, computed before any deletion
    both = d1.unionByName(d2)
    want = S.corpus_stats(
        S.doc_lengths(S.term_frequencies(both, text_col="content"))
    ).first()

    # vandalize the already-folded parts' doc files: any stats path that
    # re-reads them now sees 0 rows there and undercounts
    for p in (0, 1, 2):
        shutil.rmtree(f"{paths.docs}/part={p}")

    d2.write.mode("append").parquet(input_dir)
    _fold(spark, input_dir, root, ckpt)

    got = spark.read.parquet(paths.stats).first()
    assert got["n_docs"] == want["n_docs"]
    assert abs(got["avgdl"] - want["avgdl"]) < 1e-9
    docs.unpersist()


def test_replayed_batch_is_idempotent(spark, tmp_path_factory):
    """Simulate an at-least-once replay: wipe the streaming checkpoint so
    the same input files are drained AGAIN (docs double-append). The part
    rebuild + stats refresh must converge to the same index."""
    base = str(tmp_path_factory.mktemp("increplay"))
    input_dir, root, ckpt = f"{base}/in", f"{base}/idx", f"{base}/ckpt"
    paths = IndexPaths(root)

    docs = build_docs(spark, 150, seed=42, num_partitions=4)
    docs.write.mode("append").parquet(input_dir)
    _fold(spark, input_dir, root, ckpt)

    def snapshot():
        post = sorted(
            (r["term_id"], r["part"], r["n"], bytes(r["docs"]), bytes(r["scores"]))
            for r in spark.read.parquet(paths.postings).collect()
        )
        stats = spark.read.parquet(paths.stats).first()
        return post, (stats["n_docs"], round(stats["avgdl"], 9))

    before = snapshot()
    # replay: fresh checkpoint -> the SAME files are folded a second time
    shutil.rmtree(ckpt)
    _fold(spark, input_dir, root, f"{base}/ckpt2")

    # the docs table really did double-append (at-least-once reality) ...
    raw = spark.read.parquet(paths.docs)
    assert raw.count() == 300 and raw.select("doc_id").distinct().count() == 150
    # ... yet postings and stats are byte/value-identical
    assert snapshot() == before


def test_open_handle_sees_folded_terms(spark, tmp_path_factory):
    """A long-lived open_index handle must not serve stale dict lookups
    after an incremental fold appends new terms: the fold bumps the
    dict_version marker and the handle re-snapshots term_dict/postings
    (r3 'What's wrong' item: cache never invalidated)."""
    from pyspark.sql import functions as F  # noqa: F811 — local clarity

    from searchenginer_spark.plans.build_index import build_index, open_index

    base = str(tmp_path_factory.mktemp("incstale"))
    input_dir, root, ckpt = f"{base}/in", f"{base}/idx", f"{base}/ckpt"

    docs = build_docs(spark, 100, seed=42, num_partitions=4)
    build_index(docs, root, docs_per_part=DPP, text_col="content")
    idx = open_index(spark, root)
    # warm the driver dict cache; the novel term is unknown -> no hits
    assert idx.search("zzzfreshterm", k=5).count() == 0

    new = spark.createDataFrame(
        [(1000, "zzzfreshterm appears here zzzfreshterm")],
        "doc_id long, content string",
    )
    new.write.mode("append").parquet(input_dir)
    incremental_index(spark, input_dir, root, ckpt, docs_per_part=DPP)

    # SAME handle, no reopen: must now resolve the appended term and score
    # its posting from the newly written part
    hits = idx.search("zzzfreshterm", k=5).collect()
    assert [r["doc_id"] for r in hits] == [1000]


def test_expansion_caches_refresh_after_fold(spark, tmp_path_factory):
    """r5 verdict item 8: the prefix/fuzzy/regexp expansion caches
    (the snapshot's driver dictionary and CodeGroups) must be
    invalidated by a fold that ADDS dictionary terms — expand once
    (warm the caches), fold in new matching terms, expand again on the
    SAME handle, and the new ids' docs must appear. Covers all three
    expansion kinds in one composed query."""
    from searchenginer_spark.plans.build_index import build_index, open_index

    base = str(tmp_path_factory.mktemp("incexp"))
    input_dir, root, ckpt = f"{base}/in", f"{base}/idx", f"{base}/ckpt"

    docs = spark.createDataFrame(
        [(i, f"qalpha{i % 3} stable filler doc{i}") for i in range(60)],
        "doc_id long, content string",
    )
    build_index(docs, root, docs_per_part=DPP, text_col="content")
    idx = open_index(spark, root)

    # warm ALL THREE expansion caches (prefix bisect array, fuzzy length
    # bands, regexp literal-prefix) — none matches the future terms yet
    warm = idx.search_query("qalpha* qexact~1 /qreg[0-9]+/", k=100).collect()
    assert all(r["doc_id"] < 60 for r in warm)

    new = spark.createDataFrame(
        [
            (1000, "qalphanew folded prefix match"),
            (1001, "qexact fuzzy target folded"),
            (1002, "qreg7 regexp target folded"),
        ],
        "doc_id long, content string",
    )
    new.write.mode("append").parquet(input_dir)
    incremental_index(spark, input_dir, root, ckpt, docs_per_part=DPP)

    # SAME handle: each expansion kind must now surface its folded doc
    got_prefix = {r["doc_id"] for r in idx.search_query("qalpha*", k=200).collect()}
    assert 1000 in got_prefix
    got_fuzzy = {r["doc_id"] for r in idx.search_query("qexact~1", k=200).collect()}
    assert 1001 in got_fuzzy
    got_re = {r["doc_id"] for r in idx.search_query("/qreg[0-9]+/", k=200).collect()}
    assert 1002 in got_re


def test_fold_preserves_positional_index_from_meta(spark, tmp_path_factory):
    """r5 geometry contract: folding into a positions-enabled index must
    KEEP encoding positions (with_positions read from the root's meta
    table) so phrase search spans old and new docs; and a docs_per_part
    mismatch raises instead of silently mis-bucketing."""
    import pytest

    from searchenginer_spark.plans.build_index import build_index, open_index

    base = str(tmp_path_factory.mktemp("incpos"))
    input_dir, root, ckpt = f"{base}/in", f"{base}/idx", f"{base}/ckpt"

    d1 = spark.createDataFrame(
        [(i, f"alpha beta merge part gamma doc{i}") for i in range(40)],
        "doc_id long, content string",
    )
    build_index(d1, root, docs_per_part=DPP, with_positions=True)

    # new docs, half containing the phrase — note NO with_positions arg:
    # the fold must pick it up from meta
    d2 = spark.createDataFrame(
        [(100 + i, ("merge part extra" if i % 2 == 0 else "alpha beta only")
          + f" doc{100 + i}") for i in range(20)],
        "doc_id long, content string",
    )
    d2.write.mode("append").parquet(input_dir)
    incremental_index(spark, input_dir, root, ckpt, docs_per_part=DPP)

    idx = open_index(spark, root)
    assert "positions" in idx.postings.columns
    got = sorted(r["doc_id"] for r in
                 idx.search_phrase("merge part", k=1000).collect())
    want = sorted(list(range(40)) + [100 + i for i in range(20) if i % 2 == 0])
    assert got == want

    with pytest.raises(ValueError, match="docs_per_part"):
        incremental_index(spark, input_dir, root, f"{base}/ckpt2",
                          docs_per_part=DPP * 2)
    # an explicit tokenizer or with_positions that disagrees with meta is
    # just as corrupting (term inconsistency / broken phrase decode) —
    # same raise-on-conflict contract as docs_per_part
    with pytest.raises(ValueError, match="tokenizer"):
        incremental_index(spark, input_dir, root, f"{base}/ckpt3",
                          tokenizer="dict_cjk")
    with pytest.raises(ValueError, match="with_positions"):
        incremental_index(spark, input_dir, root, f"{base}/ckpt4",
                          with_positions=False)


def test_compact_inherits_meta_geometry(spark, tmp_path_factory):
    """r5: compacting indexes defaults with_positions/tokenizer from the
    first root's meta — a dict_cjk positional index stays dict_cjk and
    positional after consolidation."""
    from searchenginer_spark.plans.build_index import (
        build_index,
        compact_indexes,
        open_index,
    )

    base = str(tmp_path_factory.mktemp("cmeta"))
    d1 = spark.createDataFrame(
        [(i, "搜索引擎查询文档") for i in range(20)], "doc_id long, content string"
    )
    d2 = spark.createDataFrame(
        [(100 + i, "机器学习模型文档") for i in range(20)], "doc_id long, content string"
    )
    build_index(d1, f"{base}/a", docs_per_part=DPP, with_positions=True,
                tokenizer="dict_cjk")
    build_index(d2, f"{base}/b", docs_per_part=DPP, with_positions=True,
                tokenizer="dict_cjk")
    compact_indexes(spark, [f"{base}/a", f"{base}/b"], f"{base}/out",
                    docs_per_part=DPP)
    idx = open_index(spark, f"{base}/out")
    assert "positions" in idx.postings.columns
    terms = {r["term"] for r in idx.term_dict.collect()}
    assert "搜索引擎" in terms and "搜" not in terms  # segmented, not bigrams
    meta = spark.read.parquet(f"{base}/out/meta").first()
    assert meta["with_positions"] and meta["tokenizer"] == "dict_cjk"


def test_fold_inherits_and_enforces_stopwords(spark, tmp_path_factory):
    """r6 geometry fix: a fold on a stopword-built index must filter the
    SAME stopwords (inherited from the root's stopwords table) — and an
    explicit conflicting list must raise, like every other geometry
    parameter."""
    import pytest

    from searchenginer_spark.plans.build_index import build_index

    base = str(tmp_path_factory.mktemp("incsw"))
    input_dir, root, ckpt = f"{base}/in", f"{base}/idx", f"{base}/ckpt"
    docs = build_docs(spark, 200, seed=5, num_partitions=4).persist()
    sw = spark.createDataFrame([("int",), ("return",)], "term string")
    build_index(docs.filter(F.col("doc_id") < 150), root,
                docs_per_part=DPP, stopwords=sw)
    paths = IndexPaths(root)
    td0 = spark.read.parquet(paths.term_dict)
    assert td0.filter(F.col("term").isin("int", "return")).count() == 0

    docs.filter(F.col("doc_id") >= 150).write.mode("append").parquet(input_dir)
    _fold(spark, input_dir, root, ckpt)  # stopwords NOT passed -> inherited
    td1 = spark.read.parquet(paths.term_dict)
    assert td1.filter(F.col("term").isin("int", "return")).count() == 0, (
        "fold reintroduced stopworded terms into the dictionary"
    )
    # postings carry no stopword terms either (td is filtered, and every
    # posting joins through it, so the dict check is the authoritative one)

    with pytest.raises(ValueError, match="stopword"):
        incremental_index(
            spark, input_dir, root, f"{base}/ckpt2", docs_per_part=DPP,
            stopwords=spark.createDataFrame([("zzz",)], "term string"),
        )
    docs.unpersist()


def test_new_root_fold_pins_geometry(spark, tmp_path_factory):
    """r6 fix: the FIRST fold on a brand-new root writes the meta table,
    so a second fold with docs_per_part omitted inherits the pinned
    value instead of silently re-bucketing at the 1<<16 default."""
    import pytest

    base = str(tmp_path_factory.mktemp("incpin"))
    input_dir, root, ckpt = f"{base}/in", f"{base}/idx", f"{base}/ckpt"
    paths = IndexPaths(root)
    docs = build_docs(spark, 200, seed=11, num_partitions=4).persist()

    docs.filter(F.col("doc_id") < 100).write.mode("append").parquet(input_dir)
    incremental_index(spark, input_dir, root, ckpt, docs_per_part=DPP)
    meta = spark.read.parquet(paths.meta).first()
    assert int(meta["docs_per_part"]) == DPP

    docs.filter(F.col("doc_id") >= 100).write.mode("append").parquet(input_dir)
    incremental_index(spark, input_dir, root, ckpt)  # omitted -> inherits 64
    parts = {
        r["part"]
        for r in spark.read.parquet(paths.postings).select("part").distinct().collect()
    }
    assert parts == {p for p in range(200 // DPP + 1)} & parts and max(parts) >= 2, (
        "second fold must bucket with the pinned docs_per_part, not 1<<16"
    )
    with pytest.raises(ValueError, match="docs_per_part"):
        incremental_index(spark, input_dir, root, ckpt, docs_per_part=999)
    docs.unpersist()


def test_new_root_fold_retries_after_stopwords_write_fails(
    spark, tmp_path_factory, monkeypatch
):
    """A fold on a brand-new root records its stopwords before meta, so a
    stopwords write that fails leaves no meta behind, and a retry with the
    same list succeeds and filters it."""
    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    base = str(tmp_path_factory.mktemp("incswfail"))
    input_dir, root, ckpt = f"{base}/in", f"{base}/idx", f"{base}/ckpt"
    build_docs(spark, 100, seed=5, num_partitions=2).write.parquet(input_dir)
    sw = spark.createDataFrame([("int",), ("return",)], "term string")

    real_parquet = DataFrameWriter.parquet
    failed = []

    def flaky_parquet(self, path, *args, **kwargs):
        if path.endswith("/stopwords") and not failed:
            failed.append(path)
            raise RuntimeError("injected stopwords write failure")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", flaky_parquet)
    with pytest.raises(RuntimeError, match="injected"):
        incremental_index(spark, input_dir, root, ckpt, docs_per_part=DPP,
                          stopwords=sw)
    incremental_index(spark, input_dir, root, ckpt, docs_per_part=DPP,
                      stopwords=sw)
    td = spark.read.parquet(IndexPaths(root).term_dict)
    assert td.count() > 0
    assert td.filter(F.col("term").isin("int", "return")).count() == 0


def test_stats_bootstrap_runs_at_most_once(spark, tmp_path_factory, monkeypatch):
    """r6 fix: the stats_parts bootstrap gate uses directory existence,
    not _SUCCESS (dynamic partition overwrite never writes one) — on an
    incremental-only root the second fold must tokenize ONLY its own
    batch (one term_frequencies call), never re-derive untouched parts."""
    base = str(tmp_path_factory.mktemp("incboot"))
    input_dir, root, ckpt = f"{base}/in", f"{base}/idx", f"{base}/ckpt"
    docs = build_docs(spark, 200, seed=13, num_partitions=4).persist()

    docs.filter(F.col("doc_id") < 100).write.mode("append").parquet(input_dir)
    _fold(spark, input_dir, root, ckpt)

    calls = []
    real_tf = S.term_frequencies

    def counting_tf(*args, **kwargs):
        calls.append(1)
        return real_tf(*args, **kwargs)

    monkeypatch.setattr(S, "term_frequencies", counting_tf)
    docs.filter(F.col("doc_id") >= 100).write.mode("append").parquet(input_dir)
    _fold(spark, input_dir, root, ckpt)
    assert len(calls) == 1, (
        f"fold re-ran the O(corpus) bootstrap ({len(calls)} tokenize passes)"
    )
    docs.unpersist()


def test_partial_bootstrap_is_repaired(spark, tmp_path_factory):
    """r7 fix (ADVICE): a crash mid-bootstrap leaves stats_parts as a
    partial dir with NO completion marker; the bare-existence gate treated
    it as complete, permanently omitting the missing parts from global
    stats. The marker gate must re-run the idempotent bootstrap instead."""
    import os

    base = str(tmp_path_factory.mktemp("increpair"))
    input_dir, root, ckpt = f"{base}/in", f"{base}/idx", f"{base}/ckpt"
    paths = IndexPaths(root)
    docs = build_docs(spark, 320, seed=42, num_partitions=4).persist()
    d1 = docs.filter(F.col("doc_id") < 192)           # parts 0,1,2
    d2 = docs.filter(F.col("doc_id") >= 256)          # part 4 only

    d1.write.mode("append").parquet(input_dir)
    _fold(spark, input_dir, root, ckpt)

    want = S.corpus_stats(
        S.doc_lengths(S.term_frequencies(d1.unionByName(d2), text_col="content"))
    ).first()

    # simulate the crash: drop one part's stats rows AND every completion
    # marker — the dir still exists, exactly the hazard state
    shutil.rmtree(f"{paths.stats_parts}/part=1")
    for marker in ("_SUCCESS", "_BOOTSTRAPPED"):
        try:
            os.remove(f"{paths.stats_parts}/{marker}")
        except FileNotFoundError:
            pass

    d2.write.mode("append").parquet(input_dir)
    _fold(spark, input_dir, root, ckpt)

    got = spark.read.parquet(paths.stats).first()
    assert got["n_docs"] == want["n_docs"], "partial bootstrap not repaired"
    assert abs(got["avgdl"] - want["avgdl"]) < 1e-9
    # and the repair recorded completion, so the NEXT fold skips it
    assert os.path.exists(f"{paths.stats_parts}/_BOOTSTRAPPED") or os.path.exists(
        f"{paths.stats_parts}/_SUCCESS"
    )
    docs.unpersist()


def test_empty_or_missing_input_dir_is_noop(spark, tmp_path_factory):
    """A drain invoked before any file lands must exit cleanly."""
    import os

    base = str(tmp_path_factory.mktemp("incempty"))
    root, ckpt = f"{base}/idx", f"{base}/ckpt"
    incremental_index(spark, f"{base}/never_created", root, ckpt,
                      docs_per_part=DPP)
    os.makedirs(f"{base}/empty", exist_ok=True)
    incremental_index(spark, f"{base}/empty", root, ckpt, docs_per_part=DPP)


def test_search_query_rows_sees_folded_postings(spark, tmp_path_factory):
    """The driver point paths read the current snapshot: after a fold
    bumps dict_version, and after serving_mode() (the persisted copy), the
    next search_query_rows scores the new postings from a reloaded
    resident table and the next suggest_rows ranks the new terms, on the
    same handle — whichever of the two runs first after the fold."""
    from searchenginer_spark.operators.suggest import suggest
    from searchenginer_spark.plans.build_index import build_index, open_index

    base = str(tmp_path_factory.mktemp("incrows"))
    input_dir, root, ckpt = f"{base}/in", f"{base}/idx", f"{base}/ckpt"
    build_index(
        build_docs(spark, 100, seed=42, num_partitions=4), root,
        docs_per_part=DPP, text_col="content",
    )
    idx = open_index(spark, root)
    assert idx.search_query_rows("zzzfreshterm int", k=200)  # caches warm
    resident = _resident(idx)
    assert resident is not None
    assert "zzzfreshterm" not in dict(idx.suggest_rows("zzzfreshterm", k=50))
    idx2 = open_index(spark, root)  # suggests first after the fold
    assert "zzzfreshterm" not in dict(idx2.suggest_rows("zzzfreshterm", k=50))

    new = spark.createDataFrame(
        [(1000, "zzzfreshterm appears here zzzfreshterm int")],
        "doc_id long, content string",
    )
    new.write.mode("append").parquet(input_dir)
    incremental_index(spark, input_dir, root, ckpt, docs_per_part=DPP)

    def want_suggest():
        rows = suggest(idx.term_dict, "zzzfreshterm", k=5).collect()
        return [(r["term"], r["sim"]) for r in rows]

    got = idx.search_query_rows("zzzfreshterm int", k=200)
    assert got[0][0] == 1000
    assert _resident(idx) is not None and _resident(idx) is not resident
    assert got == [
        (r["doc_id"], r["score"])
        for r in idx.search_query("zzzfreshterm int", k=200).collect()
    ]
    sugg = idx.suggest_rows("zzzfreshterm", k=5)
    assert sugg[0] == ("zzzfreshterm", 1.0)
    assert sugg == want_suggest()
    assert idx2.suggest_rows("zzzfreshterm", k=5) == sugg

    aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    sp0 = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        idx.serving_mode(n_partitions=4)
        assert _resident(idx) is None
        assert idx.search_query_rows("zzzfreshterm int", k=200) == got
        assert _resident(idx) is not None
        assert idx.suggest_rows("zzzfreshterm", k=5) == sugg
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe0)
        spark.conf.set("spark.sql.shuffle.partitions", sp0)
        idx.postings.unpersist()
        idx.term_dict.unpersist()


def test_search_query_batch_sees_folded_postings(spark, tmp_path_factory):
    """A batch scored from the resident postings reads the current snapshot:
    after a fold bumps dict_version, and after serving_mode(), the next
    search_query_batch on the same handle scores the folded postings."""
    from searchenginer_spark.plans.build_index import build_index, open_index

    base = str(tmp_path_factory.mktemp("incbatch"))
    input_dir, root, ckpt = f"{base}/in", f"{base}/idx", f"{base}/ckpt"
    build_index(
        build_docs(spark, 100, seed=42, num_partitions=4), root,
        docs_per_part=DPP, text_col="content",
    )
    idx = open_index(spark, root)
    queries = {"fresh": "zzzfreshterm int", "plain": "int return"}

    def batch() -> dict:
        out: dict[str, list] = {}
        for r in idx.search_query_batch(queries, k=200).collect():
            out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        return {q: sorted(h, key=lambda t: (-t[1], t[0])) for q, h in out.items()}

    def want() -> dict:
        return {
            q: [(r["doc_id"], r["score"]) for r in idx.search_query(text, k=200).collect()]
            for q, text in queries.items()
        }

    before = batch()
    assert _resident(idx) is not None and before == want()
    assert 1000 not in dict(before["fresh"])

    new = spark.createDataFrame(
        [(1000, "zzzfreshterm appears here zzzfreshterm int")],
        "doc_id long, content string",
    )
    new.write.mode("append").parquet(input_dir)
    incremental_index(spark, input_dir, root, ckpt, docs_per_part=DPP)

    got = batch()
    assert got["fresh"][0][0] == 1000
    assert got == want() and got != before
    aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    sp0 = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        idx.serving_mode(n_partitions=4)
        assert _resident(idx) is None
        assert batch() == got
        assert _resident(idx) is not None
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe0)
        spark.conf.set("spark.sql.shuffle.partitions", sp0)
        idx.postings.unpersist()
        idx.term_dict.unpersist()


def test_one_handle_shared_by_threads_across_folds(spark, tmp_path_factory, monkeypatch):
    """4 threads loop search_query_rows, suggest_rows and search_query_batch
    on ONE open_index handle, with no lock, while two folds each add a new
    term. No thread raises; every answer equals the serial answer of a
    fresh handle at one version (before, between or after the folds), and
    a thread never goes back to an older one; the swap lock makes each
    version's snapshot be built once, however many threads saw its bump."""
    import threading
    import time

    from searchenginer_spark.plans import bm25
    from searchenginer_spark.plans.bm25 import read_dict_version
    from searchenginer_spark.plans.build_index import build_index, open_index

    base = str(tmp_path_factory.mktemp("incthreads"))
    input_dir, root, ckpt = f"{base}/in", f"{base}/idx", f"{base}/ckpt"
    build_index(
        build_docs(spark, 100, seed=42, num_partitions=4), root,
        docs_per_part=DPP, text_col="content",
    )
    batch = {"a": "zzzfresha int", "b": "zzzfreshb return"}

    def answers(idx) -> tuple:
        return (
            tuple(idx.search_query_rows("zzzfresha zzzfreshb int", k=20)),
            tuple(idx.suggest_rows("zzzfresh", k=5)),
            tuple(sorted(tuple(r) for r in idx.search_query_batch(batch, k=20).collect())),
        )

    expected = [answers(open_index(spark, root))]
    idx = open_index(spark, root)
    assert answers(idx) == expected[0]  # warm: the snapshot's fills are done

    main = threading.main_thread()
    built = []  # versions of the snapshots the worker threads build

    class Recorded(bm25.Snapshot):
        def __init__(self, version, *tables):
            if threading.current_thread() is not main:
                built.append(version)
            super().__init__(version, *tables)

    monkeypatch.setattr(bm25, "Snapshot", Recorded)
    stop = threading.Event()
    errors: list[BaseException] = []
    # per thread: loops done, and per call the run of distinct answers seen
    loops = [0] * 4
    seen = [([], [], []) for _ in range(4)]

    def worker(i: int) -> None:
        try:
            while not stop.is_set():
                for runs, got in zip(seen[i], answers(idx)):
                    if not runs or runs[-1] != got:
                        runs.append(got)
                loops[i] += 1
                time.sleep(0.005)  # leave the fold the GIL now and then
        except BaseException as e:  # noqa: BLE001 - reported below
            errors.append(e)

    def settle(timeout_s: float = 120.0) -> None:
        """Wait for every thread to finish two loops begun after now."""
        start = list(loops)
        deadline = time.monotonic() + timeout_s
        while any(n < s + 2 for n, s in zip(loops, start)) and not errors:
            assert time.monotonic() < deadline, "worker threads stalled"
            time.sleep(0.05)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    versions = []
    try:
        settle()
        for n, text in enumerate(["zzzfresha appears here int", "zzzfreshb and return zzzfreshb"]):
            spark.createDataFrame(
                [(1000 + n, text)], "doc_id long, content string"
            ).write.mode("append").parquet(input_dir)
            incremental_index(spark, input_dir, root, ckpt, docs_per_part=DPP)
            versions.append(read_dict_version(spark, root))
            expected.append(answers(open_index(spark, root)))
            settle()
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=120)
    assert not errors, errors
    assert all(len(set(e[c] for e in expected)) == 3 for c in range(3)), "states must differ"
    for i in range(4):
        for c, runs in enumerate(seen[i]):
            want = [e[c] for e in expected]
            assert all(r in want for r in runs), (i, c)
            states = [want.index(r) for r in runs]
            assert states == sorted(states), (i, c, states)
            assert states[-1] == 2, (i, c, states)
    assert built == versions  # one snapshot per bump, none built twice
    assert idx._snap.version == versions[-1]
