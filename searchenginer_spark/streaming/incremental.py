"""Incremental index maintenance via Structured Streaming.

The reference rebuilds everything from scratch (Make_Page/main.cpp:5-14);
the north rule asks for *resumable* builds (plans/build_index.py). This
module adds the streaming-native complement: new corpus files landing in a
directory are folded into the index incrementally with exactly-once file
tracking (Structured Streaming checkpoint), using Trigger.AvailableNow so
each invocation drains whatever is new and exits.

Semantics and their scale rationale:
  - new docs are assigned to NEW doc-range parts (append-only doc_id space);
    existing postings partitions are never rewritten.
  - new terms are appended to term_dict with ids continuing after the
    current max (ids stay dense and stable for existing terms).
  - n_docs/avgdl corpus stats are refreshed O(parts): each fold overwrites
    the touched parts' rows in the per-part ``stats_parts`` table
    (build_index.part_stats) and re-aggregates that table — untouched doc
    parts are NEVER re-read or re-tokenized. Per-posting impact scores of
    OLD parts are NOT rescored (standard incremental-index trade-off: BM25
    idf staleness until the next compact_indexes — documented,
    deterministic).
  - replay safety: foreachBatch is at-least-once and the docs sink is a
    plain parquet append (an Iceberg MERGE on a real deployment), so a
    replayed batch can double-append doc rows; every read of the docs table
    inside the fold dedups on doc_id, which makes the part rebuild, the
    stats refresh, and the term_dict append converge to the same bytes on
    replay.
  - cross-fold dedup (r6): when the root records a dedup mode in meta,
    every fold drops batch docs whose content hash already exists under a
    STRICTLY smaller doc_id (batch-internal or stored), via the
    ``content_hashes`` side table — a store column SCAN (~72 B/doc: hex
    digest + id) joined against the AQE-broadcast batch keys, never a
    corpus re-hash or store-wide shuffle. This is the exact-hash SUBSET of
    all three modes; near-dup pairs spanning folds accumulate until
    compact_indexes re-runs the full recorded mode, the same consolidation
    contract as idf staleness. The strictly-smaller rule makes replays
    no-ops (a replayed batch's own store rows share its doc_ids) and
    assumes the supported append-only id regime (mint_doc_ids): a LATER
    fold carrying a smaller id than a stored duplicate keeps both — folds
    never retract committed docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import current_scope, scoped
from ..operators import stats as S
from ..operators.ids import assign_sequential_ids
from ..operators.postings import build_postings
from ..plans.build_index import (
    Geometry,
    IndexPaths,
    _dir_exists,
    _table_ready,
    drop_stopwords,
    hadoop_path,
    part_stats,
)


def _append_term_dict(spark: SparkSession, paths: IndexPaths, batch_dft: DataFrame) -> DataFrame:
    """Union new terms into term_dict; existing term ids never change."""
    if _table_ready(spark, paths.term_dict):
        cur = spark.read.parquet(paths.term_dict)
        max_id = cur.agg(F.max("term_id")).first()[0] or -1
        new = batch_dft.join(cur.select("term"), "term", "left_anti")
        new_ids = assign_sequential_ids(new, ["term"], "_rank")
        appended = new_ids.select(
            "term",
            (F.col("_rank") + max_id + 1).alias("term_id"),
            "df",
            "cf",
            F.substring("term", 1, 1).alias("prefix"),
        )
        appended.write.mode("append").parquet(paths.term_dict)
    else:
        from ..operators.dict import build_term_dict

        build_term_dict(batch_dft).write.mode("overwrite").parquet(paths.term_dict)
    return spark.read.parquet(paths.term_dict)


def incremental_index(
    spark: SparkSession,
    input_dir: str,
    root: str,
    checkpoint_dir: str,
    docs_per_part: int | None = None,
    text_col: str = "content",
    tokenizer: str | None = None,
    with_positions: bool | None = None,
    stopwords: DataFrame | None = None,
) -> None:
    """Drain new parquet files from ``input_dir`` into the index at ``root``.

    Exactly-once per input file via the streaming checkpoint; restart-safe.
    Blocks until the AvailableNow trigger finishes. A missing or
    still-empty ``input_dir`` is a clean no-op (drain loops may fire
    before the first file lands).

    Build geometry: ``docs_per_part``, ``with_positions``, ``tokenizer``
    and ``stopwords`` left None are inherited from the root's recorded
    geometry, and an explicit value that differs from it raises
    (``Geometry.inherit`` and ``Geometry.check`` in plans/build_index.py),
    so a fold encodes, segments, filters and buckets exactly like the
    committed parts. The recorded dedup mode turns on cross-fold exact
    dedup (module docstring). A brand-new root records its geometry on
    the first invocation, so later folds and build_index resumes enforce
    it.
    """
    paths = IndexPaths(root)
    recorded = paths.read_geometry(spark)
    geo = Geometry(docs_per_part, with_positions, tokenizer, stopwords=stopwords).inherit(
        recorded
    )
    geo.check(recorded)
    if recorded is None:
        paths.write_geometry(spark, geo, text_col)
    sw_terms = geo.stop_terms()

    if not _dir_exists(spark, input_dir):
        return  # nothing has landed yet — clean no-op
    try:
        static = spark.read.parquet(input_dir)
    except Exception as e:  # empty dir: schema inference has no files
        if "infer schema" in str(e) or "PATH_NOT_FOUND" in str(e):
            return
        raise

    # each fold owns its caches: the survivor set, the tf table and the
    # term-id minting's checkpoint are freed when the fold returns
    @scoped
    def fold_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        bspark = batch.sparkSession
        survivors = None
        if geo.dedup is not None:
            # cross-fold EXACT dedup — the cheap subset of every recorded
            # dedup mode: a batch doc survives iff no STRICTLY smaller
            # doc_id with the same content hash exists in the batch or the
            # store. Same-id store rows never drop it (a replayed batch
            # already appended its own docs), so replay converges. Near-dup
            # rules are deliberately NOT applied per fold; compact_indexes
            # re-runs the full recorded mode over the union (its docstring
            # — the same consolidation that clears fold idf staleness).
            hashed = batch.dropDuplicates(["doc_id"])
            hashed = hashed.withColumn("_h", IndexPaths.content_hash(hashed, text_col))
            bmin = hashed.groupBy("_h").agg(F.min("doc_id").alias("_bmin"))
            hashed = (
                hashed.join(bmin, "_h")
                .filter(F.col("doc_id") == F.col("_bmin"))
                .drop("_bmin")
            )
            stored = paths.stored_hashes(bspark)
            if stored is None and _dir_exists(bspark, paths.docs):
                # one-time bootstrap when the hashes table is absent or
                # half-written (no _SUCCESS: a crashed write self-heals
                # here instead of wedging every later fold), e.g. on a
                # legacy root whose meta a dedup resume upgraded
                paths.write_hashes(bspark.read.parquet(paths.docs), text_col)
                stored = paths.stored_hashes(bspark)
            if stored is not None:
                # evict list via an INNER join of the (huge) store against
                # the (small) batch keys — AQE broadcasts the batch side,
                # so a fold is a store column SCAN + O(matches), never a
                # store-wide shuffle/aggregate (a groupBy-min over all N
                # stored hashes per micro-batch would be exactly that)
                ex = stored.select(
                    F.col("content_hash").alias("_h"),
                    F.col("doc_id").alias("_sid"),
                )
                bkeys = hashed.select("_h", F.col("doc_id").alias("_bid"))
                evict = (
                    ex.join(bkeys, "_h")
                    .filter(F.col("_sid") < F.col("_bid"))
                    .select("_bid")
                    .distinct()
                )
                hashed = hashed.join(
                    evict, hashed["doc_id"] == evict["_bid"], "left_anti"
                )
            survivors = current_scope().persist(hashed)
            if survivors.isEmpty():  # whole batch was already stored
                return
            batch = survivors.drop("_h")
        new_docs = batch.withColumn(
            "part", (F.col("doc_id") / geo.docs_per_part).cast("int")
        )
        new_docs.write.mode("append").partitionBy("part").parquet(paths.docs)
        if survivors is not None:
            # hash append AFTER the docs append: a crash in between leaves
            # same-id store rows, which the >= rule keeps on replay; dupes
            # in the hash table are harmless (min-groupBy consumers)
            paths.write_hashes(survivors, text_col, mode="append")

        # a batch may land in a part that earlier batches already touched:
        # rebuild the touched parts from ALL docs in them, so the dynamic
        # partition overwrite below is a correct idempotent replacement.
        # dropDuplicates makes a replayed (double-appended) batch harmless.
        touched = [r["part"] for r in new_docs.select("part").distinct().collect()]
        docs = (
            bspark.read.parquet(paths.docs)
            .filter(F.col("part").isin(touched))
            .dropDuplicates(["doc_id"])
        )

        # same analyzer-style stopword filter as the batch build — BEFORE
        # any statistic, so the fold's dl/df/postings stay consistent
        # with the committed parts' (sw_df rebuilt on the micro-batch
        # session: tiny curated list, never a cross-session DataFrame)
        sw_df = (
            bspark.createDataFrame([(t,) for t in sorted(sw_terms)], "term string")
            if sw_terms
            else None
        )
        tf = current_scope().persist(
            drop_stopwords(
                S.term_frequencies(
                    docs, text_col=text_col, tokenizer=geo.tokenizer,
                    with_positions=geo.with_positions,
                ),
                sw_df,
            )
        )
        dl = S.doc_lengths(tf)
        term_dict = _append_term_dict(bspark, paths, S.document_frequencies(tf))

        # ---- O(parts) stats refresh: overwrite the touched parts' rows in
        # stats_parts from THIS fold's dl, then aggregate the tiny per-part
        # table. Untouched doc parts are never read, let alone re-tokenized.
        # COMPLETENESS gate, not bare existence (a crash mid-bootstrap
        # leaves a partial dir that bare existence would treat as complete,
        # permanently omitting the untouched parts' rows): full builds
        # commit stats_parts with _SUCCESS; the incremental bootstrap's
        # dynamic partition overwrite never writes _SUCCESS at the table
        # root, so it records completion in its own _BOOTSTRAPPED sentinel
        # below. Either marker gates; a partial dir has neither and the
        # (idempotent, dynamic-overwrite) bootstrap simply re-runs.
        boot_sentinel = f"{paths.stats_parts}/_BOOTSTRAPPED"
        if not (
            _table_ready(bspark, paths.stats_parts)
            or _dir_exists(bspark, boot_sentinel)
        ):
            # one-time bootstrap for roots predating stats_parts: derive the
            # NON-touched parts' rows (touched rows come from this fold)
            others = (
                bspark.read.parquet(paths.docs)
                .filter(~F.col("part").isin(touched))
                .dropDuplicates(["doc_id"])
            )
            if not others.isEmpty():
                part_stats(
                    S.doc_lengths(
                        drop_stopwords(
                            S.term_frequencies(
                                others, text_col=text_col, tokenizer=geo.tokenizer,
                                with_positions=geo.with_positions,
                            ),
                            sw_df,
                        )
                    ),
                    geo.docs_per_part,
                ).write.mode("overwrite").option(
                    "partitionOverwriteMode", "dynamic"
                ).partitionBy("part").parquet(paths.stats_parts)
            # bootstrap complete (incl. the nothing-to-derive case) —
            # record it AFTER the write so a crash above leaves no marker
            # and the next fold re-runs the idempotent bootstrap
            fs, p = hadoop_path(bspark, boot_sentinel)
            fs.create(p, True).close()
        # per-write dynamic overwrite (replaces only the touched parts'
        # partitions) — a writer option, never a session-conf mutation that
        # would silently change unrelated writes' overwrite semantics
        part_stats(dl, geo.docs_per_part).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("part").parquet(paths.stats_parts)
        sp = bspark.read.parquet(paths.stats_parts)
        sp.agg(
            F.sum("n_docs").alias("n_docs"),
            (F.sum("sum_dl") / F.sum("n_docs")).alias("avgdl"),
        ).write.mode("overwrite").parquet(paths.stats)
        stats = bspark.read.parquet(paths.stats)

        postings = build_postings(tf, dl, term_dict, stats, geo.docs_per_part)
        postings.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("part").parquet(paths.postings)
        # signal open Bm25CompressedIndex handles (root-opened) that
        # term_dict/postings changed: each swaps in a new snapshot of the
        # tables on its next query
        from ..plans.bm25 import bump_dict_version

        bump_dict_version(bspark, root)

    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )
    q = (
        stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
