"""Resumable inverted-index build with per-partition checkpoints + metrics.

Artifacts under an index root (parquet here, Iceberg tables on a cluster —
see sources/catalog.py):

    docs/        docs(doc_id, repo, path, commit, lang, content,
                      content_sha256)  — replaces the reference's
                      pagelib/offset/text stores (Make_Page/rcc.cpp:190-201)
    term_dict/   term_dict(term, term_id, df, cf, prefix)
    stats/       single row (n_docs, avgdl)
    postings/    partitioned by part (block-max compressed rows)
    metrics/     one row per built part (FIXTURES.md F5): build lineage +
                 throughput — the "Iceberg metrics table" of the north rule

Resumability contract: the unit of work is a doc-range ``part``. A part is
complete iff a metrics row with status='done' exists. Parts are written
with dynamic partition overwrite, so re-building a part (e.g. after a crash
between data write and checkpoint append) is idempotent — the
crash-between-write-and-checkpoint case converges to the same bytes.

The reference has no resumability (full rebuild, Make_Page/main.cpp:5-14);
this is north-rule scope.
"""

from __future__ import annotations

import threading
import time
import uuid
from contextvars import copy_context
from dataclasses import dataclass, fields

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from ..cache import current_scope, scoped
from ..operators import stats as S
from ..operators.dict import build_term_dict
from ..operators.postings import build_postings
from .bm25 import Bm25CompressedIndex

METRICS_SCHEMA = (
    "build_id string, partition_id int, status string, input_sha string, "
    "n_docs long, n_postings long, bytes_written long, "
    "postings_per_sec double, wall_ms long"
)

#: content-hash stand-in for NULL text in the content_hashes side table:
#: sha2(NULL) is NULL, and null join keys never match — null-content docs
#: would silently vanish from dedup folds. The sentinel groups them as
#: mutual duplicates, matching the batch build (groupBy(sha256(text))
#: puts nulls in one group). Never collides with a real digest (hex-only).
NULL_CONTENT_HASH = "__null_content__"

#: the dedup field of a meta written before the field existed (pre-r6,
#: 3 columns): the recorded mode is unknowable, so a check accepts any
#: mode and an inherit reads it as None (no dedup)
UNKNOWN_DEDUP = object()

_META_SCHEMA = (
    "docs_per_part int, with_positions boolean, tokenizer string, dedup string"
)


def hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) of ``path`` on the session's Hadoop filesystem:
    two py4j calls, and the one place the package resolves a filesystem."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


@dataclass(frozen=True)
class Geometry:
    """A root's build geometry: how every writer of the root (the build,
    its resumes, incremental folds, compaction) tokenizes, buckets,
    filters and dedups. Committed parts describe it, so a writer that
    differs in any field corrupts them. None means "not given"."""

    docs_per_part: int | None = None
    with_positions: bool | None = None
    tokenizer: str | None = None
    dedup: str | None = None
    #: (term) table removed from the token stream before any statistic
    stopwords: DataFrame | None = None

    def stop_terms(self) -> frozenset[str]:
        """The stopword list as a driver-side set (a tiny curated list)."""
        if self.stopwords is None:
            return frozenset()
        return frozenset(r["term"] for r in self.stopwords.select("term").collect())

    def inherit(self, recorded: Geometry | None) -> Geometry:
        """This geometry with each None field filled from ``recorded``, or
        from the build defaults on a root that records none."""
        base = recorded or Geometry(1 << 16, False)
        filled = {
            f.name: getattr(self, f.name)
            if getattr(self, f.name) is not None
            else getattr(base, f.name)
            for f in fields(self)
        }
        if filled["dedup"] is UNKNOWN_DEDUP:
            filled["dedup"] = None
        return Geometry(**filled)

    def check(self, recorded: Geometry | None) -> None:
        """Raise ValueError naming the first field that differs from the
        ``recorded`` geometry. An unknown legacy dedup mode is skipped."""
        if recorded is None:
            return
        for name, given, rec in (
            ("docs_per_part", int(self.docs_per_part), recorded.docs_per_part),
            ("with_positions", bool(self.with_positions), recorded.with_positions),
            ("tokenizer", self.tokenizer or None, recorded.tokenizer or None),
            ("dedup", self.dedup or None, recorded.dedup or None),
        ):
            if given != rec and rec is not UNKNOWN_DEDUP:
                raise ValueError(
                    f"{name}={given!r} conflicts with the root's recorded "
                    f"{rec!r}: the committed parts were built with it"
                )
        # an inherited list is the recorded one: no need to collect both
        if self.stopwords is not recorded.stopwords:
            given, rec = self.stop_terms(), recorded.stop_terms()
            if given != rec:
                raise ValueError(
                    f"stopwords ({len(given)} terms) conflict with the root's "
                    f"recorded stopwords ({len(rec)} terms): the committed "
                    "parts' dl/df/postings describe the recorded filter"
                )


class IndexPaths:
    """The tables under an index root, and the one owner of the root's
    build geometry: its ``meta``, ``stopwords`` and ``content_hashes``
    tables are read, checked and written here and nowhere else."""

    def __init__(self, root: str):
        self.root = root
        self.docs = f"{root}/docs"
        self.term_dict = f"{root}/term_dict"
        self.stats = f"{root}/stats"
        #: per-part (n_docs, sum_dl) rows — the O(parts) source the
        #: incremental fold refreshes global stats from without ever
        #: re-tokenizing untouched parts (streaming/incremental.py)
        self.stats_parts = f"{root}/stats_parts"
        self.postings = f"{root}/postings"
        self.metrics = f"{root}/metrics"
        #: 1-row build geometry (docs_per_part, with_positions, tokenizer,
        #: dedup); its presence certifies the stopwords and hashes tables
        self.meta = f"{root}/meta"
        #: the stopword list the index was built with (absent = none)
        self.stopwords = f"{root}/stopwords"
        #: (content_hash, doc_id) of every stored doc — written by
        #: dedup-mode builds, appended by incremental folds: the ~72 B/doc
        #: side table cross-fold exact dedup anti-joins against (r6)
        self.hashes = f"{root}/content_hashes"

    def read_geometry(self, spark: SparkSession) -> Geometry | None:
        """The recorded geometry, or None for a root with no meta."""
        if not _table_ready(spark, self.meta):
            return None
        meta = spark.read.parquet(self.meta).first()
        return Geometry(
            int(meta["docs_per_part"]),
            bool(meta["with_positions"]),
            meta["tokenizer"],
            meta["dedup"] if "dedup" in meta.__fields__ else UNKNOWN_DEDUP,
            spark.read.parquet(self.stopwords)
            if _table_ready(spark, self.stopwords)
            else None,
        )

    def write_geometry(self, spark: SparkSession, geo: Geometry, text_col: str) -> None:
        """Record ``geo``: the stopwords table (a stale one is removed when
        there is none), the content hashes of the stored docs on a dedup
        root, then meta LAST — meta's presence certifies the group. A
        dedup root's docs must be committed first."""
        if geo.stopwords is None:
            fs, p = hadoop_path(spark, self.stopwords)
            fs.delete(p, True)
        else:
            geo.stopwords.select("term").dropDuplicates(["term"]).coalesce(
                1
            ).write.mode("overwrite").parquet(self.stopwords)
        if geo.dedup is not None:
            self.write_hashes(spark.read.parquet(self.docs), text_col)
        spark.createDataFrame(
            [(int(geo.docs_per_part), bool(geo.with_positions), geo.tokenizer, geo.dedup)],
            _META_SCHEMA,
        ).write.mode("overwrite").parquet(self.meta)

    @staticmethod
    def content_hash(docs: DataFrame, text_col: str):
        """The one content-hash rule of exact dedup and the hashes table:
        the stored ``content_sha256`` when it digests ``text_col`` (that
        is, text_col is ``content``), else sha256 of ``text_col``; NULL
        text hashes to NULL_CONTENT_HASH."""
        h = (
            F.col("content_sha256")
            if text_col == "content" and "content_sha256" in docs.columns
            else F.sha2(F.col(text_col), 256)
        )
        return F.coalesce(h, F.lit(NULL_CONTENT_HASH))

    def write_hashes(self, docs: DataFrame, text_col: str, mode: str = "overwrite") -> None:
        """Write (or append) the (content_hash, doc_id) rows of ``docs``."""
        docs.select(
            self.content_hash(docs, text_col).alias("content_hash"), "doc_id"
        ).write.mode(mode).parquet(self.hashes)

    def stored_hashes(self, spark: SparkSession) -> DataFrame | None:
        """The committed content_hashes table, or None."""
        if not _table_ready(spark, self.hashes):
            return None
        return spark.read.parquet(self.hashes)


def _done_parts(spark: SparkSession, paths: IndexPaths) -> set[int]:
    # cheap fs.exists first: the common fresh-build case must not pay a
    # driver-side AnalysisException round trip just to learn "no metrics yet"
    if not _dir_exists(spark, paths.metrics):
        return set()
    try:
        rows = (
            spark.read.parquet(paths.metrics)
            .filter(F.col("status") == "done")
            .select("partition_id")
            .distinct()
            .collect()
        )
        return {r["partition_id"] for r in rows}
    except Exception:
        return set()


def _dir_exists(spark: SparkSession, path: str) -> bool:
    fs, p = hadoop_path(spark, path)
    return bool(fs.exists(p))


def _table_ready(spark: SparkSession, path: str) -> bool:
    """True iff a committed write exists at ``path`` (_SUCCESS marker) —
    works on any Hadoop filesystem, not just local."""
    return _dir_exists(spark, path + "/_SUCCESS")


def _list_parts(spark: SparkSession, docs_path: str) -> list[int] | None:
    """Partition values of a part=N-partitioned table from ONE filesystem
    listing — no Spark job. Returns None if the layout isn't recognized
    (caller falls back to a distinct() scan)."""
    try:
        fs, p = hadoop_path(spark, docs_path)
        parts = []
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith("part="):
                parts.append(int(name.split("=", 1)[1]))
        return sorted(parts) if parts else None
    except Exception:
        return None


def part_stats(dl: DataFrame, docs_per_part: int) -> DataFrame:
    """(part, n_docs, sum_dl) per doc-range part — the incremental-stats
    unit. part is a pure function of doc_id, so this is one map-side-combined
    aggregate, no join."""
    return (
        dl.withColumn("part", (F.col("doc_id") / docs_per_part).cast("int"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl"))
    )


def drop_stopwords(tf: DataFrame, stopwords: DataFrame | None) -> DataFrame:
    """Analyzer-style stopword removal from a term/tf table (Lucene
    StopFilter semantics: stopworded terms leave the stream before ANY
    statistic). Shared by the batch build, the incremental fold and
    compaction so all three filter identically."""
    if stopwords is None:
        return tf
    return tf.join(F.broadcast(stopwords.select("term")), "term", "left_anti")


@scoped
def build_index(
    docs: DataFrame,
    root: str,
    docs_per_part: int = 1 << 16,
    text_col: str = "content",
    max_parts: int | None = None,
    with_positions: bool = False,
    dedup: str | None = None,
    stopwords: DataFrame | None = None,
    tokenizer: str | None = None,
) -> dict:
    """Build (or resume) the full index for ``docs(doc_id, <text_col>, ...)``.

    ``max_parts`` limits how many pending parts are built this run — used by
    the kill/resume tests to simulate an interrupted build.

    ``stopwords``: optional (term) table removed from the token stream
    before any statistic (analyzer-style, like Lucene's StopFilter; the
    reference applies its stopword set at dictionary-write time,
    Make_dir/MakeDictAndIndex.cpp:118-125): stopworded terms never enter
    term_dict or postings, and dl/avgdl/df consistently count only the
    remaining tokens — the dl used in per-posting impacts and the stored
    avgdl always describe the same token stream.

    ``dedup``: 'exact', 'simhash' or 'minhash_cc' runs the dedup stage
    BEFORE any stats/partitioning, reproducing the reference's
    dedup-inside-store pipeline (Make_Page/rcc.cpp:146-202) with
    lowest-doc_id-wins semantics; dropped ids leave gaps, parts stay
    doc-range-disjoint. Deterministic, so resume runs re-derive the
    identical deduped set. 'minhash_cc' (r6) is the TRANSITIVE variant:
    MinHash-LSH pairs -> connected components -> one survivor per
    near-dup cluster (operators.dedup.near_dup_clusters), so chains
    A~B~C collapse even when A and C are not direct pairs.

    ``tokenizer``: token source for every tf pass of the build (None = JVM
    regex; 'cjk_bigram' / 'dict_cjk' / 'jieba' — see
    functions.tokenize.explode_tokens). Recorded in the meta table; query
    strings must be tokenized/segmented consistently (e.g.
    cjk_segment.MixSegmenter for dict_cjk).

    Every cache and checkpoint the build makes (the tf table, the dedup
    stage's, the term-id minting's) belongs to a CacheScope that the call
    opens and closes, so a build leaves no persisted RDD behind.

    The root's geometry (docs_per_part, with_positions, tokenizer, dedup,
    stopwords) is recorded on the first run; a resume that differs in any
    field raises (IndexPaths.read_geometry, Geometry.check).

    Returns a summary dict:

    - ``n_docs``: docs with at least one indexed token;
    - ``parts_total``, ``parts_built``, ``parts_done_before``: doc-range
      parts in the root, built by this run, and committed before it;
    - ``wall_s`` and ``root``;
    - ``phases``: seconds per phase — ``setup``, ``dict``, ``stats``,
      ``docs_write_wait``, ``listing``, ``encode``, ``metrics`` and
      ``summary`` (``dict``/``stats`` only when stage 1 runs,
      ``encode``/``metrics`` only when parts are pending).
    """
    spark = docs.sparkSession
    paths = IndexPaths(root)
    geo = Geometry(docs_per_part, with_positions, tokenizer, dedup, stopwords)
    recorded = paths.read_geometry(spark)
    # resuming with a different geometry would encode the pending parts
    # inconsistently with the committed ones
    geo.check(recorded)
    t0 = time.monotonic()
    phases: dict[str, float] = {}

    def _mark(name: str, since: float) -> float:
        now = time.monotonic()
        phases[name] = round(now - since, 3)
        return now

    # The dedup stage's ONLY consumers are the stage-1 artifacts: the docs
    # write (survivor set) and the stats/dict chain (survivor tf). On a
    # root where those are already committed it is never consumed — so
    # construct it only when one of them is actually missing. This keeps a
    # no-op resume (all gates satisfied) from re-paying the dedup chain:
    # the minhash_cc clustering runs EAGERLY at construction
    # (localCheckpoint rounds), and since r7 the simhash path eagerly
    # materializes its dft gate — both were O(corpus) charged to a resume
    # that then did nothing (the ADVICE r6 finding). Resumes with pending
    # parts are unaffected: pending tf comes from the WRITTEN docs store,
    # which already holds only survivors.
    fresh_docs = not _table_ready(spark, paths.docs)
    stage1_pending = not (
        recorded is not None
        and _table_ready(spark, paths.term_dict)
        and _table_ready(spark, paths.stats)
    )
    dedup_tf = pre_dft = None
    if dedup is not None and (fresh_docs or stage1_pending):
        from ..operators.dedup import dedup_docs_and_tf

        # fused stage: the dedup fingerprints and the index stats share ONE
        # tokenize+tf pass (the widest stage of the DAG) instead of two
        docs, dedup_tf, pre_dft = dedup_docs_and_tf(
            docs, how=dedup, text_col=text_col, with_positions=with_positions,
            tokenizer=tokenizer,
        )
    docs = docs.withColumn("part", (F.col("doc_id") / docs_per_part).cast("int"))

    def drop_stop(t: DataFrame) -> DataFrame:
        return drop_stopwords(t, stopwords)

    # -- stage 1: docs + dictionary — written once, reused on resume --------
    # (pure functions of the immutable input; _SUCCESS marker gates reuse)
    writer = None
    if fresh_docs:
        # submit the docs write as a CONCURRENT job: it shares the scan of
        # `docs` with the stats jobs below but is otherwise independent, so
        # overlapping them removes it from the serial critical path
        _werr: list[BaseException] = []

        def _write_docs():
            try:
                docs.write.mode("overwrite").partitionBy("part").parquet(paths.docs)
            except BaseException as e:  # surfaced after join()
                _werr.append(e)

        writer = threading.Thread(target=copy_context().run, args=(_write_docs,))
        writer.start()

    tcur = _mark("setup", t0)
    tf = None
    # meta is in the stage1_pending gate so a crash BETWEEN the stats and
    # meta writes re-runs this (idempotent) stage instead of leaving the
    # root permanently meta-less (meta is the last write below)
    if stage1_pending:
        # stats read the in-memory input directly — identical rows to what
        # the writer thread is persisting (both derive from `docs`)
        if dedup_tf is not None:
            tf = drop_stop(dedup_tf)  # survivor-filtered view of the dedup tf
        else:
            tf = current_scope().persist(
                drop_stop(
                    S.term_frequencies(
                        docs, text_col=text_col, with_positions=with_positions,
                        tokenizer=tokenizer,
                    )
                )
            )
        dl = S.doc_lengths(tf)

        # the stats chain (per-part stats -> global stats -> meta) is three
        # tiny writes whose job-scheduling + commit overhead is pure serial
        # share if run back-to-back; overlap it with the big dict job below —
        # both threads consume the same persisted tf (per-partition cache
        # locks make the concurrent fill race-free). Only worth it when the
        # executor has spare slots for the tiny jobs' tasks to slip into:
        # on a <4-slot session concurrency is zero-sum and the time-slicing
        # measurably slows the wide dict stage, so run sequentially there.
        overlap = spark.sparkContext.defaultParallelism >= 4
        _serr: list[BaseException] = []
        _stats_row: list[int | None] = []

        def _write_stats():
            try:
                # persist the tiny per-part aggregate: the global-stats agg
                # below reads it from cache instead of re-listing+re-reading
                # the parquet it was just written to (one fewer read job in
                # the serial thread chain; rows are identical either way)
                ps = current_scope().persist(part_stats(dl, docs_per_part))
                ps.write.mode("overwrite").partitionBy("part").parquet(
                    paths.stats_parts
                )
                # global stats aggregate the tiny per-part table instead of
                # re-running a full dl pass; sum_dl/n_docs are exact integers,
                # so avgdl is bit-identical to avg(dl) over the rows.
                # Collect the single row and write it from the driver: the
                # value is also the summary's n_docs, so the end-of-build
                # summary job (a parquet re-read) disappears on fresh
                # builds (resumes still read the stats table).
                srow = ps.agg(
                    F.sum("n_docs").alias("n_docs"),
                    (F.sum("sum_dl") / F.sum("n_docs")).alias("avgdl"),
                ).collect()[0]
                n_docs_v = None if srow["n_docs"] is None else int(srow["n_docs"])
                avgdl_v = None if srow["avgdl"] is None else float(srow["avgdl"])
                spark.createDataFrame(
                    [(n_docs_v, avgdl_v)], "n_docs long, avgdl double"
                ).write.mode("overwrite").parquet(paths.stats)
                _stats_row.append(n_docs_v)
                current_scope().release(ps)
                if dedup is not None and writer is not None:
                    # the hashes table is read back from the WRITTEN docs
                    # store (the lazy dedup plan would re-run the whole
                    # dedup stage): wait for the concurrent docs writer,
                    # or meta would certify a half-read store's hashes
                    writer.join()
                    if _werr:
                        raise _werr[0]
                paths.write_geometry(spark, geo, text_col)
            except BaseException as e:  # surfaced after join()
                _serr.append(e)

        stats_writer = (
            threading.Thread(target=copy_context().run, args=(_write_stats,))
            if overlap
            else None
        )
        if stats_writer is not None:
            stats_writer.start()
        # the dedup stage may carry a precomputed survivor dft (df/cf by
        # subtraction from the keyword pass's full-corpus aggregate — see
        # dedup_docs_and_tf); filtering stopword TERMS from the aggregate
        # equals aggregating the stopword-filtered tf, so drop_stop applies
        # directly to the (term, df, cf) frame
        dft_for_dict = (
            drop_stop(pre_dft) if pre_dft is not None else S.document_frequencies(tf)
        )
        build_term_dict(dft_for_dict).write.mode(
            "overwrite"
        ).parquet(paths.term_dict)
        tcur = _mark("dict", tcur)
        if stats_writer is not None:
            stats_writer.join()
        else:
            _write_stats()
        if _serr:
            raise _serr[0]
        tcur = _mark("stats", tcur)
    if writer is not None:
        writer.join()
        if _werr:
            raise _werr[0]
    tcur = _mark("docs_write_wait", tcur)
    docs = spark.read.parquet(paths.docs)
    term_dict = spark.read.parquet(paths.term_dict)
    stats = spark.read.parquet(paths.stats)

    # -- stage 2: postings for pending parts only ---------------------------
    # one fs listing of the part=N dirs — no Spark job, no data scan
    listed = _list_parts(spark, paths.docs)
    all_parts = (
        listed
        if listed is not None
        else sorted(r["part"] for r in docs.select("part").distinct().collect())
    )
    done = _done_parts(spark, paths)
    tcur = _mark("listing", tcur)
    pending = [p for p in all_parts if p not in done]
    if max_parts is not None:
        pending = pending[:max_parts]

    built = 0
    if pending:
        build_id = uuid.uuid4().hex[:12]
        pend_docs = docs.filter(F.col("part").isin(pending))
        if tf is None:
            # resume: recompute tf for pending parts only (df/avgdl are
            # already frozen in term_dict/stats from the first run)
            pend_tf = drop_stop(
                S.term_frequencies(
                    pend_docs, text_col=text_col, with_positions=with_positions,
                    tokenizer=tokenizer,
                )
            )
        else:
            # part is a pure function of doc_id — filter beats a semi-join
            pend_tf = tf.filter(
                (F.col("doc_id") / docs_per_part).cast("int").isin(pending)
            )
        pend_dl = S.doc_lengths(pend_tf)
        t1 = time.monotonic()
        # cache the encoded rows once: the write below and the metrics
        # aggregation both consume them, so the written parquet is never
        # re-read from disk just to count its own bytes
        postings = current_scope().persist(
            build_postings(pend_tf, pend_dl, term_dict, stats, docs_per_part)
        )
        # dynamic overwrite per-write: a resume must replace ONLY the pending
        # parts' partitions, never clobber parts committed by earlier runs
        postings.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("part").parquet(paths.postings)
        wall_ms = int((time.monotonic() - t1) * 1000)
        tcur = _mark("encode", tcur)

        # lineage + throughput metrics per part (from the cached encode).
        # The encode+write is ONE job over all pending parts — per-part
        # walls are not observable from the driver, so wall_ms and
        # postings_per_sec are RUN-level (shared by every row of this
        # build_id's run): rate = all postings built this run / run wall,
        # with the run total computed as an unpartitioned window sum over
        # the per-part aggregate (one row per part — tiny) so the whole
        # metrics phase is ONE job instead of a separate driver agg
        # action plus the write (r7; ~0.3 s per build at bench scale, one
        # fewer serial driver round at any scale).
        from pyspark.sql import Window

        per_part = (
            postings.groupBy("part")
            .agg(
                F.sum("n").alias("n_postings"),
                # every stored payload column: docs, tfs, scores, positions
                sum(
                    F.sum(F.octet_length(f.name))
                    for f in postings.schema.fields
                    if f.dataType == BinaryType()
                ).alias("bytes_written"),
            )
            .join(
                # broadcast the doc-side aggregate (one row per part — tiny
                # by construction): the join then runs in the postings
                # aggregate's own stage instead of costing a second
                # exchange plus an AQE materialization round
                F.broadcast(
                    pend_docs.groupBy("part").agg(
                        F.count(F.lit(1)).alias("n_docs"),
                        # order-independent, overflow-free content fingerprint
                        F.bit_xor(
                            F.xxhash64(IndexPaths.content_hash(pend_docs, text_col))
                        ).cast("string").alias("input_sha"),
                    )
                ),
                "part",
            )
        )
        run_rate = (
            F.sum("n_postings").over(Window.partitionBy())
            / F.lit(max(wall_ms, 1))
            * 1000.0
        )
        metrics = per_part.select(
            F.lit(build_id).alias("build_id"),
            F.col("part").cast("int").alias("partition_id"),
            F.lit("done").alias("status"),
            "input_sha",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_postings").cast("long").alias("n_postings"),
            F.col("bytes_written").cast("long").alias("bytes_written"),
            run_rate.cast("double").alias("postings_per_sec"),
            F.lit(wall_ms).cast("long").alias("wall_ms"),
        )
        metrics.write.mode("append").parquet(paths.metrics)
        built = len(pending)
        tcur = _mark("metrics", tcur)

    if not stage1_pending and dedup is not None and recorded.dedup is UNKNOWN_DEDUP:
        # legacy-meta migration: a pre-r6 root resumed with its true dedup
        # mode keeps its 3-column meta (stage 1 is gated off once meta
        # exists): record the mode, with the hashes table folds dedup by
        paths.write_geometry(spark, geo, text_col)
    if built:
        # open handles on this root swap in a new snapshot of the tables
        from .bm25 import bump_dict_version

        bump_dict_version(spark, root)
    # n_docs from the 1-row stats table (docs with >=1 indexed token) —
    # never a full re-scan of the docs table just for the summary dict;
    # fresh builds already hold the value driver-side from the stats
    # write, so only resumes pay the (tiny) read job
    if stage1_pending and _stats_row:
        n_docs_total = int(_stats_row[0])
    else:
        n_docs_total = int(spark.read.parquet(paths.stats).first()["n_docs"])
    _mark("summary", tcur)
    return {
        "n_docs": n_docs_total,
        "parts_total": len(all_parts),
        "parts_built": built,
        "parts_done_before": len(done),
        "wall_s": time.monotonic() - t0,
        "phases": phases,
        "root": root,
    }


def compact_indexes(
    spark: SparkSession,
    roots: list[str],
    out_root: str,
    docs_per_part: int | None = None,
    with_positions: bool | None = None,
    text_col: str = "content",
    tokenizer: str | None = None,
    stopwords: DataFrame | None = None,
    dedup: str | None = None,
) -> dict:
    """Compact several indexes (e.g. a base + incremental deltas) into one.

    Term ids and BM25 stats are index-local, so a correct merge must
    re-derive df/avgdl/scores over the union — this is the rebuild-style
    compaction (the incremental path in streaming/incremental.py is the
    in-place delta fold; this is the periodic consolidation that clears its
    accumulated idf staleness). Doc ids must be disjoint across inputs.

    ``docs_per_part``, ``with_positions``, ``tokenizer``, ``stopwords`` and
    ``dedup`` left None are inherited from the FIRST root's recorded
    geometry (``Geometry.inherit``; the build defaults when it records
    none), so a compaction never silently re-buckets, drops positions,
    swaps the tokenizer or reintroduces stopwords; pass explicit values
    to change the output's geometry on purpose. The inherited ``dedup``
    RE-RUNS in full over the union: incremental folds only apply its
    exact-hash subset, so near-dup pairs that span folds (and dups that
    span roots) accumulate until this consolidation clears them, exactly
    like fold-accumulated idf staleness.
    """
    geo = Geometry(docs_per_part, with_positions, tokenizer, dedup, stopwords).inherit(
        IndexPaths(roots[0]).read_geometry(spark)
    )
    docs = None
    for r in roots:
        d = spark.read.parquet(IndexPaths(r).docs).drop("part")
        docs = d if docs is None else docs.unionByName(d)
    return build_index(
        docs,
        out_root,
        docs_per_part=geo.docs_per_part,
        with_positions=geo.with_positions,
        text_col=text_col,
        tokenizer=geo.tokenizer,
        stopwords=geo.stopwords,
        dedup=geo.dedup,
    )


def read_postings(spark: SparkSession, root: str) -> DataFrame:
    """The postings table of ``root`` as stored: a plain parquet read, so
    a term_id filter over it is one narrow scan (the driver scoring path
    of ``Bm25CompressedIndex.search_query_rows``)."""
    return spark.read.parquet(IndexPaths(root).postings)


def open_postings(
    spark: SparkSession, root: str, scan: DataFrame | None = None
) -> DataFrame:
    """The postings table of ``root`` (or its read ``scan``),
    hash-partitioned on ``part``.

    The explicit ``repartition(n, 'part')`` is the query engine's
    exchange-elision contract (guide §2.4): every scorer is a
    ``groupBy('part').applyInArrow``, whose ClusteredDistribution(part)
    is satisfied by this partitioning — so a caller that PERSISTS the
    handle (the serving pattern) pays the exchange once at cache fill and
    every subsequent query runs with ZERO per-query shuffle (measured
    742 -> 536 ms/query on the warm loop, 328 -> 302 in serving mode).
    Unpersisted one-shot queries are unchanged: the per-query term filter
    pushes below the repartition, so the exchange carries exactly the few
    filtered rows the groupBy's own exchange used to carry. n is the
    session's shuffle-partition setting (cores-/cluster-scaled, never a
    constant)."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if scan is None:
        scan = read_postings(spark, root)
    return scan.repartition(n, "part")


def open_index(spark: SparkSession, root: str) -> Bm25CompressedIndex:
    paths = IndexPaths(root)
    geo = paths.read_geometry(spark)
    scan = read_postings(spark, root)
    return Bm25CompressedIndex(
        spark,
        open_postings(spark, root, scan),
        spark.read.parquet(paths.term_dict),
        docs_per_part=geo.docs_per_part if geo else None,
        # handles opened by root watch dict_version: an incremental fold
        # bumping it invalidates the driver dict cache + table snapshots
        root=root,
        postings_scan=scan,
    )
