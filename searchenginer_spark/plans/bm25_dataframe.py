"""BM25 retrieval over a plain "postings-as-DataFrame" index (M1 engine).

This is the semantically-complete reference path: term stats live in ordinary
DataFrames, scoring is pure column math, top-k is ``orderBy().limit(k)``
(Spark plans TakeOrderedAndProject — a true distributed heap top-k, no global
sort). The compressed-block engine (plans/bm25.py) must be rank-identical to
this one; this plan doubles as its oracle.

Reference lifecycle generalized here:
  query -> tokenize (driver-local, queries are tiny:
           srpc/PageSearch/cut_weight.cpp:16-69)
        -> broadcast join with term stats
           (index probe, server.pb_skeleton.cc:104-119)
        -> conjunctive intersection by matched-term count
           (intended semantics of server.pb_skeleton.cc:95-139 — count
           distinct *terms*, not distinct weights; the reference's
           distinct-weight counting is a bug we do not reproduce)
        -> BM25 k1=1.2 b=0.75 (north rule; replaces the reference's
           asymmetric TF-IDF, Make_Page/MakePage.cpp:166-193)
        -> top-k (score desc, doc_id asc) — deterministic tie-break.
"""

from __future__ import annotations

import math
import re
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import current_scope
from ..functions.tokenize import IDENT_RE
from ..operators import stats as S

K1 = 1.2
B = 0.75


def tokenize_query(query: str, pattern: str = IDENT_RE) -> list[tuple[str, int]]:
    """Driver-local query tokenization -> [(term, qtf)].

    Queries are a handful of terms; this deliberately stays off the cluster
    (reference does the same in-process, cut_weight.cpp:19-23).
    """
    toks = re.findall(pattern, query.lower())
    return sorted(Counter(toks).items())


def bm25_idf(n_docs: F.Column, df: F.Column) -> F.Column:
    """ln((N - df + 0.5) / (df + 0.5) + 1) — non-negative BM25+ idf."""
    return F.log((n_docs - df + F.lit(0.5)) / (df + F.lit(0.5)) + F.lit(1.0))


def bm25_tf_norm(tf: F.Column, dl: F.Column, avgdl: F.Column) -> F.Column:
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


@dataclass
class Bm25DataFrameIndex:
    """Uncompressed BM25 index: four DataFrames.

    tf:    (doc_id, term, tf)
    dl:    (doc_id, dl)
    dft:   (term, df, cf)
    stats: single row (n_docs, avgdl)
    """

    spark: SparkSession
    tf: DataFrame
    dl: DataFrame
    dft: DataFrame
    stats: DataFrame

    @classmethod
    def build(
        cls,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        pattern: str = IDENT_RE,
        persist: bool = True,
    ) -> "Bm25DataFrameIndex":
        if id_col != "doc_id":
            docs = docs.withColumnRenamed(id_col, "doc_id")
        tf = S.term_frequencies(docs, text_col, "doc_id", pattern)
        dl = S.doc_lengths(tf)
        dft = S.document_frequencies(tf)
        stats = S.corpus_stats(dl)
        if persist:
            scope = current_scope()
            tf, dl, dft = (scope.persist(t) for t in (tf, dl, dft))
        return cls(docs.sparkSession, tf, dl, dft, stats)

    def search(
        self,
        query: str,
        k: int = 10,
        mode: str = "and",
        pattern: str = IDENT_RE,
        round_to: int | None = None,
    ) -> DataFrame:
        """Top-k (doc_id, score) for ``query``.

        mode='and': doc must contain ALL distinct query terms (reference
        intersection intent, README.txt:20-21) — a term absent from the
        corpus yields an empty result. mode='or': standard disjunctive BM25.

        ``round_to``: round scores to N decimals and rank by the rounded
        value (doc_id tie-break) — makes top-k membership reproducible
        across engines/summation orders for oracle comparison.
        """
        q = tokenize_query(query, pattern)
        n_terms = len(q)
        if n_terms == 0:
            return self.spark.createDataFrame([], "doc_id long, score double")
        qdf = self.spark.createDataFrame(q, "term string, qtf int")

        matched = (
            self.tf.join(F.broadcast(qdf), "term")
            .join(F.broadcast(self.dft.join(F.broadcast(qdf), "term").select("term", "df")), "term")
            .join(self.dl, "doc_id")
            .crossJoin(F.broadcast(self.stats))
        )
        contrib = (
            F.col("qtf")
            * bm25_idf(F.col("n_docs"), F.col("df"))
            * bm25_tf_norm(F.col("tf"), F.col("dl"), F.col("avgdl"))
        )
        scored = matched.groupBy("doc_id").agg(
            F.sum(contrib).alias("score"),
            F.count(F.lit(1)).alias("n_matched"),  # tf rows are distinct per (doc, term)
        )
        if mode == "and":
            scored = scored.filter(F.col("n_matched") == n_terms)
        score = F.round("score", round_to) if round_to is not None else F.col("score")
        return (
            scored.select("doc_id", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )


def bm25_oracle_python(
    docs: list[tuple[int, str]],
    query: str,
    k: int = 10,
    mode: str = "and",
    pattern: str = IDENT_RE,
) -> list[tuple[int, float]]:
    """Pure-Python BM25 oracle (the stand-in for the reference C++ engine,
    whose binaries are absent). Same math, same tie-break; used by tests to
    pin the Spark plans."""
    rx = re.compile(pattern)
    tfs: dict[int, Counter] = {d: Counter(rx.findall(t.lower())) for d, t in docs}
    dls = {d: sum(c.values()) for d, c in tfs.items()}
    n = len(tfs)
    avgdl = sum(dls.values()) / n if n else 0.0
    dfs: Counter = Counter()
    for c in tfs.values():
        dfs.update(set(c))
    q = dict(tokenize_query(query, pattern))
    out = []
    for d, c in tfs.items():
        matched = [t for t in q if c.get(t, 0) > 0]
        if mode == "and" and len(matched) != len(q):
            continue
        if not matched:
            continue
        score = 0.0
        for t in matched:
            idf = math.log((n - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0)
            tf = c[t]
            score += q[t] * idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dls[d] / avgdl))
        out.append((d, score))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]
