"""Keyword suggestion: edit-distance ranking over the term dictionary.

Reference lifecycle (/root/reference/srpc/WordSearch/server.pb_skeleton.cc:
62-188): split query into codepoints, union the dict rows indexed by each
first-character, rank candidates by similarity 1 - lev/maxlen (descending,
lexicographic tie-break, SimilarityComparator.h:63-97), return top-10.

Spark shape: prefix-pruned filter on term_dict (partition/min-max pruning on
the ``prefix`` column = the reference's first-char index), built-in
codepoint-aware ``F.levenshtein``, TakeOrderedAndProject top-k. The
reference pads results to exactly 10 with "" (fixed-width RPC response,
server.pb_skeleton.cc:169-185); ``pad=True`` reproduces that wire shape,
the default returns only real candidates.

Driver shape (:func:`suggest_sorted`, used by
``Bm25CompressedIndex.suggest_rows`` over its driver dict cache): the same
ranking computed in numpy — the reference's in-memory WordSearch service
(srpc/WordSearch/ReadIndist.cpp) without a Spark job per request.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def suggest(
    term_dict: DataFrame,
    query: str,
    k: int = 10,
    prefix_prune: bool = True,
    round_to: int | None = None,
    pad: bool = False,
) -> DataFrame:
    """Top-k (term, sim) suggestions for a (possibly misspelled) query term.

    ``pad=True``: always exactly ``k`` rows — missing slots filled with
    ('', 0.0), the reference server's fixed-width response contract."""
    # the dictionary stores lowercased terms/prefixes — fold user input
    # like every other query surface does, or a merely capitalized word
    # prunes away its own first-letter bucket AND pays a phantom edit
    query = query.lower()
    cand = term_dict
    if prefix_prune and query:
        chars = list(dict.fromkeys(query))  # unique codepoints, order kept
        cand = cand.filter(F.col("prefix").isin(chars))
    sim = 1.0 - F.levenshtein(F.col("term"), F.lit(query)) / F.greatest(
        F.length("term"), F.lit(len(query))
    )
    sim = F.round(sim, round_to) if round_to is not None else sim
    out = (
        cand.select("term", sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc("term"))
        .limit(k)
    )
    if pad:
        spark = term_dict.sparkSession
        # pad rows sort strictly AFTER every real candidate (explicit pad
        # rank — a '' term would otherwise win lexicographic ties at sim 0)
        filler = spark.createDataFrame([("", 0.0)] * k, "term string, sim double")
        out = (
            out.withColumn("_pad", F.lit(0))
            .unionByName(filler.withColumn("_pad", F.lit(1)))
            .orderBy("_pad", F.desc("sim"), F.asc("term"))
            .limit(k)
            .drop("_pad")
        )
    return out


#: DP cells (candidates x longest candidate) scored per numpy block by
#: suggest_sorted: a few MB of int32 rows whatever the dictionary size
_DP_CELLS = 1 << 20


def edit_distances(word: str, terms: list[str], lens: np.ndarray) -> np.ndarray:
    """Levenshtein distance from ``word`` to each of ``terms`` by code
    point (what Spark's ``levenshtein`` counts); ``lens`` are the terms'
    code-point lengths. One DP row per character of ``word``, vectorised
    across the terms: a ``U``-dtype view gives their code points, and a
    term's distance is read at its own length, so the padding past it
    never feeds back."""
    width = max(int(lens.max()), 1)
    codes = np.array(terms, dtype=f"U{width}").view(np.uint32).reshape(len(terms), width)
    cols = np.arange(width + 1, dtype=np.int32)
    row = np.tile(cols, (len(terms), 1))  # distances from the empty prefix
    for j, c in enumerate(word, 1):
        cur = np.empty_like(row)
        cur[:, 0] = j
        # deletion or substitution from the previous row...
        np.minimum(row[:, 1:] + 1, row[:, :-1] + (codes != ord(c)), out=cur[:, 1:])
        # ...then insertions: min over i' <= i of cur[i'] + (i - i')
        row = np.minimum.accumulate(cur - cols, axis=1) + cols
    return row[np.arange(len(terms)), lens]


def suggest_sorted(
    word: str, terms: list[str], lens: np.ndarray, k: int
) -> list[tuple[str, float]]:
    """The driver twin of :func:`suggest` with its defaults: top-k
    ``(term, sim)`` over ``terms``, which are already prefix-pruned and in
    ascending order (``lens`` their code-point lengths), for the
    lowercased ``word``. Same sim arithmetic in float64 and the same
    (sim desc, term asc) rank, so the rows equal the operator's bit for
    bit. Candidates are scored longest first in blocks of at most
    ``_DP_CELLS`` DP cells."""
    n = len(terms)
    dist = np.empty(n, dtype=np.int64)
    by_len = np.argsort(-lens, kind="stable")
    start = 0
    while start < n:
        stop = start + max(1, _DP_CELLS // max(int(lens[by_len[start]]), 1))
        at = by_len[start:stop]
        dist[at] = edit_distances(word, [terms[i] for i in at], lens[at])
        start = stop
    sim = 1.0 - dist / np.maximum(lens, len(word))
    top = np.argsort(-sim, kind="stable")[:k]
    return [(terms[i], float(sim[i])) for i in top]
