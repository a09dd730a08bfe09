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

Driver shape (:class:`CodeGroups`, used by
``Bm25CompressedIndex.suggest_rows`` over its driver dict cache): the same
ranking computed in numpy, the reference's in-memory WordSearch service
(srpc/WordSearch/ReadIndist.cpp) without a Spark job per request. The
dictionary is grouped once per snapshot by code-point length into
transposed code-point matrices, term-sorted, so the first-character
prune is one ``searchsorted`` range per character of the word in each
group. Groups are scored in descending order of the best sim their
length allows (the distance is at least the length difference), and the
scan stops once the k-th best sim found is strictly above the next
group's bound. :func:`levenshtein` is the one
kernel; fuzzy query expansion (:meth:`CodeGroups.within`) runs on it too.
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


def levenshtein(word: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """Levenshtein distance by code point (what Spark's ``levenshtein``
    counts) from ``word``, a code-point vector, to each column of
    ``codes``, an ``(L, n)`` code-point matrix of n terms of length L.

    Wagner-Fischer, one DP column per term position, vectorised over the
    n terms. The column holds ``K(i, j) = i + j - D(i, j)`` rather than
    the distance D: a deletion or an insertion then keeps K and a
    diagonal step adds 1, or 2 on a match, so the insertions are a
    running maximum down the column and K(i, 0) is always 0. Every K lies
    in ``[0, L + len(word)]``, which is why uint8 holds it below 255."""
    L, n = codes.shape
    lw = word.size
    dt = np.uint8 if L + lw < 255 else np.int32
    # one spare cell per row: a ufunc whose output row touches an input
    # row end to end takes numpy's overlap-copy path, ~10x slower
    col = np.zeros((lw + 1, n + 1), dtype=dt)[:, :n]
    nxt = np.zeros((lw + 1, n + 1), dtype=dt)[:, :n]
    word = word[:, None]
    for i in range(L):
        np.add(col[:-1], word == codes[i], out=nxt[1:])  # diagonal
        nxt[1:] += 1
        np.maximum(nxt[1:], col[1:], out=nxt[1:])  # deletion
        for j in range(1, lw + 1):  # insertions
            np.maximum(nxt[j], nxt[j - 1], out=nxt[j])
        col, nxt = nxt, col
    return L + lw - col[lw].astype(np.int64)


def _codes(word: str) -> np.ndarray:
    return np.fromiter(map(ord, word), dtype=np.uint32, count=len(word))


class CodeGroups:
    """A term-sorted dictionary grouped by code-point length, built once
    per dictionary snapshot: the driver's resident suggest dictionary,
    the in-memory twin of the reference's WordSearch index
    (srpc/WordSearch/ReadIndist.h), which it also keeps by first
    character.

    Group ``g`` holds the terms of length ``lens[g]`` in term order as a
    transposed ``(L, n_L)`` uint32 code-point matrix, whose first row is
    the sorted first-code-point column, and each term's position in the
    term-sorted dictionary (``rows``). Memory is 4 B per code point plus
    8 B per term, with no padding across lengths: one pathological long
    term costs only its own length."""

    def __init__(self, terms: list[str]):
        lens = np.fromiter(map(len, terms), dtype=np.int64, count=len(terms))
        order = np.argsort(lens, kind="stable")  # term order within a length
        self.lens, starts = np.unique(lens[order], return_index=True)
        self.codes: list[np.ndarray] = []
        self.rows = np.split(order, starts[1:])
        for L, rows in zip(self.lens.tolist(), self.rows):
            width = max(L, 1)  # U0 is not a dtype; the empty term has no codes
            flat = np.array([terms[i] for i in rows], dtype=f"U{width}")
            mat = flat.view(np.uint32).reshape(len(rows), width)[:, :L]
            self.codes.append(np.ascontiguousarray(mat.T))

    @property
    def nbytes(self) -> int:
        return sum(c.nbytes + r.nbytes for c, r in zip(self.codes, self.rows))

    def top_k(self, word: str, k: int) -> tuple[np.ndarray, np.ndarray]:
        """Positions and sims of the top-k terms for :func:`suggest` with
        its defaults, for the lowercased ``word``: the terms whose first
        character occurs in it, ranked by ``1 - lev / max(len)`` (float64,
        Spark's arithmetic) descending, position (term order) ascending.

        Groups are visited in descending order of their bound
        ``1 - |L - lw| / max(L, lw)``: the distance is at least the
        length difference, so no term of the group scores above it. The
        scan stops once k candidates are scored and the k-th best sim is
        strictly above the next group's bound; a term tying it could still
        win on term order. The bound must be that same float expression:
        ``6/7`` is not ``1 - 1/7`` in float64."""
        lw = len(word)
        w = _codes(word)
        chars = np.unique(w)
        bound = 1.0 - np.abs(self.lens - lw) / np.maximum(self.lens, lw)
        pos = np.empty(0, dtype=np.int64)
        sim = np.empty(0, dtype=np.float64)
        for g in np.argsort(-bound, kind="stable").tolist():
            if k < 1 or (pos.size == k and sim[-1] > bound[g]):
                break
            codes, rows = self.codes[g], self.rows[g]
            L = len(codes)
            if not L:
                continue  # the empty term has no first character
            # the first-character prune: one contiguous range per character
            lo = codes[0].searchsorted(chars, "left").tolist()
            hi = codes[0].searchsorted(chars, "right").tolist()
            spans = [slice(a, b) for a, b in zip(lo, hi) if b > a]
            if not spans:
                continue
            d = levenshtein(w, np.concatenate([codes[:, s] for s in spans], axis=1))
            pos = np.concatenate([pos, *(rows[s] for s in spans)])
            sim = np.concatenate([sim, 1.0 - d / max(L, lw)])
            best = np.lexsort((pos, -sim))[:k]
            pos, sim = pos[best], sim[best]
        return pos, sim

    def within(self, word: str, dist: int) -> tuple[np.ndarray, np.ndarray]:
        """Positions and distances of every term within edit distance
        ``dist`` of ``word``, in group order: only the groups whose length
        is within ``dist`` of the word's are scored."""
        w = _codes(word)
        near = np.nonzero(np.abs(self.lens - len(word)) <= dist)[0].tolist()
        d = [levenshtein(w, self.codes[g]) for g in near]
        pos = np.concatenate([np.empty(0, np.int64), *(self.rows[g] for g in near)])
        d = np.concatenate([np.empty(0, np.int64), *d])
        keep = d <= dist
        return pos[keep], d[keep]
