"""Compressed posting-list construction and decode.

Layout (one row per (term_id, part)):

    term_id    long      dense term id (term_dict)
    part       int       doc-range partition: part = doc_id // docs_per_part
    n          long      number of postings in this row
    docs       binary    varbyte(delta(doc_id)) — delta restarts at every
                         128-posting block boundary
    tfs        binary    varbyte(tf)
    scores     binary    float64 LE array — precomputed BM25 per-posting
                         impact: idf(df) * tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)).
                         k1/b/df/avgdl are build-time constants of a static
                         index, so the full per-(term,doc) score is known at
                         build time (impact-ordered index technique).
    positions  binary    (positions index only) varbyte(delta(position)),
                         delta restarting at every posting (first value
                         absolute); posting i holds tf_i values.

The query side decodes whole rows once into flat per-term arrays
(:func:`decode_table`) and computes each term's block maxima for
MaxScore/block-max pruning there, so no skip pointers are stored. Roots
written before this layout also carry five per-block skip-pointer and
block-max columns; readers project the columns above and ignore them.

Reference counterpart: text postings `word \\t (docid weight)*` sorted by
docid (/root/reference/Make_Page/MakePage.cpp:196-215, ReadPage.h:55 —
std::set ordering). The *weight-precomputed-at-build* idea is the
reference's own (it stores tf-idf weights, not tfs); we store exact-float64
BM25 impacts plus tfs.

Skew: the doc-range `part` key IS the salt — a hot term ('int', 'return')
with postings in every doc is split into one bounded group per part
(<= docs_per_part postings each), so no groupBy task ever sees more than
one part of one term. No separate salting pass is needed, and parts are
doc-disjoint so query-side per-part top-k merges exactly.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.codec import varbyte_decode, varbyte_encode_raw
from ..plans.bm25_dataframe import B, K1

BLOCK = 128

POSTINGS_SCHEMA = "term_id long, part int, n long, docs binary, tfs binary, scores binary"
POSTINGS_POS_SCHEMA = POSTINGS_SCHEMA + ", positions binary"

_BINARY_MAX = np.iinfo(np.int32).max


def _restart_deltas(values: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """uint64 deltas of int64 ``values`` that restart (first value absolute)
    at each index of ``starts``: the inverse of :func:`_restart_cumsum`."""
    deltas = np.diff(values, prepend=0)
    deltas[starts] = values[starts]
    return deltas.astype(np.uint64)


def _binary(name: str, data: np.ndarray, offsets: np.ndarray) -> pa.Array:
    """A binary column whose row i is ``data[offsets[i]:offsets[i + 1]]``,
    built over the whole-part buffer (no per-row copy). Raises when the
    part's column would pass binary's 32-bit offsets."""
    if offsets[-1] > _BINARY_MAX:
        raise ValueError(
            f"postings column {name!r} of one part holds {int(offsets[-1])} bytes, "
            f"past the {_BINARY_MAX} a binary column addresses: lower docs_per_part"
        )
    return pa.Array.from_buffers(
        pa.binary(), offsets.size - 1,
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)],
    )


def _encode_part(table: pa.Table, n_docs: float, avgdl: float) -> pa.Table:
    """Encode every term's postings for ONE doc-range part, in whole-part
    numpy passes: one lexsort, one varbyte call per column, and each binary
    column built from the part's byte buffer and its per-term offsets.

    Doc length and the BM25 impact are computed HERE, part-locally:
    ``part = doc_id // docs_per_part``, so this part holds every
    dictionary-term row of its docs and dl is a groupby over the part's own
    rows — no doc_id-keyed dl join (a full extra shuffle of the widest
    table in the DAG) ever happens. n_docs/avgdl arrive as two closed-over
    scalars."""
    tid_raw = table.column("term_id").to_numpy().astype(np.int64)
    did_raw = table.column("doc_id").to_numpy().astype(np.int64)
    tf_raw = table.column("tf").to_numpy().astype(np.int64)
    dfv = table.column("df").to_numpy().astype(np.float64)
    # part-local doc lengths over the dict-filtered token stream
    _, inv = np.unique(did_raw, return_inverse=True)
    dlv = np.bincount(inv, weights=tf_raw)[inv]
    idf = np.log((n_docs - dfv + 0.5) / (dfv + 0.5) + 1.0)
    sc_raw = idf * tf_raw * (K1 + 1.0) / (tf_raw + K1 * (1.0 - B + B * dlv / avgdl))

    order = np.lexsort((did_raw, tid_raw))
    tid, did, tfv, sc = tid_raw[order], did_raw[order], tf_raw[order], sc_raw[order]
    # term groups: postings goff[g]:goff[g + 1] hold term tid[goff[g]]
    gstart = np.flatnonzero(np.diff(tid, prepend=-1) != 0)
    goff = np.append(gstart, tid.size)
    local = np.arange(tid.size) - np.repeat(gstart, np.diff(goff))

    block_start = np.flatnonzero(local % BLOCK == 0)
    doc_bytes, doc_lens = varbyte_encode_raw(_restart_deltas(did, block_start))
    tf_bytes, tf_lens = varbyte_encode_raw(tfv)
    cols = {
        "term_id": pa.array(tid[gstart]),
        "part": pa.array(np.full(gstart.size, table.column("part")[0].as_py(), np.int32)),
        "n": pa.array(np.diff(goff)),
        "docs": _binary("docs", doc_bytes, np.append(0, np.cumsum(doc_lens))[goff]),
        "tfs": _binary("tfs", tf_bytes, np.append(0, np.cumsum(tf_lens))[goff]),
        "scores": _binary("scores", sc.view(np.uint8), goff * 8),
    }
    if "positions" in table.column_names:
        flat = pc.list_flatten(table.column("positions").take(order)).to_numpy()
        # posting i holds tf_i positions, starting at pstart[i]
        pstart = np.append(0, np.cumsum(tfv))
        pos_bytes, pos_lens = varbyte_encode_raw(
            _restart_deltas(flat.astype(np.int64), pstart[:-1])
        )
        cols["positions"] = _binary(
            "positions", pos_bytes, np.append(0, np.cumsum(pos_lens))[pstart[goff]]
        )
    return pa.table(cols)


def build_postings(
    tf: DataFrame,
    dl: DataFrame,
    term_dict: DataFrame,
    stats: DataFrame,
    docs_per_part: int = 1 << 16,
) -> DataFrame:
    """postings(term_id, part, ...) from the stats tables.

    ONE shuffle total: tf rows pick up (term_id, df) from the term_dict
    join (broadcast below the threshold, term-keyed shuffle join above it),
    then hash-exchange once on ``part`` into the Arrow encoder
    (groupBy('part').applyInArrow, one call per part). Doc length and the
    per-posting BM25 impact are computed inside the encoder (part-local,
    see :func:`_encode_part`) — the previous design's doc_id-keyed dl join
    re-shuffled the entire tf table a second time, which measured as the
    non-scaling stage of the build. n_docs/avgdl are two scalars collected
    once from ``stats`` and closed over.

    ``dl`` is accepted for signature stability but never joined.

    Output rows are naturally sorted by term_id within each part (lexsort
    in the encoder), which gives parquet min/max row-group pruning on
    term_id probes.
    """
    from ..deploy import ship_package

    ship_package(tf.sparkSession)
    row = stats.first()
    n_docs, avgdl = float(row["n_docs"]), float(row["avgdl"])
    extra = ["positions"] if "positions" in tf.columns else []
    sp = (
        tf.join(term_dict.select("term", "term_id", "df"), "term")
        .select("term_id", "doc_id", "tf", "df", *extra)
        .withColumn("part", (F.col("doc_id") / F.lit(docs_per_part)).cast("int"))
    )
    schema = POSTINGS_POS_SCHEMA if extra else POSTINGS_SCHEMA
    return sp.groupBy("part").applyInArrow(
        lambda table: _encode_part(table, n_docs, avgdl), schema=schema
    )


# ------------------------------------------------------------------- decode


def decode_doc_ids(docs: bytes, n: int) -> np.ndarray:
    """Full decode of one row's doc ids (block-local deltas -> absolute)."""
    v = varbyte_decode(docs)
    cs = np.cumsum(v, dtype=np.uint64)
    starts = np.arange(0, n, BLOCK)
    # base[b] = prefix sum before block start (so cs - base == within-block cumsum)
    base = cs[starts] - v[starts]
    out = cs - np.repeat(base, np.minimum(BLOCK, n - starts))
    return out.astype(np.int64)


def decode_scores(scores: bytes) -> np.ndarray:
    return np.frombuffer(scores, dtype="<f8")


def decode_tfs(tfs: bytes) -> np.ndarray:
    return varbyte_decode(tfs).astype(np.int64)


def decode_positions_flat(
    positions: bytes, tfs: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode a row's positions blob -> (flat, starts, counts).

    Posting i's sorted absolute positions are ``flat[starts[i] :
    starts[i] + counts[i]]`` (delta-encoded, first value absolute; split
    points fall at cumsum(tfs), no per-posting offsets are stored). The
    flat layout lets callers gather many postings' positions with one
    vectorized fancy-index instead of per-posting Python slicing.
    """
    flat = varbyte_decode(positions)
    counts = np.asarray(tfs, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    cs = np.cumsum(flat, dtype=np.uint64)
    base = np.zeros(len(counts), dtype=np.uint64)
    nz = counts > 0
    base[nz] = cs[starts[nz]] - flat[starts[nz]]
    out_flat = (cs - np.repeat(base, counts)).astype(np.int64)
    return out_flat, starts, counts


def decode_positions(positions: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """Per-posting view of :func:`decode_positions_flat` (tests/debugging)."""
    flat, starts, counts = decode_positions_flat(positions, tfs)
    return [flat[s : s + c] for s, c in zip(starts, counts)]


# ------------------------------------------------------ decoded, flat per term


class TermPostings(NamedTuple):
    """One term's decoded postings: views into a :class:`DecodedPostings`.

    ``doc_ids`` ascending int64 with their float64 ``scores`` and int64
    ``tfs``; ``block_last``/``block_max`` per 128-posting block of this
    flat list; posting i's positions are ``positions[pos_off[i] :
    pos_off[i + 1]]`` (both None without a positions column)."""

    term_id: int
    doc_ids: np.ndarray
    scores: np.ndarray
    tfs: np.ndarray
    block_last: np.ndarray
    block_max: np.ndarray
    pos_off: np.ndarray | None
    positions: np.ndarray | None


class DecodedPostings(NamedTuple):
    """A postings table decoded once, flat per term (CSR layout).

    Term ``term_ids[i]`` owns postings ``term_off[i]:term_off[i + 1]`` of
    the shared posting arrays (``doc_ids``, ``scores``, ``tfs``,
    ``pos_off``) and blocks ``block_off[i]:block_off[i + 1]`` of
    ``block_last``/``block_max``. A term's rows of several parts are
    concatenated in part order; parts are ascending doc-disjoint ranges,
    so its doc ids stay sorted. ``pos_off`` has one more entry than there
    are postings and indexes the absolute ``positions``."""

    term_ids: np.ndarray
    term_off: np.ndarray
    doc_ids: np.ndarray
    scores: np.ndarray
    tfs: np.ndarray
    block_off: np.ndarray
    block_last: np.ndarray
    block_max: np.ndarray
    pos_off: np.ndarray | None
    positions: np.ndarray | None

    def term(self, term_id: int) -> TermPostings | None:
        """The decoded postings of ``term_id``, or None when it has none."""
        i = int(np.searchsorted(self.term_ids, term_id))
        if i == self.term_ids.size or self.term_ids[i] != term_id:
            return None
        lo, hi = self.term_off[i], self.term_off[i + 1]
        b0, b1 = self.block_off[i], self.block_off[i + 1]
        return TermPostings(
            int(term_id), self.doc_ids[lo:hi], self.scores[lo:hi], self.tfs[lo:hi],
            self.block_last[b0:b1], self.block_max[b0:b1],
            None if self.pos_off is None else self.pos_off[lo : hi + 1],
            self.positions,
        )

    @property
    def nbytes(self) -> int:
        """Bytes held by the decoded arrays."""
        return sum(a.nbytes for a in self if a is not None)


def _binary_values(col: pa.ChunkedArray) -> np.ndarray:
    """The bytes of every row of a binary column, concatenated in row order
    (a view of the column's data buffer, no per-row copy)."""
    arr = col.combine_chunks()
    _, offsets, data = arr.buffers()
    if len(arr) == 0 or data is None:
        return np.empty(0, dtype=np.uint8)
    width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offs = np.frombuffer(offsets, dtype=width)[arr.offset : arr.offset + len(arr) + 1]
    return np.frombuffer(data, dtype=np.uint8)[offs[0] : offs[-1]]


def _restart_cumsum(deltas: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Absolute int64 values from a delta stream that restarts (first value
    absolute) at each index of ascending ``starts``, which begins at 0."""
    cs = np.cumsum(deltas, dtype=np.uint64)
    seg_len = np.diff(np.append(starts, deltas.size))
    base = cs[starts] - deltas[starts]
    return (cs - np.repeat(base, seg_len)).astype(np.int64)


def decode_table(table: pa.Table) -> DecodedPostings:
    """Decode a postings Arrow table (any subset of the stored rows, with at
    least term_id, part, n, docs, tfs and scores) into one flat form per
    term, in whole-column numpy passes: the rows are sorted by (term_id,
    part), then each binary column is varbyte-decoded in one pass, doc-id
    deltas restarting at every 128-posting block of a row and position
    deltas at every posting. Block maxima and last doc ids are recomputed
    over each term's flat list, so they cover its rows of every part.

    Decoded, a posting holds 32 B (doc id, score, tf and position offset)
    and a position 8 B."""
    order = pc.sort_indices(table, [("term_id", "ascending"), ("part", "ascending")])
    table = table.take(order)
    row_tid = table.column("term_id").to_numpy().astype(np.int64)
    row_n = table.column("n").to_numpy().astype(np.int64)
    row_off = np.concatenate(([0], np.cumsum(row_n)))
    total = int(row_off[-1])

    def block_starts(group_off: np.ndarray) -> np.ndarray:
        local = np.arange(total) - np.repeat(group_off[:-1], np.diff(group_off))
        return np.flatnonzero(local % BLOCK == 0)

    doc_ids = _restart_cumsum(
        varbyte_decode(_binary_values(table.column("docs"))), block_starts(row_off)
    )
    scores = _binary_values(table.column("scores")).view("<f8").copy()
    tfs = varbyte_decode(_binary_values(table.column("tfs"))).astype(np.int64)

    first_row = np.flatnonzero(np.diff(row_tid, prepend=-1) != 0)
    term_ids = row_tid[first_row]
    term_off = np.append(row_off[first_row], total)
    bstart = block_starts(term_off)
    block_last = doc_ids[np.append(bstart[1:], total)[: bstart.size] - 1]
    block_max = np.maximum.reduceat(scores, bstart) if total else np.empty(0)
    block_off = np.searchsorted(bstart, term_off)

    pos_off = positions = None
    if "positions" in table.column_names:
        pos_off = np.concatenate(([0], np.cumsum(tfs)))
        positions = _restart_cumsum(
            varbyte_decode(_binary_values(table.column("positions"))),
            pos_off[:-1][tfs > 0],
        )
    return DecodedPostings(
        term_ids, term_off, doc_ids, scores, tfs,
        block_off, block_last, block_max, pos_off, positions,
    )
