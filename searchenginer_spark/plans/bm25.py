"""BM25 top-k retrieval over the compressed block-max inverted index.

Query lifecycle (Spark shape of the reference's
srpc/PageSearch/server.pb_skeleton.cc:154-250 pipeline):

  1. tokenize query driver-side (tiny; cut_weight.cpp analog)
  2. term lookup against term_dict (broadcast-size probe)
  3. postings probe: ``postings.filter(term_id IN qids)`` — parquet
     min/max row-group pruning does the index seek (rows are written
     sorted by term_id within part files)
  4. per-part scoring in ONE Arrow call per part (groupBy('part')
     .applyInArrow, Bm25CompressedIndex._scored): the call decodes its
     part's rows once into flat per-term arrays (operators/postings.py
     decode_table), and every entry point compiles to one query form
     (_compile_spec), so that one call scores EVERY query of the call
     (_score_queries -> the one kernel, _score_part_bool): conjunctive
     sorted intersection, positional matching, or disjunctive MaxScore
     with block-max pruning. Each posting row crosses the Arrow boundary
     and is decoded once per part, however many queries of a batch use it
  5. per-part top-k -> global TakeOrderedAndProject(k) (per query_id
     window for batches)

Parts are doc-disjoint ranges, so per-part top-k then global merge is
exact — this is what lets the scoring stage scale out with zero shared
state (the Spark analog of the reference's single-address-space docids).
A small index skips steps 3-5: its postings stay on the driver decoded
flat per term (Snapshot.resident), and the same kernel scores each query
once over the whole index. A doc's score adds its terms' impacts in
ascending term_id order (_term_sum), so both executors give the same
float whichever doc range scored it.

Pruning:
  - AND: the rarest term's doc ids are the candidates; every other term
    only shrinks them (sorted membership).
  - OR: MaxScore (Turtle & Flood 1995, public algorithm): threshold tau
    seeded from the highest-upper-bound term's own top-k; terms whose
    summed upper bounds stay below tau become non-essential and are only
    probed at existing candidates — documents matching only
    non-essential terms are provably below tau and never scored.
    ESSENTIAL terms additionally prune at block granularity (block-max
    pruning, Ding & Suel 2011): doc-id space is segmented at the union of
    their block boundaries, each segment bounded by the sum of covering
    qtf-weighted block maxes + the non-essential suffix upper, and
    candidates in segments provably below tau are never scored.
"""

from __future__ import annotations

import os
import threading
from functools import cached_property
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import re

from ..functions.tokenize import IDENT_RE
from ..operators.postings import DecodedPostings, TermPostings, decode_table
from ..operators.suggest import CodeGroups, suggest


def _drop_excluded(cand: np.ndarray, neg: list) -> np.ndarray:
    """Remove candidates appearing in any NEGATIVE term's postings.

    Runs BEFORE top-k truncation (exactness: an excluded doc must never
    occupy a top-k slot another doc should get)."""
    for g in neg:
        cand = cand[~_member_sorted(cand, g.doc_ids)]
    return cand


def _term_sum(by_tid: dict, qtf: dict, cand: np.ndarray) -> np.ndarray:
    """Each SORTED candidate's score: the qtf-weighted impacts of the
    query's terms, added in ascending term_id order, one probe per term (a
    term absent from the doc, or from these postings, adds +0.0). One
    canonical order makes a doc's score the same float whichever doc range
    scores it: the whole resident index on the driver, or one part of the
    distributed plan."""
    score = np.zeros(cand.size, dtype=np.float64)
    for t in sorted(qtf):
        g = by_tid.get(t)
        if g is not None:
            score += qtf[t] * _probe_scores(g, cand)
    return score


def _score_part_or(groups: list, qtf: dict, k: int, round_to=None, neg=(), allow=None):
    """Disjunctive MaxScore scoring over one doc range (a part, or the
    whole resident index).

    With ``round_to`` set, the MaxScore threshold tau gets a one-ulp-of-the-
    rounding slack (10^-round_to) so a doc whose unrounded score is below
    tau but whose ROUNDED score ties the kth result is never pruned, and the
    final truncation uses the rounded key (global-merge key).

    ``neg``: decoded postings of excluded (NOT) terms. ``allow``: sorted
    array of permitted doc ids (metadata filter). Either one disables the
    tau seed (a seed drawn from scores of docs that may later be dropped
    could over-prune legitimate results) — plain full-union scoring, then
    the dropped docs leave before truncation. Correctness over pruning.
    """
    uppers = np.array(
        [qtf[g.term_id] * g.block_max.max() for g in groups], dtype=np.float64
    )
    order = np.argsort(-uppers)
    groups = [groups[i] for i in order]
    uppers = uppers[order]

    # tau seed: top-k of the single highest-impact term
    g0 = groups[0]
    s0 = g0.scores * qtf[g0.term_id]
    if s0.size >= k and not neg and allow is None:
        tau = np.partition(s0, s0.size - k)[s0.size - k]
        if round_to is not None:
            tau -= 10.0 ** (-round_to)
    else:
        tau = -np.inf
    # non-essential = maximal suffix with summed uppers strictly below tau
    suffix = np.cumsum(uppers[::-1])[::-1]
    ess_end = len(groups)
    for i in range(len(groups) - 1, 0, -1):
        if suffix[i] < tau:
            ess_end = i
        else:
            break
    non_ess_upper = suffix[ess_end] if ess_end < len(groups) else 0.0

    # candidates: the union of the essential terms' postings; documents
    # matching only non-essential terms are provably below tau. With a
    # finite tau, block-max pruning (Ding & Suel 2011, public algorithm)
    # drops more: doc-id space is segmented at the union of the essential
    # terms' block boundaries (block i of a term covers (block_last[i-1],
    # block_last[i]], so boundaries define the segments exactly); a
    # segment's upper bound is the sum of the covering blocks'
    # qtf-weighted block_max plus the non-essential suffix upper, and a
    # candidate in a segment strictly below tau is never scored. Same
    # tau-slack contract as the seed: with round_to, tau already carries
    # the one-ulp slack.
    ess = groups[:ess_end]
    ids = np.concatenate([g.doc_ids for g in ess])
    if np.isfinite(tau):
        seg_ends = np.unique(np.concatenate([g.block_last for g in ess]))
        seg_upper = np.full(seg_ends.size, non_ess_upper, dtype=np.float64)
        for g in ess:
            idx = np.searchsorted(g.block_last, seg_ends)
            valid = idx < g.block_last.size  # segments past a term's last doc: +0
            seg_upper[valid] += g.block_max[idx[valid]] * qtf[g.term_id]
        seg_alive = seg_upper >= tau
        # every posting doc id <= its term's last block_last <= seg_ends[-1]
        ids = ids[seg_alive[np.searchsorted(seg_ends, ids)]]
    cand = np.unique(ids)
    if allow is not None:
        cand = cand[_member_sorted(cand, allow)]
    if neg:
        cand = _drop_excluded(cand, neg)
    if cand.size == 0:
        return [], []
    score = _term_sum({g.term_id: g for g in groups}, qtf, cand)
    if round_to is not None:
        score = np.round(score, round_to)
    return _topk(cand, score, k)


def _topk(cand: np.ndarray, score: np.ndarray, k: int):
    """Deterministic top-k: (score desc, doc_id asc) — the global merge's
    exact sort key. Unlike a bare argpartition cut, ties AT the kth score
    keep the lowest doc ids (argpartition picks an arbitrary tie subset,
    which can disagree with the SQL oracle's ORDER BY ... , doc_id
    whenever the boundary lands inside a tie group). Cost: one partition
    pass + a lexsort over only the >= kth-score survivors (k + ties)."""
    if cand.size > k:
        kth = np.partition(score, cand.size - k)[cand.size - k]
        mask = score >= kth
        cand, score = cand[mask], score[mask]
        order = np.lexsort((cand, -score))[:k]
    else:
        order = np.lexsort((cand, -score))
    return cand[order].tolist(), score[order].tolist()


def _member_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Boolean mask: which values of ``a`` occur in SORTED array ``b``."""
    if b.size == 0:
        return np.zeros(a.size, dtype=bool)
    loc = np.minimum(np.searchsorted(b, a), b.size - 1)
    return b[loc] == a


def _gather_runs(
    flat: np.ndarray, starts: np.ndarray, counts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate flat[starts[r] : starts[r]+counts[r]] for every r.

    Returns (values, owner) where owner[i] is the run ``values[i]`` came
    from. One fancy-index over all runs — no per-run loop.
    """
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=flat.dtype), np.empty(0, dtype=np.int64)
    ends = np.cumsum(counts)
    owner = np.repeat(np.arange(counts.size, dtype=np.int64), counts)
    within = np.arange(total, dtype=np.int64) - np.repeat(ends - counts, counts)
    return flat[starts[owner] + within], owner


def _probe_scores(g: TermPostings, cand: np.ndarray) -> np.ndarray:
    """Impact scores of term postings ``g`` at SORTED candidate doc ids
    (0.0 where the doc is absent): one searchsorted over its doc ids."""
    out = np.zeros(cand.size, dtype=np.float64)
    ids = g.doc_ids
    if ids.size == 0:
        return out
    loc = np.minimum(np.searchsorted(ids, cand), ids.size - 1)
    member = ids[loc] == cand
    out[member] = g.scores[loc[member]]
    return out


def _phrase_match(by_tid: dict, slots: list[int]):
    """Exact-phrase matching: conjunctive intersection, then positional
    adjacency verification (slot i's term must appear at position p+i for
    some p). The postings must carry positions.

    Fully vectorized across ALL candidate docs at once (no per-candidate
    Python loop — SURVEY §7.4.3): each slot's positions become composite
    keys (candidate_row << 32) | (pos - slot + offset); a phrase start
    survives iff its key appears in every slot's sorted key array, so the
    adjacency check is len(slots)-1 sorted-membership passes over flat
    arrays. A hot phrase with thousands of candidates costs the same numpy
    passes as a rare one.

    Returns the sorted surviving doc ids (empty when nothing matches)."""
    empty = np.empty(0, dtype=np.int64)
    if any(t not in by_tid for t in slots):
        return empty
    distinct = sorted(dict.fromkeys(slots), key=lambda t: by_tid[t].doc_ids.size)
    cand, pos_data = _candidate_positions(by_tid, distinct)
    if cand.size == 0:
        return empty
    # keys are strictly increasing per slot: owner asc, positions asc within
    offset = len(slots)  # keeps pos - slot_i strictly positive
    keys = None
    for i, t in enumerate(slots):
        vals, owner = _gather_runs(*pos_data[t])
        keys_i = (owner << 32) | (vals - i + offset)
        keys = keys_i if keys is None else keys[_member_sorted(keys, keys_i)]
        if keys.size == 0:
            return empty
    return cand[np.unique(keys >> 32)]  # candidate rows with >=1 phrase start


def _candidate_positions(by_tid: dict, distinct: list[int]):
    """Shared prologue of the positional matchers (phrase, NEAR):
    conjunctive intersection over ``distinct`` term_ids (assumed
    rarest-first), then each term's positions located for the surviving
    candidates only.

    Returns (cand, pos_data) where pos_data[t] = (positions, starts,
    counts): candidate i's positions of term t are ``positions[starts[i] :
    starts[i] + counts[i]]``. cand is empty when the intersection is."""
    empty = np.empty(0, dtype=np.int64)
    cand = by_tid[distinct[0]].doc_ids
    for t in distinct[1:]:
        if cand.size == 0:
            return empty, {}
        cand = cand[_member_sorted(cand, by_tid[t].doc_ids)]
    if cand.size == 0:
        return empty, {}
    pos_data = {}
    for t in distinct:
        g = by_tid[t]
        at = np.searchsorted(g.doc_ids, cand)  # every candidate is a posting of t
        starts = g.pos_off[at]
        pos_data[t] = (g.positions, starts, g.pos_off[at + 1] - starts)
    return cand, pos_data


def _near_match(by_tid: dict, terms: list[int], window: int, ordered: bool = False):
    """Proximity matching (window in token positions).

    Unordered (default): a candidate survives iff one position per
    distinct term can be chosen with max - min <= window. Anchor
    formulation: the chosen minimum is some term's position p, so a
    candidate matches iff SOME position p (of any query term) has every
    term present in [p, p + window]. Each term contributes ONE sorted
    range-membership pass (two searchsorteds) over composite
    (owner << 32 | pos) keys.

    Ordered: positions p_1 < p_2 < ... < p_k following ``terms``' order
    with p_k - p_1 <= window. Greedy chain: anchor on term_1's positions,
    then for each next term take its SMALLEST position after the current
    one (one searchsorted per term) — greedy minimizes p_k for every
    anchor, so the span test is exact.

    Both are fully vectorized across all candidates (no per-candidate
    Python loop), with the same candidate prologue as _phrase_match
    (_candidate_positions). Returns the sorted surviving doc ids."""
    empty = np.empty(0, dtype=np.int64)
    if any(t not in by_tid for t in terms):
        return empty
    distinct = sorted(dict.fromkeys(terms), key=lambda t: by_tid[t].doc_ids.size)
    cand, pos_data = _candidate_positions(by_tid, distinct)
    if cand.size == 0:
        return empty
    keys_t = {}
    for t in distinct:
        vals, owner = _gather_runs(*pos_data[t])
        keys_t[t] = (owner << 32) | vals  # sorted: owner asc, pos asc within
    if ordered:
        anchors = keys_t[terms[0]]
        cur = anchors.copy()
        alive = np.ones(anchors.size, dtype=bool)
        for t in terms[1:]:
            kt = keys_t[t]
            nxt = np.searchsorted(kt, cur, side="right")
            ok = alive & (nxt < kt.size)
            nkey = kt[np.minimum(nxt, kt.size - 1)]
            ok &= (nkey >> 32) == (cur >> 32)  # same candidate doc
            cur = np.where(ok, nkey, cur)
            alive = ok
        alive &= (cur - anchors) <= window  # same owner -> key diff == span
        surv = np.unique(anchors[alive] >> 32)
    else:
        anchors = np.concatenate(list(keys_t.values()))
        ok = np.ones(anchors.size, dtype=bool)
        for t in distinct:
            lo = np.searchsorted(keys_t[t], anchors, side="left")
            hi = np.searchsorted(keys_t[t], anchors + window, side="right")
            ok &= lo < hi  # term t has a position in [p, p+window] here
        surv = np.unique(anchors[ok] >> 32)
    return cand[surv]


def _score_part_bool(
    groups: list,
    must: list[int],
    should: list[int],
    qtf: dict,
    k: int,
    phrases: tuple = (),
    round_to=None,
    neg=(),
    allow=None,
    nears: tuple = (),
):
    """THE kernel every query runs (via _score_queries), over the decoded
    postings (TermPostings) of one doc range — one part of the distributed
    plan, or the whole resident index on the driver:

      must     conjunctive term_ids — every one must match: rarest-first
               sorted intersection
      phrases  tuples of slot term_ids — each must match exactly (adjacent,
               in order); survivors tighten the allow set
      nears    (term_ids tuple, window, ordered) triples — each must match
               within the window (see _near_match); survivors tighten the
               allow set
      should   additive term_ids — contributing score where present
      neg      decoded postings of excluded terms (dropped pre-truncation)
      allow    sorted permitted doc ids (metadata facet), or None

    Score = sum over every distinct positive atom present, each weighted
    by qtf, added in ascending term_id order (_term_sum) — no contribution
    is ever counted twice when a term plays several roles. With
    ``round_to`` set, top-k truncation happens on the ROUNDED score
    (doc_id tie-break) — the same key the global merge sorts by.

    Candidate generation: must-intersection if any must terms; else the
    positional survivor set; else a pure disjunction (delegated to
    _score_part_or, MaxScore pruning intact)."""
    by_tid = {g.term_id: g for g in groups}
    if any(t not in by_tid for t in must):
        return [], []
    positional = [(slots, None, False) for slots in phrases] + list(nears)
    for slots, w, ordered in positional:
        if w is None:
            surv = _phrase_match(by_tid, list(slots))
        else:
            surv = _near_match(by_tid, list(slots), w, ordered)
        if surv.size == 0:
            return [], []
        allow = surv if allow is None else allow[_member_sorted(allow, surv)]
        if allow.size == 0:
            return [], []

    if must:
        # rarest first: every later term only shrinks the candidates
        order = sorted(must, key=lambda t: by_tid[t].doc_ids.size)
        cand = by_tid[order[0]].doc_ids
        if allow is not None:
            cand = cand[_member_sorted(cand, allow)]
        for t in order[1:]:
            cand = cand[_member_sorted(cand, by_tid[t].doc_ids)]
    elif positional:
        cand = allow  # ⊆ positional survivors: every candidate matched them
    else:
        sh = [by_tid[t] for t in should if t in by_tid]
        if not sh:
            return [], []
        return _score_part_or(sh, qtf, k, round_to, neg, allow)
    if neg:
        cand = _drop_excluded(cand, neg)
    if cand.size == 0:
        return [], []
    score = _term_sum(by_tid, qtf, cand)
    if round_to is not None:
        score = np.round(score, round_to)
    return _topk(cand, score, k)


def _score_queries(
    index: DecodedPostings, comps: dict, k: int, round_to=None, allow_by_q=None
):
    """THE scorer of both executors (the driver path over the whole
    resident index, and the distributed plan's Arrow call over one part):
    score every compiled query (_compile_spec) of the call over the
    decoded postings of its own term ids — its excluded terms' postings
    become ``neg``. ``allow_by_q``: {query_id: sorted allowed doc ids} for
    faceted queries (an empty array = nothing allowed here); other queries
    are unfiltered. Returns (query_ids, doc_ids, scores), each query's
    hits in its top-k order."""
    out_q, out_d, out_s = [], [], []
    for qid, c in comps.items():
        pos = [g for g in map(index.term, c["qtf"]) if g is not None]
        if not pos:
            continue
        neg = [g for g in map(index.term, c["exc"]) if g is not None]
        allow = None if allow_by_q is None else allow_by_q.get(qid)
        d, s = _score_part_bool(
            pos, c["must"], c["should"], c["qtf"], k, c["slots"],
            round_to, neg, allow, c["nears"],
        )
        out_q += [qid] * len(d)
        out_d += d
        out_s += s
    return out_q, out_d, out_s


_REGEX_META = set(".^$*+?{}[]|()\\")


def _regex_literal_prefix(pattern: str) -> str:
    """Longest literal prefix of a regex (chars before the first
    metacharacter). A quantifier (* ? {) modifies its PRECEDING char, so
    that char is dropped from the literal run — 'abc*' has prefix 'ab'.

    NOT alternation-safe on its own: 'cat|dog' would yield 'cat', which
    is a prefix of only the first branch — callers must split top-level
    alternations first (:func:`_split_top_level_alternation`) and take
    each branch's prefix separately."""
    out: list[str] = []
    for ch in pattern:
        if ch in _REGEX_META:
            if ch in "*?{" and out:
                out.pop()
            break
        out.append(ch)
    return "".join(out)


def _split_top_level_alternation(pattern: str) -> list[str]:
    """Branches of a top-level alternation — '|' at paren depth 0, outside
    any character class, not backslash-escaped. ``[pattern]`` itself when
    there is none. 'cat|dog' -> ['cat', 'dog']; 'ca(t|d)' -> ['ca(t|d)']
    (the group-internal '|' is the group's business, 'ca' is still a
    mandatory prefix of the whole pattern)."""
    parts: list[str] = []
    buf: list[str] = []
    depth = 0
    in_class = False
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\" and i + 1 < len(pattern):
            buf.append(pattern[i : i + 2])
            i += 2
            continue
        if in_class:
            if ch == "]":
                in_class = False
        elif ch == "[":
            in_class = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth = max(0, depth - 1)
        elif ch == "|" and depth == 0:
            parts.append("".join(buf))
            buf = []
            i += 1
            continue
        buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return parts


def _is_number(s: str) -> bool:
    try:
        float(s)
        return True
    except ValueError:
        return False


def _facet_num(b: str):
    """Parsed numeric bound as int when integral (so the literal's type
    matches integer columns and the comparison pushes down to parquet
    without a cast), else float."""
    f = float(b)
    return int(f) if f.is_integer() else f


def apply_facets(docs: DataFrame, facets: list[tuple[str, tuple]]) -> DataFrame:
    """Filter ``docs`` by parsed facet constraints (functions/queryparse):
    ("eq", v) equality, ("in", [vs]) any-of, ("range", lo, hi) inclusive
    bounds with "*" unbounded. Constraints are conjunctive — repeated
    fields must ALL hold.

    Comparison typing: a NUMERIC column with numeric values/bounds is
    compared natively (no cast — the predicate reaches the parquet scan's
    PushedFilters; a cast on the column side would block pushdown and
    force a full-column scan at 100 TB). Otherwise values compare on the
    string form (eq/in) or lexicographically (range); [* TO *] = field is
    non-null."""
    from pyspark.sql.types import NumericType

    for col, con in facets:
        c = F.col(col)
        numeric_col = col in docs.columns and isinstance(
            docs.schema[col].dataType, NumericType
        )
        kind = con[0]
        if kind == "eq":
            if numeric_col and _is_number(con[1]):
                docs = docs.filter(c == _facet_num(con[1]))
            else:
                docs = docs.filter(c.cast("string") == con[1])
        elif kind == "in":
            vals = list(con[1])
            if numeric_col and all(_is_number(v) for v in vals):
                docs = docs.filter(c.isin([_facet_num(v) for v in vals]))
            else:
                docs = docs.filter(c.cast("string").isin(vals))
        else:
            lo, hi = con[1], con[2]
            given = [b for b in (lo, hi) if b != "*"]
            if not given:
                docs = docs.filter(c.isNotNull())
                continue
            if all(_is_number(b) for b in given):
                # try_cast, not cast: under Spark 4 ANSI mode a plain cast
                # hard-fails the whole query on the first non-numeric row
                # of a string column — a range facet must FILTER such rows
                v = c if numeric_col else c.try_cast("double")
                if lo != "*":
                    docs = docs.filter(v >= _facet_num(lo))
                if hi != "*":
                    docs = docs.filter(v <= _facet_num(hi))
            else:
                v = c.cast("string")
                if lo != "*":
                    docs = docs.filter(v >= lo)
                if hi != "*":
                    docs = docs.filter(v <= hi)
    return docs


def _tk(must=(), should=(), phrases=(), nears=(), exc=(), boosts=(),
        prefixes=(), fuzzies=(), regexps=()) -> dict:
    """The tokenized query form _compile_spec resolves — every entry point
    builds one. ``positive`` lists every positive token occurrence (qtf
    counts them), ``all`` is the raw-token union the dictionary probe must
    cover; nears are (tokens, window, ordered) triples; prefixes, fuzzy
    (word, dist) pairs and regexps are expanded against the dictionary."""
    positive = [
        *must, *should, *(t for p in phrases for t in p),
        *(t for p, _w, _o in nears for t in p),
    ]
    return {
        "must": list(must), "should": list(should), "phrases": list(phrases),
        "nears": list(nears), "exc": list(exc), "positive": positive,
        "boosts": list(boosts), "prefixes": list(prefixes),
        "fuzzies": list(fuzzies), "regexps": list(regexps),
        "all": set(positive) | set(exc),
    }


def _plain_tokens(query: str, mode: str, pattern: str, exclude=None) -> dict:
    """The plain-terms form (search, score_all, search_filtered,
    search_batch): every term is MUST in mode='and' and SHOULD otherwise,
    each ``exclude`` term (lowercased, not tokenized) is NOT unless the
    query holds it."""
    toks = re.findall(pattern, query.lower())
    exc = sorted({t.lower() for t in exclude or ()} - set(toks))
    return _tk(must=toks, exc=exc) if mode == "and" else _tk(should=toks, exc=exc)


def _spec_tokens(spec, mode: str, pattern: str) -> dict:
    """Tokenize a parsed QuerySpec's clauses under the index's term pattern.
    Folds mode in: bare terms become MUST in mode='and'."""
    def toks(words: list[str]) -> list[str]:
        out: list[str] = []
        for w in words:
            out.extend(re.findall(pattern, w.lower()))
        return out

    return _tk(
        must=toks(spec.must) + (toks(spec.should) if mode == "and" else []),
        should=toks(spec.should) if mode != "and" else [],
        phrases=[p for p in (re.findall(pattern, s.lower()) for s in spec.phrases) if p],
        nears=[
            (p, w, False)  # the grammar's "..."~W is unordered
            for p, w in ((re.findall(pattern, s.lower()), w) for s, w in spec.nears)
            if p
        ],
        exc=sorted(set(toks(spec.exclude))),
        # term^B occurrences: tokenized word + its boost (qtf adjustment)
        boosts=[(toks([w]), b) for w, b in spec.boosts],
        prefixes=spec.prefixes, fuzzies=spec.fuzzies, regexps=spec.regexps,
    )


def _compile_spec(
    tk: dict, tid: dict, expand_prefix=None, expand_fuzzy=None, expand_regexp=None
) -> dict | None:
    """Resolve a tokenized query (_tk) to scorer inputs for
    _score_part_bool. ``tid`` must cover every token in tk['all'] that
    exists in the dictionary; ``expand_prefix(prefix)`` -> df-ranked
    term_ids; ``expand_fuzzy(word, dist)`` -> distance-then-df-ranked
    term_ids for ``term~D`` clauses; ``expand_regexp(pattern)`` ->
    df-ranked term_ids fully matching a ``/pattern/`` clause. Every
    expansion is SHOULD with qtf=1.

    Returns None when a required atom (must / phrase / near term) is
    missing from the dictionary or nothing is scorable. Expansion
    collisions with explicit or excluded atoms are skipped — explicit
    wins; qtf is each atom's occurrence count across the whole query."""
    from collections import Counter

    if (
        any(t not in tid for t in tk["must"])
        or any(t not in tid for p in tk["phrases"] for t in p)
        or any(t not in tid for p, _w, _o in tk["nears"] for t in p)
    ):
        return None
    qtf = {tid[t]: float(c) for t, c in Counter(tk["positive"]).items() if t in tid}
    # term^B: every boosted occurrence already counted 1 above; adjust by
    # B-1 so that occurrence contributes exactly B (per-occurrence weights
    # accumulate — `data data^2` totals qtf 3)
    for btoks, b in tk["boosts"]:
        for t in btoks:
            if t in tid:
                qtf[tid[t]] += b - 1.0
    must_ids = list(dict.fromkeys(tid[t] for t in tk["must"]))
    should_ids = [
        tid[t]
        for t in dict.fromkeys(tk["should"])
        if t in tid and tid[t] not in set(must_ids)
    ]
    slots = tuple(tuple(tid[t] for t in p) for p in tk["phrases"])
    near_ids = tuple((tuple(tid[t] for t in p), w, o) for p, w, o in tk["nears"])
    exc_ids = {tid[t] for t in tk["exc"] if t in tid} - set(qtf)
    expansions = (
        [t for p in tk["prefixes"] for t in expand_prefix(p)]
        + [t for w, d in tk["fuzzies"] for t in expand_fuzzy(w, d)]
        + [t for p in tk["regexps"] for t in expand_regexp(p)]
    )
    for t in expansions:
        if t not in qtf and t not in exc_ids:
            qtf[t] = 1.0
            should_ids.append(t)
    if not qtf:
        return None
    return {
        "qtf": qtf,
        "must": must_ids,
        "should": should_ids,
        "slots": slots,
        "nears": near_ids,
        "exc": exc_ids,
    }


def _dict_version_marker(spark: SparkSession, root: str):
    """(FileSystem, Path, local path) of the index's ``dict_version``
    marker: resolved once per handle, since the class lookups and
    ``getFileSystem`` are most of a version read's py4j round trips. The
    local path is the marker's path on this host when the root resolves
    to Hadoop's local filesystem, else None."""
    from .build_index import hadoop_path

    fs, p = hadoop_path(spark, f"{root}/dict_version")
    local = fs.makeQualified(p).toUri().getPath() if fs.getScheme() == "file" else None
    return fs, p, local


def read_dict_version(spark: SparkSession, root: str, marker=None):
    """Content of the index's ``dict_version`` marker file (the uuid the
    writer stamped), or None when it does not exist (pre-versioning
    roots). The CONTENT is the version: bump_dict_version always writes a
    constant-length uuid, so an (mtime, len) stamp would miss two bumps
    inside the filesystem's mtime granularity (1 s on some local/NFS
    mounts) and serve a stale snapshot. One small read — microseconds
    on a local/HDFS namenode, a GET on an object store (where a handle
    held across folds should batch queries anyway). With ``marker``
    (:func:`_dict_version_marker`) a marker on the local filesystem is
    read by this process with no py4j call at all; any other is three
    py4j calls: open, readAllBytes, close (~0.6 ms alone). A serving
    thread's first py4j call also opens its own JVM connection (pinned
    thread mode), so the local read keeps the per-request path of the
    HTTP gateway, whose handler threads are new per request, off the JVM
    entirely."""
    from py4j.protocol import Py4JJavaError

    fs, p, local = marker or _dict_version_marker(spark, root)
    if local is not None:
        # os-level calls: each syscall of a read under the GIL is a chance
        # for another thread to take it, and open() makes twice as many
        try:
            fd = os.open(local, os.O_RDONLY)
        except FileNotFoundError:
            return None
        try:
            chunks = [os.read(fd, 4096)]
            while len(chunks[-1]) == 4096:
                chunks.append(os.read(fd, 4096))
        finally:
            os.close(fd)
        return next(iter(b"".join(chunks).decode("utf-8").splitlines()), "")
    try:
        stream = fs.open(p)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() == "java.io.FileNotFoundException":
            return None
        raise
    try:
        data = bytes(stream.readAllBytes())
    finally:
        stream.close()
    return next(iter(data.decode("utf-8").splitlines()), "")


def bump_dict_version(spark: SparkSession, root: str) -> None:
    """Overwrite the ``dict_version`` marker — called by every writer that
    changes term_dict/postings under an existing root (build_index resume,
    the incremental fold) so long-lived Bm25CompressedIndex handles swap in
    a new Snapshot of the tables instead of serving stale lookups."""
    import uuid as _uuid

    fs, p, _ = _dict_version_marker(spark, root)
    out = fs.create(p, True)
    out.write(bytearray(_uuid.uuid4().hex, "ascii"))
    out.close()


def search_fields(
    field_indexes: dict[str, tuple["Bm25CompressedIndex", float]],
    query: str,
    k: int = 10,
    mode: str = "or",
    pattern: str = IDENT_RE,
    round_to: int | None = None,
) -> DataFrame:
    """Multi-field search (BM25F-lite): score(doc) = Σ_field weight_f ·
    bm25_f(query) over per-field indexes — the title-boost shape every
    search engine ships (title hits outrank body hits).

    ``field_indexes``: {field_name: (index, weight)}. Each field scores
    the query independently (``mode`` applies within a field — in 'and'
    a doc scores in a field only if that FIELD contains every term),
    un-truncated (:meth:`Bm25CompressedIndex.score_all` — per-field top-k
    before the sum would be lossy: a doc mid-ranked in two fields can
    out-sum a doc top-ranked in one), then one weighted groupBy-sum and a
    global TakeOrderedAndProject(k). Shuffle shape: one exchange per
    field + one tiny aggregation of (doc_id, score) pairs — the per-field
    plans are the §1-2 plans unchanged.

    Rounding happens AFTER the weighted sum (the oracle-comparable key).
    Doc ids must refer to the same corpus across fields.
    """
    if not field_indexes:
        raise ValueError("search_fields needs at least one (index, weight) field")
    scored = None
    for name in sorted(field_indexes):
        idx, w = field_indexes[name]
        df = idx.score_all(query, mode=mode, pattern=pattern).select(
            "doc_id", (F.col("score") * F.lit(float(w))).alias("score")
        )
        scored = df if scored is None else scored.unionByName(df)
    total = scored.groupBy("doc_id").agg(F.sum("score").alias("score"))
    return _rank_scored_df(total, k, round_to)


def _rank_scored_df(scored: DataFrame, k: int, round_to: int | None) -> DataFrame:
    """THE ranking epilogue every entry point shares — round (when
    requested) then ORDER BY score DESC, doc_id ASC, LIMIT k. The SQL
    oracles mirror exactly this contract; change it here or nowhere
    (it used to be copy-pasted per entry point)."""
    score = F.round("score", round_to) if round_to is not None else F.col("score")
    return (
        scored.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


#: the (query_id, doc_id, score) rows the distributed plan and every
#: batch entry point return, and the point entry points' (doc_id, score)
_BATCH_SCHEMA = "query_id string, doc_id long, score double"
_POINT_SCHEMA = "doc_id long, score double"


def _hits_table(query_ids: list, doc_ids: list, scores: list) -> pa.Table:
    """_score_queries' hits as an Arrow table of _BATCH_SCHEMA."""
    return pa.table({
        "query_id": pa.array(query_ids, pa.string()),
        "doc_id": pa.array(doc_ids, pa.int64()),
        "score": pa.array(scores, pa.float64()),
    })


def _needs_positions(comps: dict) -> bool:
    """Whether any compiled query has a phrase or proximity clause."""
    return any(c["slots"] or c["nears"] for c in comps.values())


def _comp_key(comp: dict) -> tuple:
    """A compiled query (_compile_spec) as a hashable plan-cache key."""
    return (
        tuple(comp["qtf"].items()), tuple(comp["must"]), tuple(comp["should"]),
        comp["slots"], comp["nears"], tuple(sorted(comp["exc"])),
    )


def _rank_scored_batch_df(scored: DataFrame, k: int, round_to: int | None) -> DataFrame:
    """The batch twin of :func:`_rank_scored_df`: per-query_id top-k via
    a row_number window over the same (score DESC, doc_id ASC) contract."""
    from pyspark.sql import Window

    score = F.round("score", round_to) if round_to is not None else F.col("score")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.select("query_id", "doc_id", score.alias("score"))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def _decode_cols(postings: DataFrame, positions: bool) -> list[str]:
    """The stored columns decode_table reads, with ``positions`` when asked
    for and ``postings`` has them."""
    extra = ["positions"] if positions and "positions" in postings.columns else []
    return ["term_id", "part", "n", "docs", "tfs", "scores", *extra]


def _unpersist(*frames: DataFrame) -> None:
    for df in frames:
        try:
            df.unpersist()
        except Exception:
            pass


class DriverDict(NamedTuple):
    """A term_dict on the driver, probed in-process (no dictionary job per
    query): the terms in code-point order with their ids and dfs (prefix
    and regexp expansion bisect a range), the term -> id lookup, and the
    ids and dfs re-sorted by id (df lookup by id)."""

    terms: list[str]
    ids: np.ndarray
    dfs: np.ndarray
    tid: dict[str, int]
    ids_by_id: np.ndarray
    dfs_by_id: np.ndarray

    def prefix_range(self, prefix: str) -> tuple[int, int]:
        """[lo, hi) index range of the ``prefix``-prefixed terms — every
        string with this prefix sorts in [prefix, prefix[:-1] + succ(last
        char)); exact range, two bisects."""
        import bisect

        lo = bisect.bisect_left(self.terms, prefix)
        last = prefix[-1]
        if ord(last) < 0x10FFFF:
            hi = bisect.bisect_left(self.terms, prefix[:-1] + chr(ord(last) + 1), lo)
        else:
            hi = len(self.terms)
        return lo, hi

    def ranked_ids(self, idxs: np.ndarray, max_expansions: int) -> list[int]:
        """term_ids at an ASCENDING index array, capped by df rank (df desc,
        term asc tie — stable argsort over the term-ordered indices)."""
        if idxs.size > max_expansions:
            idxs = idxs[np.argsort(-self.dfs[idxs], kind="stable")[:max_expansions]]
        return self.ids[idxs].tolist()


class Snapshot:
    """One ``dict_version`` of an index as its queries read it: the tables
    (``postings`` hash-partitioned on part, ``scan`` as stored) and what
    the driver derives from them, filled on first use (cached_property: no
    Spark job at construction) and never reassigned — the reference's
    load-once index (srpc/PageSearch/ReadPage.cpp)."""

    def __init__(self, version, postings: DataFrame, scan: DataFrame, term_dict: DataFrame):
        self.version = version
        self.postings = postings
        self.scan = scan
        self.term_dict = term_dict
        #: prepared plans of the point entry points (_point_frame)
        self.plans: dict[tuple, DataFrame] = {}

    @cached_property
    def n_terms(self) -> int:
        return self.term_dict.count()

    @cached_property
    def dictionary(self) -> DriverDict:
        import pyarrow.compute as pc

        # sorted on the driver: Arrow compares strings by bytes, which is
        # Spark's UTF8String order and, for UTF-8, Python's code-point order
        # (what the bisects assume)
        tbl = self.term_dict.select("term", "term_id", "df").toArrow()
        tbl = tbl.take(pc.sort_indices(tbl, [("term", "ascending")]))
        terms = tbl.column("term").to_pylist()
        ids = tbl.column("term_id").to_numpy().astype(np.int64)
        dfs = tbl.column("df").to_numpy().astype(np.int64)
        by_id = np.argsort(ids, kind="stable")
        return DriverDict(terms, ids, dfs, dict(zip(terms, ids.tolist())), ids[by_id], dfs[by_id])

    @cached_property
    def groups(self) -> CodeGroups:
        """The dictionary's terms grouped by length (suggest, fuzzy)."""
        return CodeGroups(self.dictionary.terms)

    @cached_property
    def resident(self) -> DecodedPostings:
        """The stored postings decoded on the driver, flat per term: the
        in-memory twin of the reference's startup index load
        (srpc/PageSearch/ReadPage.cpp), which also holds them decoded."""
        cols = _decode_cols(self.postings, positions=True)
        return decode_table(self.scan.select(*cols).toArrow())


class Bm25CompressedIndex:
    """Query engine over (postings, term_dict) tables. Every query reads
    one immutable Snapshot of them, so threads may share a handle."""

    #: term_dicts up to this many rows are collected to the driver once per
    #: snapshot and probed in-process (kills one Spark job per query).
    #: Web-scale dicts exceed it and fall back to per-query filtered probes.
    #: Driver memory at the cap: 2M entries x (~100 B str key + 28 B int +
    #: dict slot) plus the sorted-term list (8 B pointer/entry, strings
    #: shared with the dict), four int64 arrays (32 B/entry: term- and
    #: id-ordered ids/dfs) and CodeGroups (4 B/code point + 8 B/term)
    #: ~= 400-500 MB — sized for the 8 GB driver this engine configures
    #: (session.py); lower it for smaller drivers.
    DRIVER_DICT_CACHE_MAX = 2_000_000

    #: search_query_rows scores a query on the driver when the summed df of
    #: its compiled term ids (positive + excluded) is at most this many
    #: postings. Per-query driver memory at the cap: the Arrow copy of the
    #: query's rows (8 B score + ~2 B doc/tf varbyte per posting, plus
    #: positions), their decoded form (below) and the candidate
    #: intermediates — under ~100 B/posting, so ~100 MB at the cap. An
    #: index whose WHOLE summed df is under the cap also keeps its
    #: postings resident on the driver, decoded flat per term
    #: (decode_table): 32 B/posting (int64 doc id, float64 score, int64 tf
    #: and position offset), 8 B/position, 16 B per 128-posting block and
    #: 24 B per term. Measured on the 1000-doc benchmark index (232,908
    #: postings, 608,358 positions, 18,828 terms): 13.08 MB, ~56 B/posting
    #: all in, so ~56 MB at the cap for that shape (~36 B/posting without
    #: positions) — a small share of the driver dictionary's budget above.
    #: search_query_batch scores a whole unfaceted batch from those
    #: resident arrays too, with no per-call copy of the postings.
    #: Larger queries keep the distributed plan, whose per-part scoring
    #: runs in parallel on the executors.
    DRIVER_SCORE_MAX_POSTINGS = 1_000_000

    #: prepared plans a snapshot keeps (_point_frame) before starting over
    PLANS_MAX = 512

    def __init__(
        self,
        spark: SparkSession,
        postings: DataFrame,
        term_dict: DataFrame,
        docs_per_part: int | None = None,
        root: str | None = None,
        postings_scan: DataFrame | None = None,
    ):
        from ..deploy import ship_package

        ship_package(spark)  # scoring closures import this package on workers
        self.spark = spark
        #: index geometry (doc-range part size) — needed by search_filtered
        #: to bucket an allowed-id set identically to the build; open_index
        #: loads it from the index's meta table
        self.docs_per_part = docs_per_part
        #: index root (open_index passes it): a handle held across
        #: incremental folds swaps in a new snapshot on each dict_version
        #: bump; one built from bare DataFrames (root=None) keeps its one.
        self._root = root
        #: the dict_version marker's (FileSystem, Path), resolved once
        self._version_marker = _dict_version_marker(spark, root) if root else None
        # postings_scan: the postings as stored, before any repartition
        scan = postings if postings_scan is None else postings_scan
        self._snap = Snapshot(self._version(), postings, scan, term_dict)
        #: held only while _snapshot or serving_mode replaces _snap
        self._swap = threading.Lock()

    #: the current snapshot's tables
    postings = property(lambda self: self._snap.postings)
    term_dict = property(lambda self: self._snap.term_dict)

    def _version(self):
        if self._root is None:
            return None
        return read_dict_version(self.spark, self._root, self._version_marker)

    def _snapshot(self) -> Snapshot:
        """The snapshot of the index's current dict_version: each public
        entry point takes one and hands it down, so a query never mixes two
        versions. The marker read is a local file read (~12 us) for a root
        on the local filesystem, else three py4j calls (~0.6 ms). After a
        bump, the new snapshot is built under _swap with the version
        re-read inside, so callers racing on one bump build it once. An
        empty marker is a bump caught between its truncate and its write
        (the overwrite is not atomic): the current snapshot stays."""
        snap = self._snap
        if self._version() in (snap.version, ""):
            return snap
        with self._swap:
            v = self._version()
            if v not in (self._snap.version, ""):
                from .build_index import open_postings, read_postings

                # parquet DataFrames pin their file listing at read time, so
                # the old tables are stale; release any persisted copy
                # (serving_mode's) or a serving session leaks one per fold
                _unpersist(self._snap.postings, self._snap.term_dict)
                scan = read_postings(self.spark, self._root)
                self._snap = Snapshot(
                    v, open_postings(self.spark, self._root, scan), scan,
                    self.spark.read.parquet(f"{self._root}/term_dict"),
                )
            return self._snap

    def _driver_dict(self, snap) -> DriverDict | None:
        """``snap``'s driver dictionary, or None when its term_dict has
        more than DRIVER_DICT_CACHE_MAX rows (Spark probes stand in)."""
        return snap.dictionary if snap.n_terms <= self.DRIVER_DICT_CACHE_MAX else None

    def _driver_postings(self, snap) -> DecodedPostings | None:
        """``snap``'s resident postings, or None without a driver dictionary
        or when its whole summed df is over DRIVER_SCORE_MAX_POSTINGS."""
        d = self._driver_dict(snap)
        if d is None or int(d.dfs.sum()) > self.DRIVER_SCORE_MAX_POSTINGS:
            return None
        return snap.resident

    def serving_mode(self, n_partitions: int = 8) -> "Bm25CompressedIndex":
        """Tune THIS SESSION + handle for low-latency point queries
        (measured decomposition: PLANS.md §6; scripts/warm_query_probe.py).

        Three levers, all serving-session configuration, no plan change:
          1. AQE off — AQE materializes each exchange as its own job,
             which costs a whole extra job-submission round (~150-200 ms)
             per point query for zero benefit on a k-row result.
          2. shuffle partitions shrunk to ``n_partitions`` — the few
             remaining exchanges (cogroup facets, batch windows) carry a
             few thousand rows; 32 near-empty tasks are pure launch
             overhead.
          3. postings cached as ``repartition(n_partitions, 'part')`` —
             ~65 scan tasks collapse to 8 AND the partitioning satisfies
             the scorer's groupBy('part') distribution, so the per-query
             scoring Exchange is elided outright (guide §2.4; plain
             coalesce only fixed the task count, the r7 repartition also
             removes the shuffle: measured 328 -> 302 ms/query).

        SIDE EFFECT: flips session confs (adaptive.enabled,
        shuffle.partitions) — intended for a dedicated serving session;
        batch/analytic jobs on the same session should restore them.
        The persisted tables become a new snapshot of the same version
        (its resident postings reload from the persisted copy); a
        dict_version refresh drops it — re-call after incremental folds.
        The canonical measured gain is bench.py's serving_loop_qps vs
        warm_loop_qps in the current BENCH json (r4: 2.73 vs 1.68 q/s
        at 20k docs / local[32]; see PLANS.md §6)."""
        self._snapshot()
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(n_partitions))
        with self._swap:
            old = self._snap
            # repeated serving_mode() calls must not stack persisted copies
            _unpersist(old.postings, old.term_dict)
            # hash-partition on part (adjacent repartitions collapse, so a
            # handle from open_index re-partitions once, to n_partitions):
            # the cached layout then satisfies every scorer's groupBy('part')
            # distribution and point queries run shuffle-free
            postings = old.postings.repartition(n_partitions, "part").persist()
            postings.count()
            self._snap = Snapshot(old.version, postings, postings, old.term_dict.persist())
        self._driver_dict(self._snap)
        return self

    def lookup_terms(self, terms: list[str]) -> dict[str, int]:
        return self._lookup(self._snapshot(), terms)

    def _lookup(self, snap, terms: list[str]) -> dict[str, int]:
        d = self._driver_dict(snap)
        if d is not None:
            return {t: d.tid[t] for t in terms if t in d.tid}
        rows = (
            snap.term_dict.filter(F.col("term").isin(terms))
            .select("term", "term_id")
            .collect()
        )
        return {r["term"]: r["term_id"] for r in rows}

    def search(
        self,
        query: str,
        k: int = 10,
        mode: str = "and",
        pattern: str = IDENT_RE,
        round_to: int | None = None,
        exclude: list[str] | None = None,
    ) -> DataFrame:
        """BM25 top-k; ``exclude`` = boolean-NOT terms — a doc containing any
        of them never appears in the result (dropped inside each part BEFORE
        top-k truncation, so the k results are exactly the best survivors).
        Excluded terms absent from the dictionary, or that also appear in the
        positive query, are no-ops."""
        snap = self._snapshot()
        comp = self._compile_one(snap, _plain_tokens(query, mode, pattern, exclude))
        return self._point_frame(snap, comp, k, round_to)

    def score_all(
        self,
        query: str,
        mode: str = "and",
        pattern: str = IDENT_RE,
        exclude: list[str] | None = None,
    ) -> DataFrame:
        """(doc_id, score) for EVERY matching doc — no top-k truncation.

        The building block for cross-index composition (multi-field
        weighted sums, :func:`search_fields`), where truncating per field
        BEFORE the sum would be lossy. Same one-exchange plan as search();
        per-part lists are simply not cut (MaxScore tau stays disabled —
        every match must be scored)."""
        snap = self._snapshot()
        comp = self._compile_one(snap, _plain_tokens(query, mode, pattern, exclude))
        if comp is None:
            return self.spark.createDataFrame([], _POINT_SCHEMA)
        return self._scored(snap, {"": comp}, 1 << 30, None).select("doc_id", "score")

    def search_filtered(
        self,
        query: str,
        allowed: DataFrame,
        k: int = 10,
        mode: str = "and",
        pattern: str = IDENT_RE,
        round_to: int | None = None,
        docs_per_part: int | None = None,
    ) -> DataFrame:
        """Faceted/metadata-filtered BM25 top-k: only docs in ``allowed``
        (any DataFrame with a doc_id column — e.g. ``docs.filter(lang='en')
        .select('doc_id')``) may appear, and the k results are exactly the
        best ALLOWED docs (the filter applies inside each part BEFORE top-k
        truncation, never as a lossy post-filter on an unfiltered top-k).

        The allowed set is cogrouped per part with the postings, and
        ``docs_per_part`` must equal the index's build geometry: see
        _scored (shuffle shape, GEOMETRY CONTRACT, MaxScore and AND with an
        allowed set).
        """
        snap = self._snapshot()
        comp = self._compile_one(snap, _plain_tokens(query, mode, pattern))
        return self._point_frame(snap, comp, k, round_to, allowed, docs_per_part)

    def _expand_fuzzy(self, snap, word: str, dist: int, max_expansions: int) -> list[int]:
        """term_ids of dictionary terms within edit distance ``dist`` of
        ``word``, ranked distance-then-df-desc-then-term (deterministic),
        capped at max_expansions — the Lucene FuzzyQuery expansion analog
        over the external term dictionary (suggest's ranking, applied as
        query expansion). Length pre-filter bounds the levenshtein scan.

        Cached path: the length groups of the term dictionary within
        ``dist`` of the word's length are scored by suggest's edit-distance
        kernel (:class:`~searchenginer_spark.operators.suggest.CodeGroups`)
        on the driver — zero Spark jobs, which matters because a point
        query otherwise pays the ~0.3 s job floor PER fuzzy term. Uncached
        dicts keep the parallel Spark levenshtein probe (O(V/cores), the
        web-scale shape)."""
        if not word:
            return []
        dd = self._driver_dict(snap)
        if dd is not None:
            pos, d = snap.groups.within(word, dist)
            # positions are term order: the Spark path's orderBy
            rank = np.lexsort((pos, -dd.dfs[pos], d))[:max_expansions]
            return dd.ids[pos[rank]].tolist()
        rows = (
            snap.term_dict.filter(
                F.length("term").between(len(word) - dist, len(word) + dist)
            )
            .withColumn("_d", F.levenshtein(F.col("term"), F.lit(word)))
            .filter(F.col("_d") <= dist)
            .orderBy(F.asc("_d"), F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .select("term_id")
            .collect()
        )
        return [r["term_id"] for r in rows]

    @staticmethod
    def _require_positions(snap, op: str) -> None:
        """Fail fast (driver-side, clear message) when a positional operator
        runs against an index built without positions — instead of a
        KeyError inside the worker-side scorer."""
        if "positions" not in snap.postings.columns:
            raise ValueError(
                f"{op} needs a positions-enabled index: build with "
                "term_frequencies(with_positions=True) / "
                "build_index(with_positions=True)"
            )

    def _expand_prefix(self, snap, prefix: str, max_expansions: int) -> list[int]:
        """term_ids of dictionary terms starting with ``prefix``, capped by
        df rank (highest-df kept; deterministic df-desc/term tie).

        Cached path: bisect the [prefix, succ(prefix)) range of the
        term-sorted arrays — O(log V + matches), no Spark job, no vocab
        scan, even at the 2M-entry cache cap. Uncached path: a
        first-char-pruned dict probe (the Spark analog of the reference's
        first-character index, Make_dir/MakeDictAndIndex.cpp:203-209)."""
        if not prefix:
            return []
        d = self._driver_dict(snap)
        if d is not None:
            lo, hi = d.prefix_range(prefix)
            return d.ranked_ids(np.arange(lo, hi, dtype=np.int64), max_expansions)
        rows = (
            snap.term_dict.filter(
                (F.col("prefix") == prefix[0]) & F.col("term").startswith(prefix)
            )
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .select("term_id")
            .collect()
        )
        return [r["term_id"] for r in rows]

    def _expand_regexp(self, snap, pattern: str, max_expansions: int) -> list[int]:
        """term_ids of dictionary terms FULLY matching ``pattern``
        (Lucene-RegexpQuery whole-term semantics), df-ranked and capped.

        Cached path: the pattern is split on top-level alternation
        (``cat|dog`` has no single mandatory prefix — each branch does),
        each branch's literal prefix (chars before its first
        metacharacter, quantifier-adjusted) bisects the sorted term arrays
        — the spirit of Lucene's automaton/term-index intersection — and
        Python re fullmatch of the WHOLE pattern scans only the union of
        those ranges (any full match satisfies some branch, so it starts
        with that branch's prefix). A pattern with any prefix-less branch,
        or no cache, falls back to a Catalyst ``rlike`` probe over the
        dict table (parallel O(V/cores), the right shape at web-scale
        vocabularies). Patterns should stick to the regex subset valid in
        both Python and Java (the two evaluation engines)."""
        if not pattern:
            return []
        rx = re.compile(pattern)
        d = self._driver_dict(snap)
        lits = [
            _regex_literal_prefix(b)
            for b in _split_top_level_alternation(pattern)
        ]
        if d is not None and all(lits):
            hit: set[int] = set()
            for lit in lits:
                lo, hi = d.prefix_range(lit)
                hit.update(i for i in range(lo, hi) if rx.fullmatch(d.terms[i]))
            idxs = np.fromiter(sorted(hit), dtype=np.int64)
            return d.ranked_ids(idxs, max_expansions)
        rows = (
            snap.term_dict.filter(F.col("term").rlike(f"^(?:{pattern})$"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .select("term_id")
            .collect()
        )
        return [r["term_id"] for r in rows]

    def search_regexp(
        self,
        pattern: str,
        k: int = 10,
        round_to: int | None = None,
        max_expansions: int = 1 << 20,
    ) -> DataFrame:
        """Regexp term query ``/pattern/`` (whole-term match) — the
        code-search staple Lucene calls RegexpQuery. Expands against
        term_dict (see _expand_regexp for the literal-prefix bisection)
        and scores the expansion set disjunctively with qtf=1 per matched
        term, exactly like search_prefix. The pattern is lowercased
        first — the dictionary stores lowercased terms only, and both
        search_prefix and the grammar's /re/ clause already lowercase,
        so a direct-API uppercase literal must not silently match
        nothing."""
        snap = self._snapshot()
        comp = self._compile_one(snap, _tk(regexps=[pattern.lower()]), max_expansions)
        return self._point_frame(snap, comp, k, round_to)

    def search_prefix(
        self,
        prefix: str,
        k: int = 10,
        round_to: int | None = None,
        max_expansions: int = 1 << 20,
    ) -> DataFrame:
        """Prefix query ``prefix*`` — the code-search staple.

        Expands against term_dict (the ``prefix`` first-char column gives
        parquet row-group pruning, the Spark analog of the reference's
        first-character dict index, Make_dir/MakeDictAndIndex.cpp:203-209)
        and scores the expansion set disjunctively with qtf=1 per matched
        term. ``max_expansions`` caps runaway one-letter prefixes by df
        rank (highest-df expansions kept; deterministic df-desc/term tie).
        """
        snap = self._snapshot()
        comp = self._compile_one(snap, _tk(prefixes=[prefix.lower()]), max_expansions)
        return self._point_frame(snap, comp, k, round_to)

    def search_near(
        self,
        query: str,
        window: int,
        k: int = 10,
        pattern: str = IDENT_RE,
        round_to: int | None = None,
        ordered: bool = False,
    ) -> DataFrame:
        """Proximity top-k: all query terms within a token window.

        Unordered (default): some choice of one position per distinct term
        spans <= ``window`` positions — the Lucene `"a b"~N` slop analog
        restricted to unordered-span semantics; window=1 with two terms
        means adjacent in either order. ``ordered=True`` additionally
        requires the positions to follow the query's term order
        (window=len(terms)-1 then degenerates to the exact phrase).
        Requires a positions-enabled index; score is the BM25 sum over the
        distinct terms at their whole-query qtf (same scoring contract as
        search_phrase)."""
        snap = self._snapshot()
        self._require_positions(snap, "search_near")
        toks = re.findall(pattern, query.lower())
        comp = self._compile_one(snap, _tk(nears=[(toks, window, ordered)]))
        return self._point_frame(snap, comp, k, round_to)

    def search_phrase(
        self,
        phrase: str,
        k: int = 10,
        pattern: str = IDENT_RE,
        round_to: int | None = None,
    ) -> DataFrame:
        """Exact-phrase top-k: all terms adjacent and in order.

        Requires a positions-enabled index (build_postings over a
        positions-carrying tf table). Score = the BM25 sum over the
        phrase's distinct terms at their whole-phrase qtf."""
        snap = self._snapshot()
        self._require_positions(snap, "search_phrase")
        toks = re.findall(pattern, phrase.lower())
        return self._point_frame(snap, self._compile_one(snap, _tk(phrases=[toks])), k, round_to)

    def search_query(
        self,
        query: str,
        k: int = 10,
        mode: str = "or",
        docs: DataFrame | None = None,
        pattern: str = IDENT_RE,
        round_to: int | None = None,
        max_expansions: int = 1024,
        docs_per_part: int | None = None,
    ) -> DataFrame:
        """Composed query-string search — the user-facing grammar compiled
        into ONE exact per-part pass (functions/queryparse.py; the Spark
        surface of the reference's raw-query RPC entry point,
        srpc/PageSearch/server.pb_skeleton.cc:154-170):

            data +value -merge quer* "exact phrase" "near terms"~4 lang:de

        Semantics: ``+term``, every ``"phrase"``, and every ``"..."~W``
        proximity clause (all terms within a W-position window, any order —
        see search_near) are required; bare terms
        are required in mode='and', scored-if-present in mode='or';
        ``-term`` docs never appear (dropped pre-truncation); ``pre*``
        expansions add score but are never required (SHOULD, qtf=1, capped
        by df rank; an expansion colliding with an explicit or excluded
        atom is skipped — explicit wins); ``term~D`` fuzzy clauses expand
        to dictionary terms within edit distance D (<=2) under the same
        SHOULD/collision rules; ``/pattern/`` regexp clauses expand to
        whole-term regex matches (Lucene RegexpQuery analog, literal-
        prefix-bisected — see _expand_regexp) under the same rules;
        ``term^B`` boosts that occurrence
        to qtf B (cut_weight.cpp query-side weighting analog, sugar for
        term repetition); facets — ``field:value`` equality,
        ``field:a,b`` any-of, ``field:[lo TO hi]`` inclusive range
        (``*`` unbounded; numeric when the bounds are numbers), repeated
        fields conjunctive — filter against ``docs`` via the same
        part-bucketed cogroup as search_filtered (exact: never a lossy
        post-filter; see :func:`apply_facets`). Phrase clauses
        need a positions-enabled index. Score = BM25 sum over the distinct
        positive atoms present, qtf = each atom's occurrence count across
        the whole query string.
        """
        snap = self._snapshot()
        specs, comps = self._compile_query(snap, {"": query}, mode, pattern, max_expansions)
        allowed = self._facet_allow(specs[""], docs)
        return self._point_frame(snap, comps.get(""), k, round_to, allowed, docs_per_part)

    def _compile(self, snap, tks: dict, max_expansions: int = 1024) -> dict:
        """{query_id: tokenized query (_tk)} -> {query_id: compiled query
        (_compile_spec)}, with ONE dictionary probe for the union of their
        tokens; a query that cannot match is left out."""
        terms = sorted(set().union(*(tk["all"] for tk in tks.values())))
        tid = self._lookup(snap, terms) if terms else {}
        expanders = (
            lambda p: self._expand_prefix(snap, p, max_expansions),
            lambda w, d: self._expand_fuzzy(snap, w, d, max_expansions),
            lambda p: self._expand_regexp(snap, p, max_expansions),
        )
        comps = {}
        for qid, tk in tks.items():
            c = _compile_spec(tk, tid, *expanders)
            if c is not None:
                comps[qid] = c
        return comps

    def _compile_one(self, snap, tk: dict, max_expansions: int = 1024) -> dict | None:
        """One tokenized query compiled (_compile), or None."""
        return self._compile(snap, {"": tk}, max_expansions).get("")

    def _compile_query(self, snap, queries: dict, mode: str, pattern: str, max_expansions: int):
        """The grammar prologue of search_query, search_query_rows and
        search_query_batch: parse every query string, tokenize, then one
        dictionary probe, the expansions and the compile (_compile).
        Returns ({query_id: QuerySpec}, {query_id: compiled query}); a
        query with no positive atom or a missing required atom, or with
        nothing scorable, has no compiled entry."""
        from ..functions.queryparse import parse_query

        specs = {qid: parse_query(q) for qid, q in queries.items()}
        if any(s.phrases or s.nears for s in specs.values()):
            self._require_positions(snap, "phrase/proximity clauses")
        tks = {
            qid: _spec_tokens(s, mode, pattern)
            for qid, s in specs.items()
            if s.has_positive
        }
        return specs, self._compile(snap, tks, max_expansions)

    @staticmethod
    def _facet_allow(spec, docs: DataFrame | None) -> DataFrame | None:
        """The docs a parsed query's facet clauses allow (apply_facets), or
        None when it has none."""
        if not spec.facets:
            return None
        if docs is None:
            raise ValueError("facet clauses need the docs table: pass docs=")
        return apply_facets(docs, spec.facets)

    def _point_frame(
        self, snap, comp, k, round_to, allowed: DataFrame | None = None, docs_per_part=None
    ) -> DataFrame:
        """THE lazy plan of every single-query entry point: the distributed
        plan (_scored) of one compiled query, ranked by _rank_scored_df
        (one exchange, then TakeOrderedAndProject). ``allowed``: a frame
        of permitted doc ids (search_filtered, facet clauses).

        Unfiltered plans are prepared-plan cached (r7): building a query
        DataFrame costs a flat ~45-50 ms of driver py4j round trips
        (PLANS.md §6) that repeats identically for an identical compiled
        query. Plans only: every collect() re-executes the job from the
        postings table, so no result is ever cached (and callers must not
        persist() a returned frame for the same reason). The plans live in
        the snapshot (Snapshot.plans), so serving_mode()/dict_version
        refreshes drop them with it."""
        if comp is None:
            return self.spark.createDataFrame([], _POINT_SCHEMA)
        key = (_comp_key(comp), k, round_to)
        df = None if allowed is not None else snap.plans.get(key)
        if df is None:
            allow = None if allowed is None else {"": allowed}
            scored = self._scored(snap, {"": comp}, k, round_to, allow, docs_per_part)
            df = _rank_scored_df(scored, k, round_to)
            if allowed is None:
                if len(snap.plans) >= self.PLANS_MAX:
                    snap.plans.clear()
                snap.plans[key] = df
        return df

    def _scored(self, snap, comps: dict, k: int, round_to, allow=None, docs_per_part=None) -> DataFrame:
        """THE distributed plan: {query_id: compiled query} -> unranked
        (query_id, doc_id, score) rows, each query's per-part lists cut at
        ``k``. The postings are filtered on the union of the compiled term
        ids (and cut to the columns decode_table reads, positions only
        when a query has a phrase or proximity clause), and each part's
        rows reach ONE Arrow call (groupBy('part').applyInArrow) that
        decodes them once and scores every query on its own term ids
        (_score_queries): a posting row crosses the Python boundary once
        per part, however many queries use it. Parts are doc-disjoint, so
        per-part top-k then a global merge is exact.

        ``allow``: {query_id: frame with a doc_id column} for filtered
        queries (search_filtered, facet clauses). Their allowed ids are
        tagged with the query_id, unioned, bucketed by the SAME doc-range
        ``part`` key as the postings and cogrouped with them — one
        exchange for all of them, so each Arrow call receives exactly its
        part's postings AND its part's allowed ids (the filter never
        broadcasts globally; exact, never a lossy post-filter). MaxScore's
        tau seed is off for a filtered OR query (a seed drawn from
        filtered-out docs could over-prune); an AND query intersects the
        allowed ids at its rarest term, which shrinks the later probes.

        GEOMETRY CONTRACT: ``docs_per_part`` (else the handle's, which
        ``open_index`` reads from the index's meta table) must equal the
        value the index was BUILT with; it is never inferred, and a
        ValueError is raised when neither supplies it. A WRONG value is
        silently incorrect: allowed ids bucket to the wrong parts and
        legitimate docs drop out of the result."""
        tids = sorted(set().union(*(set(c["qtf"]) | c["exc"] for c in comps.values())))
        cols = _decode_cols(snap.postings, _needs_positions(comps))
        cand = snap.postings.filter(F.col("term_id").isin(tids)).select(*cols)

        def score(table, allow_by_q):
            return _hits_table(
                *_score_queries(decode_table(table), comps, k, round_to, allow_by_q)
            )

        if not allow:
            return cand.groupBy("part").applyInArrow(
                lambda table: score(table, None), schema=_BATCH_SCHEMA
            )
        dpp = docs_per_part or self.docs_per_part
        if dpp is None:
            raise ValueError(
                "filtered and faceted queries need the index geometry: open "
                "the index via open_index (reads the meta table) or pass "
                "docs_per_part="
            )
        allow_df = None
        for qid in sorted(allow):
            tagged = allow[qid].select(
                F.lit(qid).alias("query_id"),
                F.col("doc_id").cast("long").alias("doc_id"),
                (F.col("doc_id") / F.lit(dpp)).cast("int").alias("part"),
            )
            allow_df = tagged if allow_df is None else allow_df.unionByName(tagged)
        filtered = list(allow)

        def score_cogroup(left, right):
            # a filtered query with no allowed ids in this part gets an
            # EMPTY array (no hits here), never None (unfiltered)
            allow_by_q = {qid: np.empty(0, dtype=np.int64) for qid in filtered}
            for qid, sub in right.to_pandas().groupby("query_id", sort=False):
                allow_by_q[qid] = np.sort(sub["doc_id"].to_numpy().astype(np.int64))
            return score(left, allow_by_q)

        return (
            cand.groupBy("part")
            .cogroup(allow_df.groupBy("part"))
            .applyInArrow(score_cogroup, schema=_BATCH_SCHEMA)
        )

    def search_query_rows(
        self,
        query: str,
        k: int = 10,
        mode: str = "or",
        docs: DataFrame | None = None,
        pattern: str = IDENT_RE,
        max_expansions: int = 1024,
        docs_per_part: int | None = None,
    ) -> list[tuple[int, float]]:
        """Run one query now: exactly ``[(r.doc_id, r.score) for r in
        search_query(...).collect()]``, the point-query shape of the
        gateway and the CLI.

        A small query — at most DRIVER_SCORE_MAX_POSTINGS summed df over
        its compiled term ids, known from the driver dictionary — is scored
        on the driver by the kernel the workers run (_score_queries), once
        over all its postings. They come from the decoded driver-resident
        postings when the whole index is under the cap (no Spark job at
        all), else from one narrow filtered scan of the stored postings
        collected as Arrow and decoded (one job: no exchange, no
        Python-worker stage). Every other query (over the cap, no driver
        dictionary, facet clauses) collects search_query's distributed plan."""
        snap = self._snapshot()
        specs, comps = self._compile_query(snap, {"": query}, mode, pattern, max_expansions)
        allowed = self._facet_allow(specs[""], docs)
        comp = comps.get("")
        if comp is None:
            return []
        tids = sorted(set(comp["qtf"]) | comp["exc"])
        # the postings a filtered scan of tids returns, from the dictionary
        d = None if allowed is not None else self._driver_dict(snap)
        n = None if d is None else int(d.dfs_by_id[np.searchsorted(d.ids_by_id, tids)].sum())
        if n is None or n > self.DRIVER_SCORE_MAX_POSTINGS:
            frame = self._point_frame(snap, comp, k, None, allowed, docs_per_part)
            return [(r["doc_id"], r["score"]) for r in frame.collect()]
        index = self._driver_postings(snap)
        if index is None:
            cols = _decode_cols(snap.postings, _needs_positions(comps))
            index = decode_table(
                snap.scan.filter(F.col("term_id").isin(tids)).select(*cols).toArrow()
            )
        _q, d, s = _score_queries(index, comps, k)
        return list(zip(d, s))

    def suggest_rows(self, word: str, k: int = 10) -> list[tuple[str, float]]:
        """Keyword suggestions now: exactly ``[(r.term, r.sim) for r in
        operators.suggest.suggest(term_dict, word, k).collect()]``, the
        gateway's /api/suggest shape.

        With a driver dictionary this runs no Spark job: the candidates
        are ranked on the driver by
        :meth:`~searchenginer_spark.operators.suggest.CodeGroups.top_k`
        over the dictionary grouped by length. Without one (or for an
        empty word) it collects the operator."""
        snap = self._snapshot()
        low = word.lower()
        d = None if not low else self._driver_dict(snap)
        if d is None:
            rows = suggest(snap.term_dict, word, k=k).collect()
            return [(r["term"], r["sim"]) for r in rows]
        pos, sim = snap.groups.top_k(low, k)
        return [(d.terms[p], s) for p, s in zip(pos.tolist(), sim.tolist())]

    def search_query_batch(
        self,
        queries: dict[str, str] | list[str],
        k: int = 10,
        mode: str = "or",
        pattern: str = IDENT_RE,
        round_to: int | None = None,
        max_expansions: int = 1024,
        docs: DataFrame | None = None,
        docs_per_part: int | None = None,
    ) -> DataFrame:
        """Composed-grammar batch: MANY query strings -> (query_id, doc_id,
        score) — the serving shape for search_query, same grammar and
        semantics per query, with one dictionary probe for the whole batch,
        run by the batch executor (_batch): on a small index and with no
        facet clause, scored now on the driver with no Spark job; else ONE
        distributed job.

        Facet clauses work per query (r4): pass ``docs`` (+
        ``docs_per_part`` unless the handle carries geometry); each
        faceted query's allowed-id set is computed by the same
        :func:`apply_facets` Catalyst filters and cogrouped per part
        with the postings (see _scored and its GEOMETRY CONTRACT) — one
        exchange for the whole batch, exact per query (never a lossy
        post-filter), queries without facets stay unfiltered. Phrase /
        proximity clauses need a positions-enabled index. Unmatchable
        queries (missing required atom) contribute no rows.
        """
        if isinstance(queries, list):
            queries = {str(i): q for i, q in enumerate(queries)}
        snap = self._snapshot()
        specs, comps = self._compile_query(snap, queries, mode, pattern, max_expansions)
        allowed = {qid: self._facet_allow(s, docs) for qid, s in specs.items() if s.facets}
        allow = {qid: allowed[qid] for qid in comps if qid in allowed}
        return self._batch(snap, comps, k, round_to, allow, docs_per_part)

    def search_batch(
        self,
        queries: dict[str, str] | list[str],
        k: int = 10,
        mode: str = "and",
        pattern: str = IDENT_RE,
        round_to: int | None = None,
    ) -> DataFrame:
        """Score MANY plain-term queries at once -> (query_id, doc_id, score).

        The reference serves queries one RPC at a time
        (srpc/PageSearch/server.pb_skeleton.cc); on Spark the idiomatic
        high-throughput shape is a batch: one dictionary probe for the
        whole set, then the batch executor (_batch) — every (part x query)
        scores inside the same stage and a window takes per-query top-k, so
        the fixed job overhead is paid once for the whole batch instead of
        once per query; on a small index, no Spark job at all.
        """
        if isinstance(queries, list):
            queries = {str(i): q for i, q in enumerate(queries)}
        snap = self._snapshot()
        tks = {q: _plain_tokens(t, mode, pattern) for q, t in queries.items()}
        return self._batch(snap, self._compile(snap, tks), k, round_to)

    def _batch(self, snap, comps: dict, k: int, round_to, allow=None, docs_per_part=None) -> DataFrame:
        """THE batch executor of search_batch and search_query_batch:
        {query_id: compiled query} -> (query_id, doc_id, score), each
        query's top k.

        When no query is filtered and the snapshot's postings are resident
        on the driver (a driver dictionary, and the whole index at most
        DRIVER_SCORE_MAX_POSTINGS; see _driver_postings), the whole
        batch is scored NOW on the driver by the workers' scorer
        (_score_queries), each query once over the decoded resident
        postings, and returned as a local DataFrame: no Spark job,
        and the same rows, floats included, as the distributed plan. That
        frame holds the answers as of this call — collecting it again does
        not re-score, so collect it at once and do not keep it across index
        updates. Every other batch runs the distributed plan (_scored),
        ranked per query by a window: ONE job."""
        if not comps:
            return self.spark.createDataFrame([], _BATCH_SCHEMA)
        index = None if allow else self._driver_postings(snap)
        if index is not None:
            # from Arrow: a local relation, no job (a list of tuples would
            # run a Python-worker job)
            return self.spark.createDataFrame(
                _hits_table(*_score_queries(index, comps, k, round_to))
            )
        scored = self._scored(snap, comps, k, round_to, allow, docs_per_part)
        return _rank_scored_batch_df(scored, k, round_to)

    def fetch_docs(self, topk: DataFrame, docs: DataFrame, cols: list[str] | None = None) -> DataFrame:
        """Join top-k results back to document metadata/content — the Spark
        form of the reference's content fetch by offset
        (srpc/PageSearch/server.pb_skeleton.cc:214-241): the k-row result
        side is broadcast, so the docs table is probed, never shuffled."""
        sel = docs if cols is None else docs.select("doc_id", *cols)
        return F.broadcast(topk).join(sel, "doc_id").orderBy(F.desc("score"), F.asc("doc_id"))
