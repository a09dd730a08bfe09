"""N-gram language model quality scoring — stupid backoff, Spark-native.

Training-data pipelines filter web text by LM score (the KenLM-perplexity
gate in public corpus recipes); at corpus scale the published choice is
STUPID BACKOFF (Brants et al. 2007, "Large Language Models in Machine
Translation"): no discounting or normalization, just raw counts with a
fixed backoff factor — precisely because counting is the only pass that
must scale.

    S(w | ctx)  = c(ctx w) / c(ctx)          if c(ctx w) > 0
                = 0.4 * S(w | shorter ctx)   otherwise
    S(w)        = c(w) / N;  OOV floors at 1 / (2N)

Everything here is whole-stage-codegen DataFrame work:
  * training: one slice/zip/transform/explode pass per order ->
    (gram, n_count) tables (the extraction shape of
    operators/embed.cooccurrence_counts; one shuffle per order,
    map-side partials absorb hot grams). The count tables ARE the model.
  * scoring: the doc's token stream posexplodes once; each position
    derives its own k-gram strings (k = 1..order) as JVM expressions,
    LEFT-joins the count tables, and ONE nested-coalesce applies the
    backoff chain. Each count-table join is broadcast-hinted ONLY when
    the table is actually small (size-gated per table, or forced via
    ``broadcast_counts``); an uncapped web-scale model runs the
    identical plan with shuffle joins — no hard hint anywhere. The
    backoff penalty is relative to each position's AVAILABLE order
    (early positions have short contexts, which is not an unseen-gram
    event and carries no penalty). Per-doc aggregate = avg log10 S ->
    perplexity. No per-row Python anywhere; deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import current_scope
from ..functions.tokenize import IDENT_RE

BACKOFF = 0.4
#: gram-join separator — cannot occur inside IDENT_RE-ish tokens
_SEP = " "


def _tok_arr(text_col: str, pattern: str):
    return F.array_compact(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(pattern), F.lit(0))
    )


def _gram_arrays(toks, n):
    """array<string> of the token array's n-grams (space-joined), JVM —
    the scoring-side form (score_docs builds per-position grams from it);
    training counts use the vectorized batch pass below instead."""
    if n == 1:
        return toks
    size = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    parts = [F.slice(toks, i + 1, size).alias(f"g{i}") for i in range(n)]
    zipped = F.arrays_zip(*parts)
    return F.transform(
        zipped, lambda s: F.concat_ws(_SEP, *[s[f"g{i}"] for i in range(n)])
    )


def _ngram_partial_counts(docs: DataFrame, n: int, text_col: str, pattern: str) -> DataFrame:
    """(gram, n_count) for order ``n`` — tokenize in the JVM, then count
    per Arrow batch (the r7 cooccurrence_counts shape): dictionary-encode
    the batch's flat token stream, materialize each window as a row of an
    int32 code matrix, byte-view np.unique the rows, and build the gram
    STRING only once per batch-distinct tuple
    (pyarrow.binary_join_element_wise — string assembly in C). The final
    (gram) hash-aggregate then sees at most one row per (batch, gram)
    instead of one per occurrence; the old per-order explode built the
    joined string for EVERY occurrence (O(corpus tokens * n) string work
    per order). Output is identical — verified exceptAll-both-ways per
    order at bench scale."""
    from ..deploy import ship_package

    ship_package(docs.sparkSession)
    toks = _tok_arr(text_col, pattern)
    base = docs.select(F.coalesce(toks, F.array().cast("array<string>")).alias("_t"))

    def gen(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            tl = b.column(0)
            counts = pc.list_value_length(tl).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            flat = pc.list_flatten(tl)
            if len(flat) == 0:
                continue
            enc = flat.dictionary_encode()
            codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int32)
            n_win = np.maximum(counts - (n - 1), 0)
            total = int(n_win.sum())
            if total == 0:
                continue
            offs = np.cumsum(counts) - counts
            ramp = np.arange(total, dtype=np.int64) - np.repeat(
                np.cumsum(n_win) - n_win, n_win
            )
            starts = np.repeat(offs, n_win) + ramp
            if n == 1:
                u, cnt = np.unique(codes[starts], return_counts=True)
                gram = enc.dictionary.take(pa.array(u))
            else:
                mat = np.empty((total, n), dtype=np.int32)
                for j in range(n):
                    mat[:, j] = codes[starts + j]
                # byte-view unique over contiguous rows == exact tuple
                # equality for int32 codes
                view = np.ascontiguousarray(mat).view(f"V{4 * n}").ravel()
                u, cnt = np.unique(view, return_counts=True)
                cols = u.view(np.int32).reshape(-1, n)
                parts = []
                for j in range(n):
                    parts.append(enc.dictionary.take(pa.array(cols[:, j])))
                    if j < n - 1:
                        parts.append(_SEP)
                gram = pc.binary_join_element_wise(*parts, "")
            yield pa.RecordBatch.from_arrays(
                [gram, pa.array(cnt, type=pa.int64())], ["gram", "cnt"]
            )

    part = base.mapInArrow(gen, schema="gram string, cnt long")
    return part.groupBy("gram").agg(F.sum("cnt").alias("n_count"))


def train_ngram_counts(
    docs: DataFrame,
    order: int = 3,
    text_col: str = "text",
    pattern: str = IDENT_RE,
    min_count: int = 1,
) -> dict[int, DataFrame]:
    """{n: (gram, n_count)} for 1 <= n <= order. ``min_count`` prunes the
    long tail of higher-order grams AFTER counting (web-scale models keep
    only grams seen >= k times); unigrams are never pruned — they anchor
    the backoff floor. Counting is the r7 batch-partial shape (see
    :func:`_ngram_partial_counts`)."""
    out = {}
    for n in range(1, order + 1):
        counts = _ngram_partial_counts(docs, n, text_col, pattern)
        if min_count > 1 and n > 1:
            counts = counts.filter(F.col("n_count") >= min_count)
        out[n] = counts
    return out


def score_docs(
    docs: DataFrame,
    counts: dict[int, DataFrame],
    order: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    pattern: str = IDENT_RE,
    broadcast_counts: bool | None = None,
    broadcast_max_rows: int = 2_000_000,
) -> DataFrame:
    """(doc_id, n_tokens, avg_logprob, perplexity) under stupid backoff.

    Position i scores from its longest available gram k_i = min(i+1,
    order): S = c_k/c_ctx at the first k whose gram AND context counts
    exist, times BACKOFF^(k_i - k); unigram term c_1/N; OOV floor
    1/(2N) with the full accumulated penalty. Short context at the doc
    start is not an unseen event — no penalty for k_i < order.
    Empty docs are dropped (nothing to score).

    The count tables are PERSISTED here: each is consumed 2-3 times (the
    n_total aggregate, its own gram join, the next order's context
    join), and without a persist every consumer re-runs the full
    training-corpus counting pass. They belong to the current
    :class:`~searchenginer_spark.cache.CacheScope`, which frees them when
    it closes (the same lifecycle as the dedup operators).

    ``broadcast_counts``: a broadcast HINT overrides Spark's size
    threshold, so hinting an unpruned web-scale count table would
    collect it onto the driver until OOM. ``None`` (default) decides
    PER TABLE: hint only when the table has at most
    ``broadcast_max_rows`` rows, sized by ONE union-of-aggregates job
    that doubles as the n_total pass and fills the caches the scorer
    reads. The gate is a real extra counting pass (~2x this function's
    wall at bench scale, measured r6) — callers who KNOW their model is
    bounded (min_count-pruned, capped corpus) should pass ``True``
    explicitly, the documented fast path. ``True``/``False`` force all
    joins broadcast/shuffle (``False`` still lets AQE pick a runtime
    broadcast when a table turns out tiny — the point is that no HINT
    overrides the size gate)."""
    order = order or max(counts)
    scope = current_scope()
    counts = {k: scope.persist(counts[k]) for k in range(1, order + 1)}
    if broadcast_counts is None:
        # ONE job sizes every table AND computes n_total: per-table
        # aggregates unioned, so the gate costs a single pass that fills
        # the caches the scorer needs anyway (separate count() jobs per
        # table measured ~3x the whole broadcast path's wall, r6)
        stats = [
            counts[k]
            .agg(
                F.count(F.lit(1)).alias("c"),
                (F.sum("n_count") if k == 1 else F.lit(None).cast("long")).alias("s"),
            )
            .select(F.lit(k).alias("k"), "c", "s")
            for k in counts
        ]
        merged = stats[0]
        for st in stats[1:]:
            merged = merged.unionByName(st)
        rows = {r["k"]: r for r in merged.collect()}
        n_total = rows[1]["s"] or 1
        hint = {k: rows[k]["c"] <= broadcast_max_rows for k in counts}
    else:
        n_total = counts[1].agg(F.sum("n_count")).collect()[0][0] or 1
        hint = {k: broadcast_counts for k in counts}

    def _side(df: DataFrame, k: int) -> DataFrame:
        return F.broadcast(df) if hint[k] else df

    toks = _tok_arr(text_col, pattern)
    base = docs.select(F.col(id_col), toks.alias("_t")).filter(F.size("_t") > 0)
    pos = base.select(id_col, F.posexplode("_t").alias("_i", "_w"), "_t")
    for k in range(1, order + 1):
        # the k-gram ENDING at position _i (null while _i < k-1)
        pos = pos.withColumn(
            f"_g{k}",
            F.when(
                F.col("_i") >= k - 1,
                F.concat_ws(_SEP, F.slice("_t", F.col("_i") - (k - 2), F.lit(k))),
            ),
        )
    pos = pos.drop("_t", "_w")
    for k in range(1, order + 1):
        pos = pos.join(
            _side(
                counts[k].select(
                    F.col("gram").alias(f"_g{k}"), F.col("n_count").alias(f"_c{k}")
                ),
                k,
            ),
            on=f"_g{k}",
            how="left",
        )
        if k >= 2:
            # context = the k-gram's leading (k-1)-gram; its count comes
            # from the (k-1) table under the same min-count pruning
            pos = pos.withColumn(
                f"_x{k}",
                F.when(
                    F.col(f"_g{k}").isNotNull(),
                    F.substring_index(F.col(f"_g{k}"), _SEP, k - 1),
                ),
            ).join(
                _side(
                    counts[k - 1].select(
                        F.col("gram").alias(f"_x{k}"),
                        F.col("n_count").alias(f"_d{k}"),
                    ),
                    k - 1,
                ),
                on=f"_x{k}",
                how="left",
            )
    avail = F.least(F.col("_i") + 1, F.lit(order)).cast("double")
    penalty = lambda k: F.pow(F.lit(BACKOFF), avail - k)  # noqa: E731
    branches = []
    for k in range(order, 1, -1):
        branches.append(
            F.when(
                F.col(f"_c{k}").isNotNull() & F.col(f"_d{k}").isNotNull(),
                penalty(k) * F.col(f"_c{k}") / F.col(f"_d{k}"),
            )
        )
    branches.append(
        F.when(
            F.col("_c1").isNotNull(),
            penalty(1) * F.col("_c1") / F.lit(float(n_total)),
        )
    )
    floor = penalty(1) * F.lit(1.0 / (2.0 * n_total))
    score = F.coalesce(*branches, floor)
    agg = (
        pos.select(id_col, F.log10(score).alias("_lp"))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.avg("_lp").alias("_avg"))
    )
    return agg.select(
        id_col,
        "n_tokens",
        F.round("_avg", 6).alias("avg_logprob"),
        F.round(F.pow(F.lit(10.0), -F.col("_avg")), 4).alias("perplexity"),
    )
