"""Trained word embeddings from the corpus itself — PPMI + truncated
eigendecomposition (count-based vectors), dependency-free and Spark-native.

The reference ships a fastText binary artifact (loaded in
/root/reference/Make_Page/MakePage.cpp:247-398); model blobs cannot exist
in this sandbox, so rounds 2-4 stood in a deterministic hash embedding
(operators/vectors.py). This module closes the gap with a REAL trainer
built only from public results and the corpus:

  1. co-occurrence counting (the only corpus-sized pass) is pure JVM
     codegen — per doc, for each offset d <= window, pair token i with
     token i+d via arrays_zip(slice, slice), flatten, ONE explode, one
     groupBy((w, c)).count() shuffle. No UDF, no per-row Python.
  2. PPMI weighting with context-distribution smoothing (alpha = 0.75)
     — the Levy & Goldberg (2014) result that PPMI-factorized vectors
     match word2vec's implicit objective; all public.
  3. truncated eigendecomposition of the SYMMETRIZED (dense,
     vocab-capped) PPMI matrix on the driver (smoothing breaks exact
     symmetry; word/context roles are averaged): vec(w) = top-k
     eigenvectors scaled by
     sqrt(eigenvalue), rows L2-normalized, eigenvector SIGNS fixed
     deterministically (largest-|component| positive) so two runs — or
     two clusters — produce bit-identical vectors.

Scale shape: the counting pass is fully distributed and the only one that
touches the corpus; the densified matrix is vocab-capped (``top_vocab``,
default 2048 -> 32 MB driver dense; 16k -> 2 GB, the practical driver
ceiling). Web-scale vocabularies use
:func:`train_ppmi_vectors_distributed` (r6): randomized block
eigendecomposition (Halko, Martinsson & Tropp 2011, §4.3-4.4 + Rayleigh-
Ritz) over the DISTRIBUTED symmetrized-PPMI COO table — every V-sized
object stays a DataFrame, the driver touches only r x r Gram/Ritz
matrices (r = dim + oversample), and the V x V matrix is never densified
anywhere. That replaces the reference's external fastText binary
(Make_Page/MakePage.cpp:247-398) with an in-engine trainer whose only
scale bound is the corpus itself.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as _pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import current_scope
from ..functions.tokenize import IDENT_RE


def cooccurrence_counts(
    docs: DataFrame,
    text_col: str = "text",
    window: int = 4,
    pattern: str = IDENT_RE,
) -> DataFrame:
    """(w, c, n) — ordered co-occurrence counts: token ``w`` at position i,
    token ``c`` at i+d for 1 <= d <= window, summed over the corpus.
    Ordered counts halve the shuffle volume; consumers needing symmetric
    counts add the transpose (train_ppmi_vectors does, in numpy).

    Shape (r7): tokenize in the JVM (codegen regex, unchanged), then count
    pairs per Arrow batch — dictionary-encode the batch's flat token
    stream once, pack each (w, c) pair into one 64-bit code key, and
    np.unique gives the batch's partial counts. Only those partial rows
    (<= the batch's DISTINCT pairs, never the raw window*tokens pair
    stream) enter the final (w, c) hash-aggregate. The previous plan
    exploded every pair occurrence (window x corpus tokens rows) through
    the JVM aggregate; moving the per-batch combine into vectorized
    numpy measured 2.4x faster at bench scale with identical output.
    Peak per-batch memory is window * batch tokens * 8 B of key space —
    bounded by spark.sql.execution.arrow.maxRecordsPerBatch. Hot pairs
    ('int','return') combine inside each batch, so the exchange sees at
    most one row per (batch, pair) — the same skew absorption the
    map-side partial aggregation used to provide."""
    from ..deploy import ship_package

    ship_package(docs.sparkSession)
    toks = F.array_compact(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(pattern), F.lit(0))
    )
    base = docs.select(F.coalesce(toks, F.array().cast("array<string>")).alias("_t"))

    def count_pairs(batches):
        for b in batches:
            tl = b.column(0)
            counts = _pc.list_value_length(tl).to_numpy(zero_copy_only=False)
            flat = _pc.list_flatten(tl)
            if len(flat) == 0:
                continue
            enc = flat.dictionary_encode()
            codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            offs = np.cumsum(counts) - counts  # each doc's flat start
            keys = []
            for d in range(1, window + 1):
                # left positions i with i+d still inside the same doc
                n_left = np.maximum(counts - d, 0)
                left = np.repeat(offs, n_left) + (
                    np.arange(int(n_left.sum()))
                    - np.repeat(np.cumsum(n_left) - n_left, n_left)
                )
                keys.append((codes[left] << 32) | codes[left + d])
            uk, cnt = np.unique(np.concatenate(keys), return_counts=True)
            yield pa.RecordBatch.from_arrays(
                [
                    enc.dictionary.take(pa.array(uk >> 32)),
                    enc.dictionary.take(pa.array(uk & np.int64(0xFFFFFFFF))),
                    pa.array(cnt, type=pa.int64()),
                ],
                ["w", "c", "n"],
            )

    part = base.mapInArrow(count_pairs, schema="w string, c string, n long")
    return part.groupBy("w", "c").agg(F.sum("n").alias("n"))


def train_ppmi_vectors(
    cooc: DataFrame,
    dim: int = 16,
    top_vocab: int = 2048,
    alpha: float = 0.75,
) -> DataFrame:
    """(term, vec array<double>) — PPMI-factorized word vectors.

    ``cooc``: output of :func:`cooccurrence_counts`. The vocabulary is
    capped to the ``top_vocab`` most frequent terms (by total
    co-occurrence mass — one tiny aggregate); the dense PPMI matrix for
    that vocab is built driver-side and eigendecomposed. Deterministic:
    vocab order is (count desc, term asc), eigenvector signs are fixed,
    numpy eigh is reproducible for a fixed matrix.
    """
    # the counts table feeds two consumers (vocab totals + the filtered
    # pull) — persist it so the corpus-sized counting pass runs ONCE
    scope = current_scope()
    cooc = scope.persist(cooc)
    # ONE pass over the cached counts: explode each row into its two
    # (term, n) margin contributions and hash-aggregate once — the
    # previous union-of-two-groupBys scanned the counts table twice
    # and re-aggregated the union (3 exchanges -> 1, measured ~2x
    # faster; sums of longs, so totals are bit-identical)
    totals = (
        cooc.select(
            F.explode(
                F.array(
                    F.struct(F.col("w").alias("t"), F.col("n").alias("n")),
                    F.struct(F.col("c").alias("t"), F.col("n").alias("n")),
                )
            ).alias("p")
        )
        .groupBy(F.col("p.t").alias("w"))
        .agg(F.sum("p.n").alias("m"))
    )
    vocab_rows = (
        totals.orderBy(F.desc("m"), F.asc("w")).limit(top_vocab).collect()
    )
    vocab = [r["w"] for r in vocab_rows]
    index = {t: i for i, t in enumerate(vocab)}
    V = len(vocab)
    if V == 0:
        raise ValueError("empty co-occurrence table")
    if V < dim:
        # silently returning V-dim vectors would make downstream
        # element_at('vec', d+1) reads throw under ANSI mode
        raise ValueError(
            f"dim={dim} exceeds the usable vocabulary ({V} terms); "
            "lower dim or provide more text"
        )
    spark = cooc.sparkSession
    # broadcast semi-joins, NOT isin(V literals): a 2048-literal In
    # expression costs seconds of driver planning and defeats codegen;
    # Arrow toPandas moves the ~V^2-bounded pair list in columnar
    # batches instead of py4j row objects
    vocab_df = spark.createDataFrame([(t,) for t in vocab], "t string")
    pairs = (
        cooc.join(F.broadcast(vocab_df), cooc["w"] == vocab_df["t"], "leftsemi")
        .join(F.broadcast(vocab_df), cooc["c"] == vocab_df["t"], "leftsemi")
        .select("w", "c", "n")
        .toPandas()
    )
    scope.release(cooc)
    M = np.zeros((V, V), dtype=np.float64)
    np.add.at(
        M,
        (pairs["w"].map(index).to_numpy(), pairs["c"].map(index).to_numpy()),
        pairs["n"].to_numpy(dtype=np.float64),
    )
    M = M + M.T  # symmetric counts

    total = M.sum()
    if total == 0:
        # vocab-filtered pull came back empty: dividing by total would
        # silently produce NaN PPMI and garbage vectors
        raise ValueError("no in-vocabulary co-occurrences (empty pair pull)")
    pw = M.sum(axis=1) / total
    ctx = M.sum(axis=0) ** alpha
    pc = ctx / ctx.sum()
    with np.errstate(divide="ignore", invalid="ignore"):
        pmi = np.log((M / total) / np.outer(pw, pc))
    ppmi = np.where(np.isfinite(pmi) & (pmi > 0), pmi, 0.0)
    # context-distribution smoothing makes pc != pw, so this PPMI matrix
    # is NOT symmetric — and eigh silently reads only one triangle.
    # Factorize the symmetric part (word/context roles averaged), the
    # standard move for eigendecomposing a smoothed PPMI
    ppmi = (ppmi + ppmi.T) / 2.0

    vals, vecs = np.linalg.eigh(ppmi)  # ascending eigenvalues
    top = np.argsort(-vals)[:dim]
    vals_t = np.maximum(vals[top], 0.0)
    U = vecs[:, top] * np.sqrt(vals_t)
    # deterministic sign: the largest-|component| entry of each column >= 0
    for j in range(U.shape[1]):
        i = int(np.argmax(np.abs(U[:, j])))
        if U[i, j] < 0:
            U[:, j] = -U[:, j]
    norms = np.linalg.norm(U, axis=1)
    norms[norms == 0] = 1.0
    U = U / norms[:, None]

    return spark.createDataFrame(
        [(t, U[i].tolist()) for t, i in index.items()],
        "term string, vec array<double>",
    )


# ------------------------------------------------ distributed factorization


def _project_components(df: DataFrame, col: str, r: int) -> DataFrame:
    """Project array elements to plain columns BEFORE wide aggregates:
    Spark's subexpression elimination does not dedupe element_at across
    aggregate expressions (r2 finding), so an r^2-aggregate Gram pass over
    raw element_at would re-evaluate each lookup r times."""
    return df.select(
        "*", *[F.element_at(col, k + 1).alias(f"_p{k}") for k in range(r)]
    )


def _matmul_coo(A: DataFrame, X: DataFrame, r: int) -> DataFrame:
    """Y = A @ X for COO A(w, c, v) and tall-skinny X(term, x array<double>
    [r]) -> (term, x). ONE shuffle: join on the contraction index, then a
    hash-aggregate with r parallel SUMs (map-side partials absorb hot
    rows). This is the only corpus-vocab-sized operation in the whole
    randomized factorization."""
    j = A.join(X.select(F.col("term").alias("c"), "x"), "c")
    j = _project_components(j, "x", r)
    y = j.groupBy(F.col("w").alias("term")).agg(
        *[F.sum(F.col("v") * F.col(f"_p{k}")).alias(f"_y{k}") for k in range(r)]
    )
    return y.select("term", F.array(*[f"_y{k}" for k in range(r)]).alias("x"))


def _gram(Y: DataFrame, r: int) -> np.ndarray:
    """G = Y^T Y (r x r) via one aggregate pass — the tall-skinny-QR trick
    that keeps orthonormalization off the driver's V axis."""
    p = _project_components(Y, "x", r)
    aggs = [
        F.sum(F.col(f"_p{a}") * F.col(f"_p{b}")).alias(f"g_{a}_{b}")
        for a in range(r)
        for b in range(a, r)
    ]
    row = p.agg(*aggs).first()
    G = np.zeros((r, r))
    for a in range(r):
        for b in range(a, r):
            G[a, b] = G[b, a] = row[f"g_{a}_{b}"] or 0.0
    return G


def _apply_right(Y: DataFrame, M: np.ndarray) -> DataFrame:
    """Row-wise x -> x @ M for a small broadcast-literal M (r_in x r_out):
    pure codegen, no shuffle, no UDF."""
    r_in, r_out = M.shape
    p = _project_components(Y, "x", r_in)
    out = F.array(
        *[
            sum(F.col(f"_p{a}") * F.lit(float(M[a, k])) for a in range(r_in))
            for k in range(r_out)
        ]
    )
    return p.select("term", out.alias("x"))


def _orth_factor(G: np.ndarray) -> np.ndarray:
    """W with (YW) orthonormal, from G = Y^T Y: symmetric inverse square
    root via eigh, rank-deficient directions dropped to zero."""
    vals, vecs = np.linalg.eigh((G + G.T) / 2.0)
    inv = np.where(vals > 1e-12 * max(vals.max(), 1.0), 1.0 / np.sqrt(np.maximum(vals, 1e-300)), 0.0)
    return vecs @ np.diag(inv) @ vecs.T


def ppmi_coo(cooc: DataFrame, alpha: float = 0.75) -> tuple[DataFrame, DataFrame]:
    """(ppmi, margins): the symmetrized-PPMI matrix as a COO DataFrame
    (w, c, v) plus the margins table (term, m) — the exact distributed
    twin of the driver path's dense pipeline. Because the symmetrized
    count matrix has M[i,j] = M[j,i], BOTH PPMI orientations of a pair
    are computable from one entry and the two margins:

        s_ij = (pos(log(x / (pw_i * pc_j))) + pos(log(x / (pw_j * pc_i)))) / 2

    with x = M_ij/total — so the (P + P^T)/2 symmetrization needs NO
    self-join, just the margin join. V x V never materializes; the COO
    stays exactly as sparse as the observed co-occurrences."""
    sym = (
        cooc.select("w", "c", "n")
        .unionByName(cooc.select(F.col("c").alias("w"), F.col("w").alias("c"), "n"))
        .groupBy("w", "c")
        .agg(F.sum("n").alias("n"))
    )
    scope = current_scope()
    sym = scope.persist(sym)
    margins = scope.persist(
        sym.groupBy(F.col("w").alias("term")).agg(F.sum("n").alias("m"))
    )
    tot_row = margins.agg(
        F.sum("m").alias("total"), F.sum(F.pow("m", alpha)).alias("ctx_sum")
    ).first()
    total, ctx_sum = float(tot_row["total"] or 0.0), float(tot_row["ctx_sum"] or 1.0)
    if total == 0:
        raise ValueError("no in-vocabulary co-occurrences (empty pair pull)")
    mw = margins.select(F.col("term").alias("w"), F.col("m").alias("_mw"))
    mc = margins.select(F.col("term").alias("c"), F.col("m").alias("_mc"))
    e = sym.join(mw, "w").join(mc, "c")
    x = F.col("n") / F.lit(total)
    pw_w = F.col("_mw") / F.lit(total)
    pw_c = F.col("_mc") / F.lit(total)
    pc_w = F.pow("_mw", alpha) / F.lit(ctx_sum)
    pc_c = F.pow("_mc", alpha) / F.lit(ctx_sum)
    pos = lambda col: F.greatest(col, F.lit(0.0))  # noqa: E731
    v = (pos(F.log(x / (pw_w * pc_c))) + pos(F.log(x / (pw_c * pc_w)))) / 2
    return e.select("w", "c", v.alias("v")).filter(F.col("v") > 0), margins


def _seeded_gaussians(term_col, r: int, seed: int):
    """r deterministic N(0,1) draws per term as PURE CODEGEN: two
    xxhash64-derived uniforms per draw through Box-Muller. No driver
    V x r materialization, no RNG state — the sketch matrix Omega exists
    only as an expression over the vocabulary table."""
    cols = []
    denom = float((1 << 24) + 2)
    for k in range(r):
        u1 = (F.pmod(F.xxhash64(term_col, F.lit(seed * 2654435761 + 2 * k)), F.lit(1 << 24)) + 1) / denom
        u2 = (F.pmod(F.xxhash64(term_col, F.lit(seed * 2654435761 + 2 * k + 1)), F.lit(1 << 24)) + 1) / denom
        cols.append(F.sqrt(F.lit(-2.0) * F.log(u1)) * F.cos(F.lit(2.0 * np.pi) * u2))
    return F.array(*cols)


def train_ppmi_vectors_distributed(
    cooc: DataFrame,
    dim: int = 16,
    alpha: float = 0.75,
    oversample: int = 8,
    power_iters: int = 2,
    seed: int = 42,
) -> DataFrame:
    """(term, vec array<double>) — the same PPMI factorization as
    :func:`train_ppmi_vectors`, with NO vocabulary cap: randomized block
    eigendecomposition (Halko et al. 2011) over the distributed COO.

    The algorithm, with every V-sized object distributed:

      1. ``A`` = symmetrized PPMI COO (:func:`ppmi_coo`), persisted — it
         is contracted 3 + power_iters times.
      2. Sketch ``Y = A @ Omega`` where Omega is a seeded-hash Gaussian
         EXPRESSION (no materialized V x r on any single machine).
      3. Orthonormalize via the tall-skinny Gram trick: G = Y^T Y (r x r
         on the driver), Q = Y @ G^(-1/2). Power iterations repeat
         Y = A @ Q to sharpen the spectrum (A is symmetric, so each
         multiply squares the singular-value decay).
      4. Rayleigh-Ritz: B = Q^T A Q (r x r), eigh(B) on the driver,
         vectors = Q @ (top-dim eigvecs * sqrt(eigval)), then the same
         deterministic sign fix + row L2 normalization as the driver
         path — all computed as codegen column math.

    Driver memory: O(r^2) matrices only (r = dim + oversample).
    Determinism: the sketch is seeded-hash; distributed float summation
    order makes reruns equal to ~1e-12 rather than bit-identical (the
    driver path keeps bit-identity for capped vocabularies).
    Parity: test_embed pins cosine >= 0.99 (up to sign) against the
    eigh path on a shared corpus.

    The result reads its persisted intermediates (the PPMI COO, the final
    Q and the raw projection), which belong to the current
    :class:`~searchenginer_spark.cache.CacheScope`: write or collect the
    result before that scope closes."""
    scope = current_scope()
    A, margins = ppmi_coo(cooc, alpha=alpha)
    A = scope.persist(A)
    n_aggs = A.agg(
        F.count(F.lit(1)).alias("nnz"), F.countDistinct("w").alias("v")
    ).first()
    V = int(n_aggs["v"] or 0)
    if V == 0:
        raise ValueError("empty PPMI matrix (no positive associations)")
    if V < dim:
        raise ValueError(
            f"dim={dim} exceeds the usable vocabulary ({V} terms); "
            "lower dim or provide more text"
        )
    r = min(dim + oversample, V)

    vocab = margins.select("term")
    omega = vocab.select("term", _seeded_gaussians(F.col("term"), r, seed).alias("x"))
    # persist each sketch Y before its _gram action: the action then fills
    # the cache and every later consumer (the next matmul, Q) recomputes
    # only the narrow Y @ factor map — without this, each _gram replays
    # the whole matmul chain from omega (O(power_iters^2) corpus-vocab
    # shuffles instead of O(power_iters))
    y_handles: list[DataFrame] = []
    Y = scope.persist(_matmul_coo(A, omega, r))
    y_handles.append(Y)
    Q = _apply_right(Y, _orth_factor(_gram(Y, r)))
    for _ in range(power_iters):
        Y = scope.persist(_matmul_coo(A, Q, r))
        y_handles.append(Y)
        Q = _apply_right(Y, _orth_factor(_gram(Y, r)))
    Q = scope.persist(Q)

    # Rayleigh-Ritz: B = Q^T (A Q), r x r via one joined aggregate pass
    T = _matmul_coo(A, Q, r)
    qj = _project_components(Q, "x", r).select(
        "term", *[F.col(f"_p{a}").alias(f"_q{a}") for a in range(r)]
    )
    tj = _project_components(T, "x", r).select(
        "term", *[F.col(f"_p{b}").alias(f"_t{b}") for b in range(r)]
    )
    row = (
        qj.join(tj, "term")
        .agg(
            *[
                F.sum(F.col(f"_q{a}") * F.col(f"_t{b}")).alias(f"b_{a}_{b}")
                for a in range(r)
                for b in range(r)
            ]
        )
        .first()
    )
    # the row aggregate above materialized Q's cache; the intermediate
    # sketches are dead now — every later consumer reads Q directly
    for y in y_handles:
        scope.release(y)
    B = np.zeros((r, r))
    for a in range(r):
        for b in range(r):
            B[a, b] = row[f"b_{a}_{b}"] or 0.0
    vals, vecs = np.linalg.eigh((B + B.T) / 2.0)
    top = np.argsort(-vals)[:dim]
    U_small = vecs[:, top] * np.sqrt(np.maximum(vals[top], 0.0))

    raw = scope.persist(_apply_right(Q, U_small))
    # deterministic sign fix (driver-path semantics: the largest-|value|
    # component of each column ends up positive), then row L2 normalize
    rp = _project_components(raw, "x", dim)
    sign_row = rp.agg(
        *[F.max_by(F.col(f"_p{k}"), F.abs(F.col(f"_p{k}"))).alias(f"s{k}") for k in range(dim)]
    ).first()
    signs = [1.0 if (sign_row[f"s{k}"] or 0.0) >= 0 else -1.0 for k in range(dim)]
    comps = [F.col(f"_p{k}") * F.lit(signs[k]) for k in range(dim)]
    nrm = F.sqrt(sum(c * c for c in comps))
    vec = F.array(
        *[F.when(nrm > 0, c / nrm).otherwise(F.lit(0.0)) for c in comps]
    )
    scope.release(margins)
    return rp.select("term", vec.alias("vec"))


def doc_vectors_from(
    tf: DataFrame,
    dft: DataFrame,
    stats: DataFrame,
    term_vecs: DataFrame,
    dim: int,
    broadcast_vectors: bool | None = None,
) -> DataFrame:
    """(doc_id, vec) — the MakePage.cpp:247-398 doc-vector semantics
    (TF-IDF-weighted average of per-term vectors, non-positive weights
    skipped, L2-normalized) over a TRAINED term-vector table instead of
    the hash embedding. Same shuffle shape as operators/vectors.doc_vectors:
    the vector components ride the dft join, accumulation is ``dim``
    parallel SUM aggregates in one hash-aggregate pass.

    ``broadcast_vectors``: :func:`train_ppmi_vectors` output is
    vocab-capped (broadcastable by construction) but
    :func:`train_ppmi_vectors_distributed` is uncapped — a hard
    broadcast HINT on a web-scale vocabulary would override Spark's
    size threshold and OOM (the same trap score_docs documents). The
    default ``None`` emits NO hint and lets AQE broadcast at runtime
    when the table is actually small; pass ``True`` only for a model
    you KNOW is capped."""
    from .vectors import weighted_doc_vectors

    tv_side = F.broadcast(term_vecs) if broadcast_vectors else term_vecs
    tv = dft.join(tv_side, "term").select(
        "term",
        "df",
        *[F.element_at("vec", d + 1).alias(f"_v{d}") for d in range(dim)],
    )
    return weighted_doc_vectors(tf, tv, stats, dim)
