"""Deduplication operators: exact, SimHash-banded, MinHash-LSH, n-gram
Jaccard, embedding-cosine.

Reference semantics (/root/reference/Make_Page/rcc.cpp:146-202): a document
is dropped if its simhash is an exact repeat or within hamming<=3 of a
previously kept doc (file order). That greedy sequential scan is O(n^2) and
order-dependent; our rule is the deterministic parallel analog: a doc is
dropped iff a *smaller doc_id* exists within the similarity threshold
("lowest doc_id wins", SURVEY.md §2.9.6). On duplicate chains the greedy
and parallel rules can differ (greedy re-admits a doc whose only near
neighbor was itself dropped); we accept the parallel rule as the defined
semantics — it is deterministic, one shuffle, and scale-stable.

Every candidate generator here is a banded equi-join (LSH family), never an
all-pairs join: simhash bands (pigeonhole over hamming), minhash band
hashes (Jaccard), winnowing fingerprints, SRP bands for cosine. At 100 TB
the only all-pairs work ever done is within tiny equal-band buckets.

Caches: an operator whose lazy result reads an intermediate several times
persists it in the current CacheScope (searchenginer_spark/cache.py), and
the clustering's checkpoints go there too. Pair generators run no Spark
job when constructed; dedup_docs_and_tf and near_dup_clusters fill their
caches eagerly, because their consumers fork concurrent jobs. The caller
that opened the scope frees everything by closing it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import CacheScope, current_scope
from ..functions.hashing import minhash_signatures, simhash_bands, token_shingles
from ..functions.spans import merge_token_spans
from ..functions.tokenize import tokens
from ..plans.build_index import IndexPaths
def exact_duplicates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(content_hash, keep_id, n_copies) — groups with n_copies > 1.

    Exact dedup = hash-groupBy on sha256(text); lowest doc_id survives.
    """
    return (
        docs.select(F.sha2(F.col(text_col), 256).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """docs with exact duplicates removed (lowest doc_id kept).

    Hashes with the index root's content-hash rule
    (``IndexPaths.content_hash``), so the cross-fold hashes table dedups
    folds by the same digests: a stored ``content_sha256`` is reused for
    ``content`` text instead of re-hashing every byte of the corpus."""
    w_keep = (
        docs.select(
            IndexPaths.content_hash(docs, text_col).alias("content_hash"),
            F.col(id_col),
        )
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col))
    )
    return docs.join(w_keep, id_col, "left_semi")


def dedup_docs(
    docs: DataFrame,
    how: str = "exact",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    top_n: int = 20,
) -> DataFrame:
    """corpus -> deduped corpus: the build-pipeline dedup stage.

    The reference dedups INSIDE the store step before indexing
    (/root/reference/Make_Page/rcc.cpp:146-202: exact simhash repeat, then
    hamming<=3 near-dup against previously kept docs). Spark analog with the
    deterministic lowest-id-wins rule (SURVEY §2.9.6):

      how='exact'    drop byte-identical copies (sha256 hash-groupBy)
      how='simhash'  exact pass first, then drop docs with a smaller-id
                     neighbor within hamming<=max_hamming of the
                     top-``top_n``-TF-IDF-keyword simhash

    Wired into plans.build_index.build_index(dedup=...) so the end-to-end
    corpus -> dedup -> index pipeline is one call.

    The stage's caches (the tf table, the loser set, minhash_cc's cluster
    checkpoints) belong to the current :class:`CacheScope`; consume the
    result before that scope closes.
    """
    return dedup_docs_and_tf(
        docs, how, text_col, id_col, max_hamming=max_hamming, top_n=top_n
    )[0]


def dedup_docs_and_tf(
    docs: DataFrame,
    how: str = "exact",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    top_n: int = 20,
    with_positions: bool = False,
    tokenizer: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """(deduped docs, tf over the deduped docs, survivor (term, df, cf) or
    None) — fused dedup + term-frequency stage sharing ONE tokenize pass.

    Tokenize+tf is the widest stage of the build DAG (PLANS.md §3); the
    ``dedup='simhash'`` pipeline needs tf twice — for the TF-IDF-keyword
    simhash fingerprints AND for the index's term stats. This helper computes
    it once over the exact-deduped corpus, persists it, mints the simhash
    loser set from it, and returns the survivor-filtered view for the index
    stats, so the end-to-end dedup build tokenizes the corpus exactly once.

    The returned tf carries (doc_id, term, tf[, positions]) regardless of
    ``id_col`` (pair/tf frames are keyed on doc_id internally). The third
    value is the survivors' precomputed term aggregate for 'simhash' (see
    below) and None for the other modes. Every cache the stage fills
    belongs to the current :class:`CacheScope`, so the caller consumes the
    results before that scope closes (build_index opens one per build).
    """
    from ..functions.hashing import simhash, tfidf_top_keywords
    from .stats import corpus_stats, doc_lengths, document_frequencies, term_frequencies

    scope = current_scope()
    out = dedup_exact(docs, text_col, id_col)
    if how not in ("exact", "simhash", "minhash_cc"):
        raise ValueError(
            f"unknown dedup mode {how!r} (use 'exact', 'simhash' or 'minhash_cc')"
        )
    named = out if id_col == "doc_id" else out.withColumnRenamed(id_col, "doc_id")
    tf = scope.persist(
        term_frequencies(
            named, text_col=text_col, with_positions=with_positions,
            tokenizer=tokenizer,
        )
    )
    if how == "exact":
        return out, tf, None
    if how == "minhash_cc":
        # transitive MinHash clustering (r6): LSH pairs -> large-star/
        # small-star connected components -> lowest-id survivor per
        # cluster. The shingle pass is minhash's own text scan (it needs
        # n-gram shingles, not the tf terms), so unlike simhash this mode
        # costs one extra pass over the exact-deduped text — the price of
        # TRANSITIVE near-dup semantics (A~B~C collapses to one doc even
        # when A!~C directly). Losers join without a broadcast hint: in
        # dup-heavy corpora they are a large corpus fraction (AQE still
        # broadcasts when small).
        clusters = near_dup_clusters(named, text_col=text_col)
        losers = scope.persist(clusters.filter(~F.col("is_kept")).select("doc_id"))
        # fill the cache before build_index's concurrent consumers fork
        # (see the simhash path below for the rationale); cheap here — the
        # cluster table is already checkpointed by near_dup_clusters
        losers.count()
        kept_tf = tf.join(losers, "doc_id", "left_anti")
        kept_docs = (
            out.join(
                losers if id_col == "doc_id"
                else losers.withColumnRenamed("doc_id", id_col),
                id_col,
                "left_anti",
            )
        )
        return kept_docs, kept_tf, None
    # persist + count dft: this path's single term-aggregate materializes
    # HERE, so the keyword pass's size-gated broadcast (see
    # tfidf_top_keywords) reads the cache instead of re-aggregating — and
    # when the vocabulary is bounded, the broadcast removes the pass's
    # only corpus-sized exchange (the tf-side term join)
    dft = scope.persist(document_frequencies(tf))
    dft.count()
    stats = corpus_stats(doc_lengths(tf))
    # persist + EAGERLY fill the fingerprints before the banded self-join:
    # both join sides otherwise execute the whole fingerprint lineage (the
    # keyword aggregate + 64-bit vote), and a cold cache does not dedup
    # the two sides' concurrent fills inside the join job. 16 B/doc.
    fingerprints = scope.persist(
        simhash(tfidf_top_keywords(tf, dft, stats, top_n=top_n))
    )
    fingerprints.count()
    pairs = simhash_near_pairs(fingerprints, max_hamming=max_hamming)
    # losers are consumed by every downstream tf/docs action — persist so
    # the banded self-join runs once, not once per consumer. NO broadcast
    # hint: in a dup-heavy web corpus the loser set is a large corpus
    # fraction (documented crawl near-dup rates run 25-40%), and a hint
    # would force-collect it regardless of size; AQE still broadcasts it
    # at runtime when it is actually small
    losers = scope.persist(pairs.select(F.col("doc_id_2").alias("doc_id")).distinct())
    # materialize ONCE, here, before any consumer forks: build_index runs
    # the docs write, the stats chain and the dict chain on CONCURRENT
    # threads, and a persisted-but-cold cache does not serialize parallel
    # fills — all three would execute the fingerprint + banded-join chain
    # simultaneously (measured: the dict phase of a fresh dedup build ran
    # ~2x the standalone chain cost). Eagerness is safe: since the no-op-
    # resume gate, this stage is only constructed when it is consumed.
    losers.count()
    # the fingerprints are fully consumed into `losers` — free them now
    # rather than riding them through the whole build
    scope.release(fingerprints)
    kept_tf = tf.join(losers, "doc_id", "left_anti")
    # precomputed survivor df/cf by SUBTRACTION (r7): the full-corpus dft
    # is already materialized for the keyword pass, and the losers are the
    # small side, so df(kept) = df(all) - df(losers) term-by-term (exact
    # integer arithmetic over disjoint doc sets; terms whose every doc
    # lost drop out at df=0). The index build consumes this instead of
    # re-aggregating the whole kept tf — one corpus-wide term aggregate
    # per dedup build instead of two.
    loser_dft = document_frequencies(tf.join(losers, "doc_id", "left_semi"))
    kept_dft = (
        dft.join(
            loser_dft.select(
                "term", F.col("df").alias("_ldf"), F.col("cf").alias("_lcf")
            ),
            "term",
            "left",
        )
        .select(
            "term",
            (F.col("df") - F.coalesce(F.col("_ldf"), F.lit(0))).alias("df"),
            (F.col("cf") - F.coalesce(F.col("_lcf"), F.lit(0))).alias("cf"),
        )
        .filter(F.col("df") > 0)
    )
    # anti-join the SAME persisted losers frame on the docs side — deriving
    # it again from a renamed pairs plan (the old dedup_by_pairs detour)
    # missed the cache for id_col != 'doc_id' and ran the banded self-join
    # twice
    kept_docs = out.join(
        losers if id_col == "doc_id" else losers.withColumnRenamed("doc_id", id_col),
        id_col,
        "left_anti",
    )
    return kept_docs, kept_tf, kept_dft


def simhash_near_pairs(
    fingerprints: DataFrame,
    max_hamming: int = 3,
    n_bands: int | None = None,
) -> DataFrame:
    """(doc_id, doc_id_2, hamming) pairs within the hamming threshold.

    Banded self-join: each fingerprint explodes into n_bands (band_idx,
    band_val) keys; pairs sharing a band are verified with bit_count(xor).
    Complete for hamming <= n_bands-1 by pigeonhole (bits outside the
    banded region, when n_bands doesn't divide 64, can only ADD shared
    bands — completeness is unaffected). n_bands therefore DEFAULTS to
    max_hamming+1 so the guarantee always covers the requested
    threshold; passing an insufficient explicit value raises instead of
    silently missing pairs. doc_id < doc_id_2.

    A plain lazy plan: constructing it runs no job. Both sides of the
    self-join read ``fingerprints``, so a caller whose fingerprint lineage
    is expensive persists and fills it first, in its :class:`CacheScope`
    (dedup_docs_and_tf does).
    """
    if n_bands is None:
        n_bands = max_hamming + 1
    elif n_bands <= max_hamming:
        raise ValueError(
            f"n_bands={n_bands} cannot guarantee completeness for "
            f"max_hamming={max_hamming} (pigeonhole needs > max_hamming bands)"
        )
    a = simhash_bands(fingerprints.select("doc_id", "simhash"), n_bands=n_bands)
    b = (
        a.select(
            F.col("doc_id").alias("doc_id_2"),
            F.col("simhash").alias("simhash_2"),
            "band_idx",
            "band_val",
        )
    )
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_id") < F.col("doc_id_2"))
        .select(
            "doc_id",
            "doc_id_2",
            F.bit_count(F.col("simhash").bitwiseXOR(F.col("simhash_2"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def dedup_by_pairs(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Drop every doc that has a similar neighbor with a smaller id.

    ``pairs`` must carry (``id_col``, ``id_col + '_2'``) with id < id_2.
    No broadcast hint on the loser set: dup-heavy corpora make it a large
    corpus fraction, and a hint overrides the size threshold; AQE picks a
    runtime broadcast whenever it is actually small, so the common case
    still probes the docs table without shuffling it."""
    losers = pairs.select(F.col(f"{id_col}_2").alias(id_col)).distinct()
    return docs.join(losers, id_col, "left_anti")


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, doc_id_2, est_jaccard) near-dup pairs via MinHash-LSH.

    shingle -> 64 minhashes -> 16 bands x 4 rows -> band-hash equi-join on
    (doc_id, band_hash) ONLY -> distinct candidate pairs -> re-join the two
    signatures once per surviving pair -> estimated-Jaccard filter (fraction
    of equal minhashes, the standard unbiased estimator).

    Shuffle shape: the dominant band self-join carries 16 x 16 bytes per
    doc, never the 512-byte signature array (which would be ~16 KB/doc
    through the explode); signatures ride exactly two joins keyed by the
    (small) surviving-pair set. ``sigs`` is persisted in the current
    :class:`CacheScope` because three downstream subtrees consume it — at
    warehouse scale it would be a materialized signature table. The
    persist is lazy: the first action on the result fills it.
    """
    rows_per_band = num_hashes // bands
    toks = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
    # distinct=False: min over a multiset == min over its set, so skipping
    # the shingle-string distinct changes nothing downstream but removes
    # the widest shuffle of the pipeline
    sigs = current_scope().persist(
        minhash_signatures(token_shingles(toks, n=shingle_n, distinct=False), num_hashes)
    )

    # band value = the 4 raw minhash values, concatenated; hashed to 8 bytes
    # for the shuffle. (The DuckDB oracle joins on the raw concatenation —
    # equal strings <=> equal hashes up to a 2^-64 collision.)
    band_arr = F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                        for r in range(rows_per_band)
                    ],
                ),
                F.lit(b),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select("doc_id", F.posexplode(band_arr).alias("band_idx", "band_hash"))
    other = banded.select(
        F.col("doc_id").alias("doc_id_2"), "band_idx", "band_hash"
    )
    pairs = (
        banded.join(other, ["band_idx", "band_hash"])
        .filter(F.col("doc_id") < F.col("doc_id_2"))
        .select("doc_id", "doc_id_2")
        .distinct()
    )
    est = (
        F.aggregate(
            F.zip_with("sig", "sig_2", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(float(num_hashes))
    )
    return (
        pairs.join(sigs, "doc_id")
        .join(
            sigs.select(F.col("doc_id").alias("doc_id_2"), F.col("sig").alias("sig_2")),
            "doc_id_2",
        )
        .select("doc_id", "doc_id_2", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def embedding_cosine_pairs(
    vecs: DataFrame,
    threshold: float = 0.95,
    tables: int = 2,
    planes_per_table: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    round_to: int | None = None,
) -> DataFrame:
    """(id, id_2, cos) near-dup pairs by embedding cosine similarity.

    Candidate generation is ``tables`` independent SRP hash tables (seeded
    hyperplane sign codes, the classic multi-table LSH family): a pair is a
    candidate iff it collides in ANY table — per-table collision prob for
    angle θ is (1-θ/π)^planes_per_table, so exact/near-duplicate vectors
    (cos -> 1) are recalled with prob -> 1 while the bulk of random pairs
    never meets. Never an all-pairs join; the only all-pairs work is within
    equal-code buckets. Exact cosine then verifies >= threshold.

    Same band-join shape as minhash_lsh_pairs: only (id, table, 8-byte
    code) rides the self-join; vectors are re-joined per surviving pair.
    The source vectors are persisted in the current :class:`CacheScope`
    (three subtrees read them). Construction runs one small job: the
    dimension sniff.
    """
    from .ann import _dot, _norm, _planes, srp_code

    # dimension sniff over NON-NULL rows: one corrupt (null) leading row
    # must not silently zero out the pair generation for the whole table
    first = vecs.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if first is None:
        # genuinely no vectors: no pairs (never TypeError on first()[0])
        id_type = vecs.schema[id_col].dataType.simpleString()
        return vecs.sparkSession.createDataFrame(
            [], f"{id_col} {id_type}, {id_col}_2 {id_type}, cos double"
        )
    dim = len(first[0])
    planes = _planes(dim, tables * planes_per_table, seed)
    v = F.col(vec_col).cast("array<double>")
    codes = F.array(
        *[
            srp_code(v, planes[t * planes_per_table : (t + 1) * planes_per_table])
            for t in range(tables)
        ]
    )
    src = current_scope().persist(vecs)
    banded = src.select(F.col(id_col).alias("_id"), F.posexplode(codes).alias("tbl", "code"))
    other = banded.select(F.col("_id").alias("_id2"), "tbl", "code")
    pairs = (
        banded.join(other, ["tbl", "code"])
        .filter(F.col("_id") < F.col("_id2"))
        .select("_id", "_id2")
        .distinct()
    )
    a = src.select(F.col(id_col).alias("_id"), v.alias("_va"))
    b = src.select(F.col(id_col).alias("_id2"), v.alias("_vb"))
    denom = _norm(F.col("_va")) * _norm(F.col("_vb"))
    cos = F.when(denom > 0, _dot(F.col("_va"), F.col("_vb")) / denom).otherwise(F.lit(0.0))
    out_cos = F.round(cos, round_to) if round_to is not None else cos
    return (
        pairs.join(a, "_id")
        .join(b, "_id2")
        .filter(cos >= threshold)
        .select(
            F.col("_id").alias(id_col),
            F.col("_id2").alias(f"{id_col}_2"),
            out_cos.alias("cos"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """(doc_id, doc_id_2, jaccard) — EXACT n-gram Jaccard similar pairs.

    Shuffle shape: explode shingles -> equi-join on shingle -> count
    intersections per pair -> |A|+|B|-|∩| union. Exact but quadratic in a
    shingle's doc list — at scale use minhash_lsh_pairs; this operator is
    the oracle-checkable exact variant (and the verifier for LSH recall).
    """
    toks = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
    sh = token_shingles(toks, n=n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    other = sh.select(F.col("doc_id").alias("doc_id_2"), "shingle")
    inter = (
        sh.join(other, "shingle")
        .filter(F.col("doc_id") < F.col("doc_id_2"))
        .groupBy("doc_id", "doc_id_2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes, "doc_id")
        .join(
            sizes.select(F.col("doc_id").alias("doc_id_2"), F.col("n_sh").alias("n_sh_2")),
            "doc_id_2",
        )
        .select(
            "doc_id",
            "doc_id_2",
            (
                F.col("n_inter")
                / (F.col("n_sh") + F.col("n_sh_2") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """(doc_id, component_id) — connected components of a similar-pair graph.

    Pair generators (minhash_lsh_pairs, simhash_near_pairs, ...) emit edges;
    transitive closure turns them into dedup CLUSTERS (A~B, B~C => one
    cluster even when A!~C directly). ``component_id`` is the smallest
    doc_id in the component, so "keep doc_id == component_id" reproduces
    the lowest-id-wins rule of :func:`dedup_by_pairs` extended to chains.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SOCC'14 — public).
    Each half-round is one groupBy-min plus one equi-join; the edge list
    converges to a star per component in O(log n) rounds. Nothing graph-
    shaped ever sits on the driver — the loop only compares a per-round
    (count, xxhash-sum) digest, so 100 TB of edges iterate exactly like
    the test graphs. Lineage is truncated every round with an eager
    localCheckpoint owned by the current :class:`CacheScope`; each round
    frees the previous one, and the final round's and the nodes'
    checkpoints back the result until the scope closes.
    """
    scope = current_scope()
    u, v = F.col("u"), F.col("v")
    # checkpoint the INPUT once: the upstream pair generator (an LSH band
    # join — the dominant shuffle of the whole clustering) would otherwise
    # re-evaluate for the nodes job AND again for round 1
    edges = scope.checkpoint(
        pairs.select(
            F.col(id_col).cast("long").alias("u"),
            F.col(f"{id_col}_2").cast("long").alias("v"),
        )
        .filter(u != v)
        .select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .distinct()
    )
    nodes = scope.checkpoint(
        edges.select(u.alias("n")).union(edges.select(v.alias("n"))).distinct()
    )

    prev_digest = None
    e = edges
    for _ in range(max_iter):
        # LARGE-STAR: every neighbor larger than u links to min(N(u) ∪ {u})
        nbrs = e.union(e.select(v.alias("u"), u.alias("v")))
        mins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        e = (
            nbrs.join(mins, "u")
            .filter(v > u)
            .select(v.alias("u"), F.col("m").alias("v"))
            .filter(u != v)
            .distinct()
        )
        # SMALL-STAR: point each edge from its larger endpoint; the larger
        # endpoint and all its ≤-neighbors link to the smallest of them
        directed = e.select(F.greatest(u, v).alias("u"), F.least(u, v).alias("v"))
        mins = directed.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            directed.select("u", "v")
            .union(directed.select("u", u.alias("v")))
            .distinct()
            .join(mins, "u")
            .select(v.alias("u"), F.col("m").alias("v"))
            .filter(u != v)
            .distinct()
            .select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        )
        prev, e = e, scope.checkpoint(e)
        # the previous round's checkpoint blocks are dead once this round
        # is materialized — free them so a long CC run holds at most two
        # rounds of edge storage
        scope.release(prev)
        # bit_xor, not sum: order-independent over the distinct edge set
        # and immune to ANSI-mode long overflow
        digest = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).first()
        if (digest["n"], digest["h"]) == prev_digest:
            break
        prev_digest = (digest["n"], digest["h"])
    else:  # pragma: no cover — 2^25 nodes exceeds any test graph
        raise RuntimeError(f"connected_components: no fixed point in {max_iter} rounds")

    # converged: every edge is (member, root). Roots + isolated nodes map
    # to themselves (pairs input has no isolated nodes, but be total).
    assign = e.select(v.alias("n"), u.alias("root"))
    return nodes.join(assign, "n", "left").select(
        F.col("n").alias(id_col),
        F.coalesce("root", "n").alias("component_id"),
    )


def near_dup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **lsh_kwargs,
) -> DataFrame:
    """(doc_id, cluster_id, is_kept) — transitive MinHash near-dup clusters.

    minhash_lsh_pairs -> connected_components; ``is_kept`` marks the one
    survivor (smallest doc_id) per cluster. Docs with no near-dup form
    singleton clusters and are kept. The clustering runs now; its
    checkpoints belong to the current :class:`CacheScope`."""
    outer = current_scope()
    # the signature cache lives only as long as the clustering reads it:
    # the CC checkpoints (in the caller's scope) hold everything after
    with CacheScope():
        pairs = minhash_lsh_pairs(docs, text_col, id_col, **lsh_kwargs)
        with outer.active():
            comp = connected_components(pairs, id_col=id_col)
    all_docs = docs.select(F.col(id_col).cast("long").alias(id_col))
    # no broadcast hint: comp holds every doc in any near-dup pair — a
    # large corpus fraction in dup-heavy data — so forcing it executor-
    # resident would OOM at scale; AQE still broadcasts it when small
    return all_docs.join(comp, id_col, "left").select(
        id_col,
        F.coalesce("component_id", F.col(id_col)).alias("cluster_id"),
        (F.coalesce("component_id", F.col(id_col)) == F.col(id_col)).alias("is_kept"),
    )


#: splitmix64 finalizer constants (public-domain mixer) — used to spread
#: the rolling-polynomial window hashes below before they become gram ids
_MIX_M = 0x9E3779B97F4A7C15


def _mix64(x):
    """Vectorized splitmix64 finalizer over a uint64 numpy array."""
    import numpy as np

    x = (x + np.uint64(_MIX_M)).astype(np.uint64)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _window_hashes(x, starts, L, C):
    """Polynomial rolling hash of every length-``L`` window of uint64
    stream ``x`` starting at ``starts`` (flat indices), mod 2^64 with odd
    constant ``C``: H(s) = sum_j x[s+j] * C^(L-1-j). Computed from one
    global prefix P = cumsum(x * C^-i) as H(s) = C^(s+L-1) * (P[s+L-1] -
    P[s-1]) — O(n) total (two cumulative passes + one gather), natural
    uint64 wraparound, valid for any window that does not cross a stream
    restart the caller excludes (the linear recurrence makes the prefix
    form exact for arbitrary in-bounds windows)."""
    import numpy as np

    n = len(x)
    Cinv = np.uint64(pow(int(C), -1, 1 << 64))  # C odd => invertible
    powC = np.full(n, C, dtype=np.uint64)
    powC[0] = np.uint64(1)
    np.cumprod(powC, out=powC)  # C^0 .. C^(n-1), wrapping
    powI = np.full(n, Cinv, dtype=np.uint64)
    powI[0] = np.uint64(1)
    np.cumprod(powI, out=powI)
    P = np.cumsum(x * powI).astype(np.uint64)
    e = starts + np.int64(L - 1)
    Pprev = np.where(starts > 0, P[np.maximum(starts - 1, 0)], np.uint64(0))
    return powC[e] * (P[e] - Pprev)


def duplicated_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 50,
    keep_first: bool = False,
) -> DataFrame:
    """(id_col, span_start, span_end) — maximal token spans every one of
    whose ``min_len``-grams occurs >= 2 times in the corpus (ExactSubstr
    deduplication, Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better" — the suffix-array method re-expressed as a
    distributed L-gram group-by; the reference engine has no analog, this
    is a training-data-pipeline operator per the build charter).

    Semantics: a token position p of a doc is *duplicated* iff the L-gram
    starting at p (L = ``min_len``, over the standard lowercased identifier
    token stream) appears at >= 2 (doc, pos) sites corpus-wide — including
    repeats WITHIN one doc, matching the public deduplicate-text-datasets
    tool. Overlapping/adjacent duplicated grams merge into maximal spans
    [span_start, span_end) in token ordinals. With ``keep_first=True`` the
    globally smallest (doc_id, pos) occurrence of each gram is NOT marked
    (one copy of every repeated passage survives); the default False
    removes all copies — the published tool's behavior (its paper measures
    the both-copies-cut at <0.01% of tokens).

    Scale shape (the reason this is not a suffix array): ONE corpus-sized
    shuffle of (doc_id, pos, h1, h2) rows — 16 bytes of gram identity
    instead of ~L tokens. Gram identity (r7) is a ROLLING 128-bit scheme,
    O(n) instead of the old O(n*L) concat+hash (which built ~L tokens of
    string per position — measured 3x the whole pass at L=20, and the gap
    grows linearly with L): each token is hashed TWICE in the JVM under
    different salts (xxhash64(salt, token) — two genuinely independent
    streams, so a single-token difference still needs two independent
    64-bit collisions; deriving both windows from ONE token-hash stream
    would chain the protection through one 64-bit value and halve it),
    then each stream gets a polynomial window hash mod 2^64 with its own
    odd constant (Rabin-style; prefix-sum form, see
    :func:`_window_hashes`) and a splitmix64 finalize. A false
    duplicate-pair needs both windows to collide: the coefficient
    difference at any differing position is bijectively spread by the odd
    constant, so each collision is ~2^-64 over the uniform token hashes
    and the pair ~2^-128 — the same budget as the previous double-xxhash
    design. The pytest oracle checks against true token grams. Duplicate
    groups are found with a partial-aggregating groupBy (hot boilerplate
    grams combine map-side) followed by an equi-join back to occurrences —
    deliberately NOT a count-over-window, whose per-key partitions cannot
    be skew-split by AQE the way join partitions can. Span merging is a
    per-doc sort_array + one linear F.aggregate pass, bounded by doc
    length, never corpus-sized.

    The occurrence table feeds BOTH the group-by and the join probe side,
    and the group-by's partial-agg exchange is not reusable for the join —
    without a persist the O(n*L) gram hashing runs twice (measured 1.5x
    the phase wall at 12M grams). It is persisted MEMORY_AND_DISK
    (spill-safe at scale) in the current :class:`CacheScope`; the first
    action on the result fills it.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark import StorageLevel

    from ..deploy import ship_package

    ship_package(docs.sparkSession)
    L = int(min_len)
    if L < 2:
        raise ValueError(f"min_len must be >= 2, got {min_len}")
    toks = tokens(text_col)
    salted = lambda s: F.coalesce(  # noqa: E731
        F.transform(toks, lambda tk: F.xxhash64(F.lit(s), tk)),
        F.array().cast("array<bigint>"),
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"), salted(1).alias("_a"), salted(2).alias("_b")
    )
    id_type = base.schema["doc_id"].dataType.simpleString()
    # two odd multipliers (independent polynomial window hashes per stream)
    C1 = np.uint64(_MIX_M | 1)
    C2 = np.uint64(0xC2B2AE3D27D4EB4F | 1)

    def window_ids(batches):
        for b in batches:
            ids = b.column(0)
            la, lb = b.column(1), b.column(2)
            counts = pc.list_value_length(la).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            xa = pc.list_flatten(la).to_numpy(zero_copy_only=False).astype(np.uint64)
            xb = pc.list_flatten(lb).to_numpy(zero_copy_only=False).astype(np.uint64)
            n_win = np.maximum(counts - (L - 1), 0)
            total = int(n_win.sum())
            if total == 0:
                continue
            offs = np.cumsum(counts) - counts
            ramp = np.arange(total, dtype=np.int64) - np.repeat(
                np.cumsum(n_win) - n_win, n_win
            )
            starts = np.repeat(offs, n_win) + ramp
            h1 = _mix64(_window_hashes(xa, starts, L, C1)).astype(np.int64)
            h2 = _mix64(_window_hashes(xb, starts, L, C2)).astype(np.int64)
            out_id = ids.take(
                pa.array(np.repeat(np.arange(len(ids), dtype=np.int64), n_win))
            )
            yield pa.RecordBatch.from_arrays(
                [out_id, pa.array(ramp.astype(np.int32)), pa.array(h1), pa.array(h2)],
                ["doc_id", "pos", "h1", "h2"],
            )

    occ = current_scope().persist(
        base.mapInArrow(window_ids, schema=f"doc_id {id_type}, pos int, h1 long, h2 long"),
        StorageLevel.MEMORY_AND_DISK,
    )
    # the keeper min-struct rides the hot groupBy only when keep_first
    # actually consumes it
    aggs = [F.count(F.lit(1)).alias("n_occ")]
    if keep_first:
        aggs.append(F.min(F.struct("doc_id", "pos")).alias("keeper"))
    agg = occ.groupBy("h1", "h2").agg(*aggs).filter(F.col("n_occ") >= 2)
    dup = occ.join(agg, ["h1", "h2"])
    if keep_first:
        dup = dup.filter(
            (F.col("doc_id") != F.col("keeper.doc_id")) | (F.col("pos") != F.col("keeper.pos"))
        )
    merged = dup.groupBy("doc_id").agg(
        merge_token_spans(F.sort_array(F.collect_list("pos")), L).alias("sp")
    )
    return merged.select("doc_id", F.explode("sp").alias("s")).select(
        F.col("doc_id").alias(id_col),
        F.col("s.s").alias("span_start"),
        F.col("s.e").alias("span_end"),
    )


def strip_duplicated_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove every span's tokens from each doc's token stream; returns
    (id_col, text_col, n_tokens, n_removed) with ``text_col`` rebuilt by
    joining the SURVIVING tokens of the standard lowercased identifier
    stream (the cut operates on the token sequence, exactly like the
    reference tool — original inter-token bytes are not preserved).

    Spans arrive pre-merged from :func:`duplicated_spans`; the filter is a
    per-token interval test against the doc's own (few) spans, JVM-only.
    Docs with no spans pass through whole. No shuffle beyond the span
    group-by: spans are per-doc tiny, and the join is id-keyed (AQE
    broadcasts the span side when small).
    """
    sp = spans.groupBy(F.col(id_col).alias("doc_id")).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks_df = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
    joined = toks_df.join(sp, "doc_id", "left")
    kept = F.when(F.col("_spans").isNull(), F.col("toks")).otherwise(
        F.filter(
            F.col("toks"),
            lambda t, i: ~F.exists(
                "_spans",
                lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
            ),
        )
    )
    return joined.select(
        F.col("doc_id").alias(id_col),
        F.concat_ws(" ", kept).alias(text_col),
        F.size("toks").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).alias("n_removed"),
    )
