"""Similarity search over embedding columns.

The reference's vector path is FAISS IndexFlatIP over FastText doc vectors
(/root/reference/srpc/PageSearch/server.pb_skeleton.cc:288-302, :172-178 —
exact inner-product top-10 over L2-normalized vectors). Spark-native
equivalents:

  cosine_topk       exact brute force — JVM `F.zip_with`/`F.aggregate`
                    column math, distributed scan + TakeOrderedAndProject.
                    This IS IndexFlatIP at cluster scale.
  srp_buckets /     signed-random-projection LSH: deterministic hyperplanes
  ann_lsh_topk      (seeded splitmix stream), bucket = sign-bit code; the
                    query probes only its bucket (optionally hamming-1
                    neighbors). The scale path when a full scan per query
                    is too expensive; recall traded for bucket pruning.
  pq_train /        product quantization (Jégou et al., TPAMI'11 — the
  pq_encode /       FAISS IVF-PQ compression): split dim into m subspaces,
  pq_topk /         k-means codebook per subspace on a bounded deterministic
  ivf_pq_topk       sample, each vector stored as m small codes (~32x
                    smaller than float32 at m=8). Query-time ADC scoring is
                    a broadcast-free codegen sum of element_at lookups into
                    per-subspace distance tables — no UDF, no shuffle; the
                    scan reads ONLY the codes column. ivf_pq_topk composes
                    codes with the IVF lists for probe-pruned scans;
                    ivf_pq_build trains/encodes RESIDUALS v - centroid[list]
                    (the full published formulation); pq_topk_batch scores a
                    whole query batch in one job via a broadcast LUT table +
                    two-phase partial-top-k (the serving shape).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a) -> Column:
    return F.sqrt(_dot(a, a))


def _lit_vec(vec) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def cosine_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine similarity against a literal query vector."""
    q = _lit_vec(query_vec)
    qn = float(np.linalg.norm(np.asarray(query_vec, dtype=np.float64)))
    denom = _norm(F.col(vec_col).cast("array<double>")) * F.lit(qn)
    # zero-norm vectors (query or row) define cosine as 0, never div-by-zero
    cos = F.when(
        denom > 0, _dot(F.col(vec_col).cast("array<double>"), q) / denom
    ).otherwise(F.lit(0.0))
    cos = F.round(cos, round_to) if round_to is not None else cos
    return (
        embeddings.select(F.col(id_col), cos.alias("cos"))
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


def ivf_build(
    embeddings: DataFrame,
    n_lists: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    max_iter: int = 10,
) -> tuple[np.ndarray, DataFrame]:
    """IVF coarse quantizer: k-means centroids + per-vector list assignment.

    Returns (centroids[n_lists, dim], embeddings + ``list_id``). This is the
    FAISS IVF structure rebuilt Spark-native: train with pyspark.ml KMeans
    (distributed Lloyd's), store the inverted lists as a ``list_id``
    partition/bucket column. At scale the bucketed table is written
    ``partitionBy('list_id')`` so a probe reads only nprobe partitions.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = embeddings.withColumn("_fv", array_to_vector(F.col(vec_col).cast("array<double>")))
    km = KMeans(k=n_lists, seed=seed, maxIter=max_iter, featuresCol="_fv", predictionCol="list_id")
    model = km.fit(feat)
    centroids = np.vstack([np.asarray(c) for c in model.clusterCenters()])
    assigned = model.transform(feat).drop("_fv")
    return centroids, assigned


def ivf_topk(
    bucketed: DataFrame,
    centroids: np.ndarray,
    query_vec,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Approximate top-k: probe the nprobe nearest inverted lists, exact
    cosine inside them (FAISS IVF-Flat search shape,
    /root/reference/srpc/PageSearch/server.pb_skeleton.cc:288-302 analog)."""
    qv = np.asarray(query_vec, dtype=np.float64)
    d2 = ((centroids - qv) ** 2).sum(axis=1)
    probes = np.argsort(d2)[:nprobe].tolist()
    cand = bucketed.filter(F.col("list_id").isin(probes))
    return cosine_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col, round_to=round_to)


def _kmeans_1sub(x: np.ndarray, k: int, rng: np.random.Generator, iters: int) -> np.ndarray:
    """Seeded Lloyd's over one subspace sample (kmeans++-style seeding).

    Driver-side by design: PQ codebooks are trained on a bounded sample
    (FAISS does the same); the full corpus is only ever touched by the
    distributed encode pass."""
    # kmeans++ seeding: first center uniform, then D^2-weighted
    centers = [x[rng.integers(len(x))]]
    for _ in range(1, k):
        d2 = np.min(((x[:, None, :] - np.asarray(centers)[None]) ** 2).sum(-1), axis=1)
        tot = d2.sum()
        if tot <= 0:  # fewer distinct points than centers: duplicate is fine
            centers.append(x[rng.integers(len(x))])
            continue
        centers.append(x[np.searchsorted(np.cumsum(d2 / tot), rng.random())])
    c = np.asarray(centers, dtype=np.float64)
    for _ in range(iters):
        d2 = ((x[:, None, :] - c[None]) ** 2).sum(-1)
        assign = d2.argmin(axis=1)
        for j in range(k):
            pts = x[assign == j]
            if len(pts):  # empty cluster keeps its previous center
                c[j] = pts.mean(axis=0)
    return c


def _seeded_sample(df: DataFrame, id_col: str, sample: int, seed: int) -> DataFrame:
    """The ``sample`` rows with the smallest xxhash64(id, seed) — a bounded
    TakeOrdered pull regardless of corpus size, deterministic/reproducible
    like an id sort, but UNBIASED: lowest-id sampling fits codebooks to a
    content-correlated slice when ids follow time or source order (FAISS
    trains on random samples for the same reason). The hash picks WHICH
    rows; the returned sample is re-sorted by id so downstream k-means++
    seeding consumes a canonical order (and a sample that covers the
    whole table reproduces the id-ordered pull exactly)."""
    picked = df.orderBy(
        F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col)
    ).limit(sample)
    return picked.orderBy(id_col)


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample: int = 4096,
    max_iter: int = 15,
) -> np.ndarray:
    """Codebooks [m, n_codes, dim/m] from a deterministic bounded sample
    (seeded-hash order — see :func:`_seeded_sample`). dim must divide
    evenly by m."""
    pdf = _seeded_sample(
        embeddings.select(id_col, F.col(vec_col).cast("array<double>").alias("v")),
        id_col, sample, seed,
    ).toPandas()
    x = np.array(pdf["v"].tolist(), dtype=np.float64)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    ds = dim // m
    rng = np.random.default_rng(seed)
    return np.stack(
        [_kmeans_1sub(x[:, j * ds : (j + 1) * ds], n_codes, rng, max_iter) for j in range(m)]
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """embeddings + ``codes`` array<int> (len m): per-subspace argmin center.

    One Arrow-batched map over the corpus — the write side of PQ. At scale
    the coded table is persisted WITHOUT the float vectors (codes are
    ~32x smaller at m=8/k<=256), so every probe scan reads only ints."""
    from pyspark.sql.functions import pandas_udf

    cb = np.ascontiguousarray(codebooks, dtype=np.float64)  # [m, k, ds]
    m, _, ds = cb.shape

    @pandas_udf("array<int>")
    def enc(col):
        import pandas as pd

        out = []
        x = np.array(col.tolist(), dtype=np.float64)
        if len(x):
            xs = x.reshape(len(x), m, ds)
            for j in range(m):
                # [n, k] distances to subspace-j centers
                d2 = ((xs[:, j, None, :] - cb[None, j]) ** 2).sum(-1)
                out.append(d2.argmin(axis=1))
        codes = np.stack(out, axis=1) if out else np.zeros((0, m), dtype=np.int64)
        return pd.Series([row.tolist() for row in codes.astype(np.int32)])

    return embeddings.withColumn("codes", enc(F.col(vec_col).cast("array<double>")))


def _adc_score(codebooks: np.ndarray, query_vec, codes_col: str = "codes") -> Column:
    """Asymmetric-distance inner-product score as a pure codegen expression:
    per-subspace lookup tables <q_j, C[j,c]> embedded as array literals,
    score = sum_j element_at(lut_j, code_j + 1). m*k literals (128 at the
    m=8/k=16 default) — well under driver plan-size trouble."""
    cb = np.asarray(codebooks, dtype=np.float64)
    m, _, ds = cb.shape
    q = np.asarray(query_vec, dtype=np.float64).reshape(m, ds)
    score = F.lit(0.0).cast("double")
    for j in range(m):
        lut = cb[j] @ q[j]  # [k] inner products for subspace j
        score = score + F.element_at(
            _lit_vec(lut), F.col(codes_col).getItem(j).cast("int") + F.lit(1)
        )
    return score


def pq_topk(
    coded: DataFrame,
    codebooks: np.ndarray,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    round_to: int | None = None,
) -> DataFrame:
    """Approximate top-k by ADC inner product over PQ codes.

    The scan touches only (id, codes) — the compressed path for corpora
    whose float vectors no longer fit the cluster's scan budget. Plan:
    codegen project + TakeOrderedAndProject, zero shuffles/UDFs."""
    s = _adc_score(codebooks, query_vec)
    s = F.round(s, round_to) if round_to is not None else s
    return (
        coded.select(F.col(id_col), s.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def ivf_pq_topk(
    bucketed_coded: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    query_vec,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    round_to: int | None = None,
    *,
    residual: bool = True,
) -> DataFrame:
    """FAISS IVF-PQ search shape: probe the nprobe nearest coarse lists,
    ADC-score only their codes (list_id partition pruning x ~32x column
    compression — the 100 TB vector-search configuration).

    The default ``residual=True`` matches this function's documented
    companion ``ivf_pq_build`` (codes quantize v - centroid[list]):
    score = <q, centroid[list]> + ADC(residual codes), where the
    per-list base term is one more element_at into an n_lists-double
    literal — still pure codegen. ``residual`` is keyword-only, so a
    positional argument can never flip it. Pass ``residual=False`` ONLY for a
    hand-rolled composition of ``ivf_build`` + ``pq_encode`` over RAW
    vectors; scoring one code space with the other's flag returns
    garbage rankings, so the default follows the build function whose
    output this probe is named for."""
    qv = np.asarray(query_vec, dtype=np.float64)
    d2 = ((centroids - qv) ** 2).sum(axis=1)
    probes = np.argsort(d2)[:nprobe].tolist()
    cand = bucketed_coded.filter(F.col("list_id").isin(probes))
    if not residual:
        return pq_topk(cand, codebooks, query_vec, k=k, id_col=id_col, round_to=round_to)
    base = centroids @ qv  # [n_lists] <q, c> terms
    s = F.element_at(
        _lit_vec(base), F.col("list_id").cast("int") + F.lit(1)
    ) + _adc_score(codebooks, query_vec)
    s = F.round(s, round_to) if round_to is not None else s
    return (
        cand.select(F.col(id_col), s.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def pq_topk_batch(
    coded: DataFrame,
    codebooks: np.ndarray,
    queries: dict,
    k: int = 10,
    id_col: str = "vec_id",
    round_to: int | None = None,
) -> DataFrame:
    """(query_id, vec_id, score) — ADC top-k for a whole query batch in
    ONE job (the serving shape: per-job scheduling cost amortizes across
    the batch, same finding as search_query_batch).

    Per-query lookup tables ride a broadcast (query_id, luts) table; the
    score is sum_j luts[j][code_j] in codegen. Top-k per query is the
    two-phase partial-top-k: per-partition slice(sort_array(collect_list))
    then a final merge over Q x partitions x k rows — never a global
    window sort over the scored corpus."""
    cb = np.asarray(codebooks, dtype=np.float64)
    m, _, ds = cb.shape
    spark = coded.sparkSession
    rows = []
    for qid, qv in queries.items():
        q = np.asarray(qv, dtype=np.float64).reshape(m, ds)
        rows.append((str(qid), [(cb[j] @ q[j]).tolist() for j in range(m)]))
    luts = spark.createDataFrame(rows, "query_id string, luts array<array<double>>")

    score = F.lit(0.0).cast("double")
    for j in range(m):
        score = score + F.element_at(
            F.col("luts").getItem(j), F.col("codes").getItem(j).cast("int") + F.lit(1)
        )
    if round_to is not None:
        score = F.round(score, round_to)

    scored = (
        coded.select(id_col, "codes")
        .join(F.broadcast(luts))  # Q luts per row — Q is a query batch, tiny
        .select("query_id", F.col(id_col), score.alias("score"))
    )
    # two-phase top-k: (query, partition)-local truncation, then merge
    part_top = (
        scored.groupBy("query_id", F.spark_partition_id().alias("_pid"))
        .agg(
            F.slice(
                F.sort_array(F.collect_list(F.struct((-F.col("score")).alias("ns"), F.col(id_col)))),
                1,
                k,
            ).alias("top")
        )
        .select("query_id", F.explode("top").alias("t"))
    )
    return (
        part_top.groupBy("query_id")
        .agg(F.slice(F.sort_array(F.collect_list("t")), 1, k).alias("top"))
        .select("query_id", F.posexplode("top").alias("rank", "t"))
        .select(
            "query_id",
            F.col(f"t.{id_col}").alias(id_col),
            (-F.col("t.ns")).alias("score"),
            (F.col("rank") + 1).alias("rank"),
        )
    )


def pq_refine_topk(
    coded: DataFrame,
    embeddings: DataFrame,
    codebooks: np.ndarray,
    query_vec,
    k: int = 10,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Two-stage search (FAISS IndexRefineFlat shape): ADC over codes
    selects refine*k candidates, exact cosine re-ranks just those from the
    float table. The expensive column is read for k*refine rows instead of
    the corpus — candidate ids are a driver-bounded broadcast semi-join,
    so compression decides WHO is scored exactly, never the final order."""
    cand = [
        r[id_col]
        for r in pq_topk(coded, codebooks, query_vec, k=k * refine, id_col=id_col).collect()
    ]
    exact = embeddings.filter(F.col(id_col).isin(cand))
    return cosine_topk(
        exact, query_vec, k=k, id_col=id_col, vec_col=vec_col, round_to=round_to
    )


def ivf_pq_build(
    embeddings: DataFrame,
    n_lists: int = 16,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample: int = 4096,
    max_iter: int = 15,
) -> tuple[np.ndarray, np.ndarray, DataFrame]:
    """The full published IVF-PQ write side (Jégou et al. §IV): coarse
    KMeans lists, then PQ codebooks trained on and codes computed over the
    RESIDUALS v - centroid[list] — residual energy is much smaller than
    vector energy, so the same m x n_codes budget quantizes tighter than
    raw-vector PQ. Returns (centroids, codebooks, coded) where coded
    carries list_id + codes; query with ``ivf_pq_topk`` (whose default
    ``residual=True`` matches this build's code space).
    """
    from pyspark.sql.functions import pandas_udf

    centroids, assigned = ivf_build(
        embeddings, n_lists=n_lists, seed=seed, vec_col=vec_col, max_iter=max_iter
    )
    cen = np.ascontiguousarray(centroids, dtype=np.float64)
    dim = cen.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    ds = dim // m

    # codebooks from a bounded deterministic (seeded-hash, unbiased) residual sample
    pdf = _seeded_sample(
        assigned.select(id_col, F.col(vec_col).cast("array<double>").alias("v"), "list_id"),
        id_col, sample, seed,
    ).toPandas()
    res = np.array(pdf["v"].tolist(), dtype=np.float64) - cen[pdf["list_id"].to_numpy()]
    rng = np.random.default_rng(seed)
    codebooks = np.stack(
        [_kmeans_1sub(res[:, j * ds : (j + 1) * ds], n_codes, rng, max_iter) for j in range(m)]
    )
    cb = np.ascontiguousarray(codebooks)

    @pandas_udf("array<int>")
    def enc(vec, lid):
        import pandas as pd

        x = np.array(vec.tolist(), dtype=np.float64)
        if not len(x):
            return pd.Series([], dtype=object)
        r = (x - cen[lid.to_numpy()]).reshape(len(x), m, ds)
        cols = [
            ((r[:, j, None, :] - cb[None, j]) ** 2).sum(-1).argmin(axis=1) for j in range(m)
        ]
        codes = np.stack(cols, axis=1).astype(np.int32)
        return pd.Series([row.tolist() for row in codes])

    coded = assigned.withColumn(
        "codes", enc(F.col(vec_col).cast("array<double>"), F.col("list_id"))
    )
    return centroids, codebooks, coded


class IvfPqIndex(NamedTuple):
    """A stored IVF-PQ index handle: the coded table plus its model
    arrays AND the flag saying which code space the codes live in —
    carrying ``residual`` in the handle makes the build/probe mismatch
    ADVICE r5 flagged impossible for indexes that round-trip disk."""

    centroids: np.ndarray
    codebooks: np.ndarray
    coded: DataFrame
    residual: bool


def ivf_pq_write(
    path: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    coded: DataFrame,
    residual: bool = True,
    id_col: str = "vec_id",
) -> None:
    """Persist an IVF(-PQ) index with the 100 TB layout ``ivf_build``
    promises: the codes table is written ``partitionBy('list_id')`` so a
    probe's ``list_id IN (probes)`` predicate becomes PARTITION PRUNING —
    the scan lists and reads only nprobe directories, never the corpus
    (test_pq asserts the pruned plan + file set). Codes-only projection:
    the float vectors are deliberately NOT stored here (~32x scan-byte
    reduction is the point of PQ); keep the raw table separately if
    exact refine is needed. Model arrays + the residual flag land in
    side tables, so the opened handle knows its own code space."""
    import threading

    spark = coded.sparkSession
    m, n_codes, ds = np.asarray(codebooks).shape

    # the three model tables are driver-held arrays with no dependency on
    # the codes job — write them from a thread so their job-submission +
    # commit rounds ride inside the (much longer) partitioned codes write
    # instead of following it serially (guide §2.6 overlap)
    _merr: list[BaseException] = []

    def _write_models() -> None:
        try:
            spark.createDataFrame(
                [(i, c.tolist()) for i, c in enumerate(np.asarray(centroids))],
                "list_id int, centroid array<double>",
            ).write.mode("overwrite").parquet(f"{path}/centroids")
            spark.createDataFrame(
                [
                    (j, c, np.asarray(codebooks)[j, c].tolist())
                    for j in range(m)
                    for c in range(n_codes)
                ],
                "j int, code int, vec array<double>",
            ).write.mode("overwrite").parquet(f"{path}/codebooks")
            spark.createDataFrame(
                [(m, n_codes, ds, bool(residual))],
                "m int, n_codes int, ds int, residual boolean",
            ).write.mode("overwrite").parquet(f"{path}/meta")
        except BaseException as e:  # surfaced after join()
            _merr.append(e)

    writer = threading.Thread(target=_write_models)
    writer.start()
    try:
        coded.select(id_col, "codes", "list_id").write.mode("overwrite").partitionBy(
            "list_id"
        ).parquet(f"{path}/codes")
    finally:
        writer.join()
    if _merr:
        raise _merr[0]


def ivf_pq_open(spark, path: str) -> IvfPqIndex:
    """Reopen a written index; the handle carries the stored residual
    flag, so probing with the wrong code space cannot happen."""
    meta = spark.read.parquet(f"{path}/meta").first()
    cen_rows = spark.read.parquet(f"{path}/centroids").collect()
    centroids = np.zeros((len(cen_rows), meta["ds"] * meta["m"]))
    for r in cen_rows:
        centroids[r["list_id"]] = r["centroid"]
    codebooks = np.zeros((meta["m"], meta["n_codes"], meta["ds"]))
    for r in spark.read.parquet(f"{path}/codebooks").collect():
        codebooks[r["j"], r["code"]] = r["vec"]
    return IvfPqIndex(
        centroids, codebooks, spark.read.parquet(f"{path}/codes"),
        bool(meta["residual"]),
    )


def ivf_pq_query(
    index: IvfPqIndex,
    query_vec,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    round_to: int | None = None,
) -> DataFrame:
    """Probe a stored/opened index: the ``list_id IN probes`` filter on
    the partitionBy('list_id') layout prunes to nprobe partitions at
    file-listing time, and the residual flag comes from the handle."""
    return ivf_pq_topk(
        index.coded, index.centroids, index.codebooks, query_vec,
        k=k, nprobe=nprobe, id_col=id_col, round_to=round_to,
        residual=index.residual,
    )


def _planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    """Deterministic SRP hyperplanes (Gaussian via seeded RNG)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def srp_code(vec_col: Column, planes: np.ndarray) -> Column:
    """LSH bucket id = sign bits of <plane_i, v> packed into a long."""
    code = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        bit = F.when(_dot(vec_col, _lit_vec(plane)) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        code = code.bitwiseXOR(F.shiftleft(bit, i))
    return code


def srp_buckets(
    embeddings: DataFrame,
    n_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """embeddings + ``bucket`` column (2^n_planes buckets). Precompute once,
    write partitioned/bucketed by ``bucket`` for probe-time pruning."""
    # dimension sniff over NON-NULL rows: a single corrupt (null) leading
    # row must not make the whole table look empty and bucket-0 everything
    first = embeddings.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    if first is None:  # genuinely no vectors: nothing to bucket
        return embeddings.withColumn("bucket", F.lit(0).cast("long"))
    dim = len(first[0])
    planes = _planes(dim, n_planes, seed)
    return embeddings.withColumn(
        "bucket", srp_code(F.col(vec_col).cast("array<double>"), planes)
    )


def ann_lsh_topk(
    bucketed: DataFrame,
    query_vec,
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Approximate top-k: probe the query's SRP bucket (+ hamming<=1
    neighbors) then exact cosine inside the probed buckets."""
    qv = np.asarray(query_vec, dtype=np.float64)
    planes = _planes(len(qv), n_planes, seed)
    qcode = 0
    for i, plane in enumerate(planes):
        if float(plane @ qv) > 0:
            qcode |= 1 << i
    probes = [qcode]
    if probe_hamming >= 1:
        probes += [qcode ^ (1 << i) for i in range(n_planes)]
    cand = bucketed.filter(F.col("bucket").isin(probes))
    return cosine_topk(
        cand, query_vec, k=k, id_col=id_col, vec_col=vec_col, round_to=round_to
    )
