"""Scalable dense sequential id assignment (0-based rank over a sort key).

Replaces ``row_number() OVER (ORDER BY ...)`` — which funnels every row
through ONE partition — with: range-repartition on the key, sort within
partitions, then add per-partition offsets (one tiny driver-side pass over
partition counts). Holds at 10^12 rows: the only driver state is one count
per partition.

Used for doc_id minting (reference docid = file order,
/root/reference/Make_Page/rcc.cpp:186-202 — ours is deterministic rank) and
term_id minting (reference term ids = std::map iteration order,
/root/reference/Make_dir/MakeDictAndIndex.cpp:118-125).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def assign_sequential_ids(
    df: DataFrame,
    sort_cols: list[str],
    id_col: str,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Add ``id_col`` = dense 0-based rank over sorted ``sort_cols``.

    Keys must be unique for the rank to be well-defined. Deterministic for
    a given input regardless of upstream partitioning.

    Runs its jobs now (range sampling, the pinning checkpoint, a counts
    collect). The pinned copy belongs to the current
    :class:`~searchenginer_spark.cache.CacheScope`: the result reads it,
    so write or cache the result before that scope closes.

    ``checkpoint_dir``: when given, the pinned copy uses a RELIABLE
    checkpoint (written to that filesystem path) instead of
    ``localCheckpoint()`` — local checkpoints pin partitions to executors
    and die with them, so on a real multi-executor cluster pass a
    durable dir (HDFS/object store); local mode defaults to the cheap one.

    Two caller-owned caveats of the reliable mode:
      * it calls ``sparkContext.setCheckpointDir`` — a SESSION-GLOBAL
        setting (last caller wins); concurrent id-minting runs in one
        session should share a single directory.
      * the checkpoint files back the returned DataFrame's lineage, so they
        cannot be auto-deleted here; delete ``checkpoint_dir`` (or enable
        ``spark.cleaner.referenceTracking.cleanCheckpoints``) once the
        result has been written/persisted, or runs accumulate files.
    """
    from pyspark import StorageLevel

    from ..cache import current_scope
    from ..deploy import ship_package

    spark = df.sparkSession
    ship_package(spark)  # workers must import this package for the UDF below
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    scope = current_scope()
    # Persist the INPUT first: RangePartitioner's boundary-sampling job
    # executes the full child plan, and the checkpoint materialization
    # below executes it again — for an expensive upstream (the df
    # aggregation feeding term-id minting is a corpus-wide shuffle) that
    # doubled the most expensive stage of the dict build. The sampling
    # pass fills this cache; the checkpoint pass reads it. MEMORY_AND_DISK
    # so a vocabulary larger than executor memory spills instead of
    # evicting (and recomputing) partitions.
    src = scope.persist(df, StorageLevel.MEMORY_AND_DISK)
    ranged = src.repartitionByRange(n_parts, *sort_cols).sortWithinPartitions(*sort_cols)
    # Pin the partitioning: RangePartitioner SAMPLES its boundaries with a
    # job-dependent seed, so the counts pass and the assignment pass below
    # would otherwise re-partition differently and corrupt the ids. A
    # checkpoint makes both jobs read the SAME materialized partitions.
    with_pid = scope.checkpoint(
        ranged.withColumn("_pid", F.spark_partition_id()), checkpoint_dir
    )
    # the checkpoint is eager: the pinned copy exists now and the source
    # cache is dead weight
    scope.release(src)
    counts = with_pid.groupBy("_pid").count().collect()
    offsets: dict[int, int] = {}
    acc = 0
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets[r["_pid"]] = acc
        acc += r["count"]
    boff = spark.sparkContext.broadcast(offsets)

    def assign(iterator):
        local = 0
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            pdf = pdf.copy()
            pdf[id_col] = boff.value[pid] + local + np.arange(len(pdf), dtype=np.int64)
            local += len(pdf)
            yield pdf

    schema = T.StructType(list(with_pid.schema.fields) + [T.StructField(id_col, T.LongType())])
    return with_pid.mapInPandas(assign, schema=schema).drop("_pid")

