"""Compute rebalancing for expression-heavy operators.

The shingle / signature / tokenize operators do orders of magnitude
more compute per input row than a plain scan, so their cost is bound
by the SCAN stage's parallelism, not data volume.  A single-row-group
parquet file (the driver testdata, or any small dimension extract)
scans as ONE task — the whole tokenize pipeline then runs on one core
of the cluster.

``spread_small_input`` repartitions such inputs to the session's
default parallelism — but ONLY when the input is provably small (by
optimizer size stats) and under-partitioned.  On a 100 TB table the
scan already yields thousands of partitions and this is a no-op, so
the helper never introduces a fact-table shuffle; on a small input the
round-robin exchange moves a few MB once and unlocks every core for
the expensive projection that follows.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

logger = logging.getLogger(__name__)

#: inputs larger than this are never rebalanced (they parallelize
#: naturally and a round-robin shuffle of raw text would be pure cost)
MAX_BYTES = 512 * 1024 * 1024


def spread_small_input(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to default parallelism iff it is small
    (optimizer size estimate <= ``MAX_BYTES``) and has fewer
    partitions than the session can run concurrently.

    Streaming DataFrames are returned untouched (partition probes and
    size stats don't apply pre-execution).  The size probe uses the
    optimizer's stats via the private ``_jdf`` seam — if that JVM API
    ever moves, the probe logs once and the helper degrades to a no-op
    rather than failing the query.
    """
    if df.isStreaming:
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        n_parts = df.rdd.getNumPartitions()
        if n_parts >= target:
            return df
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception as e:  # private-API seam: degrade, don't fail
        logger.warning("spread_small_input: size probe failed (%s); skipping", e)
        return df
    if size > MAX_BYTES:
        return df
    return df.repartition(target)
