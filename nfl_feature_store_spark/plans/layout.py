"""Physical-layout helpers: adaptive input spreading for compute-bound
operators (guide §2.5 "input skew" / §6 input-split sizing).

Parquet scans parallelize at row-group granularity. A small table written as
one file with one row group — the shape of every driver testdata table, and
of any compacted dimension at production scale — yields a ONE-task scan, so
an operator that does heavy per-row compute directly on the scan (16-seed
MinHash over every shingle, SimHash token votes, brute-force dot products)
runs serially no matter how many cores the cluster has:
``spark.sql.files.minPartitionNum`` cannot split below a row group.

:func:`spread` fixes exactly that case: when the input's planned parallelism
is below the session's default parallelism, hash-repartition it (on the
operator's id key — deterministic under retries, unlike round-robin; see
guide §2.5 on rand-derived keys) so the expensive projection that follows
uses every core. The exchange moves only the operator's (already projected)
input — id + text/vector — and only fires for SMALL inputs; any input that
already scans with >= default-parallelism tasks (every genuinely large
table) passes through untouched, so no shuffle is ever added at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Raise a low-parallelism input to the session's
    ``sparkContext.defaultParallelism`` partitions by hash-repartitioning on
    ``key_cols``; pass through unchanged when the input already plans at
    least that many partitions (or is a streaming DataFrame, where physical
    partitioning is the source's concern)."""
    if df.isStreaming:
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *[F.col(c) for c in key_cols])
