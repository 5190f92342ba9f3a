"""Dataset-assembly operators for large-scale training pipelines: sampling,
splitting, contamination checks, sequence packing.

These are the operations that sit between a cleaned corpus and a training
run. All four are pure column algebra / single-window passes over the
PORTABLE md5 hash family (operators/dedup.py module docstring), so every
one is fully DuckDB-oracle-replayable AND deterministic across runs,
partitionings, and engines — the property that matters when a 100-TB
dataset must be re-derivable bit-identically for audits.

Scale notes:

* :func:`deterministic_sample` / :func:`entity_split` are stateless row
  filters/projections — no shuffle at all; the filter pushes to the scan
  when the key column is scan-level.
* :func:`contamination_report` is the banded-LSH candidate join of
  operators/dedup.py restricted across the train/eval boundary — cost is
  Σ|bucket_train|x|bucket_eval| per band bucket, never |train|x|eval|.
* :func:`pack_sequences` is ONE hash(shard) exchange + one window sort;
  shard count bounds the sort width. Packing is contiguous-offset (a
  document whose span crosses a budget boundary belongs to the pack its
  START offset falls in, so a pack may exceed the budget by at most one
  document's tokens — the training loader's pad/truncate step absorbs
  this; exact greedy bin-packing is a sequential recursion that would
  serialize the corpus for no modeling benefit).

Reference analog: none (the reference trains nothing); these exist for the
north rule's training-data-pipeline tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nfl_feature_store_spark.operators.dedup import md5_low64_unsigned_sql


def _bucket1000(key_sql: str, seed: int) -> F.Column:
    """Deterministic bucket in [0, 1000): portable md5-low64 of
    ``key#seed`` mod 1000 (== DuckDB ``md5_number_lower(key || '#seed') %
    1000``)."""
    u = md5_low64_unsigned_sql(f"concat(cast({key_sql} as string), '#', '{seed}')")
    return F.expr(f"cast({u} % 1000 as int)")


def deterministic_sample(
    df: DataFrame, key_col: str, permille: int, seed: int = 7, bucket_col: str = "bucket"
) -> DataFrame:
    """Keep rows whose key hashes into the first ``permille`` of 1000
    buckets — a deterministic, engine-portable Bernoulli-style sample.

    Unlike ``df.sample()``, membership is a pure function of (key, seed):
    re-runs, different partitionings, and other engines select the SAME
    rows, and disjoint seeds give independent samples. No shuffle.
    """
    if not (0 < permille <= 1000):
        raise ValueError(f"permille must be in (0, 1000], got {permille}")
    b = _bucket1000(key_col, seed)
    return df.withColumn(bucket_col, b).filter(F.col(bucket_col) < permille)


def entity_split(
    df: DataFrame,
    entity_col: str,
    weights: dict[str, int] | None = None,
    seed: int = 7,
    split_col: str = "split",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Assign every row a train/val/test-style split label by ENTITY hash —
    all rows of an entity land in the same split (the grouping-leakage
    guard for conversation data: a conversation must never straddle
    train and eval).

    ``weights`` maps label -> permille, summing to 1000 (default
    800/100/100). Label thresholds follow dict order.
    """
    weights = weights or {"train": 800, "val": 100, "test": 100}
    if sum(weights.values()) != 1000:
        raise ValueError(f"split weights must sum to 1000 permille, got {weights}")
    b = _bucket1000(entity_col, seed)
    out = df.withColumn(bucket_col, b)
    expr = None
    lo = 0
    for label, w in weights.items():
        hi = lo + w
        cond = F.col(bucket_col) < hi
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
        lo = hi
    return out.withColumn(split_col, expr)


def contamination_report(
    train: DataFrame,
    evals: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Eval documents whose text near-duplicates any training document —
    the train/test contamination check every training pipeline needs.

    Banded-LSH candidate generation (operators/dedup.py machinery, portable
    md5 family) joined ACROSS the train/eval boundary only, then filtered
    by estimated Jaccard. Returns one row per contaminated eval doc:
    ``(eval_id, n_train_collisions, max_est_jaccard)``. Exact duplicates
    surface with est_jaccard 1.0, so this subsumes the exact-fingerprint
    check.
    """
    from nfl_feature_store_spark.operators.dedup import (
        lsh_bands,
        matching_minhashes,
        minhash_signature,
    )

    def banded(df: DataFrame, side: str) -> DataFrame:
        sigs = minhash_signature(df, id_col, text_col, num_hashes, shingle_k)
        return lsh_bands(sigs, num_hashes, bands).select(
            F.col("id").alias(f"{side}_id"), F.col("sig").alias(f"{side}_sig"), "band", "bucket"
        )

    t = banded(train, "train")
    e = banded(evals, "eval")
    n_match = matching_minhashes(F.col("train_sig"), F.col("eval_sig"))
    pairs = (
        e.join(t, ["band", "bucket"])
        .select("eval_id", "train_id", (n_match / F.lit(num_hashes)).alias("est_jaccard"))
        .distinct()
        .filter(F.col("est_jaccard") >= min_est_jaccard)
    )
    return pairs.groupBy("eval_id").agg(
        F.count("*").cast("long").alias("n_train_collisions"),
        F.max("est_jaccard").alias("max_est_jaccard"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    n_shards: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Assign documents to fixed-token-budget packs (sequence packing for
    training): shard by document hash, order within shard by id, pack by
    contiguous cumulative-token offset.

    Returns the input keys plus ``(shard, pack_id, pack_offset)`` where
    ``pack_offset`` is the document's starting token offset within its
    pack. One hash(shard) exchange + one window sort; deterministic and
    engine-portable (see module docstring for the boundary-straddle
    disclosure).
    """
    if budget <= 0 or n_shards <= 0:
        raise ValueError(f"budget and n_shards must be positive, got {budget}, {n_shards}")
    u = md5_low64_unsigned_sql(f"concat(cast({id_col} as string), '#', '{seed}')")
    shard = F.expr(f"cast({u} % {n_shards} as int)")
    out = df.withColumn("shard", shard)
    w = Window.partitionBy("shard").orderBy(id_col)
    start = F.coalesce(
        F.sum(F.col(token_col)).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    ).cast("long")
    out = out.withColumn("__start", start)
    out = out.withColumn("pack_id", F.floor(F.col("__start") / budget).cast("long"))
    out = out.withColumn(
        "pack_offset", (F.col("__start") - F.col("pack_id") * budget).cast("long")
    )
    return out.drop("__start")
