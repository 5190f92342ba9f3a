"""End-to-end point-in-time feature backfill plan.

Composes the engine's operators in the order the reference's lifecycle does
(SURVEY.md §3.4): dedup → turn metrics → sessionize → window families →
EWMA → rank — one declarative DataFrame plan that Catalyst compiles into
(in the ideal physical plan) ONE exchange on hash(conv_id) reused by every
per-entity stage, plus one exchange for the global rank pass.

The reference analog is ``feature_store_runner.main`` →
``make_event_regular_season_feature_store`` (reference
feature_store_runner.py:50-55, src/pipelines/events/event_regular_season_game.py:14-77),
a single-threaded pandas function chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nfl_feature_store_spark.functions.turn_metrics import dedup_latest, with_turn_metrics
from nfl_feature_store_spark.operators.ewma import with_ewma
from nfl_feature_store_spark.operators.rank import rank_features
from nfl_feature_store_spark.operators.sessionize import DEFAULT_GAP_S, sessionize
from nfl_feature_store_spark.operators.window_kernel import window_features_ewma_kernel
from nfl_feature_store_spark.operators.windows import FeatureSpec, compile_window_features


def backfill_features(
    transcripts: DataFrame,
    spec: FeatureSpec = FeatureSpec(),
    gap_s: int = DEFAULT_GAP_S,
    ewma_span: int | None = 10,
    rank_metric: str | None = "roll10_chars",
    rank_bucket: str = "day",
    dedup: bool = True,
    window_engine: str = "kernel",
) -> DataFrame:
    """transcripts (conv_id, turn_idx, role, text, tool, ts) → feature table.

    Output grain: one row per (conv_id, ts, turn_idx) carrying the original
    text (per-turn text equality invariant) plus every strictly-past feature
    family per metric.

    ``window_engine``: ``"kernel"`` (default, the production engine)
    computes every window family AND the EWMA in one vectorized
    ``mapInArrow`` stage (operators/window_kernel.py) over the
    sessionize output — the same single hash(entity) exchange. ``"expr"``
    is the reference path the kernel is tested against bit for bit: Spark
    window expressions (operators/windows.py) followed by ``with_ewma``.
    """
    if window_engine not in ("kernel", "expr"):
        raise ValueError(f"window_engine must be 'kernel' or 'expr', got {window_engine!r}")
    df = transcripts
    if dedup:
        df = dedup_latest(df)
    df = with_turn_metrics(df)
    df = sessionize(df, entity_col=spec.entity_col, gap_s=gap_s)
    if window_engine == "kernel":
        df = window_features_ewma_kernel(df, spec, ewma_span=ewma_span or None)
    else:
        df = compile_window_features(df, spec)
        if ewma_span:
            # presorted: the window stage already hash-partitioned by entity
            # and sorted by (entity, order), so with_ewma adds no exchange
            df = with_ewma(
                df,
                metrics=spec.metrics,
                span=ewma_span,
                entity_col=spec.entity_col,
                order_cols=spec.order_cols,
                presorted=True,
            )
    if rank_metric:
        # league-style per-period rank across entities active in the bucket
        df = df.withColumn("__bucket", F.date_trunc(rank_bucket, F.col("ts")))
        df = rank_features(df, [rank_metric], ["__bucket"]).drop("__bucket")
    return df
