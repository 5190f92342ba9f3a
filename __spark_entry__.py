"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship point-in-time feature backfill on the
sf0.001 events stream (mapped onto the transcript schema); ``queries()`` /
``oracle_sql()`` expose every implemented operator (SURVEY.md §2) for the
driver's DuckDB cross-check at sf=0.01.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full strictly-past feature backfill (lag, rolling-3/10,
    expanding, two-anchor session-avg, EWMA, gap/sessionize, per-day rank)
    over the sf0.001 events stream viewed as transcripts."""
    from nfl_feature_store_spark.plans.pipeline import backfill_features
    from nfl_feature_store_spark.sources.transcripts import events_as_transcripts

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    return backfill_features(events_as_transcripts(ev))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from nfl_feature_store_spark.registry import QUERIES

    return QUERIES


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable SQL equivalents for EVERY query — including the
    sequential recursions (recursive CTEs), the MinHash/SimHash/winnowing
    pipelines (portable md5 hash family replayed with DuckDB list algebra),
    the ANN families (frozen hyperplane/centroid constants embedded as
    DOUBLE[] literals on both engines), and connected components (recursive
    label propagation to fixpoint)."""
    from nfl_feature_store_spark.registry import ORACLES

    return ORACLES
