"""Salted-window exactness (FIXTURES.md F6 hot-entity case)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nfl_feature_store_spark.operators.salted import (
    salted_ewm,
    salted_expanding_mean,
    salted_rolling_mean,
)


def _hot_cold_fixture(spark, n=5000, with_nulls=True):
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "conv_id": ["hot"] * n,
            "turn_idx": np.arange(n, dtype="int32"),
            "ts": pd.Timestamp("2026-01-01") + pd.to_timedelta(np.arange(n) * 7, unit="s"),
            "value": np.round(rng.normal(50, 10, n), 2),
        }
    )
    # a second, cold entity (with nulls sprinkled in when allowed), plus
    # degenerate 1- and 2-row entities for the seeding edge cases
    cold = pdf.iloc[:97].assign(conv_id="cold")
    if with_nulls:
        cold.loc[cold.index[::7], "value"] = np.nan
    one = pdf.iloc[:1].assign(conv_id="one")
    two = pdf.iloc[:2].assign(conv_id="two")
    return spark.createDataFrame(pd.concat([pdf, cold, one, two], ignore_index=True))


def test_salted_expanding_equals_unsalted(spark):
    sdf = _hot_cold_fixture(spark)
    salted = salted_expanding_mean(sdf, "value", n_salt=16)
    got = salted.orderBy("conv_id", "ts", "turn_idx").toPandas()
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx").rowsBetween(
        Window.unboundedPreceding, -1
    )
    exp = (
        sdf.withColumn("e", F.avg("value").over(w))
        .orderBy("conv_id", "ts", "turn_idx")
        .toPandas()
    )
    np.testing.assert_allclose(
        got["salted_expanding_value"].to_numpy(dtype=float),
        exp["e"].to_numpy(dtype=float),
        rtol=1e-12,
        equal_nan=True,
    )
    # the round-1 scale defect: ntile forced the hot entity through ONE task's
    # full sort. The quantile-based salt must leave no window partitioned by
    # the bare entity ordered by the row order — only chunk-level windows
    import re

    plan = salted._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(r"\bntile\(", plan) is None  # (percentile_approx is fine)
    assert re.search(r"windowspecdefinition\(conv_id#\d+, ts#", plan) is None


def test_salted_rolling_equals_unsalted(spark):
    sdf = _hot_cold_fixture(spark)
    k = 10
    got = (
        salted_rolling_mean(sdf, "value", k=k, n_salt=8)
        .orderBy("conv_id", "ts", "turn_idx")
        .toPandas()
    )
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx").rowsBetween(-k, -1)
    exp = (
        sdf.withColumn("e", F.avg("value").over(w))
        .orderBy("conv_id", "ts", "turn_idx")
        .toPandas()
    )
    np.testing.assert_allclose(
        got[f"salted_roll{k}_value"].to_numpy(dtype=float),
        exp["e"].to_numpy(dtype=float),
        rtol=1e-12,
        equal_nan=True,
    )


def test_salted_ewm_equals_with_ewma(spark):
    from nfl_feature_store_spark.operators.ewma import with_ewma

    sdf = _hot_cold_fixture(spark, with_nulls=False)  # salted_ewm contract: non-null values
    got = (
        salted_ewm(sdf, "value", span=10, n_salt=16)
        .orderBy("conv_id", "ts", "turn_idx")
        .toPandas()
    )
    exp = (
        with_ewma(sdf, metrics=("value",), span=10)
        .orderBy("conv_id", "ts", "turn_idx")
        .toPandas()
    )
    np.testing.assert_allclose(
        got["salted_ewma_value"].to_numpy(dtype=float),
        exp["ewma_value"].to_numpy(dtype=float),
        rtol=1e-9,
        equal_nan=True,
    )
