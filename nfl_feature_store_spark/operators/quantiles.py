"""Grouped quantiles: exact (verification) and approximate (scale path).

Reference analog: pandas ``quantile`` rollups in the reference's weekly
aggregation lanes. Two modes, same output shape:

- ``mode="exact"`` — Spark's ``percentile`` (linear interpolation): buffers
  each group's values, bit-matches DuckDB ``quantile_cont``. Right for
  verification runs and small groups.
- ``mode="approx"`` — ``percentile_approx`` (Greenwald-Khanna style sketch):
  single pass, partial-aggregatable (sketches merge associatively across
  partitions), memory O(accuracy) per group regardless of group size. The
  only option at 10^12 rows. Guarantee: the returned value's RANK is within
  n/accuracy of the target rank — an error bound on rank, not on value.

The exact form exists so the approx form can be AUDITED against it (see
tests/test_quantiles.py's rank-error assertion).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F


def grouped_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    qs: Sequence[float] = (0.5, 0.95, 0.99),
    mode: str = "exact",
    accuracy: int = 10000,
) -> DataFrame:
    """One row per group: ``n`` plus one ``p{q*100:g}`` column per quantile."""
    if mode not in ("exact", "approx"):
        raise ValueError(f"mode must be 'exact' or 'approx', got {mode!r}")
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile out of [0,1]: {q}")
    if mode == "exact":
        aggs = [F.expr(f"percentile({value_col}, {q})").alias(_pname(q)) for q in qs]
    else:
        aggs = [
            F.percentile_approx(value_col, q, accuracy).alias(_pname(q)) for q in qs
        ]
    return df.groupBy(*group_cols).agg(F.count(value_col).cast("long").alias("n"), *aggs)


def _pname(q: float) -> str:
    return f"p{q * 100:g}".replace(".", "_")
