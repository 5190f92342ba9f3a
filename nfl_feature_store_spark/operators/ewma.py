"""Exponentially-weighted means (SURVEY.md §2.5 W5).

Verified reference semantics (reverse-engineered from
/root/reference/data/feature_store/event/** consecutive rows): EWMA with
span=10 => alpha = 2/11, ``adjust=False`` recursion over LAG-1 values —
``e_t = e_{t-1} + alpha * (x_{t-1} - e_{t-1})``. The recursion has unbounded
memory, so no frame-bounded Spark window expresses it; the closed form
``sum(alpha*(1-alpha)^{-j} x_j) * (1-alpha)^k`` overflows float64 beyond a
few thousand rows, so column algebra is out too.

Execution strategy — ``mapInArrow`` over entity-clustered, entity-sorted
partitions, NOT per-group ``applyInPandas``: a grouped map pays ~10ms of
Arrow/pandas fixed cost per GROUP (measured), which at 10^9 conversations is
days of pure overhead. The partition-level kernel instead runs ONE cython
``groupby(...).shift(1)`` + ``groupby(...).ewm(...).mean()`` over every
conversation in the partition simultaneously — per-group cost collapses to
pandas' grouped-cython path (~40x faster end-to-end on the sf0.1 bench:
26s -> <2s for the full pipeline). Only the (entity, order, reset, metric)
columns cross into pandas; passthrough columns (the text payload above all)
stay Arrow buffers and the EWMA columns are appended positionally.

This pandas ``ewm`` call is the EWMA reference: the window kernel
(operators/window_kernel.py) reimplements the recursion in numpy and is
tested bit for bit against this operator, and the q28 DuckDB oracle pins
this operator in turn.

Correctness requirement: every entity's rows must be complete within one
partition and sorted by (entity, order_cols). Downstream of the window
compiler that's already true (window exec hash-partitions by entity and
sorts within partitions); set ``presorted=False`` to have this operator do
its own repartition + sortWithinPartitions.

Deviation (documented, FIXTURES.md F3): the reference re-seeds EWMA at season
boundaries with a formula internal to its unvendored ``nfl_data_loader``
package; we keep the EWMA continuous across sessions. ``reset_col`` restarts
the recursion per period for reference-style reseeding.

Salted/split-stream merge identity (single-entity-stream case):
``e_merged = e_left * (1-alpha)^{n_right} + e_right_partial`` with
``e_right_partial`` the right chunk's EWM seeded from 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def with_ewma(
    df: DataFrame,
    metrics: tuple[str, ...] = ("chars", "words", "is_tool"),
    span: int = 10,
    entity_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("ts", "turn_idx"),
    reset_col: str | None = None,
    prefix: str = "ewma_",
    presorted: bool = False,
    max_partition_rows: int | None = None,
) -> DataFrame:
    """Attach ``ewma_{m}`` per metric: span-EWM of the lag-1 series per entity.

    ``max_partition_rows`` is an executor-side memory tripwire: the kernel
    materializes one partition in pandas by design (see module docstring), so
    a partition blown up by a pathologically hot entity should FAIL FAST with
    guidance (route the hot entity through operators/salted.py salted_ewm, or
    raise spark.sql.shuffle.partitions) rather than OOM the worker."""
    if len(set(metrics)) != len(metrics):
        raise ValueError(f"with_ewma metrics contains duplicates: {metrics}")
    overlap = set(metrics) & ({entity_col} | ({reset_col} if reset_col else set()))
    if overlap:
        raise ValueError(
            f"with_ewma metrics {sorted(overlap)} overlap the grouping keys "
            f"(entity_col/reset_col); an EWM over its own group key is undefined"
        )
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(f"{prefix}{m}", T.DoubleType(), True) for m in metrics]
    )
    order = list(order_cols)
    group_keys = [entity_col] + ([reset_col] if reset_col else [])

    def kernel(batches):
        import pyarrow as pa

        blist = []
        total = 0
        for b in batches:
            total += b.num_rows
            if max_partition_rows is not None and total > max_partition_rows:
                raise ValueError(
                    f"with_ewma partition holds > max_partition_rows="
                    f"{max_partition_rows} rows; a hot entity this size belongs in "
                    "operators.salted.salted_ewm, or raise spark.sql.shuffle.partitions"
                )
            blist.append(b)
        if not blist:
            return
        tbl = pa.Table.from_batches(blist)
        # ONLY the compute columns cross into pandas; text & friends stay
        # Arrow buffers and ride through untouched
        # dict.fromkeys dedupe: a metric can coincide with an order column
        # (e.g. EWMA over ts itself) — pa.Table.select would then yield
        # duplicate columns and sub[m] a DataFrame, crashing obscurely
        need = list(dict.fromkeys(group_keys + order + list(metrics)))
        sub = tbl.select(need).to_pandas()
        spdf = (
            sub
            if presorted
            else sub.sort_values(group_keys + order, kind="mergesort")
        )
        g = spdf.groupby(group_keys, sort=False, dropna=False)
        # frame-at-once grouped shift + EWM: one cython dispatch for all
        # metrics instead of one per metric (1.66x faster at 59 metrics,
        # bitwise identical)
        shifted = g[list(metrics)].shift(1).astype("float64")
        ewm = (
            shifted.groupby([spdf[k] for k in group_keys], sort=False, dropna=False)
            .ewm(span=span, adjust=False)
            .mean()
        )
        ewm.index = ewm.index.get_level_values(-1)
        out = tbl
        for m in metrics:
            # back to the partition's original positional order so the
            # appended column lines up with the untouched batches.
            # from_pandas=True: leading-window NaNs become Arrow NULLs (a
            # bare pa.array would keep them as float NaN VALUES, which
            # Spark treats as NaN, not NULL)
            col = ewm[m].reindex(range(len(sub))).to_numpy()
            out = out.append_column(
                f"{prefix}{m}", pa.array(col, type=pa.float64(), from_pandas=True)
            )
        yield from out.to_batches()

    if presorted:
        clustered = df
    else:
        n = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        clustered = df.repartition(int(n), entity_col).sortWithinPartitions(entity_col, *order)
    return clustered.mapInArrow(kernel, schema=out_schema)
