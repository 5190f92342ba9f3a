"""Vectorized Arrow kernel for the full window-family stack + EWMA.

Why this exists: the expression compiler (operators/windows.py) emits ~5
window functions per metric, and Spark's WindowExec pays an interpreted
per-function-per-row cost for each — at the reference's 190-metric width
~950 functions, measured 464 CPU-seconds for a 100k-row sf0.1 backfill, all
fixed evaluator overhead. This kernel computes the identical features with
NumPy shifted-array algebra in ONE ``mapInArrow`` stage.

Bitwise contract: every output equals ``compile_window_features`` +
``with_ewma`` bit for bit — sign of zero, NaN values and NULL masks
included (tests/test_window_kernel.py and its hypothesis fuzz). One
algorithm serves all-valid and NULL-bearing metrics; validity changes only
the counts and the EWMA lanes:

* NULLs are filled with ``0.0`` and every sum is seeded with ``+0.0``, as
  Spark's Sum/Average do (``coalesce(sum, 0) + x``). Such a sum is never
  ``-0.0``, so adding ``0.0`` for a NULL changes nothing, and ``-0.0`` terms
  may be normalized to ``+0.0`` up front (:func:`sum_terms`) — after which
  copy-initializing a chain at its oldest term equals seeding it with
  ``+0.0``. The sliding chain, its boundary repair and the per-entity
  cumsum therefore run unmasked on any data.
* counts are the turn position (all-valid) or a per-entity cumsum of the
  validity matrix (:func:`valid_counts`); the two-anchor session bases
  subtract the lag where it is valid (:func:`session_avg`);
* EWMA is one position-batched recursion carrying pandas' ``ignore_na=False``
  weight lanes (:func:`ewma_steps`).

Arrow keeps ``null_count`` per column, so the null-free metrics run as one
block that never builds a validity matrix; only NULL-bearing metrics pay
for masks. A literal NaN value is VALID for every window family (it poisons
sums as in Spark) and is emitted as NaN; EWMA, like ``with_ewma``, treats it
as missing and emits NULL wherever pandas yields NaN.

Scale: partition-at-a-time over the hash(entity)-clustered, entity-sorted
layout every window family already requires — no new exchange. Peak memory
per task is rows_per_partition x (metrics x ~9) float64 columns; the
``max_partition_rows`` tripwire fails fast instead of OOMing on a hot
entity, but ``backfill_features`` does not pass it yet.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from nfl_feature_store_spark.operators.windows import FeatureSpec


def _output_names(spec: FeatureSpec, ewma_span: int | None) -> list[str]:
    names: list[str] = []
    for m in spec.metrics:
        if spec.lag:
            names.append(f"last_{m}")
        if spec.form_window:
            names.append(f"form_{m}")
        for k in spec.roll_windows:
            names.append(f"roll{k}_{m}")
        if spec.expanding:
            names.append(f"expanding_{m}")
    if spec.session_anchored:
        names += [f"session_avg_{m}" for m in spec.metrics]
    if ewma_span:
        names += [f"ewma_{m}" for m in spec.metrics]
    return names


# ---------------------------------------------------------------- building
# blocks. Rows are entity-sorted; ``new_ent`` flags each entity's first row
# and ``pos`` is the row's offset within its entity.


def entity_positions(ent: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(new_ent, pos)`` for an entity-sorted key column."""
    n = len(ent)
    new_ent = np.ones(n, dtype=bool)
    new_ent[1:] = ent[1:] != ent[:-1]
    idx = np.arange(n)
    pos = idx - np.maximum.accumulate(np.where(new_ent, idx, 0))
    return new_ent, pos


def lag1(X: np.ndarray, new_ent: np.ndarray) -> np.ndarray:
    """Previous row's raw value within the entity; NaN on entity starts.
    NULL values arrive as NaN, so a NULL prior is NaN too."""
    L = np.empty_like(X)
    L[:1] = np.nan
    L[1:] = X[:-1]
    L[new_ent] = np.nan
    return L


def sum_terms(X: np.ndarray, valid: np.ndarray | None) -> np.ndarray:
    """The terms every sum adds, in place: NULL -> ``0.0`` and ``-0.0`` ->
    ``+0.0``. Both are no-ops on a ``+0.0``-seeded sum (module docstring);
    literal NaN values stay NaN and poison their sums as in Spark."""
    if valid is not None:
        X[~valid] = 0.0
    X += 0.0
    return X


def sliding_sum(X0: np.ndarray, pos: np.ndarray, k: int) -> np.ndarray:
    """Sum of rows ``i-k..i-1`` clipped to the entity, oldest term first,
    over :func:`sum_terms` output (Spark's SlidingWindowFunctionFrame
    re-aggregates each frame in row order). Full-frame rows take unmasked
    in-place adds (~30% faster than where-masked ones); rows with
    ``pos <= k`` would pick up the previous entity's rows, so their chains
    are recomputed from the oldest in-entity term. Rows with ``pos == 0``
    hold garbage; their count is 0, so they are emitted NULL."""
    acc = np.zeros_like(X0)
    for j in range(k, 0, -1):  # frame iterates ascending row order
        np.add(acc[j:], X0[:-j], out=acc[j:])
    b = np.nonzero((pos >= 1) & (pos <= k))[0]
    if b.size:
        accb = X0[b - pos[b]].copy()
        for d in range(1, k):
            sel = pos[b] >= d + 1
            rows = b[sel]
            accb[sel] += X0[rows - (pos[rows] - d)]
        acc[b] = accb
    return acc


def prior_sums(X0: np.ndarray, new_ent: np.ndarray) -> np.ndarray:
    """Sum of the rows strictly before each row in its entity, over
    :func:`sum_terms` output. One ``np.cumsum`` per entity: it adds strictly
    left to right like Spark's running frame, and each entity starts fresh
    (a global cumsum minus an offset would round differently)."""
    n = len(X0)
    bounds = np.append(np.nonzero(new_ent)[0], n)
    S = np.empty_like(X0)
    for a, b in zip(bounds[:-1], bounds[1:]):
        S[a] = 0.0
        if b - a > 1:
            np.cumsum(X0[a : b - 1], axis=0, out=S[a + 1 : b])
    return S


def valid_counts(G: np.ndarray | None, back: np.ndarray) -> np.ndarray:
    """Valid values among the ``back[i]`` rows before row ``i``. ``G`` is the
    prefix count of the validity matrix (``G[i]`` = valid rows in
    ``[0, i)``), or None when every value is valid."""
    if G is None:
        return back[:, None]
    r = np.arange(len(back))
    return G[r] - G[r - back]


def session_avg(
    S: np.ndarray,
    C: np.ndarray,
    L: np.ndarray,
    V1: np.ndarray,
    new_ent: np.ndarray,
    isf: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Two-anchor session average ``(values, null)`` from the prior sums
    ``S``, prior valid counts ``C``, the lag ``L`` and its validity ``V1``.

    At each session-start row B the expression path records the base
    ``(S - coalesce(lag, 0), C - lag_valid)``. A non-first row anchors at its
    own session's base; a session's first row anchors at the PREVIOUS
    session's base (the prior-period rule); an entity's first session has
    no base."""
    B = np.nonzero(isf)[0]
    bs_vals = S[B] - np.where(V1[B], L[B], 0.0)
    bc_vals = C[B] - V1[B]
    r = np.cumsum(isf)  # 1-based boundary ordinal at each row
    idx = r - 1 - isf  # boundary rows record the PRIOR base
    # a row never anchors into the previous entity: its minimum ordinal is
    # its own entity's first boundary
    min_idx = (r[new_ent] - 1)[np.cumsum(new_ent) - 1]
    ok = (idx >= min_idx)[:, None]
    safe = np.maximum(idx, 0)
    num = S - np.where(ok, bs_vals[safe], 0.0)
    den = C - np.where(ok, bc_vals[safe], 0)
    with np.errstate(invalid="ignore", divide="ignore"):
        return num / den, den <= 0


def ewma_steps(
    L: np.ndarray,
    new_ent: np.ndarray,
    span: int,
    lanes: tuple[np.ndarray, np.ndarray] | None = None,
) -> tuple[np.ndarray, tuple[np.ndarray, np.ndarray]]:
    """Span-EWM (``adjust=False``) of the lag series ``L`` per entity, bit
    for bit what pandas' grouped ``ewm(span, adjust=False).mean()`` returns:
    NaN and ±inf are missing (pandas masks infinities before the recursion),
    ``ignore_na=False``.

    Each (entity, metric) lane carries pandas' ``(weighted, old_wt)``: while
    ``weighted`` is valid every step decays ``old_wt *= 1-a``; an
    observation then sets ``weighted = (old_wt*weighted + a*x) /
    (old_wt + a)`` unless ``weighted == x`` and resets ``old_wt = 1``; the
    first observation copies ``x``. ``old_wt`` is 1 whenever ``weighted`` is
    NaN, since only an update can make it NaN.

    ``lanes`` seeds the lanes, one row per entity in row order; by default
    every entity starts unobserved (NaN, 1). Returns the EWM and the final
    lanes, so a recursion cut after any row continues bit for bit from them.

    Batched by turn POSITION, not by row: entities are ordered longest
    first, so the lanes still active at position ``p`` are a prefix and are
    updated in place — max-entity-length numpy steps per partition. A
    partition dominated by one entity degenerates to one step per row
    (``maxlen ~ n``), about 15 numpy calls per row."""
    alpha = 2.0 / (span + 1.0)
    om = 1.0 - alpha
    n, M = L.shape
    starts = np.nonzero(new_ent)[0]
    lens = np.diff(np.append(starts, n))
    order = np.argsort(-lens, kind="stable")
    starts, lens = starts[order], lens[order]
    EW = np.empty_like(L)
    if lanes is None:
        W = np.full((len(starts), M), np.nan)
        OW = np.ones((len(starts), M))
    else:
        W, OW = lanes[0][order], lanes[1][order]
    active = len(starts)
    with np.errstate(invalid="ignore"):
        for p in range(int(lens[0]) if n else 0):
            while lens[active - 1] <= p:
                active -= 1
            rows = starts[:active] + p
            x = L[rows]
            w, ow = W[:active], OW[:active] * om
            wv, obs = w == w, np.isfinite(x)
            upd = (ow * w + alpha * x) / (ow + alpha)
            keep = ~obs | (wv & (w == x))
            new = np.where(keep, w, np.where(wv, upd, x))
            OW[:active] = np.where(wv & ~obs, ow, 1.0)
            W[:active] = new
            EW[rows] = new
    final_W, final_OW = np.empty_like(W), np.empty_like(OW)
    final_W[order], final_OW[order] = W, OW
    return EW, (final_W, final_OW)


def kernel_table(tbl, spec: FeatureSpec, ewma_span: int | None):
    """One entity-sorted partition (a ``pyarrow.Table``) in, the same rows
    plus every feature column out."""
    import pyarrow as pa
    import pyarrow.compute as pc

    metrics = list(spec.metrics)
    n = tbl.num_rows
    new_ent, pos = entity_positions(tbl.column(spec.entity_col).to_numpy())
    if spec.session_anchored:
        sess = tbl.column(spec.session_col).to_numpy()
        isf = new_ent.copy()
        isf[1:] |= sess[1:] != sess[:-1]
    out: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def families(names: list[str], cols: list) -> None:
        """Every family for one block of metrics; ``out`` gets the columns."""
        M = len(names)
        # float64 values, NaN at NULLs
        X = np.empty((n, M), dtype=np.float64)
        for j, col in enumerate(cols):
            X[:, j] = col.to_numpy(zero_copy_only=False)
        L = lag1(X, new_ent)
        if any(col.null_count for col in cols):
            VALID = np.empty((n, M), dtype=bool)
            for j, col in enumerate(cols):
                VALID[:, j] = col.is_valid().to_numpy(zero_copy_only=False)
            V1 = np.zeros((n, M), dtype=bool)
            V1[1:] = VALID[:-1]
            V1[new_ent] = False
            G = np.zeros((n + 1, M), dtype=np.int32)
            np.cumsum(VALID, axis=0, out=G[1:])
        else:
            VALID, V1, G = None, (pos >= 1)[:, None], None
        X0 = sum_terms(X, VALID)

        def emit(fmt: str, A: np.ndarray, null: np.ndarray) -> None:
            # one contiguous transpose per family matrix, then row slices:
            # building 1000+ output Arrow arrays from per-COLUMN strided
            # views re-walks the row-major matrix once per metric (profiled
            # 0.66s/partition at width 190)
            AT = np.ascontiguousarray(A.T)
            NT = np.ascontiguousarray(np.broadcast_to(null, A.shape).T)
            for j, m in enumerate(names):
                out[fmt.format(m=m)] = (AT[j], NT[j])

        def avg(S: np.ndarray, C: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
            with np.errstate(invalid="ignore", divide="ignore"):
                return S / C, C == 0

        if spec.lag:
            emit("last_{m}", L, ~V1)
        frames = [(f"roll{k}_{{m}}", k) for k in spec.roll_windows]
        for fmt, k in ([("form_{m}", spec.form_window)] if spec.form_window else []) + frames:
            emit(fmt, *avg(sliding_sum(X0, pos, k), valid_counts(G, np.minimum(pos, k))))
        if spec.expanding or spec.session_anchored:
            S = prior_sums(X0, new_ent)
            C = valid_counts(G, pos)
            if spec.expanding:
                emit("expanding_{m}", *avg(S, C))
            if spec.session_anchored:
                emit("session_avg_{m}", *session_avg(S, C, L, V1, new_ent, isf))
        if ewma_span:
            # NaN -> NULL: pandas cannot tell a missing EWMA from NaN either
            EW, _ = ewma_steps(L, new_ent, ewma_span)
            emit("ewma_{m}", EW, np.isnan(EW))

    # Arrow keeps null_count per column, so validity is known from metadata:
    # the null-free metrics form one block that never materializes a
    # validity matrix, and only the NULL-bearing ones pay for the masks
    cols = {}
    for m in metrics:
        col = tbl.column(m)
        cols[m] = col if col.type == pa.float64() else pc.cast(col, pa.float64())
    for has_nulls in (False, True):
        block = [m for m in metrics if bool(cols[m].null_count) == has_nulls]
        if block:
            families(block, [cols[m] for m in block])
    out_names = _output_names(spec, ewma_span)

    # ONE table construction: append_column per output column is
    # O(cols^2) metadata churn at 1000+ columns
    return pa.Table.from_arrays(
        tbl.columns + [pa.array(out[c][0], type=pa.float64(), mask=out[c][1]) for c in out_names],
        names=tbl.column_names + out_names,
    )


def window_features_ewma_kernel(
    df: DataFrame,
    spec: FeatureSpec = FeatureSpec(),
    ewma_span: int | None = 10,
    max_partition_rows: int | None = None,
) -> DataFrame:
    """Attach every configured window family (and optionally ``ewma_{m}``)
    in ONE ``mapInArrow`` stage — output schema and values identical to
    ``compile_window_features`` (+ ``with_ewma``).

    ``df`` must be hash-clustered by the entity and sorted by (entity,
    order) within partitions, as the sessionize output in
    ``backfill_features`` is; the kernel adds no exchange or sort."""
    metrics = list(spec.metrics)
    if len(set(metrics)) != len(metrics):
        raise ValueError(f"window kernel metrics contains duplicates: {metrics}")
    keys = [spec.entity_col, *spec.order_cols] + ([spec.session_col] if spec.session_anchored else [])
    overlap = set(metrics) & set(keys)
    if overlap:
        raise ValueError(f"window kernel metrics {sorted(overlap)} overlap the key columns {keys}")
    out_names = _output_names(spec, ewma_span)
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(n, T.DoubleType(), True) for n in out_names]
    )

    def kernel(batches) -> Iterator:
        import pyarrow as pa

        blist = []
        total = 0
        for b in batches:
            total += b.num_rows
            if max_partition_rows is not None and total > max_partition_rows:
                raise ValueError(
                    f"window kernel partition holds > max_partition_rows="
                    f"{max_partition_rows} rows; a hot entity this size belongs in "
                    "operators.salted, or raise spark.sql.shuffle.partitions"
                )
            blist.append(b)
        if blist:
            tbl = pa.Table.from_batches(blist)
            yield from kernel_table(tbl, spec, ewma_span).to_batches()

    return df.mapInArrow(kernel, schema=out_schema)
