"""Stateful streaming per-entity features via ``applyInPandasWithState``
(SURVEY.md §2.9 extension; the batch analog is operators/ewma.py).

The batch engine computes EWMA with one pass per partition; under
Structured Streaming the recursion state (the EWM lane ``(weighted,
old_wt)`` of ``window_kernel.ewma_steps``, which both engines run, + the
previous turn's raw value for the lag-1 input) must survive across
micro-batches.
``applyInPandasWithState`` keys the stream by ``conv_id`` and hands each
key's new rows to a vectorized pandas kernel together with its ``GroupState``
— state size is O(metrics) per conversation, the smallest possible.

Ordering contract: turns must arrive ts-ordered per conversation ACROSS
micro-batches (within a batch the kernel sorts). Out-of-order delivery
within the watermark collapses via upstream dedup; rows older than a
previously processed turn would recurse from the wrong state, so transports
that reorder beyond the watermark need the batch backfill path instead —
the same late-data boundary the session aggregates draw.

State eviction (round-4 VERDICT item 3): both kernels carry ``state_ttl``
(default 30 days) — an EVENT-TIME timeout anchored at each conversation's
latest turn. When the stream's watermark passes ``last_turn_ts + ttl`` and
the conversation has received no new data, its state is REMOVED — without
this, the state store grows monotonically with every conversation ever
seen (unbounded at 10^9 conversations); with it, state size tracks the
ACTIVE conversation set. Resume-on-reappearance semantics (documented
contract): an evicted conversation that produces a new turn restarts its
recursion from scratch — EWMA reseeds from the first new lag value (its
first new row emits NULL), Elo re-initializes at ``init``. For workloads
that must survive arbitrary idle gaps, reseed from the batch engine's
latest-snapshot table at startup instead of raising the TTL toward
infinity. ``state_ttl=None`` restores the old keep-forever behavior.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from nfl_feature_store_spark.operators.window_kernel import ewma_steps


def _ttl_ms(state_ttl: str | None) -> int | None:
    if state_ttl is None:
        return None
    ms = int(pd.Timedelta(state_ttl).total_seconds() * 1000)
    if ms <= 0:
        raise ValueError(f"state_ttl must be a positive duration, got {state_ttl!r}")
    return ms


def streaming_ewma(
    turns: DataFrame,
    metrics: tuple[str, ...] = ("chars",),
    span: int = 10,
    watermark: str = "2 hours",
    state_ttl: str | None = "30 days",
) -> DataFrame:
    """Streaming span-EWM of the lag-1 metric series per conversation.

    Emits one row per turn: ``(conv_id, turn_idx, ts, ewma_{m}...)`` where
    ``ewma_{m}`` is the EWM of metric ``m`` over all STRICTLY EARLIER turns
    (NULL until a second turn exists) — identical semantics to the batch
    ``with_ewma``, state carried across micro-batches.

    ``turns`` must already carry the metric columns (e.g. from
    ``with_turn_metrics``); duplicates should be collapsed upstream
    (``dropDuplicatesWithinWatermark``).
    """
    out_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("ts", T.TimestampType(), False),
        ]
        + [T.StructField(f"ewma_{m}", T.DoubleType(), True) for m in metrics]
    )
    # per metric: the EWMA lane (weighted, old_wt) of window_kernel.ewma_steps
    # and the last raw value, which is the next turn's lag
    state_schema = T.StructType(
        [T.StructField(f"{f}_{m}", T.DoubleType(), True) for f in ("w", "ow", "x") for m in metrics]
    )

    ttl_ms = _ttl_ms(state_ttl)

    def kernel(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # idle past TTL: evict. A later reappearance restarts the
            # recursion (module docstring resume contract).
            state.remove()
            return
        M = len(metrics)
        if state.exists:
            # NULL reads back as NaN: an unobserved lane or a NULL last value
            st = np.array(state.get, dtype=np.float64)
        else:
            st = np.concatenate((np.full(M, np.nan), np.ones(M), np.full(M, np.nan)))
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["ts", "turn_idx"], kind="mergesort", ignore_index=True
        )
        X = pdf[list(metrics)].to_numpy(dtype=np.float64, na_value=np.nan)
        L = np.vstack((st[None, 2 * M :], X[:-1]))
        new_ent = np.zeros(len(pdf), dtype=bool)
        new_ent[0] = True
        EW, (W, OW) = ewma_steps(L, new_ent, span, lanes=(st[None, :M], st[None, M : 2 * M]))
        state.update(tuple(np.concatenate((W[0], OW[0], X[-1])).tolist()))
        if ttl_ms is not None:
            # anchor at the newest turn: rows behind the watermark are
            # dropped upstream, so max(ts) > watermark and the target is
            # always a legal (future-of-watermark) timeout
            state.setTimeoutTimestamp(int(pdf["ts"].max().value // 1_000_000) + ttl_ms)
        out = {"conv_id": pdf["conv_id"], "turn_idx": pdf["turn_idx"], "ts": pdf["ts"]}
        yield pd.DataFrame({**out, **{f"ewma_{m}": EW[:, j] for j, m in enumerate(metrics)}})

    keyed = turns.withWatermark("ts", watermark).groupBy("conv_id")
    timeout = (
        GroupStateTimeout.NoTimeout if ttl_ms is None else GroupStateTimeout.EventTimeTimeout
    )
    return keyed.applyInPandasWithState(kernel, out_schema, state_schema, "append", timeout)


def streaming_window_features(
    turns: DataFrame,
    metrics: tuple[str, ...] = ("chars",),
    roll_window: int = 10,
    form_window: int = 3,
    watermark: str = "2 hours",
    state_ttl: str | None = "30 days",
) -> DataFrame:
    """Streaming counterpart of the batch window compiler's bounded
    families: ``last_{m}`` (lag-1), ``form_{m}`` (mean of previous
    ≤form_window), ``roll{k}_{m}`` (mean of previous ≤roll_window), and
    ``expanding_{m}`` — per conversation, strictly-past-only, identical
    semantics to ``compile_window_features`` (pytest-pinned batch parity).

    State per conversation is BOUNDED: a ring of the last ``roll_window``
    raw values per metric (the form window is a suffix of it) plus the
    expanding (count, sum) pair — O(metrics x roll_window) doubles,
    independent of conversation length; same eviction contract as
    :func:`streaming_ewma` (``state_ttl``). The unbounded-memory families
    (EWMA, session-avg) live in their own kernels — EWMA carries O(1)
    state in :func:`streaming_ewma`; the two-anchor session-avg needs the
    batch path (its anchor may reach arbitrarily far back).

    Ordering contract as :func:`streaming_ewma`: ts-ordered per
    conversation across micro-batches; within a batch the kernel sorts.
    """
    k = roll_window
    if form_window > roll_window:
        raise ValueError(
            f"form_window ({form_window}) must be <= roll_window ({roll_window}) — "
            "the form frame is served from the roll ring"
        )
    out_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("ts", T.TimestampType(), False),
        ]
        + [
            T.StructField(f"{fam}_{m}", T.DoubleType(), True)
            for m in metrics
            for fam in ("last", "form", f"roll{k}", "expanding")
        ]
    )
    # per metric: ring of last k values (fixed-size array, NULL-padded),
    # ring fill count, expanding count, expanding sum
    state_schema = T.StructType(
        [
            f
            for m in metrics
            for f in (
                T.StructField(f"ring_{m}", T.ArrayType(T.DoubleType()), True),
                T.StructField(f"n_{m}", T.LongType(), True),
                T.StructField(f"cnt_{m}", T.LongType(), True),
                T.StructField(f"sum_{m}", T.DoubleType(), True),
            )
        ]
    )
    ttl_ms = _ttl_ms(state_ttl)

    def kernel(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            st = list(state.get)
        else:
            st = [None, 0, 0, 0.0] * len(metrics)
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["ts", "turn_idx"], kind="mergesort", ignore_index=True
        )
        out = {"conv_id": pdf["conv_id"], "turn_idx": pdf["turn_idx"], "ts": pdf["ts"]}
        for j, m in enumerate(metrics):
            ring, n, cnt, tot = st[4 * j : 4 * j + 4]
            prior = list(ring) if ring is not None else []
            cnt, tot = int(cnt or 0), float(tot or 0.0)
            vals = pdf[m].astype("float64").to_numpy()
            nb, npr = len(vals), len(prior)
            # vectorized over the batch (no per-row Python): prepend the
            # ring of ≤k prior values, compute lagged rolling frames on the
            # combined series, slice off the prior prefix. The bounded
            # frames (form ≤ roll ≤ k) never reach past the ring, so the
            # truncation is exact.
            s = pd.Series(np.concatenate([np.asarray(prior, dtype="float64"), vals]))
            lagged = s.shift(1)
            last_c = lagged.to_numpy()[npr:]
            form_c = (
                lagged.rolling(form_window, min_periods=1).mean().to_numpy()[npr:]
            )
            roll_c = lagged.rolling(k, min_periods=1).mean().to_numpy()[npr:]
            # first-ever turn: no prior value at all -> NULL (rolling over
            # the all-NaN head yields NaN already; this is exact)
            # expanding mean over FULL history: scalar (cnt, tot) carry +
            # in-batch cumulative sums of the strictly-prior values.
            # NULL-aware like Spark's avg: NaN values join the ring (lag-1
            # of a NULL row is NULL) but never the count/sum
            valid = ~np.isnan(vals)
            prior_cumsum = np.concatenate(
                [[0.0], np.cumsum(np.where(valid, vals, 0.0))[:-1]]
            )
            prior_cumcnt = np.concatenate([[0], np.cumsum(valid.astype("int64"))[:-1]])
            denom = cnt + prior_cumcnt
            exp_c = np.where(denom > 0, (tot + prior_cumsum) / np.maximum(denom, 1), np.nan)
            new_ring = np.concatenate([np.asarray(prior, dtype="float64"), vals])[-k:]
            st[4 * j : 4 * j + 4] = [
                [float(x) for x in new_ring],
                int(min(npr + nb, k)),
                cnt + int(valid.sum()),
                tot + float(np.nansum(vals)),
            ]
            out[f"last_{m}"] = last_c
            out[f"form_{m}"] = form_c
            out[f"roll{k}_{m}"] = roll_c
            out[f"expanding_{m}"] = exp_c
        state.update(tuple(st))
        if ttl_ms is not None:
            state.setTimeoutTimestamp(int(pdf["ts"].max().value // 1_000_000) + ttl_ms)
        yield pd.DataFrame(out)

    keyed = turns.withWatermark("ts", watermark).groupBy("conv_id")
    timeout = (
        GroupStateTimeout.NoTimeout if ttl_ms is None else GroupStateTimeout.EventTimeTimeout
    )
    return keyed.applyInPandasWithState(kernel, out_schema, state_schema, "append", timeout)


def streaming_elo(
    turns: DataFrame,
    outcome_col: str = "outcome",
    k: float = 20.0,
    init: float = 1500.0,
    opponent_rating: float = 1500.0,
    watermark: str = "2 hours",
    state_ttl: str | None = "30 days",
) -> DataFrame:
    """Streaming per-entity Elo (operators/elo.py elo_per_entity semantics):
    ``elo_pre`` is the rating BEFORE each event; NULL outcomes pass through
    without updating. State = one double per conversation, carried across
    micro-batches. Same ordering contract as :func:`streaming_ewma`."""
    out_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("elo_pre", T.DoubleType(), False),
        ]
    )
    state_schema = T.StructType([T.StructField("r", T.DoubleType(), True)])

    ttl_ms = _ttl_ms(state_ttl)

    def kernel(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()  # reappearance re-initializes at `init`
            return
        r = state.get[0] if state.exists else init
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["ts", "turn_idx"], kind="mergesort", ignore_index=True
        )
        pre = []
        for o in pdf[outcome_col].astype("float64"):
            pre.append(r)
            if o == o:  # not NaN
                expected = 1.0 / (1.0 + 10.0 ** (-(r - opponent_rating) / 400.0))
                r = r + k * (o - expected)
        state.update((r,))
        if ttl_ms is not None:
            state.setTimeoutTimestamp(int(pdf["ts"].max().value // 1_000_000) + ttl_ms)
        yield pd.DataFrame(
            {"conv_id": pdf["conv_id"], "turn_idx": pdf["turn_idx"], "ts": pdf["ts"], "elo_pre": pre}
        )

    keyed = turns.withWatermark("ts", watermark).groupBy("conv_id")
    timeout = (
        GroupStateTimeout.NoTimeout if ttl_ms is None else GroupStateTimeout.EventTimeTimeout
    )
    return keyed.applyInPandasWithState(kernel, out_schema, state_schema, "append", timeout)
