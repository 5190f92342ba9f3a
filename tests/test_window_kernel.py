"""Pin the vectorized window+EWMA Arrow kernel (operators/window_kernel.py)
bitwise against the expression path (compile_window_features + with_ewma):
``exceptAll`` both ways on corpora with NULL, large signed, multi-session
and single-row data; a sign-aware collect (``exceptAll`` normalizes
``-0.0``); the kernel's building blocks, imported from the module, against
per-row reference recursions; a hypothesis differential fuzz of
``backfill_features`` with both engines; the single hash(conv_id) exchange;
and the two-value ``window_engine`` knob."""

from __future__ import annotations

import datetime
import math
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nfl_feature_store_spark.functions.turn_metrics import dedup_latest, with_turn_metrics
from nfl_feature_store_spark.operators.ewma import with_ewma
from nfl_feature_store_spark.operators.sessionize import DEFAULT_GAP_S, sessionize
from nfl_feature_store_spark.operators.window_kernel import (
    entity_positions,
    ewma_steps,
    lag1,
    prior_sums,
    session_avg,
    sliding_sum,
    sum_terms,
    valid_counts,
    window_features_ewma_kernel,
)
from nfl_feature_store_spark.operators.windows import FeatureSpec, compile_window_features
from nfl_feature_store_spark.plans.pipeline import backfill_features

KEY = ["conv_id", "ts", "turn_idx"]


@pytest.fixture(scope="module")
def corpus(spark):
    from nfl_feature_store_spark.sources.transcripts import gen_transcripts_distributed

    gen = gen_transcripts_distributed(spark, n_convs=800, avg_turns=8, seed=13, partitions=4)
    gen = sessionize(with_turn_metrics(dedup_latest(gen)))
    # NULL injection + a signed large-magnitude metric exercise the exact
    # skip-initialization and accumulation-order semantics
    gen = gen.withColumn(
        "chars",
        F.when(F.xxhash64("conv_id", "turn_idx") % 7 == 0, F.lit(None)).otherwise(F.col("chars")),
    ).withColumn(
        "signed",
        ((F.xxhash64("conv_id", "turn_idx", F.lit(9)) % 2001) - 1000).cast("double") * 1e7,
    )
    return gen.repartition(4, "conv_id").sortWithinPartitions("conv_id", "ts", "turn_idx")


def _expr_path(df, spec, span):
    out = compile_window_features(df, spec)
    if span:
        out = with_ewma(
            out, metrics=spec.metrics, span=span, entity_col=spec.entity_col,
            order_cols=spec.order_cols, presorted=True,
        )
    return out


def _assert_bitwise_equal(a: pa.Table, b: pa.Table, key: list[str]) -> None:
    """Same rows and columns; every double column equal bit for bit up to
    the NaN payload: same NULL mask, same NaN mask, same sign of zero."""
    assert a.column_names == b.column_names
    assert a.num_rows == b.num_rows
    order = [(k, "ascending") for k in key]
    a, b = a.sort_by(order), b.sort_by(order)
    for c in a.column_names:
        x, y = a.column(c), b.column(c)
        if not pa.types.is_floating(x.type):
            assert x.equals(y), c
            continue
        xn = x.is_null().to_numpy(zero_copy_only=False)
        yn = y.is_null().to_numpy(zero_copy_only=False)
        assert (xn == yn).all(), f"{c}: NULL masks differ at rows {np.nonzero(xn != yn)[0][:5]}"
        xv = x.to_numpy(zero_copy_only=False)[~xn]
        yv = y.to_numpy(zero_copy_only=False)[~yn]
        same = (np.isnan(xv) & np.isnan(yv)) | ((xv == yv) & (np.signbit(xv) == np.signbit(yv)))
        assert same.all(), f"{c}: {xv[~same][:5]} != {yv[~same][:5]}"


@pytest.mark.parametrize(
    "spec,span",
    [
        (FeatureSpec(metrics=("chars", "words", "is_tool", "signed")), 10),
        (FeatureSpec(metrics=("chars", "signed"), form_window=None, roll_windows=(5, 10)), None),
        (FeatureSpec(metrics=("chars", "words"), session_anchored=False, lag=False), 10),
    ],
)
def test_kernel_bitwise_parity(corpus, spec, span):
    old = _expr_path(corpus, spec, span)
    new = window_features_ewma_kernel(corpus, spec, ewma_span=span)
    assert old.columns == new.columns
    assert old.schema == new.schema
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_kernel_bitwise_parity_all_valid(corpus):
    """Null-free metrics take the kernel's mask-free block (validity from
    Arrow null_count metadata, counts from the turn position). ``words``/
    ``is_tool``/``signed`` carry no injected NULLs — asserted, so the test
    cannot silently drift onto the NULL-bearing block."""
    spec = FeatureSpec(metrics=("words", "is_tool", "signed"))
    nulls = corpus.select([F.count_if(F.col(m).isNull()).alias(m) for m in spec.metrics]).first()
    assert all(nulls[m] == 0 for m in spec.metrics), nulls
    old = _expr_path(corpus, spec, 10)
    new = window_features_ewma_kernel(corpus, spec, ewma_span=10)
    assert old.columns == new.columns
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_kernel_sign_of_zero_matches_spark(spark):
    """Spark seeds every sum with +0.0, so a frame of ``-0.0`` values
    averages to ``+0.0``; ``last_`` and the EWMA's first value keep the raw
    ``-0.0``. Conversations open with ``-0.0`` (and with NULL runs) so
    ``expanding_``/``form_``/``roll`` boundary rows see it first."""
    rows = []
    base = datetime.datetime(2026, 5, 1)
    vals = {
        "a": [-0.0, -0.0, 3.0, -0.0, None, -0.0],
        "b": [None, -0.0, -0.0, None, 2.5],
        "c": [-0.0],
        "d": [float("nan"), -0.0, 1.0, -1.0, -0.0],
        "e": [None, None, -0.0, -0.0],
    }
    for c, xs in vals.items():
        ts = base
        for i, x in enumerate(xs):
            ts += datetime.timedelta(seconds=4000 if i == 3 else 60)  # a second session on longer ones
            rows.append((c, i, ts, x, -0.0 if i % 2 else 1.0))
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp, z double, w double")
    df = sessionize(df).repartition(2, "conv_id").sortWithinPartitions(*KEY)
    spec = FeatureSpec(metrics=("z", "w"), roll_windows=(2, 10))
    got = window_features_ewma_kernel(df, spec, ewma_span=10).toArrow()
    want = _expr_path(df, spec, 10).toArrow()
    assert np.signbit(want.column("last_z").to_numpy(zero_copy_only=False)).any()  # not vacuous
    _assert_bitwise_equal(got, want, KEY)


# ------------------------------------------------- building blocks vs the
# per-row recursions they vectorize


def _partition(seed: int, max_len: int, M: int = 3):
    """Random entity-sorted block: raw values (NaN at NULLs, plus literal
    NaN, ``-0.0`` and large signed magnitudes) and the validity matrix."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(1, max_len, size=rng.integers(1, 30))
    n = int(lens.sum())
    new_ent, pos = entity_positions(np.repeat(np.arange(len(lens)), lens))
    X = ((rng.integers(0, 2001, size=(n, M)) - 1000) * 1e7).astype(np.float64)
    X[rng.random((n, M)) < 0.2] = -0.0
    X[rng.random((n, M)) < 0.02] = np.nan
    valid = rng.random((n, M)) >= 0.25
    X[~valid] = np.nan
    G = np.zeros((n + 1, M), dtype=np.int32)
    np.cumsum(valid, axis=0, out=G[1:])
    return X, valid, G, new_ent, pos, rng


def _same(a: np.ndarray, b: np.ndarray) -> bool:
    return np.array_equal(a, b, equal_nan=True) and np.array_equal(np.signbit(a), np.signbit(b))


@settings(max_examples=200, deadline=None)
@given(
    lens=st.lists(st.integers(1, 30), min_size=1, max_size=12),
    seed=st.integers(0, 2**32 - 1),
    span=st.integers(1, 30),
    missing=st.floats(0.0, 0.9),
)
def test_ewma_stepbatch_matches_rowloop(lens, seed, span, missing):
    """``ewma_steps`` batches the recursion by turn position; every lane must
    match pandas' grouped ``ewm(adjust=False)`` — the per-row cython loop —
    bit for bit: NaN runs, ±inf (pandas masks them), ``-0.0``, repeated
    values (the ``weighted == x`` skip) and huge magnitudes."""
    rng = np.random.default_rng(seed)
    ent = np.repeat(np.arange(len(lens)), lens)
    X = rng.choice([-0.0, 0.0, 1.0, 2.0, -3.5, 1e300, np.inf, -np.inf], size=(len(ent), 3))
    X[rng.random(X.shape) < missing] = np.nan
    new_ent, _ = entity_positions(ent)
    L = lag1(X, new_ent)
    with np.errstate(all="ignore"):
        got = ewma_steps(L, new_ent, span)
        ref = pd.DataFrame(L).groupby(ent, sort=False).ewm(span=span, adjust=False).mean()
    assert _same(got, ref.droplevel(0).sort_index().to_numpy())


def test_sliding_unmasked_repair_matches_masked():
    """The unmasked sliding chain with its boundary repair, over
    ``sum_terms`` output, must equal the reference where-masked chain
    (Spark's ``coalesce(sum, 0) + x`` over the frame's valid values, oldest
    first) bit for bit, and the validity counts the frame's valid rows."""
    for seed, k in [(0, 3), (1, 10), (2, 2), (3, 5), (4, 1)]:
        X, valid, G, _, pos, _ = _partition(seed, 40)
        acc = np.zeros_like(X)
        cnt = np.zeros(X.shape, dtype=np.int64)
        for j in range(k, 0, -1):
            v = np.zeros_like(valid)
            v[j:] = valid[:-j] & (pos[j:] >= j)[:, None]
            np.add(acc[j:], X[:-j], out=acc[j:], where=v[j:])
            cnt += v
        got = sliding_sum(sum_terms(X.copy(), valid), pos, k)
        assert np.array_equal(valid_counts(G, np.minimum(pos, k)), cnt), (seed, k)
        assert _same(got[cnt > 0], acc[cnt > 0]), (seed, k)  # empty frames are NULL


def test_prior_sums_and_session_bases_match_rowloop():
    """The per-entity cumsum, the validity counts and the vectorized
    two-anchor bases against one record-then-update row loop."""
    for seed in range(4):
        X, valid, G, new_ent, pos, rng = _partition(seed, 25)
        isf = new_ent | (rng.random(len(X)) < 0.2)
        L = lag1(X, new_ent)
        V1 = np.zeros_like(valid)
        V1[1:] = valid[:-1]
        V1[new_ent] = False
        S_ref, C_ref, num, den = (np.empty(X.shape) for _ in range(4))
        for t in range(len(X)):
            if new_ent[t]:
                s, c, base = np.zeros(3), np.zeros(3), (np.zeros(3), np.zeros(3))
            S_ref[t], C_ref[t] = s, c
            if isf[t]:  # a session's first row reads the PRIOR session's base
                prior, base = base, (s - np.where(V1[t], L[t], 0.0), c - V1[t])
            num[t], den[t] = s - (prior if isf[t] else base)[0], c - (prior if isf[t] else base)[1]
            s, c = np.where(valid[t], s + X[t], s), c + valid[t]
        S, C = prior_sums(sum_terms(X.copy(), valid), new_ent), valid_counts(G, pos)
        assert _same(S, S_ref) and np.array_equal(C, C_ref), seed
        got, null = session_avg(S, C, L, V1, new_ent, isf)
        assert np.array_equal(null, den <= 0), seed
        with np.errstate(invalid="ignore", divide="ignore"):
            assert _same(got[~null], (num / den)[~null]), seed
        # the null-free block's counts come from the turn position alone
        assert np.array_equal(valid_counts(None, pos)[:, 0], pos), seed


# ------------------------------------------------- differential fuzz

METRICS = ("m0", "m1", "m2")
#: gaps in seconds between consecutive turns: ties, ordinary steps, and
#: both sides of the session boundary
GAPS = st.sampled_from([0, 0, 1, 60, DEFAULT_GAP_S, DEFAULT_GAP_S, DEFAULT_GAP_S + 1])
VALUES = st.one_of(
    st.none(),
    st.just(math.nan),
    st.just(-0.0),
    st.just(0.0),
    st.integers(-3, 3).map(float),
    st.sampled_from([1e15, -1e15, 0.1, -2.5, 1e-300]),
)


@st.composite
def conversations(draw):
    n_convs = draw(st.integers(1, 8))
    rows = []
    base = datetime.datetime(2026, 6, 1)
    for c in range(n_convs):
        n = draw(st.integers(1, 14))
        lead_nulls = draw(st.integers(0, n))
        ts = base
        for i in range(n):
            ts += datetime.timedelta(seconds=draw(GAPS))
            vals = [None if i < lead_nulls and j == 0 else draw(VALUES) for j in range(len(METRICS))]
            rows.append((f"c{c}", i, "user", "", "", ts, *vals))
    return rows


@st.composite
def specs(draw):
    return FeatureSpec(
        metrics=tuple(draw(st.lists(st.sampled_from(METRICS), min_size=1, max_size=3, unique=True))),
        lag=draw(st.booleans()),
        form_window=draw(st.sampled_from([None, 1, 2, 3])),
        roll_windows=tuple(draw(st.lists(st.integers(1, 6), max_size=2, unique=True))),
        expanding=draw(st.booleans()),
        session_anchored=draw(st.booleans()),
    )


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=conversations(), spec=specs(), span=st.sampled_from([None, 1, 2, 10]))
def test_kernel_matches_expression_path(spark, rows, spec, span):
    """Differential fuzz: ``backfill_features`` with both engines on
    generated partitions — NULL, literal NaN and ``-0.0`` values, leading
    NULL runs, single-row conversations, ts ties, gaps of exactly
    ``DEFAULT_GAP_S`` — under a random ``FeatureSpec`` and span."""
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, " + ", ".join(
        f"{m} double" for m in METRICS
    )
    # a Python-row DataFrame keeps NaN, NULL and -0.0 apart
    df = spark.createDataFrame(rows, schema).repartition(2)

    def run(engine):
        out = backfill_features(df, spec=spec, ewma_span=span, rank_metric=None, window_engine=engine)
        return out.toArrow()

    _assert_bitwise_equal(run("kernel"), run("expr"), KEY)


def test_kernel_pipeline_single_exchange(spark):
    from nfl_feature_store_spark.sources.transcripts import gen_transcripts_distributed

    extra = [f"m{i}" for i in range(4)]
    raw = gen_transcripts_distributed(spark, n_convs=200, avg_turns=6, seed=5, partitions=4)
    wide = raw.withColumns(
        {m: (F.xxhash64("conv_id", F.lit(i)) % 100).cast("double") for i, m in enumerate(extra)}
    )
    spec = FeatureSpec(metrics=("chars", "words", "is_tool", *extra))
    feats = backfill_features(wide, spec=spec, rank_metric=None)
    plan = feats._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan  # kernel engine actually selected
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert exchanges == ["conv_id"], exchanges


def test_engine_selection_and_validation(corpus):
    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # the kernel is the default at every width, with or without EWMA
    assert "MapInArrow" in plan(backfill_features(corpus, rank_metric=None, ewma_span=None))
    expr = backfill_features(corpus, rank_metric=None, ewma_span=None, window_engine="expr")
    assert "MapInArrow" not in plan(expr) and "Window" in plan(expr)
    for bad in ("fast", "pandas"):
        with pytest.raises(ValueError, match="window_engine"):
            backfill_features(corpus, window_engine=bad)
    with pytest.raises(ValueError, match="duplicates"):
        window_features_ewma_kernel(corpus, FeatureSpec(metrics=("chars", "chars")))
    with pytest.raises(ValueError, match="overlap"):
        window_features_ewma_kernel(corpus, FeatureSpec(metrics=("chars", "conv_id")))


def test_kernel_partition_tripwire(corpus):
    with pytest.raises(Exception, match="max_partition_rows"):
        window_features_ewma_kernel(
            corpus, FeatureSpec(metrics=("chars",)), max_partition_rows=3
        ).write.format("noop").mode("overwrite").save()
