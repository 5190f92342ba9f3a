"""Strictly-past-only window-family compiler — the engine's core.

The reference hardcodes 59 player stats x {last, form_3, season_avg}
(verified semantics: SURVEY.md §2.5 W1-W3, reverse-engineered from
/root/reference/data/feature_store/player/off/** vs data/pump/player/game/**)
and ~190 team metrics x {strict expanding, ewm_10, roll_10} (W4-W6, from
data/feature_store/event/**). This module compiles an arbitrary metric list
into those families as Spark window expressions:

* ``last_{m}``        — ``lag(m, 1)``                                (W1)
* ``form_{m}``        — mean of previous <=3 rows ``rowsBetween(-3,-1)`` (W2;
  the reference's dictionary says window 5, its data says 3 — data wins)
* ``roll{k}_{m}``     — mean of previous <=k rows ``rowsBetween(-k,-1)`` (W6)
* ``expanding_{m}``   — ``avg over rowsBetween(unboundedPreceding, -1)`` (W4,
  the north rule's literal frame)
* ``session_avg_{m}`` — period-anchored expanding mean with the verified
  two-anchor rule (W3): for a non-first turn of session s the window anchors
  at s's first turn; for the FIRST turn of session s it anchors at session
  s-1's first turn (prior-period prior). NULL when no prior turn exists.

Zero temporal leakage is the invariant: every feature at row t is a function
of rows strictly before t.

Physical-plan contract (round-6 rework, guide §2.4 "remove shuffles/sorts
outright"): EVERY family — including the session-anchored one — is expressed
over the single ``partitionBy(entity).orderBy(order_cols)`` window, so the
whole compiler is ONE exchange + ONE sort followed by three chained Window
operators (base families -> session-base carry -> cross-boundary lag). The
previous formulation partitioned the session family by (entity, session),
which alternated the required sort order w -> ws -> w -> ws and cost FOUR
wide-row sorts plus duplicated nth_value subtrees (measured: the width-190
spec peaked at 3430-column rows through those sorts). The (entity, session)
windows are eliminated by two identities:

* "first row of session"  == previous row (entity order) has a different
  ``session_id`` (sessions are contiguous runs in entity order);
* "value at session's first row" == ``last(when(is_first, v), ignorenulls)``
  over the entity-running frame (carries each session-start value forward).

Scale notes (10^12 turns): the entity window shuffle is hash(conv_id); skewed
conversations are bounded by max_turns (~5k) so a single window partition is
small — skew handling matters for the rank pass (global per-ts-bucket), not
here. For pathological single-entity streams see operators/salted.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec


@dataclass(frozen=True)
class FeatureSpec:
    """Declarative feature configuration — the engine-level replacement for
    the reference's hardcoded stat lists (reference
    src/pipelines/players/player_regular_season_game.py:17-18 invoking
    WeeklyPlayerStatComponent over its 59-stat list)."""

    entity_col: str = "conv_id"
    order_cols: tuple[str, ...] = ("ts", "turn_idx")
    metrics: tuple[str, ...] = ("chars", "words", "is_tool")
    lag: bool = True
    form_window: int | None = 3
    roll_windows: tuple[int, ...] = (10,)
    expanding: bool = True
    session_anchored: bool = True
    session_col: str = "session_id"
    protected_metrics: tuple[str, ...] = ()  # stay NULL, never zero-filled (P9 analog)


def _entity_window(spec: FeatureSpec) -> WindowSpec:
    return Window.partitionBy(spec.entity_col).orderBy(*[F.col(c) for c in spec.order_cols])


def compile_window_features(df: DataFrame, spec: FeatureSpec = FeatureSpec()) -> DataFrame:
    """Attach every configured window family for every metric.

    Returns the input plus ``last_/form_/roll{k}_/expanding_/session_avg_``
    columns per metric. EWM (W5) and Elo (W9) are sequential recurrences and
    live in operators/ewma.py / operators/elo.py (mapInArrow kernels); the
    production engine, operators/window_kernel.py, computes every family
    and the EWMA in one Arrow stage and is tested against this compiler.

    Three eager DataFrame steps (each is one Catalyst analysis barrier —
    kept minimal because classic PySpark analyzes the whole accumulated tree
    per transformation, which dominates driver time at 100+ metric widths):

    1. per-metric lag + session running sum/count + the session-boundary
       flag (one Window over the entity sort);
    2. session-start base carried forward per metric
       (``last(when(is_first, excl), ignorenulls)`` — same sort, no shuffle);
    3. final projection: the frame families (form/roll/expanding — same
       entity sort), the cross-boundary lag of the carried base, and the
       session-average arithmetic, dropping every ``__`` scratch column.
    """
    w = _entity_window(spec)
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    w_prior = w.rowsBetween(Window.unboundedPreceding, -1)
    base_cols = list(df.columns)

    # ---- step 1: lag + session-anchored running aggregates (base inputs only)
    l0: dict[str, Column] = {}
    for m in spec.metrics:
        mx = F.col(m).cast("double")
        # materialize the lag once per metric; the session family and the
        # ``last_`` output both read it
        l0[f"__x_{m}"] = F.lag(mx, 1).over(w)
        if spec.session_anchored:
            # identical term sequence to sum/count of the lag series over the
            # running frame (lag shifts every term by one row), so the
            # accumulation — and therefore the float result — is unchanged
            l0[f"__sincl_{m}"] = F.coalesce(F.sum(mx).over(w_prior), F.lit(0.0))
            l0[f"__cincl_{m}"] = F.count(mx).over(w_prior)
    if spec.session_anchored:
        # sessions are contiguous runs in entity order, so "first row of my
        # (entity, session) group" == "previous row is a different session"
        prev_sess = F.lag(F.col(spec.session_col), 1).over(w)
        l0["__isf"] = prev_sess.isNull() | (prev_sess != F.col(spec.session_col))
    df = df.select("*", *[c.alias(n) for n, c in l0.items()])

    # ---- step 2: carry each session's starting (sum, count) base forward —
    # same entity sort, so this adds a Window operator but NO sort/shuffle
    if spec.session_anchored:
        l1: dict[str, Column] = {}
        for m in spec.metrics:
            sexcl = F.col(f"__sincl_{m}") - F.coalesce(F.col(f"__x_{m}"), F.lit(0.0))
            cexcl = F.col(f"__cincl_{m}") - F.col(f"__x_{m}").isNotNull().cast("long")
            l1[f"__bs_{m}"] = F.last(F.when(F.col("__isf"), sexcl), ignorenulls=True).over(w_run)
            l1[f"__bc_{m}"] = F.last(F.when(F.col("__isf"), cexcl), ignorenulls=True).over(w_run)
        df = df.select("*", *[c.alias(n) for n, c in l1.items()])

    # ---- step 3: frame families + cross-boundary base lag + final arithmetic
    fam: list[Column] = []
    for m in spec.metrics:
        mx = F.col(m).cast("double")
        if spec.lag:
            fam.append(F.col(f"__x_{m}").alias(f"last_{m}"))
        if spec.form_window:
            fam.append(F.avg(mx).over(w.rowsBetween(-spec.form_window, -1)).alias(f"form_{m}"))
        for k in spec.roll_windows:
            fam.append(F.avg(mx).over(w.rowsBetween(-k, -1)).alias(f"roll{k}_{m}"))
        if spec.expanding:
            fam.append(F.avg(mx).over(w_prior).alias(f"expanding_{m}"))
    sess: list[Column] = []
    if spec.session_anchored:
        # Two-anchor rule (W3), verified against the reference's golden data
        # (tests/test_reference_regression.py::test_w3_season_avg_two_anchor,
        # e.g. Mahomes 2023w1 = mean({2021 last game} ∪ all 17 2022 games)):
        # at a period's first row the base is the PREVIOUS period's start
        # (one lag over the entity order); otherwise the current period's.
        for m in spec.metrics:
            bs, bc = F.col(f"__bs_{m}"), F.col(f"__bc_{m}")
            base_s = F.when(F.col("__isf"), F.lag(bs, 1).over(w)).otherwise(bs)
            base_c = F.when(F.col("__isf"), F.lag(bc, 1).over(w)).otherwise(bc)
            num = F.col(f"__sincl_{m}") - F.coalesce(base_s, F.lit(0.0))
            den = F.col(f"__cincl_{m}") - F.coalesce(base_c, F.lit(0))
            sess.append(F.when(den > 0, num / den).alias(f"session_avg_{m}"))
    return df.select(*base_cols, *fam, *sess)
