"""The Arrow transport of ``with_ewma`` and ``elo_per_entity`` against
expectations computed in pandas on the driver: leading-window NaN arrives
as NULL, NaN outcomes skip the Elo update, the text payload rides through
untouched, and a metric/outcome that is also an order column does not crash
the projection (the dict.fromkeys dedupe)."""

from __future__ import annotations

import numpy as np
import pandas as pd

KEY = ["conv_id", "ts", "turn_idx"]


def _fixture(seed: int = 41) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    rows = []
    base = pd.Timestamp("2026-05-01")
    for c in range(12):
        n = int(rng.integers(1, 50))
        for i in range(n):
            rows.append(
                (
                    f"c{c}",
                    i,
                    "user" if i % 2 == 0 else "assistant",
                    "x" * int(rng.integers(0, 300)),
                    "",
                    base + pd.Timedelta(seconds=c * 7 + i * 60),
                )
            )
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["chars"] = pdf["text"].str.len().astype("float64")
    pdf["outcome"] = rng.integers(0, 2, len(pdf)).astype("float64")
    # NaN outcomes: the elo scan must SKIP these without updating the rating
    pdf.loc[pdf.sample(frac=0.15, random_state=7).index, "outcome"] = np.nan
    return pdf


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(KEY, kind="mergesort").reset_index(drop=True)


def _ewma_expected(pdf: pd.DataFrame, metric: str, span: int = 10) -> pd.Series:
    s = _sorted(pdf)
    return (
        s.groupby("conv_id", sort=False)[metric]
        .apply(lambda v: v.astype("float64").shift(1).ewm(span=span, adjust=False).mean())
        .reset_index(drop=True)
    )


def _elo_expected(pdf: pd.DataFrame, outcome: str, k: float = 20.0, init: float = 1500.0) -> np.ndarray:
    out = []
    for _, g in _sorted(pdf).groupby("conv_id", sort=False):
        r = init
        for o in g[outcome].astype("float64"):
            out.append(r)
            if not np.isnan(o):
                r = r + k * (o - 1.0 / (1.0 + 10.0 ** (-(r - init) / 400.0)))
    return np.array(out)


def test_ewma_transport_parity(spark):
    """Values match pandas; the leading-window NaN of every conversation
    arrives as a NULL, and the text payload is untouched."""
    from nfl_feature_store_spark.operators.ewma import with_ewma

    pdf = _fixture()
    out = with_ewma(spark.createDataFrame(pdf), metrics=("chars", "outcome"))
    tbl = out.toArrow().sort_by([(k, "ascending") for k in KEY])
    ref = _sorted(pdf)
    assert tbl.column_names == list(pdf.columns) + ["ewma_chars", "ewma_outcome"]
    for m in ("chars", "outcome"):
        col = tbl.column(f"ewma_{m}")
        want = _ewma_expected(pdf, m).to_numpy()
        got = col.to_numpy(zero_copy_only=False)
        # every missing EWMA is a NULL, never a NaN value
        assert np.array_equal(col.is_null().to_numpy(zero_copy_only=False), np.isnan(want)), m
        np.testing.assert_array_equal(got, want, err_msg=m)
    first = (ref["turn_idx"] == ref.groupby("conv_id")["turn_idx"].transform("min")).to_numpy()
    assert tbl.column("ewma_chars").is_null().to_numpy(zero_copy_only=False)[first].all()
    assert tbl.column("text").to_pylist() == ref["text"].tolist()


def test_elo_transport_parity(spark):
    """NaN outcomes skip the rating update; values match a driver-side scan."""
    from nfl_feature_store_spark.operators.elo import elo_per_entity

    pdf = _fixture(seed=43)
    tbl = (
        elo_per_entity(spark.createDataFrame(pdf), outcome_col="outcome")
        .toArrow()
        .sort_by([(k, "ascending") for k in KEY])
    )
    assert tbl.column("elo_pre").null_count == 0
    np.testing.assert_allclose(
        tbl.column("elo_pre").to_numpy(), _elo_expected(pdf, "outcome"), rtol=1e-12
    )
    assert tbl.column("text").to_pylist() == _sorted(pdf)["text"].tolist()


def test_ewma_metric_coincides_with_order_col(spark):
    """A metric that is ALSO an order column must not crash the Arrow
    projection (duplicate names in pa.Table.select made sub[m] a
    DataFrame)."""
    from nfl_feature_store_spark.operators.ewma import with_ewma

    pdf = _fixture(seed=47)
    out = _sorted(with_ewma(spark.createDataFrame(pdf), metrics=("turn_idx", "chars")).toPandas())
    np.testing.assert_allclose(
        out["ewma_turn_idx"].to_numpy(dtype=float),
        _ewma_expected(pdf, "turn_idx").to_numpy(dtype=float),
        rtol=1e-12,
        equal_nan=True,
    )


def test_elo_outcome_coincides_with_order_col(spark):
    """Same dedupe guarantee for elo_per_entity: ordering by the outcome
    column itself (degenerate but legal) must not produce a duplicate
    projection."""
    from nfl_feature_store_spark.operators.elo import elo_per_entity

    pdf = _fixture(seed=53).dropna(subset=["outcome"])
    out = _sorted(
        elo_per_entity(
            spark.createDataFrame(pdf), outcome_col="turn_idx", order_cols=("ts", "turn_idx")
        ).toPandas()
    )
    assert len(out) == len(pdf)
    np.testing.assert_allclose(out["elo_pre"].to_numpy(), _elo_expected(pdf, "turn_idx"), rtol=1e-12)


def test_simhash_null_text_matches_empty(spark):
    """Round-4 advice: NULL text must fingerprint exactly like '' (coalesce
    on the Spark side, matching the oracle SQL) for simhash AND shingles."""
    from nfl_feature_store_spark.operators.dedup import minhash_signature, simhash

    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": [None, "", "hello world"]})
    sdf = spark.createDataFrame(pdf)
    sh = simhash(sdf, "doc_id", "text").toPandas().set_index("doc_id")
    assert sh.loc[1, "simhash64"] == sh.loc[2, "simhash64"] == 0
    assert sh.loc[1, "n_tokens"] == sh.loc[2, "n_tokens"] == 0
    assert sh.loc[3, "n_tokens"] == 2
    sig = minhash_signature(sdf, "doc_id", "text").toPandas().set_index("id")
    assert list(sig.loc[1, "sig"]) == list(sig.loc[2, "sig"])
    assert all(v is not None for v in sig.loc[1, "sig"])
