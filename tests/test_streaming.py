"""Structured Streaming sessionization (streaming/sessions.py): the
session_window aggregates must match the batch sessionizer's per-session
rollups on the same data (availableNow trigger over a file source)."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nfl_feature_store_spark.operators.sessionize import sessionize
from nfl_feature_store_spark.sources.transcripts import TRANSCRIPT_SCHEMA
from nfl_feature_store_spark.streaming.sessions import streaming_session_aggregates


@pytest.fixture(scope="module")
def staged_dir(spark, transcripts_pdf, tmp_path_factory):
    # pre-deduped input pins the session-window semantics in isolation (the
    # in-operator dropDuplicatesWithinWatermark is a no-op on unique keys);
    # duplicate collapsing itself is covered by
    # test_streaming_dedup_collapses_duplicates below
    pdf = transcripts_pdf.drop_duplicates(["conv_id", "turn_idx"], keep="last")
    pdf = pdf[pdf.conv_id.isin(pdf.conv_id.unique()[:40])]
    d = str(tmp_path_factory.mktemp("stream_src"))
    spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA).coalesce(2).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def test_streaming_sessions_match_batch(spark, staged_dir, tmp_path_factory):
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(staged_dir)
    sess = streaming_session_aggregates(stream, gap_s=1800, watermark="10 minutes")
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from sessions_out").toPandas()

    batch = sessionize(spark.read.parquet(staged_dir), gap_s=1800)
    exp = (
        batch.groupBy("conv_id", "session_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length(F.coalesce(F.col("text"), F.lit("")))).alias("total_chars"),
            F.min("ts").alias("session_start"),
        )
        .toPandas()
    )
    # append mode emits only watermark-closed sessions; availableNow on a
    # finite source closes all but each conv's last open session, so compare
    # on the emitted subset — every emitted session must match batch exactly
    assert len(got) > 0
    key = ["conv_id", "session_start"]
    merged = got.merge(exp, on=key, suffixes=("_s", "_b"), how="left")
    assert merged["n_turns_b"].notna().all(), "streaming emitted a session batch doesn't have"
    assert (merged["n_turns_s"] == merged["n_turns_b"]).all()
    assert (merged["total_chars_s"] == merged["total_chars_b"]).all()


def test_streaming_dedup_collapses_duplicates(spark, tmp_path_factory):
    """Duplicate (conv_id, turn_idx) deliveries must NOT inflate
    n_turns/total_chars: the operator dedups within the watermark before the
    session window (ADVICE round 1). Duplicates here are exact re-deliveries
    (identical ts/payload) so keep-first == keep-any and the expected output
    is deterministic."""
    base = pd.Timestamp("2026-03-01 00:00:00")
    rows = []
    for c in range(3):
        for j in range(20):
            rows.append((f"d{c}", j, "user", f"msg {c} {j}", "", base + pd.Timedelta(seconds=c * 7 + j * 60)))
        # a far-later turn opens a second session, pushing the final watermark
        # (max ts - 10 min) past the first session's close so append emits it
        rows.append((f"d{c}", 20, "user", "late", "", base + pd.Timedelta(seconds=c * 7 + 7200)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    dups = pdf.iloc[::3].copy()  # every 3rd turn re-delivered verbatim
    noisy = pd.concat([pdf, dups], ignore_index=True).sample(frac=1.0, random_state=5)

    d = str(tmp_path_factory.mktemp("dup_src"))
    spark.createDataFrame(noisy, schema=TRANSCRIPT_SCHEMA).coalesce(2).write.mode("overwrite").parquet(d)

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(d)
    sess = streaming_session_aggregates(stream, gap_s=1800, watermark="10 minutes")
    ckpt = str(tmp_path_factory.mktemp("ckpt_dup"))
    q = (
        sess.writeStream.format("memory")
        .queryName("dup_sessions_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from dup_sessions_out").toPandas()

    first_session = pdf[pdf.turn_idx < 20]
    exp = (
        first_session.groupby("conv_id")
        .agg(n_turns=("turn_idx", "size"), total_chars=("text", lambda s: s.str.len().sum()))
        .reset_index()
    )
    # only the first (closed) session per conv is emitted in append mode
    assert len(got) == 3
    merged = got.merge(exp, on="conv_id", suffixes=("_s", "_b"))
    # every emitted session must carry the DEDUPED turn count (20), not the
    # inflated delivery count (20 + re-deliveries)
    assert (merged["n_turns_s"] == merged["n_turns_b"]).all()
    assert (merged["total_chars_s"] == merged["total_chars_b"]).all()


def test_masked_zero_fill():
    from nfl_feature_store_spark.functions.turn_metrics import masked_zero_fill
    from nfl_feature_store_spark.session import get_spark

    spark = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    df = spark.createDataFrame(
        pd.DataFrame({"a": [1.0, None], "epa_like": [None, 2.0], "s": ["x", None]})
    )
    out = masked_zero_fill(df, protected=("epa_like",)).toPandas()
    assert out["a"].tolist() == [1.0, 0.0]
    assert out["epa_like"].isna().tolist() == [True, False]  # protected stays NULL
    assert out["s"].isna().tolist() == [False, True]  # strings untouched


def test_streaming_ewma_state_carries_across_batches(spark, tmp_path_factory):
    """applyInPandasWithState EWMA must equal the batch with_ewma bit for bit
    when the stream is split across micro-batches mid-conversation (state
    carry), with NULL metrics anywhere: before the first value, mid-run and
    as the last row of a micro-batch."""
    import numpy as np

    from nfl_feature_store_spark.operators.ewma import with_ewma
    from nfl_feature_store_spark.streaming.stateful import streaming_ewma

    rng = np.random.default_rng(41)
    rows = []
    base = pd.Timestamp("2026-05-01")
    nulls = {(0, 1), (0, 7), (0, 8), (1, 0), (1, 14), (2, 15), (2, 29), (3, 3)}
    for c in range(4):
        for j in range(30):
            chars = None if (c, j) in nulls else float(rng.integers(1, 300))
            rows.append((f"s{c}", j, "user", "x", "", base + pd.Timedelta(seconds=c * 11 + j * 60),
                         chars))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts", "chars"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")

    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, chars double"
    d = str(tmp_path_factory.mktemp("ewma_src"))
    # two files split MID-conversation => the second micro-batch must resume
    # every conversation's recursion from state
    spark.createDataFrame(pdf[pdf.turn_idx < 15], schema=schema).coalesce(1).write.mode("overwrite").parquet(d + "/f1")
    spark.createDataFrame(pdf[pdf.turn_idx >= 15], schema=schema).coalesce(1).write.mode("overwrite").parquet(d + "/f2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/f*")
    )
    out = streaming_ewma(stream, metrics=("chars",), span=10)
    ckpt = str(tmp_path_factory.mktemp("ckpt_ewma"))
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = (
        spark.sql("select * from ewma_out")
        .toPandas()
        .sort_values(["conv_id", "ts", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(pdf)

    exp = (
        with_ewma(spark.createDataFrame(pdf, schema=schema), metrics=("chars",), span=10)
        .toPandas()
        .sort_values(["conv_id", "ts", "turn_idx"])
        .reset_index(drop=True)
    )
    assert got["ewma_chars"].notna().sum() > 100
    assert np.array_equal(
        got["ewma_chars"].to_numpy(dtype=float),
        exp["ewma_chars"].to_numpy(dtype=float),
        equal_nan=True,
    )


def test_streaming_elo_state_carries_across_batches(spark, tmp_path_factory):
    """Streaming per-entity Elo equals the batch elo_per_entity when the
    stream splits mid-conversation (one-double state carry)."""
    import numpy as np

    from nfl_feature_store_spark.operators.elo import elo_per_entity
    from nfl_feature_store_spark.streaming.stateful import streaming_elo

    rng = np.random.default_rng(43)
    rows = []
    base = pd.Timestamp("2026-05-02")
    for c in range(5):
        for j in range(24):
            rows.append((f"e{c}", j, base + pd.Timedelta(seconds=c * 3 + j * 60),
                         float(rng.integers(0, 2))))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "outcome"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    schema = "conv_id string, turn_idx int, ts timestamp, outcome double"

    d = str(tmp_path_factory.mktemp("elo_src"))
    spark.createDataFrame(pdf[pdf.turn_idx < 12], schema=schema).coalesce(1).write.mode("overwrite").parquet(d + "/f1")
    spark.createDataFrame(pdf[pdf.turn_idx >= 12], schema=schema).coalesce(1).write.mode("overwrite").parquet(d + "/f2")

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d + "/f*")
    out = streaming_elo(stream)
    ckpt = str(tmp_path_factory.mktemp("ckpt_elo"))
    q = (
        out.writeStream.format("memory")
        .queryName("elo_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = (
        spark.sql("select * from elo_out")
        .toPandas()
        .sort_values(["conv_id", "ts", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = (
        elo_per_entity(spark.createDataFrame(pdf, schema=schema), outcome_col="outcome")
        .toPandas()
        .sort_values(["conv_id", "ts", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    np.testing.assert_allclose(got["elo_pre"].to_numpy(), exp["elo_pre"].to_numpy(), rtol=1e-12)


def test_streaming_window_features_match_batch(spark, tmp_path_factory):
    """streaming_window_features (round-5): the bounded window families
    (lag-1, form-3, roll-10, expanding) computed under
    applyInPandasWithState with a ring-buffer state must equal the batch
    window compiler when the stream splits MID-conversation — including
    NULL metric values (ring carries them, expanding skips them)."""
    import numpy as np

    from nfl_feature_store_spark.operators.windows import FeatureSpec, compile_window_features
    from nfl_feature_store_spark.streaming.stateful import streaming_window_features

    rng = np.random.default_rng(59)
    rows = []
    base = pd.Timestamp("2026-05-01")
    for c in range(5):
        for j in range(36):
            v = float(rng.integers(1, 300))
            if rng.random() < 0.1:
                v = float("nan")  # NULL metric mid-stream
            rows.append((f"wf{c}", j, "user", "x", "", base + pd.Timedelta(seconds=c * 11 + j * 60), v))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts", "chars"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")

    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, chars double"
    d = str(tmp_path_factory.mktemp("wf_src"))
    spark.createDataFrame(pdf[pdf.turn_idx < 13], schema=schema).coalesce(1).write.mode("overwrite").parquet(d + "/f1")
    spark.createDataFrame(pdf[(pdf.turn_idx >= 13) & (pdf.turn_idx < 27)], schema=schema).coalesce(1).write.mode("overwrite").parquet(d + "/f2")
    spark.createDataFrame(pdf[pdf.turn_idx >= 27], schema=schema).coalesce(1).write.mode("overwrite").parquet(d + "/f3")

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d + "/f*")
    out = streaming_window_features(stream, metrics=("chars",))
    ckpt = str(tmp_path_factory.mktemp("ckpt_wf"))
    q = (
        out.writeStream.format("memory")
        .queryName("wf_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = (
        spark.sql("select * from wf_out")
        .toPandas()
        .sort_values(["conv_id", "ts", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(pdf)

    spec = FeatureSpec(metrics=("chars",), session_anchored=False)
    exp = (
        compile_window_features(spark.createDataFrame(pdf, schema=schema), spec)
        .toPandas()
        .sort_values(["conv_id", "ts", "turn_idx"])
        .reset_index(drop=True)
    )
    for col in ("last_chars", "form_chars", "roll10_chars", "expanding_chars"):
        np.testing.assert_allclose(
            got[col].to_numpy(dtype=float),
            exp[col].to_numpy(dtype=float),
            rtol=1e-12,
            equal_nan=True,
            err_msg=col,
        )
