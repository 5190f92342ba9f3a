"""Checkpoint-resume equivalence (SURVEY.md §5, FIXTURES.md F6): a backfill
interrupted mid-run and resumed must produce output identical to an
uninterrupted run, and reruns must be O(changed partitions)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from nfl_feature_store_spark.plans.checkpoint import PartitionManifest, run_partitioned_backfill
from nfl_feature_store_spark.plans.pipeline import backfill_features
from nfl_feature_store_spark.sources.transcripts import transcripts_from_pandas


def _build(df):
    return backfill_features(df, rank_metric=None, ewma_span=None)


@pytest.fixture(scope="module")
def small_pdf(transcripts_pdf):
    # a handful of conversations spanning several days
    convs = transcripts_pdf["conv_id"].unique()[:25]
    return transcripts_pdf[transcripts_pdf.conv_id.isin(convs)].reset_index(drop=True)


def test_resume_equivalence(spark, small_pdf, tmp_path_factory):
    sdf = transcripts_from_pandas(spark, small_pdf)

    base_dir = str(tmp_path_factory.mktemp("full"))
    m1 = PartitionManifest(os.path.join(base_dir, "manifest.jsonl"))
    built_full = run_partitioned_backfill(spark, sdf, base_dir, m1, _build)
    assert built_full

    # interrupted run: only the first half of the partitions complete
    resume_dir = str(tmp_path_factory.mktemp("resume"))
    mpath = os.path.join(resume_dir, "manifest.jsonl")

    class Interrupt(Exception):
        pass

    half = len(built_full) // 2 or 1
    m2 = PartitionManifest(mpath)
    count = 0
    orig_record = m2.record

    def record_and_maybe_die(partition, fingerprint, metrics):
        nonlocal count
        orig_record(partition, fingerprint, metrics)
        count += 1
        if count == half:
            raise Interrupt()

    m2.record = record_and_maybe_die
    with pytest.raises(Interrupt):
        run_partitioned_backfill(spark, sdf, resume_dir, m2, _build)

    # resume with a fresh manifest object over the same file
    m3 = PartitionManifest(mpath)
    built_resumed = run_partitioned_backfill(spark, sdf, resume_dir, m3, _build)
    assert len(built_resumed) == len(built_full) - half  # O(changed partitions)

    full = pd.concat(
        [pd.read_parquet(os.path.join(base_dir, d)) for d in sorted(os.listdir(base_dir)) if d.startswith("part=")],
        ignore_index=True,
    ).sort_values(["conv_id", "ts", "turn_idx"], ignore_index=True)
    resumed = pd.concat(
        [pd.read_parquet(os.path.join(resume_dir, d)) for d in sorted(os.listdir(resume_dir)) if d.startswith("part=")],
        ignore_index=True,
    ).sort_values(["conv_id", "ts", "turn_idx"], ignore_index=True)
    pd.testing.assert_frame_equal(
        full.reset_index(drop=True), resumed.reset_index(drop=True), check_like=True
    )


def test_manifest_lineage_metrics(spark, small_pdf, tmp_path_factory):
    sdf = transcripts_from_pandas(spark, small_pdf)
    out = str(tmp_path_factory.mktemp("lineage"))
    m = PartitionManifest(os.path.join(out, "manifest.jsonl"))
    run_partitioned_backfill(spark, sdf, out, m, _build)
    entries = m.entries()
    assert entries
    for e in entries:
        assert e["rows_out"] > 0
        assert e["ts_min"] <= e["ts_max"]
        assert "fingerprint" in e and "lookback_parts" in e

    # idempotent rerun: nothing rebuilt
    m2 = PartitionManifest(os.path.join(out, "manifest.jsonl"))
    assert run_partitioned_backfill(spark, sdf, out, m2, _build) == []


def test_parquet_sink_writes_floats_without_dictionary_pages(spark, small_pdf, tmp_path_factory):
    """Feature doubles are mostly distinct, so dictionary pages cost CPU and
    save nothing: the sink writes them plain, while the repeating string
    columns keep their dictionaries."""
    import pyarrow.parquet as pq

    sdf = transcripts_from_pandas(spark, small_pdf)
    out = str(tmp_path_factory.mktemp("encodings"))
    m = PartitionManifest(os.path.join(out, "manifest.jsonl"))
    built = run_partitioned_backfill(spark, sdf, out, m, _build)
    part_dir = os.path.join(out, f"part={built[0]}")
    files = [os.path.join(part_dir, f) for f in os.listdir(part_dir) if f.endswith(".parquet")]
    assert files
    doubles, strings = set(), set()
    for path in files:
        meta = pq.ParquetFile(path).metadata
        for g in range(meta.num_row_groups):
            for c in range(meta.num_columns):
                chunk = meta.row_group(g).column(c)
                name = chunk.path_in_schema
                if chunk.physical_type == "DOUBLE":
                    assert not chunk.has_dictionary_page, name
                    doubles.add(name)
                elif name in ("conv_id", "role"):
                    assert chunk.has_dictionary_page, name
                    strings.add(name)
    assert len(doubles) > 10
    assert strings == {"conv_id", "role"}


def test_mutated_partition_rebuilds_itself_plus_dependents(spark, small_pdf, tmp_path_factory):
    """Round-1 VERDICT #5: fingerprints must derive from the DATA. Mutating
    one input partition rebuilds exactly that partition plus the later
    partitions whose lookback window covers it — nothing else."""
    rows = []
    base = pd.Timestamp("2026-02-01")
    for d in range(4):
        for c in range(3):
            for j in range(10):
                rows.append(
                    (f"m{c}", d * 10 + j, "user", f"txt {d} {c} {j}", "",
                     base + pd.Timedelta(days=d, seconds=j * 60))
                )
    pdf0 = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf0["turn_idx"] = pdf0["turn_idx"].astype("int32")
    sdf = transcripts_from_pandas(spark, pdf0)
    out = str(tmp_path_factory.mktemp("mutate"))
    mpath = os.path.join(out, "manifest.jsonl")
    m = PartitionManifest(mpath)
    parts = run_partitioned_backfill(spark, sdf, out, m, _build, lookback_parts=1)
    assert len(parts) == 4

    # mutate one middle partition's input: change one row's text
    target = parts[1]
    pdf = pdf0.copy()
    day = pdf["ts"].dt.strftime("%Y-%m-%d")
    idx = pdf.index[day == target][0]
    pdf.loc[idx, "text"] = "MUTATED ROW"
    sdf2 = transcripts_from_pandas(spark, pdf)

    m2 = PartitionManifest(mpath)
    rebuilt = run_partitioned_backfill(spark, sdf2, out, m2, _build, lookback_parts=1)
    # the mutated day + the one day that warm-starts from it; days 0 and 3 untouched
    assert rebuilt == [parts[1], parts[2]]

    # and the rebuilt partition actually carries the mutation
    got = pd.read_parquet(os.path.join(out, f"part={target}"))
    assert (got["text"] == "MUTATED ROW").sum() == 1


def test_refresh_mode_rebuilds_everything(spark, small_pdf, tmp_path_factory):
    sdf = transcripts_from_pandas(spark, small_pdf)
    out = str(tmp_path_factory.mktemp("refresh"))
    mpath = os.path.join(out, "manifest.jsonl")
    m = PartitionManifest(mpath)
    parts = run_partitioned_backfill(spark, sdf, out, m, _build)
    # upsert skips, refresh rebuilds all (reference feature_store_runner.py:45)
    assert run_partitioned_backfill(spark, sdf, out, PartitionManifest(mpath), _build) == []
    assert (
        run_partitioned_backfill(spark, sdf, out, PartitionManifest(mpath), _build, mode="refresh")
        == parts
    )
    with pytest.raises(ValueError):
        run_partitioned_backfill(spark, sdf, out, m, _build, mode="rebuild")


def test_cheap_staleness_mode(spark, tmp_path_factory):
    """staleness='cheap' fingerprints on (rows, max ts) only — no full-column
    hash scan. It must behave like strict mode for append-only change
    (idempotent rerun, append rebuilds) while documentedly NOT detecting
    in-place edits that preserve both count and max ts."""
    rows = []
    base = pd.Timestamp("2026-03-01")
    for d in range(3):
        for j in range(8):
            rows.append(
                (f"c{j % 2}", d * 10 + j, "user", f"txt {d} {j}", "",
                 base + pd.Timedelta(days=d, seconds=j * 60))
            )
    pdf0 = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf0["turn_idx"] = pdf0["turn_idx"].astype("int32")
    sdf = transcripts_from_pandas(spark, pdf0)
    out = str(tmp_path_factory.mktemp("cheap"))
    mpath = os.path.join(out, "manifest.jsonl")
    parts = run_partitioned_backfill(
        spark, sdf, out, PartitionManifest(mpath), _build, staleness="cheap"
    )
    assert len(parts) == 3
    # idempotent rerun: the cheap fingerprint is stable
    assert run_partitioned_backfill(
        spark, sdf, out, PartitionManifest(mpath), _build, staleness="cheap"
    ) == []

    # appending a row to day 1 changes its row count -> day 1 + dependent rebuild
    extra = pd.DataFrame(
        [("c0", 99, "user", "appended", "", base + pd.Timedelta(days=1, seconds=30))],
        columns=pdf0.columns,
    ).astype({"turn_idx": "int32"})
    sdf2 = transcripts_from_pandas(spark, pd.concat([pdf0, extra], ignore_index=True))
    rebuilt = run_partitioned_backfill(
        spark, sdf2, out, PartitionManifest(mpath), _build, staleness="cheap"
    )
    assert rebuilt == [parts[1], parts[2]]

    # the documented blind spot: an in-place edit preserving count AND max ts
    # is invisible to cheap mode but caught by strict content mode
    pdf_mut = pdf0.copy()
    pdf_mut.loc[0, "text"] = "MUTATED"
    sdf3 = transcripts_from_pandas(spark, pdf_mut)
    out2 = str(tmp_path_factory.mktemp("cheap2"))
    mpath2 = os.path.join(out2, "manifest.jsonl")
    run_partitioned_backfill(spark, sdf, out2, PartitionManifest(mpath2), _build, staleness="cheap")
    assert run_partitioned_backfill(
        spark, sdf3, out2, PartitionManifest(mpath2), _build, staleness="cheap"
    ) == []  # cheap mode misses it (by contract)
    assert run_partitioned_backfill(
        spark, sdf3, out2, PartitionManifest(mpath2), _build, staleness="content"
    ) != []  # strict mode catches it

    with pytest.raises(ValueError, match="staleness"):
        run_partitioned_backfill(
            spark, sdf, out, PartitionManifest(mpath), _build, staleness="fast"
        )


def test_custom_partition_expr_without_ts_column(spark, tmp_path_factory):
    """ADVICE round-2: a custom partition_expr (conv_id bucket) over an input
    with NO ts column must work — the watermark terms are skipped."""
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(
        {"conv_id": [f"c{i % 4}" for i in range(40)], "score": np.arange(40.0)}
    )
    sdf = spark.createDataFrame(pdf)
    out = str(tmp_path_factory.mktemp("nots"))
    m = PartitionManifest(os.path.join(out, "manifest.jsonl"))
    built = run_partitioned_backfill(
        spark,
        sdf,
        out,
        m,
        build=lambda df: df.groupBy("conv_id").agg(F.sum("score").alias("total")),
        partition_expr=F.col("conv_id"),
        lookback_parts=0,
        ts_col=None,
    )
    assert sorted(built) == ["c0", "c1", "c2", "c3"]
    for e in m.entries():
        assert e["rows_out"] == 1
        assert e["ts_min"] == "None" and e["ts_max"] == "None"


def test_warmup_rows_match_unpartitioned(spark, small_pdf, tmp_path_factory):
    """Partitioned backfill with lookback_parts=None (all history — required
    for the unbounded expanding/session_avg families in the build) must be
    bitwise identical to the global pipeline, and the manifest approach never
    leaks future rows into earlier partitions."""
    sdf = transcripts_from_pandas(spark, small_pdf)
    out = str(tmp_path_factory.mktemp("warm"))
    m = PartitionManifest(os.path.join(out, "manifest.jsonl"))
    run_partitioned_backfill(spark, sdf, out, m, _build, lookback_parts=None)
    part_rows = pd.concat(
        [pd.read_parquet(os.path.join(out, d)) for d in sorted(os.listdir(out)) if d.startswith("part=")],
        ignore_index=True,
    ).sort_values(["conv_id", "ts", "turn_idx"], ignore_index=True)
    whole = (
        _build(sdf).toPandas().sort_values(["conv_id", "ts", "turn_idx"], ignore_index=True)
    )
    # lookback covering all history ⇒ bitwise identical to the global run
    pd.testing.assert_frame_equal(part_rows, whole[part_rows.columns], check_like=True)
