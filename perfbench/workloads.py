"""The benchmark's workloads: set-up, timed operation, output check and the
traced layer probes.

Every workload calls the engine only through its public functions
(``backfill_features``, ``dedup_latest``/``with_turn_metrics``,
``sessionize``, ``run_partitioned_backfill``, ``ParquetDirSink``,
``PartitionManifest``) and times those calls from outside.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import statistics
import time
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from gen import EPOCH, gen_transcripts, hashed_metrics
from nfl_feature_store_spark.functions.turn_metrics import dedup_latest, with_turn_metrics
from nfl_feature_store_spark.operators.sessionize import sessionize
from nfl_feature_store_spark.operators.windows import FeatureSpec
from nfl_feature_store_spark.plans.checkpoint import (
    ParquetDirSink,
    PartitionManifest,
    run_partitioned_backfill,
)
from nfl_feature_store_spark.plans.pipeline import backfill_features

BASE_METRICS = ("chars", "words", "is_tool")
FEATURE_PREFIXES = ("last_", "form_", "roll", "expanding_", "session_avg_", "ewma_")
EWMA_SPAN = 10
#: the seed whose feature digests are pinned
DEFAULT_SEED = 1
#: digests of the 6-decimal-rounded feature columns at the default seed
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
#: one conversation in SAMPLE_MOD is re-derived by the engine's expression
#: path (Spark WindowExec + pandas EWMA) and compared with the kernel's output
SAMPLE_MOD = 40
REPS = 2


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def median_time(fn: Callable[[], object]) -> float:
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def feature_cols(df: DataFrame) -> list[str]:
    return [c for c in df.columns if c.startswith(FEATURE_PREFIXES) and not c.endswith("_rank")]


def digest_and_rows(df: DataFrame) -> tuple[str, int]:
    """Order-independent digest (the sum of per-row xxhash64 over the keys
    and every feature column rounded to 6 decimals) and the row count."""
    cols = [F.round(F.col(c), 6) for c in sorted(feature_cols(df) + [c for c in df.columns if c.endswith("_rank")])]
    h = F.xxhash64(F.col("conv_id"), F.col("turn_idx"), *cols).cast("decimal(38,0)")
    row = df.agg(F.sum(h), F.count(F.lit(1))).collect()[0]
    return str(row[0]), row[1]


def first_turn_leaks(out: DataFrame) -> int:
    """Conversations whose first turn carries any strictly-past feature."""
    first = out.withColumn(
        "__rn", F.row_number().over(Window.partitionBy("conv_id").orderBy("ts", "turn_idx"))
    ).filter("__rn = 1")
    return first.filter(F.coalesce(*[F.col(c) for c in feature_cols(out)]).isNotNull()).count()


def sample_failures(out: DataFrame, inp: DataFrame, spec: FeatureSpec, keep=None) -> list[str]:
    """Re-derive a sample of conversations with the engine's expression path
    on a subset of metrics and compare with the kernel's output; ``keep``
    selects the reference rows ``out`` should hold."""
    in_sample = F.abs(F.xxhash64("conv_id")) % SAMPLE_MOD == 0
    ref = backfill_features(
        inp.filter(in_sample), spec=spec, ewma_span=EWMA_SPAN, rank_metric=None, window_engine="expr"
    )
    if keep is not None:
        ref = ref.filter(keep)
    cols = ["conv_id", "turn_idx"] + feature_cols(ref)
    want = ref.select(cols).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    got = out.filter(in_sample).select(cols).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    if len(want) == 0:
        return ["expression-path sample is empty"]
    if len(got) != len(want) or not (got[cols[:2]].values == want[cols[:2]].values).all():
        return [f"sample keys differ: {len(got)} kernel rows vs {len(want)} expression rows"]
    a = got[cols[2:]].to_numpy(dtype=np.float64, na_value=np.nan)
    b = want[cols[2:]].to_numpy(dtype=np.float64, na_value=np.nan)
    bad = ~np.isclose(a, b, rtol=1e-9, atol=1e-9, equal_nan=True)
    if bad.any():
        return [f"{int(bad.sum())} sampled feature values differ from the expression path"]
    return []


def pinned_failures(name: str, seed: int, value: str) -> list[str]:
    if seed != DEFAULT_SEED:
        return []
    with open(DIGESTS) as f:
        pinned = json.load(f).get(name)
    return [] if pinned == value else [f"digest {value} != pinned {pinned}"]


class BackfillFull:
    """``backfill_features`` over generated turns with the default 3-metric
    spec and the per-day rank, written to the noop sink."""

    name = "backfill_full"
    n_convs, avg_turns = 3000, 33
    rank_metric = "roll10_chars"
    #: per-op CPU time is flat from the fourth op of a session on
    warmup_ops = 3

    def __init__(self):
        self.spec = FeatureSpec(metrics=BASE_METRICS)

    def setup(self, spark: SparkSession, work: str, seed: int) -> None:
        self.path = os.path.join(work, "input")
        gen_transcripts(spark, self.n_convs, self.avg_turns, seed).drop("tool_ms").write.parquet(self.path)

    def frame(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def features(self, inp: DataFrame, rank: bool = True) -> DataFrame:
        return backfill_features(
            inp, spec=self.spec, ewma_span=EWMA_SPAN, rank_metric=self.rank_metric if rank else None
        )

    def op(self, spark: SparkSession) -> None:
        noop(self.features(self.frame(spark)))

    def reset(self) -> None:
        pass

    def expected_rows(self, spark: SparkSession) -> None:
        return None

    def op_failures(self, expected: None) -> list[str]:
        return []  # checked once after the timed ops

    def check(self, spark: SparkSession, seed: int) -> tuple[list[str], dict]:
        inp = self.frame(spark)
        out = self.features(inp).persist()
        try:
            d, n_out = digest_and_rows(out)
            expected = inp.select("conv_id", "turn_idx").distinct().count()
            fails = [] if n_out == expected else [f"rows_out {n_out} != distinct input turns {expected}"]
            leaks = first_turn_leaks(out)
            if leaks:
                fails.append(f"{leaks} conversations carry a feature on their first turn")
            fails += sample_failures(out, inp, self.spec)
        finally:
            out.unpersist()
        fails += pinned_failures(self.name, seed, d)
        return fails, {"digest": d, "rows_out": n_out}

    def prefixes(self, spark: SparkSession) -> list[tuple[str, Callable[[], DataFrame]]]:
        """Successive pipeline prefixes; a layer's self time is its prefix's
        time minus the previous prefix's time."""
        tm = lambda: with_turn_metrics(dedup_latest(self.frame(spark)))  # noqa: E731
        return [
            ("scan", lambda: self.frame(spark)),
            ("turn_metrics", tm),
            ("sessionize", lambda: sessionize(tm())),
            ("window_kernel", lambda: self.features(self.frame(spark), rank=False)),
            ("rank", lambda: self.features(self.frame(spark))),
        ]


class DailyAppend:
    """``run_partitioned_backfill`` into a ``ParquetDirSink`` over day
    partitions, all history as lookback. Each timed op makes the next day
    visible over the same history, so exactly one day is built."""

    name = "daily_append"
    n_convs, avg_turns, history_days = 300, 33, 1
    #: the reference's player width: 3 base metrics, ``tool_ms`` and 55 hashed metrics
    extra = [f"m{i:02d}" for i in range(55)]
    #: the metrics the expression-path sample re-derives
    sample_metrics = ("chars", "tool_ms", "m00", "m54")
    #: width-59 plans keep the JIT compiler busy longer than the 3-metric
    #: ones: per-op CPU time falls by more than half over the first 9 ops
    warmup_ops = 8

    def __init__(self):
        self.spec = FeatureSpec(metrics=BASE_METRICS + ("tool_ms",) + tuple(self.extra))
        self.sample_spec = FeatureSpec(metrics=self.sample_metrics)
        self.last_built: list[str] = []
        self.last_manifest: list[dict] = []

    def build(self, chunk: DataFrame) -> DataFrame:
        return backfill_features(
            chunk.withColumns(hashed_metrics(self.extra)), spec=self.spec, ewma_span=EWMA_SPAN, rank_metric=None
        )

    def visible(self, spark: SparkSession, days: int) -> DataFrame:
        cutoff = F.to_timestamp(F.lit(EPOCH)) + F.make_interval(days=F.lit(days))
        return spark.read.parquet(self.path).filter(F.col("ts") < cutoff)

    def day(self, i: int) -> str:
        return (datetime.date.fromisoformat(EPOCH[:10]) + datetime.timedelta(days=i)).isoformat()

    def setup(self, spark: SparkSession, work: str, seed: int) -> None:
        self.path = os.path.join(work, "input")
        self.out_dir = os.path.join(work, "out")
        self.manifest_path = os.path.join(work, "manifest.jsonl")
        gen_transcripts(spark, self.n_convs, self.avg_turns, seed, days=self.history_days + 1).write.parquet(
            self.path
        )
        built = run_partitioned_backfill(
            spark, self.visible(spark, self.history_days), self.out_dir, PartitionManifest(self.manifest_path),
            self.build, lookback_parts=None, mode="upsert", staleness="content",
        )
        if built != [self.day(i) for i in range(self.history_days)]:
            raise RuntimeError(f"history build made {built}")
        with open(self.manifest_path) as f:
            self.history_manifest = f.read()

    def reset(self) -> None:
        """Back to the history state: the appended day's output and manifest
        entry are removed, so every op appends the same day."""
        shutil.rmtree(os.path.join(self.out_dir, f"part={self.day(self.history_days)}"), ignore_errors=True)
        with open(self.manifest_path, "w") as f:
            f.write(self.history_manifest)

    def op(self, spark: SparkSession, sink=None, build=None) -> None:
        manifest = PartitionManifest(self.manifest_path)
        self.last_built = run_partitioned_backfill(
            spark, self.visible(spark, self.history_days + 1), self.out_dir, manifest, build or self.build,
            lookback_parts=None, mode="upsert", staleness="content", sink=sink,
        )
        self.last_manifest = manifest.entries()

    def expected_rows(self, spark: SparkSession) -> int:
        inp = self.visible(spark, self.history_days + 1)
        latest = inp.groupBy("conv_id", "turn_idx").agg(F.max("ts").alias("ts"))
        return latest.filter(F.date_format("ts", "yyyy-MM-dd") == self.day(self.history_days)).count()

    def op_failures(self, expected: int) -> list[str]:
        day = self.day(self.history_days)
        if self.last_built != [day]:
            return [f"op built {self.last_built}, expected [{day}]"]
        rows = {e["partition"]: e["rows_out"] for e in self.last_manifest}
        if rows.get(day) != expected:
            return [f"manifest rows_out {rows.get(day)} != deduped input rows {expected}"]
        return []

    def check(self, spark: SparkSession, seed: int) -> tuple[list[str], dict]:
        out = spark.read.parquet(os.path.join(self.out_dir, f"part={self.day(self.history_days)}"))
        d, _ = digest_and_rows(out)
        fails = sample_failures(
            out,
            self.visible(spark, self.history_days + 1).withColumns(hashed_metrics(self.extra)),
            self.sample_spec,
            keep=F.date_format("ts", "yyyy-MM-dd") == self.day(self.history_days),
        )
        fails += pinned_failures(self.name, seed, d)
        return fails, {"digest": d}

    def prefixes(self, spark: SparkSession) -> list[tuple[str, Callable[[], DataFrame]]]:
        inp = lambda: self.visible(spark, self.history_days + 1).withColumns(hashed_metrics(self.extra))  # noqa: E731
        tm = lambda: with_turn_metrics(dedup_latest(inp()))  # noqa: E731
        return [
            ("scan", inp),
            ("turn_metrics", tm),
            ("sessionize", lambda: sessionize(tm())),
            ("window_kernel", lambda: self.build(self.visible(spark, self.history_days + 1))),
        ]


def identity_arrow(df: DataFrame, width: int) -> DataFrame:
    """An identity ``mapInArrow`` that appends ``width`` float64 columns:
    the window kernel's Arrow transport with no kernel compute."""
    names = [f"__arrow{i}" for i in range(width)]
    schema = T.StructType(list(df.schema.fields) + [T.StructField(n, T.DoubleType(), True) for n in names])

    def passthrough(batches):
        import pyarrow as pa

        for b in batches:
            zeros = pa.array(np.zeros(b.num_rows))
            yield pa.RecordBatch.from_arrays(b.columns + [zeros] * width, names=b.schema.names + names)

    return df.mapInArrow(passthrough, schema)


WORKLOADS = {w.name: w for w in (BackfillFull, DailyAppend)}
