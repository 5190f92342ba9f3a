"""Transcript table sources.

Input contract (BASELINE.json input_hint): an Iceberg/parquet table of
multi-turn conversation transcripts with columns
``(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp)``.

One view and two generators:

* :func:`events_as_transcripts` — the benchmark ``events`` table viewed as
  transcripts: the flagship input of ``__spark_entry__.entry`` and
  ``bench.py``.
* :func:`gen_transcripts_pdf` — small, seeded pandas generator used by both
  the pandas referee and the Spark engine in tests, so golden comparisons are
  bit-exact (FIXTURES.md F1: Zipf-skewed conversation sizes, 3% session gaps,
  unicode/empty/newline text cases, duplicate-delivery rows).
* :func:`gen_transcripts_distributed` — pure column-expression generator over
  ``spark.range`` that scales to billions of turns with zero driver-side
  data, for corpora larger than the pandas fixture. Deterministic given (seed,
  n_convs): every value is a hash function of (conv_id, turn_idx).

The reference's analogous source is an HTTP play-by-play fetch per season
(reference src/pumps/player_game.py:9-10,51); here ingestion is a staged
table and the generators stand in for it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

_TOOLS = [
    "search", "calculator", "python", "browser", "sql", "bash",
    "retrieval", "email", "calendar", "maps", "weather", "translate",
]

_WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "québec", "romeo", "sierra", "tango", "uniform",
    "víctor", "whiskey", "xray", "yankee", "zulu", "the", "and", "of",
    "to", "in", "is", "it", "that", "was", "for",
]

SESSION_GAP_S = 1800  # 30 min gap threshold (FIXTURES.md F1)


def gen_transcripts_pdf(
    n_convs: int = 200,
    seed: int = 42,
    max_turns: int = 400,
    hot_conv_turns: int | None = None,
    dup_frac: float = 0.01,
) -> pd.DataFrame:
    """Deterministic synthetic transcripts (pandas), FIXTURES.md F1.

    Zipf(a=1.3) turn counts to exercise skew; 3% of inter-turn gaps exceed
    the 30-min session threshold; text lengths 0..~4000 chars including
    empty / unicode / newline cases; ``dup_frac`` duplicate
    ``(conv_id, turn_idx)`` deliveries with later ts (dedup keep-latest).
    """
    rng = np.random.default_rng(seed)
    counts = np.minimum(rng.zipf(1.3, size=n_convs), max_turns)
    counts = np.maximum(counts, 1)
    if hot_conv_turns:
        counts[0] = hot_conv_turns  # deliberately hot entity (FIXTURES.md F6)
    # guarantee the min_periods edge cases: entities with exactly 1/2/3 turns
    for i, c in enumerate((1, 2, 3)):
        if n_convs > i + 1:
            counts[i + 1] = c

    rows: list[tuple] = []
    base = pd.Timestamp("2026-01-01 00:00:00")
    for i, n in enumerate(counts):
        conv = f"c{i:08d}"
        gaps = rng.integers(1, 91, size=n).astype("int64")
        big = rng.random(n) < 0.03
        gaps[big] = SESSION_GAP_S + rng.integers(1, 7200, size=int(big.sum()))
        gaps[0] = 0
        ts = base + pd.to_timedelta(np.cumsum(gaps) + i * 977, unit="s")
        for j in range(n):
            role = "tool" if rng.random() < 0.05 else ("user" if j % 2 == 0 else "assistant")
            n_words = int(rng.integers(0, 60))
            if rng.random() < 0.02:
                text = ""
            else:
                words = rng.choice(_WORDS, size=max(n_words, 1))
                text = " ".join(words)
                if rng.random() < 0.05:
                    text += "\nline two ünïcodé"
            tool = _TOOLS[int(rng.integers(0, len(_TOOLS)))] if (
                role == "tool" or (role == "assistant" and rng.random() < 0.05)
            ) else ""
            rows.append((conv, j, role, text, tool, ts[j]))

    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    # duplicate-delivery rows: re-send some turns 120s later with same payload
    n_dup = int(len(pdf) * dup_frac)
    if n_dup:
        dup = pdf.sample(n=n_dup, random_state=seed).copy()
        dup["ts"] = dup["ts"] + pd.Timedelta(seconds=120)
        pdf = pd.concat([pdf, dup], ignore_index=True)
    return pdf.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(drop=True)


def events_as_transcripts(events: DataFrame) -> DataFrame:
    """The ``events`` table (``event_id, ts, user_id, event_type, props``)
    viewed as transcripts: one conversation per user, turns numbered by
    ``(ts, event_id)``, ``error`` events as ``debugger`` tool turns. ``ts``
    is cast to the ``TIMESTAMP`` that :data:`TRANSCRIPT_SCHEMA` declares (the
    parquet column is ``TIMESTAMP_NTZ``)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.coalesce(F.col("props"), F.lit("")).alias("text"),
        F.when(F.col("event_type") == "error", F.lit("debugger")).otherwise(F.lit("")).alias("tool"),
        F.col("ts").cast("timestamp").alias("ts"),
    )


def transcripts_from_pandas(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    """Pandas fixture → Spark DataFrame with the canonical schema."""
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)


def gen_transcripts_distributed(
    spark: SparkSession,
    n_convs: int,
    avg_turns: int = 50,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Scalable deterministic transcript generator — zero driver data.

    Every column is a pure expression of ``(conv_seq, turn_idx)`` via xxhash64,
    so the same (seed, n_convs, avg_turns) always yields the same table at any
    parallelism.
    Turn counts follow an approximate power law (hash-driven) for realistic
    conversation-size skew.
    """
    convs = spark.range(0, n_convs, 1, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    h = F.abs(F.xxhash64(F.col("id"), F.lit(seed)))
    # pow-law-ish sizes, mean ~1.2*avg_turns, heavy tail capped at 40*avg:
    # E[1/(0.1+u^2)] ~= 4 for u~U(0,1)
    u = (h % 1000000) / 1000000.0
    n_turns = F.least(
        (F.lit(1) + (F.lit(avg_turns * 0.3) / (F.lit(0.1) + u * u)).cast("int")),
        F.lit(avg_turns * 40),
    )
    convs = convs.select(
        F.format_string("c%08d", F.col("id")).alias("conv_id"),
        F.col("id").alias("conv_seq"),
        n_turns.alias("n_turns"),
    )
    turns = convs.select(
        "conv_id",
        "conv_seq",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )
    th = F.abs(F.xxhash64("conv_seq", "turn_idx", F.lit(seed)))
    gap = F.when(th % 100 < 3, F.lit(SESSION_GAP_S) + th % 7200).otherwise(1 + th % 90)
    text_rep = (th % 6).cast("int")
    turns = turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.when(th % 20 == 0, F.lit("tool"))
        .when(F.col("turn_idx") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.concat(
            F.lit("turn "),
            F.col("turn_idx").cast("string"),
            F.lit(" "),
            F.repeat(F.lit("lorem ipsum dolor sit amet consectetur "), text_rep),
        ).alias("text"),
        F.when(th % 20 == 0, F.element_at(F.array(*[F.lit(t) for t in _TOOLS]), (th % 12 + 1).cast("int")))
        .otherwise(F.lit(""))
        .alias("tool"),
        (
            F.to_timestamp(F.lit("2026-01-01 00:00:00"))
            + F.make_interval(secs=(F.col("conv_seq") % 86400).cast("double"))
            + F.make_interval(
                secs=F.sum(gap).over(Window.partitionBy("conv_id").orderBy("turn_idx")).cast("double")
            )
        ).alias("ts"),
    )
    return turns
