"""Seeded transcript generator owned by the benchmark.

Modelled on the engine's distributed generator but deliberately independent
of it, so a change to the program's sources cannot change the workload.
Every value is a pure xxhash64 expression of ``(seed, conv_seq, turn_idx)``,
so one seed yields the same table at any parallelism.

Shape of the output (the engine's transcript schema plus ``tool_ms``):

* power-law conversation sizes (mean about ``1 + 1.2 * avg_turns`` turns,
  heavy tail capped at ``40 * avg_turns``), drawn as fixed quantiles so the
  total number of turns barely depends on the seed;
* conversation starts spread uniformly over ``days`` UTC days;
* about 3% of inter-turn gaps exceed the 30-minute session threshold;
* about 5% tool turns; ``tool_ms`` is the tool latency and NULL on turns
  with no tool;
* about ``DUP_PCT`` % duplicate deliveries: the same turn re-sent 120 s
  later, which dedup must collapse to the later copy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EPOCH = "2026-01-01 00:00:00"
SESSION_GAP_S = 1800
DUP_PCT = 1
PARTITIONS = 4
PERM_STRIDE = 7919  # prime: a bijection on range(n_convs) unless it divides n_convs
TOOLS = ("search", "python", "browser", "sql", "bash", "retrieval", "maps", "translate")
WORDS = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor "


def gen_transcripts(spark: SparkSession, n_convs: int, avg_turns: int, seed: int, days: int = 1) -> DataFrame:
    """Transcripts ``(conv_id, turn_idx, role, text, tool, tool_ms, ts)``."""
    if n_convs % PERM_STRIDE == 0:
        raise ValueError(f"n_convs must not be a multiple of {PERM_STRIDE}")
    convs = spark.range(0, n_convs, 1, numPartitions=PARTITIONS)
    h = F.abs(F.xxhash64(F.col("id"), F.lit(seed), F.lit("conv")))
    # stratified power law: conversation i takes the size quantile at
    # u = (perm(i) + 0.5) / n_convs for a seed-chosen permutation, so the
    # seed reshuffles which conversation is large but not the total work
    perm = (F.col("id") * PERM_STRIDE + F.abs(F.xxhash64(F.lit(seed), F.lit("perm")))) % n_convs
    u = (perm + 0.5) / n_convs
    n_turns = F.least(
        F.lit(1) + (F.lit(avg_turns * 0.3) / (F.lit(0.1) + u * u)).cast("int"),
        F.lit(avg_turns * 40),
    )
    start_s = F.abs(F.xxhash64(F.col("id"), F.lit(seed), F.lit("start"))) % (days * 86400)
    turns = convs.select(
        F.format_string("c%08d", F.col("id")).alias("conv_id"),
        F.col("id").alias("conv_seq"),
        start_s.alias("start_s"),
        h.alias("h"),
        F.explode(F.sequence(F.lit(0), n_turns - 1)).alias("turn_idx"),
    )
    h = F.col("h")
    th = F.abs(F.xxhash64("conv_seq", "turn_idx", F.lit(seed)))
    # closed-form clock, no window: ~46 s per turn with up to 40 s jitter, and
    # an hour's pause every ``brk`` turns (15..44 per conversation), which is
    # about 3% of gaps above the session threshold
    brk = F.lit(15) + h % 30
    offset_s = (
        F.col("start_s")
        + F.col("turn_idx") * 46
        + th % 40
        + F.floor(F.col("turn_idx") / brk) * (2 * SESSION_GAP_S)
    )
    is_tool = th % 20 == 0
    turns = turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.when(is_tool, F.lit("tool"))
        .when(F.col("turn_idx") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.concat(
            F.lit("turn "),
            F.col("turn_idx").cast("string"),
            F.lit(" "),
            F.substring(F.repeat(F.lit(WORDS), 4), 1, (th % 240).cast("int")),
        ).alias("text"),
        F.when(is_tool, F.element_at(F.array(*map(F.lit, TOOLS)), (th % len(TOOLS) + 1).cast("int")))
        .otherwise(F.lit(""))
        .alias("tool"),
        F.when(is_tool, (th % 4999 + 1).cast("double")).alias("tool_ms"),
        F.timestamp_seconds(F.unix_timestamp(F.lit(EPOCH)) + offset_s).alias("ts"),
        (F.abs(F.xxhash64("conv_seq", "turn_idx", F.lit(seed), F.lit("dup"))) % 100 < DUP_PCT).alias(
            "__dup"
        ),
    )
    dups = turns.filter("__dup").withColumn("ts", F.col("ts") + F.expr("INTERVAL 120 SECONDS"))
    return turns.unionByName(dups).drop("__dup")


def hashed_metrics(names: list[str]) -> dict:
    """Extra all-valid numeric metrics, one xxhash64 column per name — the
    same construction as the engine's wide headline benchmarks."""
    return {
        n: (F.xxhash64("conv_id", "turn_idx", F.lit(i)) % 1000).cast("double")
        for i, n in enumerate(names)
    }
