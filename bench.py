#!/usr/bin/env python3
"""Headline benchmark.

Executes the headline queries on the data directory ``$SPARK_GRAFT_SF_DIR``
(default: the sf0.1 test data) on ``local[$SPARK_GRAFT_CPUS]`` (default:
every CPU of the host) and prints ONE JSON line::

    {"metric": "headline_total_sec", "value": N, "unit": "sec",
     "queries": {"flagship_backfill": sec, ...}, "sf": 0.1,
     "backfill_turns_per_sec": N, "cores": 4}

``sf`` is read from the ``sf<scale>`` directory name. Every timed query is
materialized through the noop sink so ALL columns are computed (a bare
count() would let Catalyst prune the feature expressions). The gated,
layer-by-layer benchmark is ``perfbench/``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))


def scale_factor(sf_dir: str) -> float:
    """The scale of an ``sf<scale>`` data directory, e.g. 1.0 for ``.../sf1.0``."""
    m = re.fullmatch(r"sf(\d+(?:\.\d+)?)", os.path.basename(os.path.normpath(sf_dir)))
    if m is None:
        raise ValueError(f"data directory {sf_dir!r} is not named sf<scale>")
    return float(m.group(1))


# headline set: the flagship product pipeline + one representative of each
# expensive operator class from the registry
HEADLINE = [
    "q01_pricing_summary",   # hash agg + conditional sums
    "q03_revenue_by_nation", # broadcast dim joins
    "q09_lag",               # entity window
    "q12_roll10",            # rolling frame
    "q16_asof_join",         # as-of backfill join
    "q20_double_role_join",  # multi-join star
    "q21_exact_dedup",       # fingerprint dedup
    "q24_ngram_jaccard",     # shingle self-join
    "q25_cosine_topk",       # embedding similarity
    "q27_session_avg_two_anchor",  # two-anchor window
    "q28_ewma",              # mapInArrow kernel
    "q29_elo",               # sequential rating kernel
    "q53_contamination",     # cross-split LSH candidate join (round 5)
    "q57_tfidf_topterms",    # explode + double agg + broadcast-back + window (round 5)
]


def _noop(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def _warm(spark, cores: int) -> None:
    """Warm JVM codegen AND the Python worker pool (one worker per core —
    each pays a one-time pandas-import cost that would otherwise pollute the
    first mapInPandas measurement; a long-lived cluster amortizes this)."""
    spark.range(1000).count()
    def _identity(it):
        yield from it
    spark.range(0, cores * 10, 1, numPartitions=cores).mapInPandas(
        _identity, schema="id long"
    ).write.format("noop").mode("overwrite").save()


def run_headline(cores: int) -> dict:
    from nfl_feature_store_spark.registry import QUERIES
    from nfl_feature_store_spark.session import get_spark

    sf = scale_factor(SF_DIR)
    spark = get_spark(app_name="bench", master=f"local[{cores}]", shuffle_partitions=cores)
    _warm(spark, cores)

    timings: dict[str, float] = {}

    # flagship: full transcript feature backfill over the events stream
    from pyspark.sql import functions as F

    from nfl_feature_store_spark.plans.pipeline import backfill_features
    from nfl_feature_store_spark.sources.transcripts import events_as_transcripts

    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    transcripts = events_as_transcripts(ev)
    n_turns = ev.count()

    def best_of(n: int, make_df) -> float:
        best = float("inf")
        for _ in range(n):
            t0 = time.perf_counter()
            _noop(make_df())
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    # best-of-2: the sandbox host is noisy; min-of-n is the steady-state figure
    timings["flagship_backfill"] = best_of(2, lambda: backfill_features(transcripts))

    # wide flagship: 59 metrics x all window families + EWMA — the
    # reference's player-stat width (SURVEY §2.5), round-4 verdict item 2.
    # Same one-exchange plan as the 3-metric flagship (pytest-asserted in
    # tests/test_wide_spec.py); this line measures the codegen/width cost.
    from nfl_feature_store_spark.operators.windows import FeatureSpec

    extra = {
        f"m{i:02d}": (F.xxhash64("conv_id", "turn_idx", F.lit(i)) % 1000).cast("double")
        for i in range(56)
    }
    wide_spec = FeatureSpec(
        metrics=("chars", "words", "is_tool") + tuple(f"m{i:02d}" for i in range(56))
    )
    wide_in = transcripts.withColumns(extra)
    timings["flagship_wide59"] = best_of(
        2, lambda: backfill_features(wide_in, spec=wide_spec, rank_metric=None)
    )

    # event-store width: 190 metrics x all families + EWMA (the reference's
    # 476-column event store, SURVEY §2.5; round-4 verdict item 5). Plan
    # still one hash(conv_id) exchange (tests/test_wide_spec.py); this line
    # measures the codegen-fallback + 950-window-column cost at full width.
    extra190 = {
        f"w{i:03d}": (F.xxhash64("conv_id", "turn_idx", F.lit(i)) % 1000).cast("double")
        for i in range(187)
    }
    spec190 = FeatureSpec(
        metrics=("chars", "words", "is_tool") + tuple(f"w{i:03d}" for i in range(187))
    )
    wide190_in = transcripts.withColumns(extra190)
    timings["flagship_wide190"] = best_of(
        2, lambda: backfill_features(wide190_in, spec=spec190, rank_metric=None)
    )

    for name in HEADLINE:
        timings[name] = best_of(2, lambda q=QUERIES[name]: q(spark, SF_DIR))

    total = round(sum(timings.values()), 3)
    return {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "backfill_turns_per_sec": round(n_turns / timings["flagship_backfill"], 1),
        "cores": cores,
    }


if __name__ == "__main__":
    print(json.dumps(run_headline(CPUS)))
