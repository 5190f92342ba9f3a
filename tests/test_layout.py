"""spread: the three layout decisions it makes for a compute-bound operator's
input."""

import re

from nfl_feature_store_spark.plans.layout import spread


def test_spread_decisions(spark, tmp_path):
    n = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "one_row_group")
    spark.range(1000).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() == 1

    # a one-partition scan is hash-repartitioned on the key to the default parallelism
    out = spread(scan, "id")
    assert out.rdd.getNumPartitions() == n
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert re.search(rf"hashpartitioning\(id#\d+L?, {n}\)", plan), plan
    assert sorted(r.id for r in out.collect()) == list(range(1000))

    # an input already at (or above) the default parallelism passes through
    wide = spark.range(0, 1000, numPartitions=n)
    assert spread(wide, "id") is wide

    # a streaming DataFrame passes through: its partitioning is the source's
    stream = spark.readStream.format("rate").load()
    assert spread(stream, "value") is stream
