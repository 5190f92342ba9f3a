"""SparkSession factory with scale-oriented defaults.

Local sandbox runs use ``local[N]``; the same builder settings are what we
would submit with ``spark-submit --py-files`` on a multi-executor cluster
(AQE on, Arrow on, adaptive skew-join on). Shuffle partition count defaults
to the core count so local runs don't pay 200-partition scheduling overhead;
on a real cluster this is overridden to ~2-3x total cores.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "nfl_feature_store_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the feature-engine workload.

    AQE handles runtime coalescing and skew-join splitting; Arrow is enabled
    for the ``mapInArrow`` kernels (the window kernel, EWMA, Elo);
    timestamps are UTC so oracle comparisons (DuckDB) and the pandas
    referee agree bit-for-bit.

    Python workers of a local session run under
    :mod:`nfl_feature_store_spark.daemon` (``spark.python.daemon.module``),
    which stops pyspark from re-reading every zip archive on the worker path
    at the start of each task. An identity ``mapInArrow`` over 400 rows in 4
    tasks on ``local[4]`` took 0.38-0.57 s with the stock daemon, 0.19-0.21 s
    with this one and 0.06-0.09 s for the same job without Python (4-core
    host, CPython 3.11). The daemon is only chosen when a worker started from
    this process's directory and ``PYTHONPATH`` finds the package (see
    :func:`_workers_find_package`); on a cluster, or otherwise, the workers
    keep ``pyspark.daemon``. ``extra_conf`` overrides either choice.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = (os.cpu_count() or 4) if n == "*" else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # bytes-driven coalescing throttles CPU-bound window/Python stages on
        # small-byte data: keep the parallelism floor high (AQE default
        # minPartitionSize=1m collapsed a 3MB window stage to 2 tasks)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.session.timeZone", "UTC")
        # floor on scan splits (guide §6): a 126MB single-file table under
        # the 128MB maxPartitionBytes default scans as ONE task even when it
        # holds several row groups; the floor splits it into byte ranges so
        # every row group gets its own task (measured: sf1.0 lineitem 6 row
        # groups 1 -> 6 scan tasks). Scale-adaptive by construction — any
        # table bigger than cores x 128MB already exceeds the floor, so
        # nothing changes at production scale. Single-row-group files are
        # instead handled by plans/layout.spread at the operator level.
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd halves shuffle bytes vs the lz4 default on text-heavy
        # transcript payloads (measured 1.97x: 6.62 vs 13.05 MB on the
        # flagship, wall equal-or-faster — BENCH/BASELINE.md round-5 codec
        # table). At cluster scale shuffle bytes are network
        # traffic; override via extra_conf if a workload proves CPU-bound.
        .config("spark.io.compression.codec", "zstd")
        # parquet sinks likewise: 15% smaller than snappy on the flagship
        # feature table at wall-neutral cost (BENCH/BASELINE.md) —
        # and synthetic low-entropy text understates the real-corpus gain
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    if (master == "local" or master.startswith("local[")) and _workers_find_package():
        builder = builder.config("spark.python.daemon.module", "nfl_feature_store_spark.daemon")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _workers_find_package() -> bool:
    """Whether a local Python worker can import this package before any task
    runs. Spark starts the worker daemon as ``python -m <module>`` in this
    process's working directory with its ``PYTHONPATH`` (plus Spark's own
    archives), so the package must sit in one of those directories or in
    site-packages. A package put on ``sys.path`` only at run time is not
    seen there, and a daemon that cannot be imported fails every Python
    task."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep), *site.getsitepackages()]
    return any(d and os.path.abspath(d) == root for d in dirs)
