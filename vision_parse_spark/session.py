"""SparkSession factory tuned for the extraction workload.

Settings chosen for a large multi-executor cluster; in this sandbox
``master`` is ``local[N]`` but every knob below is the one you would
ship with ``spark-submit`` to a 1000-executor cluster:

* AQE on (coalescing + skew-split) — long conversations make
  per-``conv_id`` aggregations skewed (north_rule).
* Arrow enabled with a bounded batch size so each ``mapInPandas``
  batch's transient numpy pages fit executor memory (the analog of the
  reference's per-page ``bitmap.close()`` hygiene,
  ``parser.py:137-140``).
* shuffle partitions sized to cores in the sandbox; on a real cluster
  set ~2-3x total cores.

``spread`` is the one policy for spreading an under-split input over
the cores before a per-row kernel.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Below this optimized-plan size an under-split input is cheaper to
# process where it lies than to round-robin: the exchange costs a fixed
# ~0.2-0.5 s (p tasks plus a shuffle of every byte).  Isolated
# best-of-3 showed it losing on every consumer of the 0.6 MB test
# corpus and winning on the same queries over the 6 MB 10x tile.
SPREAD_MIN_BYTES = 2 << 20


def get_spark(
    app_name: str = "vision-parse-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 2048,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Make this package importable in executor Python workers no matter
    # where the driver was launched from (the local-mode analog of
    # `spark-submit --py-files engine.zip`; workers inherit PYTHONPATH).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pypath if pypath else "")
        )

    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def spread(df: DataFrame) -> DataFrame:
    """``df``, or ``df.repartition(p)`` with ``p`` the session's
    default parallelism: the input of a per-row kernel, spread over the
    cores only when the imbalance costs more than the move (DS2).

    Decided from the DataFrame alone, so nothing is cached: below
    ``SPREAD_MIN_BYTES`` of optimized-plan ``sizeInBytes`` (a plan
    statistic, no Spark job) ``df`` is returned unprobed; above it,
    ``df`` is kept when it already has ``max(p // 2, 1)`` partitions
    or more.  Idempotent: the spread output has ``p`` partitions, so
    an operator nested in another that spread the same input adds no
    second exchange."""
    plan = df._jdf.queryExecution()
    if plan.optimizedPlan().stats().sizeInBytes() < SPREAD_MIN_BYTES:
        return df
    p = df.sparkSession.sparkContext.defaultParallelism
    phys = plan.executedPlan()
    if phys.nodeName() == "AdaptiveSparkPlan":
        # a shuffling plan fixes its output partition count statically
        # (0 when unknown, e.g. a broadcast join streaming a scan);
        # the RDD conversion would run the shuffle stages to count it
        n = phys.executedPlan().outputPartitioning().numPartitions()
    else:
        n = df.rdd.getNumPartitions()
    return df if n >= max(p // 2, 1) else df.repartition(p)
