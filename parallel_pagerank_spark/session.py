"""SparkSession factory with the engine's physical defaults.

Single place where shuffle parallelism, AQE, and Arrow are configured
(SURVEY.md §4.3: explicit shuffle-partition tuning is part of the north rule).
Operators take their partition count only from here, through
:func:`shuffle_partitions`. One override, :func:`adaptive_off`, which
restores the session's setting afterwards, scopes three places: the keyed
superstep loop (``SuperstepState.run`` in plans/iterate.py) plus the edge
tables it reads, ``triangle_count`` (operators/triangles.py), and the
vectorized tiers' route aggregate (``_route_fast`` in
operators/components.py). Every other query runs with
``EngineConfig.adaptive``. The vectorized PageRank, CC and LPA tiers hand
their numpy results back through :func:`frame_from_pandas`.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .config import EngineConfig

_ADAPTIVE = "spark.sql.adaptive.enabled"
_ARROW_LOCAL = "spark.sql.execution.arrow.localRelationThreshold"


def get_spark(
    app_name: str = "parallel-pagerank-spark",
    master: str | None = None,
    config: EngineConfig | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback ``local[*]``)
    in the sandbox; on a real cluster pass ``None`` and let spark-submit decide.
    """
    cfg = config or EngineConfig()
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", cfg.max_partition_bytes)
        .config(_ADAPTIVE, str(cfg.adaptive).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.execution.arrow.pyspark.enabled", str(cfg.arrow).lower()
        )
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g")
        )  # local mode: executors share the driver JVM — an undersized heap
        # GC-thrashes at high thread counts and kills scaling
        .config("spark.sql.autoBroadcastJoinThreshold", "32m")
        .config("spark.checkpoint.compress", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def shuffle_partitions(spark: SparkSession) -> int:
    """The partition count of every operator's ``repartition(n, key)``:
    ``spark.sql.shuffle.partitions``, set above from
    ``EngineConfig.shuffle_partitions``. The key is runtime-settable, so
    ``spark.conf.set`` changes it for the calls that follow."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


@contextmanager
def adaptive_off(spark: SparkSession) -> Iterator[None]:
    """Plan and run the block's queries with adaptive query execution off,
    then restore the caller's setting, also when the block raises. The
    setting is read when a query is planned, and ``persist`` plans its
    cached relation when it is called, so a frame persisted inside the
    block is planned without AQE even if it is first read later. The
    setting is the session's: a query another thread plans meanwhile runs
    without AQE too."""
    prior = spark.conf.get(_ADAPTIVE)
    spark.conf.set(_ADAPTIVE, "false")
    try:
        yield
    finally:
        spark.conf.set(_ADAPTIVE, prior)


def frame_from_pandas(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    """``spark.createDataFrame(pdf)`` kept as an RDD of the Arrow batches
    the driver sends (with ``EngineConfig.arrow``, the default), not a
    ``LocalRelation``. Below
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
    default) Spark decodes every batch into rows on the driver and plans
    the rows as a local relation: a 100,000-row ``(id, label)`` result then
    took 0.30-0.43 s to create, plan and read back with ``toPandas``,
    against 0.08-0.14 s as batches (local[4], 4-core host, Spark 4.1.2).
    The threshold is 0 for this one call and restored afterwards, also
    when the call raises; another thread's ``createDataFrame`` meanwhile
    sees it too. The frame has no size statistics: a join planned without
    AQE never broadcasts it."""
    prior = spark.conf.get(_ARROW_LOCAL)
    spark.conf.set(_ARROW_LOCAL, "0")
    try:
        return spark.createDataFrame(pdf)
    finally:
        spark.conf.set(_ARROW_LOCAL, prior)
