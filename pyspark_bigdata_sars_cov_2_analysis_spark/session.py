"""Session bootstrap.

Replaces the reference's ``spark/dependencies/spark.py:10-59`` (start_spark:
session + log4j wrapper + config-file plumbing) with a single tuned builder.

Scale posture: every knob here is chosen for a 1000-executor / 100 TB
deployment and merely *also* works on local[32]:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  broadcast) — replaces the reference's hand-set ``repartition(200)``
  (``spark/jobs/radiography_analysis.py:102``).
- Arrow on for every driver<->Python exchange (the reference never set it;
  its row UDFs pickled per row — SURVEY.md §4.4).
- UTC session timezone so timestamp semantics are cluster-independent.
- Explicit shuffle partitioning defaulting to the driver's core count but
  overridable; AQE coalesces down when partitions are small.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # keep parquet scans vectorized and pushdown-friendly
    "spark.sql.parquet.filterPushdown": "true",
    # an events.ts written as TIMESTAMP(NANOS) (the testdata's is MICROS)
    # is rejected by vanilla Spark; read it as long and convert at the
    # scan wrapper (registry.table)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # don't let tiny local runs create 200 empty shuffle files
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # let AQE finalize CACHED plans too (optimization r16, guide §2.2):
    # default-off, this pins every persisted frame at the raw
    # spark.sql.shuffle.partitions count — a tiny cached frame (d18's
    # score frame, d11/d06's banded frames, t09's tf) then bills every
    # cache-READING stage one task per empty partition, while at real
    # scale the same advisory-size coalescing simply keeps cached
    # partitions in the 100 MB-1 GB band. Size-adaptive by construction
    # (advisoryPartitionSizeInBytes), not a local-mode constant. The
    # trade (documented upstream): a consumer counting on the cached
    # plan's exact output partitioning may re-shuffle — our cached
    # frames feed aggregates/joins whose distributions AQE re-plans
    # anyway (suite + plan-budget tests pin this).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


def start_session(
    app_name: str = "pyspark-engine",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster pass ``None`` and let spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
