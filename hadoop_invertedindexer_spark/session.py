"""SparkSession factory with scale-aware defaults.

The reference hand-tunes nothing (its only knobs are the Hadoop defaults,
``/root/reference/src/InvertedIndexer.java:226-262``); here the session
defaults encode the 100 TB posture: AQE on (runtime re-planning, skew-join
splitting, post-shuffle coalescing), explicit shuffle parallelism, and
Arrow for any pandas interchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    # Adaptive execution: re-plan shuffles at runtime, coalesce tiny
    # post-shuffle partitions, split skewed join partitions. These are the
    # knobs that make the same plan survive a 100x scale-up.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamp semantics for the oracle comparison.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for pandas_udf / toPandas interchange (vectorized transfer).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Keep parquet scans vectorized and pushdown-friendly.
    "spark.sql.parquet.filterPushdown": "true",
    # Broadcast threshold: small dims (region/nation/supplier at any SF
    # that fits) broadcast automatically; AQE also converts at runtime.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Read parquet ns timestamps as-is.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Parquet TIMESTAMP(NANOS) (events.ts) is read as long; read_table
    # converts to a microsecond timestamp (matching DuckDB's truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # DisableUnnecessaryBucketedScan only counts shuffle/sort avoidance as
    # a bucketed-scan benefit, not bucket PRUNING — with it on, a pure
    # term-filter over the bucketed term index reads all buckets. Keep
    # bucketed scans so `word IN (...)` prunes to SelectedBucketsCount.
    "spark.sql.sources.bucketing.autoBucketedScan.enabled": "false",
}


def env_cpus() -> int:
    """Local core count from ``$SPARK_GRAFT_CPUS``; unset or blank (an
    exported but empty variable) means 32."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    return int(raw) if raw else 32


def get_spark(
    app_name: str = "hadoop-invertedindexer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract);
    ``shuffle_partitions`` defaults to 2x the local cores — on a real
    cluster you would size this to total executor cores (or let AQE's
    coalescing own it).
    """
    cpus = env_cpus()
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or 2 * cpus)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
