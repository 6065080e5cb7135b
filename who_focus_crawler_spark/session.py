"""SparkSession factory with the engine's pinned configs.

Local mode is the test/bench environment (SURVEY.md probe P4); the configs
are chosen so the same code runs unchanged on a multi-executor cluster via
``spark-submit --py-files`` (BASELINE.json north_rule).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Number of hash buckets for frontier / url_seen partitioning
# (pmod(xxhash64(host|url), P)). Pinned explicitly because golden
# determinism depends on it (SURVEY.md §4).
DEFAULT_BUCKETS = int(os.environ.get("WFC_BUCKETS", "32"))


def get_spark(
    app_name: str = "who_focus_crawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's pinned configs.

    - Arrow on: every UDF crossing is Arrow-batched (BASELINE.json input_hint:
      "vectorized pandas/Arrow UDFs (no per-row Python) throughout").
    - AQE on for joins/aggs, but bucket-aligned stages use explicit
      ``repartition(P, ...)`` which AQE does not coalesce away.
    - Shuffle partitions default to core count, not 200 (local mode).
    """
    master = master or os.environ.get("WFC_MASTER", "local[*]")
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("WFC_SHUFFLE_PARTITIONS", str(cores)))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("WFC_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Propagate bucket-sort order from bucketed scans so joins of
        # bucketBy+sortBy tables skip the per-task Sort as well as the
        # Exchange. Sound here because operators/bucketing.py::
        # write_bucketed always repartitions on the bucket key before
        # writing -> exactly one file per bucket (the case where the
        # reported ordering is actually true).
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # Python Data Source API (sources/warc_datasource.py): allow
        # readers to take equality filters into the scan
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
