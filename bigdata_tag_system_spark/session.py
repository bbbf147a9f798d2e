"""SparkSession factory with scale-oriented defaults.

The reference builds its session from config dicts
(``src/scheduler/main_scheduler.py:66-82``: Kryo, AQE, shuffle partitions).
We keep the same knobs but default to settings that survive a 100 TB /
1000-executor deployment: AQE with skew-join handling and partition
coalescing on, Arrow-accelerated Python interop for the few Pandas-UDF
operators, and a shuffle-partition count sized by the caller (tests use 32
to match local[32]; a real cluster sets ~2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "bigdata-tag-system-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the caller leaves it None and spark-submit supplies it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 200

    conf = {
        # Adaptive execution: runtime re-plan, partition coalescing, skew-join
        # splitting — the scale path for skewed user_id / join keys.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Runtime row-level filtering: build a bloom filter from the
        # small side of a selective join and push it into the big
        # side's scan — the automatic semi-join pre-filter that saves
        # shuffling never-matching fact rows at 100 TB. The companion
        # runtimeFilter.semiJoinReduction flag is deliberately NOT set:
        # in this Spark 4.1 build enabling it deadlocks even a trivial
        # parquet count (measured), and the bloom filter subsumes the
        # win (same pre-shuffle row pruning, no extra shuffle for the
        # IN-subquery build side).
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Arrow for the few Pandas-UDF operators (multimodal, ANN rerank).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        # Keep partition sizes bounded when scanning wide fact tables.
        "spark.sql.files.maxPartitionBytes": "128m",
        # zstd, not snappy, for every parquet write: the profile store is
        # read and rewritten whole by each keyed tag job, and most of its
        # bytes are the per-hit `reason` text, which snappy barely
        # compresses (benchmark store: 210 → 128 B/user). Readers need no
        # setting: the codec is recorded per column chunk.
        "spark.sql.parquet.compression.codec": "zstd",
        # Timestamps in testdata are TIMESTAMP_NTZ-ish parquet; keep session
        # TZ fixed for deterministic date arithmetic across engines.
        "spark.sql.session.timeZone": "UTC",
        # Parquet TIMESTAMP(NANOS) (events.ts in testdata) is unreadable by
        # default; read as long and convert at the loader (sources.readers).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
