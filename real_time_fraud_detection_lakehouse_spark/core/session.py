"""SparkSession factory.

Mirrors the reference's engine configuration surface
(`config/spark/spark-defaults.conf:19-21` — AQE on, tuned shuffle
partitions, Kryo) but chosen for scale: AQE with partition
coalescing and skew-join handling, UTC session time zone (required
for deterministic oracle comparison against DuckDB), Arrow-enabled
pandas interop.

Scale notes (100 TB / 1000-executor design intent):
- ``spark.sql.shuffle.partitions`` here is a local-mode default; on
  a real cluster set it ~2-3x total cores, or rely on AQE
  coalescing from a high initial value.
- ``spark.sql.files.maxPartitionBytes`` 128m keeps scan tasks
  right-sized for wide parquet; raise for highly-compressed data.
- autoBroadcastJoinThreshold 64m: every dim table in the star
  schema fits comfortably; fact-fact joins still sort-merge.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": "67108864",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    # r16 (guide §6): zstd — measured write-time parity with snappy on
    # the sf0.1 silver table (min-of-3: 1.13 s vs 1.19 s) at 18%
    # smaller files; at 100 TB the byte saving is read/shuffle I/O.
    "spark.sql.parquet.compression.codec": "zstd",
    # r17: zstd level 1 instead of parquet-java's default 3 — measured
    # on the full silver+gold write path at sf0.1 (min-of-3,
    # interleaved; OPTIMIZATION_r17.md): snappy 3.96 s / 12.3 MB, zstd:3
    # 4.32 s / 9.1 MB, zstd:1 3.99 s / 9.3 MB. Level 1 keeps ~97% of
    # the level-3 byte saving at snappy's write speed.
    "spark.hadoop.parquet.compression.codec.zstd.level": "1",
    # testdata events.parquet uses TIMESTAMP(NANOS) which Spark cannot
    # represent; read as int64 nanos and convert in the catalog reader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(
    app_name: str = "real_time_fraud_detection_lakehouse_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    ``master=None`` (the default) sets ``local[$SPARK_GRAFT_CPUS]``
    only when no master is already configured (e.g. via
    ``spark-submit --master``), so cluster submission is never
    silently overridden. Pass an explicit master string to force one.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif SparkSession.getActiveSession() is None:
        # no active session to reuse: default a master unless one is
        # being provided by spark-submit (SparkContext never reads the
        # bare MASTER env var, so honor it explicitly if set)
        env_master = os.environ.get("MASTER")
        if env_master:
            builder = builder.master(env_master)
        elif not os.environ.get("SPARK_SUBMIT_OPTS"):
            cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
            builder = builder.master(f"local[{cpus}]")
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for key, value in conf.items():
        builder = builder.config(key, value)
    active = SparkSession.getActiveSession()
    spark = builder.getOrCreate()
    if active is not None:
        # getOrCreate() keeps the existing session's static confs; warn if a
        # requested static conf (e.g. the serializer) could not be applied.
        ser = spark.conf.get("spark.serializer", "")
        if ser != conf.get("spark.serializer", ser):
            warnings.warn(
                "get_spark reused an existing SparkSession; static conf "
                f"spark.serializer={ser!r} differs from requested", stacklevel=2,
            )
    spark.sparkContext.setLogLevel("WARN")
    return spark
