"""Streaming bronze ingest: CDC-enveloped JSON → parsed, typed,
partitioned append with checkpointing.

Re-expresses `/root/reference/spark/app/streaming_job.py:65-115`
(Kafka → get_json_object → from_json → partitioned Delta append via
foreachBatch) as an idiomatic Structured Streaming pipeline. In this
environment there is no Kafka broker, so the stream source is a JSON
*file* source with the identical Debezium envelope and encodings
(epoch-µs string timestamps, epoch-day dob, tombstones with
after=null per docs/FAQ.txt:59-93) — the transform stage is
source-agnostic: swap ``readStream.json`` for
``readStream.format("kafka")`` + the value-cast and nothing else
changes (see :func:`parse_cdc`).

Design choices vs the reference, for scale:
- direct partitioned append sink (no foreachBatch detour — pure
  appends don't need it; exactly-once comes from the file-sink
  commit log + checkpoint).
- ``Trigger.AvailableNow`` for batch-boundary runs (T1/T4) instead
  of an always-on 10 s trigger; production would use processingTime.
- partitioned by year/month/day like bronze in the reference
  (streaming_job.py:104) so downstream date filters prune files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_fraud_detection_lakehouse_spark.core.schemas import CDC_ENVELOPE
from real_time_fraud_detection_lakehouse_spark.sources.transactions import transactions_df
from real_time_fraud_detection_lakehouse_spark.streaming.batchsink import run_to_parquet

#: ~1 in 211 records becomes a tombstone (after=null) to exercise P3;
#: selection is a seeded hash on the key so it is deterministic AND
#: computable per-partition (no global row numbering).
TOMBSTONE_MOD = 211

#: fixture file fan-out — the cdc_replay Python data source maps one
#: read partition per file, and its tests pin exactly four.
_FIXTURE_FILES = 4


def write_cdc_fixture(spark: SparkSession, sf_dir: str, out_dir: str) -> int:
    """Materialize the transactions table as CDC JSON-lines files
    (the Debezium envelope shape from FIXTURES.md §2). Returns the
    number of *data* records (tombstones excluded).

    Distributed by design (round-12 advice — the old version was the
    package's one data-sized ``collect()``): the envelope is built
    with JVM-side expressions (``to_json(struct(...))`` with
    ``ignoreNullFields=false`` so tombstones render ``"after":null``
    and a null ``merch_lat`` stays explicit, like ``json.dumps``) and
    written as a partitioned text job — executors stream rows to
    disk, the driver only renames the ≤4 part files to the ``*.json``
    names the ``cdc_replay`` connector globs. Tombstone selection
    moved from positional (``i % 211`` over collect order, which
    needs a global ordering) to a seeded key hash
    (``xxhash64(trans_num) % 211``) — per-partition computable,
    stable under any partitioning, same ~1/211 rate. Timestamps ride
    ``unix_micros`` (exact UTC instants; the old driver-side
    ``datetime.timestamp()`` matched only because the session tz is
    UTC) and floats ride ``CAST(double AS STRING)`` — both sides are
    shortest-round-trip encodings, so every value parses back to the
    identical double/timestamp (the parse-equivalence tests are the
    contract)."""
    tx = transactions_df(spark, sf_dir)
    is_tomb = F.pmod(F.xxhash64("trans_num"), F.lit(TOMBSTONE_MOD)) == 0
    after = F.struct(
        F.unix_micros("trans_timestamp").cast("string").alias("trans_date_trans_time"),
        F.col("cc_num").cast("string").alias("cc_num"),
        F.col("merchant").alias("merchant"),
        F.col("category").alias("category"),
        F.col("amt").alias("amt"),
        F.col("first").alias("first"),
        F.col("last").alias("last"),
        F.col("gender").alias("gender"),
        F.col("street").alias("street"),
        F.col("city").alias("city"),
        F.col("state").alias("state"),
        F.col("zip").cast("string").alias("zip"),
        F.col("lat").cast("string").alias("lat"),
        F.col("long").cast("string").alias("long"),
        F.col("city_pop").cast("string").alias("city_pop"),
        F.col("job").alias("job"),
        F.datediff(F.col("dob"), F.lit("1970-01-01")).cast("string").alias("dob"),
        F.col("trans_num").alias("trans_num"),
        F.col("unix_time").cast("string").alias("unix_time"),
        F.col("merch_lat").cast("string").alias("merch_lat"),
        F.col("merch_long").cast("string").alias("merch_long"),
        F.col("is_fraud").cast("string").alias("is_fraud"),
    )
    line = F.to_json(
        F.struct(F.when(~is_tomb, after).alias("after")),
        {"ignoreNullFields": "false"},
    )
    (
        tx.select(line.alias("value"))
        .repartition(_FIXTURE_FILES)
        .write.mode("overwrite")
        .text(out_dir)
    )
    # driver side: bounded METADATA only — rename the ≤4 part files to
    # the *.json names the cdc_replay connector (and FIXTURES.md) pin
    parts = sorted(f for f in os.listdir(out_dir) if f.startswith("part-"))
    for i, name in enumerate(parts):
        os.replace(
            os.path.join(out_dir, name),
            os.path.join(out_dir, f"part-{i}.json"),
        )
        crc = os.path.join(out_dir, f".{name}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    # data-record count from ONE distributed scan of the fixture just
    # written — never a second derivation of the source (round-13
    # review finding). An Observation metric was considered and
    # rejected: .get has no timeout, so a missed listener callback
    # would hang the driver path forever.
    return (
        spark.read.text(out_dir)
        .filter(~F.col("value").startswith('{"after":null'))
        .count()
    )


def parse_cdc(raw: DataFrame) -> DataFrame:
    """Envelope parse + flatten + typed bronze columns — the shared
    transform for any CDC byte source (S1/S2 → P1/P2/P3 → F1/F3).

    ``raw`` carries one JSON string per record in ``value``
    (for Kafka: ``selectExpr("CAST(value AS STRING) AS value")``).
    """
    after_json = F.get_json_object(F.col("value"), "$.after")
    parsed = (
        raw.select(after_json.alias("after_json"))
        .filter(F.col("after_json").isNotNull())  # tombstone filter (P3)
        .select(F.from_json("after_json", CDC_ENVELOPE["after"].dataType).alias("data"))
        .select("data.*")
    )
    ts = (F.col("trans_date_trans_time").cast("long") / 1_000_000).cast("timestamp")
    return (
        parsed.withColumn("trans_timestamp", ts)
        .withColumn("ingestion_time", F.current_timestamp())
        .withColumn("year", F.year("trans_timestamp"))
        .withColumn("month", F.month("trans_timestamp"))
        .withColumn("day", F.dayofmonth("trans_timestamp"))
    )


def run_bronze_stream(
    spark: SparkSession,
    cdc_dir: str,
    bronze_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """File-source stream → parse → partitioned parquet append with
    checkpoint, run as one ``availableNow`` pass; returns the bronze
    table read back."""
    raw = spark.readStream.schema("value string").text(cdc_dir)
    return run_to_parquet(
        parse_cdc(raw), bronze_dir, checkpoint_dir, partition_by=("year", "month", "day")
    )


def streaming_bronze_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming smoke path for the driver: fixture →
    stream → bronze → per-day counts (deterministic aside from audit
    cols, which are excluded)."""
    import tempfile

    tmp = tempfile.mkdtemp(prefix="bronze_stream_")
    cdc = os.path.join(tmp, "cdc")
    bronze_dir = os.path.join(tmp, "bronze")
    ckpt = os.path.join(tmp, "ckpt")
    write_cdc_fixture(spark, sf_dir, cdc)
    bronze = run_bronze_stream(spark, cdc, bronze_dir, ckpt)
    return (
        bronze.groupBy("year", "month", "day")
        .agg(
            F.count("*").alias("records"),
            F.countDistinct("trans_num").alias("distinct_trans"),
        )
        .orderBy("year", "month", "day")
    )
