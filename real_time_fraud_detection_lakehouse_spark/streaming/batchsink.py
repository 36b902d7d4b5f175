"""The stream runner: how every stream in the package is sourced,
triggered, awaited and read back.

Each stream function builds its query logic and hands the streaming
frame to one of the runners here; the trigger, checkpoint and
read-back policy lives in this module only (``_run`` is the one place
that sets a trigger and waits for the query), so changing it —
a ``processingTime`` trigger for the latency path, say — is a change
to this file, not to every stream.

- :func:`parquet_source` — the parquet file-source stream, typed with
  the schema of one batch read of the same path.
- :func:`run_to_parquet` — a parquet append sink run to completion,
  read back with the streaming frame's own schema. A stream that
  emitted zero rows leaves the sink holding only ``_spark_metadata``,
  from which no parquet schema can be inferred; the explicit schema
  reads it as an empty frame instead.
- :func:`run_foreach` — a foreachBatch query run to completion.
- :func:`run_partitioned_foreach_stream` — the idempotent per-batch
  partition sink shared by the foreachBatch monitors. The per-batch
  ``emit(batch_df, batch_id)`` writes its output under
  ``out_path/batch_id=<N>`` with mode=overwrite (use
  :func:`write_batch_partition`), so a crash replay overwrites the
  SAME partition instead of double-appending — exactly-once from
  idempotence rather than from trust in the commit protocol.
  :func:`read_batch_partitions` reads such a partition set back, or an
  empty frame when no batch ever ran."""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType


def _run(writer: DataStreamWriter, checkpoint_dir: str) -> None:
    """Start ``writer`` as one checkpointed availableNow pass and wait
    for it to finish."""
    q = (
        writer.option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def parquet_source(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The parquet files under ``path`` as a stream. ``max_files_per_trigger``
    paces ingest to N files per micro-batch (files ordered by
    modification time), which makes arrival order real for the
    order-sensitive stateful operators."""
    reader = spark.readStream.schema(spark.read.parquet(path).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def run_to_parquet(
    frame: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """Append ``frame`` to the parquet table at ``out_path`` (partitioned
    by ``partition_by``), run it to completion, and return the table
    read back with ``frame.schema``, partition columns last as a
    partitioned parquet read orders them."""
    writer = frame.writeStream.format("parquet").option("path", out_path)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    _run(writer, checkpoint_dir)
    schema = StructType(
        [f for f in frame.schema if f.name not in partition_by]
        + [frame.schema[c] for c in partition_by]
    )
    return frame.sparkSession.read.schema(schema).parquet(out_path)


def run_foreach(
    frame: DataFrame,
    emit: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> None:
    """Run ``frame`` to completion with ``emit`` as the foreachBatch body."""
    _run(frame.writeStream.foreachBatch(emit), checkpoint_dir)


def write_batch_partition(df: DataFrame, out_path: str, batch_id: int) -> None:
    """Idempotent per-batch write: the batch_id IS the partition dir."""
    df.write.mode("overwrite").parquet(
        os.path.join(out_path, f"batch_id={batch_id}")
    )


def run_partitioned_foreach_stream(
    spark: SparkSession,
    stream: DataFrame,
    emit: Callable[[DataFrame, int], None],
    out_path: str,
    checkpoint_dir: str,
    out_schema: str,
) -> DataFrame:
    """Run ``stream`` with ``emit`` as the foreachBatch body, then read
    the accumulated partitioned output back (:func:`read_batch_partitions`)."""
    run_foreach(stream, emit, checkpoint_dir)
    return read_batch_partitions(spark, out_path, out_schema)


def read_batch_partitions(
    spark: SparkSession, out_path: str, out_schema: str
) -> DataFrame:
    """The ``batch_id=<N>`` partitions under ``out_path`` with an
    explicit schema. A source that produced ZERO batches leaves no
    out_path at all — returns an empty frame of the declared schema
    instead of a read crash."""
    if not os.path.isdir(out_path):
        return spark.createDataFrame([], out_schema)
    return spark.read.schema(out_schema).parquet(out_path)
