"""Table maintenance: small-file compaction for hive-partitioned
parquet tables — the vanilla-parquet analog of Delta ``OPTIMIZE``
(reference `docs/DEVELOPER_GUIDE.md:1038-1054`) and a Z-order
clustered write — the parquet analog of Delta ``OPTIMIZE ZORDER``
(min/max footer stats do the data skipping a Delta log would).
VACUUM and time travel live in sources/snapshots.py (immutable
version directories make "which files are dead" decidable); bloom
filters (write_with_bloom) cover point-lookup skipping where min/max
stats cannot.

Why this matters at 100 TB: a partitioned write from a T-task stage
fans out into up to T files *per hive partition* (every task holds a
sliver of every partition). Readers then pay per-file open/footer
costs and the driver pays listing costs; at thousands of partitions ×
hundreds of tasks that is millions of files.

Two tools:

- ``write_partitioned_compact`` — prevention: REBALANCE-hint the
  partition columns before the write, so AQE shuffles each hive
  partition's rows into ~one right-sized task (coalescing tiny
  partitions, splitting skewed ones) and the write emits ~1 file per
  partition instead of tasks × partitions.
- ``compact_partitions`` — cure: read only the partitions whose file
  count exceeds a threshold, by path and with the table's schema, and
  rewrite them through the stage-and-swap commit every in-place
  rewrite uses (``sinks.stage_write`` / ``sinks.swap_in``); untouched
  partitions are never read or rewritten, and any partition value
  Spark can write (escaped, NULL) is compacted in place.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_fraud_detection_lakehouse_spark.sources.sinks import stage_write, swap_in


def write_partitioned_compact(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Partitioned write without small-file fan-out (see module doc)."""
    (
        df.hint("rebalance", *partition_cols)
        .write.mode(mode)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def partition_file_counts(path: str, partition_cols: list[str]) -> dict[str, int]:
    """{relative partition dir → parquet file count}. Local-FS listing;
    on object storage this becomes a parallel FS listing (or a Delta
    log scan, which makes it free)."""
    depth = "/".join("*" for _ in partition_cols)
    counts: dict[str, int] = {}
    for part_dir in glob.glob(os.path.join(path, depth)):
        files = glob.glob(os.path.join(part_dir, "*.parquet"))
        if files:
            counts[os.path.relpath(part_dir, path)] = len(files)
    return counts


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    max_files_per_partition: int = 1,
) -> dict[str, int]:
    """Rewrite partitions holding more than ``max_files_per_partition``
    parquet files into AQE-right-sized files; leave the rest untouched.
    Returns {partition dir → file count before} for the rewritten set.
    """
    before = partition_file_counts(path, partition_cols)
    crowded = {p: n for p, n in before.items() if n > max_files_per_partition}
    if not crowded:
        return {}
    schema = spark.read.parquet(path).schema
    slice_df = (
        spark.read.schema(schema)
        .option("basePath", path)
        .parquet(*(os.path.join(path, rel) for rel in crowded))
    )
    stage = stage_write(slice_df.hint("rebalance", *partition_cols), path, partition_cols)
    swap_in(stage, path, crowded)
    return crowded


# --- Z-order clustered write (Delta OPTIMIZE ZORDER analog) -----------------
Z_BITS = 16  # per-column bucket resolution (2 cols -> 32-bit z-values)


def zorder_column(
    df: DataFrame, cols: list[str], bits: int = Z_BITS, equi_depth: bool = False
):
    """Morton (Z-order) value over ``cols`` as a pure column expression.

    Each column is bucketed to ``bits`` bits, then the bucket bits are
    interleaved so rows close in EVERY dimension get close z-values.

    Bucketing strategies:
    - default: min-max linear (one tiny agg for the bounds — two
      scalars per column). Right for roughly uniform values.
    - ``equi_depth=True``: approxQuantile boundaries (equi-depth
      buckets, Delta's own ZORDER strategy). Right for skewed columns,
      where min-max would dump most rows into one bucket and the
      z-curve degenerates to a single-column sort. Mapping is a
      boundary-array rank (``size(filter(boundaries, b -> b <= x))``)
      — vectorized JVM higher-order function, no UDF; use ≤8 bits so
      the boundary array stays ≤256 entries per column.
    """
    z = F.lit(0).cast("long")
    n = len(cols)
    top = (1 << bits) - 1
    if equi_depth:
        probs = [i / (top + 1) for i in range(1, top + 1)]
        all_bnds = df.approxQuantile(cols, probs, 0.001)
        for i, c in enumerate(cols):
            bnds = F.array(*[F.lit(b) for b in all_bnds[i]])
            bucket = F.size(F.filter(bnds, lambda b: b <= F.col(c))).cast("long")
            for b in range(bits):
                bit = F.shiftright(bucket, b).bitwiseAND(F.lit(1))
                z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
        return z
    bounds = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).first()
    for i, c in enumerate(cols):
        mn, mx = bounds[f"mn_{c}"], bounds[f"mx_{c}"]
        span = (mx - mn) or 1
        bucket = F.least(
            F.lit(top),
            ((F.col(c) - F.lit(mn)) * top / F.lit(span)).cast("long"),
        )
        for b in range(bits):
            bit = F.shiftright(bucket, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 8,
    equi_depth: bool = False,
) -> None:
    """Z-order clustered write — the vanilla-parquet analog of Delta
    ``OPTIMIZE ... ZORDER BY (cols)``.

    Rows are range-partitioned and sorted by their interleaved-bit
    z-value, so each output file covers a tight hyper-rectangle in
    ALL ``cols`` at once and parquet min/max footer stats become
    selective for conjunctive point/range predicates on any subset of
    them — single-column sorting only achieves that for a prefix
    column. Readers (Spark parquet scans, and any engine that does
    row-group skipping) then prune most files without opening them.
    At 100 TB this is the difference between a needle query touching
    ~1/files and touching all of them. Data-skipping win is asserted
    quantitatively in tests/test_maintenance.py.
    """
    bits = 8 if equi_depth else Z_BITS  # bounded boundary arrays
    zdf = df.withColumn("_z", zorder_column(df, cols, bits=bits, equi_depth=equi_depth))
    (
        zdf.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_with_bloom(
    df: DataFrame, path: str, bloom_cols: list[str], ndv: int = 1_000_000
) -> None:
    """Parquet write with per-column bloom filters — footer-level
    point-lookup skipping for high-cardinality columns where min/max
    stats are useless (uuid-like keys such as trans_num: every file's
    [min,max] spans the whole keyspace, so range stats prune nothing,
    but a bloom filter answers "definitely not in this row group" in
    one footer read).

    This is the lookup-side complement of :func:`write_zordered`:
    z-order serves range/box predicates on low-cardinality-ish dims;
    blooms serve needle-in-haystack equality on keys. Delta/Iceberg
    expose the same via their table properties; vanilla parquet has
    supported it since format 2.9 — Spark just needs the options.
    """
    writer = df.write.mode("overwrite")
    for c in bloom_cols:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true").option(
            f"parquet.bloom.filter.expected.ndv#{c}", str(ndv)
        )
    writer.parquet(path)
