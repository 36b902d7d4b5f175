"""Table sinks: partitioned append, overwrite-fallback, MERGE-style
upsert, catalog registration, JDBC, webhook alerts.

Re-expresses the reference's sink surface on plain parquet (Delta is
not available in this environment; the call sites are annotated with
the Delta equivalent so swapping ``format("parquet")`` for
``format("delta")`` restores the reference's exact behavior):

- S7  partitioned streaming/batch append        (streaming_job.py:98-115)
- S8  append with schema-conflict overwrite     (silver_job.py:201-227)
- S9  plain append                              (gold_job.py:95-222)
- S10 catalog registration                      (register_tables_to_hive.py:44-89)
- S11 upsert on key                             (main.py:134-145; Delta MERGE)
- S12 webhook alert sink                        (realtime_prediction_job.py:115-209)
- S6  JDBC sink                                 (producer.py:137-186)

Scale notes: appends are append-only file commits (no read-side).
The partitioned upsert stages its rows in a dot-prefixed directory
inside the table, probes the touched partitions' key column for
conflicts, and commits an insert-only batch by renaming the staged
files into place; only a batch that updates existing keys rewrites
the partitions it touches, because vanilla parquet has no transaction
log — on Delta this is a real MERGE INTO keyed join, shuffling only
on the merge key with dynamic file pruning. A crash partway through
a rename commit leaves some files published and the rest in the
stage, which Spark readers do not list; replaying the same rows
repairs it (``upsert_by_key``).
"""

from __future__ import annotations

import errno
import json
import os
import re
import shutil
import urllib.request
import uuid
from collections.abc import Callable
from typing import NamedTuple

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType


def append_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """S7/S9: partitioned append (Delta: .format('delta'))."""
    df.write.mode("append").partitionBy(*partition_cols).parquet(path)


def _schema_key(schema, partition_cols: list[str] | None) -> list[tuple[str, str]]:
    """Order-insensitive (name, type) fingerprint. Partition columns
    compare by name only: the directory-encoding round-trip legally
    changes their position and inferred type."""
    pset = set(partition_cols or [])
    return sorted(
        (f.name, "PARTITION" if f.name in pset else f.dataType.simpleString())
        for f in schema.fields
    )


def append_with_schema_fallback(df: DataFrame, path: str, partition_cols: list[str] | None = None) -> str:
    """S8: append; on schema conflict, overwrite with the new schema
    (silver_job.py:201-227 semantics). Returns the mode used.

    Vanilla parquet append does NOT raise on a schema conflict — it
    silently commits files with the new schema and the divergence only
    surfaces at read time — so the conflict must be detected up front
    by comparing against the existing table's read schema. (On Delta
    the append itself raises AnalysisException and
    ``overwriteSchema=true`` handles it.)
    """
    try:
        existing = df.sparkSession.read.parquet(path).schema
    except AnalysisException:
        existing = None  # no table yet → plain append creates it
        # (narrowed: a transient IO failure must raise, not masquerade
        # as a fresh table and skip conflict detection)
    mode = "append"
    if existing is not None and _schema_key(existing, partition_cols) != _schema_key(
        df.schema, partition_cols
    ):
        mode = "overwrite"
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)
    return mode


def upsert_by_key(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key: str,
    partition_col: str | None = None,
) -> None:
    """S11: MERGE-style upsert keyed on ``key`` — update matched rows,
    insert new ones (INSERT ... ON CONFLICT DO UPDATE semantics,
    main.py:134-145). On Delta:
    DeltaTable.merge().whenMatchedUpdateAll().whenNotMatchedInsertAll().

    With ``partition_col`` (the scale path), stage then commit:

    - Stage: the updates are written once, partitioned, into a
      dot-prefixed ``.stage-<uuid>`` directory inside the table, which
      Spark's file index does not list. Its ``col=value`` directory
      names are Spark's own rendering of the touched partitions, so
      they name the existing partition directories directly.
    - Probe: the key column of the existing touched directories only
      (read with an explicit schema, so no footer inference) is
      left-semi joined with the broadcast staged keys.
    - No overlap (an insert-only batch): each staged data file is
      moved into its partition directory with ``os.rename``, and the
      stage is removed. No existing row is read beyond its key, and no
      existing file is rewritten: a batch costs O(batch) writes plus
      the key probe, not O(day).
    - Overlap: the touched directories are read in full, the updated
      keys anti-joined out, the staged rows unioned in, and only those
      partitions rewritten by dynamic partition overwrite. Untouched
      partitions are never read or rewritten.

    A timestamp ``partition_col`` merges against the whole table
    instead, because its directory name depends on the session time
    zone. Without ``partition_col``: full-table rewrite (kept for small
    unpartitioned tables; scale-weak).

    CONTRACT (partition-scoped path): a key's ``partition_col`` value is
    immutable — keys are probed and anti-joined only within the
    partitions the updates touch, so an update that MOVED a key to a
    different partition would leave the stale row alive in the old
    partition. This holds for the lakehouse tables by construction
    (``score_date`` is derived from the immutable ``trans_timestamp``;
    dim tables key on the partition value itself). For mutable
    partition columns, pass ``partition_col=None`` (full-table merge)
    or use Delta MERGE.

    CONCURRENCY (partition-scoped path): writers touching DISJOINT
    partitions compose — each writer stages in its own directory, and
    probes, reads, renames into and rewrites ONLY its own partition
    directories (never a scan of the table root, so a concurrent
    writer's commit in another partition can't break this writer's
    read). Disjointness is the caller's contract; same-partition
    concurrent writers need a real transaction log (Delta). Exercised
    in tests/test_sinks_incremental.py.

    Fault tolerance: each rename is atomic, the commit as a whole is
    not. A crash partway through it leaves some staged files published
    and the rest, with the stage, invisible to Spark readers (a glob
    that descends into dot-directories would see them); a replay of the
    same rows (a streaming batch re-run from its checkpoint) then finds
    the published keys, takes the overlap path and leaves one row per
    key. The old stage directory stays behind as invisible debris. On
    the overlap path the merged slice is materialized via eager
    localCheckpoint before the overwrite so the rewrite can't consume
    its own output, but checkpoint blocks live on executors — an
    executor loss mid-overwrite can lose both lineage and originals.
    Single-process local mode is safe; on a real cluster use the Delta
    MERGE (transaction-logged) instead of this emulation.
    """
    stage = _stage(spark, updates, path, partition_col)
    if stage is None:
        existing = _read_table(spark, path)
    else:
        updates, existing = stage.rows, stage.existing
        if existing is not None and existing.join(
            F.broadcast(updates.select(key)), key, "left_semi"
        ).isEmpty():
            existing = None  # insert-only: no existing row changes
    _commit(stage, updates, path, key, partition_col, existing)


class _Stage(NamedTuple):
    root: str  # the dot-prefixed stage directory inside the table
    parts: list[str]  # its ``col=value`` directory names
    rows: DataFrame  # the staged updates
    existing: DataFrame | None  # the table's directories among ``parts``


def _stage(
    spark: SparkSession, updates: DataFrame, path: str, partition_col: str | None
) -> _Stage | None:
    """Write ``updates`` partitioned on ``partition_col`` into a new
    ``.stage-<uuid>`` directory inside the table at ``path``, or return
    ``None`` when the upsert must merge against the whole table: no
    partition column, or a timestamp one (its directory name depends
    on the session time zone). The decision reads the schema only.

    Both the staged rows and the existing touched directories are read
    with the updates' schema, so neither read infers it from footers;
    ``basePath`` keeps the partition column of the directories."""
    if partition_col is None or isinstance(
        updates.schema[partition_col].dataType, (TimestampType, TimestampNTZType)
    ):
        return None
    root = os.path.join(path, f".stage-{uuid.uuid4().hex}")
    updates.write.partitionBy(partition_col).parquet(root)
    parts = [n for n in os.listdir(root) if n.startswith(f"{partition_col}=")]
    dirs = [os.path.join(path, n) for n in parts if os.path.isdir(os.path.join(path, n))]
    rows = spark.read.schema(updates.schema).parquet(root).select(*updates.columns)
    existing = (
        spark.read.schema(updates.schema).option("basePath", path).parquet(*dirs)
        if dirs
        else None
    )
    return _Stage(root, parts, rows, existing)


def _commit(
    stage: _Stage | None,
    updates: DataFrame,
    path: str,
    key: str,
    partition_col: str | None,
    existing: DataFrame | None,
) -> None:
    """Apply ``updates`` to the table: with a stage and nothing to merge
    against, move each staged data file into its partition directory
    (the checksum files go with the stage); otherwise :func:`_merge`.
    The stage is removed only after the commit succeeded."""
    if stage is not None and existing is None:
        for part in stage.parts:
            src, dst = os.path.join(stage.root, part), os.path.join(path, part)
            os.makedirs(dst, exist_ok=True)
            for name in os.listdir(src):
                if not name.startswith((".", "_")):
                    os.rename(os.path.join(src, name), os.path.join(dst, name))
    else:
        _merge(updates, path, key, partition_col, existing)
    if stage is not None:
        shutil.rmtree(stage.root)


def _read_table(spark: SparkSession, path: str) -> DataFrame | None:
    """The whole table at ``path``, or ``None`` when there is none yet."""
    try:
        return spark.read.parquet(path)
    except AnalysisException:  # only "no table yet"
        return None


def _merge(
    updates: DataFrame,
    path: str,
    key: str,
    partition_col: str | None,
    existing: DataFrame | None,
) -> None:
    """Write ``existing`` minus the updated keys, plus ``updates``, over
    ``path`` — with ``partition_col``, as a dynamic overwrite of only
    the partitions the rows land in."""
    if existing is None:
        # the update IS the (partition) content
        merged = updates
    else:
        keys = updates.select(key).distinct()
        kept = existing.join(F.broadcast(keys), key, "left_anti")
        # materialize BEFORE overwriting the files being read —
        # localCheckpoint(eager) cuts lineage to stored blocks, so the
        # rewrite can't consume its own output (cache() could still
        # evict and recompute from the overwritten files)
        merged = kept.unionByName(updates.select(*kept.columns)).localCheckpoint(
            eager=True
        )
    writer = merged.write.mode("overwrite")
    if partition_col is not None:
        writer = writer.option("partitionOverwriteMode", "dynamic").partitionBy(
            partition_col
        )
    writer.parquet(path)


def register_table(
    spark: SparkSession, df: DataFrame, name: str, path: str | None = None
) -> None:
    """S10: make a table SQL-visible. With a path: external-location
    style registration (CREATE TABLE ... USING parquet LOCATION);
    without: a temp view (metadata-only, the single-engine analog of
    the reference's Hive Metastore registration)."""
    if path is not None:
        df.write.mode("overwrite").parquet(path)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(f"CREATE TABLE {name} USING parquet LOCATION '{path}'")
    else:
        df.createOrReplaceTempView(name)


#: JDBC driver on Spark's own classpath (ships for the Hive
#: metastore) — lets the sink round-trip against an embedded DB with
#: no external service.
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", **options) -> None:
    """S6: JDBC sink (producer.py bulk-insert analog). Exercised
    end-to-end against embedded Derby (DERBY_DRIVER, already on
    Spark's classpath) in tests/test_sinks_incremental.py —
    overwrite, append, and read-back round-trip. Scale: Spark's JDBC
    writer inserts per-partition with batched statements; size
    ``numPartitions``/``batchsize`` to the target DB's ingest
    capacity (the usual JDBC-sink bottleneck is the DB, not Spark)."""
    df.write.mode(mode).options(**options).jdbc(url, table)


def read_jdbc(spark: SparkSession, url: str, table: str, **options) -> DataFrame:
    """JDBC read-back twin of :func:`write_jdbc`; at scale pass
    ``partitionColumn``/``lowerBound``/``upperBound``/``numPartitions``
    for a parallel range-partitioned read instead of one connection."""
    return spark.read.options(**options).jdbc(url, table)


def post_webhook(payload: dict, url: str, transport: Callable[[str, bytes], int] | None = None) -> int:
    """S12 transport: POST one JSON alert. ``transport`` is injectable
    so tests (and air-gapped runs) capture instead of POSTing."""
    body = json.dumps(payload).encode()
    if transport is not None:
        return transport(url, body)
    req = urllib.request.Request(
        url, data=body, headers={"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(req, timeout=5) as resp:  # noqa: S310
        return resp.status


def alert_sink(
    alerts: DataFrame,
    url: str,
    transport: Callable[[str, bytes], int] | None = None,
) -> int:
    """S12: post one block-kit-style alert per fraud row
    (realtime_prediction_job.py:115-209 semantics, engine-side).
    Collects every row (alerts are rare by construction — the stream
    filters to HIGH risk first), so no alert is silently dropped.
    Returns the number posted."""
    rows = alerts.collect()
    for row in rows:
        payload = {
            "text": (
                f"Fraud alert: {row['trans_num']} "
                f"amount=${row['amt']:.2f} risk={row['risk_level']}"
            ),
            "trans_num": row["trans_num"],
            "risk_level": row["risk_level"],
        }
        post_webhook(payload, url, transport)
    return len(rows)


def upsert_with_changelog(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key: str,
    changelog_path: str,
    partition_col: str | None = None,
) -> int:
    """MERGE upsert that also emits a Change Data Feed — the parquet
    analog of Delta's ``delta.enableChangeDataFeed`` on a MERGE
    (reference silver job's Delta surface, docs/DEVELOPER_GUIDE.md
    Delta notes). Returns the commit version written.

    Change rows carry the table schema plus ``_change_type``
    ('insert' | 'update_preimage' | 'update_postimage' — Delta's own
    vocabulary) and ``_commit_version`` (monotonic per upsert call).
    Downstream incremental consumers read ONLY the changelog
    (``read_changes``) instead of diffing snapshots — at 100 TB the
    difference between scanning a delta of a micro-batch and scanning
    two full table versions.

    Scale notes: change rows are computed with one broadcast-key join
    against the existing slice — with ``partition_col``, only the
    partitions the updates touch, found through the same stage as
    :func:`upsert_by_key` (a batch that touches no existing partition
    is committed by rename); each commit
    is its own ``_commit_version=N`` directory so version range reads
    prune directories, and version discovery is one directory listing
    (not a changelog scan).

    Commit protocol (same as ``sources.snapshots``): the change rows
    are staged into a dot-prefixed directory (invisible to Spark's
    file index), then published with one atomic ``os.rename`` to
    ``_commit_version=N`` — the rename fails if N exists, so racing
    writers serialize and a reader can never observe a partially
    written commit. A crash before the rename leaves only invisible
    stage debris. The table upsert happens AFTER the changelog commit;
    a crash between the two means the changelog leads the table until
    the upsert is retried — consumers see at-least-once change
    delivery, never a torn commit (the same ordering Delta's log
    resolves with a single unified commit, which plain parquet cannot
    express).
    """
    stage = _stage(spark, updates, path, partition_col)
    if stage is None:
        existing = _read_table(spark, path)
    else:
        updates, existing = stage.rows, stage.existing
    cols = updates.columns
    if existing is None:
        changes = updates.withColumn("_change_type", F.lit("insert"))
    else:
        keys = existing.select(key).distinct()
        inserts = updates.join(F.broadcast(keys), key, "left_anti").withColumn(
            "_change_type", F.lit("insert")
        )
        upd_keys = updates.select(key).distinct()
        pre = (
            existing.join(F.broadcast(upd_keys), key, "left_semi")
            .select(*cols)
            .withColumn("_change_type", F.lit("update_preimage"))
        )
        post = updates.join(F.broadcast(keys), key, "left_semi").withColumn(
            "_change_type", F.lit("update_postimage")
        )
        changes = inserts.unionByName(pre).unionByName(post)
    version = _commit_changelog(changes, changelog_path)
    _commit(stage, updates, path, key, partition_col, existing)
    return version


_CHANGELOG_V_RE = re.compile(r"^_commit_version=(\d+)$")


def _commit_changelog(changes: DataFrame, changelog_path: str) -> int:
    """Stage change rows, then publish them as ``_commit_version=N``
    with one atomic rename (the commit point). Returns N. The layout
    is identical to a ``partitionBy("_commit_version")`` append, so
    readers get the version back as a partition column — but no
    reader can ever list a half-written commit."""
    os.makedirs(changelog_path, exist_ok=True)
    stage = os.path.join(changelog_path, f".stage-{uuid.uuid4().hex}")
    changes.write.mode("errorifexists").parquet(stage)
    for _ in range(10_000):  # bounded: a claim race loses ≤ once per rival commit
        taken = [
            int(m.group(1))
            for name in os.listdir(changelog_path)
            if (m := _CHANGELOG_V_RE.match(name))
        ]
        version = (max(taken) + 1) if taken else 1
        try:
            os.rename(stage, os.path.join(changelog_path, f"_commit_version={version}"))
            return version
        except OSError as exc:
            # only the claim-race errors mean "retry with next N";
            # anything else (EACCES, EROFS, EXDEV, ...) is a real
            # failure and must surface, not busy-loop
            if exc.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                raise
            continue
    raise RuntimeError(f"could not claim a changelog version at {changelog_path}")


def read_changes(
    spark: SparkSession, changelog_path: str, starting_version: int = 1
) -> DataFrame:
    """CDF reader: change rows with ``_commit_version >=
    starting_version`` (Delta's ``readChangeFeed`` +
    ``startingVersion``). The version filter prunes changelog
    directories — an incremental consumer never scans history it has
    already applied."""
    return spark.read.parquet(changelog_path).filter(
        F.col("_commit_version") >= F.lit(starting_version)
    )
