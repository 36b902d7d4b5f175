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
Every in-place rewrite of an existing table — the upsert here,
``maintenance.compact_partitions``, ``plans.incremental``'s aggregate
refresh and backfill — goes through one stage-and-swap commit:
:func:`stage_write` writes the new rows into a dot-prefixed stage
inside the table, which Spark readers do not list, and
:func:`swap_in` moves the replaced files into the stage, the staged
files into place, and then removes the stage, so no file is deleted
before its replacement is published. The upsert probes the touched
partitions' key column for conflicts: an insert-only batch only adds
files; a batch that updates existing keys rewrites the partitions it
touches, because vanilla parquet has no transaction log — on Delta
this is a real MERGE INTO keyed join, shuffling only on the merge key
with dynamic file pruning. A crash partway through a swap leaves rows
in the stage rather than losing them; replaying the same rows repairs
an insert-only commit (``upsert_by_key``, ``swap_in``).
"""

from __future__ import annotations

import errno
import json
import os
import re
import shutil
import urllib.request
import uuid
from collections.abc import Callable, Iterable
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

    Stage, probe, swap (:func:`stage_write`, :func:`swap_in`):

    - Stage: the updates are written once, partitioned on
      ``partition_col``, into a stage inside the table. Its
      ``col=value`` directory names are Spark's own rendering of the
      touched partitions, so they name the table's directories.
    - Probe: only the table's touched directories (explicit schema, no
      footer inference) are left-semi joined with the broadcast keys.
    - No overlap (an insert-only batch): the staged files are moved
      into place. No existing row is read beyond its key, and no
      existing file is rewritten: O(batch) writes plus the probe.
    - Overlap: the directories read, minus the updated keys, plus the
      staged rows, are staged again and swapped in over them.
      Untouched partitions are never read or rewritten.

    Without ``partition_col``, or with a timestamp one (its directory
    name depends on the session time zone), the same steps read and
    replace every partition directory, not just the staged ones.

    CONTRACT (partition-scoped path): a key's ``partition_col`` value is
    immutable — keys are probed and anti-joined only within the
    partitions the updates touch, so an update that MOVED a key to a
    different partition would leave the stale row alive in the old
    partition. This holds for the lakehouse tables by construction
    (``score_date`` is derived from the immutable ``trans_timestamp``;
    dim tables key on the partition value itself). For mutable
    partition columns use Delta MERGE.

    CONCURRENCY (partition-scoped path): writers touching DISJOINT
    partitions compose — each writer stages in its own directory, and
    probes, reads, and swaps files into and out of ONLY its own
    partition directories (never a scan of the table root, so a
    concurrent writer's commit in another partition can't break this
    writer's read). Disjointness is the caller's contract;
    same-partition concurrent writers need a real transaction log
    (Delta). Exercised in tests/test_sinks_incremental.py.

    Fault tolerance: no row leaves the disk before its replacement is
    published; the crash windows are those of :func:`swap_in`. After a
    crash partway through an insert-only swap, a replay of the same
    rows (a streaming batch re-run from its checkpoint) finds the
    published keys, takes the overlap path and leaves one row per key;
    the old stage stays behind as debris Spark readers do not list.
    """
    up = _stage_upsert(spark, updates, path, partition_col)
    if up.existing is not None and up.existing.join(
        F.broadcast(up.rows.select(key)), key, "left_semi"
    ).isEmpty():
        up = up._replace(existing=None)  # insert-only: no existing row changes
    _commit(up, path, key)


#: Name prefix of every stage directory: dot-prefixed, so Spark's file
#: index never lists it.
STAGE_PREFIX = ".stage-"


class Stage(NamedTuple):
    root: str  # the stage directory inside the table
    parts: list[str]  # its partition directories, relative ("" if unpartitioned)


def stage_write(df: DataFrame, path: str, partition_cols: list[str]) -> Stage:
    """Write ``df``, partitioned on ``partition_cols``, into a new stage
    directory inside the table at ``path``; return it with its
    partition directories, which are Spark's own rendering of the
    values (escaped, ``__HIVE_DEFAULT_PARTITION__`` for NULL) and so
    name the table's directories for the same values."""
    root = os.path.join(path, f"{STAGE_PREFIX}{uuid.uuid4().hex}")
    df.write.partitionBy(*partition_cols).parquet(root)
    return Stage(root, _partition_dirs(root, partition_cols))


def swap_in(stage: Stage, path: str, replace: Iterable[str]) -> None:
    """Publish ``stage`` into the table at ``path`` in place of the data
    files of the table directories ``replace`` (relative, like
    ``stage.parts``): first each replaced file is moved into the stage,
    then each staged file into its table directory, then the stage is
    removed. No file is deleted before the new files are in place.
    Every move is one atomic ``os.rename``; the swap as a whole is not.

    Crash windows. Between retiring the old files and publishing the
    new ones, the replaced directories are short for readers: their old
    files sit in the stage's hidden ``.retired`` directory and the new
    ones in the stage, so no row is lost from disk (Spark's dynamic
    partition overwrite, which this replaces, deleted them outright).
    A crash during publishing leaves some new files in place and the
    rest in the stage. Nothing repairs either state automatically and
    only a finished swap removes its stage: retired files can be moved
    back by hand, and a replay of the same rows repairs a crash while
    publishing an insert-only upsert (:func:`upsert_by_key`).
    """
    retired = os.path.join(stage.root, ".retired")
    for part in replace:
        _move_data_files(os.path.join(path, part), os.path.join(retired, part))
    for part in stage.parts:
        _move_data_files(os.path.join(stage.root, part), os.path.join(path, part))
    shutil.rmtree(stage.root)


def _data_files(directory: str) -> list[str]:
    """Names in ``directory`` (none if it is missing) but Spark's hidden
    ``.``/``_`` ones: checksums, markers and stages."""
    try:
        return [n for n in os.listdir(directory) if not n.startswith((".", "_"))]
    except FileNotFoundError:
        return []


def _move_data_files(src: str, dst: str) -> None:
    names = _data_files(src)
    if names:
        os.makedirs(dst, exist_ok=True)
    for name in names:
        os.rename(os.path.join(src, name), os.path.join(dst, name))


def _partition_dirs(root: str, partition_cols: list[str]) -> list[str]:
    """The ``col=value`` directories under ``root``, one level per
    partition column, relative to it ("" for no partition column)."""
    dirs = [""]
    for col in partition_cols:
        dirs = [
            os.path.join(d, n)
            for d in dirs
            for n in os.listdir(os.path.join(root, d))
            if n.startswith(f"{col}=")
        ]
    return dirs


class _Upsert(NamedTuple):
    stage: Stage  # the staged updates
    rows: DataFrame  # the staged updates, read back
    existing: DataFrame | None  # the table directories ``read``
    read: list[str]  # the table directories that hold data among those probed
    cols: list[str]  # the partition columns


def _stage_upsert(
    spark: SparkSession, updates: DataFrame, path: str, partition_col: str | None
) -> _Upsert:
    """Stage ``updates`` in the table at ``path``; read it back and the
    table directories the upsert merges against (see :func:`upsert_by_key`),
    both with the updates' schema, so neither read infers it from footers.
    The staged rows are read by their data files, under the stage as base
    path: Spark ignores a dot-prefixed root path (with a warning)."""
    cols = [partition_col] if partition_col is not None else []
    stage = stage_write(updates, path, cols)
    staged = [
        os.path.join(stage.root, part, name)
        for part in stage.parts
        for name in _data_files(os.path.join(stage.root, part))
    ]
    rows = (
        spark.read.schema(updates.schema)
        .option("basePath", stage.root)
        .parquet(*staged)
        .select(*updates.columns)
    )
    whole_table = not cols or isinstance(
        updates.schema[partition_col].dataType, (TimestampType, TimestampNTZType)
    )
    probed = _partition_dirs(path, cols) if whole_table else stage.parts
    read = [p for p in probed if _data_files(os.path.join(path, p))]
    existing = (
        spark.read.schema(updates.schema)
        .option("basePath", path)
        .parquet(*(os.path.join(path, p) for p in read))
        if read
        else None
    )
    return _Upsert(stage, rows, existing, read, cols)


def _commit(up: _Upsert, path: str, key: str) -> None:
    """With nothing to merge against, swap the staged updates in as
    they are, replacing nothing. Otherwise stage ``existing`` minus the
    updated keys plus the staged rows, swap that in over the
    directories read, and only then remove the updates' stage."""
    if up.existing is None:
        swap_in(up.stage, path, [])
    else:
        keys = F.broadcast(up.rows.select(key).distinct())
        kept = up.existing.join(keys, key, "left_anti")
        merged = stage_write(kept.unionByName(up.rows.select(*kept.columns)), path, up.cols)
        swap_in(merged, path, up.read)
        shutil.rmtree(up.stage.root)


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
    partitions the updates touch, found and committed through the same
    stage and swap as :func:`upsert_by_key` (a batch that touches no
    existing partition only adds files); each commit
    is its own ``_commit_version=N`` directory so version range reads
    prune directories, and version discovery is one directory listing
    (not a changelog scan).

    Commit protocol (same as ``sources.snapshots``): the change rows
    are staged by :func:`stage_write` (invisible to Spark's file
    index), then published with one atomic ``os.rename`` to
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
    up = _stage_upsert(spark, updates, path, partition_col)
    updates, existing = up.rows, up.existing
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
    _commit(up, path, key)
    return version


_CHANGELOG_V_RE = re.compile(r"^_commit_version=(\d+)$")


def _commit_changelog(changes: DataFrame, changelog_path: str) -> int:
    """Stage change rows, then publish them as ``_commit_version=N``
    with one atomic rename (the commit point). Returns N. The layout
    is identical to a ``partitionBy("_commit_version")`` append, so
    readers get the version back as a partition column — but no
    reader can ever list a half-written commit."""
    stage = stage_write(changes, changelog_path, []).root
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
