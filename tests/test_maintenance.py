"""Small-file compaction maintenance job (vanilla-parquet OPTIMIZE)."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_fraud_detection_lakehouse_spark.sources.maintenance import (
    compact_partitions,
    partition_file_counts,
    write_partitioned_compact,
)
from tests.test_sinks_incremental import _partition_files


def _fragmented_table(spark, path: str) -> None:
    df = spark.range(3000).select(
        F.col("id"), (F.col("id") % 3).alias("p"), (F.col("id") * 2).alias("v")
    )
    # 8 tasks × 3 hive partitions → 8 files per partition (the fan-out
    # write_partitioned_compact exists to prevent)
    df.repartition(8).write.mode("overwrite").partitionBy("p").parquet(path)


def test_compact_partitions_rewrites_only_crowded(spark, tmp_path):
    path = str(tmp_path / "t")
    _fragmented_table(spark, path)
    # plant one already-compact partition that must stay byte-identical
    extra = spark.range(10).select(
        (F.col("id") + 90000).alias("id"), F.lit(9).alias("p"), F.lit(0).cast("long").alias("v")
    )
    extra.coalesce(1).write.mode("append").partitionBy("p").parquet(path)

    before_counts = partition_file_counts(path, ["p"])
    assert before_counts["p=9"] == 1
    assert all(n > 1 for part, n in before_counts.items() if part != "p=9")
    rows_before = sorted(map(tuple, spark.read.parquet(path).collect()))
    untouched_before = _partition_files(path, "p=9")

    rewritten = compact_partitions(spark, path, ["p"], max_files_per_partition=1)
    assert set(rewritten) == set(before_counts) - {"p=9"}

    after_counts = partition_file_counts(path, ["p"])
    assert all(n == 1 for n in after_counts.values()), after_counts
    assert _partition_files(path, "p=9") == untouched_before
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == rows_before
    # idempotent: nothing left to compact
    assert compact_partitions(spark, path, ["p"], max_files_per_partition=1) == {}


def test_compact_partitions_escaped_and_null_partitions(spark, tmp_path):
    """Partition values Spark escapes on disk (``a:b`` → ``p=a%3Ab``)
    and NULL (``__HIVE_DEFAULT_PARTITION__``) are compacted like any
    other: every partition the call reports ends with one file, and the
    rows are unchanged. Matching values by their directory name as a
    string skipped both while still reporting them."""
    path = str(tmp_path / "t")
    for i in range(3):
        spark.createDataFrame(
            [(i * 3, "a:b"), (i * 3 + 1, "plain"), (i * 3 + 2, None)], "id int, p string"
        ).coalesce(1).write.mode("append").partitionBy("p").parquet(path)
    rows_before = sorted(map(tuple, spark.read.parquet(path).collect()), key=str)

    rewritten = compact_partitions(spark, path, ["p"], max_files_per_partition=1)
    assert rewritten == {
        "p=a%3Ab": 3,
        "p=plain": 3,
        "p=__HIVE_DEFAULT_PARTITION__": 3,
    }
    after = partition_file_counts(path, ["p"])
    assert {part: after[part] for part in rewritten} == dict.fromkeys(rewritten, 1)
    assert sorted(map(tuple, spark.read.parquet(path).collect()), key=str) == rows_before


def test_write_partitioned_compact_one_file_per_partition(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(3000).select(
        F.col("id"), (F.col("id") % 3).alias("p"), (F.col("id") * 2).alias("v")
    ).repartition(8)
    write_partitioned_compact(df, path, ["p"])
    counts = partition_file_counts(path, ["p"])
    assert set(counts) == {"p=0", "p=1", "p=2"}
    assert all(n == 1 for n in counts.values()), counts
    assert spark.read.parquet(path).count() == 3000


def test_zorder_write_improves_data_skipping(spark, tmp_path):
    """A conjunctive point-range predicate on (l_partkey, l_suppkey)
    must be answerable from a strict subset of z-ordered files (parquet
    footer min/max), while a round-robin layout leaves every file a
    candidate — and z-order must beat single-column sort on the
    NON-prefix dimension."""
    import glob

    import pyarrow.parquet as pq

    from real_time_fraud_detection_lakehouse_spark.core.catalog import table
    from real_time_fraud_detection_lakehouse_spark.sources.maintenance import (
        write_zordered,
    )
    from tests.conftest import SF_SMALL

    li = table(spark, SF_SMALL, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")

    plain, zord = str(tmp_path / "plain"), str(tmp_path / "zord")
    li.repartition(8).write.mode("overwrite").parquet(plain)
    write_zordered(li, zord, ["l_partkey", "l_suppkey"], n_files=8)

    def candidate_files(path, p_lo, p_hi, s_lo, s_hi):
        hits = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            cols = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.row_group(0).num_columns)
            }
            overlaps = False
            for rg in range(md.num_row_groups):
                st_p = md.row_group(rg).column(cols["l_partkey"]).statistics
                st_s = md.row_group(rg).column(cols["l_suppkey"]).statistics
                if (
                    st_p.min <= p_hi
                    and st_p.max >= p_lo
                    and st_s.min <= s_hi
                    and st_s.max >= s_lo
                ):
                    overlaps = True
            hits += overlaps
        return hits

    # a small box in the middle of both key domains
    pk = li.agg(F.expr("percentile_approx(l_partkey, 0.5)")).first()[0]
    sk = li.agg(F.expr("percentile_approx(l_suppkey, 0.5)")).first()[0]
    box = (pk, pk + 2, sk, sk + 0)

    plain_hits = candidate_files(plain, *box)
    z_hits = candidate_files(zord, *box)
    assert plain_hits == len(glob.glob(f"{plain}/*.parquet"))  # no skipping
    assert z_hits < plain_hits  # footer stats prune z-ordered files
    assert z_hits <= plain_hits // 2
    # correctness: the clustered table still returns identical data
    assert (
        spark.read.parquet(zord).orderBy("l_partkey", "l_suppkey", "l_quantity").collect()
        == li.orderBy("l_partkey", "l_suppkey", "l_quantity").collect()
    )


def test_snapshot_time_travel_rollback_vacuum(spark, tmp_path):
    """Versioned snapshot store: VERSION AS OF reads, append-only
    rollback, and retention VACUUM that keeps newest versions readable
    while pinned-old readers fail fast."""
    import pytest

    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import (
        read_snapshot,
        rollback,
        snapshot_write,
        vacuum_snapshots,
    )

    path = str(tmp_path / "snap")
    df1 = spark.createDataFrame([(1, "a")], ["id", "v"])
    df2 = spark.createDataFrame([(1, "b"), (2, "c")], ["id", "v"])
    assert snapshot_write(df1, path) == 1
    assert snapshot_write(df2, path) == 2

    assert read_snapshot(spark, path).count() == 2  # latest = v2
    assert read_snapshot(spark, path, version=1).collect() == df1.collect()

    # rollback appends v3 == v1; v2 still readable (history immutable)
    assert rollback(spark, path, to_version=1) == 3
    assert read_snapshot(spark, path).collect() == df1.collect()
    assert read_snapshot(spark, path, version=2).count() == 2

    assert vacuum_snapshots(path, keep=2) == [1]
    assert read_snapshot(spark, path, version=2).count() == 2
    assert read_snapshot(spark, path).collect() == df1.collect()
    with pytest.raises(ValueError, match="vacuumed"):
        read_snapshot(spark, path, version=1)


def test_multi_table_publish_never_tears(spark, tmp_path):
    """Cross-table manifest commit (round-9 stretch): a reader of the
    table GROUP sees all-old or all-new, never a mix. A publisher
    crashing after SOME per-table writes — or after ALL of them but
    before the manifest — leaves the previous group fully intact;
    after a successful publish both group versions read consistently;
    vacuum keeps only manifest-pinned table versions."""
    import pytest

    from real_time_fraud_detection_lakehouse_spark.sources import snapshots
    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import (
        publish_tables,
        read_published,
        vacuum_published,
    )

    root = str(tmp_path / "gold")

    def group(tag):
        return {
            "fact": spark.createDataFrame([(1, tag), (2, tag)], ["id", "ver"]),
            "dim_a": spark.createDataFrame([(1, tag)], ["k", "ver"]),
            "dim_b": spark.createDataFrame([(9, tag)], ["k", "ver"]),
        }

    def read_tags(g=None):
        frames = read_published(spark, root, group_version=g)
        return {t: {r["ver"] for r in df.collect()} for t, df in frames.items()}

    assert publish_tables(group("old"), root) == 1
    assert read_tags() == {"fact": {"old"}, "dim_a": {"old"}, "dim_b": {"old"}}

    # crash after the FIRST per-table write: every table of the group
    # must still read "old" — the half-written new version is invisible
    real_write = snapshots.snapshot_write
    calls = {"n": 0}

    def crash_after_one(df, path):
        if calls["n"] >= 1:
            raise RuntimeError("publisher died mid-group")
        calls["n"] += 1
        return real_write(df, path)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(snapshots, "snapshot_write", crash_after_one)
        with pytest.raises(RuntimeError, match="died mid-group"):
            publish_tables(group("new"), root)
    assert read_tags() == {"fact": {"old"}, "dim_a": {"old"}, "dim_b": {"old"}}

    # crash after ALL table writes but BEFORE the manifest: same outcome
    def crash_before_manifest(root_, *a, **k):
        raise RuntimeError("died before manifest")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(snapshots, "_manifest_versions", crash_before_manifest)
        with pytest.raises(RuntimeError, match="before manifest"):
            publish_tables(group("new"), root)
    assert read_tags() == {"fact": {"old"}, "dim_a": {"old"}, "dim_b": {"old"}}

    # a successful publish flips EVERY table at once; AS OF still works
    g2 = publish_tables(group("new"), root)
    assert read_tags() == {"fact": {"new"}, "dim_a": {"new"}, "dim_b": {"new"}}
    assert read_tags(1) == {"fact": {"old"}, "dim_a": {"old"}, "dim_b": {"old"}}

    # vacuum to the newest manifest: group 1 gone, group g2 intact —
    # including the orphaned versions the two crashed publishers left
    # and a killed publisher's stray manifest temp file
    import os

    stray = os.path.join(root, "_manifests", ".manifest.deadbeef")
    with open(stray, "w", encoding="utf-8") as fh:
        fh.write("{}")
    assert vacuum_published(root, keep=1) == [1]
    assert not os.path.exists(stray), "orphaned manifest temp file survived vacuum"
    assert read_tags() == {"fact": {"new"}, "dim_a": {"new"}, "dim_b": {"new"}}
    with pytest.raises(ValueError):
        read_published(spark, root, group_version=1)
    # every surviving per-table version is pinned by the one manifest:
    # the crashed publishers' unreferenced versions are gone from disk
    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        _version_dirs,
    )

    pinned = _read_manifest(root, 2)
    for t, v in pinned.items():
        on_disk = [ver for ver, _ in _version_dirs(os.path.join(root, t))]
        assert on_disk == [v], (t, on_disk, v)


def test_publish_history_ledger(spark, tmp_path):
    """publish_history is the DESCRIBE HISTORY analog: one row per
    (group, table, pinned version), every pinned version available;
    vacuum shrinks the ledger to the surviving manifests."""
    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import (
        publish_history,
        publish_tables,
        vacuum_published,
    )

    root = str(tmp_path / "hist")
    for tag in ("a", "b"):
        publish_tables(
            {
                "fact": spark.createDataFrame([(1, tag)], ["id", "ver"]),
                "dim": spark.createDataFrame([(7, tag)], ["k", "ver"]),
            },
            root,
        )
    hist = publish_history(spark, root).collect()
    assert len(hist) == 4  # 2 groups x 2 tables
    assert {r["group_version"] for r in hist} == {1, 2}
    assert all(r["available"] for r in hist)
    # group 2's fact pins version 2 of the fact store (append-only)
    pins = {(r["group_version"], r["table_name"]): r["pinned_version"] for r in hist}
    assert pins[(2, "fact")] == 2 and pins[(1, "fact")] == 1

    vacuum_published(root, keep=1)
    hist2 = publish_history(spark, root).collect()
    assert {r["group_version"] for r in hist2} == {2}
    assert all(r["available"] for r in hist2)


def test_rollback_published_is_metadata_only(spark, tmp_path):
    """rollback_published restores an old GROUP by committing a new
    manifest pinning the same per-table versions: readers see the old
    data again, history stays append-only, and NO new per-table
    version directories appear (O(1) metadata restore). Rolling back
    to a vacuumed group raises."""
    import os

    import pytest

    from real_time_fraud_detection_lakehouse_spark.sources import snapshots
    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import (
        publish_tables,
        read_published,
        rollback_published,
        vacuum_published,
    )

    root = str(tmp_path / "rb")
    for tag in ("old", "new"):
        publish_tables(
            {
                "fact": spark.createDataFrame([(1, tag)], ["id", "ver"]),
                "dim": spark.createDataFrame([(7, tag)], ["k", "ver"]),
            },
            root,
        )

    def table_versions():
        return {
            t: [v for v, _ in snapshots._version_dirs(os.path.join(root, t))]
            for t in ("fact", "dim")
        }

    before = table_versions()
    assert rollback_published(root, to_group=1) == 3
    assert table_versions() == before, "rollback must not write table data"
    got = {
        t: {r["ver"] for r in df.collect()}
        for t, df in read_published(spark, root).items()
    }
    assert got == {"fact": {"old"}, "dim": {"old"}}
    # group 2 ("new") still readable — history is append-only
    got2 = read_published(spark, root, group_version=2)
    assert {r["ver"] for r in got2["fact"].collect()} == {"new"}

    # vacuum keeps the newest manifest only (group 3 = restored "old");
    # rolling back to the vacuumed group 2 now fails fast
    vacuum_published(root, keep=1)
    with pytest.raises(ValueError, match="vacuumed or never committed"):
        rollback_published(root, to_group=2)


def test_vacuum_reaps_manifestless_crash_debris(spark, tmp_path):
    """A publisher that dies before the FIRST-ever manifest leaves
    committed-but-unreferenced per-table versions on a root with no
    manifests at all; vacuum still reaps them (live set is empty), and
    the root stays unreadable rather than half-born."""
    import os

    import pytest

    from real_time_fraud_detection_lakehouse_spark.sources import snapshots
    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import (
        publish_tables,
        read_published,
        vacuum_published,
    )

    root = str(tmp_path / "stillborn")

    def crash(root_, *a, **k):
        raise RuntimeError("died before first manifest")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(snapshots, "_manifest_versions", crash)
        with pytest.raises(RuntimeError, match="first manifest"):
            publish_tables(
                {"fact": spark.createDataFrame([(1, "x")], ["id", "ver"])}, root
            )
    # debris exists on disk but no group is visible
    assert snapshots._version_dirs(os.path.join(root, "fact"))
    with pytest.raises(FileNotFoundError):
        read_published(spark, root)

    assert vacuum_published(root, keep=1) == []  # no manifests removed...
    assert snapshots._version_dirs(os.path.join(root, "fact")) == []  # ...debris gone
    with pytest.raises(FileNotFoundError):
        read_published(spark, root)


def test_concurrent_publishers_both_commit(spark, tmp_path):
    """Two publishers racing on the same root: the manifest claim loop
    serializes them — both groups commit (distinct group versions),
    each manifest pins a complete, internally-consistent table set,
    and no reader-visible state ever mixes the two publishers' rows."""
    from concurrent.futures import ThreadPoolExecutor

    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import (
        publish_tables,
        read_published,
    )

    root = str(tmp_path / "race")

    def publish(tag):
        return publish_tables(
            {
                "fact": spark.createDataFrame([(1, tag)], ["id", "ver"]),
                "dim": spark.createDataFrame([(7, tag)], ["k", "ver"]),
            },
            root,
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        groups = list(pool.map(publish, ["a", "b"]))
    assert sorted(groups) == [1, 2], groups
    for g in groups:
        tags = {
            t: {r["ver"] for r in df.collect()}
            for t, df in read_published(spark, root, group_version=g).items()
        }
        # one publisher per group, never a mix of a-fact with b-dim
        assert tags["fact"] == tags["dim"] and len(tags["fact"]) == 1, tags


def test_reader_racing_publisher_never_sees_mixed_group(spark, tmp_path):
    """The consistency claim under live concurrency: while a publisher
    commits successive groups, a racing reader polling the latest group
    only ever materializes homogeneous (fact, dim) sets — every row of
    every table in one read carries the same publisher tag."""
    import threading

    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import (
        publish_tables,
        read_published,
    )

    root = str(tmp_path / "live")
    publish_tables(
        {
            "fact": spark.createDataFrame([(1, "g0")], ["id", "ver"]),
            "dim": spark.createDataFrame([(7, "g0")], ["k", "ver"]),
        },
        root,
    )
    stop = threading.Event()
    bad: list = []
    errors: list = []
    reads = [0]

    def reader():
        # a torn read can surface as an EXCEPTION (partial manifest →
        # JSONDecodeError, vacuumed path → FileNotFoundError), not just
        # mixed tags — capture everything, never die silently
        try:
            while not stop.is_set():
                frames = read_published(spark, root)
                tags = set()
                for df in frames.values():
                    tags |= {r["ver"] for r in df.collect()}
                reads[0] += 1
                if len(tags) != 1:
                    bad.append(tags)
                    return
        except BaseException as exc:  # noqa: BLE001 - re-raised below
            errors.append(exc)

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(1, 6):
            publish_tables(
                {
                    "fact": spark.createDataFrame([(1, f"g{i}")], ["id", "ver"]),
                    "dim": spark.createDataFrame([(7, f"g{i}")], ["k", "ver"]),
                },
                root,
            )
    finally:
        stop.set()
        t.join(timeout=120)
    assert not t.is_alive(), "reader thread hung"
    assert not errors, f"reader raised during the race: {errors!r}"
    assert not bad, f"reader observed a torn group: {bad}"
    assert reads[0] >= 1, "no read overlapped the race window — test was vacuous"


def test_publish_gold_consistent_group(spark, tmp_path):
    """publish_gold lands the five gold tables behind one manifest:
    read_published returns the full star schema at a single group
    version, fact keeps silver's row count, every dim is nonempty, and
    a second publish yields group 2 with group 1 still readable."""
    from tests.conftest import SF_SMALL

    from real_time_fraud_detection_lakehouse_spark.plans.gold import publish_gold
    from real_time_fraud_detection_lakehouse_spark.plans.silver import build_silver
    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import read_published

    root = str(tmp_path / "gold_pub")
    assert publish_gold(spark, SF_SMALL, root) == 1
    got = read_published(spark, root)
    assert set(got) == {"fact", "dim_customer", "dim_merchant", "dim_time", "dim_location"}
    n_silver = build_silver(spark, SF_SMALL).count()
    assert got["fact"].count() == n_silver
    for name in ("dim_customer", "dim_merchant", "dim_time", "dim_location"):
        assert got[name].count() > 0, name

    assert publish_gold(spark, SF_SMALL, root) == 2
    old = read_published(spark, root, group_version=1)
    assert old["fact"].count() == n_silver  # history intact


def test_zorder_equi_depth_handles_skew(spark):
    """On a heavily skewed column min-max bucketing collapses (most
    rows land in bucket 0 and the z-curve degenerates); equi-depth
    quantile buckets stay balanced."""
    from real_time_fraud_detection_lakehouse_spark.sources.maintenance import (
        zorder_column,
    )

    # 95% of mass in [0,10), a 5% tail out to 10_000
    rows = [(float(i % 10), float(i)) for i in range(950)] + [
        (float(10_000 - i * 10), float(i)) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "skewed double, uniform double")

    def bucket_spread(z_expr, bits, ncols=2):
        zs = df.select(z_expr.alias("z")).collect()
        # de-interleave the skewed column's bits (col index 0)
        buckets = [
            sum(((r["z"] >> (b * ncols)) & 1) << b for b in range(bits)) for r in zs
        ]
        import collections

        return collections.Counter(buckets)

    minmax = bucket_spread(zorder_column(df, ["skewed", "uniform"], bits=4), 4)
    equi = bucket_spread(
        zorder_column(df, ["skewed", "uniform"], bits=4, equi_depth=True), 4
    )
    # min-max: the 95% head all hashes to bucket 0 of 16
    assert minmax.most_common(1)[0][1] >= 900
    # equi-depth: no bucket hoards more than ~3x its fair share
    assert equi.most_common(1)[0][1] <= 3 * (1000 // 16)


def test_bloom_filter_write(spark, tmp_path):
    """Bloom-enabled files carry the filter payload (size delta — the
    installed pyarrow doesn't expose bloom offsets) and equality
    lookups read back identically."""
    import glob
    import os

    from real_time_fraud_detection_lakehouse_spark.core.catalog import table
    from real_time_fraud_detection_lakehouse_spark.sources.maintenance import (
        write_with_bloom,
    )
    from tests.conftest import SF_SMALL

    tx = table(spark, SF_SMALL, "orders").select("o_orderkey", "o_totalprice")
    plain, bloom = str(tmp_path / "plain"), str(tmp_path / "bloom")
    tx.coalesce(1).write.mode("overwrite").parquet(plain)
    write_with_bloom(tx.coalesce(1), bloom, ["o_orderkey"], ndv=100_000)

    size = lambda d: sum(  # noqa: E731
        os.path.getsize(f) for f in glob.glob(f"{d}/*.parquet")
    )
    assert size(bloom) > size(plain) + 50_000  # filter payload present

    key = tx.first()["o_orderkey"]
    got = spark.read.parquet(bloom).filter(F.col("o_orderkey") == key).collect()
    want = tx.filter(F.col("o_orderkey") == key).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_snapshot_torn_write_invisible(spark, tmp_path):
    """Crash between the version-claim rename and the marker commit
    leaves a torn _v=N dir: readers must never resolve it, a later
    writer must skip past it, and vacuum must collect it."""
    import os

    import pytest

    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import (
        COMMIT_MARKER,
        read_snapshot,
        snapshot_write,
        vacuum_snapshots,
    )

    path = str(tmp_path / "snap")
    df1 = spark.createDataFrame([(1, "a")], ["id", "v"])
    assert snapshot_write(df1, path) == 1

    # simulate the crash: full data for v2 exists but the marker never
    # landed (delete it from a real write — same observable state)
    v2 = snapshot_write(spark.createDataFrame([(2, "b")], ["id", "v"]), path)
    os.remove(os.path.join(path, f"_v={v2}", COMMIT_MARKER))

    # readers: latest resolves to v1, pinning the torn version fails fast
    assert read_snapshot(spark, path).collect() == df1.collect()
    with pytest.raises(ValueError, match="torn"):
        read_snapshot(spark, path, version=v2)

    # a later writer never re-claims the torn slot
    df3 = spark.createDataFrame([(3, "c")], ["id", "v"])
    assert snapshot_write(df3, path) == v2 + 1
    assert read_snapshot(spark, path).collect() == df3.collect()

    # vacuum collects the torn dir (and only reports committed removals)
    assert vacuum_snapshots(path, keep=2) == []
    assert not os.path.isdir(os.path.join(path, f"_v={v2}"))
    assert read_snapshot(spark, path, version=1).collect() == df1.collect()


def test_snapshot_stage_crash_invisible(spark, tmp_path):
    """Crash BEFORE the claim rename leaves only a dot-stage dir:
    invisible to readers and next-version numbering, collected by
    vacuum."""
    import os

    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import (
        read_snapshot,
        snapshot_write,
        vacuum_snapshots,
    )

    path = str(tmp_path / "snap")
    df1 = spark.createDataFrame([(1, "a")], ["id", "v"])
    assert snapshot_write(df1, path) == 1
    # orphaned stage dir with real parquet inside
    df1.write.parquet(os.path.join(path, ".stage-deadbeef"))

    assert read_snapshot(spark, path).collect() == df1.collect()
    assert snapshot_write(df1, path) == 2  # numbering unaffected
    vacuum_snapshots(path, keep=2)
    assert not os.path.isdir(os.path.join(path, ".stage-deadbeef"))


def test_snapshot_two_writers_race(spark, tmp_path):
    """Two writers publishing concurrently: the version claim is an
    atomic no-replace mkdir, so they serialize onto distinct versions
    and both commits are readable. (Simulated interleaving: writer B
    claims the version writer A computed, before A's mkdir.)"""
    import os

    from real_time_fraud_detection_lakehouse_spark.sources import snapshots as snap

    path = str(tmp_path / "snap")
    a = spark.createDataFrame([(1, "a")], ["id", "v"])
    b = spark.createDataFrame([(2, "b")], ["id", "v"])
    assert snap.snapshot_write(a, path) == 1

    # interleave: while A stages, B completes a full commit of v2; A's
    # first claim attempt targets the now-taken v2 and must retry to v3
    real_mkdir = os.mkdir
    state = {"fired": False}

    def racy_mkdir(p, *args, **kwargs):
        if str(p).endswith("_v=2") and not state["fired"]:
            state["fired"] = True
            snap.snapshot_write(b, path)  # B wins v2 first
        return real_mkdir(p, *args, **kwargs)

    snap.os.mkdir = racy_mkdir
    try:
        got = snap.snapshot_write(a, path)
    finally:
        snap.os.mkdir = real_mkdir
    assert got == 3
    assert snap.read_snapshot(spark, path, version=2).collect() == b.collect()
    assert snap.read_snapshot(spark, path, version=3).collect() == a.collect()
    assert snap._versions(path) == [1, 2, 3]


def test_changelog_torn_commit_invisible(spark, tmp_path):
    """A changelog stage dir that never got renamed (crash before the
    commit point) is invisible to read_changes and to version
    numbering — consumers can never observe a half-written commit."""
    import os

    from real_time_fraud_detection_lakehouse_spark.sources.sinks import (
        read_changes,
        upsert_with_changelog,
    )

    path, log = str(tmp_path / "t"), str(tmp_path / "log")
    base = spark.createDataFrame([(1, "a", 10.0)], ["id", "name", "amount"])
    assert upsert_with_changelog(spark, base, path, "id", log) == 1

    # crash-before-rename debris: staged change rows, never published
    base.write.parquet(os.path.join(log, ".stage-torn"))

    changes = read_changes(spark, log).collect()
    assert {r["_commit_version"] for r in changes} == {1}
    # next commit numbers past the committed set only
    upd = spark.createDataFrame([(1, "a2", 11.0)], ["id", "name", "amount"])
    assert upsert_with_changelog(spark, upd, path, "id", log) == 2
    assert {r["_commit_version"] for r in read_changes(spark, log).collect()} == {1, 2}


def test_snapshot_empty_version_dir_never_reclaimed(spark, tmp_path):
    """POSIX rename silently replaces an existing EMPTY directory, so
    the claim must use mkdir (no-replace even for empty dirs): a torn/
    externally-emptied _v=N is skipped, never re-claimed by a later
    writer."""
    import os

    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import (
        read_snapshot,
        snapshot_write,
    )

    path = str(tmp_path / "snap")
    df1 = spark.createDataFrame([(1, "a")], ["id", "v"])
    assert snapshot_write(df1, path) == 1
    # simulate a torn commit that left an empty version dir
    os.mkdir(os.path.join(path, "_v=2"))
    df3 = spark.createDataFrame([(3, "c")], ["id", "v"])
    assert snapshot_write(df3, path) == 3  # NOT 2 — the empty dir is not re-claimed
    assert os.listdir(os.path.join(path, "_v=2")) == []  # untouched
    got = {r["id"] for r in read_snapshot(spark, path).collect()}
    assert got == {3}


def test_snapshot_claim_surfaces_real_errors(spark, tmp_path, monkeypatch):
    """A persistent non-race failure (e.g. EACCES on the claim) raises
    instead of busy-looping forever. (chmod can't simulate this as
    root, so the claim primitive is patched directly.)"""
    import os

    import pytest

    from real_time_fraud_detection_lakehouse_spark.sources import snapshots as snap

    path = str(tmp_path / "ro")
    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    snap.snapshot_write(df, path)

    real_mkdir = os.mkdir

    def deny_version_claim(p, *a, **kw):
        if "_v=" in str(p):
            raise PermissionError(13, "Permission denied", str(p))
        return real_mkdir(p, *a, **kw)

    monkeypatch.setattr(snap.os, "mkdir", deny_version_claim)
    with pytest.raises(PermissionError):
        snap.snapshot_write(df, path)


def test_group_resolution_constant_cost_at_deep_history(spark, tmp_path):
    """Round-10 verdict #5: group resolution must stay O(1) file opens
    as the manifest ledger grows — the checkpoint hint (refreshed every
    CHECKPOINT_EVERY commits) plus forward probes replaces the
    per-read directory listing. Pinned: after 120 publishes, resolving
    the latest group performs ZERO manifest-dir listings and opens at
    most CHECKPOINT_EVERY+2 ledger files; an explicit old group is one
    direct manifest open."""
    import builtins

    from real_time_fraud_detection_lakehouse_spark.sources import snapshots as snap

    root = str(tmp_path / "deep")
    snap.publish_tables({"t": spark.createDataFrame([(1,)], ["id"])}, root)
    pinned = snap._read_manifest(root, 1)
    # commit 119 more manifests pinning the same (existing) version:
    # manifest commits are the metadata layer, no table writes needed
    for _ in range(119):
        snap._commit_manifest(root, pinned)
    assert snap._latest_group(root) == 120

    opens: list[str] = []
    real_open = builtins.open

    def counting_open(f, *a, **kw):
        opens.append(str(f))
        return real_open(f, *a, **kw)

    def no_listing(*a, **kw):
        raise AssertionError("group resolution listed the manifest dir")

    monkey_targets = [
        (builtins, "open", counting_open),
        (snap, "_manifest_versions", no_listing),
    ]
    originals = [(obj, name, getattr(obj, name)) for obj, name, _ in monkey_targets]
    for obj, name, repl in monkey_targets:
        setattr(obj, name, repl)
    try:
        frames = snap.read_published(spark, root)
        old = snap.read_published(spark, root, group_version=3)
    finally:
        for obj, name, orig in originals:
            setattr(obj, name, orig)
    ledger_opens = [o for o in opens if snap._MANIFEST_DIR in o]
    assert len(ledger_opens) <= snap.CHECKPOINT_EVERY + 2
    assert frames["t"].count() == 1 and old["t"].count() == 1


def test_checkpoint_is_advisory_only(spark, tmp_path):
    """A corrupt or stale checkpoint degrades readers to the listing
    path, never changes what they resolve; vacuum refreshes the hint
    so it cannot point at a reaped manifest."""
    import os

    from real_time_fraud_detection_lakehouse_spark.sources import snapshots as snap

    root = str(tmp_path / "advisory")
    for i in range(3):
        snap.publish_tables({"t": spark.createDataFrame([(i,)], ["id"])}, root)
    ckpt = os.path.join(root, snap._MANIFEST_DIR, snap._CHECKPOINT)
    with open(ckpt, "w", encoding="utf-8") as fh:
        fh.write("not json at all")
    assert snap._latest_group(root) == 3  # falls back to the listing

    snap.vacuum_published(root, keep=1)
    assert snap._read_checkpoint(root) == 3  # vacuum rewrote the hint
    frames = snap.read_published(spark, root)
    assert frames["t"].collect()[0]["id"] == 2


def test_publish_tables_rejects_unsafe_names(spark, tmp_path):
    """Round-10 advice: a table named like the manifest dir collides
    with the ledger, a dot-prefixed name matches vacuum's debris
    patterns, and a path separator escapes the store root."""
    import pytest

    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import publish_tables

    df = spark.createDataFrame([(1,)], ["id"])
    root = str(tmp_path / "names")
    for bad in ("_manifests", ".hidden", "a/b", ""):
        with pytest.raises(ValueError, match="invalid table name"):
            publish_tables({bad: df}, root)
    import os

    assert not os.path.isdir(root) or os.listdir(root) == []  # nothing landed


def test_rollback_vacuum_race_withdraws_torn_manifest(spark, tmp_path):
    """Round-10 advice: rollback_published re-verifies the pinned
    per-table markers AFTER its manifest commit. If a concurrent
    vacuum reaped them in the TOCTOU window, the torn restore is
    withdrawn by an append-only REVERT manifest (numbers stay dense —
    never an unlink) and the race surfaces as a RuntimeError; the
    current group stays readable and the torn manifest shows up as
    available=False in the ledger."""
    import os
    import shutil

    import pytest

    from real_time_fraud_detection_lakehouse_spark.sources import snapshots as snap

    root = str(tmp_path / "race")
    for i in range(2):
        snap.publish_tables({"t": spark.createDataFrame([(i,)], ["id"])}, root)

    real_commit = snap._commit_manifest
    calls = {"n": 0}

    def vacuum_wins_the_window(r, pinned):
        # emulate a concurrent vacuum_published(keep=1) reaping group
        # 1's per-table version between the pre-check and the FIRST
        # commit (the revert commit must go through untouched)
        calls["n"] += 1
        if calls["n"] == 1:
            shutil.rmtree(os.path.join(root, "t", "_v=1"))
        return real_commit(r, pinned)

    snap._commit_manifest = vacuum_wins_the_window
    try:
        with pytest.raises(RuntimeError, match="lost a race with vacuum_published"):
            snap.rollback_published(root, to_group=1)
    finally:
        snap._commit_manifest = real_commit
    # manifest 3 = the torn restore, manifest 4 = the revert re-pinning
    # group 2: current resolves to group 2's DATA and stays readable
    assert snap._latest_group(root) == 4
    assert snap.read_published(spark, root)["t"].collect()[0]["id"] == 1
    hist = snap.publish_history(spark, root).collect()
    avail = {r["group_version"]: r["available"] for r in hist}
    assert avail == {1: False, 2: True, 3: False, 4: True}


def test_published_gold_history_lifecycle(spark, tmp_path):
    """Round-10 verdict #7: the publish → re-publish → rollback ledger
    as a queryable surface. 15 deterministic rows (3 groups x 5
    tables); group 3 (the restore) re-pins group 1's per-table
    versions, group 2 pins its own."""
    from tests.conftest import SF_SMALL

    from real_time_fraud_detection_lakehouse_spark.plans.gold import (
        published_gold_history,
    )

    root = str(tmp_path / "hist_demo")
    hist = published_gold_history(spark, SF_SMALL, root).collect()
    assert len(hist) == 15
    pins = {(r["group_version"], r["table_name"]): r["pinned_version"] for r in hist}
    tables = {"fact", "dim_customer", "dim_merchant", "dim_time", "dim_location"}
    assert {t for (_, t) in pins} == tables
    assert all(pins[(1, t)] == 1 for t in tables)
    assert all(pins[(2, t)] == 2 for t in tables)
    assert all(pins[(3, t)] == 1 for t in tables)  # rollback re-pins group 1
    assert all(r["available"] for r in hist)


def test_vacuum_published_age_retention_and_rollback_interplay(spark, tmp_path):
    """Round-11 verdict #8: age-based retention (the reference
    runbook's VACUUM ... RETAIN N HOURS shape) — only manifests whose
    mtime is older than the window go, ``keep`` stays a floor the
    window can never breach, and a rollback's re-pin manifest (fresh
    mtime, OLD table versions) keeps those old versions alive through
    an age vacuum that reaps the original manifests pinning them."""
    import os
    import time

    import pytest

    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import (
        publish_tables,
        read_published,
        rollback_published,
        vacuum_published,
    )

    root = str(tmp_path / "gold")

    def group(tag):
        return {
            "fact": spark.createDataFrame([(1, tag)], ["id", "ver"]),
            "dim": spark.createDataFrame([(9, tag)], ["k", "ver"]),
        }

    def read_tags(g=None):
        frames = read_published(spark, root, group_version=g)
        return {t: {r["ver"] for r in df.collect()} for t, df in frames.items()}

    def age_manifest(n, days):
        p = os.path.join(root, "_manifests", f"manifest-{n}.json")
        old = time.time() - days * 86400
        os.utime(p, (old, old))

    for tag in ("v1", "v2", "v3"):
        publish_tables(group(tag), root)

    # window wider than any age: nothing goes, all groups readable
    assert vacuum_published(root, keep=1, retain_hours=24 * 365) == []
    assert read_tags(1) == {"fact": {"v1"}, "dim": {"v1"}}

    # manifests 1-2 aged past a 168h window, 3 fresh: exactly 1-2 go
    age_manifest(1, 10)
    age_manifest(2, 10)
    assert vacuum_published(root, keep=1, retain_hours=168) == [1, 2]
    assert read_tags() == {"fact": {"v3"}, "dim": {"v3"}}
    with pytest.raises(ValueError, match="vacuumed or never committed"):
        read_published(spark, root, group_version=1)

    # keep is a FLOOR: even with everything aged out, the newest
    # ``keep`` manifests (and their pinned table versions) survive
    publish_tables(group("v4"), root)  # groups now 3, 4
    age_manifest(3, 10)
    age_manifest(4, 10)
    assert vacuum_published(root, keep=2, retain_hours=1) == []
    assert read_tags(3) == {"fact": {"v3"}, "dim": {"v3"}}

    # rollback-then-age-vacuum: the restore commits a NEW manifest
    # (fresh mtime) re-pinning group 3's OLD table versions; an age
    # vacuum then reaps the AGED manifests 3 and 4 — but the pinned
    # versions live on because the fresh re-pin manifest holds them
    g5 = rollback_published(root, 3)
    assert g5 == 5
    assert vacuum_published(root, keep=1, retain_hours=168) == [3, 4]
    assert read_tags() == {"fact": {"v3"}, "dim": {"v3"}}, (
        "rollback's re-pin must keep the restored data alive through age vacuum"
    )
    # and the reaped groups are really gone
    with pytest.raises(ValueError, match="vacuumed or never committed"):
        read_published(spark, root, group_version=4)

    # density invariant: age-dooming is PREFIX-ONLY — racing publishers
    # can invert sub-second mtimes across adjacent numbers, and a
    # mid-range hole would read as the vacuumed floor to rollback's
    # walk-down. With group 6 IN-window but group 7 aged, nothing goes.
    publish_tables(group("v6"), root)  # groups now 5, 6, 7
    publish_tables(group("v7"), root)
    age_manifest(6, 10)  # 6 aged, but 5 (the re-pin) is younger: inversion
    assert vacuum_published(root, keep=1, retain_hours=168) == []
    assert read_tags(6) == {"fact": {"v6"}, "dim": {"v6"}}


def test_extend_published_adds_tables_atomically(spark, tmp_path):
    """Round-11 stretch: extend_published ADDs tables to the latest
    group without rewriting existing ones — previous groups stay
    readable AS OF, the widened group pins old versions unchanged,
    collisions and empty extensions are rejected, and a later full
    publish + vacuum reaps the delta tables entirely (the
    delta-then-compact cycle at whole-table granularity)."""
    import os

    import pytest

    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import (
        extend_published,
        publish_tables,
        read_published,
        vacuum_published,
    )

    root = str(tmp_path / "store")
    base = spark.createDataFrame([(1, "base")], ["id", "tag"])
    delta = spark.createDataFrame([(2, "delta")], ["id", "tag"])

    with pytest.raises(FileNotFoundError, match="publish_tables first"):
        extend_published({"d1": delta}, root)
    assert publish_tables({"t": base}, root) == 1
    with pytest.raises(ValueError, match="needs at least one table"):
        extend_published({}, root)
    with pytest.raises(ValueError, match="already pinned"):
        extend_published({"t": delta}, root)

    g2 = extend_published({"d1": delta}, root)
    assert g2 == 2
    # group 1 untouched; group 2 = old pin + new table
    assert set(read_published(spark, root, 1)) == {"t"}
    frames = read_published(spark, root)
    assert set(frames) == {"t", "d1"}
    assert [r["tag"] for r in frames["t"].collect()] == ["base"]
    assert [r["tag"] for r in frames["d1"].collect()] == ["delta"]
    # the extension wrote ONLY the delta: t still has exactly one version
    assert sorted(os.listdir(os.path.join(root, "t"))) == ["_v=1"]

    # compact: a full republish pins only the base table; vacuum to the
    # newest group reaps every delta version (no surviving manifest
    # pins them) and the delta table dir empties
    publish_tables({"t": base.unionByName(delta)}, root)
    vacuum_published(root, keep=1)
    assert set(read_published(spark, root)) == {"t"}
    assert os.listdir(os.path.join(root, "d1")) == []


def test_update_corpus_index_fold_in_equals_full_rebuild(spark, tmp_path):
    """The incremental nightly pass: folding admitted arrivals into
    the index (update_corpus_index) gates the NEXT day's arrivals
    exactly like a full rebuild over corpus+admissions — and the
    fold-in writes only the arrival projections (base index versions
    untouched on disk)."""
    import os

    from pyspark.sql import functions as F

    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        build_corpus_index,
        docs_dedup_incremental_maintained,
        update_corpus_index,
    )

    base = " ".join(f"tok{i:02d}" for i in range(25))
    fresh = " ".join(f"new{i:02d}" for i in range(25))
    docs = spark.createDataFrame(
        [
            (1, "en", "web", base),
            (2, "en", "web", fresh.replace("new", "old")),
            (15, "en", "web", fresh),  # day-1 ADMITTED arrival
        ],
        "doc_id long, lang string, source string, text string",
    ).withColumn("n_chars", F.length("text"))
    day2 = spark.createDataFrame(
        [
            (17, "en", "web", fresh + " extraa extrab extrac"),  # near-dup of 15
            (18, "en", "web", " ".join(f"day2{i:02d}" for i in range(25))),
        ],
        "doc_id long, lang string, source string, text string",
    ).withColumn("n_chars", F.length("text"))

    folded = str(tmp_path / "folded")
    build_corpus_index({"documents": docs.filter(F.col("doc_id") <= 2)}, folded)
    v_before = sorted(os.listdir(os.path.join(folded, "corpus_fps")))
    assert update_corpus_index(
        {"documents": docs.filter(F.col("doc_id") == 15)}, folded
    ) == 2
    # base versions untouched; the fold-in added delta tables only
    assert sorted(os.listdir(os.path.join(folded, "corpus_fps"))) == v_before
    assert os.path.isdir(os.path.join(folded, "corpus_fps_d1"))

    rebuilt = str(tmp_path / "rebuilt")
    build_corpus_index({"documents": docs}, rebuilt)

    out_folded = docs_dedup_incremental_maintained(spark, day2, folded).collect()
    out_rebuilt = docs_dedup_incremental_maintained(spark, day2, rebuilt).collect()
    assert sorted(map(tuple, out_folded)) == sorted(map(tuple, out_rebuilt))
    assert {r["doc_id"] for r in out_folded} == {18}, (
        "near-dup of a folded admission must be gated; fresh doc admitted"
    )

    # a second fold-in numbers the next delta
    assert update_corpus_index({"documents": day2.filter(F.col("doc_id") == 18)}, folded) == 3
    assert os.path.isdir(os.path.join(folded, "corpus_fps_d2"))


def test_maintenance_lock_two_actor_contention(spark, tmp_path):
    """Round-11 verdict #5: the advisory store lock turns the four
    documented maintenance races into one mutex. A second maintenance
    actor (vacuum/rollback are fail-fast) errors LOUDLY while the lock
    is held, naming the holder; publishers WAIT instead and complete
    once the holder releases; a dead holder's stale lock is taken
    over."""
    import os
    import threading
    import time as _time

    import pytest

    from real_time_fraud_detection_lakehouse_spark.sources import snapshots as snap

    root = str(tmp_path / "locked")
    snap.publish_tables({"t": spark.createDataFrame([(1,)], ["id"])}, root)
    snap.publish_tables({"t": spark.createDataFrame([(2,)], ["id"])}, root)

    # maintenance actors are fail-fast while another actor holds the lock
    with snap._store_lock(root, "vacuum_published"):
        with pytest.raises(RuntimeError, match="maintenance lock held by"):
            snap.vacuum_published(root, keep=1)
        with pytest.raises(RuntimeError, match="vacuum_published"):
            snap.rollback_published(root, to_group=1)
    # lock released: both proceed
    assert snap.rollback_published(root, to_group=1) == 3

    # a publisher WAITS for the holder instead of failing
    release = threading.Event()

    def hold():
        with snap._store_lock(root, "vacuum_published"):
            release.set()
            _time.sleep(0.4)

    holder = threading.Thread(target=hold)
    holder.start()
    release.wait()
    g = snap.publish_tables({"t": spark.createDataFrame([(3,)], ["id"])}, root)
    holder.join()
    assert g == 4  # committed AFTER the holder released, never racing it

    # stale takeover: a lockfile from a dead holder (mtime past the
    # horizon) is removed and the new actor proceeds
    lock = os.path.join(root, snap._LOCK_NAME)
    with open(lock, "w", encoding="utf-8") as fh:
        fh.write("vacuum_published pid=99999\n")
    old = _time.time() - snap.LOCK_STALE_SECONDS - 10
    os.utime(lock, (old, old))
    assert snap.vacuum_published(root, keep=1) == [1, 2, 3]
    assert not os.path.exists(lock)  # released after the takeover run


def test_maintenance_lock_live_holder_survives_stale_mtime(spark, tmp_path):
    """Round-12 advice: a LIVE holder whose lockfile mtime went past
    the stale horizon (a long write set under the lock — mtime is
    never refreshed while working) must NOT be taken over: liveness
    of the recorded pid gates the takeover, so a slow-but-alive
    publisher and a rival maintenance actor never mutate
    concurrently. And release is token-matched: an actor whose lock
    was (hypothetically) replaced by a rival's no longer unlinks the
    rival's lockfile from its finally block."""
    import os
    import time as _time

    import pytest

    from real_time_fraud_detection_lakehouse_spark.sources import snapshots as snap

    root = str(tmp_path / "locked")
    snap.publish_tables({"t": spark.createDataFrame([(1,)], ["id"])}, root)
    lock = os.path.join(root, snap._LOCK_NAME)

    # a lockfile naming THIS (alive) process, mtime far past the horizon
    with open(lock, "w", encoding="utf-8") as fh:
        fh.write(f"vacuum_published pid={os.getpid()} token=deadbeef\n")
    old = _time.time() - snap.LOCK_STALE_SECONDS - 10
    os.utime(lock, (old, old))
    with pytest.raises(RuntimeError, match="maintenance lock held by"):
        snap.vacuum_published(root, keep=1)
    assert os.path.exists(lock)  # the live holder's lock was NOT unlinked
    os.unlink(lock)

    # token-matched release: if a rival's lockfile is on disk when our
    # context exits, the finally block leaves it alone
    with snap._store_lock(root, "vacuum_published"):
        os.unlink(lock)
        with open(lock, "w", encoding="utf-8") as fh:
            fh.write("rival pid=99999 token=r1v4l\n")
    with open(lock, encoding="utf-8") as fh:
        assert "r1v4l" in fh.read()  # rival's lock survived our release
    os.unlink(lock)

    # liveness parsing: dead pid -> takeover still works (legacy path)
    with open(lock, "w", encoding="utf-8") as fh:
        fh.write("vacuum_published pid=99999\n")
    os.utime(lock, (old, old))
    assert snap.vacuum_published(root, keep=1) == []
    assert not os.path.exists(lock)


def test_store_lock_release_survives_transient_read_error(tmp_path, monkeypatch):
    """Round-13 advice: a transient OSError re-reading our own
    lockfile at release must not leak the lock — our pid is alive, so
    the liveness-gated takeover can never fire on it and every later
    actor would block forever. The release retries the read once and,
    if it still errors, unlinks anyway."""
    import builtins
    import os

    from real_time_fraud_detection_lakehouse_spark.sources import snapshots as snap

    root = str(tmp_path / "store")
    os.makedirs(root)
    lock = os.path.join(root, snap._LOCK_NAME)
    real_open = builtins.open
    calls = {"n": 0}

    def flaky(path, *a, **kw):
        if str(path) == lock:
            calls["n"] += 1
            raise OSError(5, "transient I/O error")
        return real_open(path, *a, **kw)

    # persistent read error (both attempts): unlink happens regardless
    with snap._store_lock(root, "publish_tables"):
        monkeypatch.setattr(builtins, "open", flaky)
    monkeypatch.setattr(builtins, "open", real_open)
    assert calls["n"] >= 2  # the retry actually ran
    assert not os.path.exists(lock)

    # single transient error: retry reads the token and releases
    calls["n"] = 0

    def flaky_once(path, *a, **kw):
        if str(path) == lock and calls["n"] == 0:
            calls["n"] += 1
            raise OSError(5, "transient I/O error")
        return real_open(path, *a, **kw)

    with snap._store_lock(root, "publish_tables"):
        monkeypatch.setattr(builtins, "open", flaky_once)
    monkeypatch.setattr(builtins, "open", real_open)
    assert not os.path.exists(lock)

    # FileNotFoundError still means 'taken over / released': no unlink
    # of a rival lock that replaced ours mid-context
    with snap._store_lock(root, "publish_tables"):
        os.unlink(lock)
        with open(lock, "w", encoding="utf-8") as fh:
            fh.write("rival pid=99999 token=r1v4l\n")
    with open(lock, encoding="utf-8") as fh:
        assert "r1v4l" in fh.read()
    os.unlink(lock)


def test_fold_deltas_retries_on_suffix_collision(spark, tmp_path, monkeypatch):
    """Round-13 advice: two concurrent fold-ins that read the same
    latest manifest pick the same _dK suffix; the loser must retry
    with the next K (serializing) instead of surfacing
    extend_published's name-collision ValueError."""
    from real_time_fraud_detection_lakehouse_spark.operators import dedup
    from real_time_fraud_detection_lakehouse_spark.sources import snapshots as snap

    root = str(tmp_path / "ent")
    names = spark.createDataFrame([(1, "acme")], ["entity_id", "name"])
    dedup.build_entity_index(names, root)

    real_extend = snap.extend_published
    state = {"raced": False}

    def racing_extend(dfs, root_):
        if not state["raced"]:
            state["raced"] = True
            # a rival fold-in lands between our manifest read and commit,
            # claiming the same _d1 suffix we computed
            rival = spark.createDataFrame([(9, "rival")], ["entity_id", "name"])
            real_extend(
                {
                    "entity_names_d1": rival,
                    "entity_variants_d1": dedup.deletion_variants(
                        rival, "entity_id", "name"
                    ),
                },
                root_,
            )
        return real_extend(dfs, root_)

    monkeypatch.setattr(snap, "extend_published", racing_extend)
    arrivals = spark.createDataFrame([(2, "acmee")], ["entity_id", "name"])
    dedup.update_entity_index(arrivals, root)
    monkeypatch.setattr(snap, "extend_published", real_extend)

    # the loser retried at _d2 — all three entities are readable
    idx_names, idx_vars = dedup._read_entity_index(spark, root)
    assert sorted(r["entity_id"] for r in idx_names.collect()) == [1, 2, 9]
    # and a genuine misuse ValueError still surfaces (not swallowed)
    import pytest

    with pytest.raises(ValueError, match="at least one table"):
        snap.extend_published({}, root)
