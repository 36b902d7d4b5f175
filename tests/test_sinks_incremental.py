"""Sinks, incremental HWM/watermark processing, streaming scorer."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

from real_time_fraud_detection_lakehouse_spark.plans.gold import dim_customer, dim_time
from real_time_fraud_detection_lakehouse_spark.plans.incremental import (
    incremental_silver_batch,
    incremental_silver_stream,
)
from real_time_fraud_detection_lakehouse_spark.plans.silver import build_silver
from real_time_fraud_detection_lakehouse_spark.sources.sinks import (
    alert_sink,
    append_with_schema_fallback,
    register_table,
    upsert_by_key,
)
from real_time_fraud_detection_lakehouse_spark.sources.transactions import transactions_df
from real_time_fraud_detection_lakehouse_spark.streaming.scoring import (
    run_scoring_stream,
    score_batch,
)


def test_upsert_by_key(spark, tmp_path):
    path = str(tmp_path / "preds")
    v1 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    upsert_by_key(spark, v1, path, "k")
    v2 = spark.createDataFrame([("b", 20), ("c", 3)], "k string, v int")
    upsert_by_key(spark, v2, path, "k")
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 1, "b": 20, "c": 3}


def test_append_schema_fallback(spark, tmp_path):
    path = str(tmp_path / "t")
    a = spark.createDataFrame([(1, "x")], "id int, s string")
    assert append_with_schema_fallback(a, path) == "append"
    assert append_with_schema_fallback(a, path) == "append"
    assert spark.read.parquet(path).count() == 2


def test_append_schema_fallback_overwrite_on_conflict(spark, tmp_path):
    """S8: a genuinely different schema must trigger the overwrite
    branch (vanilla parquet append would silently commit mixed-schema
    files, so the conflict is detected by upfront schema compare)."""
    path = str(tmp_path / "t_conflict")
    a = spark.createDataFrame([(1, "x")], "id int, s string")
    assert append_with_schema_fallback(a, path) == "append"
    b = spark.createDataFrame([(2, "y", 1.5)], "id int, s string, extra double")
    assert append_with_schema_fallback(b, path) == "overwrite"
    got = spark.read.parquet(path)
    assert got.count() == 1
    assert set(got.columns) == {"id", "s", "extra"}


def _partition_files(path: str, part: str) -> dict[str, bytes]:
    import glob
    import os

    return {
        os.path.basename(f): open(f, "rb").read()
        for f in glob.glob(os.path.join(path, part, "*.parquet"))
    }


def test_upsert_partition_scoped(spark, tmp_path):
    """Partitioned upsert rewrites only key-affected partitions:
    untouched partition files stay byte-identical on disk."""
    path = str(tmp_path / "preds_part")
    v1 = spark.createDataFrame(
        [("a", 1, "d1"), ("b", 2, "d1"), ("c", 3, "d2")],
        "k string, v int, d string",
    )
    upsert_by_key(spark, v1, path, "k", partition_col="d")
    before = _partition_files(path, "d=d1")
    assert before, "expected parquet files in the d1 partition"
    v2 = spark.createDataFrame(
        [("c", 30, "d2"), ("e", 5, "d2")], "k string, v int, d string"
    )
    upsert_by_key(spark, v2, path, "k", partition_col="d")
    assert _partition_files(path, "d=d1") == before
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 1, "b": 2, "c": 30, "e": 5}


def test_register_table(spark, tmp_path):
    df = transactions_df(spark, SF_SMALL).limit(10)
    register_table(spark, df, "tx_view")
    assert spark.sql("SELECT COUNT(*) AS n FROM tx_view").collect()[0]["n"] == 10


def test_alert_sink_capture(spark):
    captured = []

    def transport(url, body):
        captured.append((url, body))
        return 200

    silver = build_silver(spark, SF_SMALL)
    # +1000 amount and a merchant ~550 km away score 0.8 (HIGH), so far
    # more HIGH rows than one webhook batch used to be capped at
    tx = transactions_df(spark, SF_SMALL)
    tx = tx.withColumn("amt", F.col("amt") + 1000).withColumn(
        "merch_lat", F.col("lat") + 5
    )
    scored = score_batch(tx)
    alerts = scored.filter(F.col("risk_level") == "HIGH").select(
        "trans_num", "amt", "risk_level"
    )
    n = alert_sink(alerts, "http://example.invalid/webhook", transport)
    expected = sorted(r.trans_num for r in alerts.collect())
    posted = sorted(json.loads(body)["trans_num"] for _, body in captured)
    assert n == len(captured) == len(expected) > 100
    assert posted == expected
    assert silver.count() > 0


def test_gold_dims_idempotent_rerun(spark):
    """Re-deriving dims twice yields identical results (fixes the
    reference's append-duplicates bug, SURVEY §2.13 A16)."""
    silver = build_silver(spark, SF_SMALL)
    c1 = sorted(map(tuple, dim_customer(silver).collect()))
    c2 = sorted(map(tuple, dim_customer(silver).collect()))
    assert c1 == c2
    t1 = dim_time(silver).count()
    t2 = dim_time(silver).count()
    assert t1 == t2


def test_incremental_hwm_batch(spark, tmp_path):
    bronze_path = str(tmp_path / "bronze")
    silver_path = str(tmp_path / "silver")
    tx = transactions_df(spark, SF_SMALL)
    old = tx.filter(F.dayofmonth("trans_timestamp") <= 15)
    new = tx.filter(F.dayofmonth("trans_timestamp") > 15)

    old.write.mode("overwrite").parquet(bronze_path)
    n1 = incremental_silver_batch(spark, bronze_path, silver_path)
    assert n1 == old.count()
    # no new data → nothing written
    assert incremental_silver_batch(spark, bronze_path, silver_path) == 0
    # append late-arriving newer rows → only they are processed
    new.write.mode("append").parquet(bronze_path)
    n2 = incremental_silver_batch(spark, bronze_path, silver_path)
    assert n2 == new.count()
    assert spark.read.parquet(silver_path).count() == tx.count()


def test_incremental_gold_batch(spark, tmp_path):
    """Gold-side HWM: fact appends only rows above the fact HWM, dims
    stay idempotent full-rebuilds; a no-new-data rerun writes 0."""
    import os

    from real_time_fraud_detection_lakehouse_spark.plans.incremental import (
        incremental_gold_batch,
    )

    silver_path = str(tmp_path / "silver")
    gold_dir = str(tmp_path / "gold")
    silver = build_silver(spark, SF_SMALL)
    old = silver.filter(F.dayofmonth("trans_timestamp") <= 15)
    new = silver.filter(F.dayofmonth("trans_timestamp") > 15)

    old.write.mode("overwrite").parquet(silver_path)
    n1 = incremental_gold_batch(spark, silver_path, gold_dir)
    assert n1 == old.count()
    # rerun with no new data → 0 fact rows, fact unchanged
    assert incremental_gold_batch(spark, silver_path, gold_dir) == 0
    fact_path = os.path.join(gold_dir, "fact_transactions")
    assert spark.read.parquet(fact_path).count() == old.count()
    # late-arriving newer silver rows → only they are appended
    new.write.mode("append").parquet(silver_path)
    n2 = incremental_gold_batch(spark, silver_path, gold_dir)
    assert n2 == new.count()
    assert spark.read.parquet(fact_path).count() == silver.count()
    # dims remain dedup'd full rebuilds (no append-duplicates bug)
    dim = spark.read.parquet(os.path.join(gold_dir, "dim_customer"))
    assert dim.count() == dim.dropDuplicates().count()


def test_incremental_watermark_stream(spark, tmp_path):
    bronze_path = str(tmp_path / "bronze")
    silver_path = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    tx = transactions_df(spark, SF_SMALL)
    tx.write.mode("overwrite").parquet(bronze_path)
    out = incremental_silver_stream(spark, bronze_path, silver_path, ckpt)
    assert out.count() == tx.count()
    # restart with checkpoint: no reprocessing
    out2 = incremental_silver_stream(spark, bronze_path, silver_path, ckpt)
    assert out2.count() == tx.count()


def test_scoring_stream_with_trained_model(spark, tmp_path):
    """S13 model path: a fitted PipelineModel (assembler→scaler→LR)
    scores the stream in-engine via transform + probability column."""
    from real_time_fraud_detection_lakehouse_spark.ml.pipeline import train_and_evaluate

    src = str(tmp_path / "tx")
    preds = str(tmp_path / "preds")
    ckpt = str(tmp_path / "ckpt")
    silver = build_silver(spark, SF_SMALL)
    fitted = train_and_evaluate(silver, model="lr", fast=True).model
    tx = transactions_df(spark, SF_SMALL)
    tx.write.mode("overwrite").parquet(src)
    out = run_scoring_stream(spark, src, preds, ckpt, model=fitted)
    assert out.count() == tx.count()
    scores = out.select(F.min("prediction_score"), F.max("prediction_score")).collect()[0]
    assert 0.0 <= scores[0] <= scores[1] <= 1.0
    assert out.filter(F.col("prediction_score").isNull()).count() == 0


def test_scoring_stream_end_to_end(spark, tmp_path):
    src = str(tmp_path / "tx")
    preds = str(tmp_path / "preds")
    ckpt = str(tmp_path / "ckpt")
    captured = []
    tx = transactions_df(spark, SF_SMALL)
    tx.write.mode("overwrite").parquet(src)
    out = run_scoring_stream(
        spark,
        src,
        preds,
        ckpt,
        webhook_url="http://example.invalid/hook",
        transport=lambda u, b: captured.append(b) or 200,
    )
    assert out.count() == tx.count()
    assert set(out.select("risk_level").distinct().toPandas()["risk_level"]) <= {
        "HIGH",
        "MEDIUM",
        "LOW",
    }
    scores = out.select(F.min("prediction_score"), F.max("prediction_score")).collect()[0]
    assert 0.0 <= scores[0] <= scores[1] <= 1.0


def _scoring_rows(spark, src, tmp_path, name):
    """Score ``src`` through the stream into a fresh table (checkpoint
    ``name``); the predictions as sorted tuples without the wall-clock
    ``prediction_time``."""
    preds = str(tmp_path / f"{name}_preds")
    out = run_scoring_stream(
        spark,
        src,
        preds,
        str(tmp_path / f"{name}_ckpt"),
        webhook_url="http://example.invalid/hook",
        transport=lambda u, b: 200,
    )
    return preds, sorted(tuple(r) for r in out.drop("prediction_time").collect())


def test_scoring_stream_restart_after_commit_is_exactly_once(spark, tmp_path, monkeypatch):
    """foreachBatch fails once after the prediction upsert committed
    (the alert sink raises); rerunning the stream on the same
    checkpoint replays the batch, and every event ends with exactly
    one prediction, equal to an uninterrupted run's."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from real_time_fraud_detection_lakehouse_spark.streaming import scoring

    src = str(tmp_path / "tx")
    tx = transactions_df(spark, SF_SMALL)
    tx.write.parquet(src)
    _, expected = _scoring_rows(spark, src, tmp_path, "ref")

    real_alert = scoring.alert_sink
    calls = []

    def alert_once_failing(*args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("injected: crash after the prediction upsert")
        return real_alert(*args, **kwargs)

    monkeypatch.setattr(scoring, "alert_sink", alert_once_failing)
    with pytest.raises(StreamingQueryException):
        _scoring_rows(spark, src, tmp_path, "crash")
    preds, got = _scoring_rows(spark, src, tmp_path, "crash")
    assert len(calls) == 2
    assert got == expected
    assert len({r[0] for r in got}) == len(got) == tx.count()


def test_scoring_stream_replay_after_partial_rename_commit(spark, tmp_path, monkeypatch):
    """The rename commit of the predictions fails partway (second
    rename): some files are published, the rest stay in the stage. The
    replay leaves one row per key, equal to an uninterrupted run, and
    a read of the table does not see the leftover stage directory."""
    import glob
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from real_time_fraud_detection_lakehouse_spark.sources import sinks

    src = str(tmp_path / "tx")
    tx = transactions_df(spark, SF_SMALL)
    tx.write.parquet(src)
    _, expected = _scoring_rows(spark, src, tmp_path, "ref")

    real_rename = os.rename
    calls = []

    def rename_failing_second(src_path, dst_path):
        calls.append(src_path)
        if len(calls) == 2:
            raise OSError("injected: rename failed mid-commit")
        real_rename(src_path, dst_path)

    monkeypatch.setattr(sinks.os, "rename", rename_failing_second)
    with pytest.raises(StreamingQueryException):
        _scoring_rows(spark, src, tmp_path, "crash")
    monkeypatch.undo()
    preds, got = _scoring_rows(spark, src, tmp_path, "crash")
    assert glob.glob(os.path.join(preds, ".stage-*")), "the failed commit's stage stays"
    assert got == expected
    assert spark.read.parquet(preds).count() == len({r[0] for r in got}) == tx.count()


def test_upsert_changelog_cdf_semantics(spark, tmp_path):
    """Change Data Feed analog: inserts at v1; pre+post images at v2
    for matched keys; replaying the feed onto the v1 snapshot
    reconstructs the final table exactly."""
    from real_time_fraud_detection_lakehouse_spark.sources.sinks import (
        read_changes,
        upsert_with_changelog,
    )

    path, log = str(tmp_path / "t"), str(tmp_path / "log")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], ["id", "name", "amount"]
    )
    v1 = upsert_with_changelog(spark, base, path, "id", log)
    upd = spark.createDataFrame(
        [(2, "b2", 25.0), (3, "c", 30.0)], ["id", "name", "amount"]
    )
    v2 = upsert_with_changelog(spark, upd, path, "id", log)
    assert (v1, v2) == (1, 2)

    ch = {
        (r["_commit_version"], r["_change_type"], r["id"]): (r["name"], r["amount"])
        for r in read_changes(spark, log).collect()
    }
    assert ch[(1, "insert", 1)] == ("a", 10.0)
    assert ch[(1, "insert", 2)] == ("b", 20.0)
    assert ch[(2, "insert", 3)] == ("c", 30.0)
    assert ch[(2, "update_preimage", 2)] == ("b", 20.0)
    assert ch[(2, "update_postimage", 2)] == ("b2", 25.0)
    assert len(ch) == 5

    # incremental consumer: apply v2 changes to the v1 state
    v1_state = {1: ("a", 10.0), 2: ("b", 20.0)}
    for r in read_changes(spark, log, starting_version=2).collect():
        if r["_change_type"] in ("insert", "update_postimage"):
            v1_state[r["id"]] = (r["name"], r["amount"])
    final = {
        r["id"]: (r["name"], r["amount"]) for r in spark.read.parquet(path).collect()
    }
    assert v1_state == final


def test_incremental_agg_refresh_equals_recompute(spark, tmp_path):
    """Materialized additive aggregate maintained from the CDF equals
    a from-scratch recompute after an upsert touches some groups —
    including a group whose rows all departed."""
    from real_time_fraud_detection_lakehouse_spark.plans.incremental import (
        incremental_agg_refresh,
        materialize_agg,
    )
    from real_time_fraud_detection_lakehouse_spark.sources.sinks import (
        upsert_with_changelog,
    )

    path, log, mat = str(tmp_path / "t"), str(tmp_path / "log"), str(tmp_path / "mat")
    base = spark.createDataFrame(
        [(1, "x", 10.0), (2, "x", 20.0), (3, "y", 5.0), (4, "z", 7.0)],
        ["id", "grp", "amount"],
    )
    v1 = upsert_with_changelog(spark, base, path, "id", log)
    materialize_agg(spark.read.parquet(path), mat, ["grp"], ["amount"])

    # update moves id=3 from y to... same key new amount; id=4 amount
    # changes; id=5 is new in x — group y keeps its row, z updated
    upd = spark.createDataFrame(
        [(3, "y", 6.0), (4, "z", 9.0), (5, "x", 1.0)], ["id", "grp", "amount"]
    )
    upsert_with_changelog(spark, upd, path, "id", log)

    refreshed = incremental_agg_refresh(
        spark, log, mat, ["grp"], ["amount"], since_version=v1 + 1
    )
    recomputed = (
        spark.read.parquet(path)
        .groupBy("grp")
        .agg(F.count("*").alias("cnt"), F.sum("amount").alias("sum_amount"))
    )
    got = {r["grp"]: (r["cnt"], round(r["sum_amount"], 6)) for r in refreshed.collect()}
    want = {
        r["grp"]: (r["cnt"], round(r["sum_amount"], 6)) for r in recomputed.collect()
    }
    assert got == want


def test_backfill_silver_range_repairs_only_the_range(spark, tmp_path):
    """Backfilling a date slice restores exactly those partitions;
    partitions outside the range stay byte-identical; rerunning the
    backfill is idempotent (no duplicate rows)."""
    import glob
    import os

    from real_time_fraud_detection_lakehouse_spark.plans.incremental import (
        backfill_silver_range,
    )
    from real_time_fraud_detection_lakehouse_spark.plans.silver import build_silver
    from real_time_fraud_detection_lakehouse_spark.sources.transactions import (
        transactions_df,
    )
    from tests.conftest import SF_SMALL

    bronze, silver = str(tmp_path / "bronze"), str(tmp_path / "silver")
    transactions_df(spark, SF_SMALL).write.mode("overwrite").parquet(bronze)
    full = build_silver(spark, source=spark.read.parquet(bronze))
    full.write.mode("overwrite").partitionBy("year", "month", "day").parquet(silver)
    want_total = spark.read.parquet(silver).count()

    # pick a real day, then vandalize its partition
    d = spark.read.parquet(silver).selectExpr("min(to_date(trans_timestamp)) d").first()["d"]
    day_dir = os.path.join(silver, f"year={d.year}", f"month={d.month}", f"day={d.day}")
    assert os.path.isdir(day_dir)
    for f in glob.glob(os.path.join(day_dir, "*.parquet")):
        os.remove(f)
    assert spark.read.parquet(silver).count() < want_total

    def fingerprint(skip_dir):
        out = {}
        for f in glob.glob(os.path.join(silver, "**", "*.parquet"), recursive=True):
            if not f.startswith(skip_dir):
                out[f] = os.path.getsize(f)
        return out

    before = fingerprint(day_dir)
    iso = d.isoformat()
    n1 = backfill_silver_range(spark, bronze, silver, iso, iso)
    assert n1 > 0
    assert spark.read.parquet(silver).count() == want_total  # repaired
    assert fingerprint(day_dir) == before  # other partitions untouched
    backfill_silver_range(spark, bronze, silver, iso, iso)  # idempotent
    assert spark.read.parquet(silver).count() == want_total


def test_corrupt_fact_table_raises_instead_of_reappending(spark, tmp_path):
    """Round-4 ADVICE regression: a transient/corrupt read of the
    existing fact table must PROPAGATE, not masquerade as 'no table
    yet' and silently re-append the whole silver history (duplicating
    the fact table)."""
    import os

    import pytest

    from real_time_fraud_detection_lakehouse_spark.plans.incremental import (
        incremental_gold_batch,
    )
    from real_time_fraud_detection_lakehouse_spark.plans.silver import build_silver
    from tests.conftest import SF_SMALL

    silver_path, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    build_silver(spark, SF_SMALL).write.mode("overwrite").parquet(silver_path)
    n1 = incremental_gold_batch(spark, silver_path, gold)
    assert n1 > 0

    # corrupt every fact file: readable listing, unreadable footer
    fact = os.path.join(gold, "fact_transactions")
    for f in os.listdir(fact):
        if f.endswith(".parquet"):
            with open(os.path.join(fact, f), "wb") as fh:
                fh.write(b"this is not a parquet file")

    with pytest.raises(Exception) as exc:
        incremental_gold_batch(spark, silver_path, gold)
    # the point: it raised; it did NOT append n1 rows again. And the
    # failure is a real read error, not the benign PATH_NOT_FOUND.
    assert "PATH_NOT_FOUND" not in str(exc.value)


def test_upsert_concurrent_disjoint_partitions(spark, tmp_path):
    """Two writers upserting DISJOINT partitions concurrently compose:
    each swap replaces only its writer's own partitions, so neither
    clobbers the other. This is the documented
    concurrency contract of the partition-scoped upsert (disjointness
    is the caller's responsibility — same-partition writers need a
    real transaction log, i.e. Delta).

    Interleaving is exercised two ways: a deterministic write-between-
    read-and-write schedule, and a barrier-started thread race."""
    import threading

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [("k1", 1, "p1"), ("k2", 2, "p2")], "k string, v int, p string"
    )
    upsert_by_key(spark, base, path, "k", partition_col="p")

    # --- deterministic interleave: A stages its merge plan for p1,
    # B completes a full upsert of p2, then A writes. A's swap
    # touches only p1, so B's p2 write must survive.
    a_updates = spark.createDataFrame([("k1", 10, "p1")], "k string, v int, p string")
    b_updates = spark.createDataFrame([("k2", 20, "p2")], "k string, v int, p string")
    # (the function reads `existing` at call time; calling B first then
    # A reproduces B-committed-during-A's-read-window ordering, since
    # A's anti-join only consults p1 rows either way)
    upsert_by_key(spark, b_updates, path, "k", partition_col="p")
    upsert_by_key(spark, a_updates, path, "k", partition_col="p")
    state = {r["k"]: (r["v"], r["p"]) for r in spark.read.parquet(path).collect()}
    assert state == {"k1": (10, "p1"), "k2": (20, "p2")}

    # --- true concurrency: both writers run simultaneously from a
    # start barrier, each touching only its own partition
    barrier = threading.Barrier(2)
    errors: list[Exception] = []

    def writer(part: str, key: str, vals: list[int]) -> None:
        try:
            barrier.wait(timeout=30)
            for v in vals:
                upd = spark.createDataFrame([(key, v, part)], "k string, v int, p string")
                upsert_by_key(spark, upd, path, "k", partition_col="p")
        except Exception as exc:  # noqa: BLE001 - surfaced below
            errors.append(exc)

    t1 = threading.Thread(target=writer, args=("p1", "k1", [11, 12, 13]))
    t2 = threading.Thread(target=writer, args=("p2", "k2", [21, 22, 23]))
    t1.start(); t2.start(); t1.join(60); t2.join(60)
    assert not errors, errors
    state = {r["k"]: (r["v"], r["p"]) for r in spark.read.parquet(path).collect()}
    assert state == {"k1": (13, "p1"), "k2": (23, "p2")}


def test_upsert_insert_only_appends_without_rewriting(spark, tmp_path):
    """An insert-only upsert into an existing partition commits by
    renaming its staged files in: every old file stays, same name and
    size, and no stage directory is left behind. An overlapping key
    still replaces the old row."""
    import glob
    import os

    path = str(tmp_path / "t")
    upsert_by_key(
        spark,
        spark.createDataFrame([("a", 1, "d1"), ("b", 2, "d1")], "k string, v int, d string"),
        path,
        "k",
        partition_col="d",
    )
    before = {f: os.path.getsize(f) for f in glob.glob(os.path.join(path, "d=d1", "*.parquet"))}
    assert before
    insert = spark.createDataFrame([("c", 3, "d1"), ("e", 5, "d2")], "k string, v int, d string")
    upsert_by_key(spark, insert, path, "k", partition_col="d")
    after = {f: os.path.getsize(f) for f in glob.glob(os.path.join(path, "d=d1", "*.parquet"))}
    assert {f: after[f] for f in before} == before
    assert len(after) == len(before) + 1
    assert not glob.glob(os.path.join(path, ".stage-*"))
    update = spark.createDataFrame([("b", 20, "d1")], "k string, v int, d string")
    upsert_by_key(spark, update, path, "k", partition_col="d")
    got = {r["k"]: (r["v"], r["d"]) for r in spark.read.parquet(path).collect()}
    assert got == {"a": (1, "d1"), "b": (20, "d1"), "c": (3, "d1"), "e": (5, "d2")}
    assert not glob.glob(os.path.join(path, ".stage-*"))


def test_upsert_insert_only_job_count(spark, tmp_path):
    """An insert-only upsert into an existing partition runs at most 3
    Spark jobs: the stage write, the staged-key broadcast and the
    probe. The day-rewriting merge ran 7 on this input."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame([("a", 1, "d1")], "k string, v int, d string")
    upsert_by_key(spark, base, path, "k", partition_col="d")
    insert = spark.createDataFrame([("b", 2, "d1")], "k string, v int, d string")
    sc = spark.sparkContext
    sc.setJobGroup("upsert-insert-only", "insert-only upsert")
    try:
        upsert_by_key(spark, insert, path, "k", partition_col="d")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("upsert-insert-only")
    assert 0 < len(jobs) <= 3, jobs
    assert spark.read.parquet(path).count() == 2


def test_upsert_timestamp_partition_merges_whole_table(spark, tmp_path):
    """A timestamp partition column reads and replaces every partition
    directory (its directory name depends on the session time zone):
    updates and inserts both land, and no stage is left behind."""
    import datetime
    import glob
    import os

    path = str(tmp_path / "ts")
    d1, d2 = datetime.datetime(2024, 1, 1, 10), datetime.datetime(2024, 1, 2, 10)
    schema = "k string, v int, p timestamp"
    v1 = spark.createDataFrame([("a", 1, d1), ("b", 2, d1)], schema)
    upsert_by_key(spark, v1, path, "k", partition_col="p")
    v2 = spark.createDataFrame([("a", 10, d1), ("c", 3, d2)], schema)
    upsert_by_key(spark, v2, path, "k", partition_col="p")
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 10, "b": 2, "c": 3}
    assert not glob.glob(os.path.join(path, ".stage-*"))


def test_upsert_escaped_and_null_partitions(spark, tmp_path):
    """Partition values Spark URL-escapes on disk (slash, colon,
    percent) and NULL (__HIVE_DEFAULT_PARTITION__) must be recognized
    as EXISTING partitions — a missed match would make the dynamic
    overwrite silently drop the partition's unmatched keys (the
    regression the round-5 advice flagged)."""
    path = str(tmp_path / "esc")
    v1 = spark.createDataFrame(
        [("a", 1, "us/east"), ("b", 2, "us/east"), ("c", 3, "t:0"), ("d", 4, None)],
        "k string, v int, p string",
    )
    upsert_by_key(spark, v1, path, "k", partition_col="p")
    # update ONE key per partition; the others must survive the merge
    v2 = spark.createDataFrame(
        [("a", 10, "us/east"), ("c", 30, "t:0"), ("d", 40, None)],
        "k string, v int, p string",
    )
    upsert_by_key(spark, v2, path, "k", partition_col="p")
    got = {r["k"]: (r["v"], r["p"]) for r in spark.read.parquet(path).collect()}
    assert got == {
        "a": (10, "us/east"),
        "b": (2, "us/east"),  # the row the naive str(value) probe lost
        "c": (30, "t:0"),
        "d": (40, None),
    }


def test_upsert_unresolvable_partition_falls_back_to_full_merge(spark, tmp_path):
    """A float partition value, whose directory name the sink never
    renders itself, still finds its existing partition through the
    stage's own directory names: the partition's other rows survive."""
    path = str(tmp_path / "floatpart")
    v1 = spark.createDataFrame(
        [("a", 1, 0.5), ("b", 2, 0.5), ("c", 3, 1.5)], "k string, v int, p double"
    )
    upsert_by_key(spark, v1, path, "k", partition_col="p")
    v2 = spark.createDataFrame([("a", 10, 0.5)], "k string, v int, p double")
    upsert_by_key(spark, v2, path, "k", partition_col="p")
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 10, "b": 2, "c": 3}


def test_changelog_escaped_partition_preimages(spark, tmp_path):
    """upsert_with_changelog resolves escaped partition dirs too: the
    update of an existing key in a slash-valued partition must emit
    pre/postimage rows (a missed dir looked like a fresh partition and
    logged a bare insert)."""
    from real_time_fraud_detection_lakehouse_spark.sources.sinks import (
        read_changes,
        upsert_with_changelog,
    )

    path = str(tmp_path / "t")
    log = str(tmp_path / "log")
    v1 = spark.createDataFrame([("a", 1, "us/east")], "k string, v int, p string")
    upsert_with_changelog(spark, v1, path, "k", log, partition_col="p")
    v2 = spark.createDataFrame([("a", 2, "us/east")], "k string, v int, p string")
    upsert_with_changelog(spark, v2, path, "k", log, partition_col="p")
    kinds = {
        r["_change_type"]
        for r in read_changes(spark, log, starting_version=2).collect()
    }
    assert kinds == {"update_preimage", "update_postimage"}


def test_swap_crash_keeps_every_row_on_disk(spark, tmp_path, monkeypatch):
    """A swap that crashes after retiring the replaced files, once in a
    scoped overlap upsert and once in compact_partitions: the table is
    short for readers, but every pre-call row is still on disk, under
    the table or under its stage, and a read of the table lists no
    staged file."""
    import os

    import pytest

    from real_time_fraud_detection_lakehouse_spark.sources import sinks
    from real_time_fraud_detection_lakehouse_spark.sources.maintenance import (
        compact_partitions,
    )

    real_rename = os.rename

    def rename_failing_first_publish(src_path, dst_path):
        # the swap retires the replaced files into the stage first; the
        # first move out of it is the first publish
        if sinks.STAGE_PREFIX not in dst_path:
            raise OSError("injected: crash between retiring and publishing")
        real_rename(src_path, dst_path)

    schema = "k string, v int, p string"
    upserted, compacted = str(tmp_path / "upserted"), str(tmp_path / "compacted")
    upsert_by_key(
        spark,
        spark.createDataFrame([("a", 1, "p1"), ("b", 2, "p1"), ("c", 3, "p2")], schema),
        upserted,
        "k",
        partition_col="p",
    )
    for rows in ([("a", 1, "p1"), ("c", 3, "p2")], [("b", 2, "p1")]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").partitionBy(
            "p"
        ).parquet(compacted)
    update = spark.createDataFrame([("a", 10, "p1")], schema)
    calls = {
        upserted: lambda: upsert_by_key(spark, update, upserted, "k", partition_col="p"),
        compacted: lambda: compact_partitions(spark, compacted, ["p"]),
    }
    for path, call in calls.items():
        before = {tuple(r) for r in spark.read.parquet(path).select("k", "v").collect()}
        with monkeypatch.context() as m:
            m.setattr(sinks.os, "rename", rename_failing_first_publish)
            with pytest.raises(OSError, match="injected"):
                call()
        table = spark.read.parquet(path)
        assert not [f for f in table.inputFiles() if sinks.STAGE_PREFIX in f]
        assert table.count() < len(before)  # the crash window: p1 is short
        files = [
            os.path.join(d, n)
            for d, _dirs, names in os.walk(path)
            for n in names
            if n.endswith(".parquet")
        ]
        on_disk = spark.read.schema("k string, v int").parquet(*files).collect()
        assert before <= {tuple(r) for r in on_disk}, path


def test_parquet_rewrites_go_through_the_stage_swap():
    """Every in-place rewrite of a parquet table goes through
    ``sinks.stage_write`` / ``sinks.swap_in``: no dynamic partition
    overwrite anywhere in the package, no materialize-then-overwrite
    ``localCheckpoint`` in the sinks or maintenance, and the stage
    prefix spelled once. Source scan only."""
    import os

    import real_time_fraud_detection_lakehouse_spark as pkg

    root = os.path.dirname(pkg.__file__)
    sources = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as fh:
                    sources[os.path.relpath(path, root)] = fh.read()
    assert [rel for rel, text in sources.items() if "partitionOverwriteMode" in text] == []
    for rel in ("sinks.py", "maintenance.py"):
        assert "localCheckpoint" not in sources[os.path.join("sources", rel)], rel
    assert sum(text.count(".stage-") for text in sources.values()) == 1


def test_scd2_apply_all_merge_paths(spark):
    """One batch exercising every SCD2 path: change (close+reopen),
    no-op update (suppressed), untouched key, new key — and a second
    identical batch is a pure no-op on the already-updated rows."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_lakehouse_spark.plans.incremental import scd2_apply

    base = spark.createDataFrame(
        [(1, "A", 10.0), (2, "B", 20.0), (3, "C", 30.0)],
        "k int, seg string, bal double",
    ).withColumn("valid_from", F.lit("1995-01-01").cast("timestamp"))
    updates = spark.createDataFrame(
        [(1, "A2", 11.0), (2, "B", 20.0), (4, "D", 40.0)],
        "k int, seg string, bal double",
    )
    hist = scd2_apply(base, updates, "k", ["seg", "bal"], "2000-06-01 00:00:00")
    rows = {(r["k"], r["is_current"]): r for r in hist.collect()}

    assert len(rows) == 5  # 1-closed, 1-open, 2-open, 3-open, 4-open
    closed = rows[(1, False)]
    assert closed["seg"] == "A" and closed["valid_to"] is not None
    reopened = rows[(1, True)]
    assert reopened["seg"] == "A2" and reopened["bal"] == 11.0
    assert reopened["valid_to"] is None
    assert rows[(2, True)]["seg"] == "B"  # no-op suppressed: single open row
    assert (2, False) not in rows
    assert rows[(3, True)]["seg"] == "C"  # untouched
    assert rows[(4, True)]["seg"] == "D"  # fresh insert

    # applying the same batch to the new current rows is a no-op
    current = hist.filter("is_current").select("k", "seg", "bal", "valid_from")
    hist2 = scd2_apply(current, updates, "k", ["seg", "bal"], "2001-01-01 00:00:00")
    assert hist2.filter(~F.col("is_current")).count() == 0
    assert hist2.count() == current.count()


def test_jdbc_sink_roundtrip_embedded_derby(spark, tmp_path):
    """S6 JDBC sink end-to-end against embedded Derby (driver ships on
    Spark's classpath): overwrite, append, and a read-back that
    matches the union — no external DB service required."""
    from real_time_fraud_detection_lakehouse_spark.sources.sinks import (
        DERBY_DRIVER,
        read_jdbc,
        write_jdbc,
    )

    url = f"jdbc:derby:{tmp_path}/alertdb;create=true"
    first = spark.range(0, 10).selectExpr(
        "id AS alert_id", "CAST(id % 3 AS DOUBLE) AS score"
    )
    second = spark.range(10, 15).selectExpr(
        "id AS alert_id", "CAST(id % 3 AS DOUBLE) AS score"
    )
    write_jdbc(first, url, "alerts", mode="overwrite", driver=DERBY_DRIVER)
    write_jdbc(second, url, "alerts", mode="append", driver=DERBY_DRIVER)
    back = read_jdbc(spark, url, "alerts", driver=DERBY_DRIVER)
    assert back.count() == 15
    got = {(r["ALERT_ID"], r["SCORE"]) if "ALERT_ID" in r.asDict() else (r["alert_id"], r["score"]) for r in back.collect()}
    want = {(i, float(i % 3)) for i in range(15)}
    assert got == want
