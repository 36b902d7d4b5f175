"""API-compat feature variants (SURVEY §2.13 conflicts), Arrow
toPandas bridge (M4), faithful gold dims."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

from real_time_fraud_detection_lakehouse_spark.functions import features as feat
from real_time_fraud_detection_lakehouse_spark.plans.gold import (
    dim_customer_faithful,
    dim_merchant_faithful,
)
from real_time_fraud_detection_lakehouse_spark.plans.silver import build_silver


def test_amount_bin_api_compat(spark):
    rows = (
        spark.createDataFrame(
            [(0.0,), (50.0,), (100.0,), (300.0,), (500.0,), (1000.0,), (1500.0,)],
            "amt double",
        )
        .select("amt", feat.amount_bin(F.col("amt"), api_compat=True).alias("bin"))
        .collect()
    )
    got = {r["amt"]: r["bin"] for r in rows}
    # API shim bins per feature_engineering.py:58-69
    assert got == {0.0: 0, 50.0: 1, 100.0: 1, 300.0: 2, 500.0: 3, 1000.0: 4, 1500.0: 5}


def test_gender_encoding_both_conventions(spark):
    df = spark.createDataFrame([("M",), ("F",), (None,)], "gender string")
    rows = df.select(
        feat.gender_encoded(F.col("gender")).alias("silver"),
        feat.gender_encoded(F.col("gender"), api_compat=True).alias("api"),
    ).collect()
    assert [(r["silver"], r["api"]) for r in rows] == [(1, 0), (0, 1), (0, 1)]


def test_distance_thresholds_both_conventions(spark):
    df = spark.createDataFrame([(75.0,), (150.0,), (-1.0,)], "d double")
    rows = df.select(
        feat.is_distant_transaction(F.col("d")).alias("silver"),
        feat.is_distant_transaction(F.col("d"), api_compat=True).alias("api"),
    ).collect()
    # silver: >100; API: >50; sentinel -1 never distant
    assert [(r["silver"], r["api"]) for r in rows] == [(0, 1), (1, 1), (0, 0)]


def test_haversine_api_null_default(spark):
    df = spark.range(1).select(
        feat.haversine_km(
            F.lit(None).cast("double"), F.lit(0.0), F.lit(0.0), F.lit(0.0), null_default=10.0
        ).alias("d")
    )
    assert df.collect()[0]["d"] == 10.0


def test_topandas_arrow_bridge(spark):
    pdf = build_silver(spark, SF_SMALL).select("trans_num", "amt", "distance_km").toPandas()
    assert len(pdf) > 0
    assert set(pdf.columns) == {"trans_num", "amt", "distance_km"}
    assert str(pdf["amt"].dtype) == "float64"


def test_faithful_dims_shapes(spark):
    silver = build_silver(spark, SF_SMALL)
    dc = dim_customer_faithful(silver)
    assert "age" in dc.columns and "last_updated" in dc.columns
    assert dc.count() == dc.select("customer_key").distinct().count()
    dm = dim_merchant_faithful(silver)
    assert "merchant_key" in dm.columns
    # Murmur3 surrogate keys are engine-internal but must be stable
    a = sorted(r["merchant_key"] for r in dm.select("merchant_key").collect())
    b = sorted(r["merchant_key"] for r in dim_merchant_faithful(silver).select("merchant_key").collect())
    assert a == b


def test_observe_silver_quality(spark, tmp_path):
    """Quality counters ride the write action (no second scan) and
    agree with directly-aggregated values."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_lakehouse_spark.plans.quality import (
        observe_silver_quality,
    )
    from real_time_fraud_detection_lakehouse_spark.plans.silver import build_silver
    from tests.conftest import SF_SMALL

    silver = build_silver(spark, SF_SMALL)
    observed, obs = observe_silver_quality(silver)
    observed.write.mode("overwrite").parquet(str(tmp_path / "silver"))
    m = obs.get
    direct = silver.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("amt").isNull(), 1).otherwise(0)).alias("null_amt"),
        F.min("trans_timestamp").alias("min_ts"),
        F.max("trans_timestamp").alias("max_ts"),
    ).collect()[0]
    assert m["rows"] == direct["rows"] > 0
    assert m["null_amt"] == direct["null_amt"]
    assert m["min_ts"] == direct["min_ts"]
    assert m["max_ts"] == direct["max_ts"]
    assert m["null_ts"] == 0
    # regression guard: QualityObservation.get must leave no
    # ObservationManager listener on the session (Spark 4.1 leaks it and
    # later Spark-ML transforms die with Task-not-serializable)
    from real_time_fraud_detection_lakehouse_spark.plans.quality import (
        _listener_entries,
    )

    assert _listener_entries(spark) == []


def test_observe_then_ml_transform_same_session(spark):
    """Observe → metric read → Spark-ML fit/transform in ONE session.

    Spark 4.1's ObservationManager leaves its QueryExecutionListener
    registered forever after the first Observation completes; that
    listener then gets captured into ML task closures and every
    transform fails with NotSerializableException: ObservationManager.
    QualityObservation.get detaches it — this test locks the cure in,
    and also proves a SECOND observation still completes after the
    detach (the re-attach path)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler
    from pyspark.sql import functions as F

    from real_time_fraud_detection_lakehouse_spark.plans.quality import (
        observe_silver_quality,
    )
    from real_time_fraud_detection_lakehouse_spark.plans.silver import build_silver
    from tests.conftest import SF_SMALL

    silver = build_silver(spark, SF_SMALL)
    observed, obs = observe_silver_quality(silver)
    observed.count()
    first = obs.get
    assert first["rows"] > 0

    # the poisoned path: ML fit + transform on the same session
    data = spark.range(200).select(
        F.col("id").cast("double").alias("x"),
        (F.col("id") % 2).cast("double").alias("label"),
    )
    features = VectorAssembler(inputCols=["x"], outputCol="features").transform(data)
    model = LogisticRegression(maxIter=2).fit(features)
    assert model.transform(features).count() == 200

    # second observation round-trips after the detach (re-attach works)
    observed2, obs2 = observe_silver_quality(silver)
    observed2.count()
    assert obs2.get["rows"] == first["rows"]


def test_df_to_markdown_truncates_and_plans_limit(spark):
    from real_time_fraud_detection_lakehouse_spark.functions.present import (
        df_to_markdown,
    )

    df = spark.range(100).selectExpr("id", "id * 2 AS double_id")
    md = df_to_markdown(df, max_rows=5)
    lines = md.splitlines()
    assert lines[0] == "| id | double_id |"
    assert lines[1].startswith("| ---")
    assert len([l for l in lines if l.startswith("| ") and "---" not in l and "id |" not in l or l.startswith("| 0")]) >= 5
    assert "_Showing first 5 rows._" in md
    # small results are not annotated
    assert "_Showing" not in df_to_markdown(df.limit(3), max_rows=5)


def test_spread_small_input_guard_semantics(spark):
    """spread_small_input: repartitions a below-parallelism input up
    to defaultParallelism, leaves an already-wide input untouched
    (same plan object), and never changes row content."""
    from real_time_fraud_detection_lakehouse_spark.core.catalog import (
        spread_small_input,
    )

    p = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 100).coalesce(1)
    spreaded = spread_small_input(narrow)
    assert spreaded.rdd.getNumPartitions() == p
    assert sorted(r["id"] for r in spreaded.collect()) == list(range(100))

    wide = spark.range(0, 100, 1, p)
    assert spread_small_input(wide) is wide  # no-op path returns input


def test_bench_flag_movers_trips_on_synthetic_slowdown():
    """Round-12 verdict #8: the probe-normalized regression gate. A
    synthetic 3x probe-relative slowdown trips the flag; clean runs
    (ratios within 2x) and sub-probe noise entries flag nothing; a
    missing prior detail (first run) flags nothing."""
    import bench

    prior = {
        "calibration": {
            "queries_probe_relative": {
                "steady": 4.0,
                "slowed": 2.0,
                "tiny": 0.1,
                "retired": 1.0,
            }
        }
    }
    clean = {
        "calibration": {
            "queries_probe_relative": {
                "steady": 5.0,   # 1.25x — inside the band
                "slowed": 2.1,
                "tiny": 0.3,     # 3x but sub-probe: exempt noise
                "new_op": 9.9,   # no prior: never flagged
            }
        }
    }
    assert bench._flag_movers(clean, prior) == []
    assert bench._flag_movers(clean, None) == []

    slowed = {
        "calibration": {
            "queries_probe_relative": {"steady": 4.1, "slowed": 6.0}
        }
    }
    assert bench._flag_movers(slowed, prior) == [("slowed", 2.0, 6.0)]
    # the min()-exemption bug class: a regression FROM sub-probe TO
    # well past the probe floor must flag (round-13 review finding)
    from_tiny = {
        "calibration": {"queries_probe_relative": {"steady": 4.1, "tiny": 9.0}}
    }
    assert bench._flag_movers(from_tiny, prior) == [("tiny", 0.1, 9.0)]
    # either direction: a 3x speed-UP is also worth a look
    sped = {
        "calibration": {"queries_probe_relative": {"steady": 1.2}}
    }
    assert bench._flag_movers(sped, prior) == [("steady", 4.0, 1.2)]
    # round-13 advice: a stored 0.0 ratio (sub-probe timing rounded
    # down) paired with a past-floor mover must not crash the sort key
    zero_prior = {
        "calibration": {"queries_probe_relative": {"z": 0.0, "steady": 4.0}}
    }
    zero_cur = {
        "calibration": {"queries_probe_relative": {"z": 9.0, "steady": 4.0}}
    }
    assert bench._flag_movers(zero_cur, zero_prior) == [("z", 0.0, 9.0)]
    # and the reverse direction (current side stored as 0.0)
    assert bench._flag_movers(zero_prior, zero_cur) == [("z", 9.0, 0.0)]


def test_bench_timer_spans_every_sample(spark):
    """bench.timed: min of N samples, one span per sample with the
    builder's and the action's share as the call's extra, the cold
    first sample told apart by its span index."""
    import bench
    from lakebench.trace import Tracer

    tracer = Tracer(False)
    built = []

    def build():
        built.append(1)
        return spark.range(10).selectExpr("sum(id)")

    best = bench.timed(tracer, "tiny", build, n=3)
    assert len(built) == 3
    assert [(c.span, c.index) for c in tracer.calls] == [("tiny", 0), ("tiny", 1), ("tiny", 2)]
    assert best == round(min(c.wall_ms for c in tracer.calls) / 1000.0, 3)
    for c in tracer.calls:
        assert set(c.extra) == {"build_ms", "exec_ms"}
        assert 0 <= c.extra["build_ms"] + c.extra["exec_ms"] <= c.wall_ms
    # a second timing of the same span continues its index: only the
    # span's first call in a session is cold
    bench.timed(tracer, "tiny", lambda: None, n=1)
    assert tracer.calls[-1].index == 3


def test_bench_medallion_frames_match_gold_frames(spark, tmp_path):
    """The bench's materialized medallion hands out ``gold_frames``'
    frames: the same names, and ``transactions`` is the raw source
    (not the filtered, wider silver), schema-equal to gold_frames'."""
    import bench

    from real_time_fraud_detection_lakehouse_spark.plans.gold import gold_frames

    frames = bench.medallion_frames(spark, SF_SMALL, str(tmp_path))
    lazy = gold_frames(spark, SF_SMALL)
    assert set(frames) == set(lazy)
    assert frames["transactions"].schema == lazy["transactions"].schema
    # the entry lookup resolves views over these frames and raises on
    # an unregistered name
    builder, got = bench.entry(spark, "daily_summary", {}, SF_SMALL, str(tmp_path))
    assert set(got) == set(lazy) and callable(builder)
    with pytest.raises(KeyError):
        bench.entry(spark, "no_such_entry", {}, SF_SMALL, str(tmp_path))
