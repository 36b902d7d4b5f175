"""Silver layer: Spark pipeline ≡ DuckDB oracle CTE, plus the
reference's own documented unit cases (docs/DEVELOPER_GUIDE.md:1224-1317)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL, compare_frames, register_duck_views

from real_time_fraud_detection_lakehouse_spark.functions import features as feat
from real_time_fraud_detection_lakehouse_spark.plans.silver import (
    build_silver,
    silver_prelude,
)


def test_silver_matches_oracle(spark, duck):
    register_duck_views(duck, SF_SMALL)
    sdf = build_silver(spark, SF_SMALL)
    rel = duck.sql(f"{silver_prelude()} SELECT * FROM silver")
    compare_frames(sdf, rel)


def test_haversine_nyc_la(spark):
    """Reference's documented unit case: NYC→LA ∈ (3900, 4000) km."""
    df = spark.range(1).select(
        feat.haversine_km(
            F.lit(40.7128), F.lit(-74.0060), F.lit(34.0522), F.lit(-118.2437)
        ).alias("d")
    )
    d = df.collect()[0]["d"]
    assert 3900 < d < 4000, d


def test_haversine_null_sentinel(spark):
    df = spark.range(1).select(
        feat.haversine_km(
            F.lit(None).cast("double"), F.lit(-74.0), F.lit(34.0), F.lit(-118.0)
        ).alias("d")
    )
    assert df.collect()[0]["d"] == -1.0


def test_amount_bin_edges(spark):
    rows = (
        spark.createDataFrame(
            [(0.0,), (9.99,), (10.0,), (49.99,), (50.0,), (99.99,), (100.0,), (499.99,), (500.0,), (1850.0,)],
            "amt double",
        )
        .select("amt", feat.amount_bin(F.col("amt")).alias("bin"))
        .collect()
    )
    got = {r["amt"]: r["bin"] for r in rows}
    assert got == {0.0: 1, 9.99: 1, 10.0: 2, 49.99: 2, 50.0: 3, 99.99: 3, 100.0: 4, 499.99: 4, 500.0: 5, 1850.0: 5}


def test_cyclic_encoding_round_trip(spark):
    rows = (
        spark.range(24)
        .select(
            F.col("id").alias("h"),
            feat.cyclic_hour(F.col("id"))[0].alias("s"),
            feat.cyclic_hour(F.col("id"))[1].alias("c"),
        )
        .collect()
    )
    for r in rows:
        assert abs(r["s"] ** 2 + r["c"] ** 2 - 1.0) < 1e-9
        # reference uses the 3.14159 literal, not math.pi
        assert abs(r["s"] - math.sin(2 * 3.14159 * r["h"] / 24)) < 1e-12


def test_bronze_stream_silver_increment_equals_typed_silver(spark, tmp_path):
    """Bronze keeps the Debezium payload as strings and silver casts:
    CDC fixture → bronze stream → HWM silver increment yields exactly
    the rows (and types) of silver over the typed source, minus the
    tombstoned keys. A typed source gets no cast projection at all."""
    from real_time_fraud_detection_lakehouse_spark.plans.incremental import (
        incremental_silver_batch,
    )
    from real_time_fraud_detection_lakehouse_spark.plans.silver import _typed_payload
    from real_time_fraud_detection_lakehouse_spark.sources.transactions import (
        transactions_df,
    )
    from real_time_fraud_detection_lakehouse_spark.streaming.bronze import (
        TOMBSTONE_MOD,
        run_bronze_stream,
        write_cdc_fixture,
    )

    cdc, bronze = str(tmp_path / "cdc"), str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    n = write_cdc_fixture(spark, SF_SMALL, cdc)
    run_bronze_stream(spark, cdc, bronze, str(tmp_path / "ckpt"))
    assert incremental_silver_batch(spark, bronze, silver) == n

    tx = transactions_df(spark, SF_SMALL)
    assert _typed_payload(tx) is tx
    want = build_silver(spark, source=tx).filter(
        F.pmod(F.xxhash64("trans_num"), F.lit(TOMBSTONE_MOD)) != 0
    )
    got = spark.read.parquet(silver).select(*want.columns)
    assert got.dtypes == want.dtypes
    rows = sorted(tuple(r) for r in got.collect())
    assert len(rows) == n and rows == sorted(tuple(r) for r in want.collect())
