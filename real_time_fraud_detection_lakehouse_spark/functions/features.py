"""Feature-engineering column expressions — the engine's single source
of truth, shared by batch silver, streaming scoring, and ML.

Every function returns a native ``pyspark.sql.Column`` built from
built-in functions only, so the whole feature block stays inside
whole-stage codegen (no Python serialization). The reference computes
the same features with a row-at-a-time Python UDF for haversine
(`/root/reference/spark/app/silver_job.py:33-48`) and `withColumn`
chains for the rest (`silver_job.py:50-104`); this module re-expresses
all of them as vectorized JVM expressions.

Canonical definitions: where the reference disagrees with itself
(SURVEY.md §2.13 — silver layer vs API shim use different bins /
encodings), the *silver* definitions are canonical here; the API
variants are available behind ``api_compat=True`` flags where needed.

Scale note: all of these are narrow per-row projections — no shuffle,
no state. They cost one codegen stage regardless of data size, so the
silver pipeline's cost at 100 TB is the parquet scan + write, not the
feature math.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: The reference hard-codes 3.14159 (silver_job.py:71-72), not math.pi.
#: We keep that literal for bit-parity of hour_sin/hour_cos with the
#: reference silver layer; the exact-pi variant is REF_PI_EXACT.
REF_PI = 3.14159

EARTH_RADIUS_KM = 6371.0


def haversine_km(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column, null_default: float = -1.0
) -> Column:
    """Great-circle distance in km as a native column expression.

    Replaces the reference's Python UDF (silver_job.py:33-48) with the
    same atan2 formulation, fully JVM-side. Null coordinates yield the
    ``null_default`` sentinel (-1 in silver per silver_job.py:57-58;
    the realtime path uses 10.0 per realtime_prediction_job.py:86-87 —
    pass null_default=10.0 for that compat mode).
    """
    phi1 = F.radians(lat1)
    phi2 = F.radians(lat2)
    dphi = F.radians(lat2 - lat1)
    dlambda = F.radians(lon2 - lon1)
    a = F.pow(F.sin(dphi / 2), 2) + F.cos(phi1) * F.cos(phi2) * F.pow(F.sin(dlambda / 2), 2)
    c = 2 * F.atan2(F.sqrt(a), F.sqrt(1 - a))
    dist = F.lit(EARTH_RADIUS_KM) * c
    any_null = lat1.isNull() | lon1.isNull() | lat2.isNull() | lon2.isNull()
    return F.when(any_null, F.lit(float(null_default))).otherwise(dist)


def age_years(ts: Column, dob: Column) -> Column:
    """Age in whole years: floor(datediff/365.25), null → -1
    (silver_job.py:61-64)."""
    age = F.floor(F.datediff(ts, dob) / 365.25)
    return F.when(age.isNull(), F.lit(-1).cast("bigint")).otherwise(age)


def is_weekend(day_of_week: Column) -> Column:
    """1 for Sunday(1)/Saturday(7) in Spark dayofweek encoding
    (silver_job.py:69-70)."""
    return F.when(day_of_week.isin(1, 7), 1).otherwise(0)


def cyclic_hour(hour: Column) -> tuple[Column, Column]:
    """(hour_sin, hour_cos) with the reference's 3.14159 literal
    (silver_job.py:71-72)."""
    angle = 2 * REF_PI * hour / 24
    return F.sin(angle), F.cos(angle)


def log_amount(amt: Column) -> Column:
    """log1p(amt) guarded to 0 for non-positive amounts
    (silver_job.py:76)."""
    return F.when(amt > 0, F.log1p(amt)).otherwise(F.lit(0.0))


def is_zero_amount(amt: Column) -> Column:
    return F.when(amt == 0, 1).otherwise(0)


def is_high_amount(amt: Column) -> Column:
    return F.when(amt > 500, 1).otherwise(0)


def amount_bin(amt: Column, api_compat: bool = False) -> Column:
    """5-way amount bucket.

    Canonical (silver, silver_job.py:79-84): <10→1, 10-50→2, 50-100→3,
    100-500→4, else→5. API shim variant (feature_engineering.py:58-69):
    0→0, ≤100→1, ≤300→2, ≤500→3, ≤1000→4, else 5.
    """
    if api_compat:
        return (
            F.when(amt == 0, 0)
            .when(amt <= 100, 1)
            .when(amt <= 300, 2)
            .when(amt <= 500, 3)
            .when(amt <= 1000, 4)
            .otherwise(5)
        )
    return (
        F.when(amt < 10, 1)
        .when((amt >= 10) & (amt < 50), 2)
        .when((amt >= 50) & (amt < 100), 3)
        .when((amt >= 100) & (amt < 500), 4)
        .otherwise(5)
    )


def gender_encoded(gender: Column, api_compat: bool = False) -> Column:
    """M→1 else 0 (silver canonical, silver_job.py:87). The API shim
    inverts it (feature_engineering.py:84)."""
    if api_compat:
        return F.when(gender == "M", 0).otherwise(1)
    return F.when(gender == "M", 1).otherwise(0)


def is_distant_transaction(distance_km: Column, api_compat: bool = False) -> Column:
    """distance>100 (and a valid, non-sentinel distance) — silver
    canonical (silver_job.py:90-91); API uses >50
    (feature_engineering.py:72)."""
    threshold = 50 if api_compat else 100
    return F.when((distance_km > threshold) & (distance_km >= 0), 1).otherwise(0)


def is_late_night(hour: Column) -> Column:
    """hour >= 23 or hour <= 5 (silver_job.py:92-93)."""
    return F.when((hour >= 23) | (hour <= 5), 1).otherwise(0)


def time_period(hour: Column) -> Column:
    """Morning/Afternoon/Evening/Night bucket (gold_job.py:144-149)."""
    return (
        F.when(hour.between(6, 11), "Morning")
        .when(hour.between(12, 17), "Afternoon")
        .when(hour.between(18, 22), "Evening")
        .otherwise("Night")
    )


def surrogate_key(*cols: Column) -> Column:
    """abs(hash(concat(...))) Murmur3 surrogate key
    (gold_job.py:111,170). Engine-specific: never compare across
    engines — oracle checks must join on natural keys instead."""
    return F.abs(F.hash(F.concat(*cols)))


def rule_fraud_score(
    amt: Column, distance_km: Column, hour: Column, age: Column
) -> Column:
    """Rule-based fraud score in [0,1] — weighted flag sum, the
    engine-internal stand-in for the reference's API fallback scorer
    (services/fraud-detection-api/app/main.py:603-621 semantics:
    additive weights for high amount / distance / late night / young
    cardholder, capped at 1)."""
    score = (
        F.when(amt > 1000, 0.4).otherwise(0.0)
        + F.when(amt > 500, 0.1).otherwise(0.0)
        + F.when((distance_km > 200) & (distance_km >= 0), 0.3).otherwise(0.0)
        + F.when((hour >= 23) | (hour <= 5), 0.2).otherwise(0.0)
        + F.when((age >= 0) & (age < 25), 0.1).otherwise(0.0)
    )
    return F.least(score, F.lit(1.0))


def risk_level(score: Column) -> Column:
    """HIGH>0.7, MEDIUM>0.4, else LOW — canonical per the code path
    (main.py:409-414; config/docs disagree, SURVEY §2.13)."""
    return (
        F.when(score > 0.7, "HIGH").when(score > 0.4, "MEDIUM").otherwise("LOW")
    )


#: Decimal digits the transcendental silver features are rounded to;
#: the DuckDB oracle (plans/silver.SILVER_CTE) rounds identically.
SILVER_ROUND_DIGITS = 6


def with_silver_features(df: DataFrame) -> DataFrame:
    """Apply the full silver feature block (silver_job.py:50-104
    semantics) to a typed transactions DataFrame.

    Input must carry: lat, long, merch_lat, merch_long, dob, amt,
    gender and the ``trans_timestamp`` timestamp. Adds 14 engineered
    columns + year/month/day partition columns. Pure projection — no
    shuffle.

    The transcendental features (distance_km, hour_sin/cos,
    log_amount) are rounded to ``SILVER_ROUND_DIGITS`` with a
    deterministic floor-based rounding so results are bit-identical to
    the DuckDB oracle regardless of libm ulp differences; dependent
    flags (is_distant_transaction) are computed from the rounded value
    so threshold rows can never flip between engines.
    """
    from real_time_fraud_detection_lakehouse_spark.sources.transactions import dround

    def _r(col: Column) -> Column:
        return dround(col, SILVER_ROUND_DIGITS)

    ts = F.col("trans_timestamp")
    hour = F.hour(ts)
    dow = F.dayofweek(ts)
    dist_raw = haversine_km(F.col("lat"), F.col("long"), F.col("merch_lat"), F.col("merch_long"))
    # keep the -1 sentinel exact: only round genuine distances
    dist = F.when(dist_raw < 0, dist_raw).otherwise(_r(dist_raw))
    hsin_raw, hcos_raw = cyclic_hour(hour)
    hsin, hcos = _r(hsin_raw), _r(hcos_raw)
    # one projection for the block: ``withColumns`` analyses the plan
    # once, where a chain of ``withColumn`` re-analyses it per column.
    # distance_km goes first because is_distant_transaction reads it.
    return df.withColumn("distance_km", dist).withColumns(
        {
            "age": age_years(ts, F.col("dob")),
            "hour": hour,
            "day_of_week": dow,
            "is_weekend": is_weekend(dow),
            "hour_sin": hsin,
            "hour_cos": hcos,
            "log_amount": _r(log_amount(F.col("amt"))),
            "is_zero_amount": is_zero_amount(F.col("amt")),
            "is_high_amount": is_high_amount(F.col("amt")),
            "amount_bin": amount_bin(F.col("amt")),
            "gender_encoded": gender_encoded(F.col("gender")),
            "is_distant_transaction": is_distant_transaction(F.col("distance_km")),
            "is_late_night": is_late_night(hour),
            "year": F.year(ts),
            "month": F.month(ts),
            "day": F.dayofmonth(ts),
        }
    )
