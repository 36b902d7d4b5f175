"""Silver layer: quality filter → typed projection → fillna → feature
engineering.

Re-expresses `/root/reference/spark/app/silver_job.py:106-236` as one
declarative DataFrame pipeline (the reference's per-row haversine UDF
becomes a native column expression — see functions/features.py). The
whole layer is a narrow projection: at 100 TB it is bounded by parquet
scan + write, with zero shuffles.

``SILVER_CTE`` is the DuckDB-dialect twin used by the oracle harness;
it references a CTE named ``transactions`` (sources/transactions.py)
and must stay in lock-step with :func:`build_silver`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_fraud_detection_lakehouse_spark.core.catalog import spread_small_input
from real_time_fraud_detection_lakehouse_spark.functions.features import with_silver_features
from real_time_fraud_detection_lakehouse_spark.sources.transactions import (
    TRANSACTIONS_CTE,
    dround_sql,
    transactions_df,
)

#: fillna defaults per silver_job.py:187-196.
FILLNA = {
    "amt": 0.0,
    "first": "Unknown",
    "last": "Unknown",
    "gender": "U",
    "city": "Unknown",
    "state": "Unknown",
    "job": "Unknown",
    "is_fraud": 0,
}

#: Engineered columns added by the silver layer (assertion target).
SILVER_FEATURES = [
    "distance_km",
    "age",
    "hour",
    "day_of_week",
    "is_weekend",
    "hour_sin",
    "hour_cos",
    "log_amount",
    "is_zero_amount",
    "is_high_amount",
    "amount_bin",
    "gender_encoded",
    "is_distant_transaction",
    "is_late_night",
    "year",
    "month",
    "day",
]


#: Payload fields the change stream carries as strings (bronze keeps
#: them raw, core/schemas.py) → the type ``transactions_df`` gives them.
#: ``dob`` arrives as epoch days and is handled apart.
_PAYLOAD_TYPES = {
    "cc_num": "bigint",
    "zip": "int",
    "lat": "double",
    "long": "double",
    "city_pop": "bigint",
    "unix_time": "bigint",
    "merch_lat": "double",
    "merch_long": "double",
    "is_fraud": "int",
}


def _typed_payload(df: DataFrame) -> DataFrame:
    """Cast the string payload columns of a bronze table to the typed
    source's types. Columns that are already typed are left alone, so a
    typed source gets no projection at all."""
    strings = {name for name, dtype in df.dtypes if dtype == "string"}
    casts = {c: F.col(c).cast(t) for c, t in _PAYLOAD_TYPES.items() if c in strings}
    if "dob" in strings:
        casts["dob"] = F.date_from_unix_date(F.col("dob").cast("int"))
    return df.withColumns(casts) if casts else df


def build_silver(
    spark: SparkSession,
    sf_dir: str | None = None,
    source: DataFrame | None = None,
) -> DataFrame:
    """Typed, feature-engineered silver DataFrame over ``source`` (a
    bronze table or a typed transactions frame), or over the
    transactions of ``sf_dir``.

    The reference's ``ingestion_time`` audit column
    (silver_job.py:101) is not added: it is nondeterministic and must
    not enter oracle-compared output.
    """
    if source is None:
        # small-input parallelism floor: the whole layer is narrow, so a
        # single-row-group testdata file would otherwise run the entire
        # JSON+feature pipeline on one core (measured 2.3x at sf0.1)
        df = spread_small_input(transactions_df(spark, sf_dir))
    else:
        df = source
    df = df.filter(F.col("trans_num").isNotNull())
    df = _typed_payload(df)
    df = df.fillna(FILLNA)
    return with_silver_features(df)


def _haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """DuckDB haversine (atan2 form), mirrors functions.features.haversine_km."""
    dphi = f"radians({lat2} - {lat1})"
    dlam = f"radians({lon2} - {lon1})"
    a = (
        f"(pow(sin({dphi} / 2), 2) + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * pow(sin({dlam} / 2), 2))"
    )
    return f"(6371.0::DOUBLE * 2 * atan2(sqrt({a}), sqrt(1 - {a})))"


_DIST = _haversine_sql("lat", "long", "merch_lat", "merch_long")

#: DuckDB silver CTE body (expects a ``transactions`` CTE in scope).
SILVER_CTE = f"""
SELECT
  t.* REPLACE (
    COALESCE(amt, 0.0::DOUBLE) AS amt,
    COALESCE(first, 'Unknown') AS first,
    COALESCE(last, 'Unknown') AS last,
    COALESCE(gender, 'U') AS gender,
    COALESCE(city, 'Unknown') AS city,
    COALESCE(state, 'Unknown') AS state,
    COALESCE(job, 'Unknown') AS job,
    COALESCE(is_fraud, 0) AS is_fraud
  ),
  CASE WHEN lat IS NULL OR long IS NULL OR merch_lat IS NULL OR merch_long IS NULL
       THEN -1.0::DOUBLE
       ELSE {dround_sql(_DIST)} END AS distance_km,
  CAST(FLOOR(date_diff('day', dob, CAST(trans_timestamp AS DATE)) / 365.25::DOUBLE)
       AS BIGINT) AS age,
  CAST(hour(trans_timestamp) AS INTEGER) AS hour,
  CAST(dayofweek(trans_timestamp) + 1 AS INTEGER) AS day_of_week,
  CASE WHEN dayofweek(trans_timestamp) + 1 IN (1, 7) THEN 1 ELSE 0 END AS is_weekend,
  {dround_sql("sin(2 * 3.14159::DOUBLE * hour(trans_timestamp) / 24)")} AS hour_sin,
  {dround_sql("cos(2 * 3.14159::DOUBLE * hour(trans_timestamp) / 24)")} AS hour_cos,
  CASE WHEN COALESCE(amt, 0.0::DOUBLE) > 0
       THEN {dround_sql("ln(1 + COALESCE(amt, 0.0::DOUBLE))")}
       ELSE 0.0::DOUBLE END AS log_amount,
  CASE WHEN COALESCE(amt, 0.0::DOUBLE) = 0 THEN 1 ELSE 0 END AS is_zero_amount,
  CASE WHEN COALESCE(amt, 0.0::DOUBLE) > 500 THEN 1 ELSE 0 END AS is_high_amount,
  CASE WHEN COALESCE(amt, 0.0::DOUBLE) < 10 THEN 1
       WHEN COALESCE(amt, 0.0::DOUBLE) < 50 THEN 2
       WHEN COALESCE(amt, 0.0::DOUBLE) < 100 THEN 3
       WHEN COALESCE(amt, 0.0::DOUBLE) < 500 THEN 4
       ELSE 5 END AS amount_bin,
  CASE WHEN COALESCE(gender, 'U') = 'M' THEN 1 ELSE 0 END AS gender_encoded,
  CASE WHEN (CASE WHEN lat IS NULL OR long IS NULL OR merch_lat IS NULL OR merch_long IS NULL
                  THEN -1.0::DOUBLE ELSE {dround_sql(_DIST)} END) > 100
       THEN 1 ELSE 0 END AS is_distant_transaction,
  CASE WHEN hour(trans_timestamp) >= 23 OR hour(trans_timestamp) <= 5
       THEN 1 ELSE 0 END AS is_late_night,
  CAST(year(trans_timestamp) AS INTEGER) AS year,
  CAST(month(trans_timestamp) AS INTEGER) AS month,
  CAST(day(trans_timestamp) AS INTEGER) AS day
FROM transactions t
WHERE trans_num IS NOT NULL
"""


def silver_prelude() -> str:
    """WITH-clause prelude for oracle queries over silver."""
    return f"WITH transactions AS ({TRANSACTIONS_CTE}),\nsilver AS ({SILVER_CTE})"
