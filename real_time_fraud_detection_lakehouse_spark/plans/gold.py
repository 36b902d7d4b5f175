"""Gold star schema: 4 dimensions + 1 fact, built by projection/dedup
from silver (`/root/reference/spark/app/gold_job.py:77-223` semantics).

Two variants per dimension:

- ``*_faithful`` — the reference's exact shape (dropDuplicates on the
  natural key, audit ``last_updated`` column, Murmur3 surrogate keys).
  dropDuplicates keeps an *arbitrary* row per key, so any column that
  is not functionally determined by the key is nondeterministic —
  fine for the engine, unusable for cross-engine comparison.
- oracle-stable builders (the default exports) — project only columns
  functionally determined by the dedup key (or aggregate the rest
  with min()), no audit columns. These are what __spark_entry__
  registers; the faithful variants are exercised in pytest.

Scale notes: dims dedup via hash aggregation on the key — map-side
partial aggregation makes this cheap even at 100 TB because dim
cardinality ≪ fact cardinality. The fact table is a pure projection
(no shuffle). Dim dedup across incremental runs uses overwrite of the
(tiny) dim output rather than the reference's append-duplicates bug
(SURVEY §2.13 A16) — see tests/test_gold.py::test_dim_idempotent.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_fraud_detection_lakehouse_spark.functions.features import surrogate_key, time_period
from real_time_fraud_detection_lakehouse_spark.plans.silver import silver_prelude


def fact_transactions(silver: DataFrame) -> DataFrame:
    """Fact projection (gold_job.py:192-217), minus the two
    current_timestamp audit columns (nondeterministic, so they must not
    enter oracle-compared output; a writer adds them at write time)."""
    ts = F.col("trans_timestamp")
    return silver.select(
        F.col("trans_num").alias("transaction_key"),
        F.col("cc_num").alias("customer_key"),
        F.col("merchant"),
        F.date_format(ts, "yyyyMMddHH").alias("time_key"),
        F.col("amt").alias("transaction_amount"),
        F.col("is_fraud"),
        ts.alias("transaction_timestamp"),
        F.col("category").alias("transaction_category"),
        F.col("unix_time"),
        F.col("distance_km"),
        F.col("age").alias("customer_age_at_transaction"),
        F.col("log_amount"),
        F.col("amount_bin"),
        F.col("is_distant_transaction"),
        F.col("is_late_night"),
        F.col("is_zero_amount"),
        F.col("is_high_amount"),
        F.col("hour").alias("transaction_hour"),
        F.col("day_of_week").alias("transaction_day_of_week"),
        F.col("is_weekend").alias("is_weekend_transaction"),
        F.col("hour_sin"),
        F.col("hour_cos"),
    )


def dim_customer(silver: DataFrame) -> DataFrame:
    """Customer dim keyed by cc_num (gold_job.py:77-93), oracle-stable
    subset: drops ``age`` (transaction-dependent → arbitrary under
    dedup) and ``last_updated``."""
    return silver.select(
        F.col("cc_num").alias("customer_key"),
        F.col("first").alias("first_name"),
        F.col("last").alias("last_name"),
        F.col("gender"),
        F.col("dob").alias("date_of_birth"),
        F.col("street"),
        F.col("city").alias("customer_city"),
        F.col("state").alias("customer_state"),
        F.col("zip").alias("customer_zip"),
        F.col("lat").alias("customer_lat"),
        F.col("long").alias("customer_long"),
        F.col("city_pop").alias("customer_city_population"),
        F.col("job"),
    ).dropDuplicates(["customer_key"])


def dim_merchant(silver: DataFrame) -> DataFrame:
    """Merchant dim keyed by (merchant, lat, long) (gold_job.py:105-119).
    merchant_category is not functional of the key, so the
    oracle-stable variant aggregates it with min()."""
    return (
        silver.groupBy(
            F.col("merchant"),
            F.col("merch_lat").alias("merchant_lat"),
            F.col("merch_long").alias("merchant_long"),
        )
        .agg(F.min("category").alias("merchant_category"))
        .select("merchant", "merchant_category", "merchant_lat", "merchant_long")
    )


def dim_time(silver: DataFrame) -> DataFrame:
    """Time dim at hour grain keyed by yyyyMMddHH (gold_job.py:131-150),
    oracle-stable subset: drops full_timestamp/minute (sub-key grain)."""
    ts = F.col("trans_timestamp")
    hour = F.hour(ts)
    dow = F.dayofweek(ts)
    return silver.select(
        F.date_format(ts, "yyyyMMddHH").alias("time_key"),
        F.year(ts).alias("year"),
        F.month(ts).alias("month"),
        F.dayofmonth(ts).alias("day"),
        hour.alias("hour"),
        dow.alias("day_of_week"),
        F.weekofyear(ts).alias("week_of_year"),
        F.quarter(ts).alias("quarter"),
        F.date_format(ts, "EEEE").alias("day_name"),
        F.date_format(ts, "MMMM").alias("month_name"),
        F.when((dow == 1) | (dow == 7), 1).otherwise(0).alias("is_weekend"),
        time_period(hour).alias("time_period"),
    ).dropDuplicates(["time_key"])


def dim_location(silver: DataFrame) -> DataFrame:
    """Location dim keyed by (city, state, zip) (gold_job.py:162-180)."""
    return silver.select(
        "city", "state", "zip", "lat", "long", "city_pop"
    ).dropDuplicates(["city", "state", "zip"])


def dim_customer_faithful(silver: DataFrame) -> DataFrame:
    """Reference-exact customer dim incl. age + last_updated
    (gold_job.py:77-93). Not oracle-comparable (arbitrary row pick)."""
    return (
        silver.select(
            F.col("cc_num").alias("customer_key"),
            F.col("first").alias("first_name"),
            F.col("last").alias("last_name"),
            "gender",
            F.col("dob").alias("date_of_birth"),
            "age",
            "street",
            F.col("city").alias("customer_city"),
            F.col("state").alias("customer_state"),
            F.col("zip").alias("customer_zip"),
            F.col("lat").alias("customer_lat"),
            F.col("long").alias("customer_long"),
            F.col("city_pop").alias("customer_city_population"),
            "job",
        )
        .dropDuplicates(["customer_key"])
        .withColumn("last_updated", F.current_timestamp())
    )


def dim_merchant_faithful(silver: DataFrame) -> DataFrame:
    """Reference-exact merchant dim with Murmur3 surrogate key
    (gold_job.py:105-119)."""
    return (
        silver.select(
            "merchant",
            F.col("category").alias("merchant_category"),
            F.col("merch_lat").alias("merchant_lat"),
            F.col("merch_long").alias("merchant_long"),
        )
        .dropDuplicates(["merchant", "merchant_lat", "merchant_long"])
        .withColumn(
            "merchant_key",
            surrogate_key(
                F.col("merchant"),
                F.col("merchant_lat").cast("string"),
                F.col("merchant_long").cast("string"),
            ),
        )
        .select(
            "merchant_key",
            "merchant",
            "merchant_category",
            "merchant_lat",
            "merchant_long",
            F.current_timestamp().alias("last_updated"),
        )
    )


# --- DuckDB twins -----------------------------------------------------------

FACT_CTE = """
SELECT
  trans_num AS transaction_key,
  cc_num AS customer_key,
  merchant,
  strftime(trans_timestamp, '%Y%m%d%H') AS time_key,
  amt AS transaction_amount,
  is_fraud,
  trans_timestamp AS transaction_timestamp,
  category AS transaction_category,
  unix_time,
  distance_km,
  age AS customer_age_at_transaction,
  log_amount,
  amount_bin,
  is_distant_transaction,
  is_late_night,
  is_zero_amount,
  is_high_amount,
  hour AS transaction_hour,
  day_of_week AS transaction_day_of_week,
  is_weekend AS is_weekend_transaction,
  hour_sin,
  hour_cos
FROM silver
"""

DIM_CUSTOMER_CTE = """
SELECT DISTINCT
  cc_num AS customer_key,
  first AS first_name,
  last AS last_name,
  gender,
  dob AS date_of_birth,
  street,
  city AS customer_city,
  state AS customer_state,
  zip AS customer_zip,
  lat AS customer_lat,
  long AS customer_long,
  city_pop AS customer_city_population,
  job
FROM silver
"""

DIM_MERCHANT_CTE = """
SELECT
  merchant,
  min(category) AS merchant_category,
  merch_lat AS merchant_lat,
  merch_long AS merchant_long
FROM silver
GROUP BY merchant, merch_lat, merch_long
"""

DIM_TIME_CTE = """
SELECT DISTINCT
  strftime(trans_timestamp, '%Y%m%d%H') AS time_key,
  CAST(year(trans_timestamp) AS INTEGER) AS year,
  CAST(month(trans_timestamp) AS INTEGER) AS month,
  CAST(day(trans_timestamp) AS INTEGER) AS day,
  CAST(hour(trans_timestamp) AS INTEGER) AS hour,
  CAST(dayofweek(trans_timestamp) + 1 AS INTEGER) AS day_of_week,
  CAST(weekofyear(trans_timestamp) AS INTEGER) AS week_of_year,
  CAST(quarter(trans_timestamp) AS INTEGER) AS quarter,
  strftime(trans_timestamp, '%A') AS day_name,
  strftime(trans_timestamp, '%B') AS month_name,
  CASE WHEN dayofweek(trans_timestamp) + 1 IN (1, 7) THEN 1 ELSE 0 END AS is_weekend,
  CASE WHEN hour(trans_timestamp) BETWEEN 6 AND 11 THEN 'Morning'
       WHEN hour(trans_timestamp) BETWEEN 12 AND 17 THEN 'Afternoon'
       WHEN hour(trans_timestamp) BETWEEN 18 AND 22 THEN 'Evening'
       ELSE 'Night' END AS time_period
FROM silver
"""

DIM_LOCATION_CTE = """
SELECT DISTINCT city, state, zip, lat, long, city_pop FROM silver
"""


#: Keyed on the session OBJECT (not id()) so a stopped session's entry can
#: never alias a new session that reuses the same id() — that was the real
#: bug. Note the weak key does NOT free entries in practice: the cached
#: DataFrames hold a strong reference back to their SparkSession
#: (value→key cycle keeps the key alive), so entries live until process
#: exit — bounded, since a process creates a handful of sessions and each
#: entry is a few lazy plan graphs. Inner dict maps sf_dir → frames.
_FRAMES_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def gold_frames(spark, sf_dir: str | None = None) -> dict[str, DataFrame]:
    """Build the full medallion as a dict of DataFrames — the input
    contract for plans.views / plans.dashboards builders.

    Memoized per (session, sf_dir): the frames are lazy plans, so
    sharing them across the driver's many per-query calls just reuses
    the analyzed plan graph (and lets Catalyst reuse exchanges)
    without materializing anything."""
    from real_time_fraud_detection_lakehouse_spark.plans.silver import build_silver
    from real_time_fraud_detection_lakehouse_spark.sources.transactions import transactions_df

    per_session = _FRAMES_CACHE.setdefault(spark, {})
    cached = per_session.get(sf_dir)
    if cached is not None:
        return dict(cached)

    tx = transactions_df(spark, sf_dir)
    silver = build_silver(spark, sf_dir, source=tx)
    frames = {
        "transactions": tx,
        "silver": silver,
        "fact": fact_transactions(silver),
        "dim_customer": dim_customer(silver),
        "dim_merchant": dim_merchant(silver),
        "dim_time": dim_time(silver),
        "dim_location": dim_location(silver),
    }
    per_session[sf_dir] = frames
    return dict(frames)


def publish_gold(spark, sf_dir: str | None, root: str) -> int:
    """Materialize the five gold tables and publish them as ONE atomic
    group version (``sources/snapshots.publish_tables``); returns the
    group version N.

    The reference's gold job writes its five tables sequentially
    (`reference/spark/app/gold_job.py` flow), leaving a window where a
    reader joins fact vN against dims vN-1; the manifest commit closes
    it — ``read_published(spark, root)`` hands back a {name: DataFrame}
    set pinned by one manifest, all-old or all-new by construction
    (torn-publish test in tests/test_maintenance.py). Silver is
    MATERIALIZED once (eager localCheckpoint) before the fan-out —
    publish_tables runs five independent write actions, and Spark does
    not share subtrees across actions, so an un-pinned silver would
    re-execute the full transactions→features chain per table; each
    table lands as its own per-table snapshot version (invisible until
    the manifest), so a crash mid-publish leaves the previous group
    current."""
    from real_time_fraud_detection_lakehouse_spark.plans.silver import build_silver
    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import publish_tables

    silver = build_silver(spark, sf_dir).localCheckpoint(eager=True)
    return publish_tables(
        {
            "fact": fact_transactions(silver),
            "dim_customer": dim_customer(silver),
            "dim_merchant": dim_merchant(silver),
            "dim_time": dim_time(silver),
            "dim_location": dim_location(silver),
        },
        root,
    )


def published_gold_history(spark, sf_dir: str | None, root: str):
    """The publish-layer lifecycle as a queryable surface (round-10
    verdict #7): publish the gold group, re-publish it (a second group
    pinning fresh per-table versions), roll back to the first group
    (O(1) metadata — the new manifest re-pins group 1's versions), and
    return the manifest ledger (``publish_history``, the DESCRIBE
    HISTORY analog) ordered for a deterministic rows-only check:
    15 rows = 3 groups x 5 tables, with group 3 pinning group 1's
    per-table versions and group 2 its own.

    The re-publish reads the published parquet back rather than
    rebuilding the medallion — history/rollback cost is the metadata
    layer plus one parquet copy, never a second feature-chain run."""
    from real_time_fraud_detection_lakehouse_spark.sources.snapshots import (
        publish_history,
        publish_tables,
        read_published,
        rollback_published,
    )

    first = publish_gold(spark, sf_dir, root)
    publish_tables(read_published(spark, root, first), root)
    rollback_published(root, first)
    return publish_history(spark, root).orderBy("group_version", "table_name")


def gold_prelude() -> str:
    """WITH-clause prelude exposing transactions/silver/fact + dims to
    oracle queries. DuckDB only materializes referenced CTEs."""
    return (
        f"{silver_prelude()},\n"
        f"fact_transactions AS ({FACT_CTE}),\n"
        f"dim_customer AS ({DIM_CUSTOMER_CTE}),\n"
        f"dim_merchant AS ({DIM_MERCHANT_CTE}),\n"
        f"dim_time AS ({DIM_TIME_CTE}),\n"
        f"dim_location AS ({DIM_LOCATION_CTE})"
    )
