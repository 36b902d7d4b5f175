"""Dashboard query surface (`/root/reference/sql/dashboard_charts.sql`)
plus the in-engine scoring flow (rule-based score → predictions →
model-accuracy join), all with DuckDB oracle twins.

The reference scores per-row over HTTP (realtime_prediction_job.py:314-389,
an anti-pattern at any scale); here the rule score (UD5,
services/fraud-detection-api/app/main.py:603-621 semantics) is a pure
column expression evaluated in whole-stage codegen, and the
"model accuracy" join (J5, dashboard_charts.sql:140-144) joins the
prediction output back to transactions on trans_num.

Same registry shape as plans/views.py; builders receive the gold dict
(fact / dim_customer / dim_time / silver).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from real_time_fraud_detection_lakehouse_spark.core.shared import shared
from real_time_fraud_detection_lakehouse_spark.functions.features import (
    risk_level,
    rule_fraud_score,
)
from real_time_fraud_detection_lakehouse_spark.plans.views import (
    Builder,
    _FRAUDS,
    _frauds,
    _r4,
    _r4s,
)
from real_time_fraud_detection_lakehouse_spark.plans.silver import _haversine_sql
from real_time_fraud_detection_lakehouse_spark.sources.transactions import dround, dround_sql

DASHBOARDS: dict[str, tuple[Builder, str]] = {}

_RATE100 = "CAST(SUM(CASE WHEN is_fraud = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) * 100"


def _rate100() -> F.Column:
    return _frauds().cast("double") / F.count("*") * 100


def _register(name: str, sql: str):
    def deco(fn: Builder) -> Builder:
        DASHBOARDS[name] = (fn, sql)
        return fn

    return deco


#: Rule score as DuckDB SQL — literal-for-literal, same addition order
#: as functions.features.rule_fraud_score so doubles match bitwise.
SCORE_SQL = """least(
  CASE WHEN amt > 1000 THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
  + CASE WHEN amt > 500 THEN 0.1::DOUBLE ELSE 0.0::DOUBLE END
  + CASE WHEN distance_km > 200 AND distance_km >= 0 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END
  + CASE WHEN hour >= 23 OR hour <= 5 THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END
  + CASE WHEN age >= 0 AND age < 25 THEN 0.1::DOUBLE ELSE 0.0::DOUBLE END,
  1.0::DOUBLE)"""

#: predictions CTE over silver (FIXTURES.md §4 shape).
PREDICTIONS_CTE = f"""
SELECT
  trans_num,
  is_fraud,
  {SCORE_SQL} AS prediction_score,
  CAST(CASE WHEN {SCORE_SQL} > 0.5 THEN 1 ELSE 0 END AS INTEGER) AS is_fraud_predicted,
  CASE WHEN {SCORE_SQL} > 0.7 THEN 'HIGH'
       WHEN {SCORE_SQL} > 0.4 THEN 'MEDIUM'
       ELSE 'LOW' END AS risk_level
FROM silver
"""


def predictions(silver: DataFrame) -> DataFrame:
    """Rule-based prediction table: trans_num → score / flag / risk."""
    score = rule_fraud_score(
        F.col("amt"), F.col("distance_km"), F.col("hour"), F.col("age")
    )
    return silver.select(
        "trans_num",
        "is_fraud",
        score.alias("prediction_score"),
        F.when(score > 0.5, 1).otherwise(0).cast("int").alias("is_fraud_predicted"),
        risk_level(score).alias("risk_level"),
    )


# --- 1. overview ------------------------------------------------------------
@_register(
    "dash_overview",
    f"""
    SELECT COUNT(*) AS total_transactions,
           {_r4s('SUM(transaction_amount)')} AS total_amount,
           {_r4s('AVG(transaction_amount)')} AS avg_amount
    FROM fact_transactions
    """,
)
def dash_overview(g):
    return g["fact"].agg(
        F.count("*").alias("total_transactions"),
        _r4(F.sum("transaction_amount")).alias("total_amount"),
        _r4(F.avg("transaction_amount")).alias("avg_amount"),
    )


# --- 1.2 overall fraud rate -------------------------------------------------
@_register(
    "dash_fraud_rate",
    f"""
    SELECT COUNT(*) AS total, {_FRAUDS} AS frauds,
           {_RATE100} AS fraud_rate_percent
    FROM fact_transactions
    """,
)
def dash_fraud_rate(g):
    return g["fact"].agg(
        F.count("*").alias("total"),
        _frauds().alias("frauds"),
        _rate100().alias("fraud_rate_percent"),
    )


# --- 1.3 high risk ----------------------------------------------------------
@_register(
    "dash_high_risk",
    f"""
    SELECT COUNT(*) AS high_risk_count,
           {_r4s('SUM(transaction_amount)')} AS high_risk_amount
    FROM fact_transactions
    WHERE is_fraud = 1
      AND (transaction_amount > 1000 OR distance_km > 200 OR is_late_night = 1)
    """,
)
def dash_high_risk(g):
    return (
        g["fact"]
        .filter(
            (F.col("is_fraud") == 1)
            & (
                (F.col("transaction_amount") > 1000)
                | (F.col("distance_km") > 200)
                | (F.col("is_late_night") == 1)
            )
        )
        .agg(
            F.count("*").alias("high_risk_count"),
            _r4(F.sum("transaction_amount")).alias("high_risk_amount"),
        )
    )


# --- 2.1 fraud rate by hour -------------------------------------------------
@_register(
    "dash_hourly_fraud",
    f"""
    SELECT transaction_hour AS hour, COUNT(*) AS total,
           {_FRAUDS} AS frauds, {_RATE100} AS fraud_rate
    FROM fact_transactions GROUP BY transaction_hour
    """,
)
def dash_hourly_fraud(g):
    return g["fact"].groupBy(F.col("transaction_hour").alias("hour")).agg(
        F.count("*").alias("total"),
        _frauds().alias("frauds"),
        _rate100().alias("fraud_rate"),
    )


# --- 2.2 monthly trend ------------------------------------------------------
@_register(
    "dash_monthly_trend",
    f"""
    SELECT CAST(year(transaction_timestamp) AS INTEGER) AS year,
           CAST(month(transaction_timestamp) AS INTEGER) AS month,
           COUNT(*) AS total, {_FRAUDS} AS frauds, {_RATE100} AS fraud_rate
    FROM fact_transactions GROUP BY 1, 2
    """,
)
def dash_monthly_trend(g):
    ts = F.col("transaction_timestamp")
    return g["fact"].groupBy(
        F.year(ts).alias("year"), F.month(ts).alias("month")
    ).agg(
        F.count("*").alias("total"),
        _frauds().alias("frauds"),
        _rate100().alias("fraud_rate"),
    )


# --- 3.1 fraud by state top-20 (deterministic tiebreak added) ---------------
@_register(
    "dash_state_top20",
    f"""
    SELECT * FROM (
      SELECT c.customer_state AS state, COUNT(*) AS total,
             {_FRAUDS} AS frauds, {_RATE100} AS fraud_rate
      FROM fact_transactions f
      JOIN dim_customer c ON f.customer_key = c.customer_key
      GROUP BY c.customer_state
    ) ORDER BY fraud_rate DESC, state ASC LIMIT 20
    """,
)
def dash_state_top20(g):
    return (
        g["fact"]
        .join(F.broadcast(g["dim_customer"]), "customer_key", "inner")
        .groupBy(F.col("customer_state").alias("state"))
        .agg(
            F.count("*").alias("total"),
            _frauds().alias("frauds"),
            _rate100().alias("fraud_rate"),
        )
        .orderBy(F.desc("fraud_rate"), F.asc("state"))
        .limit(20)
    )


_DIST_BUCKET = """CASE WHEN distance_km < 10 THEN '0-10km'
       WHEN distance_km < 50 THEN '10-50km'
       WHEN distance_km < 100 THEN '50-100km'
       WHEN distance_km < 200 THEN '100-200km'
       ELSE '200+km' END"""


# --- 3.2 fraud by distance range (F14) --------------------------------------
@_register(
    "dash_distance_range",
    f"""
    SELECT {_DIST_BUCKET} AS distance_range,
           COUNT(*) AS total, {_FRAUDS} AS frauds, {_RATE100} AS fraud_rate
    FROM fact_transactions WHERE distance_km >= 0
    GROUP BY 1
    """,
)
def dash_distance_range(g):
    d = F.col("distance_km")
    bucket = (
        F.when(d < 10, "0-10km")
        .when(d < 50, "10-50km")
        .when(d < 100, "50-100km")
        .when(d < 200, "100-200km")
        .otherwise("200+km")
    )
    return (
        g["fact"]
        .filter(d >= 0)
        .groupBy(bucket.alias("distance_range"))
        .agg(
            F.count("*").alias("total"),
            _frauds().alias("frauds"),
            _rate100().alias("fraud_rate"),
        )
    )


# --- 4.1 risky merchants (HAVING>50, tiebreak added) ------------------------
@_register(
    "dash_risky_merchants",
    f"""
    SELECT * FROM (
      SELECT merchant, transaction_category, COUNT(*) AS total,
             {_FRAUDS} AS frauds, {_RATE100} AS fraud_rate
      FROM fact_transactions
      GROUP BY merchant, transaction_category HAVING COUNT(*) > 50
    ) ORDER BY fraud_rate DESC, merchant ASC, transaction_category ASC LIMIT 20
    """,
)
def dash_risky_merchants(g):
    return (
        g["fact"]
        .groupBy("merchant", "transaction_category")
        .agg(
            F.count("*").alias("total"),
            _frauds().alias("frauds"),
            _rate100().alias("fraud_rate"),
        )
        .filter(F.col("total") > 50)
        .orderBy(F.desc("fraud_rate"), F.asc("merchant"), F.asc("transaction_category"))
        .limit(20)
    )


# --- 4.2 fraud by category --------------------------------------------------
@_register(
    "dash_category",
    f"""
    SELECT transaction_category, COUNT(*) AS total,
           {_FRAUDS} AS frauds, {_RATE100} AS fraud_rate
    FROM fact_transactions GROUP BY transaction_category
    """,
)
def dash_category(g):
    return g["fact"].groupBy("transaction_category").agg(
        F.count("*").alias("total"),
        _frauds().alias("frauds"),
        _rate100().alias("fraud_rate"),
    )


# --- 5.1 fraud by amount range (labels per dashboard_charts.sql:88-92) ------
@_register(
    "dash_amount_range",
    f"""
    SELECT CASE amount_bin WHEN 1 THEN '$0-$100' WHEN 2 THEN '$100-$300'
                WHEN 3 THEN '$300-$500' WHEN 4 THEN '$500-$1000'
                WHEN 5 THEN '$1000+' END AS amount_range,
           COUNT(*) AS total, {_FRAUDS} AS frauds, {_RATE100} AS fraud_rate
    FROM fact_transactions GROUP BY amount_bin
    """,
)
def dash_amount_range(g):
    bin_ = F.col("amount_bin")
    label = (
        F.when(bin_ == 1, "$0-$100")
        .when(bin_ == 2, "$100-$300")
        .when(bin_ == 3, "$300-$500")
        .when(bin_ == 4, "$500-$1000")
        .when(bin_ == 5, "$1000+")
    )
    return g["fact"].groupBy(bin_).agg(
        F.count("*").alias("total"),
        _frauds().alias("frauds"),
        _rate100().alias("fraud_rate"),
    ).select(label.alias("amount_range"), "total", "frauds", "fraud_rate")


# --- 5.2 high-value transactions (top-k, tiebreak added) --------------------
@_register(
    "dash_high_value",
    """
    SELECT transaction_key, transaction_timestamp, transaction_amount, merchant, is_fraud
    FROM fact_transactions WHERE transaction_amount > 1000
    ORDER BY transaction_amount DESC, transaction_key ASC LIMIT 100
    """,
)
def dash_high_value(g):
    return (
        g["fact"]
        .filter(F.col("transaction_amount") > 1000)
        .select(
            "transaction_key",
            "transaction_timestamp",
            "transaction_amount",
            "merchant",
            "is_fraud",
        )
        .orderBy(F.desc("transaction_amount"), F.asc("transaction_key"))
        .limit(100)
    )


# --- 6.1 weekend vs weekday -------------------------------------------------
@_register(
    "dash_weekend",
    f"""
    SELECT CASE WHEN is_weekend_transaction = 1 THEN 'Weekend' ELSE 'Weekday' END AS day_type,
           COUNT(*) AS total, {_FRAUDS} AS frauds, {_RATE100} AS fraud_rate
    FROM fact_transactions GROUP BY is_weekend_transaction
    """,
)
def dash_weekend(g):
    return (
        g["fact"]
        .groupBy("is_weekend_transaction")
        .agg(
            F.count("*").alias("total"),
            _frauds().alias("frauds"),
            _rate100().alias("fraud_rate"),
        )
        .select(
            F.when(F.col("is_weekend_transaction") == 1, "Weekend")
            .otherwise("Weekday")
            .alias("day_type"),
            "total",
            "frauds",
            "fraud_rate",
        )
    )


# --- 6.2 late-night analysis ------------------------------------------------
@_register(
    "dash_late_night",
    f"""
    SELECT transaction_hour, COUNT(*) AS total,
           {_FRAUDS} AS frauds, {_RATE100} AS fraud_rate
    FROM fact_transactions WHERE is_late_night = 1
    GROUP BY transaction_hour
    """,
)
def dash_late_night(g):
    return (
        g["fact"]
        .filter(F.col("is_late_night") == 1)
        .groupBy("transaction_hour")
        .agg(
            F.count("*").alias("total"),
            _frauds().alias("frauds"),
            _rate100().alias("fraud_rate"),
        )
    )


_AGE_BUCKET = """CASE WHEN customer_age_at_transaction < 25 THEN '18-24'
       WHEN customer_age_at_transaction < 35 THEN '25-34'
       WHEN customer_age_at_transaction < 45 THEN '35-44'
       WHEN customer_age_at_transaction < 55 THEN '45-54'
       WHEN customer_age_at_transaction < 65 THEN '55-64'
       ELSE '65+' END"""


# --- 7.1 fraud by age group -------------------------------------------------
@_register(
    "dash_age_group",
    f"""
    SELECT {_AGE_BUCKET} AS age_group,
           COUNT(*) AS total, {_FRAUDS} AS frauds, {_RATE100} AS fraud_rate
    FROM fact_transactions WHERE customer_age_at_transaction > 0
    GROUP BY 1
    """,
)
def dash_age_group(g):
    a = F.col("customer_age_at_transaction")
    bucket = (
        F.when(a < 25, "18-24")
        .when(a < 35, "25-34")
        .when(a < 45, "35-44")
        .when(a < 55, "45-54")
        .when(a < 65, "55-64")
        .otherwise("65+")
    )
    return (
        g["fact"]
        .filter(a > 0)
        .groupBy(bucket.alias("age_group"))
        .agg(
            F.count("*").alias("total"),
            _frauds().alias("frauds"),
            _rate100().alias("fraud_rate"),
        )
    )


# --- 9.1 top high-risk frauds (severity CASE, tiebreak added) ---------------
@_register(
    "dash_severity",
    """
    SELECT transaction_key, transaction_timestamp, transaction_amount, merchant, distance_km,
           CASE WHEN transaction_amount > 1000 AND distance_km > 200 THEN 'CRITICAL'
                WHEN transaction_amount > 500 AND is_late_night = 1 THEN 'HIGH'
                ELSE 'MEDIUM' END AS severity
    FROM fact_transactions WHERE is_fraud = 1
    ORDER BY transaction_amount DESC, transaction_key ASC LIMIT 100
    """,
)
def dash_severity(g):
    amt = F.col("transaction_amount")
    return (
        g["fact"]
        .filter(F.col("is_fraud") == 1)
        .select(
            "transaction_key",
            "transaction_timestamp",
            "transaction_amount",
            "merchant",
            "distance_km",
            F.when((amt > 1000) & (F.col("distance_km") > 200), "CRITICAL")
            .when((amt > 500) & (F.col("is_late_night") == 1), "HIGH")
            .otherwise("MEDIUM")
            .alias("severity"),
        )
        .orderBy(F.desc("transaction_amount"), F.asc("transaction_key"))
        .limit(100)
    )


# --- 10.1 multi-factor risk -------------------------------------------------
@_register(
    "dash_multi_factor",
    f"""
    SELECT CASE WHEN is_high_amount = 1 THEN 'High$' ELSE 'Normal$' END AS amt,
           CASE WHEN is_distant_transaction = 1 THEN 'Distant' ELSE 'Local' END AS dist,
           CASE WHEN is_late_night = 1 THEN 'Night' ELSE 'Day' END AS time,
           COUNT(*) AS total, {_FRAUDS} AS frauds, {_RATE100} AS fraud_rate
    FROM fact_transactions
    GROUP BY is_high_amount, is_distant_transaction, is_late_night
    """,
)
def dash_multi_factor(g):
    return (
        g["fact"]
        .groupBy("is_high_amount", "is_distant_transaction", "is_late_night")
        .agg(
            F.count("*").alias("total"),
            _frauds().alias("frauds"),
            _rate100().alias("fraud_rate"),
        )
        .select(
            F.when(F.col("is_high_amount") == 1, "High$").otherwise("Normal$").alias("amt"),
            F.when(F.col("is_distant_transaction") == 1, "Distant").otherwise("Local").alias("dist"),
            F.when(F.col("is_late_night") == 1, "Night").otherwise("Day").alias("time"),
            "total",
            "frauds",
            "fraud_rate",
        )
    )


# --- scoring flow: predictions + model accuracy + score distribution --------
@_register(
    "rule_predictions",
    f"""
    , predictions AS ({PREDICTIONS_CTE})
    SELECT trans_num, prediction_score, is_fraud_predicted, risk_level FROM predictions
    """,
)
def rule_predictions(g):
    return predictions(g["silver"]).select(
        "trans_num", "prediction_score", "is_fraud_predicted", "risk_level"
    )


@_register(
    "dash_model_accuracy",
    f"""
    , predictions AS ({PREDICTIONS_CTE})
    SELECT COUNT(*) AS total,
           CAST(SUM(CASE WHEN t.is_fraud = p.is_fraud_predicted THEN 1 ELSE 0 END) AS BIGINT) AS correct,
           CAST(SUM(CASE WHEN t.is_fraud = p.is_fraud_predicted THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) * 100 AS accuracy
    FROM predictions p
    JOIN transactions t ON p.trans_num = t.trans_num
    """,
)
def dash_model_accuracy(g):
    p = predictions(g["silver"]).select("trans_num", "is_fraud_predicted")
    t = g["transactions"].select("trans_num", "is_fraud")
    j = p.join(t, "trans_num", "inner")
    correct = F.sum(
        F.when(F.col("is_fraud") == F.col("is_fraud_predicted"), 1).otherwise(0)
    ).cast("long")
    return j.agg(
        F.count("*").alias("total"),
        correct.alias("correct"),
        (correct.cast("double") / F.count("*") * 100).alias("accuracy"),
    )


@_register(
    "dash_score_distribution",
    f"""
    , predictions AS ({PREDICTIONS_CTE})
    SELECT CASE WHEN prediction_score < 0.2 THEN '0-20%'
                WHEN prediction_score < 0.4 THEN '20-40%'
                WHEN prediction_score < 0.6 THEN '40-60%'
                WHEN prediction_score < 0.8 THEN '60-80%'
                ELSE '80-100%' END AS score_range,
           COUNT(*) AS count
    FROM predictions GROUP BY 1
    """,
)
def dash_score_distribution(g):
    s = F.col("prediction_score")
    bucket = (
        F.when(s < 0.2, "0-20%")
        .when(s < 0.4, "20-40%")
        .when(s < 0.6, "40-60%")
        .when(s < 0.8, "60-80%")
        .otherwise("80-100%")
    )
    return (
        predictions(g["silver"])
        .groupBy(bucket.alias("score_range"))
        .agg(F.count("*").alias("count"))
    )


@_register(
    "dash_score_gain",
    f"""
    , predictions AS ({PREDICTIONS_CTE}),
    sg AS (
      SELECT prediction_score AS score,
             CAST(COUNT(*) AS BIGINT) AS n_tx,
             CAST(SUM(is_fraud) AS BIGINT) AS n_fraud
      FROM predictions GROUP BY 1
    ),
    sg_tot AS (
      SELECT SUM(n_tx) AS tot_tx, SUM(n_fraud) AS tot_fraud FROM sg
    ),
    sg_cum AS (
      SELECT score, n_tx, n_fraud,
             SUM(n_tx) OVER (ORDER BY score DESC) AS cum_tx,
             SUM(n_fraud) OVER (ORDER BY score DESC) AS cum_fraud
      FROM sg
    )
    SELECT {_r4s('c.score')} AS score, c.n_tx, c.n_fraud,
           {_r4s('CAST(c.n_fraud AS DOUBLE) / c.n_tx')} AS fraud_rate,
           {_r4s('CAST(c.cum_tx AS DOUBLE) / t.tot_tx')} AS cum_tx_share,
           {_r4s('CAST(c.cum_fraud AS DOUBLE) / t.tot_fraud')} AS capture_rate
    FROM sg_cum c, sg_tot t
    """,
)
def dash_score_gain(g):
    """Score gain/capture curve (r15): per distinct rule score, the
    band's volume and fraud count plus the CUMULATIVE share of all
    transactions and of all fraud captured at-or-above that score —
    the lift table an alert-budget decision reads ("reviewing the top
    X% of scores catches Y% of fraud"). The threshold-quality
    companion to ``confusion_matrix`` (one fixed 0.5 cut) and
    ``dash_score_distribution`` (volume histogram only): this screen
    evaluates EVERY cut at once.

    Scale design: the windowless-banding discipline inverted — the
    raw stream collapses FIRST to one row per distinct score (a keyed
    count with map-side partials; the rule score is a CASE-chain sum
    with ~dozens of distinct values), and the cumulative window runs
    over THAT bounded table (the CUSUM/day-ordered precedent: an
    unpartitioned window is fine when its input is an aggregate,
    never the fact stream). Totals ride one broadcast 1-row
    aggregate. Grouping keys are the raw double scores (identical
    CASE arithmetic in both engines — the dash_score_distribution
    contract); output rides dround(4)."""
    p = predictions(g["silver"]).select("prediction_score", "is_fraud")
    sg = p.groupBy(F.col("prediction_score").alias("score")).agg(
        F.count("*").cast("long").alias("n_tx"),
        F.sum("is_fraud").cast("long").alias("n_fraud"),
    )
    tot = sg.agg(
        F.sum("n_tx").alias("tot_tx"), F.sum("n_fraud").alias("tot_fraud")
    )
    w = Window.orderBy(F.col("score").desc())
    return (
        sg.withColumn("cum_tx", F.sum("n_tx").over(w))
        .withColumn("cum_fraud", F.sum("n_fraud").over(w))
        .crossJoin(F.broadcast(tot))
        .select(
            _r4(F.col("score")).alias("score"),
            "n_tx",
            "n_fraud",
            _r4(F.col("n_fraud").cast("double") / F.col("n_tx")).alias(
                "fraud_rate"
            ),
            _r4(F.col("cum_tx").cast("double") / F.col("tot_tx")).alias(
                "cum_tx_share"
            ),
            _r4(F.col("cum_fraud").cast("double") / F.col("tot_fraud")).alias(
                "capture_rate"
            ),
        )
    )


@_register(
    "confusion_matrix",
    f"""
    , predictions AS ({PREDICTIONS_CTE})
    SELECT is_fraud AS label, is_fraud_predicted AS prediction, COUNT(*) AS n
    FROM predictions GROUP BY 1, 2
    """,
)
def confusion_matrix(g):
    return (
        predictions(g["silver"])
        .groupBy(
            F.col("is_fraud").alias("label"),
            F.col("is_fraud_predicted").alias("prediction"),
        )
        .agg(F.count("*").alias("n"))
    )


@_register(
    "class_distribution",
    "SELECT is_fraud, COUNT(*) AS count FROM silver GROUP BY is_fraud",
)
def class_distribution(g):
    return g["silver"].groupBy("is_fraud").agg(F.count("*").alias("count"))


# --- Benford first-digit screen, by fraud cohort (round 12) ------------------
# NOTE: dashboard oracles are prefixed with gold_prelude()'s WITH
# chain, so this SQL CONTINUES that CTE list (leading comma), it does
# not open its own WITH.
@_register(
    "dash_benford_by_fraud",
    f"""
    , digits AS (
      SELECT is_fraud,
             CAST(substr(CAST(CAST(floor(transaction_amount) AS BIGINT) AS VARCHAR),
                         1, 1) AS BIGINT) AS digit
      FROM fact_transactions WHERE transaction_amount >= 1
    ),
    counts AS (
      SELECT is_fraud, digit, CAST(COUNT(*) AS BIGINT) AS n
      FROM digits GROUP BY is_fraud, digit
    ),
    totals AS (SELECT is_fraud, CAST(SUM(n) AS DOUBLE) AS t FROM counts GROUP BY is_fraud)
    SELECT c.is_fraud, c.digit, c.n,
           {_r4s('c.n / t.t')} AS observed_p,
           {_r4s('log10(1.0 + 1.0 / c.digit)')} AS benford_p,
           {_r4s(
             'pow(c.n - t.t * log10(1.0 + 1.0 / c.digit), 2)'
             ' / (t.t * log10(1.0 + 1.0 / c.digit))'
           )} AS chi2_term
    FROM counts c JOIN totals t USING (is_fraud)
    """,
)
def dash_benford_by_fraud(g) -> DataFrame:
    """Benford's-law first-digit screen split by fraud cohort — the
    forensic use of q_orders_benford's machinery on the DOMAIN table:
    organic spending follows P(d) = log10(1 + 1/d); a fabricated-
    amount cohort drifts, and the per-cohort chi-square column sums
    to the test statistic the dashboard tracks side by side (the
    legit cohort doubles as the in-distribution control).

    Scale design: identical to q_orders_benford with is_fraud joining
    the digit key — one keyed count with map-side partials (18 output
    rows), per-cohort totals joined back on a 2-row frame. Exact
    closed form in both engines."""
    digits = (
        g["fact"]
        .filter(F.col("transaction_amount") >= 1)
        .select(
            "is_fraud",
            F.substring(
                F.floor("transaction_amount").cast("long").cast("string"), 1, 1
            )
            .cast("long")
            .alias("digit"),
        )
    )
    counts = digits.groupBy("is_fraud", "digit").agg(
        F.count("*").cast("long").alias("n")
    )
    totals = counts.groupBy("is_fraud").agg(F.sum("n").cast("double").alias("t"))
    benford = F.log10(1.0 + 1.0 / F.col("digit"))
    return counts.join(totals, "is_fraud").select(
        "is_fraud",
        "digit",
        "n",
        _r4(F.col("n") / F.col("t")).alias("observed_p"),
        _r4(benford).alias("benford_p"),
        _r4(
            F.pow(F.col("n") - F.col("t") * benford, 2) / (F.col("t") * benford)
        ).alias("chi2_term"),
    )


# --- fraud-ring graph analytics (round 13) -----------------------------------
#: minimum distinct (merchant, day) co-occurrences for two cards to
#: count as LINKED — the association-mining support floor applied to
#: the card↔merchant bipartite projection.
RING_SUPPORT = 5

#: edges this strong feed the ring (connected-component) pass — a
#: higher bar than the pair surface so rings are collusion-grade
#: links, not shared-habit noise.
RING_STRONG_SUPPORT = 7

#: merchant-days with more distinct cards than this are excluded from
#: pair generation: a hub every card visits carries no ring signal
#: (the stopword idiom), and it is exactly the row whose c² pair
#: fan-out would dominate at 100 TB. Never binds at test SFs
#: (max ~15 cards per merchant-day); at production scale it converts
#: the worst-case quadratic blow-up into a documented, tunable cap.
RING_HUB_CAP = 500


def _ring_pairs_sql(min_links: int) -> str:
    """Continued-CTE SQL for the card pair stream (leading comma —
    dashboard oracles ride gold_prelude()'s WITH chain)."""
    return f"""
    , ring_links AS (
      SELECT DISTINCT cc_num, merchant, CAST(trans_timestamp AS DATE) AS day
      FROM transactions
    ),
    ring_ok AS (
      SELECT merchant, day FROM ring_links
      GROUP BY merchant, day HAVING COUNT(*) <= {RING_HUB_CAP}
    ),
    ring_l AS (
      SELECT l.cc_num, l.merchant, l.day
      FROM ring_links l JOIN ring_ok USING (merchant, day)
    ),
    ring_pairs AS (
      SELECT a.cc_num AS card_a, b.cc_num AS card_b,
             CAST(COUNT(*) AS BIGINT) AS n_links
      FROM ring_l a
      JOIN ring_l b
        ON a.merchant = b.merchant AND a.day = b.day
       AND a.cc_num < b.cc_num
      GROUP BY 1, 2
      HAVING COUNT(*) >= {min_links}
    )
    """


def ring_links(transactions: DataFrame) -> DataFrame:
    """The ring graph's link table: distinct (cc_num, merchant, day)
    triples — the only projection of the fact stream the ring
    machinery ever needs (O(cards × active days), mergeable by
    distinct-union — the streaming monitor maintains exactly this)."""
    return transactions.select(
        "cc_num", "merchant", F.to_date("trans_timestamp").alias("day")
    ).distinct()


def ring_pairs_from_links(links: DataFrame, min_links: int) -> DataFrame:
    """Pair generation over a link table: hub-cap prune, (merchant,
    day)-keyed self-join, support-floor filter (see
    dash_fraud_ring_pairs for the scale story)."""
    ok = links.groupBy("merchant", "day").agg(F.count("*").alias("__c")).filter(
        F.col("__c") <= RING_HUB_CAP
    ).drop("__c")
    pruned = links.join(ok, ["merchant", "day"])
    a, b = pruned.alias("a"), pruned.alias("b")
    return (
        a.join(
            b,
            (F.col("a.merchant") == F.col("b.merchant"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.cc_num") < F.col("b.cc_num")),
        )
        .groupBy(
            F.col("a.cc_num").alias("card_a"), F.col("b.cc_num").alias("card_b")
        )
        .agg(F.count("*").cast("long").alias("n_links"))
        .filter(F.col("n_links") >= min_links)
    )


def _ring_pair_frame(g, min_links: int) -> DataFrame:
    return ring_pairs_from_links(ring_links(g["transactions"]), min_links)


def _ring_shared(g, with_comp: bool = True) -> dict[str, DataFrame]:
    """The session-shared ring intermediates (``core.shared``), keyed
    on the medallion's transactions frame: ``pairs_all`` = hub-capped
    pair stream at the BASE support floor (persisted — the pair
    self-join is computed once for dash_fraud_ring_pairs AND the
    strong family), ``pairs`` = the strong-support subset (a lazy
    filter over the persisted base — HAVING n >= 7 ≡ n >= 5 AND
    n >= 7, so rows are identical to a fresh strong-support build),
    ``comp`` = (cc_num, ring_id) membership from min-label CC over the
    strong subset (persisted). ``with_comp=False`` consumers (the pair
    screen) never trigger the CC iterations. The published-store twin
    (compact_ring_links / ring_pairs_from_published,
    streaming/scoring.py) remains the cross-SESSION production path."""
    from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
        connected_components,
    )

    tx = g["transactions"]
    pairs_all = shared(
        tx, "ring_pairs_all", lambda: _ring_pair_frame(g, RING_SUPPORT).persist()
    )
    pairs = shared(
        tx,
        "ring_pairs",
        lambda: pairs_all.filter(F.col("n_links") >= RING_STRONG_SUPPORT),
    )
    out = {"pairs_all": pairs_all, "pairs": pairs}
    if with_comp:
        out["comp"] = shared(
            tx,
            "ring_comp",
            lambda: connected_components(pairs, src="card_a", dst="card_b")
            .select(F.col("node").alias("cc_num"), F.col("component").alias("ring_id"))
            .persist(),
        )
    return out


@_register(
    "dash_fraud_ring_pairs",
    f"""
    {_ring_pairs_sql(RING_SUPPORT)}
    SELECT card_a, card_b, n_links FROM ring_pairs
    """,
)
def dash_fraud_ring_pairs(g) -> DataFrame:
    """Card-pair collusion candidates: two cards are LINKED when they
    transact at the same merchant on the same calendar day at least
    RING_SUPPORT distinct times — the bipartite card↔(merchant, day)
    graph projected onto cards, the standard shared-attribute signal
    behind bust-out / mule-network detection. A pair of strangers
    co-occurs once or twice by chance; five-plus shared merchant-days
    is coordinated movement.

    Scale design: the basket-pairs idiom end to end — DISTINCT
    collapses the fact table to O(cards × active days) link rows, the
    ONLY fan-out is the (merchant, day)-keyed self-join whose per-key
    cost is c², with c capped by RING_HUB_CAP (hub merchant-days are
    signal-free and excluded BEFORE the join, so the quadratic term
    is bounded by a constant of the analyst's choosing, never by the
    busiest merchant in 100 TB). The support floor then prunes the
    pair tail before anything downstream touches it. No window, no
    driver-side anything. r16: reads the session-shared persisted
    base pair stream (``_ring_shared``) — the same frame the strong
    family filters — so the (merchant, day) self-join is computed
    once per medallion, not once here and once for the rings;
    ``with_comp=False`` keeps the CC iterations out of this screen."""
    return _ring_shared(g, with_comp=False)["pairs_all"]


#: bound in __spark_entry__ (needs WITH RECURSIVE — the
#: dedup_fuzzy_canonical precedent; gold_prelude's chain cannot open
#: one mid-list, so the oracles are assembled standalone there).
#: Shared CTE body: recursive min-label closure over the strong-pair
#: graph; the two registrations differ only in the final SELECT.
#: body of the ring CC closure (redges→rcomp), split from the header
#: (r15) so composed screens (dash_ring_hub_exposure) can continue
#: the chain; _RING_CC_CTES concatenates them unchanged.
_RING_CC_BODY = """
, redges AS (
  SELECT card_a AS a, card_b AS b FROM ring_pairs
  UNION
  SELECT card_b, card_a FROM ring_pairs
),
rnodes AS (SELECT DISTINCT a AS n FROM redges),
rreach(n, m) AS (
  SELECT n, n FROM rnodes
  UNION
  SELECT r.n, e.b FROM rreach r JOIN redges e ON r.m = e.a
),
rcomp AS (SELECT n AS cc_num, MIN(m) AS ring_id FROM rreach GROUP BY n)
"""

_RING_CC_CTES = (
    """
WITH RECURSIVE transactions AS ({transactions_cte})
{ring_pairs}"""
    + _RING_CC_BODY
)

RING_CC_ORACLE = _RING_CC_CTES + """
SELECT cc_num, ring_id,
       COUNT(*) OVER (PARTITION BY ring_id) AS ring_size
FROM rcomp
"""

RING_STATS_ORACLE = _RING_CC_CTES + f"""
SELECT r.ring_id,
       CAST(COUNT(DISTINCT r.cc_num) AS BIGINT) AS n_cards,
       CAST(COUNT(*) AS BIGINT) AS n_tx,
       CAST(SUM(CASE WHEN t.is_fraud = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_fraud,
       {_r4s("AVG(CAST(t.is_fraud AS DOUBLE))")} AS fraud_rate
FROM rcomp r JOIN transactions t ON t.cc_num = r.cc_num
GROUP BY r.ring_id
"""

RING_TRIANGLES_ORACLE = _RING_CC_CTES + f"""
, tri AS (
  SELECT e1.card_a AS a, e1.card_b AS b, e2.card_b AS c
  FROM ring_pairs e1
  JOIN ring_pairs e2 ON e2.card_a = e1.card_b
  JOIN ring_pairs e3 ON e3.card_a = e1.card_a AND e3.card_b = e2.card_b
),
tri_per_ring AS (
  SELECT r.ring_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM tri t JOIN rcomp r ON r.cc_num = t.a
  GROUP BY r.ring_id
),
ring_nodes AS (
  SELECT ring_id, CAST(COUNT(*) AS BIGINT) AS n_cards FROM rcomp GROUP BY 1
),
ring_edges AS (
  SELECT r.ring_id, CAST(COUNT(*) AS BIGINT) AS n_edges
  FROM ring_pairs p JOIN rcomp r ON r.cc_num = p.card_a
  GROUP BY r.ring_id
)
SELECT n.ring_id, n.n_cards, e.n_edges,
       COALESCE(t.n_triangles, 0) AS n_triangles,
       {_r4s("2.0 * e.n_edges / (n.n_cards * (n.n_cards - 1))")} AS density
FROM ring_nodes n
JOIN ring_edges e USING (ring_id)
LEFT JOIN tri_per_ring t USING (ring_id)
"""

RING_EVOLUTION_ORACLE = _RING_CC_CTES + f"""
, rl AS (
  SELECT r.ring_id, l.cc_num, l.day
  FROM rcomp r JOIN ring_links l ON l.cc_num = r.cc_num
),
rmember AS (
  SELECT ring_id, cc_num, MIN(day) AS member_first FROM rl GROUP BY 1, 2
),
rringd AS (
  SELECT ring_id, MIN(day) AS first_seen, MAX(day) AS last_seen,
         CAST(COUNT(DISTINCT day) AS BIGINT) AS active_days
  FROM rl GROUP BY 1
),
revo AS (
  SELECT m.ring_id, d.first_seen, d.last_seen, d.active_days,
         CAST(COUNT(*) AS BIGINT) AS n_cards,
         CAST(SUM(CASE WHEN m.member_first >= d.last_seen - 6
                       THEN 1 ELSE 0 END) AS BIGINT) AS new_cards_last_week
  FROM rmember m JOIN rringd d USING (ring_id)
  GROUP BY 1, 2, 3, 4
)
SELECT ring_id, first_seen, last_seen, active_days, n_cards,
       new_cards_last_week,
       CAST((date_diff('day', first_seen, last_seen) + 7) // 7 AS BIGINT)
         AS span_weeks,
       {_r4s("CAST(n_cards AS DOUBLE) / "
             "((date_diff('day', first_seen, last_seen) + 7) // 7)")}
         AS cards_per_week
FROM revo
"""


@_register("dash_fraud_rings", None)  # SQL bound in __spark_entry__
def dash_fraud_rings(g) -> DataFrame:
    """Fraud-ring membership: connected components over the STRONG
    card-pair graph (RING_STRONG_SUPPORT shared merchant-days), each
    card mapped to its ring's minimum cc_num with the ring size as
    the triage signal — a 2-card ring is a shared household, a
    40-card ring is a mule network. Only cards with at least one
    strong link appear; everyone else is trivially their own ring.

    Scale design: the pair stream is dash_fraud_ring_pairs' bounded
    plan at a higher support floor (fewer edges); components resolve
    via the module-shared min-label propagation with pointer jumping
    (operators/dedup.py:591 — O(log diameter) rounds of keyed joins,
    localCheckpoint-bounded lineage); ring_size is a
    component-partitioned count, never a global window. Membership
    comes from the session-shared persisted intermediate
    (``_ring_shared`` — pair stream + CC computed once for all four
    ring dashboards, r15). The ORACLE's
    recursive closure is O(nodes × component) — exact and cheap at
    driver scale, while the Spark side is the plan that survives a
    10⁹-card graph."""
    comp = _ring_shared(g)["comp"]
    w = Window.partitionBy("ring_id")
    return comp.withColumn("ring_size", F.count("*").over(w))


@_register("dash_fraud_ring_stats", None)  # SQL bound in __spark_entry__
def dash_fraud_ring_stats(g) -> DataFrame:
    """The ring-score surface: every detected ring joined back to the
    fact stream — member count, transaction volume, and the ring's
    fraud rate (vs dash_fraud_rate's population baseline, the column
    an investigator triages by: a 30-card ring at 8x the base rate is
    a case, a 2-card ring at base rate is a household).

    Scale design: the ring membership table is O(linked cards) rows
    (tiny relative to the fact table) and comes from the
    session-shared persisted intermediate (``_ring_shared``), so the
    join back to transactions is a classic small⋈huge the planner
    broadcasts on its own; everything after is one keyed aggregate
    with map-side partials. The recursive oracle reuses the shared CC
    closure CTEs with a different final SELECT (one definition)."""
    rings = _ring_shared(g)["comp"]
    return (
        g["transactions"]
        .join(rings, "cc_num")
        .groupBy("ring_id")
        .agg(
            F.countDistinct("cc_num").cast("long").alias("n_cards"),
            F.count("*").cast("long").alias("n_tx"),
            F.sum(F.when(F.col("is_fraud") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_fraud"),
            _r4(F.avg(F.col("is_fraud").cast("double"))).alias("fraud_rate"),
        )
    )


@_register("dash_ring_triangles", None)  # SQL bound in __spark_entry__
def dash_ring_triangles(g) -> DataFrame:
    """Ring triangle census — the graph-density triage column: a ring
    whose members pairwise co-occur (many triangles, density near 1)
    is a coordinated clique; the same member count chained A–B–C–D by
    overlapping habits (zero triangles) is transitive-closure
    coincidence. n_triangles and edge density separate the two, which
    is exactly the over-merge audit ``dash_fraud_rings``' docstring
    promises (CC is deliberately transitive; this measures how much
    of each component is real mutual structure).

    Scale design: triangle enumeration over the CANONICAL (a<b)
    strong-pair edge list — the classic ordered-adjacency join
    (e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c)), which counts each triangle exactly
    once and whose fan-out is bounded by the hub-capped degree the
    pair generation already enforces; per-ring rollups are keyed
    aggregates over O(linked cards) rows. Triangles cannot span
    rings (all three edges lie inside one component), so anchoring
    the ring_id on vertex ``a`` is exact, not an approximation. Pair
    stream + membership come from the session-shared persisted
    intermediate (``_ring_shared``, r15)."""
    ring = _ring_shared(g)
    pairs = ring["pairs"].select("card_a", "card_b")
    comp = ring["comp"]
    e1 = pairs.select(F.col("card_a").alias("a"), F.col("card_b").alias("b"))
    e2 = pairs.select(F.col("card_a").alias("b"), F.col("card_b").alias("c"))
    e3 = pairs.select(F.col("card_a").alias("a"), F.col("card_b").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .groupBy("a")
        .agg(F.count("*").cast("long").alias("n_tri_at_a"))
    )
    nodes = comp.groupBy("ring_id").agg(
        F.count("*").cast("long").alias("n_cards")
    )
    edges = (
        pairs.join(comp, pairs.card_a == comp.cc_num)
        .groupBy("ring_id")
        .agg(F.count("*").cast("long").alias("n_edges"))
    )
    tris = (
        tri.join(comp, tri.a == comp.cc_num)
        .groupBy("ring_id")
        .agg(F.sum("n_tri_at_a").cast("long").alias("n_triangles"))
    )
    return (
        nodes.join(edges, "ring_id")
        .join(tris, "ring_id", "left")
        .select(
            "ring_id",
            "n_cards",
            "n_edges",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            _r4(
                2.0
                * F.col("n_edges")
                / (F.col("n_cards") * (F.col("n_cards") - 1))
            ).alias("density"),
        )
    )


@_register("dash_ring_evolution", None)  # SQL bound in __spark_entry__
def dash_ring_evolution(g) -> DataFrame:
    """Ring temporal evolution — the investigator's "is this ring
    ACTIVE" surface: rings are static membership sets in
    ``dash_fraud_rings``; here each ring gets its activity timeline —
    first_seen / last_seen link days, distinct active days, and
    growth (members whose FIRST linked day falls in the trailing week
    of the ring's life, plus average cards recruited per week of
    span). A ring whose last_seen is months old is a closed case; a
    ring recruiting new cards this week is an open one.

    Scale design: ring membership is O(linked cards) rows (from the
    session-shared persisted intermediate, ``_ring_shared``) and the
    day-grain link table is O(cards × active days) — both tiny
    relative to the fact stream, so the membership⋈links join is
    keyed on cc_num with a broadcastable ring side; everything after
    is two keyed aggregates (member-level min, ring-level span) with
    map-side partials. span_weeks is integer ceil-division of
    span_days = datediff(last, first) + 1, written as
    (datediff + 7) DIV 7 ≡ (span_days + 6) DIV 7 in BOTH engines, so
    they agree bit-for-bit with no float boundary. The recursive oracle reuses the shared CC closure
    CTEs with a third final SELECT (one definition)."""
    rings = _ring_shared(g)["comp"]
    links = ring_links(g["transactions"])
    rl = links.join(rings, "cc_num")
    member = rl.groupBy("ring_id", "cc_num").agg(
        F.min("day").alias("member_first")
    )
    ringd = rl.groupBy("ring_id").agg(
        F.min("day").alias("first_seen"),
        F.max("day").alias("last_seen"),
        F.countDistinct("day").cast("long").alias("active_days"),
    )
    span_weeks = F.expr(
        "CAST((datediff(last_seen, first_seen) + 7) DIV 7 AS BIGINT)"
    )
    return (
        member.join(ringd, "ring_id")
        .groupBy("ring_id", "first_seen", "last_seen", "active_days")
        .agg(
            F.count("*").cast("long").alias("n_cards"),
            F.sum(
                F.when(
                    F.col("member_first") >= F.date_sub(F.col("last_seen"), 6), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("new_cards_last_week"),
        )
        .withColumn("span_weeks", span_weeks)
        .withColumn(
            "cards_per_week",
            _r4(F.col("n_cards").cast("double") / F.col("span_weeks")),
        )
    )


# --- geographic fraud hotspots (round 13) ------------------------------------
#: minimum transactions for a grid cell to appear — the support floor
#: that keeps the surface deterministic and noise-free.
HOTSPOT_MIN_TX = 20


@_register(
    "dash_fraud_hotspots",
    f"""
    , geo AS (
      SELECT CAST(floor(merch_lat) AS BIGINT) AS cell_lat_i,
             CAST(floor(merch_long) AS BIGINT) AS cell_lon_i,
             is_fraud
      FROM transactions
      WHERE merch_lat IS NOT NULL AND merch_long IS NOT NULL
    ),
    cells AS (
      SELECT cell_lat_i, cell_lon_i,
             CAST(COUNT(*) AS BIGINT) AS n_tx,
             CAST(SUM(CASE WHEN is_fraud = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_fraud
      FROM geo GROUP BY cell_lat_i, cell_lon_i
      HAVING COUNT(*) >= {HOTSPOT_MIN_TX}
    )
    SELECT cell_lat_i, cell_lon_i,
           {_r4s('cell_lat_i + 0.5')} AS cell_lat,
           {_r4s('cell_lon_i + 0.5')} AS cell_lon,
           n_tx, n_fraud,
           {_r4s('CAST(n_fraud AS DOUBLE) / n_tx')} AS fraud_rate
    FROM cells
    """,
)
def dash_fraud_hotspots(g) -> DataFrame:
    """Geographic fraud hotspots: merchant locations bucketed onto a
    1-degree grid (~110 km cells — the resolution the synthetic
    merchant spread supports; production would drop to 0.1 degree by
    swapping the floor argument), per-cell transaction volume,
    fraud count and rate, floored at HOTSPOT_MIN_TX so a single
    unlucky merchant cannot paint a cell hot. The map the fraud-ops
    dashboard renders next to the ring table — rings say WHO moves
    together, hotspots say WHERE the loss concentrates.

    Scale design: one keyed count with map-side partials over integer
    grid keys; at 100 TB the cell space is bounded by geography
    (~65k cells worldwide at 1 degree, ~6.5M at 0.1), so the
    aggregate output is fixed-size no matter the fact volume.
    Bucketing is a bare ``floor(x)`` — bit-agreed across engines by
    construction (a 0.1-degree production grid would floor(x*10) AND
    change the +0.5 cell-center math to (i+0.5)/10); the cell-center
    offset rides the dround(4) output discipline."""
    geo = (
        g["transactions"]
        .filter(F.col("merch_lat").isNotNull() & F.col("merch_long").isNotNull())
        .select(
            F.floor(F.col("merch_lat")).cast("long").alias("cell_lat_i"),
            F.floor(F.col("merch_long")).cast("long").alias("cell_lon_i"),
            "is_fraud",
        )
    )
    cells = (
        geo.groupBy("cell_lat_i", "cell_lon_i")
        .agg(
            F.count("*").cast("long").alias("n_tx"),
            F.sum(F.when(F.col("is_fraud") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_fraud"),
        )
        .filter(F.col("n_tx") >= HOTSPOT_MIN_TX)
    )
    return cells.select(
        "cell_lat_i",
        "cell_lon_i",
        _r4(F.col("cell_lat_i") + 0.5).alias("cell_lat"),
        _r4(F.col("cell_lon_i") + 0.5).alias("cell_lon"),
        "n_tx",
        "n_fraud",
        _r4(F.col("n_fraud").cast("double") / F.col("n_tx")).alias("fraud_rate"),
    )


# --- per-category robust anomaly screen (round 13) ---------------------------
@_register(
    "dash_category_anomaly_mad",
    f"""
    , cat_daily AS (
      SELECT transaction_category AS category,
             CAST(transaction_timestamp AS DATE) AS day,
             SUM(transaction_amount) AS revenue
      FROM fact_transactions GROUP BY 1, 2
    ),
    cat_med AS (
      SELECT category, quantile_cont(revenue, 0.5) AS med
      FROM cat_daily GROUP BY category
    ),
    cat_dev AS (
      SELECT d.category, d.day, d.revenue, m.med,
             abs(d.revenue - m.med) AS adev
      FROM cat_daily d JOIN cat_med m USING (category)
    ),
    cat_mad AS (
      SELECT category, quantile_cont(adev, 0.5) AS mad
      FROM cat_dev GROUP BY category
    )
    SELECT v.category, v.day, {dround_sql('v.revenue', 2)} AS revenue,
           {_r4s('(v.revenue - v.med) / (1.4826 * m.mad)')} AS robust_z
    FROM cat_dev v JOIN cat_mad m USING (category)
    WHERE m.mad > 0 AND v.adev > 2.5 * 1.4826 * m.mad
    """,
)
def dash_category_anomaly_mad(g) -> DataFrame:
    """The per-category twin of ``q_revenue_anomaly_mad`` on the
    fraud domain: each spending category gets its OWN median/MAD
    baseline over daily revenue, and days more than 2.5 robust
    sigmas from their category's median are flagged (the SCREEN
    level, deliberately more sensitive than the global detector's
    3.0 — per-category baselines are tighter, and a screen feeds
    triage, not alerts) — a grocery-sized spike
    hides inside the global total but screams against the grocery
    baseline (the per-entity-baseline discipline every fraud monitor
    ends up needing). Zero-MAD categories flag nothing (the r12
    degenerate guard, inherited).

    Scale design: the windowless-banding family, now KEYED — daily
    agg collapses the fact table to O(categories × days) rows; the
    median and MAD are per-category ``percentile`` AGGREGATES (exact,
    == DuckDB quantile_cont), so the boundaries ride two keyed
    shuffles over the tiny daily frame and two category-keyed joins
    the planner broadcasts on its own. No window, no crossJoin at
    all — the grouped upgrade of the 1-row-broadcast idiom."""
    daily = (
        g["fact"]
        .groupBy(
            F.col("transaction_category").alias("category"),
            F.col("transaction_timestamp").cast("date").alias("day"),
        )
        .agg(F.sum("transaction_amount").alias("revenue"))
    )
    med = daily.groupBy("category").agg(F.percentile("revenue", 0.5).alias("med"))
    dev = daily.join(med, "category").withColumn(
        "adev", F.abs(F.col("revenue") - F.col("med"))
    )
    mad = dev.groupBy("category").agg(F.percentile("adev", 0.5).alias("mad"))
    return (
        dev.join(mad, "category")
        .filter(
            (F.col("mad") > 0) & (F.col("adev") > 2.5 * 1.4826 * F.col("mad"))
        )
        .select(
            "category",
            "day",
            dround(F.col("revenue"), 2).alias("revenue"),
            _r4(
                (F.col("revenue") - F.col("med")) / (1.4826 * F.col("mad"))
            ).alias("robust_z"),
        )
    )


# --- seasonality-adjusted anomaly screen (round 14) --------------------------
@_register(
    "dash_seasonal_anomaly",
    f"""
    , sea_daily AS (
      SELECT transaction_category AS category,
             CAST(transaction_timestamp AS DATE) AS day,
             SUM(transaction_amount) AS revenue
      FROM fact_transactions GROUP BY 1, 2
    ),
    sea_key AS (
      SELECT category, day, CAST(isodow(day) - 1 AS INTEGER) AS dow, revenue
      FROM sea_daily
    ),
    sea_med AS (
      SELECT category, dow, quantile_cont(revenue, 0.5) AS med
      FROM sea_key GROUP BY 1, 2
    ),
    sea_dev AS (
      SELECT k.category, k.day, k.dow, k.revenue, m.med,
             abs(k.revenue - m.med) AS adev
      FROM sea_key k JOIN sea_med m USING (category, dow)
    ),
    sea_mad AS (
      SELECT category, dow, quantile_cont(adev, 0.5) AS mad
      FROM sea_dev GROUP BY 1, 2
    )
    SELECT v.category, v.day, v.dow, {dround_sql('v.revenue', 2)} AS revenue,
           {_r4s('(v.revenue - v.med) / (1.4826 * m.mad)')} AS robust_z
    FROM sea_dev v JOIN sea_mad m USING (category, dow)
    WHERE m.mad > 0 AND v.adev > 2.5 * 1.4826 * m.mad
    """,
)
def dash_seasonal_anomaly(g) -> DataFrame:
    """Seasonality-adjusted anomaly screen: the MAD family keys on
    global (``q_revenue_anomaly_mad``) or per-category
    (``dash_category_anomaly_mad``) baselines, but retail revenue has
    weekly structure — every Saturday "spikes" against a flat weekly
    baseline, and a real Tuesday anomaly hides under the Saturday
    band. Here each (category × day-of-week) cell gets its OWN
    median/MAD baseline, so a day is flagged only when it deviates
    from ITS weekday's band — seasonality-aware spikes, complementing
    ``dash_fraud_rate_cusum``'s level-drift detection. dow is
    Monday=0 (Spark ``weekday`` == DuckDB ``isodow - 1`` — the
    cross-engine-stable encoding; ``dayofweek`` differs between the
    two).

    Scale design: identical to the category-MAD plan one key wider —
    daily agg collapses the fact table to O(categories × days) rows,
    the baselines are exact grouped ``percentile`` aggregates over
    that tiny frame (7× more groups, each ~1/7 the rows — same total
    work), and the two baseline joins broadcast. No window, no
    crossJoin. The screen's 2.5-sigma level is inherited: a
    seasonality-aware screen feeds the same triage queue."""
    daily = (
        g["fact"]
        .groupBy(
            F.col("transaction_category").alias("category"),
            F.col("transaction_timestamp").cast("date").alias("day"),
        )
        .agg(F.sum("transaction_amount").alias("revenue"))
        .withColumn("dow", F.expr("CAST(weekday(day) AS INT)"))
    )
    med = daily.groupBy("category", "dow").agg(
        F.percentile("revenue", 0.5).alias("med")
    )
    dev = daily.join(med, ["category", "dow"]).withColumn(
        "adev", F.abs(F.col("revenue") - F.col("med"))
    )
    mad = dev.groupBy("category", "dow").agg(
        F.percentile("adev", 0.5).alias("mad")
    )
    return (
        dev.join(mad, ["category", "dow"])
        .filter(
            (F.col("mad") > 0) & (F.col("adev") > 2.5 * 1.4826 * F.col("mad"))
        )
        .select(
            "category",
            "day",
            "dow",
            dround(F.col("revenue"), 2).alias("revenue"),
            _r4(
                (F.col("revenue") - F.col("med")) / (1.4826 * F.col("mad"))
            ).alias("robust_z"),
        )
    )


# --- merchant risk propagation (round 13) ------------------------------------
#: damping: how much of a merchant's propagated risk comes from its
#: own observed fraud rate vs its visiting cards' exposure.
RISK_DAMPING = 0.5

#: propagation rounds — FIXED, so the op is deterministic and the
#: oracle can unroll the iterations as plain SQL joins.
RISK_ROUNDS = 2


def _rp_ctes(rounds: int) -> str:
    """Continued-CTE chain for ``rounds`` unrolled message-passing
    rounds of the damped risk propagation (rp_edges/rp_seed head +
    rp_cardR/rp_mR per round) — the ``_pr_ctes`` discipline applied
    to the risk recurrence (r15 verdict #7: a fixed 2-round string
    would silently desync from a changed RISK_ROUNDS instead of
    failing, and the convergence audit needs the chain one round
    deeper). Round 1's cards average the seed risks; each later
    round's cards average the PREVIOUS round's merchant risks. The
    damping weights are interpolated from the PYTHON-computed
    constants (the r14-advice decimal-ulp discipline)."""
    parts = ["""
    , rp_edges AS (
      SELECT DISTINCT cc_num, merchant FROM transactions
    ),
    rp_seed AS (
      SELECT merchant, AVG(CAST(is_fraud AS DOUBLE)) AS risk0
      FROM transactions GROUP BY merchant
    )"""]
    for r in range(1, rounds + 1):
        src = "rp_seed" if r == 1 else f"rp_m{r - 1}"
        parts.append(f""",
    rp_card{r} AS (
      SELECT e.cc_num, AVG(x.risk{r - 1}) AS card_risk
      FROM rp_edges e JOIN {src} x USING (merchant) GROUP BY e.cc_num
    ),
    rp_m{r} AS (
      SELECT e.merchant,
             {RISK_DAMPING} * s.risk0 + {1 - RISK_DAMPING} * AVG(c.card_risk) AS risk{r}
      FROM rp_edges e
      JOIN rp_seed s USING (merchant)
      JOIN rp_card{r} c USING (cc_num)
      GROUP BY e.merchant, s.risk0
    )""")
    return "".join(parts)


def _rp_final(rounds: int) -> str:
    """Final SELECT over ``_rp_ctes(rounds)``: merchant, seed,
    propagated risk, and lift (CTE/column names derived from the
    round constant the way ``_pr_final`` does)."""
    return f"""SELECT m.merchant, {_r4s('s.risk0')} AS seed_risk,
           {_r4s(f'm.risk{rounds}')} AS propagated_risk,
           {_r4s(f'm.risk{rounds} - s.risk0')} AS risk_lift
    FROM rp_m{rounds} m JOIN rp_seed s USING (merchant)"""


#: Chain + final at the production depth, reused verbatim by the
#: composed screens (``dash_mule_hubs``, ``RING_HUB_EXPOSURE_ORACLE``).
_RP_CTES = _rp_ctes(RISK_ROUNDS)

_RP_FINAL = _rp_final(RISK_ROUNDS)


def _graph_edges(g, edges: DataFrame | None = None) -> DataFrame:
    """The distinct card<->merchant edge projection every PR/RP screen
    rides — from the fact stream by default, or an externally
    MAINTAINED edge table (r16: the streaming monitor's published ∪
    live surface; distinct-union keeps it identical to the recompute
    by construction)."""
    if edges is not None:
        return edges
    return g["transactions"].select("cc_num", "merchant").distinct()


def _rp_risk_frames(
    g,
    rounds: int,
    edges: DataFrame | None = None,
    seed: DataFrame | None = None,
):
    """The Spark side of the SAME recurrence ``_rp_ctes`` unrolls:
    per-round merchant risk frames over the distinct card<->merchant
    edge projection. Returns (risks, seed) where risks[r-1] is the
    (merchant, risk) frame after round r — lazy plans sharing the one
    edge projection (reused exchange), so the production screen and
    the convergence audit read different depths of ONE lineage (the
    ``_pr_rank_frames`` discipline for the risk recurrence).
    ``edges``/``seed`` overrides let the maintained-graph streaming
    monitor feed the identical screen logic (seed must be the
    (merchant, risk0) fraud-rate frame; long-count partials divide to
    the same double because 0/1 sums are exact)."""
    edges = _graph_edges(g, edges)
    if seed is None:
        seed = g["transactions"].groupBy("merchant").agg(
            F.avg(F.col("is_fraud").cast("double")).alias("risk0")
        )
    risk = seed.withColumnRenamed("risk0", "risk")
    risks = []
    for _ in range(rounds):
        card = (
            edges.join(risk, "merchant")
            .groupBy("cc_num")
            .agg(F.avg("risk").alias("card_risk"))
        )
        risk = (
            edges.join(seed, "merchant")
            .join(card, "cc_num")
            .groupBy("merchant", "risk0")
            .agg(
                (
                    RISK_DAMPING * F.col("risk0")
                    + (1 - RISK_DAMPING) * F.avg("card_risk")
                ).alias("risk")
            )
            .select("merchant", "risk")
        )
        risks.append(risk)
    return risks, seed


def _pr_shared_surfaces(g, want_cards: bool = False) -> dict[str, DataFrame]:
    """The session-shared PageRank surfaces (``core.shared``), keyed
    on the medallion's transactions frame: "m" = (merchant, n,
    rank_prod, rank_audit, degm), "c" = (cc_num, n, rank_prod, degc),
    built on first card-side demand. One audit-depth build serves
    both depths: m_ranks[r] is the same lineage prefix at any
    requested depth, so its round-2 values are bit-identical to a
    2-round build. Override consumers (maintained-graph monitors)
    bypass the share and run the per-screen recurrence."""
    tx = g["transactions"]

    def merchants() -> DataFrame:
        m_ranks, degm = _pr_rank_frames(g, PR_AUDIT_ROUNDS)[:2]
        return (
            m_ranks[PR_ROUNDS - 1]
            .select("merchant", "n", F.col("rank").alias("rank_prod"))
            .join(
                m_ranks[PR_AUDIT_ROUNDS - 1].select(
                    "merchant", F.col("rank").alias("rank_audit")
                ),
                "merchant",
            )
            .join(degm, "merchant")
            .persist()
        )

    def cards() -> DataFrame:
        frames = _pr_rank_frames(g, PR_ROUNDS)
        c_rank, degc = frames[2][-1], frames[3]
        return c_rank.join(degc, "cc_num").persist()

    out = {"m": shared(tx, "pr_merchants", merchants)}
    if want_cards:
        out["c"] = shared(tx, "pr_cards", cards)
    return out


def _rp_shared_surface(g) -> DataFrame:
    """(merchant, risk0, risk_prod, risk_audit) shared per medallion
    (``core.shared``) — production AND audit depths of the risk
    recurrence from one audit-depth build."""

    def build() -> DataFrame:
        risks, seed = _rp_risk_frames(g, RP_AUDIT_ROUNDS)
        return (
            risks[RISK_ROUNDS - 1]
            .select("merchant", F.col("risk").alias("risk_prod"))
            .join(
                risks[RP_AUDIT_ROUNDS - 1].select(
                    "merchant", F.col("risk").alias("risk_audit")
                ),
                "merchant",
            )
            .join(seed, "merchant")
            .persist()
        )

    return shared(g["transactions"], "rp_merchants", build)


@_register(
    "dash_merchant_risk_propagation",
    f"""{_RP_CTES}
    {_RP_FINAL}
    """,
)
def dash_merchant_risk_propagation(
    g, edges: DataFrame | None = None, seed: DataFrame | None = None
) -> DataFrame:
    """Guilt-by-association merchant risk: label propagation over the
    card↔merchant bipartite graph. Seed each merchant with its
    observed fraud rate, then alternate two message-passing rounds —
    a card's risk is the mean of its merchants' risks, a merchant's
    next risk is damping·seed + (1−damping)·mean of its cards' risks
    — so a merchant whose OWN ledger looks clean but whose customers
    frequent hot merchants rises (risk_lift > 0), the signal a
    fraud-rate dashboard structurally cannot see. Fixed two rounds:
    enough to cross the bipartite graph twice, deterministic, and the
    ORACLE unrolls the same rounds as plain SQL joins — an iterative
    graph algorithm with a full hash-checked oracle (the averaging
    is per-key AVG of identical double sets in both engines; output
    rides dround(4)).

    Scale design: each round is two edge-keyed joins + keyed AVGs
    over the DISTINCT edge projection (O(cards × merchants-visited),
    collapsed once, reused every round — Catalyst reuses the
    exchange); degrees bound the fan-out, nothing is ever quadratic,
    no window, no driver loop (rounds are a Python-unrolled FIXED
    count, not data-dependent; r16: the round machinery lives in
    ``_rp_risk_frames`` / ``_rp_ctes``, shared with the convergence
    audit below — semantics unchanged)."""
    if edges is None and seed is None:
        # r17: production depth read from the shared RP surface —
        # risk_prod there is the identical round-2 lineage prefix of
        # the audit-depth build (see _rp_shared_surface)
        return _rp_shared_surface(g).select(
            "merchant",
            _r4(F.col("risk0")).alias("seed_risk"),
            _r4(F.col("risk_prod")).alias("propagated_risk"),
            _r4(F.col("risk_prod") - F.col("risk0")).alias("risk_lift"),
        )
    risks, seed = _rp_risk_frames(g, RISK_ROUNDS, edges, seed)
    return (
        risks[-1].join(seed, "merchant")
        .select(
            "merchant",
            _r4(F.col("risk0")).alias("seed_risk"),
            _r4(F.col("risk")).alias("propagated_risk"),
            _r4(F.col("risk") - F.col("risk0")).alias("risk_lift"),
        )
    )


#: convergence-audit depth for the risk recurrence: one round PAST
#: the production screen (the PR_AUDIT_ROUNDS discipline — r15
#: verdict #7: the fixed-round choice becomes a measured quantity).
RP_AUDIT_ROUNDS = 3


@_register(
    "dash_rp_convergence",
    f"""{_rp_ctes(RP_AUDIT_ROUNDS)}
    SELECT m2.merchant, {_r4s('s.risk0')} AS seed_risk,
           {_r4s(f'm2.risk{RISK_ROUNDS} - s.risk0')} AS lift_2r,
           {_r4s(f'm3.risk{RP_AUDIT_ROUNDS} - s.risk0')} AS lift_3r,
           {_r4s(f'abs(m3.risk{RP_AUDIT_ROUNDS} - m2.risk{RISK_ROUNDS})')} AS abs_move
    FROM rp_m{RISK_ROUNDS} m2
    JOIN rp_m{RP_AUDIT_ROUNDS} m3 USING (merchant)
    JOIN rp_seed s USING (merchant)
    """,
)
def dash_rp_convergence(
    g, edges: DataFrame | None = None, seed: DataFrame | None = None
) -> DataFrame:
    """Risk-propagation truncation audit (r16): per-merchant risk
    LIFT after round 2 (the production depth of
    ``dash_merchant_risk_propagation``) NEXT TO round 3, with the
    absolute movement — the ``dash_centrality_convergence``
    discipline applied to the risk recurrence, so the LAST fixed-round
    choice in the graph family becomes a measured truncation error
    instead of an assumption (tests/test_views.py pins the movement
    band on the synthetic graph, and the damping geometry bounds it:
    each extra round's contribution is scaled by (1-damping)^r).

    Scale design: one extra unrolled round over the SAME shared edge
    projection and seed frame (``_rp_risk_frames`` returns every
    round's frame from one lineage — round 2's aggregates are common
    subplans of round 3, reused exchanges, no second edge scan); the
    join of the two risk frames is merchant-keyed over O(merchants)
    rows. All four output columns are double arithmetic on risks both
    engines computed identically, so the audit hash-checks."""
    if edges is None and seed is None:
        # r17: both depths read from the shared RP surface
        return _rp_shared_surface(g).select(
            "merchant",
            _r4(F.col("risk0")).alias("seed_risk"),
            _r4(F.col("risk_prod") - F.col("risk0")).alias("lift_2r"),
            _r4(F.col("risk_audit") - F.col("risk0")).alias("lift_3r"),
            _r4(F.abs(F.col("risk_audit") - F.col("risk_prod"))).alias(
                "abs_move"
            ),
        )
    risks, seed = _rp_risk_frames(g, RP_AUDIT_ROUNDS, edges, seed)
    m2 = risks[RISK_ROUNDS - 1].select(
        "merchant", F.col("risk").alias("risk_prod")
    )
    m3 = risks[RP_AUDIT_ROUNDS - 1].select(
        "merchant", F.col("risk").alias("risk_audit")
    )
    return (
        m2.join(m3, "merchant")
        .join(seed, "merchant")
        .select(
            "merchant",
            _r4(F.col("risk0")).alias("seed_risk"),
            _r4(F.col("risk_prod") - F.col("risk0")).alias("lift_2r"),
            _r4(F.col("risk_audit") - F.col("risk0")).alias("lift_3r"),
            _r4(F.abs(F.col("risk_audit") - F.col("risk_prod"))).alias(
                "abs_move"
            ),
        )
    )


# --- merchant structural centrality (round 14) --------------------------------
#: PageRank damping (the canonical 0.85) for the 2-round power
#: iteration over the card↔merchant bipartite graph.
PR_DAMPING = 0.85

#: fixed unrolled rounds — deterministic, oracle-able as plain SQL
#: joins (the RISK_ROUNDS precedent for a different recurrence).
PR_ROUNDS = 2


def _pr_ctes(rounds: int) -> str:
    """Continued-CTE chain for ``rounds`` unrolled power-iteration
    rounds of the degree-damped bipartite PageRank (pr_edges/degrees/N
    head + pr_cR/pr_mR per round). Round 1 redistributes the uniform
    1/N vector from BOTH sides; each later round feeds merchants the
    FRESH card ranks of its own round (the exact recurrence the Spark
    builder unrolls — one definition of the round structure, any
    depth, so the 2-round screen and the 3-round convergence audit
    share it). The damping complement is interpolated from the
    PYTHON-computed constant (r14 advice: DuckDB's decimal ``1 - 0.85``
    is 1 ulp off Python's, enough to flip a dround(4) boundary)."""
    head = """
    , pr_edges AS (
      SELECT DISTINCT cc_num, merchant FROM transactions
    ),
    pr_degc AS (
      SELECT cc_num, CAST(COUNT(*) AS BIGINT) AS deg FROM pr_edges GROUP BY 1
    ),
    pr_degm AS (
      SELECT merchant, CAST(COUNT(*) AS BIGINT) AS deg FROM pr_edges GROUP BY 1
    ),
    pr_n AS (
      SELECT (SELECT COUNT(*) FROM pr_degc) + (SELECT COUNT(*) FROM pr_degm)
        AS n FROM (SELECT 1)
    )"""
    parts = [head]
    for r in range(1, rounds + 1):
        c_in = "(1.0 / n.n)" if r == 1 else f"m{r-1}.rank"
        c_join = (
            "" if r == 1 else f"\n      JOIN pr_m{r-1} m{r-1} USING (merchant)"
        )
        m_in = "(1.0 / n.n)" if r == 1 else f"c{r}.rank"
        m_join = "" if r == 1 else f"\n      JOIN pr_c{r} c{r} USING (cc_num)"
        parts.append(f""",
    pr_c{r} AS (
      SELECT e.cc_num,
             {1 - PR_DAMPING} / n.n
               + {PR_DAMPING} * SUM({c_in} / dm.deg) AS rank
      FROM pr_edges e{c_join}
      JOIN pr_degm dm USING (merchant), pr_n n
      GROUP BY e.cc_num, n.n
    ),
    pr_m{r} AS (
      SELECT e.merchant,
             {1 - PR_DAMPING} / n.n
               + {PR_DAMPING} * SUM({m_in} / dc.deg) AS rank
      FROM pr_edges e{m_join}
      JOIN pr_degc dc USING (cc_num), pr_n n
      GROUP BY e.merchant, n.n
    )""")
    return "".join(parts)


def _pr_final(rounds: int) -> str:
    """Final SELECT over ``_pr_ctes(rounds)``: merchant, degree, and
    rank reported x N vs the uniform baseline."""
    m = f"m{rounds}"
    return f"""SELECT {m}.merchant, dm.deg AS n_cards,
           {_r4s(f'{m}.rank * n.n')} AS centrality
    FROM pr_m{rounds} {m} JOIN pr_degm dm USING (merchant), pr_n n"""


def _pr_rank_frames(g, rounds: int, edges: DataFrame | None = None):
    """The Spark side of the SAME recurrence ``_pr_ctes`` unrolls:
    per-round rank frames over the distinct card<->merchant edge
    projection. Returns (m_ranks, degm, c_ranks, degc) where
    m_ranks[r-1] / c_ranks[r-1] are the (merchant|cc_num, n, rank)
    frames after round r — lazy plans sharing the one edge
    projection, so Catalyst reuses the exchange across rounds and
    across consumers asking for different depths or sides (the
    merchant screens read m_ranks; ``dash_card_hubs`` reads the
    card side the same recurrence already computes). ``edges``
    override: the maintained-graph streaming monitor (r16)."""
    edges = _graph_edges(g, edges)
    degc = edges.groupBy("cc_num").agg(F.count("*").cast("long").alias("degc"))
    degm = edges.groupBy("merchant").agg(
        F.count("*").cast("long").alias("degm")
    )
    n = degc.select(F.count("*").alias("nc")).crossJoin(
        F.broadcast(degm.select(F.count("*").alias("nm")))
    ).select((F.col("nc") + F.col("nm")).cast("double").alias("n"))
    base = 1 - PR_DAMPING

    # round state: (cc_num, rank) / (merchant, rank); r0 = 1/N both sides
    e_n = edges.crossJoin(F.broadcast(n))
    m_ranks = []
    c_ranks = []
    c_rank = None
    m_rank = None
    for rnd in range(rounds):
        if rnd == 0:
            c_rank = (
                e_n.join(degm, "merchant")
                .groupBy("cc_num", "n")
                .agg(
                    (
                        base / F.col("n")
                        + PR_DAMPING
                        * F.sum((1.0 / F.col("n")) / F.col("degm"))
                    ).alias("rank")
                )
            )
            m_rank = (
                e_n.join(degc, "cc_num")
                .groupBy("merchant", "n")
                .agg(
                    (
                        base / F.col("n")
                        + PR_DAMPING
                        * F.sum((1.0 / F.col("n")) / F.col("degc"))
                    ).alias("rank")
                )
            )
        else:
            c_rank = (
                e_n.join(m_rank.select("merchant", "rank"), "merchant")
                .join(degm, "merchant")
                .groupBy("cc_num", "n")
                .agg(
                    (
                        base / F.col("n")
                        + PR_DAMPING * F.sum(F.col("rank") / F.col("degm"))
                    ).alias("rank")
                )
            )
            m_rank = (
                e_n.join(c_rank.select("cc_num", "rank"), "cc_num")
                .join(degc, "cc_num")
                .groupBy("merchant", "n")
                .agg(
                    (
                        base / F.col("n")
                        + PR_DAMPING * F.sum(F.col("rank") / F.col("degc"))
                    ).alias("rank")
                )
            )
        m_ranks.append(m_rank)
        c_ranks.append(c_rank)
    return m_ranks, degm, c_ranks, degc


@_register(
    "dash_merchant_centrality",
    f"""{_pr_ctes(PR_ROUNDS)}
    {_pr_final(PR_ROUNDS)}
    """,
)
def dash_merchant_centrality(g, edges: DataFrame | None = None) -> DataFrame:
    """Merchant structural centrality: two unrolled power-iteration
    rounds of degree-damped PageRank over the undirected
    card↔merchant bipartite graph — each side's rank alternately
    redistributes through the other side's degree-normalized edges
    with the canonical 0.85 damping. The STRUCTURAL companion to
    ``dash_merchant_risk_propagation``: risk propagation weights by
    observed fraud, centrality by pure connectivity, and a merchant
    high on BOTH lists is a mule hub, not just a busy store (the
    composed screen: ``dash_mule_hubs``).
    ``centrality`` is reported relative to the uniform baseline
    (rank × N, so 1.0 = average node) — O(1)-scale values that round
    stably at dround(4) (raw ranks ~1/N would quantize to nothing).

    Scale design: the RISK_ROUNDS recurrence at a different formula —
    each round is an edge-keyed join + keyed SUM over the DISTINCT
    edge projection (collapsed once, exchange reused across rounds);
    degrees bound the redistribution fan-out, N is one broadcast
    scalar, rounds are a FIXED Python-unrolled count (r15: the round
    machinery lives in ``_pr_rank_frames`` / ``_pr_ctes``, shared
    with the 3-round convergence audit below — semantics unchanged).
    The oracle unrolls the identical rounds as SQL joins — an
    iterative graph algorithm with a full hash-checked oracle."""
    if edges is None:
        # r17: production depth read from the shared PR surface —
        # rank_prod is the identical round-2 lineage prefix of the
        # audit-depth build (see _pr_shared_surfaces)
        return _pr_shared_surfaces(g)["m"].select(
            "merchant",
            F.col("degm").alias("n_cards"),
            _r4(F.col("rank_prod") * F.col("n")).alias("centrality"),
        )
    m_ranks, degm = _pr_rank_frames(g, PR_ROUNDS, edges)[:2]
    m_rank = m_ranks[-1]
    return (
        m_rank.join(degm, "merchant")
        .select(
            "merchant",
            F.col("degm").alias("n_cards"),
            _r4(F.col("rank") * F.col("n")).alias("centrality"),
        )
    )


#: convergence-audit depth: one round PAST the production screen, so
#: the fixed-round truncation is a MEASURED quantity, not an
#: assumption (r14 verdict #8).
PR_AUDIT_ROUNDS = 3


@_register(
    "dash_centrality_convergence",
    # CTE names derived from the round constants the way _pr_final
    # does (r15 advice: a hardcoded pr_m2/pr_m3 would silently desync
    # from a changed PR_ROUNDS/PR_AUDIT_ROUNDS instead of failing)
    f"""{_pr_ctes(PR_AUDIT_ROUNDS)}
    SELECT m2.merchant, dm.deg AS n_cards,
           {_r4s('m2.rank * n.n')} AS centrality_2r,
           {_r4s('m3.rank * n.n')} AS centrality_3r,
           {_r4s('abs(m3.rank * n.n - m2.rank * n.n)')} AS abs_move
    FROM pr_m{PR_ROUNDS} m2
    JOIN pr_m{PR_AUDIT_ROUNDS} m3 USING (merchant)
    JOIN pr_degm dm USING (merchant), pr_n n
    """,
)
def dash_centrality_convergence(g, edges: DataFrame | None = None) -> DataFrame:
    """PageRank truncation audit: merchant centrality after round 2
    (the production screen's depth) NEXT TO round 3, with the absolute
    movement — the risk-propagation discipline applied to the
    structural twin: the fixed-round choice in
    ``dash_merchant_centrality`` becomes a measured truncation error
    (tests/test_views.py pins the max movement band on the synthetic
    graph), and an analyst reading the screen sees per-merchant how
    settled each rank is.

    Scale design: one extra unrolled round over the SAME shared edge
    projection and degree frames (``_pr_rank_frames`` returns every
    round's frame from one lineage — the round-2 aggregates are
    common subplans of round 3, reused exchanges, no second edge
    scan); the join of the two rank frames is merchant-keyed over
    O(merchants) rows. abs_move is pure double arithmetic on ranks
    both engines computed bit-identically, so even the audit column
    hash-checks."""
    if edges is None:
        # r17: both depths read from the shared PR surface
        return _pr_shared_surfaces(g)["m"].select(
            "merchant",
            F.col("degm").alias("n_cards"),
            _r4(F.col("rank_prod") * F.col("n")).alias("centrality_2r"),
            _r4(F.col("rank_audit") * F.col("n")).alias("centrality_3r"),
            _r4(
                F.abs(
                    F.col("rank_audit") * F.col("n")
                    - F.col("rank_prod") * F.col("n")
                )
            ).alias("abs_move"),
        )
    m_ranks, degm = _pr_rank_frames(g, PR_AUDIT_ROUNDS, edges)[:2]
    m2 = m_ranks[1].select("merchant", "n", F.col("rank").alias("rank2"))
    m3 = m_ranks[2].select("merchant", F.col("rank").alias("rank3"))
    return (
        m2.join(m3, "merchant")
        .join(degm, "merchant")
        .select(
            "merchant",
            F.col("degm").alias("n_cards"),
            _r4(F.col("rank2") * F.col("n")).alias("centrality_2r"),
            _r4(F.col("rank3") * F.col("n")).alias("centrality_3r"),
            _r4(
                F.abs(
                    F.col("rank3") * F.col("n") - F.col("rank2") * F.col("n")
                )
            ).alias("abs_move"),
        )
    )


@_register(
    "dash_card_hubs",
    # final-round card CTE name derived from PR_ROUNDS (r15 advice)
    f"""{_pr_ctes(PR_ROUNDS)}
    SELECT c2.cc_num, dc.deg AS n_merchants,
           {_r4s('c2.rank * n.n')} AS centrality
    FROM pr_c{PR_ROUNDS} c2 JOIN pr_degc dc USING (cc_num), pr_n n
    """,
)
def dash_card_hubs(g, edges: DataFrame | None = None) -> DataFrame:
    """Card-side structural centrality (r15): the SAME two-round
    damped recurrence as ``dash_merchant_centrality``, read from the
    card side of the bipartite graph — a card whose rank towers over
    the uniform baseline touches many merchants that are themselves
    well-connected, the movement signature of card-testing fleets and
    mule cards (its ring screens see the co-occurrence AFTER cards
    collude; this ranks single-card breadth BEFORE any pairing). The
    merchant screens read m_ranks from ``_pr_rank_frames``; this one
    reads the c_ranks the recurrence already computes — no new round
    structure, no new oracle machinery (pr_c2 is already a CTE of the
    shared unrolled chain).

    Scale design: identical to the merchant side — edge-keyed joins +
    keyed SUMs over the one distinct edge projection, degree-bounded
    fan-out, fixed unrolled rounds, N one broadcast scalar."""
    if edges is None:
        # r17: card side read from the shared PR surface (added on
        # first card-side demand — see _pr_shared_surfaces)
        return _pr_shared_surfaces(g, want_cards=True)["c"].select(
            "cc_num",
            F.col("degc").alias("n_merchants"),
            _r4(F.col("rank") * F.col("n")).alias("centrality"),
        )
    out = _pr_rank_frames(g, PR_ROUNDS, edges)
    c_rank, degc = out[2][-1], out[3]
    return (
        c_rank.join(degc, "cc_num")
        .select(
            "cc_num",
            F.col("degc").alias("n_merchants"),
            _r4(F.col("rank") * F.col("n")).alias("centrality"),
        )
    )


@_register(
    "dash_mule_hubs",
    f"""{_pr_ctes(PR_ROUNDS)}
    {_RP_CTES},
    mh_cent AS (
      {_pr_final(PR_ROUNDS)}
    ),
    mh_risk AS (
      {_RP_FINAL}
    ),
    mh AS (
      SELECT c.merchant, c.n_cards, c.centrality, r.risk_lift,
             r.propagated_risk
      FROM mh_cent c JOIN mh_risk r USING (merchant)
    ),
    mh_med AS (
      SELECT quantile_cont(centrality, 0.5) AS med_c,
             quantile_cont(risk_lift, 0.5) AS med_l
      FROM mh
    )
    SELECT merchant, n_cards, centrality, risk_lift, propagated_risk
    FROM mh, mh_med
    WHERE centrality > med_c AND risk_lift > med_l
    """,
)
def dash_mule_hubs(
    g, edges: DataFrame | None = None, seed: DataFrame | None = None
) -> DataFrame:
    """Mule-hub composite: merchants STRICTLY ABOVE the population
    median on BOTH structural centrality (``dash_merchant_centrality``)
    and propagated risk lift (``dash_merchant_risk_propagation``) —
    the screen both component docstrings promise: a merchant that is a
    connectivity hub AND fraud-adjacent beyond its own ledger. Either
    signal alone has an innocent explanation (a busy supermarket; a
    store next to a hot one); the conjunction is the mule-hub
    signature. Median splits (not absolute cuts) because both axes'
    scales move with graph density across data volumes — the screen
    always reads "top half on both", deterministic at every SF.

    Scale design: both inputs are merchant-keyed O(merchants) surfaces
    over the one shared edge projection; the medians are two exact
    percentile aggregates over that tiny surface broadcast back as a
    1-row frame (the keyed-MAD idiom); the conjunction is a filter.
    Both inputs carry full unrolled SQL oracles, so the composition
    hash-checks end to end — medians computed over the ROUNDED
    columns in both engines, so the boundary comparisons agree
    bit-for-bit."""
    if edges is None and seed is None:
        # session-shared (core.shared): three timed screens read this
        # exact frame (this one, dash_ring_hub_exposure,
        # dash_ring_hub_trend); override consumers (maintained-graph
        # monitors) bypass the share
        return shared(
            g["transactions"],
            "mule_hubs",
            lambda: _mule_hubs_fresh(g, None, None).persist(),
        )
    return _mule_hubs_fresh(g, edges, seed)


def _mule_hubs_fresh(g, edges, seed) -> DataFrame:
    """The un-shared mule-hub build (see ``dash_mule_hubs``)."""
    cent = dash_merchant_centrality(g, edges).select(
        "merchant", "n_cards", "centrality"
    )
    risk = dash_merchant_risk_propagation(g, edges, seed).select(
        "merchant", "risk_lift", "propagated_risk"
    )
    j = cent.join(risk, "merchant")
    med = j.agg(
        F.percentile("centrality", 0.5).alias("med_c"),
        F.percentile("risk_lift", 0.5).alias("med_l"),
    )
    return (
        j.crossJoin(F.broadcast(med))
        .filter(
            (F.col("centrality") > F.col("med_c"))
            & (F.col("risk_lift") > F.col("med_l"))
        )
        .select(
            "merchant", "n_cards", "centrality", "risk_lift", "propagated_risk"
        )
    )


#: standalone oracle for the ring x hub composition (bound in
#: __spark_entry__ — WITH RECURSIVE cannot open mid-chain): the shared
#: ring CC closure + the PR/RP chains + the mule conjunction + the
#: per-ring exposure rollup, composed from the SAME text pieces every
#: component oracle uses (one definition each).
RING_HUB_EXPOSURE_ORACLE = (
    _RING_CC_CTES
    + _pr_ctes(PR_ROUNDS)
    + _RP_CTES
    + f""",
    mh_cent AS (
      {_pr_final(PR_ROUNDS)}
    ),
    mh_risk AS (
      {_RP_FINAL}
    ),
    mh AS (
      SELECT c.merchant, c.centrality, r.risk_lift
      FROM mh_cent c JOIN mh_risk r USING (merchant)
    ),
    mh_med AS (
      SELECT quantile_cont(centrality, 0.5) AS med_c,
             quantile_cont(risk_lift, 0.5) AS med_l
      FROM mh
    ),
    hubs AS (
      SELECT merchant FROM mh, mh_med
      WHERE centrality > med_c AND risk_lift > med_l
    ),
    rhe AS (
      SELECT r.ring_id, r.cc_num, e.merchant,
             h.merchant IS NOT NULL AS is_hub
      FROM rcomp r
      JOIN (SELECT DISTINCT cc_num, merchant FROM transactions) e
        USING (cc_num)
      LEFT JOIN hubs h ON h.merchant = e.merchant
    )
    SELECT ring_id,
           CAST(COUNT(DISTINCT cc_num) AS BIGINT) AS n_cards,
           CAST(COUNT(DISTINCT merchant) AS BIGINT) AS n_merchants,
           CAST(COUNT(DISTINCT CASE WHEN is_hub THEN merchant END) AS BIGINT)
             AS n_hub_merchants,
           {_r4s('CAST(COUNT(DISTINCT CASE WHEN is_hub THEN merchant END) AS DOUBLE)'
                 ' / COUNT(DISTINCT merchant)')} AS hub_share
    FROM rhe GROUP BY ring_id
    """
)


@_register("dash_ring_hub_exposure", None)  # SQL bound in __spark_entry__
def dash_ring_hub_exposure(g) -> DataFrame:
    """Ring x mule-hub exposure (r15): for every detected fraud ring,
    how much of its merchant surface is MULE-HUB territory — distinct
    merchants its cards touch, how many of those clear the
    ``dash_mule_hubs`` conjunction, and the share. The screen that
    joins the two graph families: rings are card-side co-occurrence
    AFTER collusion, hubs are merchant-side structure x risk — a ring
    whose merchant surface is half hubs is operating THROUGH the mule
    layer (prioritize), one at base-rate hub share stumbled into the
    support floor (triage down).

    Scale design: membership (session-shared persisted intermediate)
    is O(linked cards); the edges join is the distinct projection
    keyed on cc_num; the hub flag is a LEFT join against the
    O(merchants) hub surface; rollups are keyed distinct-counts with
    the standard two-phase expansion. The ORACLE composes the shared
    ring-CC closure, the unrolled PR/RP chains, and the mule
    conjunction from the same text pieces the component oracles use —
    the whole composition hash-checks."""
    rings = _ring_shared(g)["comp"]
    hubs = dash_mule_hubs(g).select("merchant").withColumn("__hub", F.lit(1))
    edges = g["transactions"].select("cc_num", "merchant").distinct()
    j = rings.join(edges, "cc_num").join(hubs, "merchant", "left")
    return (
        j.groupBy("ring_id")
        .agg(
            F.countDistinct("cc_num").cast("long").alias("n_cards"),
            F.countDistinct("merchant").cast("long").alias("n_merchants"),
            F.countDistinct(
                F.when(F.col("__hub") == 1, F.col("merchant"))
            )
            .cast("long")
            .alias("n_hub_merchants"),
        )
        .withColumn(
            "hub_share",
            _r4(
                F.col("n_hub_merchants").cast("double")
                / F.col("n_merchants")
            ),
        )
    )


#: standalone oracle for the ring-hub TREND (bound in __spark_entry__
#: — WITH RECURSIVE): the same composed chain as the exposure screen,
#: rolled up per (ring, ISO-ish week) with a lag window for the
#: week-over-week movement. week_idx is integer floor-division of
#: days-since-Monday-1970-01-05 by 7 — bit-agreed integer arithmetic
#: in both engines, no calendar-function dialect risk.
RING_HUB_TREND_ORACLE = (
    _RING_CC_CTES
    + _pr_ctes(PR_ROUNDS)
    + _RP_CTES
    + f""",
    mh_cent AS (
      {_pr_final(PR_ROUNDS)}
    ),
    mh_risk AS (
      {_RP_FINAL}
    ),
    mh AS (
      SELECT c.merchant, c.centrality, r.risk_lift
      FROM mh_cent c JOIN mh_risk r USING (merchant)
    ),
    mh_med AS (
      SELECT quantile_cont(centrality, 0.5) AS med_c,
             quantile_cont(risk_lift, 0.5) AS med_l
      FROM mh
    ),
    hubs AS (
      SELECT merchant FROM mh, mh_med
      WHERE centrality > med_c AND risk_lift > med_l
    ),
    rht_wk AS (
      SELECT DISTINCT cc_num, merchant,
             CAST((day - DATE '1970-01-05') // 7 AS BIGINT) AS week_idx
      FROM ring_links
    ),
    rht_weekly AS (
      SELECT r.ring_id, w.week_idx,
             CAST(COUNT(DISTINCT w.merchant) AS BIGINT) AS n_merchants,
             CAST(COUNT(DISTINCT CASE WHEN h.merchant IS NOT NULL
                                      THEN w.merchant END) AS BIGINT)
               AS n_hub_merchants
      FROM rcomp r
      JOIN rht_wk w USING (cc_num)
      LEFT JOIN hubs h ON h.merchant = w.merchant
      GROUP BY 1, 2
    ),
    rht_share AS (
      SELECT ring_id, week_idx, n_merchants, n_hub_merchants,
             {_r4s('CAST(n_hub_merchants AS DOUBLE) / n_merchants')}
               AS hub_share
      FROM rht_weekly
    )
    SELECT ring_id,
           DATE '1970-01-05' + CAST(week_idx * 7 AS INTEGER) AS week_start,
           n_merchants, n_hub_merchants, hub_share,
           {_r4s('hub_share - LAG(hub_share) OVER '
                 '(PARTITION BY ring_id ORDER BY week_idx)')}
             AS hub_share_delta
    FROM rht_share
    """
)


@_register("dash_ring_hub_trend", None)  # SQL bound in __spark_entry__
def dash_ring_hub_trend(
    g,
    links: DataFrame | None = None,
    edges: DataFrame | None = None,
    seed: DataFrame | None = None,
) -> DataFrame:
    """Ring-hub exposure TREND (r16, r15 verdict #8): per detected
    ring, per calendar week of its activity, the share of its distinct
    merchant surface that is mule-hub territory, with the
    week-over-week movement — ``dash_ring_evolution`` gives a ring a
    timeline, ``dash_ring_hub_exposure`` a static hub share; the
    composition answers the question both leave open: is this ring
    MOVING INTO the mule layer (rising hub_share → prioritize the
    open case) or drifting out of it. Week buckets are integer
    floor-division of days-since-epoch-Monday by 7 (bit-exact in both
    engines); hub_share_delta is LAG over the rounded share, NULL for
    a ring's first active week.

    Scale design: the weekly link surface is the SAME
    O(cards x active days) ``ring_links`` projection every ring
    screen rides, collapsed to (cc_num, merchant, week) — strictly
    smaller; membership comes from the session-shared persisted CC
    intermediate and the hub flag is a LEFT join against the
    O(merchants) mule surface; the lag window partitions by ring over
    the O(rings x weeks) rollup — the windowed-over-bounded-aggregates
    class, never a window over fact rows. The ORACLE composes the
    shared ring-CC closure, the unrolled PR/RP chains, and the mule
    conjunction from the same text pieces the component oracles use,
    so the whole trend hash-checks.

    ``links``/``edges``/``seed`` overrides (r16): the maintained-
    graph streaming monitors feed the identical screen logic —
    ``links`` replaces BOTH the ring-CC input (pairs + components
    recomputed from the maintained link table, same builders) and
    the weekly surface; ``edges``/``seed`` flow to the mule-hub
    conjunction. Every maintained merge is distinct-union, so the
    composed trend is identical to the recompute by construction."""
    if links is None:
        rings = _ring_shared(g)["comp"]
        lk = ring_links(g["transactions"])
    else:
        from real_time_fraud_detection_lakehouse_spark.operators.dedup import (
            connected_components,
        )

        pairs = ring_pairs_from_links(links, RING_STRONG_SUPPORT)
        rings = connected_components(pairs, src="card_a", dst="card_b").select(
            F.col("node").alias("cc_num"), F.col("component").alias("ring_id")
        )
        lk = links
    hubs = dash_mule_hubs(g, edges, seed).select("merchant").withColumn(
        "__hub", F.lit(1)
    )
    wk = (
        lk
        .select(
            "cc_num",
            "merchant",
            F.expr(
                "CAST(datediff(day, DATE '1970-01-05') DIV 7 AS BIGINT)"
            ).alias("week_idx"),
        )
        .distinct()
    )
    weekly = (
        rings.join(wk, "cc_num")
        .join(hubs, "merchant", "left")
        .groupBy("ring_id", "week_idx")
        .agg(
            F.countDistinct("merchant").cast("long").alias("n_merchants"),
            F.countDistinct(F.when(F.col("__hub") == 1, F.col("merchant")))
            .cast("long")
            .alias("n_hub_merchants"),
        )
        .withColumn(
            "hub_share",
            _r4(F.col("n_hub_merchants").cast("double") / F.col("n_merchants")),
        )
    )
    w = Window.partitionBy("ring_id").orderBy("week_idx")
    return weekly.select(
        "ring_id",
        F.expr(
            "date_add(DATE '1970-01-05', CAST(week_idx * 7 AS INT))"
        ).alias("week_start"),
        "n_merchants",
        "n_hub_merchants",
        "hub_share",
        _r4(F.col("hub_share") - F.lag("hub_share").over(w)).alias(
            "hub_share_delta"
        ),
    )


# --- CUSUM drift screen (round 13) -------------------------------------------
#: slack per day (in robust sigmas) the CUSUM absorbs before it
#: accumulates — detects SUSTAINED shifts ~0.5 sigma and up, the drift
#: class the per-day MAD screen structurally misses.
CUSUM_SLACK = 0.5

#: alarm threshold in robust sigmas of accumulated drift.
CUSUM_THRESHOLD = 4.0


@_register(
    "dash_fraud_rate_cusum",
    f"""
    , cu_daily AS (
      SELECT CAST(transaction_timestamp AS DATE) AS day,
             AVG(CAST(is_fraud AS DOUBLE)) AS rate
      FROM fact_transactions GROUP BY 1
    ),
    cu_base AS (
      SELECT quantile_cont(rate, 0.5) AS med,
             quantile_cont(abs(rate - (SELECT quantile_cont(rate, 0.5) FROM cu_daily)), 0.5) AS mad
      FROM cu_daily
    ),
    cu_z AS (
      SELECT d.day, d.rate,
             (d.rate - b.med) / (1.4826 * b.mad) - {CUSUM_SLACK} AS step
      FROM cu_daily d, cu_base b
      WHERE b.mad > 0
    ),
    cu_prefix AS (
      SELECT day, rate, SUM(step) OVER (ORDER BY day) AS p FROM cu_z
    ),
    cu_run AS (
      SELECT day, rate, p,
             MIN(p) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pmin
      FROM cu_prefix
    )
    SELECT day, {_r4s('rate')} AS fraud_rate,
           {_r4s('p - LEAST(pmin, 0)')} AS cusum,
           p - LEAST(pmin, 0) > {CUSUM_THRESHOLD} AS alarm
    FROM cu_run
    """,
)
def dash_fraud_rate_cusum(g) -> DataFrame:
    """CUSUM drift screen over the daily fraud rate: the one-sided
    cumulative-sum statistic S_t = max(0, S_[t-1] + z_t - slack),
    which fires on SUSTAINED small shifts (a 0.5-sigma rate creep
    over a week) that per-day outlier screens — including the MAD
    family — structurally cannot see. Standardization uses the
    median/MAD baseline (robust to the very drift being hunted);
    alarm at CUSUM_THRESHOLD (4.0) accumulated robust sigmas.

    Closed form instead of recurrence: S_t = P_t - min(0, min over
    j<=t of P_j) where P is the prefix sum of (z - slack) — so the
    sequential-looking recurrence becomes ONE cumulative sum plus a
    running min, two ordered windows over the O(days) daily frame
    (bounded — this is the windowed-over-tiny-aggregates class, the
    gap-fill/SCD2 precedent, never a window over fact rows). Both
    engines compute the identical closed form; output rides
    dround(4)."""
    daily = (
        g["fact"]
        .groupBy(F.col("transaction_timestamp").cast("date").alias("day"))
        .agg(F.avg(F.col("is_fraud").cast("double")).alias("rate"))
    )
    return cusum_from_daily(daily)


def cusum_from_daily(daily: DataFrame) -> DataFrame:
    """The CUSUM closed form over a (day, rate) frame — shared by the
    batch dashboard and the streaming monitor (whose merged per-day
    partials reduce to the identical daily frame, so the two surfaces
    are bit-identical by construction)."""
    med = daily.agg(F.percentile("rate", 0.5).alias("med"))
    dev = daily.crossJoin(F.broadcast(med))
    mad = dev.agg(
        F.percentile(F.abs(F.col("rate") - F.col("med")), 0.5).alias("mad")
    )
    z = (
        dev.crossJoin(F.broadcast(mad))
        .filter(F.col("mad") > 0)
        .withColumn(
            "step",
            (F.col("rate") - F.col("med")) / (1.4826 * F.col("mad"))
            - CUSUM_SLACK,
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    p = F.sum("step").over(w)
    prefix = z.select("day", "rate", p.alias("p"))
    pmin = F.min("p").over(
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    )
    cusum = F.col("p") - F.least(pmin, F.lit(0.0))
    return prefix.select(
        "day",
        _r4(F.col("rate")).alias("fraud_rate"),
        _r4(cusum).alias("cusum"),
        (cusum > CUSUM_THRESHOLD).alias("alarm"),
    )


# --- impossible-travel detector (round 13) -----------------------------------
#: km/h above which consecutive same-card transactions are physically
#: impossible (faster than commercial flight).
TRAVEL_MAX_KMH = 900.0

#: same-timestamp pairs are impossible whenever the locations differ
#: by more than this many km (two card-present uses at once).
TRAVEL_SAME_TS_KM = 1.0


@_register(
    "dash_impossible_travel",
    f"""
    , tr_lag AS (
      SELECT cc_num, trans_num, trans_timestamp, merch_lat, merch_long,
             LAG(trans_timestamp) OVER w AS prev_ts,
             LAG(merch_lat) OVER w AS prev_lat,
             LAG(merch_long) OVER w AS prev_long
      FROM transactions
      WHERE merch_lat IS NOT NULL AND merch_long IS NOT NULL
      WINDOW w AS (PARTITION BY cc_num ORDER BY trans_timestamp, trans_num)
    ),
    tr_pairs AS (
      SELECT cc_num, trans_num, trans_timestamp, prev_ts,
             {_haversine_sql("prev_lat", "prev_long", "merch_lat", "merch_long")} AS dist_km,
             epoch_us(trans_timestamp) - epoch_us(prev_ts) AS dt_us
      FROM tr_lag WHERE prev_ts IS NOT NULL
    )
    SELECT cc_num, trans_num, trans_timestamp, prev_ts,
           {_r4s('dist_km')} AS distance_km,
           {_r4s('CASE WHEN dt_us > 0 THEN dist_km / (dt_us / 3600000000.0) END')} AS speed_kmh
    FROM tr_pairs
    WHERE (dt_us = 0 AND dist_km > {TRAVEL_SAME_TS_KM})
       OR (dt_us > 0 AND dist_km / (dt_us / 3600000000.0) > {TRAVEL_MAX_KMH})
    """,
)
def dash_impossible_travel(g) -> DataFrame:
    """The classic card-present fraud detector: consecutive
    transactions on the same card whose implied travel speed exceeds
    TRAVEL_MAX_KMH (900 km/h — faster than commercial flight), or
    simultaneous use at locations more than TRAVEL_SAME_TS_KM (1 km)
    apart — physically impossible movement,
    the highest-precision single signal a rules engine owns.

    Scale design: ONE window, partitioned by cc_num and ordered
    within the card's own history — the allowed window class
    (per-card history is bounded; no global sort, the shuffle is the
    same cc_num hash the scoring path already uses). Distance reuses
    the module-shared haversine pair (functions.features.haversine_km
    / plans.silver._haversine_sql — one definition, the silver
    discipline), the speed ratio is computed identically in both
    engines, and ties within a timestamp order deterministically by
    trans_num. dt in integer microseconds so the simultaneous-use
    branch is exact, never a double-equality."""
    from real_time_fraud_detection_lakehouse_spark.functions.features import (
        haversine_km,
    )

    w = (
        Window.partitionBy("cc_num")
        .orderBy("trans_timestamp", "trans_num")
    )
    lagged = (
        g["transactions"]
        .filter(F.col("merch_lat").isNotNull() & F.col("merch_long").isNotNull())
        .select(
            "cc_num",
            "trans_num",
            "trans_timestamp",
            "merch_lat",
            "merch_long",
            F.lag("trans_timestamp").over(w).alias("prev_ts"),
            F.lag("merch_lat").over(w).alias("prev_lat"),
            F.lag("merch_long").over(w).alias("prev_long"),
        )
        .filter(F.col("prev_ts").isNotNull())
    )
    dist = haversine_km(
        F.col("prev_lat"), F.col("prev_long"), F.col("merch_lat"), F.col("merch_long")
    )
    dt_us = F.unix_micros("trans_timestamp") - F.unix_micros("prev_ts")
    pairs = lagged.select(
        "cc_num",
        "trans_num",
        "trans_timestamp",
        "prev_ts",
        dist.alias("dist_km"),
        dt_us.alias("dt_us"),
    )
    speed = F.col("dist_km") / (F.col("dt_us") / 3_600_000_000.0)
    return (
        pairs.filter(
            ((F.col("dt_us") == 0) & (F.col("dist_km") > TRAVEL_SAME_TS_KM))
            | ((F.col("dt_us") > 0) & (speed > TRAVEL_MAX_KMH))
        )
        .select(
            "cc_num",
            "trans_num",
            "trans_timestamp",
            "prev_ts",
            _r4(F.col("dist_km")).alias("distance_km"),
            _r4(F.when(F.col("dt_us") > 0, speed)).alias("speed_kmh"),
        )
    )


# --- card-testing screen (round 14) ------------------------------------------
#: transactions under this amount count as "probe-sized" — fraudsters
#: validate stolen card numbers with micro-charges before the real
#: spend.
CARD_TESTING_MAX_AMT = 5.0

#: minimum probe-sized transactions for a merchant-day to surface —
#: tuned to the synthetic data's sparse small-amount tail (max 3 per
#: merchant-day at test SFs); production raises it with volume.
CARD_TESTING_MIN = 2


@_register(
    "dash_card_testing",
    f"""
    , ct AS (
      SELECT merchant, CAST(trans_timestamp AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_tx,
             CAST(SUM(CASE WHEN amt < {CARD_TESTING_MAX_AMT} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_small,
             CAST(COUNT(DISTINCT CASE WHEN amt < {CARD_TESTING_MAX_AMT}
               THEN cc_num END) AS BIGINT) AS n_cards_small
      FROM transactions GROUP BY 1, 2
    )
    SELECT merchant, day, n_tx, n_small, n_cards_small,
           {_r4s('CAST(n_small AS DOUBLE) / n_tx')} AS small_share
    FROM ct WHERE n_small >= {CARD_TESTING_MIN}
    """,
)
def dash_card_testing(g) -> DataFrame:
    """Card-testing screen: merchant-days with a cluster of
    probe-sized (< $5) charges — the signature of a stolen-number
    validation run, where fraudsters fire micro-charges through a
    (often compromised or colluding) merchant to find live cards
    before the real spend. Surfaces the merchant-day with its
    probe-charge count, distinct cards probed, and the probe share of
    that day's volume — n_cards_small ≈ n_small is the tell (each
    probe on a DIFFERENT card; a repeat customer making small buys
    repeats the same card).

    Scale design: one keyed aggregate over (merchant, day) with
    map-side partials and conditional counters — the hotspot-screen
    class; the distinct-card counter is per-group countDistinct over
    the same shuffle, and the support floor bounds the output. No
    window, no join."""
    small = F.col("amt") < CARD_TESTING_MAX_AMT
    ct = (
        g["transactions"]
        .groupBy("merchant", F.to_date("trans_timestamp").alias("day"))
        .agg(
            F.count("*").cast("long").alias("n_tx"),
            F.sum(F.when(small, 1).otherwise(0)).cast("long").alias("n_small"),
            F.countDistinct(F.when(small, F.col("cc_num")))
            .cast("long")
            .alias("n_cards_small"),
        )
        .filter(F.col("n_small") >= CARD_TESTING_MIN)
    )
    return ct.select(
        "merchant",
        "day",
        "n_tx",
        "n_small",
        "n_cards_small",
        _r4(F.col("n_small").cast("double") / F.col("n_tx")).alias(
            "small_share"
        ),
    )


# --- per-card amount anomaly (round 14) ---------------------------------------
#: robust sigmas a single transaction must sit above its own card's
#: baseline to ALERT — higher than the screens' 2.5 because a
#: per-card flag feeds a per-customer action (decline/step-up), not a
#: triage queue.
CARD_ANOMALY_SIGMAS = 3.5


@_register(
    "dash_card_amount_anomaly",
    f"""
    , caa_med AS (
      SELECT cc_num, quantile_cont(amt, 0.5) AS med
      FROM transactions GROUP BY cc_num
    ),
    caa_dev AS (
      SELECT t.cc_num, t.trans_num, t.amt, m.med,
             abs(t.amt - m.med) AS adev
      FROM transactions t JOIN caa_med m USING (cc_num)
    ),
    caa_mad AS (
      SELECT cc_num, quantile_cont(adev, 0.5) AS mad
      FROM caa_dev GROUP BY cc_num
    )
    SELECT v.cc_num, v.trans_num, {dround_sql('v.amt', 2)} AS amt,
           {_r4s('(v.amt - v.med) / (1.4826 * m.mad)')} AS robust_z
    FROM caa_dev v JOIN caa_mad m USING (cc_num)
    WHERE m.mad > 0 AND v.adev > {CARD_ANOMALY_SIGMAS} * 1.4826 * m.mad
    """,
)
def dash_card_amount_anomaly(g) -> DataFrame:
    """Per-CARD amount anomaly — THE realtime fraud primitive the MAD
    family builds toward: each card gets its OWN median/MAD spending
    baseline, and a single transaction more than 3.5 robust sigmas
    from that card's median alerts. A $400 charge is routine on a
    travel card and a scream on a grocery-only card — the population
    and category baselines structurally cannot see this. Zero-MAD
    cards (constant spenders) flag nothing: the r12 degenerate guard,
    inherited.

    Scale design: the keyed-MAD plan one key finer than the category
    screen — two exact grouped ``percentile`` aggregates over the
    cc_num shuffle every per-card op here shares, two cc_num-keyed
    joins of the fact stream against O(cards) baseline rows (AQE
    picks broadcast vs shuffle by the card count — at 10⁹ cards the
    baselines are a co-partitioned join, not a broadcast, and the
    plan degrades gracefully). No window at all."""
    med = g["transactions"].groupBy("cc_num").agg(
        F.percentile("amt", 0.5).alias("med")
    )
    dev = (
        g["transactions"]
        .select("cc_num", "trans_num", "amt")
        .join(med, "cc_num")
        .withColumn("adev", F.abs(F.col("amt") - F.col("med")))
    )
    mad = dev.groupBy("cc_num").agg(F.percentile("adev", 0.5).alias("mad"))
    return (
        dev.join(mad, "cc_num")
        .filter(
            (F.col("mad") > 0)
            & (F.col("adev") > CARD_ANOMALY_SIGMAS * 1.4826 * F.col("mad"))
        )
        .select(
            "cc_num",
            "trans_num",
            dround(F.col("amt"), 2).alias("amt"),
            _r4(
                (F.col("amt") - F.col("med")) / (1.4826 * F.col("mad"))
            ).alias("robust_z"),
        )
    )


# --- per-card velocity burst screen (round 14) --------------------------------
#: one hour in integer microseconds — the RANGE window bound both
#: engines evaluate on the same epoch-µs axis (no timezone, no float).
BURST_WINDOW_US = 3_600_000_000

#: minimum same-card transactions inside one rolling hour to surface —
#: tuned to the synthetic cadence (max burst 3 at test SFs);
#: production raises it with volume.
BURST_MIN = 2


@_register(
    "dash_velocity_burst",
    f"""
    , vb AS (
      SELECT cc_num,
             COUNT(*) OVER (PARTITION BY cc_num
               ORDER BY epoch_us(trans_timestamp)
               RANGE BETWEEN {BURST_WINDOW_US} PRECEDING AND CURRENT ROW)
               AS burst
      FROM transactions
    )
    SELECT cc_num, CAST(MAX(burst) AS BIGINT) AS max_burst_1h
    FROM vb GROUP BY cc_num HAVING MAX(burst) >= {BURST_MIN}
    """,
)
def dash_velocity_burst(g) -> DataFrame:
    """Per-card velocity burst: the maximum number of same-card
    transactions inside ANY rolling one-hour window — the batch
    surface of the rate signal the stateful velocity stream tracks at
    ingest, and the complement of ``dash_impossible_travel`` (too
    fast in TIME rather than too far in SPACE). Cards whose burst
    ever reaches BURST_MIN surface with their lifetime maximum.

    Scale design: ONE per-card RANGE window ordered by epoch-µs (an
    integer axis, so the window bound is exact and engine-agnostic —
    a timestamp-interval bound would drag timezone semantics in),
    riding the same cc_num shuffle every per-card op here uses, then
    a keyed max with map-side partials. The RANGE frame counts value
    peers identically in both engines under timestamp ties, so no
    tiebreak column is needed."""
    w = (
        Window.partitionBy("cc_num")
        .orderBy(F.unix_micros("trans_timestamp"))
        .rangeBetween(-BURST_WINDOW_US, 0)
    )
    return (
        g["transactions"]
        .select("cc_num", F.count("*").over(w).alias("burst"))
        .groupBy("cc_num")
        .agg(F.max("burst").cast("long").alias("max_burst_1h"))
        .filter(F.col("max_burst_1h") >= BURST_MIN)
    )


# --- new-merchant early-risk profile (round 13) ------------------------------
#: days after a merchant's first observed transaction that count as
#: its "early" window — bust-out merchants front-load fraud here.
EARLY_WINDOW_DAYS = 7


@_register(
    "dash_new_merchant_risk",
    f"""
    , nm_first AS (
      SELECT merchant, MIN(CAST(trans_timestamp AS DATE)) AS first_day
      FROM transactions GROUP BY merchant
    ),
    nm_join AS (
      SELECT t.merchant, f.first_day, t.is_fraud,
             CAST(t.trans_timestamp AS DATE) <= f.first_day + {EARLY_WINDOW_DAYS} AS is_early
      FROM transactions t JOIN nm_first f USING (merchant)
    )
    SELECT merchant, MIN(first_day) AS first_day,
           CAST(SUM(CASE WHEN is_early THEN 1 ELSE 0 END) AS BIGINT) AS n_tx_early,
           {_r4s('AVG(CASE WHEN is_early THEN CAST(is_fraud AS DOUBLE) END)')} AS early_fraud_rate,
           CAST(COUNT(*) AS BIGINT) AS n_tx_total,
           {_r4s('AVG(CAST(is_fraud AS DOUBLE))')} AS overall_fraud_rate,
           {_r4s('AVG(CASE WHEN is_early THEN CAST(is_fraud AS DOUBLE) END)'
                 ' - AVG(CAST(is_fraud AS DOUBLE))')} AS early_lift
    FROM nm_join GROUP BY merchant
    """,
)
def dash_new_merchant_risk(g) -> DataFrame:
    """Bust-out screening: per merchant, the fraud rate inside its
    first EARLY_WINDOW_DAYS (7) observed days vs its overall rate — a
    merchant created to launder stolen cards front-loads fraud into
    its onboarding window (early_lift ≫ 0), while an honest merchant
    that later gets hit shows the opposite shape. The
    first-seen-entity profile every onboarding-risk dashboard keys
    on.

    Scale design: one keyed MIN for first-seen (map-side partials),
    one merchant-keyed join the planner broadcasts (the first-seen
    frame is O(merchants)), one keyed aggregate — the early window is
    a per-row comparison against the joined first_day, NO window
    function anywhere, no self-join on time ranges."""
    tx = g["transactions"]
    first = tx.groupBy("merchant").agg(
        F.min(F.col("trans_timestamp").cast("date")).alias("first_day")
    )
    joined = tx.join(first, "merchant").withColumn(
        "is_early",
        F.col("trans_timestamp").cast("date")
        <= F.date_add(F.col("first_day"), EARLY_WINDOW_DAYS),
    )
    fraud_d = F.col("is_fraud").cast("double")
    early_rate = F.avg(F.when(F.col("is_early"), fraud_d))
    overall_rate = F.avg(fraud_d)
    return joined.groupBy("merchant").agg(
        F.min("first_day").alias("first_day"),
        F.sum(F.when(F.col("is_early"), 1).otherwise(0))
        .cast("long")
        .alias("n_tx_early"),
        _r4(early_rate).alias("early_fraud_rate"),
        F.count("*").cast("long").alias("n_tx_total"),
        _r4(overall_rate).alias("overall_fraud_rate"),
        _r4(early_rate - overall_rate).alias("early_lift"),
    )


# --- round-amount bias screen (round 13) --------------------------------------
@_register(
    "dash_round_amount_bias",
    f"""
    , ra AS (
      SELECT is_fraud,
             CAST(floor(transaction_amount * 100 + 0.5) AS BIGINT) AS cents
      FROM fact_transactions WHERE transaction_amount >= 0
    )
    SELECT is_fraud,
           CAST(COUNT(*) AS BIGINT) AS n_tx,
           {_r4s('AVG(CASE WHEN cents % 100 = 0 THEN 1.0 ELSE 0.0 END)')} AS whole_dollar_share,
           {_r4s('AVG(CASE WHEN cents % 1000 = 0 THEN 1.0 ELSE 0.0 END)')} AS ten_dollar_share,
           {_r4s('AVG(CASE WHEN cents % 100 = 0 THEN 1.0 ELSE 0.0 END) / 0.01')} AS whole_dollar_lift,
           {_r4s('AVG(CASE WHEN cents % 1000 = 0 THEN 1.0 ELSE 0.0 END) / 0.001')} AS ten_dollar_lift
    FROM ra GROUP BY is_fraud
    """,
)
def dash_round_amount_bias(g) -> DataFrame:
    """Benford's companion screen: humans typing stolen-card amounts
    favor round numbers — per cohort, the share of exact-dollar and
    exact-ten-dollar amounts, with the lift over what uniform cents
    would produce (1% and 0.1%). A fraud cohort whose
    whole_dollar_lift runs multiples above the legit cohort's is
    operator-entered, not skimmed. Cents are recovered EXACTLY as
    ``floor(amt*100 + 0.5)`` — one IEEE multiply + floor, bit-agreed
    across engines (the quantile-sketch bucketing discipline), never
    a double modulo.

    Scale design: one keyed aggregate with map-side partials, two
    output rows."""
    ra = (
        g["fact"]
        .filter(F.col("transaction_amount") >= 0)
        .select(
            "is_fraud",
            F.floor(F.col("transaction_amount") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
    )
    whole = F.avg(F.when(F.col("cents") % 100 == 0, 1.0).otherwise(0.0))
    ten = F.avg(F.when(F.col("cents") % 1000 == 0, 1.0).otherwise(0.0))
    return ra.groupBy("is_fraud").agg(
        F.count("*").cast("long").alias("n_tx"),
        _r4(whole).alias("whole_dollar_share"),
        _r4(ten).alias("ten_dollar_share"),
        _r4(whole / 0.01).alias("whole_dollar_lift"),
        _r4(ten / 0.001).alias("ten_dollar_lift"),
    )
