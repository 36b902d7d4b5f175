"""Output checks, computed apart from the program: DuckDB over the
files the program wrote, against the generator's records, the package's
SQL twins and a numpy recomputation of the rule scorer. Each check
returns a list of problems; an empty list means the output is right."""

from __future__ import annotations

import math
from datetime import date, datetime

import duckdb
import numpy as np
import pyarrow as pa

from real_time_fraud_detection_lakehouse_spark.plans import gold as gold_mod
from real_time_fraud_detection_lakehouse_spark.plans.silver import SILVER_CTE


def duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


def _pq(directory: str) -> str:
    return (
        f"read_parquet('{directory}/**/*.parquet', hive_partitioning=true, "
        "union_by_name=true)"
    )


# --- medallion ---------------------------------------------------------------

def expected_totals(typed: list[pa.Table]) -> dict[str, int]:
    """Generator-side totals of the landed (non-tombstone) records."""
    t = pa.concat_tables(typed)
    d = t.select(["cc_num", "merchant", "merch_lat", "merch_long", "city", "state",
                  "zip", "amt", "is_fraud", "trans_timestamp"]).to_pandas()
    hours = d["trans_timestamp"].dt.strftime("%Y%m%d%H")
    merch = d[["merchant", "merch_lat", "merch_long"]].astype(str)
    loc = d[["city", "state"]].fillna("Unknown").assign(zip=d["zip"]).astype(str)
    return {
        "rows": len(d),
        "amt_cents": int(np.rint(d["amt"].to_numpy() * 100).sum()),
        "frauds": int(d["is_fraud"].sum()),
        "dim_customer": int(d["cc_num"].nunique()),
        "dim_merchant": len(merch.drop_duplicates()),
        "dim_time": int(hours.nunique()),
        "dim_location": len(loc.drop_duplicates()),
    }


def check_medallion_totals(con, bronze_dir: str, gold_dir: str,
                           exp: dict[str, int]) -> list[str]:
    """Bronze rows, fact rows / amount / frauds and dim key counts
    against the generator."""
    problems = []
    (bronze_rows,) = con.execute(f"SELECT count(*) FROM {_pq(bronze_dir)}").fetchone()
    if bronze_rows != exp["rows"]:
        problems.append(f"bronze rows {bronze_rows} != {exp['rows']} landed records")
    fact = con.execute(
        "SELECT count(*), CAST(sum(round(transaction_amount * 100)) AS BIGINT), "
        f"CAST(sum(is_fraud) AS BIGINT) FROM {_pq(gold_dir + '/fact_transactions')}"
    ).fetchone()
    if tuple(fact) != (exp["rows"], exp["amt_cents"], exp["frauds"]):
        problems.append(
            f"fact (rows, amt cents, frauds) {tuple(fact)} != "
            f"{(exp['rows'], exp['amt_cents'], exp['frauds'])}"
        )
    for dim in ("dim_customer", "dim_merchant", "dim_time", "dim_location"):
        (n,) = con.execute(f"SELECT count(*) FROM {_pq(f'{gold_dir}/{dim}')}").fetchone()
        if n != exp[dim]:
            problems.append(f"{dim} keys {n} != {exp[dim]}")
    return problems


def _twin_prelude(landing_dir: str) -> str:
    transactions = (
        "SELECT * REPLACE (CAST(trans_timestamp AS TIMESTAMP) AS trans_timestamp) "
        f"FROM read_parquet('{landing_dir}/*.parquet')"
    )
    return (
        f"WITH transactions AS ({transactions}),\n"
        f"silver AS ({SILVER_CTE}),\n"
        f"fact_transactions AS ({gold_mod.FACT_CTE}),\n"
        f"dim_customer AS ({gold_mod.DIM_CUSTOMER_CTE}),\n"
        f"dim_merchant AS ({gold_mod.DIM_MERCHANT_CTE}),\n"
        f"dim_time AS ({gold_mod.DIM_TIME_CTE}),\n"
        f"dim_location AS ({gold_mod.DIM_LOCATION_CTE})\n"
    )


def table_diff(con, written_dir: str, twin_sql: str) -> int:
    """Rows in the symmetric multiset difference between the table the
    program wrote and ``twin_sql``; the written side is cast to the
    twin's column types (timestamps as UTC wall time)."""
    schema = con.execute(f"DESCRIBE SELECT * FROM ({twin_sql})").fetchall()
    cols = ", ".join(f'CAST("{name}" AS {typ}) AS "{name}"' for name, typ, *_ in schema)
    written = f"SELECT {cols} FROM {_pq(written_dir)}"
    twin = f"SELECT * FROM ({twin_sql})"
    (n,) = con.execute(
        f"SELECT (SELECT count(*) FROM ({written} EXCEPT ALL {twin})) + "
        f"(SELECT count(*) FROM ({twin} EXCEPT ALL {written}))"
    ).fetchone()
    return n


def check_medallion_twins(con, landing_dir: str, silver_dir: str,
                          gold_dir: str) -> list[str]:
    """Final silver and the five gold tables equal DuckDB running the
    package's SQL twins over the landed records."""
    prelude = _twin_prelude(landing_dir)
    problems = []
    targets = {
        "silver": silver_dir,
        "fact_transactions": f"{gold_dir}/fact_transactions",
        "dim_customer": f"{gold_dir}/dim_customer",
        "dim_merchant": f"{gold_dir}/dim_merchant",
        "dim_time": f"{gold_dir}/dim_time",
        "dim_location": f"{gold_dir}/dim_location",
    }
    for name, directory in targets.items():
        n = table_diff(con, directory, f"{prelude} SELECT * FROM {name}")
        if n:
            problems.append(f"{name}: {n} rows differ from the SQL twin")
    return problems


# --- real-time scoring ---------------------------------------------------------

def _dround(x: np.ndarray, digits: int) -> np.ndarray:
    scale = float(10**digits)
    return np.floor(x * scale + 0.5) / scale


def rule_scores(typed: pa.Table) -> dict[str, tuple[float, int, str]]:
    """trans_num → (prediction_score, is_fraud_predicted, risk_level):
    the rule scorer recomputed in numpy, terms added in the program's
    order so the doubles match bit for bit."""
    d = typed.to_pandas()
    ts = d["trans_timestamp"].dt.tz_convert("UTC")
    lat1, lon1 = d["lat"].to_numpy(float), d["long"].to_numpy(float)
    lat2, lon2 = d["merch_lat"].to_numpy(float), d["merch_long"].to_numpy(float)
    dphi = np.radians(lat2 - lat1)
    dlam = np.radians(lon2 - lon1)
    a = np.sin(dphi / 2) ** 2 + np.cos(np.radians(lat1)) * np.cos(np.radians(lat2)) * np.sin(
        dlam / 2
    ) ** 2
    dist = 6371.0 * (2 * np.arctan2(np.sqrt(a), np.sqrt(1 - a)))
    dist = np.where(np.isnan(dist), -1.0, _dround(dist, 6))
    days = (
        ts.dt.tz_localize(None).dt.normalize() - d["dob"].astype("datetime64[ns]")
    ).dt.days.to_numpy()
    age = np.floor(days / 365.25)
    hour = ts.dt.hour.to_numpy()
    amt = d["amt"].to_numpy(float)
    score = (
        np.where(amt > 1000, 0.4, 0.0)
        + np.where(amt > 500, 0.1, 0.0)
        + np.where((dist > 200) & (dist >= 0), 0.3, 0.0)
        + np.where((hour >= 23) | (hour <= 5), 0.2, 0.0)
        + np.where((age >= 0) & (age < 25), 0.1, 0.0)
    )
    score = np.minimum(score, 1.0)
    risk = np.where(score > 0.7, "HIGH", np.where(score > 0.4, "MEDIUM", "LOW"))
    return {
        tn: (round(float(s), 4), int(s > 0.5), str(r))
        for tn, s, r in zip(d["trans_num"], score, risk)
    }


def check_scoring_batch(con, predictions_dir: str,
                        expected: dict[str, tuple[float, int, str]],
                        alerted: list[str]) -> list[str]:
    """Exactly one prediction per event of the batch, equal to the
    recomputed rule; alerts are exactly the batch's HIGH events, each
    posted once."""
    problems = []
    con.register("_batch", pa.table({"trans_num": list(expected)}))
    try:
        rows = con.execute(
            "SELECT p.trans_num, count(*), min(prediction_score), "
            "min(is_fraud_predicted), min(risk_level) "
            f"FROM {_pq(predictions_dir)} p JOIN _batch b USING (trans_num) "
            "GROUP BY p.trans_num"
        ).fetchall()
    finally:
        con.unregister("_batch")
    got = {r[0]: r for r in rows}
    missing = len(expected) - len(got)
    if missing:
        problems.append(f"{missing} events without a prediction")
    dupes = sum(1 for r in rows if r[1] != 1)
    if dupes:
        problems.append(f"{dupes} events with more than one prediction")
    wrong = sum(
        1 for tn, r in got.items() if (r[2], r[3], r[4]) != expected[tn]
    )
    if wrong:
        problems.append(f"{wrong} predictions differ from the recomputed rule")
    high = {tn for tn, e in expected.items() if e[2] == "HIGH"}
    if len(alerted) != len(set(alerted)):
        problems.append("an event was alerted more than once")
    if set(alerted) != high:
        problems.append(
            f"alerted {len(set(alerted))} events, {len(high)} are HIGH "
            f"({len(set(alerted) ^ high)} differ)"
        )
    return problems


# --- gold analytics ------------------------------------------------------------

def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if hasattr(v, "as_integer_ratio") and not isinstance(v, (int, float)):
        return float(v)  # Decimal
    return v


def canonical_rows(columns: list[str], rows) -> list[tuple]:
    """Rows with columns sorted by name and cells normalized, sorted —
    for an order-blind comparison."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    # doubles coarsened first, so a last-digit difference (_same_cell)
    # cannot move a row to another position
    out.sort(key=lambda row: (
        repr(tuple(round(v, 3) if isinstance(v, float) else v for v in row)), repr(row)
    ))
    return out


def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return sorted(cols), canonical_rows(cols, cur.fetchall())


def check_query(columns: list[str], rows, oracle: tuple[list[str], list[tuple]]) -> list[str]:
    exp_cols, exp_rows = oracle
    if sorted(columns) != exp_cols:
        return [f"columns {sorted(columns)} != {exp_cols}"]
    got = canonical_rows(columns, rows)
    if len(got) != len(exp_rows):
        return [f"{len(got)} rows != {len(exp_rows)}"]
    bad = sum(
        1 for a, b in zip(got, exp_rows)
        if len(a) != len(b) or not all(_same_cell(x, y) for x, y in zip(a, b))
    )
    return [f"{bad} rows differ"] if bad else []


def _is_r4(v: float) -> bool:
    return abs(v * 1e4 - round(v * 1e4)) < 1e-6 * max(1.0, abs(v * 1e4))


def _same_cell(a, b) -> bool:
    """Equal, or both doubles the program rounded to 4 decimals that are
    one unit of the 4th decimal apart: the program floor-rounds float
    sums and averages, and at a half-way value the summation order
    (partitioning in Spark, DuckDB's own) picks the side."""
    if a == b:
        return True
    if isinstance(a, float) and isinstance(b, float) and _is_r4(a) and _is_r4(b):
        return abs(a - b) <= 1.0000001e-4 + 1e-12 * max(abs(a), abs(b))
    return False
