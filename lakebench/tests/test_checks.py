"""Each output checker accepts a correct output and rejects a perturbed
one. Spark-free: the "program output" here is written by DuckDB running
the package's SQL twins, which the checks compare against.

    python3 -m pytest lakebench/tests -q
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lakebench import checks, gen
from real_time_fraud_detection_lakehouse_spark.plans import gold as gold_mod
from real_time_fraud_detection_lakehouse_spark.plans.dashboards import DASHBOARDS
from real_time_fraud_detection_lakehouse_spark.plans.views import VIEWS


@pytest.fixture()
def con():
    c = checks.duck()
    yield c
    c.close()


def _write_medallion(con, tmp, chunk):
    """Land ``chunk`` and write silver, gold and a bronze stand-in the
    way a correct program would."""
    land = os.path.join(tmp, "landing")
    gen.land_parquet(chunk.typed, land, "increment-00000.parquet")
    prelude = checks._twin_prelude(land)
    out = {}
    for name in ("silver", "fact_transactions", "dim_customer", "dim_merchant",
                 "dim_time", "dim_location"):
        d = os.path.join(tmp, "silver" if name == "silver" else f"gold/{name}")
        os.makedirs(d)
        con.execute(f"COPY ({prelude} SELECT * FROM {name}) TO '{d}/part-0.parquet'")
        out[name] = d
    bronze = os.path.join(tmp, "bronze")
    os.makedirs(bronze)
    pq.write_table(chunk.typed, os.path.join(bronze, "part-0.parquet"))
    return land, bronze, out


def _perturb_parquet(path: str, column: str) -> None:
    t = pq.read_table(path)
    col = t.column(column).to_pylist()
    col[0] = col[0] + 1 if not isinstance(col[0], str) else col[0] + "x"
    i = t.schema.get_field_index(column)
    pq.write_table(t.set_column(i, column, pa.array(col, t.schema.field(column).type)), path)


def test_medallion_checks_accept_then_reject(con, tmp_path):
    chunk = gen.EventStream(7, "medallion", with_cdc=True).next_chunk(300)
    land, bronze, out = _write_medallion(con, str(tmp_path), chunk)
    gold = os.path.join(str(tmp_path), "gold")
    exp = checks.expected_totals([chunk.typed])
    assert checks.check_medallion_totals(con, bronze, gold, exp) == []
    assert checks.check_medallion_twins(con, land, out["silver"], gold) == []

    _perturb_parquet(os.path.join(out["silver"], "part-0.parquet"), "distance_km")
    assert checks.check_medallion_twins(con, land, out["silver"], gold) != []

    fact = os.path.join(out["fact_transactions"], "part-0.parquet")
    _perturb_parquet(fact, "transaction_amount")
    assert checks.check_medallion_totals(con, bronze, gold, exp) != []

    t = pq.read_table(os.path.join(bronze, "part-0.parquet"))
    pq.write_table(t.slice(1), os.path.join(bronze, "part-0.parquet"))
    problems = checks.check_medallion_totals(con, bronze, gold, exp)
    assert any("bronze rows" in p for p in problems)


def _predictions(typed: pa.Table, expected) -> pa.Table:
    names = typed.column("trans_num").to_pylist()
    return pa.table({
        "trans_num": names,
        "prediction_score": [expected[n][0] for n in names],
        "is_fraud_predicted": pa.array([expected[n][1] for n in names], pa.int32()),
        "risk_level": [expected[n][2] for n in names],
    })


def test_scoring_check_accepts_then_rejects(con, tmp_path):
    typed = gen.EventStream(7, "scoring").next_chunk(500).typed
    expected = checks.rule_scores(typed)
    high = [n for n, e in expected.items() if e[2] == "HIGH"]
    assert high, "the batch should hold HIGH events"
    pred_dir = tmp_path / "predictions"
    pred_dir.mkdir()
    good = _predictions(typed, expected)
    pq.write_table(good, pred_dir / "part-0.parquet")
    assert checks.check_scoring_batch(con, str(pred_dir), expected, high) == []

    # a lost alert, a repeated alert
    assert checks.check_scoring_batch(con, str(pred_dir), expected, high[1:]) != []
    assert checks.check_scoring_batch(con, str(pred_dir), expected, high + high[:1]) != []

    # a wrong score
    scores = good.column("prediction_score").to_pylist()
    scores[0] = round(scores[0] + 0.1, 4)
    bad = good.set_column(1, "prediction_score", pa.array(scores))
    pq.write_table(bad, pred_dir / "part-0.parquet")
    assert checks.check_scoring_batch(con, str(pred_dir), expected, high) != []

    # a duplicated prediction
    pq.write_table(good, pred_dir / "part-0.parquet")
    pq.write_table(good.slice(0, 1), pred_dir / "part-1.parquet")
    problems = checks.check_scoring_batch(con, str(pred_dir), expected, high)
    assert any("more than one" in p for p in problems)


def test_rule_scores_match_the_program_sql(con):
    """The numpy scorer agrees with the package's DuckDB predictions twin."""
    from real_time_fraud_detection_lakehouse_spark.plans.dashboards import PREDICTIONS_CTE
    from real_time_fraud_detection_lakehouse_spark.plans.silver import SILVER_CTE

    typed = gen.EventStream(3, "scoring").next_chunk(2000).typed
    con.register("landed", typed)
    rows = con.execute(
        "WITH transactions AS (SELECT * REPLACE (CAST(trans_timestamp AS TIMESTAMP) "
        f"AS trans_timestamp) FROM landed), silver AS ({SILVER_CTE}) "
        f"SELECT trans_num, round(prediction_score, 4), is_fraud_predicted, risk_level "
        f"FROM ({PREDICTIONS_CTE})"
    ).fetchall()
    expected = checks.rule_scores(typed)
    assert {r[0]: (r[1], r[2], r[3]) for r in rows} == expected


@pytest.mark.parametrize("name", ["daily_summary", "dash_state_top20"])
def test_query_check_accepts_then_rejects(con, tmp_path, name):
    events = gen.EventStream(7, "analytics").next_chunk(3000).events
    gen.write_events(events, str(tmp_path))
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    sql = (VIEWS.get(name) or DASHBOARDS[name])[1]
    oracle = checks.oracle_rows(con, f"{gold_mod.gold_prelude()} {sql}")
    cur = con.execute(f"{gold_mod.gold_prelude()} {sql}")
    columns = [d[0] for d in cur.description]
    rows = [list(r) for r in cur.fetchall()]
    assert checks.check_query(columns, rows, oracle) == []
    assert checks.check_query(columns, rows[1:], oracle) != []
    i = next(j for j, c in enumerate(columns) if c in ("total_transactions", "total"))
    rows[0][i] += 1
    assert checks.check_query(columns, rows, oracle) != []


def test_rounded_cells_tolerate_one_unit_of_the_last_digit():
    assert checks._same_cell(1389.5688, 1389.5687)
    assert not checks._same_cell(1389.5688, 1389.5686)
    assert not checks._same_cell(0.123456789, 0.123456788 + 1e-4)
    assert not checks._same_cell(3, 4)
