"""Seeded input generator for the lakehouse benchmark.

Everything the workloads feed the program comes from here, derived
from ``(seed, stream, index)`` only, so a seed names one input set
whatever the run length:

- ``events`` chunks in the testdata layout (``event_id, ts, user_id,
  event_type, value, props``) — what ``plans.gold.publish_gold`` reads
  through ``core.catalog.table``;
- the typed transactions of those events, computed by DuckDB over the
  package's ``TRANSACTIONS_CTE`` — the typed landing files of the two
  streaming paths;
- their CDC twins: one Debezium envelope per record as JSON lines,
  every payload field a string except ``amt``, with ~1/211 records
  replaced by tombstones (``{"after": null}``).

Event time is strictly increasing across every chunk of a stream, so
no record ties or precedes an earlier increment (the incremental
high-water-mark filter drops such rows by design).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from real_time_fraud_detection_lakehouse_spark.sources.transactions import TRANSACTIONS_CTE

#: the package's tombstone rate (streaming/bronze.TOMBSTONE_MOD)
TOMBSTONE_RATE = 1 / 211

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
N_USERS = 2_000
#: share of "big ticket" events, value uniform in [300, 1500): they make
#: the rule scorer's amount flags (>500, >1000) and so its HIGH tier
BIG_TICKET_SHARE = 0.08
#: mean gap between consecutive events (seconds); 500 events ≈ 14 h
MEAN_GAP_S = 100.0
#: 2024-01-01T00:00:00Z in epoch microseconds
T0_US = 1_704_067_200_000_000

_STREAMS = {"medallion": 1, "scoring": 2, "analytics": 3}


@dataclass
class Chunk:
    events: pa.Table  # testdata events layout
    typed: pa.Table  # transactions rows (TRANSACTIONS_CTE), tombstones removed
    cdc_lines: list[str]  # one envelope per event, tombstones included


def _rng(seed: int, stream: str, index: int) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAMS[stream], index])


def events_chunk(seed: int, stream: str, index: int, first_id: int, n: int,
                 start_us: int) -> pa.Table:
    """``n`` events with ids ``first_id..first_id+n-1`` whose timestamps
    start strictly after ``start_us``."""
    rng = _rng(seed, stream, index)
    gaps = rng.integers(1, int(2 * MEAN_GAP_S * 1e6), size=n)
    ts = start_us + np.cumsum(gaps)
    value = np.round(rng.lognormal(3.6, 0.9, size=n), 2)
    big = rng.random(n) < BIG_TICKET_SHARE
    value[big] = np.round(rng.uniform(300.0, 1500.0, size=int(big.sum())), 2)
    value = np.maximum(value, 0.01)
    k = rng.integers(0, 100, size=n)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, size=n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {int(x)}}}' for x in k]),
    })


def typed_transactions(events: pa.Table) -> pa.Table:
    """The typed transactions of ``events`` — DuckDB over the package's
    SQL twin of ``sources.transactions.transactions_df``. The timestamp
    is re-typed as a UTC instant so Spark reads it as TIMESTAMP."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.register("events", events)
        tbl = con.execute(
            f"SELECT * FROM ({TRANSACTIONS_CTE}) ORDER BY trans_timestamp"
        ).arrow()
    finally:
        con.close()
    i = tbl.schema.get_field_index("trans_timestamp")
    return tbl.set_column(
        i, "trans_timestamp", tbl.column(i).cast(pa.timestamp("us", tz="UTC"))
    )


def _s(v) -> str | None:
    return None if v is None else str(v)


def cdc_envelopes(typed: pa.Table, tomb: np.ndarray) -> list[str]:
    """Debezium JSON lines for ``typed`` (FIXTURES.md §2 encodings:
    epoch-µs timestamp string, epoch-day dob, JSON-double amt, all
    else strings); rows flagged in ``tomb`` become ``{"after": null}``."""
    cols = typed.to_pydict()
    epoch = np.datetime64("1970-01-01", "D")
    ts_us = typed.column("trans_timestamp").cast(pa.int64()).to_pylist()
    dob = (typed.column("dob").to_numpy().astype("datetime64[D]") - epoch).astype(int)
    lines = []
    for i in range(typed.num_rows):
        if tomb[i]:
            lines.append('{"after": null}')
            continue
        after = {
            "trans_date_trans_time": str(ts_us[i]),
            "cc_num": str(cols["cc_num"][i]),
            "merchant": cols["merchant"][i],
            "category": cols["category"][i],
            "amt": cols["amt"][i],
            "first": cols["first"][i],
            "last": cols["last"][i],
            "gender": cols["gender"][i],
            "street": cols["street"][i],
            "city": cols["city"][i],
            "state": cols["state"][i],
            "zip": _s(cols["zip"][i]),
            "lat": _s(cols["lat"][i]),
            "long": _s(cols["long"][i]),
            "city_pop": _s(cols["city_pop"][i]),
            "job": cols["job"][i],
            "dob": str(int(dob[i])),
            "trans_num": cols["trans_num"][i],
            "unix_time": _s(cols["unix_time"][i]),
            "merch_lat": _s(cols["merch_lat"][i]),
            "merch_long": _s(cols["merch_long"][i]),
            "is_fraud": _s(cols["is_fraud"][i]),
        }
        lines.append(json.dumps({"after": after}))
    return lines


class EventStream:
    """One seeded stream of chunks with contiguous ids and strictly
    increasing event time."""

    def __init__(self, seed: int, stream: str, with_cdc: bool = False) -> None:
        self.seed = seed
        self.stream = stream
        self.with_cdc = with_cdc
        self.next_id = 0
        self.last_us = T0_US
        self.index = 0

    def next_chunk(self, n: int) -> Chunk:
        ev = events_chunk(self.seed, self.stream, self.index, self.next_id, n, self.last_us)
        self.next_id += n
        self.last_us = int(ev.column("ts").cast(pa.int64())[-1].as_py())
        typed = typed_transactions(ev)
        tomb = np.zeros(typed.num_rows, dtype=bool)
        lines: list[str] = []
        if self.with_cdc:
            tomb = _rng(self.seed, self.stream, 1_000_000 + self.index).random(
                typed.num_rows
            ) < TOMBSTONE_RATE
            lines = cdc_envelopes(typed, tomb)
        self.index += 1
        return Chunk(ev, typed.filter(pa.array(~tomb)), lines)


def land_parquet(table: pa.Table, directory: str, name: str) -> str:
    """Write ``table`` beside ``directory`` and rename it in, so a
    listing never sees a partial file."""
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(os.path.dirname(directory), f".{name}.tmp")
    pq.write_table(table, tmp)
    dst = os.path.join(directory, name)
    os.replace(tmp, dst)
    return dst


def land_lines(lines: list[str], directory: str, name: str) -> str:
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(os.path.dirname(directory), f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    dst = os.path.join(directory, name)
    os.replace(tmp, dst)
    return dst


def write_events(events: pa.Table, sf_dir: str) -> None:
    """The testdata layout: one ``events.parquet`` per sf directory."""
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(events, os.path.join(sf_dir, "events.parquet"))
