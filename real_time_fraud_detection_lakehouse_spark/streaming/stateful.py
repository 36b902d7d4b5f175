"""Custom stateful streaming operator: per-card running velocity via
``applyInPandasWithState``.

This is the operator class the reference has no equivalent for
(SURVEY T5 — it has no stateful streaming at all): for every card
(cc_num) we keep running state across micro-batches — lifetime
transaction count and cumulative amount — and emit each transaction
annotated with the state *as of that event*. Velocity-style features
(``txn_seq``, ``cum_amount``, ``avg_amount_so_far``) are the classic
realtime fraud inputs that a stateless pipeline cannot produce.

Mechanics: Arrow-batched state function (one pandas DataFrame per
card per micro-batch), state persisted in the streaming state store
(checkpointed → exactly-once across restarts). At 100 TB/day the
state is O(distinct cards), partitioned by the groupBy key; the state
store shuffles each micro-batch once on cc_num.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from real_time_fraud_detection_lakehouse_spark.streaming.batchsink import (
    parquet_source,
    run_to_parquet,
)

OUTPUT_SCHEMA = (
    "cc_num long, trans_num string, trans_timestamp timestamp, amt double, "
    "txn_seq long, cum_amount double, avg_amount_so_far double"
)
STATE_SCHEMA = "count long, total double"


def _concat_sorted(pdfs) -> "pd.DataFrame | None":
    """Concatenate a group's Arrow chunk iterator and sort ONCE by
    (trans_timestamp, trans_num), or None for an empty group. The
    chunk-boundary rule every state function here shares (round-13
    advice): chunks arrive in arbitrary post-shuffle order, chunked at
    arrow.maxRecordsPerBatch, so sorting per chunk would silently
    break the global per-card order whenever one card spans chunks.
    Per-card per-batch volume is bounded, so one concat+sort is
    safe."""
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return None
    return pd.concat(chunks, ignore_index=True).sort_values(
        ["trans_timestamp", "trans_num"]
    )


def _track_velocity(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (cc_num,) = key
    if state.exists:
        count, total = state.get
    else:
        count, total = 0, 0.0
    pdf = _concat_sorted(pdfs)
    if pdf is not None:
        seqs, cums, avgs = [], [], []
        for amt in pdf["amt"]:
            count += 1
            total += float(amt)
            seqs.append(count)
            cums.append(total)
            avgs.append(total / count)
        yield pd.DataFrame(
            {
                "cc_num": cc_num,
                "trans_num": pdf["trans_num"],
                "trans_timestamp": pdf["trans_timestamp"],
                "amt": pdf["amt"],
                "txn_seq": seqs,
                "cum_amount": cums,
                "avg_amount_so_far": avgs,
            }
        )
    state.update((count, total))


def velocity_stream(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Run the stateful velocity tracker over a parquet-backed stream
    (AvailableNow); state survives restarts via the checkpoint."""
    stream = parquet_source(spark, source_path)
    tracked = (
        stream.select("cc_num", "trans_num", "trans_timestamp", "amt")
        .groupBy("cc_num")
        .applyInPandasWithState(
            _track_velocity,
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_parquet(tracked, out_path, checkpoint_dir)


# --- streaming heavy hitters (Misra-Gries state, round 11) ------------------
#: shard count for the heavy-hitter state: state is O(shards x
#: capacity) TOTAL — config-sized, never O(distinct n-gram types).
#: More shards = more parallelism in the state store, same bound.
HH_SHARDS = 16
HH_OUTPUT_SCHEMA = "shard int, bigram string, n long, emit_seq long"
HH_STATE_SCHEMA = "keys array<string>, counts array<long>, emit_seq long"


def _hh_tracker(capacity: int):
    """Build the per-shard state function with ``capacity`` CLOSED
    OVER (closures ship to the Python workers, so tests can shrink the
    budget to force the eviction regime — a driver-side monkeypatch of
    the module constant would never reach the worker processes)."""

    def track(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        from real_time_fraud_detection_lakehouse_spark.operators.text import _mg_add

        (shard,) = key
        if state.exists:
            keys, counts, seq = state.get
            s = pd.Series([float(c) for c in counts], index=list(keys))
        else:
            s, seq = pd.Series(dtype="float64"), 0
        for pdf in pdfs:
            s = _mg_add(s, pdf["bigram"].value_counts(), capacity)
        seq += 1
        yield pd.DataFrame(
            {
                "shard": shard,
                "bigram": s.index.astype(str),
                "n": s.astype("int64").values,
                "emit_seq": seq,
            }
        )
        state.update((list(s.index), [int(v) for v in s.values], seq))

    return track


def heavy_hitters_stream(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    shards: int = HH_SHARDS,
    capacity: int | None = None,
    k: int | None = None,
) -> DataFrame:
    """Continuous top-K bigrams over a document stream — the streaming
    twin of ``operators.text.text_top_ngrams_mg`` (trending-phrase /
    stop-phrase monitoring at ingest, no nightly batch pass needed).

    Per micro-batch: the shared ``_bigram_stream`` definition explodes
    arrivals' bigrams, each hashes to one of ``shards`` state keys,
    and the per-shard Misra-Gries summary absorbs the batch through
    the SAME ``_mg_add`` decrement step the batch kernel uses. Each
    shard re-emits its full summary (``emit_seq``-stamped) every
    batch; the returned frame keeps the LATEST emission per shard and
    cuts the global top-K on (n desc, bigram).

    Honesty contract: emitted ``n`` is the MG counter — a LOWER BOUND
    that under-counts by at most n_shard/(capacity+1). In the
    no-eviction regime (per-shard type count within capacity) counters
    are exact and the result equals the exact batch pass row-for-row
    (pinned by test under both arrival orders); the batch twin's
    recount step has no streaming analog, so under eviction the counts
    are bounds, not totals — documented, not silent.

    Scale design: state is O(shards x capacity) — config-sized, not
    type-space-sized (a dropDuplicates-style exact state would be
    O(distinct types): the thing that explodes for n-grams). The only
    shuffle is the state store's hash exchange on ``shard``; sizing
    ``shards`` to the cluster spreads it. Emission volume per batch is
    likewise bounded by shards x capacity rows.
    """
    from real_time_fraud_detection_lakehouse_spark.operators.text import (
        MG_CAPACITY,
        TOP_NGRAMS_K,
        _bigram_stream,
    )

    capacity = MG_CAPACITY if capacity is None else capacity
    k = TOP_NGRAMS_K if k is None else k
    bigrams = _bigram_stream(
        parquet_source(spark, source_path, max_files_per_trigger)
    ).withColumn(
        "shard", F.pmod(F.xxhash64("bigram"), F.lit(shards)).cast("int")
    )
    tracked = bigrams.groupBy("shard").applyInPandasWithState(
        _hh_tracker(capacity),
        HH_OUTPUT_SCHEMA,
        HH_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    emitted = run_to_parquet(tracked, out_path, checkpoint_dir)
    latest = Window.partitionBy("shard")
    return (
        emitted.withColumn("max_seq", F.max("emit_seq").over(latest))
        .filter(F.col("emit_seq") == F.col("max_seq"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(k)
        .select("bigram", "n")
    )


# --- transformWithState twin (Spark 4.x arbitrary-state API) ----------------
try:  # pyspark >= 4.0 AND protobuf present (the TWS state-server
    # protocol is protobuf-based; this container ships pyspark 4.x but
    # NOT google.protobuf, so the twin is code-complete and gated —
    # the equivalence test skips with the env reason when the probe
    # fails, and runs for real wherever protobuf exists)
    import google.protobuf.descriptor  # noqa: F401  (runtime dependency probe)
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
        TimerValues,
    )

    class VelocityProcessor(StatefulProcessor):
        """``transformWithStateInPandas`` twin of ``_track_velocity``:
        the same per-card running (count, total) state through the
        Spark 4 arbitrary-state API — typed ValueState instead of the
        single opaque GroupState tuple, explicit init/close lifecycle,
        and room for timers/TTL the old API lacks. Semantics are
        pinned to the applyInPandasWithState path by a test."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("velocity", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues: TimerValues):
            (cc_num,) = key
            prior = self._state.get() if self._state.exists() else None
            count, total = prior if prior is not None else (0, 0.0)
            # same chunk-boundary rule as _track_velocity
            pdf = _concat_sorted(rows)
            if pdf is not None:
                seqs, cums, avgs = [], [], []
                for amt in pdf["amt"]:
                    count += 1
                    total += float(amt)
                    seqs.append(count)
                    cums.append(total)
                    avgs.append(total / count)
                yield pd.DataFrame(
                    {
                        "cc_num": cc_num,
                        "trans_num": pdf["trans_num"],
                        "trans_timestamp": pdf["trans_timestamp"],
                        "amt": pdf["amt"],
                        "txn_seq": seqs,
                        "cum_amount": cums,
                        "avg_amount_so_far": avgs,
                    }
                )
            self._state.update((count, total))

        def close(self) -> None:
            pass

    HAS_TRANSFORM_WITH_STATE = True
except ImportError:  # pragma: no cover - pyspark 3.x fallback
    HAS_TRANSFORM_WITH_STATE = False


def velocity_stream_tws(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_dir: str,
) -> DataFrame:
    """The velocity tracker on ``transformWithStateInPandas`` — same
    output contract as :func:`velocity_stream`; state store shuffles
    once per micro-batch on cc_num, state is O(distinct cards)."""
    if not HAS_TRANSFORM_WITH_STATE:
        raise NotImplementedError(
            "transformWithStateInPandas needs pyspark >= 4.0 and google.protobuf "
            "(the TWS state-server wire protocol) — absent in this container"
        )
    stream = parquet_source(spark, source_path)
    tracked = (
        stream.select("cc_num", "trans_num", "trans_timestamp", "amt")
        .groupBy("cc_num")
        .transformWithStateInPandas(
            VelocityProcessor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="append",
            timeMode="none",
        )
    )
    return run_to_parquet(tracked, out_path, checkpoint_dir)


# --- streaming impossible-travel (per-card last-location state) --------------
TRAVEL_OUTPUT_SCHEMA = (
    "cc_num long, trans_num string, trans_timestamp timestamp, "
    "prev_ts timestamp, distance_km double, speed_kmh double"
)
TRAVEL_STATE_SCHEMA = "last_ts_us long, last_lat double, last_long double"


def _dround_py(x: float, digits: int = 4) -> float:
    """Python mirror of sources.transactions.dround — the same
    floor(x*10^n + 0.5)/10^n formula in IEEE doubles, so the stream's
    emitted values carry the batch op's rounding discipline (round-13
    review finding: the twin emitted raw doubles)."""
    import math

    scale = float(10**digits)
    return math.floor(x * scale + 0.5) / scale


def _haversine_py(lat1: float, lon1: float, lat2: float, lon2: float) -> float:
    """Python mirror of functions.features.haversine_km (same atan2
    form, same constants) for the per-card state walk."""
    import math

    dphi = math.radians(lat2 - lat1)
    dlam = math.radians(lon2 - lon1)
    a = (
        math.sin(dphi / 2) ** 2
        + math.cos(math.radians(lat1))
        * math.cos(math.radians(lat2))
        * math.sin(dlam / 2) ** 2
    )
    return 6371.0 * 2 * math.atan2(math.sqrt(a), math.sqrt(1 - a))


def _track_travel(
    key: tuple, pdfs: "Iterator[pd.DataFrame]", state: "GroupState"
) -> "Iterator[pd.DataFrame]":
    from real_time_fraud_detection_lakehouse_spark.plans.dashboards import (
        TRAVEL_MAX_KMH,
        TRAVEL_SAME_TS_KM,
    )

    (cc_num,) = key
    last = state.get if state.exists else None  # (ts_us, lat, long)
    pdf = _concat_sorted(pdfs)
    if pdf is not None:
        out = []
        for row in pdf.itertuples():
            ts_us = int(row.trans_timestamp.value // 1000)  # ns -> us
            if last is not None:
                dist = _haversine_py(last[1], last[2], row.merch_lat, row.merch_long)
                dt_us = ts_us - last[0]
                speed = dist / (dt_us / 3_600_000_000.0) if dt_us > 0 else None
                if (dt_us == 0 and dist > TRAVEL_SAME_TS_KM) or (
                    dt_us > 0 and speed is not None and speed > TRAVEL_MAX_KMH
                ):
                    out.append(
                        {
                            "cc_num": cc_num,
                            "trans_num": row.trans_num,
                            "trans_timestamp": row.trans_timestamp,
                            "prev_ts": pd.Timestamp(last[0] * 1000),
                            "distance_km": _dround_py(dist),
                            "speed_kmh": None if speed is None else _dround_py(speed),
                        }
                    )
            last = (ts_us, float(row.merch_lat), float(row.merch_long))
        if out:
            yield pd.DataFrame(out)
    if last is not None:
        state.update(tuple(last))


def impossible_travel_stream(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_dir: str,
) -> DataFrame:
    """The impossible-travel detector AT INGEST — the stateful twin of
    ``dash_impossible_travel``: each card keeps ONE (last timestamp,
    last location) tuple in streaming state, every arrival is checked
    against it and the alert is emitted in the SAME micro-batch the
    impossible hop lands in — not at the nightly batch pass, which is
    the whole point for a physical card being driven around a city.

    Semantics: identical to the batch op when events arrive in
    per-card timestamp order (the CDC/file-source case — pinned by the
    set-equality test on the real table; outputs carry the same
    dround(4) discipline, with the caveat that the Python-kernel
    haversine can differ from the JVM's by ~1 ulp, so a rounded value
    may sit one 1e-4 step away exactly at a floor boundary — the test
    pins that band); a late event is compared
    against the newest seen location (at-ingest semantics,
    documented) rather than re-sorting history — state is O(1) per
    card (three scalars), the minimum any location tracker can hold.

    Scale design: the state store shuffles once per micro-batch on
    cc_num (the same key every per-card op here uses), state size is
    3 scalars x live cards, and the per-row walk is the Arrow-batched
    applyInPandasWithState kernel — no rescan of history, ever."""
    stream = parquet_source(spark, source_path)
    tracked = (
        stream.select(
            "cc_num", "trans_num", "trans_timestamp", "merch_lat", "merch_long"
        )
        .filter(F.col("merch_lat").isNotNull() & F.col("merch_long").isNotNull())
        .groupBy("cc_num")
        .applyInPandasWithState(
            _track_travel,
            TRAVEL_OUTPUT_SCHEMA,
            TRAVEL_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_parquet(tracked, out_path, checkpoint_dir)


# --- streaming velocity burst (per-card rolling-hour state) ------------------
BURST_OUTPUT_SCHEMA = (
    "cc_num long, trans_num string, trans_timestamp timestamp, burst long"
)
BURST_STATE_SCHEMA = "ts_us array<long>"


def _track_burst(
    key: tuple, pdfs: "Iterator[pd.DataFrame]", state: "GroupState"
) -> "Iterator[pd.DataFrame]":
    from real_time_fraud_detection_lakehouse_spark.plans.dashboards import (
        BURST_MIN,
        BURST_WINDOW_US,
    )

    import bisect

    (cc_num,) = key
    # state stays SORTED ascending, so each arrival is O(log n):
    # insort, prune by slicing at the cutoff index, and count the
    # [ts-1h, ts] band with two bisects — a machine-fired card with
    # thousands of probes per hour (the detection target) would make
    # the naive per-event rescan quadratic (post-round review finding)
    recent: list[int] = sorted(state.get[0]) if state.exists else []
    pdf = _concat_sorted(pdfs)
    if pdf is not None:
        out = []
        for row in pdf.itertuples():
            ts = int(row.trans_timestamp.value // 1000)  # ns -> us
            bisect.insort(recent, ts)
            # prune relative to the NEWEST timestamp seen, so a late
            # event can still count itself + surviving peers without
            # the state ever growing past one window of arrivals
            cutoff = recent[-1] - BURST_WINDOW_US
            recent = recent[bisect.bisect_left(recent, cutoff) :]
            burst = bisect.bisect_right(recent, ts) - bisect.bisect_left(
                recent, ts - BURST_WINDOW_US
            )
            if burst >= BURST_MIN:
                out.append(
                    {
                        "cc_num": cc_num,
                        "trans_num": row.trans_num,
                        "trans_timestamp": row.trans_timestamp,
                        "burst": burst,
                    }
                )
        if out:
            yield pd.DataFrame(out)
    state.update((recent,))


def velocity_burst_stream(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_dir: str,
) -> DataFrame:
    """The velocity-burst screen AT INGEST — the stateful twin of
    ``dash_velocity_burst``: each card keeps the timestamps of its
    last rolling hour in streaming state, every arrival is counted
    against that window, and the alert fires in the SAME micro-batch
    the burst completes in — a card being machine-fired through a
    merchant list alerts on the Nth probe, not at the nightly batch.

    Semantics: on a per-card time-ordered source the per-card MAX of
    the emitted burst equals the batch op's ``max_burst_1h`` exactly
    (both count events in the closed interval [t-1h, t] on the
    integer-µs axis; a batch RANGE frame hands every member of a
    timestamp tie the full tie count, and the stream's last-arriving
    tie member sees the same) — pinned with a cross-batch split +
    restart in tests/test_stateful.py. A late event is counted
    against the surviving window (at-ingest semantics, documented),
    never against re-sorted history.

    Scale design: state is O(events per card-hour) integers — the
    minimum any rolling counter can hold — pruned against the newest
    timestamp per arrival; one state-store shuffle per micro-batch on
    cc_num like every per-card op here."""
    stream = parquet_source(spark, source_path)
    tracked = (
        stream.select("cc_num", "trans_num", "trans_timestamp")
        .groupBy("cc_num")
        .applyInPandasWithState(
            _track_burst,
            BURST_OUTPUT_SCHEMA,
            BURST_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_parquet(tracked, out_path, checkpoint_dir)
