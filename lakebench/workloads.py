"""The three workloads. Each prepares its inputs (untimed), loads its
initial state (the timed set-up), runs operations one at a time, and
checks every operation's output outside the timed region."""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa

from lakebench import checks, gen
from lakebench.procstat import dir_bytes
from real_time_fraud_detection_lakehouse_spark.plans import gold as gold_mod
from real_time_fraud_detection_lakehouse_spark.plans import incremental
from real_time_fraud_detection_lakehouse_spark.plans import sql_views
from real_time_fraud_detection_lakehouse_spark.plans.dashboards import DASHBOARDS
from real_time_fraud_detection_lakehouse_spark.plans.views import VIEWS
from real_time_fraud_detection_lakehouse_spark.sources import snapshots
from real_time_fraud_detection_lakehouse_spark.streaming import bronze as bronze_mod
from real_time_fraud_detection_lakehouse_spark.streaming import scoring as scoring_mod

#: sizes of the generated inputs (README.md, "Inputs")
SIZES = {
    "medallion_history": 20_000,
    "medallion_increment": 6_000,
    "scoring_history": 2_000,
    "scoring_batch": 500,
    "analytics_events": 100_000,
}

#: the 16 reference dashboards run through their builders
DASHBOARD_QUERIES = [
    "dash_overview", "dash_fraud_rate", "dash_high_risk", "dash_hourly_fraud",
    "dash_monthly_trend", "dash_state_top20", "dash_distance_range",
    "dash_risky_merchants", "dash_category", "dash_amount_range", "dash_high_value",
    "dash_weekend", "dash_late_night", "dash_age_group", "dash_severity",
    "dash_multi_factor",
]

WEBHOOK_URL = "http://alerts.example/hook"


class Workload:
    """One workload over one run's session and directories.

    ``round_ops`` operations make one round; runs measure whole rounds
    and at least ``min_ops`` operations. ``stored_mb`` is read after
    operation ``min_ops``, so that it does not depend on how many
    operations a run manages."""

    name = ""
    round_ops = 1
    min_ops = 1
    warmup_ops = 0

    def __init__(self, run, seed: int) -> None:
        self.run = run
        self.seed = seed
        self.root = os.path.join(run.work, self.name)
        self.con = checks.duck()
        self.con.execute(f"SET temp_directory='{run.work}/duckdb'")

    def span(self, name: str, writes: tuple[str, ...] = ()):
        return self.run.tracer.span(name, writes)

    def prepare(self) -> None:
        """Generate inputs; untimed."""

    def load(self) -> None:
        """The initial load."""
        raise NotImplementedError

    def before_op(self, i: int) -> None:
        """Untimed preparation of operation ``i``."""

    def op(self, i: int) -> None:
        raise NotImplementedError

    def check_op(self, i: int) -> list[str]:
        return []

    def final_check(self) -> list[str]:
        return []

    def stored_bytes(self) -> int:
        raise NotImplementedError

    def close(self) -> None:
        self.con.close()


class MedallionIncrements(Workload):
    """CDC increment → bronze stream → silver and gold increments."""

    name = "medallion_increments"
    min_ops = 2

    def prepare(self) -> None:
        self.stream = gen.EventStream(self.seed, "medallion", with_cdc=True)
        self.history = self.stream.next_chunk(SIZES["medallion_history"])
        self.landed: list[pa.Table] = []
        self.pending: gen.Chunk | None = None
        self.cdc = f"{self.root}/cdc"
        self.landing = f"{self.root}/landing"
        self.bronze = f"{self.root}/bronze"
        self.silver = f"{self.root}/silver"
        self.gold = f"{self.root}/gold"
        self.checkpoint = f"{self.root}/bronze_checkpoint"

    def _land(self, chunk: gen.Chunk, name: str) -> None:
        gen.land_parquet(chunk.typed, self.landing, f"{name}.parquet")
        gen.land_lines(chunk.cdc_lines, self.cdc, f"{name}.json")

    def _cycle(self) -> tuple[int, int]:
        with self.span("bronze.ingest", (self.bronze,)):
            bronze_mod.run_bronze_stream(
                self.run.spark, self.cdc, self.bronze, self.checkpoint
            )
        with self.span("silver.increment", (self.silver,)):
            n_silver = incremental.incremental_silver_batch(
                self.run.spark, self.landing, self.silver
            )
        with self.span("gold.increment", (self.gold,)):
            n_gold = incremental.incremental_gold_batch(
                self.run.spark, self.silver, self.gold
            )
        return n_silver, n_gold

    def load(self) -> None:
        self._land(self.history, "increment-00000")
        self.counts = self._cycle()
        self.landed = [self.history.typed]

    def before_op(self, i: int) -> None:
        self.pending = self.stream.next_chunk(SIZES["medallion_increment"])

    def op(self, i: int) -> None:
        chunk = self.pending
        self._land(chunk, f"increment-{i + 1:05d}")
        self.landed.append(chunk.typed)
        self.counts = self._cycle()

    def check_op(self, i: int) -> list[str]:
        n = self.pending.typed.num_rows
        problems = [
            f"{layer} increment wrote {got} rows, {n} landed"
            for layer, got in zip(("silver", "gold"), self.counts) if got != n
        ]
        exp = checks.expected_totals(self.landed)
        return problems + checks.check_medallion_totals(
            self.con, self.bronze, self.gold, exp
        )

    def final_check(self) -> list[str]:
        return checks.check_medallion_twins(self.con, self.landing, self.silver, self.gold)

    def stored_bytes(self) -> int:
        return dir_bytes(self.bronze, self.silver, self.gold)


class RealtimeScoring(Workload):
    """500-event typed file → scoring stream (rule scorer) → prediction
    upsert and HIGH alerts; one outstanding batch."""

    name = "realtime_scoring"
    min_ops = 6
    #: the history load and 12 batches before measuring: a batch's CPU
    #: still falls by a quarter between batches 7 and 12 (JIT)
    warmup_ops = 12

    def prepare(self) -> None:
        self.stream = gen.EventStream(self.seed, "scoring")
        self.history = self.stream.next_chunk(SIZES["scoring_history"])
        self.posted: list[str] = []
        self.pending: gen.Chunk | None = None
        self.source = f"{self.root}/landing"
        self.predictions = f"{self.root}/predictions"
        self.checkpoint = f"{self.root}/checkpoint"

    def _transport(self, url: str, body: bytes) -> int:
        self.posted.append(json.loads(body)["trans_num"])
        return 200

    def _score(self, webhook: str | None) -> None:
        with self.span("scoring.batch", (self.predictions,)):
            scoring_mod.run_scoring_stream(
                self.run.spark, self.source, self.predictions, self.checkpoint,
                model=None, webhook_url=webhook, transport=self._transport,
            )

    def load(self) -> None:
        gen.land_parquet(self.history.typed, self.source, "batch-00000.parquet")
        # the history is a backfill: scored and upserted, not alerted
        self._score(None)

    def before_op(self, i: int) -> None:
        self.pending = self.stream.next_chunk(SIZES["scoring_batch"])
        self.expected = checks.rule_scores(self.pending.typed)
        self.posted = []

    def op(self, i: int) -> None:
        gen.land_parquet(self.pending.typed, self.source, f"batch-{i + 1:05d}.parquet")
        self._score(WEBHOOK_URL)

    def check_op(self, i: int) -> list[str]:
        return checks.check_scoring_batch(
            self.con, self.predictions, self.expected, self.posted
        )

    def stored_bytes(self) -> int:
        return dir_bytes(self.predictions)


class GoldAnalytics(Workload):
    """The 25 analytics queries over the published gold group."""

    name = "gold_analytics"

    def prepare(self) -> None:
        stream = gen.EventStream(self.seed, "analytics")
        events = stream.next_chunk(SIZES["analytics_events"]).events
        self.sf_dir = os.path.join(self.root, "sf")
        gen.write_events(events, self.sf_dir)
        self.queries: list[tuple[str, str]] = (
            [("sql", name) for name in sql_views.SPARK_SQL_VIEWS]
            + [("view", "latest_metrics")]
            + [("dash", name) for name in DASHBOARD_QUERIES]
        )
        self.round_ops = self.min_ops = len(self.queries)
        self.con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{self.sf_dir}/events.parquet')"
        )
        prelude = gold_mod.gold_prelude()
        self.oracle = {}
        for kind, name in self.queries:
            sql = DASHBOARDS[name][1] if kind == "dash" else VIEWS[name][1]
            self.oracle[name] = checks.oracle_rows(self.con, f"{prelude} {sql}")

    def load(self) -> None:
        spark = self.run.spark
        self.published = os.path.join(self.root, "published")
        with self.span("gold.publish", (self.published,)):
            gold_mod.publish_gold(spark, self.sf_dir, self.published)
        with self.span("snapshots.read"):
            sql_views.register_published_views(spark, self.published)
            self.frames = snapshots.read_published(spark, self.published)

    def op(self, i: int) -> None:
        kind, name = self.queries[i % len(self.queries)]
        spark = self.run.spark
        if kind == "sql":
            with self.span("sql_views.query"):
                df = spark.sql(f"SELECT * FROM {name}")
                self.result = (df.columns, df.collect())
            return
        build = VIEWS[name][0] if kind == "view" else DASHBOARDS[name][0]
        with self.span("dashboards.query") as call:
            t0 = time.perf_counter()
            df = build(self.frames)
            t1 = time.perf_counter()
            self.result = (df.columns, df.collect())
            call.extra["build_ms"] = (t1 - t0) * 1000.0
            call.extra["exec_ms"] = (time.perf_counter() - t1) * 1000.0

    def check_op(self, i: int) -> list[str]:
        _kind, name = self.queries[i % len(self.queries)]
        columns, rows = self.result
        return [f"{name}: {p}" for p in checks.check_query(columns, rows, self.oracle[name])]

    def stored_bytes(self) -> int:
        return dir_bytes(self.published)


WORKLOADS = {
    w.name: w for w in (MedallionIncrements, RealtimeScoring, GoldAnalytics)
}
