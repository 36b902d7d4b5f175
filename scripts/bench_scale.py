"""Scaling demonstration: headline queries at sf0.1 and at a locally
synthesized 10x replica (sf1-equivalent), to measure how close the
engine's plans are to linear scaling on local[32].

The replica is built by key-shifted union of the sf0.1 tables: join
keys (orderkey, custkey, suppkey, user/doc/vec ids) are offset per
copy so joins keep their selectivity and dedup finds real (planted)
cross-copy duplicates. Writes to a temp dir; prints one JSON line:

  {"metric": "scaleup_ratio", ... "queries": {name: {"sf0.1": s,
   "sf1": s, "ratio": r}}}

ratio ≈ 10 → perfectly linear; < 10 → sublinear (fixed overheads
amortized); >> 10 → a plan that degrades superlinearly (bad).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import CPUS, SF_DIR, entry, timed  # noqa: E402
from lakebench.trace import Tracer  # noqa: E402
from real_time_fraud_detection_lakehouse_spark.core.session import get_spark  # noqa: E402
from real_time_fraud_detection_lakehouse_spark.sources.replica import build_replica  # noqa: E402

COPIES = int(os.environ.get("SPARK_GRAFT_SCALE_COPIES", "10"))

QUERIES = [
    "q_pricing_summary",   # wide agg over lineitem
    "q_top_customers",     # 3-way join + top-k
    "q_user_velocity",     # window function over events
    "dedup_exact",         # hash-agg dedup over documents
    "text_stats",          # pure-projection text ops
    # round-14 fraud screens + the Gopher drop-rule projection
    # (dashboard names read each dir's materialized medallion)
    "dash_card_amount_anomaly",  # per-card keyed median/MAD
    "dash_velocity_burst",       # per-card RANGE window + max
    "dash_seasonal_anomaly",     # (category x dow) keyed MAD
    "dash_card_testing",         # merchant-day conditional counts
    "docs_gopher_rules",         # single-scan rule projection
    # round-15 screens (timed over materialized frames per the r14
    # advice fix, so the ratios measure the screens themselves).
    # dedup_fuzzy_canonical_d2 is deliberately ABSENT: the key-shift
    # replica copies c_name verbatim (only c_custkey shifts), so every
    # FastSS variant group grows x10 and candidate PAIRS x100 — a
    # planted-dup stress test, not corpus growth (the perturb_text /
    # perturb_embeddings precedent in bench.py phases 5b/6; an honest
    # d2 datapoint needs a name-perturbed replica).
    "dash_mule_hubs",            # two rank surfaces + median split
    "dash_centrality_convergence",  # 3 unrolled PR rounds
    # round-16: the RP truncation audit (3 unrolled message-passing
    # rounds over the shared edge projection) + the composed ring-hub
    # trend (ring CC + PR/RP chains + lag over the rings x weeks
    # rollup — the heaviest composition on the surface, so its 10x
    # ratio is the one worth recording)
    "dash_rp_convergence",
    "dash_ring_hub_trend",
]


def main() -> None:
    spark = get_spark(
        "bench-scale",
        master=f"local[{CPUS}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(max(int(CPUS), 8)),
            # parity with bench.py: the default 1g heap OOMs the
            # heavier 10x plans (local mode: executors share it)
            "spark.driver.memory": "16g",
        },
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    tracer = Tracer(False)

    big_dir = tempfile.mkdtemp(prefix="sfscale_")
    try:
        build_secs = timed(
            tracer, "replica_build",
            lambda: build_replica(spark, SF_DIR, big_dir, copies=COPIES), n=1,
        )
        # dashboard builders are timed over the medallion materialized
        # once per sf_dir (bench.medallion_frames), so each ratio
        # measures the screen's own scaling, not the shared silver ETL
        results = {}
        frames_cache: dict = {}
        for name in QUERIES:
            per_sf = {}
            for label, sf_dir in (("sf0.1", SF_DIR), ("sf1", big_dir)):
                warehouse = os.path.join(big_dir, f"_medallion_{label}")
                builder, frames = entry(spark, name, frames_cache, sf_dir, warehouse)
                # min-of-2: the first sample is the warm-up
                per_sf[label] = timed(tracer, f"{name}/{label}", lambda: builder(frames))
            per_sf["ratio"] = round(per_sf["sf1"] / per_sf["sf0.1"], 2)
            results[name] = per_sf
            print(f"# {name}: {per_sf}", file=sys.stderr, flush=True)

        ratios = [r["ratio"] for r in results.values()]
        print(
            json.dumps(
                {
                    "metric": "scaleup_ratio",
                    "value": round(sum(ratios) / len(ratios), 2),
                    "unit": "x time at 10x rows",
                    "copies": COPIES,
                    "replica_build_sec": build_secs,
                    "queries": results,
                }
            )
        )
    finally:
        shutil.rmtree(big_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
