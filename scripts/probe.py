"""Isolate, time and optionally explain individual heavy entries with
the bench's session conf (noop sink, min-of-3, setJobDescription
labels). A developer tool, not part of the bench contract. Usage:

    python scripts/probe.py [--cpus N] [--explain OUT_DIR] <entry> [<entry> ...]

The input is the testdata directory named by ``SPARK_GRAFT_SF_DIR``.
With ``--explain`` the formatted plan of each entry is written to
OUT_DIR/<entry>_probe.txt.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("entries", nargs="+")
    ap.add_argument("--cpus", default="16")
    ap.add_argument("--explain", metavar="OUT_DIR")
    args = ap.parse_args()
    cpus = args.cpus

    from real_time_fraud_detection_lakehouse_spark.core.session import get_spark

    spark = get_spark(
        "probe",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.shuffle.partitions": cpus,
            "spark.driver.memory": "16g",
        },
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    from real_time_fraud_detection_lakehouse_spark.core.catalog import (
        DEFAULT_SF_DIR as SF_DIR,
        TESTDATA_TABLES,
        table,
    )
    from real_time_fraud_detection_lakehouse_spark.operators import LLM_OPS
    from real_time_fraud_detection_lakehouse_spark.plans.dashboards import DASHBOARDS
    from real_time_fraud_detection_lakehouse_spark.plans.gold import gold_frames
    from real_time_fraud_detection_lakehouse_spark.plans.relational import RELATIONAL
    from real_time_fraud_detection_lakehouse_spark.plans.views import VIEWS

    ops = {**RELATIONAL, **LLM_OPS}
    registry = {**VIEWS, **DASHBOARDS}
    frames = {t: table(spark, SF_DIR, t) for t in TESTDATA_TABLES}
    gf = None

    for name in args.entries:
        if name in ops:
            builder, _ = ops[name]
            build = lambda: builder(frames)
        elif name in registry:
            if gf is None:
                gf = gold_frames(spark, SF_DIR)
            builder, _ = registry[name]
            build = lambda: builder(gf)
        else:
            print(f"SKIP unknown entry {name}", file=sys.stderr)
            continue
        samples = []
        for i in range(3):
            spark.sparkContext.setJobDescription(f"probe:{name}#{i}")
            t0 = time.time()
            build().write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        print(f"{name}: samples={samples} min={min(samples)}")
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            plan = build()._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(args.explain, f"{name}_probe.txt"), "w") as fh:
                fh.write(plan)
    spark.stop()


if __name__ == "__main__":
    main()
