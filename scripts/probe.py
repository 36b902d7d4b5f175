"""Isolate, time and optionally explain individual heavy entries with
the bench's session conf (noop sink, min-of-3, one job group per
sample: ``<entry>#<sample>``). A developer tool, not part of the bench
contract. Usage:

    python scripts/probe.py [--cpus N] [--explain OUT_DIR] <entry> [<entry> ...]

The input is the testdata directory named by ``SPARK_GRAFT_SF_DIR``;
views and dashboards read its medallion, materialized once into a
temporary directory. With ``--explain`` the formatted plan of each
entry is written to OUT_DIR/<entry>_probe.txt.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("entries", nargs="+")
    ap.add_argument("--cpus", default="16")
    ap.add_argument("--explain", metavar="OUT_DIR")
    args = ap.parse_args()
    cpus = args.cpus

    from bench import entry, timed
    from lakebench.trace import Tracer
    from real_time_fraud_detection_lakehouse_spark.core.catalog import DEFAULT_SF_DIR
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
    tracer = Tracer(True)
    tracer.attach(spark)

    warehouse = tempfile.mkdtemp(prefix="probe_")
    frames_cache: dict = {}
    try:
        for name in args.entries:
            try:
                builder, frames = entry(spark, name, frames_cache, DEFAULT_SF_DIR, warehouse)
            except KeyError:
                print(f"SKIP unknown entry {name}", file=sys.stderr)
                continue
            best = timed(tracer, name, lambda: builder(frames), n=3)
            samples = [round(c.wall_ms / 1000.0, 3) for c in tracer.calls[-3:]]
            print(f"{name}: samples={samples} min={best}")
            if args.explain:
                os.makedirs(args.explain, exist_ok=True)
                plan = builder(frames)._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
                with open(os.path.join(args.explain, f"{name}_probe.txt"), "w") as fh:
                    fh.write(plan)
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
