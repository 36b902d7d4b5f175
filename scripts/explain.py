"""Dump .explain("formatted") for named entries and count their plan nodes.

Lazy builders run no Spark job here; builders that run actions at
build time, such as the iterative ring CC, still run them. Writes
<out_dir>/<entry>_<tag>.txt per entry and prints one line per entry
with the InMemoryTableScan / Exchange / BroadcastExchange node counts,
so two checkouts can be compared for plan-shape changes. The input is
the testdata directory named by ``SPARK_GRAFT_SF_DIR``.

Usage: python scripts/explain.py <out_dir> <tag> <entry> [<entry> ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: plan nodes counted per entry — the formatted explain lists every
#: node once as "(<id>) <NodeName>" in its details section
COUNTED = ("InMemoryTableScan", "Exchange", "BroadcastExchange")


def node_counts(plan: str) -> dict[str, int]:
    names = re.findall(r"^\(\d+\) (\w+)", plan, flags=re.M)
    return {n: names.count(n) for n in COUNTED}


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    out_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]

    from real_time_fraud_detection_lakehouse_spark.core.session import get_spark

    spark = get_spark(
        "explain",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "32"},
    )

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
    gf = gold_frames(spark, SF_DIR)

    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        if name in ops:
            df = ops[name][0](frames)
        elif name in registry:
            df = registry[name][0](gf)
        else:
            print(f"SKIP unknown entry {name}", file=sys.stderr)
            continue
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        counts = " ".join(f"{k}={v}" for k, v in node_counts(plan).items())
        print(f"{name} {counts}")
    spark.stop()


if __name__ == "__main__":
    main()
