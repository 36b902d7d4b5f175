"""Dump .explain("formatted") for named entries and count their plan nodes.

Lazy builders run no Spark job here; builders that run actions at
build time, such as the iterative ring CC, still run them. Writes
<out_dir>/<entry>_<tag>.txt per entry and prints one line per entry
with the InMemoryTableScan / Exchange / BroadcastExchange node counts,
so two checkouts can be compared for plan-shape changes. Nodes under
an InMemoryRelation are not counted: once the cached surface is
materialized the explain prints its final adaptive plan, whose shape
varies run to run. The input is the testdata directory named by
``SPARK_GRAFT_SF_DIR``.

Usage: python scripts/explain.py <out_dir> <tag> <entry> [<entry> ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: plan nodes counted per entry
COUNTED = ("InMemoryTableScan", "Exchange", "BroadcastExchange")
#: one node of a formatted-explain tree: "<tree prefix><Name ...> (<id>)"
TREE_NODE = re.compile(r"^[ :|+*-]*?(\w+)[^()]*\((\d+)\)")


def node_counts(plan: str) -> dict[str, int]:
    """Distinct node ids per counted name in the plan trees (the main
    plan and each subquery), skipping every InMemoryRelation subtree."""
    seen: set[tuple[str, str]] = set()
    in_tree, skip_col = False, None
    for line in plan.splitlines():
        if line.startswith(("== Physical Plan ==", "Subquery:")):
            in_tree, skip_col = True, None
            continue
        m = TREE_NODE.match(line) if in_tree and line.strip() else None
        if m is None:
            in_tree = in_tree and bool(line.strip())
            continue
        col = m.start(1)
        if skip_col is not None and col > skip_col:
            continue
        skip_col = col if m.group(1) == "InMemoryRelation" else None
        seen.add((m.group(1), m.group(2)))
    return {n: sum(1 for name, _ in seen if name == n) for n in COUNTED}


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
