"""Dump the physical plans of the headline queries to docs/PLANS.md so plan
choices (broadcasts, exchange counts, pushdown, pruning) are reviewable
without running Spark.

Usage: python tools/explain_dump.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import BENCH_QUERIES
from kafka_denormalization_spark.engine import get_spark
from kafka_denormalization_spark.plans import count_exchanges, explain_str, has_broadcast_join
from kafka_denormalization_spark.queries import QUERIES


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("explain-dump")
    lines = [
        "# Physical plans — headline queries",
        "",
        f"Generated by tools/explain_dump.py at {sf_dir}. Summary first,",
        "full simple-mode plans below.",
        "",
        "| query | shuffle exchanges | broadcast join |",
        "|---|---|---|",
    ]
    plans = []
    for name in BENCH_QUERIES:
        df = QUERIES[name](spark, sf_dir)
        n_ex = count_exchanges(df)
        bc = "yes" if has_broadcast_join(df) else "no"
        lines.append(f"| {name} | {n_ex} | {bc} |")
        plans.append((name, explain_str(df, "simple")))
    lines.append("")
    for name, plan in plans:
        lines.append(f"## {name}\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(ROOT, "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print("wrote docs/PLANS.md")


if __name__ == "__main__":
    main()
