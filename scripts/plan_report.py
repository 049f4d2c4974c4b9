"""Plan-shape inventory: one row per registered query with the
physical-plan node counts that matter at 100 TB — exchanges (shuffles),
broadcasts, windows (and how many are WindowGroupLimit-optimized),
Arrow-batched Python stages, and the two forbidden shapes
(CartesianProduct, BatchEvalPython — both structurally asserted absent
by tests/test_plans.py; this report makes the claim inspectable).

``rules_s`` is the planning cost: seconds spent in Catalyst's analyzer
and optimizer rules while the query is built and planned (Spark's
``RuleExecutor`` metrics, reset per query). A query whose ``rules_s``
stands out has an optimizer cliff; ``RuleExecutor.dumpTimeSpent()``
after building just that query names the rule (this is how the
``PruneFilters`` cost that made the session turn constraint propagation
off was found).

Usage: python scripts/plan_report.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from whale_sightings_spark.plans.queries import queries
from whale_sightings_spark.session import get_spark

NODES = (
    ("Exchange", "shuffles"),
    ("BroadcastExchange", "broadcasts"),
    ("Window", "windows"),
    ("WindowGroupLimit", "wgl"),
    ("ArrowEvalPython", "arrow_py"),
    ("MapInPandas", "map_pandas"),
    ("CartesianProduct", "CARTESIAN"),
    ("BatchEvalPython", "ROW_PY"),
)


def rule_seconds(rules) -> float:
    """Total rule time since the last ``resetMetrics()``, from the
    ``Total time: <s> seconds`` line of ``dumpTimeSpent()``."""
    return float(re.search(r"Total time: ([0-9.]+) seconds", rules.dumpTimeSpent()).group(1))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="plan-report", shuffle_partitions=8)
    rules = spark._jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
    print("# PLANS — physical-plan shape inventory per query")
    print()
    print(f"Generated by `scripts/plan_report.py` at sf_dir={sf_dir}.")
    print("`Exchange` counts include the broadcast exchanges; `wgl` is the")
    print("subset of windows that plan as map-side WindowGroupLimit.")
    print("`CARTESIAN`/`ROW_PY` must be 0 everywhere (sweep-asserted).")
    print("`rules_s` is the seconds spent in analyzer and optimizer rules")
    print("building and planning the query.")
    print()
    header = ["query", "rules_s"] + [short for _, short in NODES]
    print("| " + " | ".join(header) + " |")
    print("|" + "---|" * len(header))
    for name, fn in sorted(queries().items()):
        rules.resetMetrics()
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
            cells = [f"{rule_seconds(rules):.3f}"]
            cells += [str(plan.count(node + " ")) for node, _ in NODES]
        except Exception as exc:  # surface, don't die
            cells = [f"ERR:{type(exc).__name__}"] * (len(NODES) + 1)
        print("| " + " | ".join([name] + cells) + " |")
    spark.stop()


if __name__ == "__main__":
    main()
