#!/usr/bin/env python
"""Capture `.explain("formatted")` for every bench=True query into
<dir>/<name>_<tag>.txt (tag = argv[1], default "before"; dir
overridable via DEW_PLAN_OUT, default plans/, which git ignores).

Also prints a one-line plan-shape summary per query: #Exchange,
join strategies, Python-eval nodes, scan PushedFilters presence —
the checklist the optimization round audits (guide §1, §7.2).
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
OUT = Path(os.environ.get("DEW_PLAN_OUT", str(REPO / "plans")))
OUT.mkdir(parents=True, exist_ok=True)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from dataengineeringworkshop_spark.plans.registry import load_all
    from dataengineeringworkshop_spark.session import get_spark

    spark = get_spark(app_name="dew-plan-capture")
    registry = load_all()
    names = sorted(n for n, s in registry.items() if s.bench)
    summary = []
    for name in names:
        spark.sparkContext.setJobDescription(f"plan-capture: {name}")
        df = registry[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        (OUT / f"{name}_{TAG}.txt").write_text(plan)
        n_exch = len(re.findall(r"\bExchange\b", plan))
        joins = sorted(set(re.findall(r"(\w*Join\w*)", plan)))
        pyeval = sorted(set(re.findall(r"(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas)", plan)))
        pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
        summary.append(f"{name}: exchanges={n_exch} joins={joins} pyeval={pyeval} pushed_scans={pushed}")
    print("\n".join(summary))
    spark.stop()


if __name__ == "__main__":
    main()
