#!/usr/bin/env python
"""Capture .explain("formatted") for the headline queries (and any extra
registry names passed on the command line) into
plans/$SPARK_GRAFT_PLANS_ROUND/<name>_<tag>.txt (default r12).

Usage: python scripts/capture_plans.py <tag> [name ...]

With no names, captures every headline query. Expression ids (``#123``,
``#123L``) are replaced by a bare ``#``: they count up per process, so
without this two captures of the same plan never diff clean. Plan capture
is timing-insensitive, so it can run while other work contends for cores.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from delta_lake_optimizations_spark import get_spark
from delta_lake_optimizations_spark.registry import registry


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r12"),
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="capture_plans")
    reg = registry()
    if not names:
        names = [n for n, q in sorted(reg.items()) if q.headline]
    for name in names:
        df = reg[name].fn(spark, sf_dir)
        plan = re.sub(
            r"#\d+L?",
            "#",
            df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            ),
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"{name}: {path} ({plan.count('Exchange')} Exchange mentions)")


if __name__ == "__main__":
    main()
