#!/usr/bin/env python
"""Dump raw ``.explain('formatted')`` output of registered queries into
<out_dir>/<query>_<tag>.txt.

Usage: python tools/explain_plans.py <out_dir> <tag> <query ...>

e.g. ``python tools/explain_plans.py plans/ab before curation_e2e_pipeline``
before a plan change, and the same with ``after`` once it lands.

Unlike tools/dump_plans.py (canonicalized snapshots for churn tracking),
this writes the verbatim formatted plan an optimization journal cites.
Queries whose function body runs driver-side actions (the eval truth
sides) still execute them here; their *final* plan is a LocalTableScan —
for those the interesting evidence is the job count, recorded separately.

Env: SPARK_GRAFT_SF_DIR (the bench's scale-factor directory).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR  # noqa: E402
from sea_streamer_spark.plans.queries import QUERIES  # noqa: E402
from sea_streamer_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    out_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="explain-plans")
    for name in names:
        if name not in QUERIES:
            print(f"SKIP {name}: not registered")
            continue
        try:
            df = QUERIES[name].fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building plan: {e}"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
