#!/usr/bin/env python
"""Dump the normalized optimized and physical plans of named queries.

A refactor that claims "no plan change" proves it by dumping the plans
at the parent commit and at the change, then diffing the two files:

    python scripts/plan_dump.py --sf-dir D q_ml_eval q_ml_auc > new.txt
    cp scripts/plan_dump.py <parent checkout>/scripts/
    python <parent checkout>/scripts/plan_dump.py --sf-dir D \
        q_ml_eval q_ml_auc > old.txt
    cmp old.txt new.txt

Expression ids (``#123``) and exchange plan ids differ from run to run
and are stripped; everything else of ``optimizedPlan`` and
``executedPlan`` is printed as Spark renders it. A shared relation
prints as ``LogicalRDD`` / ``Scan ExistingRDD`` (no RDD id), so the plan
beneath it is not compared; building the query runs its jobs.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_IDS = re.compile(r"(?<=#)\d+L?|(?<=plan_id=)\d+")


def normalize(text: str) -> str:
    return _IDS.sub("", text)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf-dir", required=True)
    args = ap.parse_args()

    from sigma_rx7_spark import registry
    from sigma_rx7_spark.session import get_spark

    spark = get_spark(app_name="plan-dump")
    queries = registry.load_all()
    for name in args.names:
        qe = queries[name].fn(spark, args.sf_dir)._jdf.queryExecution()
        print(f"== {name} optimizedPlan")
        print(normalize(qe.optimizedPlan().toString()))
        print(f"== {name} executedPlan")
        print(normalize(qe.executedPlan().toString()))
    spark.stop()


if __name__ == "__main__":
    main()
