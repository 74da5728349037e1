"""Dump .explain("formatted") output for chosen registry queries.

Produces before/after plan evidence for a change: run once against a
checkout of the parent commit (--suffix before) and once against the
changed tree (--suffix after), then diff the two files per query.
Expression ids (``#123``), the RDD ids of checkpointed scans and
exchange plan ids depend on how much a session has built before, so
they are masked (``#N``, ``RDD[N]``, ``plan_id=N``): two dumps of the
same plan are byte-identical, and any diff is a real plan change. sf0.01 keeps
the pinned-evidence materialization jobs cheap while preserving plan
shape.

Usage:
  python tools/dump_plans.py --repo PARENT_CHECKOUT --sf SF_DIR \
      --suffix before --out plans/r14 --queries a,b,c
  python tools/dump_plans.py --repo . --sf SF_DIR \
      --suffix after --out plans/r14 --queries a,b,c
  diff plans/r14/a_before.txt plans/r14/a_after.txt
"""

from __future__ import annotations

import argparse
import os
import re
import sys


def mask_ids(plan: str) -> str:
    """Mask the ids a session numbers as it goes: expression ids
    ``#<digits>``, checkpoint RDD ids ``RDD[<digits>]`` and exchange
    ``plan_id=<digits>``."""
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[N]", plan)
    return re.sub(r"plan_id=\d+", "plan_id=N", plan)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", required=True)
    ap.add_argument("--sf", required=True, help="SF dir of the registry tables")
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", required=True, choices=["before", "after"])
    ap.add_argument("--queries", required=True, help="comma-separated registry names")
    args = ap.parse_args()

    out, sf = os.path.abspath(args.out), os.path.abspath(args.sf)
    sys.path.insert(0, args.repo)
    os.chdir(args.repo)
    import __spark_entry__ as entry_mod
    from probability_of_buying_two_products_together_hadoop_project_spark.plans.explain import (
        formatted_plan,
    )
    from probability_of_buying_two_products_together_hadoop_project_spark.session import (
        get_spark,
    )

    # AQE wraps plans in AdaptiveSparkPlan and hides the static shape;
    # disable it so before/after diffs compare like with like.
    spark = get_spark(
        "plan-dump", extra_conf={"spark.sql.adaptive.enabled": "false"}
    )
    qs = entry_mod.queries()
    os.makedirs(out, exist_ok=True)
    for name in args.queries.split(","):
        spark.sparkContext.setJobDescription(f"plan-dump {name}")
        try:
            df = qs[name](spark, sf)
            plan = mask_ids(formatted_plan(df))
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building {name}: {e}"
        path = os.path.join(out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
