"""Dump ``.explain("formatted")`` for named contract queries into
plans/r15/<query>_<tag>.txt — the optimization round's before/after
plan evidence (guide §1: capture the plan shape for every query you
touch, before and after).

Each file also holds the physical plan of every SQL execution that ran
while the query's DataFrame was BUILT (fit collects, scouts, CC's
checkpoint loop, kNN serve checkpoints): a row whose pipeline sits
behind a checkpoint otherwise shows only the scan of that checkpoint.

Usage: python tools/dump_plans.py <tag> <query> [query ...]
       python tools/dump_plans.py <tag> --all
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from polars_sim_spark import cache as cache_registry
from polars_sim_spark.plans.explain import formatted_plan
from polars_sim_spark.session import get_spark


def _executions(spark) -> list:
    """Every SQL execution the session's status store still holds (it
    is kept with ``spark.ui.enabled=false`` too)."""
    seq = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [seq.apply(i) for i in range(seq.size())]


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    queries = entry_mod.queries()
    if names == ["--all"]:
        names = list(queries)
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r15",
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    for name in names:
        seen = max((e.executionId() for e in _executions(spark)), default=-1)
        df = queries[name](spark, sf_dir)
        built = sorted(
            (e for e in _executions(spark) if e.executionId() > seen),
            key=lambda e: e.executionId(),
        )
        plan = formatted_plan(df)
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan.rstrip("\n") + "\n")
            for i, e in enumerate(built):
                fh.write(f"\n== build-time execution {i + 1} of {len(built)} ==\n")
                fh.write(e.physicalPlanDescription().rstrip("\n") + "\n")
        cache_registry.unpersist_all()
        print(f"wrote {name}_{tag}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
