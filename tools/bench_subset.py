"""Time a subset of contract queries with the bench's methodology
(same session factory, same count() action, per-query cache release) —
the optimization round's before/after instrument for individual rows
without paying for the full 195-query run.

Usage: python tools/bench_subset.py [--repeat N] <query> [query ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
       SPARK_GRAFT_CPUS (default: the cores this process may run on)

Prints one JSON line per query: {"query": ..., "secs": [...], "rows": N}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from polars_sim_spark import cache as cache_registry
from polars_sim_spark import queries as q
from polars_sim_spark.session import get_spark


def main() -> None:
    args = sys.argv[1:]
    repeat = 1
    if args and args[0] == "--repeat":
        repeat = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench_subset")
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    for name in args:
        secs = []
        rows = None
        for _ in range(repeat):
            fn = q.QUERIES[name]
            t0 = time.perf_counter()
            rows = fn(spark, sf_dir).count()
            secs.append(round(time.perf_counter() - t0, 3))
            cache_registry.unpersist_all()
        print(json.dumps({"query": name, "secs": secs, "rows": rows}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
