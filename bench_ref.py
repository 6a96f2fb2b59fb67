"""Reference-shaped benchmark: fuzzy-join left=5,000 × right=100,000
name-like strings, sweeping top_n and the physical strategy — the same
harness shape as the reference's marimo notebook
(``/root/reference/benchmark/bench.py:40-55,163-190`` and
``/root/reference/justfile:46-53``), which published no absolute numbers
(BASELINE.md). Names are generated deterministically Spark-side (no
Faker dependency, no driver-side data generation).

Prints one JSON line per configuration:
  {"left": 5000, "right": 100000, "top_n": N, "strategy": S,
   "rows": R, "sec": T}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from polars_sim_spark.operators.join_sim import similarity_mapping
from polars_sim_spark.session import get_spark

FIRST = ("james mary robert patricia john jennifer michael linda david "
         "elizabeth william barbara richard susan joseph jessica thomas "
         "sarah charles karen").split()
LAST = ("smith johnson williams brown jones garcia miller davis rodriguez "
        "martinez hernandez lopez gonzalez wilson anderson thomas taylor "
        "moore jackson martin").split()


def names(spark, n: int, salt: int):
    """Deterministic name-like strings: 'first last' picked by a hash of
    the row id, plus a per-row numeric tag so strings are mostly unique
    (the tag's digits vanish under the [a-z]^3 vocabulary, mimicking
    real-world near-duplicate name pools)."""
    first = F.array(*[F.lit(w) for w in FIRST])
    last = F.array(*[F.lit(w) for w in LAST])
    h1 = (F.abs(F.xxhash64(F.col("id") + F.lit(salt))) % len(FIRST)).cast("int")
    h2 = (F.abs(F.xxhash64(F.col("id") * 31 + F.lit(salt + 7))) % len(LAST)).cast("int")
    return spark.range(n).select(
        F.col("id").alias(f"id_{salt}"),
        F.concat_ws(
            " ",
            F.element_at(first, h1 + 1),
            F.element_at(last, h2 + 1),
            (F.col("id") % 1000).cast("string"),
        ).alias("name"),
    )


def main() -> None:
    n_left = int(os.environ.get("BENCH_REF_LEFT", "5000"))
    n_right = int(os.environ.get("BENCH_REF_RIGHT", "100000"))
    spark = get_spark("bench_ref")
    left = names(spark, n_left, salt=1).cache()
    right = names(spark, n_right, salt=2).cache()
    left.count(), right.count()  # materialize outside the timers

    for top_n in (1, 10, 50):
        for strategy in ("shuffle", "broadcast"):
            t0 = time.perf_counter()
            rows = similarity_mapping(
                left,
                right,
                left_on="name",
                right_on="name",
                top_n=top_n,
                normalization="l2",
                strategy=strategy,
                left_id="id_1",
                right_id="id_2",
            ).count()
            print(
                json.dumps(
                    {
                        "left": n_left,
                        "right": n_right,
                        "top_n": top_n,
                        "strategy": strategy,
                        "rows": rows,
                        "sec": round(time.perf_counter() - t0, 3),
                    }
                ),
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
