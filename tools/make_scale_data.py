"""Generate a larger bench-only dataset by replicating an existing
testdata scale factor with shifted keys (default: sf0.1 x10 -> "sf1.0").

Usage: python tools/make_scale_data.py [src_dir] [dst_dir] [replicas] [tables]

``tables`` is an optional comma-separated subset (e.g.
``documents,embeddings`` for the 100x dedup/ANN slope runs — generating
60M lineitem rows to scale a documents-only query is wasted IO).

Replication preserves referential integrity (every key column in every
table shifts by the same per-replica offset) and — deliberately —
DECORRELATES text/vector content across replicas:

* ``documents.text`` gets a per-replica suffix on EVERY word, so shingle
  sets of different replicas are disjoint. A naive 10x copy would make
  every document a 10-clique of exact near-dups and inflate candidate
  pairs by 100x — unrepresentative of a real 10x corpus, where the
  near-dup RATE stays roughly constant and pair counts scale ~linearly.
* ``embeddings.embedding`` is cyclically rolled by the replica index, so
  cross-replica cosines are low instead of 1.0 (same reasoning).
* ``part.p_name`` gets a short per-replica tag: enough to keep strings
  distinct (so dedup_keys can't collapse the bench to the original
  size) while preserving TPC-H's native shared-color-vocabulary
  similarity structure.

This is for BENCH scaling only (plans + throughput at ~10x rows);
correctness stays pinned at sf0.01 against DuckDB oracles.
"""

from __future__ import annotations

import os
import string
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_sim_spark.session import get_spark

OFFSET = 100_000_000


def _shift(df: DataFrame, cols: list[str], off: int) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.col(c) + F.lit(off))
    return df


def replicate(spark, src: str, dst: str, replicas: int, tables: list[str] | None = None) -> None:
    os.makedirs(dst, exist_ok=True)
    letters = string.ascii_lowercase

    def tag_for(r: int) -> str:
        # Two-letter base-26 code: unique through 676 replicas. (The
        # earlier ``letters[r % 26] * 2`` collided past 26 replicas —
        # replicas r and r+26 got IDENTICAL text suffixes, turning each
        # into a full exact-dup clique of the other and corrupting any
        # >26x dedup slope run.)
        return letters[r // 26] + letters[r % 26]

    for t in ("region", "nation"):
        if tables is not None and t not in tables:
            continue
        spark.read.parquet(f"{src}/{t}.parquet").write.mode("overwrite").parquet(
            f"{dst}/{t}.parquet"
        )

    key_cols = {
        "customer": ["c_custkey"],
        "supplier": ["s_suppkey"],
        "part": ["p_partkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "events": ["event_id", "user_id"],
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
    }
    for t, keys in key_cols.items():
        if tables is not None and t not in tables:
            continue
        base = spark.read.parquet(f"{src}/{t}.parquet")
        dim = None
        if t == "embeddings":
            dim = len(base.select("embedding").first()["embedding"])
        parts = []
        for r in range(replicas):
            df = _shift(base, keys, r * OFFSET)
            tag = tag_for(r)
            if t == "part":
                df = df.withColumn("p_name", F.concat("p_name", F.lit(f" z{tag}")))
            elif t == "customer":
                # Names must track the shifted keys (a real 10x corpus
                # has 10x distinct names) — otherwise every replica pair
                # is a distance-0 name dup and edit-join slopes measure
                # a synthetic clique, not scale.
                df = df.withColumn(
                    "c_name", F.format_string("Customer#%09d", F.col("c_custkey"))
                )
            elif t == "supplier":
                df = df.withColumn(
                    "s_name", F.format_string("Supplier#%09d", F.col("s_suppkey"))
                )
            elif t == "documents" and r > 0:
                df = df.withColumn(
                    "text", F.regexp_replace("text", r"(\S+)", f"$1{tag}")
                )
                # Replica-keyed character permutation (round 11, VERDICT
                # r10 #6): the word-suffix decorrelates SHINGLES but
                # barely moves the PPM pixel grids the phash paths
                # sample (synth images are the text bytes), so replica
                # images stayed Hamming-close and ×N image pair counts
                # grew ~quadratically (92×/step, BASELINE.md fixture
                # caveat). A multiplicative alphabet permutation
                # (x → 11·x + 7·r mod 26; 11 ⊥ 26) remaps byte VALUES
                # uniformly: lengths, within-replica equality and
                # similarity structure are preserved exactly (bijection
                # applied uniformly), while cross-replica sampled
                # gradients scramble.
                src_a = string.ascii_lowercase
                dst_a = "".join(
                    src_a[(11 * i + 7 * r) % 26] for i in range(26)
                )
                # …and a replica-distinct BYTE-OFFSET prefix: the letter
                # permutation alone left the suffixed replicas' pair
                # counts quadratic (measured: 184k of 205k ×10 pairs
                # were cross-replica — all 9 suffixed replicas share
                # identical word-length geometry, and the dHash's
                # point-sampled gradients are dominated by space-vs-
                # letter boundaries, which stay aligned). Shifting each
                # replica's byte grid by a distinct offset (7r mod 101,
                # injective for r ≤ 100) breaks the boundary alignment;
                # within-replica structure is untouched (same shift both
                # sides of every pair).
                #
                # MEASURED OUTCOME (round 11, BASELINE.md round-11 tables):
                # replica-copy pairs are gone — same-base-doc pairs are
                # 615 of 311,618 ×10 phash pairs (0.2%; round 10's raw
                # copy fixture had chains everywhere) and non-degenerate
                # pair DENSITY drops 7.7× across replicas. The TOTAL
                # pair count still grows ~quadratically, but for a
                # different, fixture-independent reason: 99.99% of pairs
                # touch a DEGENERATE image (h<8 or w<9 — the dHash's 9×8
                # point grid repeats rows/cols, collapsing hashes to a
                # few values), so tiny images collide by the birthday
                # effect in ANY corpus, real or synthetic. That tail is
                # what phash_near_pairs(max_bucket_size=...) exists for
                # (99.5% true-dup recall at 14× less pair-gen wall at
                # ×10 with cap 1000 — BASELINE.md round-11 table).
                pre = "q" * ((7 * r) % 101 + 1)
                df = df.withColumn(
                    "text",
                    F.concat(F.lit(pre + " "), F.translate("text", src_a, dst_a)),
                ).withColumn("n_chars", F.length("text"))
            elif t == "embeddings" and r > 0:
                # Roll by r mod dim; once rolls would repeat (r >= dim),
                # negate the vector for odd generations — cosine of a
                # negated roll is the NEGATIVE of the unnegated one, so
                # no cross-replica pair reaches a near-dup threshold
                # through 2*dim replicas (128 at dim=64).
                roll = r % dim if r % dim else 1
                rolled = (
                    f"concat(slice(embedding, {roll + 1}, "
                    f"size(embedding) - {roll}), slice(embedding, 1, {roll}))"
                )
                if (r // dim) % 2 == 1:
                    rolled = f"transform({rolled}, x -> -x)"
                df = df.withColumn("embedding", F.expr(rolled))
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
        print(f"{t}: {replicas}x written", flush=True)


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/bench_sf1.0"
    replicas = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    tables = sys.argv[4].split(",") if len(sys.argv) > 4 else None
    spark = get_spark("make_scale_data")
    replicate(spark, src, dst, replicas, tables)
    spark.stop()


if __name__ == "__main__":
    main()
