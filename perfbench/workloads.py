"""The workloads: what each generates, which public call one op makes,
and what its output must digest to.

An op is one call into a layer's public function (``build``: everything
before the action, including the jobs the operator runs eagerly) followed
by one checksum action over all output rows (``checksum_cols``).
"""

from __future__ import annotations

import importlib
import os
import random
import statistics

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen
import oracle
from polars_sim_spark import queries as q
from polars_sim_spark.operators import dedup as dedup_ops
from polars_sim_spark.queries.simjoin import duck_trigrams_cte

# The operators package re-exports the join_sim *function* under the
# module's name, so the module itself is imported by path.
join_sim_ops = importlib.import_module("polars_sim_spark.operators.join_sim")


def micro_col(c: str):
    """``CAST(round(c * 1e6) AS BIGINT)``: a similarity as a hashable bigint."""
    return F.round(F.col(c) * F.lit(1e6)).cast("long")


class SimJoin:
    """Contract row ``join_sim_parts_l2`` on a generated ``part.parquet``.

    Its traced run also serves the same names through the postings path
    (materialize, probe, append, probe again), so the ``join_sim`` serve
    layer is measured on the same input."""

    name = "simjoin"
    layer = "join_sim"
    rows = names = 2000
    vocab = 20000
    warmup = 2
    serve_batch = 100
    top_n = 3
    table = "perfbench_postings"

    def generate(self, rng: random.Random, d: str) -> None:
        self.dir = d
        self.part = os.path.join(d, "part.parquet")
        vocab = gen.vocabulary(rng, self.vocab)
        names = gen.names(rng, self.names, vocab)
        gen.write_part(self.part, names)
        self.strings = (self.part, "p_name")
        # Serve-split inputs: half typo variants of part names, half fresh.
        self.probe = os.path.join(d, "probe.parquet")
        probe = [
            gen.typo(rng, rng.choice(names)) if j % 2 == 0 else gen.names(rng, 1, vocab)[0]
            for j in range(self.serve_batch)
        ]
        gen.write_probe(self.probe, probe)
        self.append = os.path.join(d, "append.parquet")
        gen.write_part(self.append, gen.names(rng, self.serve_batch, vocab), first_id=self.names)

    def setup(self, spark: SparkSession) -> None:
        self.spark = spark

    def build(self) -> DataFrame:
        return q.QUERIES["join_sim_parts_l2"](self.spark, self.dir)

    def checksum_cols(self) -> list:
        return [F.col("l_id"), F.col("r_id"), micro_col("sim_r")]

    def expected(self, cache: oracle.DigestCache) -> list[int]:
        return oracle.simjoin_expected(q.ORACLES["join_sim_parts_l2"], self.part, cache)

    def split(self, bench) -> dict[str, float]:
        """Postings serving over the part names: materialize, probe, append
        a batch, probe again. Both probes are checked against the serve
        oracle (the second must see the appended rows)."""
        spark, tracer = self.spark, bench.tracer
        buckets = spark.sparkContext.defaultParallelism
        part = spark.read.parquet(self.part)
        with tracer.span("join_sim.materialize") as m:
            bench.call(
                "serve.materialize",
                lambda: join_sim_ops.materialize_token_postings(
                    part, self.table, on="p_name", id_col="p_partkey", num_buckets=buckets
                ),
            )
        probes, digests = [], []
        for k in range(2):
            if k == 1:
                with tracer.span("join_sim.append") as a:
                    bench.call(
                        "serve.append",
                        lambda: join_sim_ops.append_token_postings(
                            spark.read.parquet(self.append),
                            self.table,
                            on="p_name",
                            id_col="p_partkey",
                            num_buckets=buckets,
                        ),
                    )
            with tracer.span("join_sim.probe"):
                with tracer.span("join_sim.probe.build") as b:
                    df = bench.call(
                        f"serve.probe{k}.build",
                        lambda: join_sim_ops.similarity_mapping_against_postings(
                            spark.read.parquet(self.probe),
                            spark.table(self.table),
                            left_on="name",
                            right_id="p_partkey",
                            top_n=self.top_n,
                            left_id="l_id",
                        ),
                    )
                with tracer.span("join_sim.probe.action") as act:
                    digests.append(
                        bench.checksum(
                            df, [F.col("l_id"), F.col("p_partkey"), micro_col("sim")], f"serve.probe{k}.action"
                        )
                    )
            jobs = sum(bench.status.group(f"serve.probe{k}.{p}").jobs for p in ("build", "action"))
            probes.append((b.seconds, act.seconds, jobs))
        want = oracle.serve_expected(
            oracle.serve_sql(duck_trigrams_cte, self.top_n),
            [self.part, self.append],
            self.probe,
            bench.oracle_cache,
        )
        for k in range(2):
            if digests[k] != want[k]:
                bench.fail(f"serve probe {k}: checksum {digests[k]} != oracle {want[k]}")
        return {
            "join_sim.materialize_s": m.seconds,
            "join_sim.probe_build_s": statistics.median(p[0] for p in probes),
            "join_sim.probe_action_s": statistics.median(p[1] for p in probes),
            "join_sim.probe_jobs": statistics.median(p[2] for p in probes),
            "join_sim.append_s": a.seconds,
            "join_sim.append_jobs": float(bench.status.group("serve.append").jobs),
        }


class Dedup:
    """Contract row ``dedup_remove_docs_lsh`` (``remove_near_dups``, LSH,
    bucket cap 20) on a generated ``documents.parquet``."""

    name = "dedup"
    layer = "dedup"
    rows = docs = 600
    vocab = 5000
    warmup = 2

    def generate(self, rng: random.Random, d: str) -> None:
        self.dir = d
        self.path = os.path.join(d, "documents.parquet")
        gen.write_documents(self.path, gen.documents(rng, self.docs, gen.vocabulary(rng, self.vocab)))
        self.strings = (self.path, "text")

    def setup(self, spark: SparkSession) -> None:
        self.spark = spark

    def build(self) -> DataFrame:
        return q.QUERIES["dedup_remove_docs_lsh"](self.spark, self.dir)

    def checksum_cols(self) -> list:
        return [F.col("doc_id"), F.col("n_chars")]

    def expected(self, cache: oracle.DigestCache) -> list[int]:
        return oracle.dedup_expected(q.ORACLES["dedup_remove_docs_lsh"], self.path, cache)

    def split(self, bench) -> dict[str, float]:
        """The pipeline's two halves on the same input, each timed on its
        own: ``minhash_lsh_dedup_pairs`` and ``connected_components`` over
        the pairs it returns (cached, so the second call does not recompute
        the first)."""
        from polars_sim_spark import cache as cache_registry

        tracer, status, traced_call = bench.tracer, bench.status, bench.call
        docs = self.spark.read.parquet(self.path)
        with tracer.span("dedup.pairs") as sp:
            pairs = traced_call(
                "split.pairs",
                lambda: cache_registry.track(
                    dedup_ops.minhash_lsh_dedup_pairs(
                        docs, "doc_id", "text", min_jaccard=0.5, max_bucket_size=20
                    ).select("l_id", "r_id")
                ),
            )
            n_pairs = traced_call("split.pairs_count", pairs.count)
        nodes = docs.select(F.col("doc_id").alias("id"))
        with tracer.span("dedup.cc") as sc:
            cc = traced_call("split.cc", lambda: dedup_ops.connected_components(nodes, pairs))
            traced_call("split.cc_count", cc.count)
        cc_jobs = sum(status.group(g).jobs for g in ("split.cc", "split.cc_count"))
        return {
            "dedup.pairs_s": sp.seconds,
            "dedup.pairs": float(n_pairs),
            "dedup.cc_s": sc.seconds,
            "dedup.cc_jobs": float(cc_jobs),
        }


WORKLOADS = {w.name: w for w in (SimJoin, Dedup)}
