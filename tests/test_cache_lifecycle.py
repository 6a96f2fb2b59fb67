"""Cache lifecycle: operators persist intermediates whose blocks must
outlive the call (the returned frame's lineage references them), so the
package routes every such persist through the session-scoped registry
(`polars_sim_spark/cache.py`) and `unpersist_all()` releases them.
Without this, a long-lived session leaks storage memory on every
join_sim / dedup-query call."""

from __future__ import annotations

from pyspark.sql import functions as F

import polars_sim_spark as pss
from polars_sim_spark import cache as cache_registry
from polars_sim_spark.operators import dedup
from polars_sim_spark.operators.join_sim import similarity_mapping


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_join_sim_caches_released_by_unpersist_all(spark, sf_small):
    # No absolute-baseline comparison: localCheckpoint blocks from other
    # tests in the shared session (CC loop, BPE fit) are freed
    # asynchronously when the JVM GCs the RDDs, so a count taken
    # "before" can shrink on its own mid-test and both a `> baseline`
    # and a `<= baseline` assertion can fail spuriously. The contract —
    # the op registers live caches and unpersist_all releases them — is
    # checkable without racing the GC.
    cache_registry.unpersist_all(blocking=True)

    part = spark.read.parquet(f"{sf_small}/part.parquet")
    # No ids supplied → join_sim caches both generated-id frames; the
    # distinct path caches the per-side distinct-string frames too.
    out = pss.join_sim(part, part.select("p_name"), on="p_name", top_n=2)
    n = out.count()
    assert n > 0
    during = _persistent_rdd_count(spark)
    assert during > 0, "expected tracked caches while in use"

    released = cache_registry.unpersist_all(blocking=True)
    assert released > 0
    assert _persistent_rdd_count(spark) < during

    # Results stay valid after release — lineage recomputes.
    assert out.count() == n


def test_join_sim_distinct_path_caches_one_keyed_frame_per_side(spark):
    # Both sides collapse (strings differing only in digits share a
    # trigram set), so both take the keyed path: each side's distinct
    # strings are cached once, already carrying their token-set keys.
    cache_registry.unpersist_all(blocking=True)
    left = spark.createDataFrame(
        [(i, f"acme {i}") for i in range(4)] + [(9, "globex 1")], "lid long, s string"
    )
    right = spark.createDataFrame(
        [(i, f"acme-{i}") for i in range(3)] + [(7, "initech 2")], "rid long, s string"
    )
    similarity_mapping(left, right, left_on="s", right_on="s", left_id="lid", right_id="rid")
    assert len(cache_registry._TRACKED) == 2
    cache_registry.unpersist_all(blocking=True)

    # A self-join's right side is the same plan as its left: one cache.
    similarity_mapping(
        left.select(F.col("lid").alias("l"), "s"), left.select(F.col("lid").alias("r"), "s"),
        left_on="s", right_on="s", left_id="l", right_id="r",
    )
    assert len(cache_registry._TRACKED) == 1
    cache_registry.unpersist_all(blocking=True)


def test_lsh_dedup_pairs_caches_released(spark, sf_small):
    # No absolute-baseline comparison: localCheckpoint blocks from other
    # tests (CC loop, BPE fit) are freed asynchronously when the JVM GCs
    # the RDDs, so a count taken "before" can shrink on its own mid-test
    # (observed: baseline 5 → 1 while the op ran). The contract is
    # (a) the op registers live caches and (b) unpersist_all releases
    # them — both checkable without racing the GC.
    cache_registry.unpersist_all(blocking=True)

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    pairs = dedup.minhash_lsh_dedup_pairs(docs, "doc_id", "text", min_jaccard=0.5)
    pairs.count()
    during = _persistent_rdd_count(spark)
    assert during > 0  # the tracked posting/signature caches are live

    released = cache_registry.unpersist_all(blocking=True)
    assert released > 0
    assert _persistent_rdd_count(spark) < during


def test_remove_near_dups_does_not_leak(spark, sf_small):
    # remove_near_dups unpersists inline (localCheckpoint severs the
    # postings lineage), so it must leave nothing behind on its own —
    # localCheckpoint blocks are released when the frames are GC'd, so
    # only the tracked-persist count matters here.
    cache_registry.unpersist_all(blocking=True)
    before = len(cache_registry._TRACKED)
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(100)
    out = dedup.remove_near_dups(docs, "doc_id", "text", min_jaccard=0.5)
    out.count()
    assert len(cache_registry._TRACKED) == before


def test_iterative_loops_release_superseded_rounds(spark, sf_small):
    """Optimization round 14: the iterative loops (label_propagation,
    k_core, pagerank, connected_components) chain-release each
    superseded round's localCheckpoint blocks instead of letting dead
    rounds accrete until a driver GC. Contract: (a) results are
    unchanged (k-core paths agree; CC labels match a rebuilt closure),
    (b) after a multi-round loop only the frames the result still reads
    stay persistent, (c) sweep_persistent_rdds clears the session."""
    from polars_sim_spark.operators import graph

    cache_registry.sweep_persistent_rdds(spark)

    li = spark.read.parquet(f"{sf_small}/lineitem.parquet")
    edges = graph.cooccurrence_edges(
        li, group_col="l_orderkey", item_col="l_partkey"
    )
    out = graph.label_propagation(edges, iterations=3)
    n = out.count()
    assert n > 0
    # 3 rounds would have left >= 5 checkpoints before the change; with
    # chaining only `directed` + the final labels round stay resident
    # (plus nothing from the released rounds).
    assert _persistent_rdd_count(spark) <= 3

    # k-core: chained recompute path == chained incident path.
    a = sorted(map(tuple, graph.k_core(edges, 3).collect()))
    b = sorted(map(tuple, graph.k_core(edges, 3, incident_only=True).collect()))
    assert a == b and len(a) > 0

    # pagerank with 2 mid-loop chained checkpoints (iterations > 2*every).
    pr = graph.pagerank(edges, iterations=9)
    assert pr.count() > 0

    swept = cache_registry.sweep_persistent_rdds(spark)
    assert swept > 0
    assert _persistent_rdd_count(spark) == 0


def test_materialize_count_surfaces_job_failure_without_retry(spark):
    """A failing job must raise from materialize_count after ONE job —
    not be swallowed and re-run as a second full scan via count()."""
    import pytest

    @F.udf("long")
    def boom(x):
        raise ValueError("materialize-count-boom")

    df = spark.range(4).select(boom("id").alias("x"))
    sc = spark.sparkContext
    group = "materialize-count-failure"
    sc.setJobGroup(group, "materialize_count failure test")
    try:
        with pytest.raises(Exception, match="materialize-count-boom"):
            cache_registry.materialize_count(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_slot_keeps_one_live_checkpoint(spark):
    """A Slot frees each superseded checkpoint: three checkpoints leave
    only the last one live; release() frees it (True) and then finds the
    slot empty (False); a lazy slot checkpoint fused with
    materialize_count still runs exactly one job."""
    slot = cache_registry.Slot()
    handles = []
    for i in range(3):
        out = slot.checkpoint(spark.range(10 + i))
        handles.append(slot._rdd)
        assert out.count() == 10 + i
    levels = [h.getStorageLevel() for h in handles]
    assert [lvl.useMemory() or lvl.useDisk() for lvl in levels] == [False, False, True]

    assert slot.release() is True
    lvl = handles[-1].getStorageLevel()
    assert not (lvl.useMemory() or lvl.useDisk())
    assert slot.release() is False

    sc = spark.sparkContext
    group = "slot-lazy-checkpoint"
    sc.setJobGroup(group, "lazy slot checkpoint + materialize_count")
    try:
        doubled = spark.range(100).select((F.col("id") * 2).alias("x"))
        lazy = slot.checkpoint(doubled, eager=False)
        assert cache_registry.materialize_count(lazy) == 100
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert lazy.agg(F.sum("x")).first()[0] == 9900
    assert slot.release() is True
