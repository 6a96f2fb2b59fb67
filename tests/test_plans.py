"""Physical-plan property tests: at 100 TB the PLAN is the product —
these pin the properties that make the queries scale (broadcasts chosen,
filters reaching the parquet scan, window top-k pushed down) so a
refactor that silently degrades the plan fails CI even though rows stay
correct."""

from __future__ import annotations

from pyspark.sql import functions as F

from polars_sim_spark.plans.explain import (
    assert_broadcast_join,
    assert_pushed_filters,
    formatted_plan,
)
from polars_sim_spark import queries as q


def test_revenue_by_nation_broadcasts_dims(spark, sf_small):
    df = q.revenue_by_nation(spark, sf_small)
    assert_broadcast_join(df)


def test_filter_pushdown_to_parquet(spark, sf_small):
    part = spark.read.parquet(f"{sf_small}/part.parquet")
    df = part.where(F.col("p_size") > 20).select("p_partkey", "p_size")
    assert_pushed_filters(df, "p_size")
    # column pruning: scan must read only the 2 projected columns
    plan = formatted_plan(df)
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "p_name" not in scan[0]


def test_join_sim_topk_uses_window_group_limit(spark, sf_small):
    """Catalyst rewrites rank()<=k into WindowGroupLimit (partial top-k
    before the final sort) — the analog of the reference's fused top-n."""
    df = q.join_sim_parts_l2(spark, sf_small)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan


def test_asof_join_single_shuffle(spark, sf_small):
    """The as-of join must plan exactly ONE exchange over the by-key —
    the union + running-last trick never range-joins."""
    from polars_sim_spark.operators.asof_join import asof_join

    from polars_sim_spark.sources.tables import load_table

    ev = load_table(spark, sf_small, "events")
    left = ev.where(F.col("event_type") == "error").select("event_id", "ts", "user_id")
    right = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("cid")
    )
    out = asof_join(left, right, on="ts", by="user_id", right_seq="cid", how="inner")
    import re

    plan = formatted_plan(out)
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, f"expected 1 shuffle, plan has {n_exchanges}:\n{plan}"


def test_ivf_centroid_pick_is_distributed_topk(spark, sf_small):
    """Centroid selection must compile to TakeOrderedAndProject (per-
    partition top-k + merge), never an unpartitioned window that drags
    the whole corpus into one partition."""
    from polars_sim_spark.operators.similarity import pick_centroids

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    plan = formatted_plan(pick_centroids(emb, "vec_id", "embedding", 16))
    assert "TakeOrderedAndProject" in plan


def test_ivf_assignment_zero_shuffle(spark, sf_small):
    """Centroid ASSIGNMENT must be a pure projection of the corpus scan —
    zero Exchange (round-1 finding: a window over a 16-way crossJoin
    shuffled 16n rows to pick a per-row argmax)."""
    from polars_sim_spark.functions.vectors import l2_norm
    from polars_sim_spark.operators.similarity import _centroid_scores, pick_centroids

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    cent_rows = pick_centroids(emb, "vec_id", "embedding", 8).collect()
    cent_rows.sort(key=lambda r: r["c_id"])
    side = emb.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("__v"),
        l2_norm("embedding").alias("__vn"),
    )
    assign = side.select(
        "n_id", F.array_max(_centroid_scores(cent_rows)).getField("c_id").alias("c_id")
    )
    plan = formatted_plan(assign)
    assert "Exchange" not in plan, f"assignment must not shuffle:\n{plan}"


def test_knn_graph_kernel_plan_has_no_centroid_literals(spark, sf_small, tmp_path):
    """The √n-kernel scale path (round 10 default, operators/similarity.py
    knn_graph) must carry NO num_centroids × dim literal arrays in its
    plan — plan literals bind construction/codegen past ~100 entries
    (BASELINE.md, 1000-centroid probe scorer: 120.9 s literal vs 8.3 s
    broadcast kernel). The expr path embeds centroid component values as
    literals; the kernel path must not."""
    from polars_sim_spark.functions.vectors import l2_norm
    from polars_sim_spark.operators.similarity import (
        _centroid_scores,
        centroid_assignments_kernel,
        pick_centroids,
    )

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet").limit(400)
    cent_rows = pick_centroids(emb, "vec_id", "embedding", 20).collect()
    cent_rows.sort(key=lambda r: r["c_id"])
    # a distinctive centroid component value, as Catalyst prints doubles
    marker = repr(float(list(cent_rows[0]["__centroid"])[0]))

    side = emb.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("__v"),
        l2_norm("embedding").alias("__vn"),
    )
    eplan = side.select(
        "q_id", F.array_max(_centroid_scores(cent_rows)).getField("c_id").alias("c_id")
    )._jdf.queryExecution().analyzed().treeString()
    kplan = (
        centroid_assignments_kernel(emb, "vec_id", "embedding", cent_rows, nprobe=2)
        ._jdf.queryExecution()
        .analyzed()
        .treeString()
    )
    assert marker in eplan, f"expr path should embed centroid literals ({marker})"
    assert marker not in kplan, "kernel path must not embed centroid literals"
    # the literal blowup in one number: the expr tree carries the whole
    # 20×64 centroid matrix; the kernel tree is O(columns)
    assert len(kplan) < len(eplan) / 10, (len(kplan), len(eplan))


def test_q6_filters_reach_parquet_scan(spark, sf_small):
    df = q.tpch_q6_forecast_revenue(spark, sf_small)
    assert_pushed_filters(df, "l_shipdate")
    assert_pushed_filters(df, "l_discount")
    # column pruning: the scan must not read payload columns like l_tax
    plan = formatted_plan(df)
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all("l_tax" not in ln for ln in scans)


def test_q3_topk_is_take_ordered(spark, sf_small):
    df = q.tpch_q3_shipping_priority(spark, sf_small)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert_broadcast_join(df)


def test_jaccard_verification_is_array_based(spark, sf_small):
    """Round-3 regression pin: candidate verification must compute the
    intersection with array_intersect over packed shingle arrays — the
    pre-fix plan expanded |cands|·set-size rows through a shuffle and
    was the measured bottleneck at 10× data (BASELINE.md)."""
    from polars_sim_spark.operators import dedup
    from polars_sim_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    postings = dedup.shingle_postings(docs, "doc_id", "text")
    for df in (
        dedup.jaccard_pairs(postings, min_jaccard=0.7, use_prefix_filter=True),
        dedup.minhash_lsh_dedup_pairs(docs, "doc_id", "text", min_jaccard=0.5),
    ):
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "array_intersect" in plan, f"verification reverted to join-expansion:\n{plan[:2000]}"


def test_minhash_lsh_bands_without_aggregates(spark, sf_small):
    """MinHash-LSH builds signatures, band keys and verification arrays
    per document row: the optimized plan's one Aggregate is the
    candidate ``distinct``, and no ``collect_list`` regroups shingles.
    The groupBy-signature plan this replaced carried five Aggregates
    (signatures and shingle arrays once per join side)."""
    from polars_sim_spark.operators import dedup
    from polars_sim_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    df = dedup.minhash_lsh_dedup_pairs(docs, "doc_id", "text", max_bucket_size=20)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    aggregates = [ln for ln in plan.splitlines() if ln.lstrip(":- +").startswith("Aggregate")]
    assert len(aggregates) == 1, plan
    assert "collect_list" not in plan


def test_passage_dedup_first_occurrence_is_window_group_limit(spark, sf_small):
    """The keep-first filter must plan as WindowGroupLimit so a hot
    boilerplate passage ships one row per map partition to the shuffle,
    not its full occurrence count."""
    df = q.dedup_passages_docs(spark, sf_small)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan


def test_q17_thresholds_are_broadcast(spark, sf_small):
    """The decorrelated per-part threshold table and the brand filter
    must both ride broadcast joins — the lineitem probe side never
    shuffles by join key."""
    df = q.tpch_q17_small_qty_revenue(spark, sf_small)
    assert_broadcast_join(df)
    plan = formatted_plan(df)
    # every join is broadcast; the only exchanges are the narrow
    # (partkey, thr) aggregate and the final 1-row aggregate
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_q16_broadcast_filters_below_first_exchange(spark, sf_small):
    """q16's widest shuffle must carry only broadcast-filtered pairs
    (VERDICT r13 #1): both the part brand/type/size filter and the
    excluded-supplier anti join are BroadcastHashJoins that appear
    BELOW the first Exchange in the plan — no shuffled join, and no
    pair-level distinct shuffle above an unfiltered scan."""
    df = q.tpch_q16_part_supplier_counts(spark, sf_small)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # Walk the operator TREE (the block before the per-node detail
    # sections): every BroadcastHashJoin line must sit deeper (later
    # line = closer to the scans) than every shuffle Exchange line,
    # i.e. the joins happen before the first shuffle.
    tree = plan.split("\n\n", 1)[0].splitlines()
    assert sum("BroadcastHashJoin" in ln for ln in tree) == 2
    bhj = [i for i, ln in enumerate(tree) if "BroadcastHashJoin" in ln]
    exch = [
        i
        for i, ln in enumerate(tree)
        if "- Exchange (" in ln  # shuffle; BroadcastExchange won't match
    ]
    assert exch and bhj
    assert min(bhj) > max(exch), (
        "a shuffle runs below the broadcast filters:\n" + plan
    )


def test_unpivot_is_zero_exchange(spark, sf_small):
    """UNPIVOT is a per-row expansion — the wide→long reshape must not
    plan any exchange."""
    df = q.docs_quality_unpivot(spark, sf_small)
    plan = formatted_plan(df)
    assert ") Exchange" not in plan and "Expand" in plan


def test_boundary_pack_offset_tables_ride_broadcasts(spark, sf_small):
    """pack_sequences_boundary's two tiny tables (per-(class, part) rank
    offsets; per-class shelf offsets) must join back by BROADCAST — the
    corpus-sized side never shuffles for them — and no window may run
    unpartitioned over row-scale data (the only global-order window is
    the ≤L-row class table)."""
    df = q.pack_sequences_boundary(spark, sf_small)
    assert_broadcast_join(df)
    plan = formatted_plan(df)
    # the row-scale windows are partitioned by (q, __part) / (q, shelf)
    assert "WindowGroupLimit" not in plan  # no top-k here, sanity
    assert "CartesianProduct" not in plan


def test_phash_pair_join_has_no_cartesian(spark, sf_small):
    """dedup_images_phash pairs come from the band equi-join — any plan
    regression to a cartesian/broadcast-nested-loop product would be the
    n² the banding exists to avoid."""
    df = q.dedup_images_phash(spark, sf_small)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
