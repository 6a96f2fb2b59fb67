"""Sink round-trip tests: partitioned and bucketed output layouts."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from polars_sim_spark.sources.sinks import read_back, write_bucketed, write_partitioned


def test_partitioned_roundtrip(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "docs_by_lang")
    write_partitioned(events, out, partition_by=["lang"], max_records_per_file=10_000)
    # hive layout on disk
    assert any(d.startswith("lang=") for d in os.listdir(out))
    back = read_back(spark, out)
    assert back.count() == events.count()
    # partition pruning: only the one directory is scanned
    one = back.where(F.col("lang") == back.select("lang").first()["lang"])
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or one.count() > 0


def test_bucketed_table_roundtrip(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    spark.sql("DROP TABLE IF EXISTS t_docs_bucketed")
    write_bucketed(
        docs, "t_docs_bucketed", bucket_by=["doc_id"], num_buckets=4, sort_by=["doc_id"]
    )
    back = spark.table("t_docs_bucketed")
    assert back.count() == docs.count()
    desc = spark.sql("DESCRIBE EXTENDED t_docs_bucketed").collect()
    txt = "\n".join(str(r) for r in desc)
    assert "doc_id" in txt
    spark.sql("DROP TABLE t_docs_bucketed")


def test_csv_json_roundtrip_require_schema(spark, tmp_path):
    """Text-format round-trips: values survive, and schemaless reads of
    csv/json are refused (inference = full extra scan at scale)."""
    import pytest

    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", 2.5)], "id long, name string, score double"
    )
    for fmt in ("csv", "json"):
        path = str(tmp_path / fmt)
        write_partitioned(df, path, format=fmt)
        back = read_back(
            spark, path, fmt, schema="id long, name string, score double"
        )
        assert sorted((r.id, r.name, r.score) for r in back.collect()) == [
            (1, "alpha", 1.5),
            (2, "beta", 2.5),
        ]
        with pytest.raises(ValueError, match="schema"):
            read_back(spark, path, fmt)


def test_history_band_table_join_is_shuffle_free_on_history_side(spark):
    """The cross-run incremental near-dedup shape: materialize the
    archive's LSH band table bucketed on the join keys once, then every
    increment's band join must read it WITHOUT an Exchange on the
    history side (the on-disk bucket layout IS the exchange), while
    producing exactly the rows of the recompute-everything form."""
    import re

    from polars_sim_spark.operators.dedup import (
        incremental_near_dups,
        incremental_near_dups_against_bands,
        materialize_history_bands,
    )
    from polars_sim_spark.plans.explain import formatted_plan

    import shutil
    from urllib.parse import urlparse

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    hist = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    spark.sql("DROP TABLE IF EXISTS t_hist_bands")
    # a crashed previous run can leave the managed location behind with
    # no catalog entry; saveAsTable then refuses with LOCATION_ALREADY_EXISTS
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(wh, "t_hist_bands"), ignore_errors=True)
    # num_buckets == the session's shuffle partitions (8) so the new
    # side's exchange lands bucket-aligned and the join zips directly.
    materialize_history_bands(
        hist, "doc_id", "text", "t_hist_bands", num_buckets=8
    )
    bands = spark.table("t_hist_bands")

    out_direct = incremental_near_dups(new, hist, "doc_id", "text")
    out_bands = incremental_near_dups_against_bands(new, bands, "doc_id", "text")
    assert sorted(r["doc_id"] for r in out_bands.collect()) == sorted(
        r["doc_id"] for r in out_direct.collect()
    )

    # The plan claim is about the AT-SCALE regime where neither band
    # side fits a broadcast (at sf0.001 the planner broadcasts the new
    # side and deliberately bypasses the bucketed scan, which is also
    # correct — bucketing only matters once the join shuffles). Force
    # the shuffled-join regime to assert the layout pays there.
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_bands = formatted_plan(
            incremental_near_dups_against_bands(new, bands, "doc_id", "text")
        )
        plan_direct = formatted_plan(
            incremental_near_dups(new, hist, "doc_id", "text")
        )
        assert "Bucketed: true" in plan_bands, plan_bands
        n_bands = len(re.findall(r"\(\d+\) Exchange", plan_bands))
        n_direct = len(re.findall(r"\(\d+\) Exchange", plan_direct))
        # identical plans except the history side's band shuffle is gone
        assert n_bands == n_direct - 1, (
            f"bands plan has {n_bands} exchanges vs direct {n_direct}:\n"
            + plan_bands
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    spark.sql("DROP TABLE t_hist_bands")


def test_ivf_index_prebuilt_prunes_partitions_and_matches_live(spark, tmp_path):
    """materialize_ivf_index + ann_topk_ivf_prebuilt: the serving path
    must (a) return exactly ann_topk_ivf's rows for the same corpus and
    centroid config, and (b) scan ONLY the probed cells — partition
    pruning on the hive c_id layout, visible as PartitionFilters in the
    plan and as a pruned partition count in the scan."""
    import re

    from polars_sim_spark.operators.similarity import (
        ann_topk_ivf,
        ann_topk_ivf_prebuilt,
        materialize_ivf_index,
    )
    from polars_sim_spark.plans.explain import formatted_plan

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    path = str(tmp_path / "ivf_index")
    kw = dict(k=5, nprobe=2)
    materialize_ivf_index(emb, path, num_centroids=12)

    live = {
        (r["q_id"], r["n_id"], r["sim"])
        for r in ann_topk_ivf(emb, queries, num_centroids=12, **kw).collect()
    }
    served_df = ann_topk_ivf_prebuilt(spark, path, queries, **kw)
    served = {(r["q_id"], r["n_id"], r["sim"]) for r in served_df.collect()}
    assert len(live) > 0
    assert served == live

    plan = formatted_plan(served_df)
    m = re.search(r"PartitionFilters: \[[^\]]*c_id#?\d* IN \(([^)]*)\)", plan)
    assert m, plan
    n_probed = len(m.group(1).split(","))
    n_cells = sum(1 for d in os.listdir(path) if d.startswith("c_id="))
    # 5 queries × nprobe=2 probe ≤ 10 distinct cells of the 12 on disk —
    # the pruning filter must list strictly fewer cells than exist
    assert 0 < n_probed < n_cells, (n_probed, n_cells, m.group(0))


def test_bm25_index_prebuilt_matches_live_and_avoids_builder_shuffles(spark):
    """materialize_bm25_index + bm25_topk_prebuilt: bit-identical
    (query, doc, score) rows to the live bm25_topk, with a serve-time
    plan that carries NO builder aggregates — the doc-id bucket layout
    satisfies the score aggregation's clustering, so the only exchange
    is the final top-k window."""
    import re
    import shutil
    from urllib.parse import urlparse

    from polars_sim_spark.operators.similarity import (
        bm25_topk,
        bm25_topk_prebuilt,
        materialize_bm25_index,
    )
    from polars_sim_spark.plans.explain import formatted_plan

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    queries = docs.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("q_id"), F.col("text").alias("q_text")
    )
    for t in ("t_bm25_idx", "t_bm25_idx_stats"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    materialize_bm25_index(
        docs, "t_bm25_idx", doc_id_col="doc_id", doc_text_col="text",
        num_buckets=8,
    )
    kw = dict(query_id_col="q_id", query_text_col="q_text", k=7)
    live = {
        (r["q_id"], r["doc_id"], r["score"])
        for r in bm25_topk(
            docs, queries, doc_id_col="doc_id", doc_text_col="text", **kw
        ).collect()
    }
    served_df = bm25_topk_prebuilt(spark, "t_bm25_idx", queries, **kw)
    served = {(r["q_id"], r["doc_id"], r["score"]) for r in served_df.collect()}
    assert len(live) > 0
    assert served == live

    plan = formatted_plan(served_df)
    # after execution the formatted output repeats the tree as
    # "== Initial Plan ==" — count exchanges in the final tree only
    final = plan.split("== Initial Plan ==")[0]
    n_ex = len(re.findall(r"\+- Exchange ", final))
    assert n_ex == 1, f"expected 1 serve-time exchange, got {n_ex}:\n{plan}"
    assert "Bucketed: true" in plan, plan
    for t in ("t_bm25_idx", "t_bm25_idx_stats"):
        spark.sql(f"DROP TABLE {t}")


def test_tfidf_postings_prebuilt_matches_live(spark):
    """materialize_token_postings(weighting='tfidf') + the tfidf serving
    path: identical rows to the live weighting='tfidf' join over the
    same reference corpus (frozen-IDF build ≡ in-flight fit, since the
    idf corpus is the reference side either way), across both
    normalizations; missing-sidecar serving raises."""
    import shutil
    from urllib.parse import urlparse

    import pytest

    from polars_sim_spark.operators.join_sim import (
        materialize_token_postings,
        similarity_mapping,
        similarity_mapping_against_postings,
    )

    part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    left = part.select(F.col("p_partkey").alias("l_id"), F.col("p_name").alias("s"))
    right = part.where(F.col("p_partkey") % 2 == 0).select(
        F.col("p_partkey").alias("r_id"), F.col("p_name").alias("s")
    )
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("t_tfidf_postings", "t_tfidf_postings_weights", "t_tfidf_postings_stats"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    materialize_token_postings(
        right, "t_tfidf_postings", on="s", id_col="r_id", num_buckets=8,
        weighting="tfidf",
    )
    postings = spark.table("t_tfidf_postings")
    weights = spark.table("t_tfidf_postings_weights")
    w0 = spark.table("t_tfidf_postings_stats").collect()[0]["default_w2"]

    for norm in ("l2", "count"):
        live = {
            (r["l_id"], r["r_id"], round(r["sim"], 9))
            for r in similarity_mapping(
                left, right, left_on="s", right_on="s", top_n=3,
                normalization=norm, strategy="shuffle",
                left_id="l_id", right_id="r_id", dedup_keys=False,
                weighting="tfidf",
            ).collect()
        }
        served = {
            (r["l_id"], r["r_id"], round(r["sim"], 9))
            for r in similarity_mapping_against_postings(
                left, postings, left_on="s", right_id="r_id", top_n=3,
                normalization=norm, left_id="l_id",
                weighting="tfidf", idf_weights=weights, default_w2=w0,
            ).collect()
        }
        assert len(live) > 0 and served == live, norm

    with pytest.raises(ValueError, match="sidecar"):
        similarity_mapping_against_postings(
            left, postings, left_on="s", right_id="r_id",
            left_id="l_id", weighting="tfidf",
        )


def test_append_token_postings_equals_pinned_rebuild(spark):
    """Incremental postings append (round 10): build on 60% of the
    reference, append the other 40%, and serving must equal a full
    build over everything — exactly for binary (weights are corpus-
    free), and exactly vs a FROZEN-weights rebuild for tfidf (the
    between-rebuilds contract; a refit rebuild differs by design)."""
    import shutil
    from urllib.parse import urlparse

    from polars_sim_spark.operators.join_sim import (
        append_token_postings,
        materialize_token_postings,
        similarity_mapping_against_postings,
    )

    part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    left = part.limit(80).select(
        F.col("p_partkey").alias("l_id"), F.col("p_name").alias("s")
    )
    right = part.where(F.col("p_partkey") % 2 == 0).select(
        F.col("p_partkey").alias("r_id"), F.col("p_name").alias("s")
    )
    base = right.where(F.col("r_id") % 10 < 6)
    extra = right.where(F.col("r_id") % 10 >= 6)
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    def _drop(*tables):
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(os.path.join(wh, t), ignore_errors=True)

    def _serve(tbl, **kw):
        return {
            (r["l_id"], r["r_id"], round(r["sim"], 9))
            for r in similarity_mapping_against_postings(
                left, spark.table(tbl), left_on="s", right_id="r_id",
                top_n=3, left_id="l_id", **kw,
            ).collect()
        }

    # binary: append ≡ full rebuild exactly
    _drop("t_app_bin", "t_app_bin_full")
    materialize_token_postings(base, "t_app_bin", on="s", id_col="r_id", num_buckets=4)
    append_token_postings(extra, "t_app_bin", on="s", id_col="r_id", num_buckets=4)
    materialize_token_postings(
        right, "t_app_bin_full", on="s", id_col="r_id", num_buckets=4
    )
    assert _serve("t_app_bin") == _serve("t_app_bin_full")

    # tfidf: append ≡ rebuild scored through the BASE build's weights
    _drop("t_app_tf", "t_app_tf_weights", "t_app_tf_stats")
    materialize_token_postings(
        base, "t_app_tf", on="s", id_col="r_id", num_buckets=4, weighting="tfidf"
    )
    w = spark.table("t_app_tf_weights")
    w0 = int(spark.table("t_app_tf_stats").collect()[0]["default_w2"])
    append_token_postings(extra, "t_app_tf", on="s", id_col="r_id", num_buckets=4)
    got = _serve("t_app_tf", weighting="tfidf", idf_weights=w, default_w2=w0)
    # pinned rebuild: full reference side weighed by the SAME frozen model
    want = {
        (r["l_id"], r["r_id"], round(r["sim"], 9))
        for r in similarity_mapping_against_postings(
            left,
            _frozen_postings(spark, right, w, w0),
            left_on="s", right_id="r_id", top_n=3, left_id="l_id",
            weighting="tfidf", idf_weights=w, default_w2=w0,
        ).collect()
    }
    assert got == want and len(got) > 0


def test_served_postings_validates_top_n(spark):
    """The served twin shares the live join's argument checks: top_n=0
    raises instead of silently returning no rows."""
    import pytest

    from polars_sim_spark.operators.join_sim import similarity_mapping_against_postings

    left = spark.createDataFrame([(1, "spark engine")], "l_id long, s string")
    postings = spark.createDataFrame([(7, 3, "spa")], "r_id long, __nr int, __token string")
    with pytest.raises(ValueError, match="top_n"):
        similarity_mapping_against_postings(
            left, postings, left_on="s", right_id="r_id", top_n=0, left_id="l_id"
        )


def test_binary_rebuild_drops_stale_tfidf_sidecars(spark, sf_small):
    """Rebuilding a tfidf postings table as binary removes its idf
    sidecars, so a later append takes the binary arm: serving the
    rebuilt+appended table equals a fresh binary build plus the same
    append."""
    import shutil
    from urllib.parse import urlparse

    from polars_sim_spark.operators.join_sim import (
        append_token_postings,
        materialize_token_postings,
        similarity_mapping_against_postings,
    )

    part = spark.read.parquet(f"{sf_small}/part.parquet")
    left = part.limit(80).select(
        F.col("p_partkey").alias("l_id"), F.col("p_name").alias("s")
    )
    right = part.where(F.col("p_partkey") % 2 == 0).select(
        F.col("p_partkey").alias("r_id"), F.col("p_name").alias("s")
    )
    base = right.where(F.col("r_id") % 10 < 6)
    extra = right.where(F.col("r_id") % 10 >= 6)
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    tables = ("t_rebuild", "t_rebuild_weights", "t_rebuild_stats", "t_rebuild_ref")
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)

    materialize_token_postings(
        base, "t_rebuild", on="s", id_col="r_id", num_buckets=4, weighting="tfidf"
    )
    materialize_token_postings(base, "t_rebuild", on="s", id_col="r_id", num_buckets=4)
    assert not spark.catalog.tableExists("t_rebuild_weights")
    assert not spark.catalog.tableExists("t_rebuild_stats")
    append_token_postings(extra, "t_rebuild", on="s", id_col="r_id", num_buckets=4)
    materialize_token_postings(base, "t_rebuild_ref", on="s", id_col="r_id", num_buckets=4)
    append_token_postings(extra, "t_rebuild_ref", on="s", id_col="r_id", num_buckets=4)

    def _serve(tbl):
        return {
            (r["l_id"], r["r_id"], round(r["sim"], 9))
            for r in similarity_mapping_against_postings(
                left, spark.table(tbl), left_on="s", right_id="r_id",
                top_n=3, left_id="l_id",
            ).collect()
        }

    got = _serve("t_rebuild")
    assert got == _serve("t_rebuild_ref") and len(got) > 0
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _frozen_postings(spark, right, weights, w0):
    """Reference postings weighed through a FROZEN idf model — the
    in-memory twin of what build+append produce on disk."""
    from polars_sim_spark.operators.join_sim import _tokens_long

    rt = _tokens_long(right, "s", "r_id", False, "__nr")
    rtw = rt.join(F.broadcast(weights), "__token", "left").select(
        "r_id", "__nr", "__token",
        F.coalesce("__w2", F.lit(w0)).alias("__w2"),
    )
    nr2 = rtw.groupBy("r_id").agg(F.sum("__w2").alias("__nr2"))
    return rtw.join(nr2, "r_id")


def test_token_postings_prebuilt_matches_live_and_skips_right_shuffle(spark):
    """materialize_token_postings + similarity_mapping_against_postings:
    identical fuzzy-join rows to the live shuffle-strategy join (with
    dedup_keys off, the byte-level twin), and in the shuffled regime the
    reference side's posting shuffle is gone (bucketed scan active, one
    fewer Exchange)."""
    import re
    import shutil
    from urllib.parse import urlparse

    from polars_sim_spark.operators.join_sim import (
        materialize_token_postings,
        similarity_mapping,
        similarity_mapping_against_postings,
    )
    from polars_sim_spark.plans.explain import formatted_plan

    part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    left = part.select(F.col("p_partkey").alias("l_id"), F.col("p_name").alias("s"))
    right = part.where(F.col("p_partkey") % 2 == 0).select(
        F.col("p_partkey").alias("r_id"), F.col("p_name").alias("s")
    )
    spark.sql("DROP TABLE IF EXISTS t_part_postings")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(wh, "t_part_postings"), ignore_errors=True)
    materialize_token_postings(
        right, "t_part_postings", on="s", id_col="r_id", num_buckets=8
    )
    postings = spark.table("t_part_postings")

    live = {
        (r["l_id"], r["r_id"], round(r["sim"], 9))
        for r in similarity_mapping(
            left, right, left_on="s", right_on="s", top_n=3,
            strategy="shuffle", left_id="l_id", right_id="r_id",
            dedup_keys=False,
        ).collect()
    }
    served_df = similarity_mapping_against_postings(
        left, postings, left_on="s", right_id="r_id", top_n=3, left_id="l_id"
    )
    served = {
        (r["l_id"], r["r_id"], round(r["sim"], 9)) for r in served_df.collect()
    }
    assert len(live) > 0
    assert served == live

    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_served = formatted_plan(
            similarity_mapping_against_postings(
                left, postings, left_on="s", right_id="r_id", top_n=3,
                left_id="l_id",
            )
        )
        plan_live = formatted_plan(
            similarity_mapping(
                left, right, left_on="s", right_on="s", top_n=3,
                strategy="shuffle", left_id="l_id", right_id="r_id",
                dedup_keys=False,
            )
        )
        assert "Bucketed: true" in plan_served, plan_served
        n_served = len(re.findall(r"\(\d+\) Exchange", plan_served))
        n_live = len(re.findall(r"\(\d+\) Exchange", plan_live))
        assert n_served == n_live - 1, (
            f"served has {n_served} exchanges vs live {n_live}:\n" + plan_served
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    spark.sql("DROP TABLE t_part_postings")


def test_append_history_bands_rolls_forward(spark):
    """The ingest loop: gate a batch against the persisted band table,
    append the survivors' bands, and the NEXT batch's gate behaves
    exactly as if history had been rebuilt from scratch."""
    import shutil
    from urllib.parse import urlparse

    from polars_sim_spark.operators.dedup import (
        append_history_bands,
        incremental_near_dups,
        incremental_near_dups_against_bands,
        materialize_history_bands,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    hist = docs.where(F.col("doc_id") % 3 == 0)
    batch1 = docs.where(F.col("doc_id") % 3 == 1)
    batch2 = docs.where(F.col("doc_id") % 3 == 2)
    spark.sql("DROP TABLE IF EXISTS t_roll_bands")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(wh, "t_roll_bands"), ignore_errors=True)
    materialize_history_bands(hist, "doc_id", "text", "t_roll_bands", num_buckets=8)

    bands = spark.table("t_roll_bands")
    # pin batch1's survivors BEFORE the append: the gate's plan reads the
    # band table lazily, so an un-materialized kept1 re-evaluated later
    # would see its own appended bands and self-match
    kept1 = incremental_near_dups_against_bands(
        batch1, bands, "doc_id", "text"
    ).localCheckpoint(eager=True)
    append_history_bands(kept1, "t_roll_bands", "doc_id", "text", num_buckets=8)

    got = sorted(
        r["doc_id"]
        for r in incremental_near_dups_against_bands(
            batch2, spark.table("t_roll_bands"), "doc_id", "text"
        ).collect()
    )
    # oracle: rebuild history from scratch as hist + batch1 survivors
    full_hist = hist.unionByName(kept1)
    expected = sorted(
        r["doc_id"]
        for r in incremental_near_dups(batch2, full_hist, "doc_id", "text").collect()
    )
    assert got == expected and len(got) > 0
    spark.sql("DROP TABLE t_roll_bands")


def test_zorder_key_known_interleave(spark):
    """Pin the Morton-key bit layout on a hand-checkable 2-bit grid:
    with bounds (0, 3) each coordinate IS its grid cell, and bit i of
    dimension j must land at key bit ``i * ncols + j``."""
    from polars_sim_spark.sources.layout import zorder_key

    df = spark.createDataFrame(
        [(0, 0), (3, 0), (0, 3), (3, 3), (2, 1)], "x long, y long"
    )
    bounds = {"x": (0.0, 3.0), "y": (0.0, 3.0)}
    z = zorder_key(df, ["x", "y"], bits=2, bounds=bounds)
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", z.alias("z")).collect()
    }
    # x occupies even bits, y odd bits: (3,0)->0b0101, (0,3)->0b1010,
    # (3,3)->0b1111, (2,1)->x=10@bits(0,2)=0b0100, y=01@bits(1,3)=0b0010
    assert got == {(0, 0): 0, (3, 0): 5, (0, 3): 10, (3, 3): 15, (2, 1): 6}


def test_zorder_row_group_pruning(spark, tmp_path):
    """The claim behind sources/layout.py: a 2-D box predicate over the
    z-ordered layout overlaps FEW row groups (tight min/max stats on
    both clustered columns), while the same box over the natural-order
    layout overlaps essentially all of them. Counted from parquet
    footer metadata only — the same bound Spark's scan applies via
    filter pushdown."""
    from polars_sim_spark.sources.layout import (
        row_groups_overlapping,
        write_zordered,
    )

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    flat, zord = str(tmp_path / "flat"), str(tmp_path / "zord")
    ev.repartition(64).write.parquet(flat)
    write_zordered(ev, zord, ["user_id", "value"], num_files=64)

    box = {"user_id": (40, 79), "value": (100.0, 200.0)}
    m_flat, t_flat = row_groups_overlapping(flat, box)
    m_z, t_z = row_groups_overlapping(zord, box)
    assert t_flat >= 64 and t_z >= 64
    # natural order: the box touches every row group; clustered: a sliver
    assert m_flat == t_flat
    assert m_z * 4 <= m_flat, (m_z, m_flat)

    # and the clustered scan returns exactly the same rows
    back = spark.read.parquet(zord)
    pred = F.col("user_id").between(40, 79) & F.col("value").between(100.0, 200.0)
    assert (
        sorted(r.event_id for r in back.where(pred).collect())
        == sorted(r.event_id for r in ev.where(pred).collect())
    )


def _partition_file_stats(path, part_dir):
    d = os.path.join(path, part_dir)
    return sorted(
        (f, os.path.getmtime(os.path.join(d, f)), os.path.getsize(os.path.join(d, f)))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


def test_upsert_partitions_merges_and_leaves_others_untouched(spark, tmp_path):
    """SCD1 upsert: updates win, inserts append, and partitions outside
    the batch keep byte-identical files (dynamic partition overwrite +
    pruned existing-side scan)."""
    import pytest

    from polars_sim_spark.sources.sinks import upsert_partitions

    path = str(tmp_path / "lake")
    base = spark.createDataFrame(
        [(i, f"p{i % 4}", float(i)) for i in range(400)], "k long, p string, v double"
    )
    base.repartition(4).write.partitionBy("p").parquet(path)
    before = {f"p={i}": _partition_file_stats(path, f"p=p{i}") for i in range(4)}

    # updates touch ONLY p0/p1: rewrite 10 existing keys, insert 5 new
    updates = spark.createDataFrame(
        [(i, f"p{i % 4}", -1.0) for i in range(0, 40, 4)]        # p0 updates
        + [(i, f"p{i % 4}", -2.0) for i in range(1, 41, 4)]      # p1 updates
        + [(1000 + i, "p0", 42.0) for i in range(5)],            # p0 inserts
        "k long, p string, v double",
    )
    touched = upsert_partitions(spark, path, updates, key_cols=["k"], partition_col="p")
    assert sorted(touched) == ["p0", "p1"]

    got = {r["k"]: (r["p"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert len(got) == 405
    for i in range(0, 40, 4):
        assert got[i] == (f"p{i % 4}", -1.0)
    for i in range(1, 41, 4):
        assert got[i] == (f"p{i % 4}", -2.0)
    for i in range(5):
        assert got[1000 + i] == ("p0", 42.0)
    assert got[2] == ("p2", 2.0)  # untouched row intact

    # p2/p3 files byte-identical (same names, mtimes, sizes)
    for i in (2, 3):
        assert _partition_file_stats(path, f"p=p{i}") == before[f"p={i}"]
    # p0/p1 were rewritten
    assert _partition_file_stats(path, "p=p0") != before["p=0"]

    # a key moving partitions is rejected (old row in a visited partition)
    mover = spark.createDataFrame([(2, "p0", 9.0)], "k long, p string, v double")
    with pytest.raises(ValueError, match="moves a key"):
        upsert_partitions(
            spark, path, mover.unionByName(
                spark.createDataFrame([(8, "p2", 9.0)], "k long, p string, v double")
            ),
            key_cols=["k"], partition_col="p",
        )
    # global-key audit catches a stale key in an UNVISITED partition
    escape = spark.createDataFrame([(3, "p0", 9.0)], "k long, p string, v double")
    with pytest.raises(ValueError, match="outside the touched set"):
        upsert_partitions(
            spark, path, escape, key_cols=["k"], partition_col="p",
            verify_global_keys=True,
        )


def test_bm25_append_frozen_stats_equals_pinned_rebuild(spark, sf_small):
    """append_to_bm25_index: appended docs serve immediately against the
    BASE build's frozen term statistics — equal, score for score, to an
    index hand-built from (base ∪ new) postings with df pinned to the
    base vocabulary (unseen terms df=0) and the base stats sidecar."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from polars_sim_spark.operators.similarity import (
        append_to_bm25_index,
        bm25_topk_prebuilt,
        materialize_bm25_index,
    )
    from polars_sim_spark.sources.sinks import write_bucketed

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    base = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    t1 = f"bm25_app_{_uuid.uuid4().hex[:8]}"
    t2 = f"{t1}_expected"
    try:
        materialize_bm25_index(base, t1, doc_id_col="doc_id", doc_text_col="text")
        append_to_bm25_index(new, t1, doc_id_col="doc_id", doc_text_col="text")

        # expected: postings over base ∪ new, df/dl exact per segment,
        # df from BASE vocabulary only, base stats sidecar
        def postings_of(d):
            toks = d.select(
                F.col("doc_id"),
                F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
            ).where(F.col("term") != "")
            p = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
            dl = p.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
            return p.join(dl, "doc_id")

        base_p = postings_of(base)
        base_df = base_p.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        exp = base_p.join(base_df, "term").select("doc_id", "term", "tf", "dl", "df").unionByName(
            postings_of(new)
            .join(base_df, "term", "left")
            .select(
                "doc_id", "term", "tf", "dl",
                F.coalesce(F.col("df"), F.lit(0)).cast("long").alias("df"),
            )
        )
        write_bucketed(exp, t2, bucket_by=["doc_id"], num_buckets=32, sort_by=["doc_id"])
        spark.table(t1 + "_stats").write.saveAsTable(t2 + "_stats")

        qs = docs.where(F.col("doc_id") < 6).select(
            F.col("doc_id").alias("q_id"), F.col("text").alias("q_text")
        )
        got = {
            (r["q_id"], r["doc_id"], r["score"])
            for r in bm25_topk_prebuilt(
                spark, t1, qs, query_id_col="q_id", query_text_col="q_text", k=10
            ).collect()
        }
        want = {
            (r["q_id"], r["doc_id"], r["score"])
            for r in bm25_topk_prebuilt(
                spark, t2, qs, query_id_col="q_id", query_text_col="q_text", k=10
            ).collect()
        }
        assert got == want and got
        # appended docs are actually retrievable
        assert any(d % 5 == 0 for (_, d, _) in got)
    finally:
        for t in (t1, t1 + "_stats", t2, t2 + "_stats"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_partitions_reduces_files_preserves_rows(spark, tmp_path):
    """Compaction: the fragmented partition's file count drops to the
    target, row content is unchanged, and partitions below the
    threshold keep byte-identical files."""
    import os

    from pyspark.sql import functions as F

    from polars_sim_spark.sources.sinks import compact_partitions

    lake = str(tmp_path / "lake")
    base = spark.range(2000).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("p"),
        (F.col("id") * 2.5).alias("v"),
    )
    # partition p=0 fragmented into many small files; p=1/p=2 compact
    base.where("p = 0").repartition(40).write.partitionBy("p").parquet(lake)
    base.where("p != 0").coalesce(1).write.mode("append").partitionBy("p").parquet(lake)

    def files_of(p):
        d = os.path.join(lake, f"p={p}")
        return sorted(
            f for f in os.listdir(d) if f.endswith(".parquet") and not f.startswith(".")
        )

    def bytes_of(p):
        d = os.path.join(lake, f"p={p}")
        return {f: os.path.getsize(os.path.join(d, f)) for f in files_of(p)}

    before_rows = sorted(map(tuple, spark.read.parquet(lake).collect()))
    before_p1, before_p2 = bytes_of(1), bytes_of(2)
    assert len(files_of(0)) == 40

    audit = compact_partitions(
        spark, lake, partition_col="p", target_file_bytes=1024 * 1024 * 1024
    )
    assert [a["partition"] for a in audit] == ["0"]
    assert audit[0]["files_before"] == 40 and audit[0]["files_after_target"] == 1
    assert len(files_of(0)) <= 1 + 0  # one file at the 1 GiB target
    # untouched partitions keep byte-identical files
    assert bytes_of(1) == before_p1 and bytes_of(2) == before_p2
    # pure re-layout: row content unchanged
    after_rows = sorted(map(tuple, spark.read.parquet(lake).collect()))
    assert after_rows == before_rows
    # idempotent: nothing left to compact
    assert compact_partitions(spark, lake, partition_col="p") == []
