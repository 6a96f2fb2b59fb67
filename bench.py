"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. The LAST
stdout line is a compact totals-only JSON ({"metric": ..., "value":
total_sec, "unit": "sec", "sf": ..., "n_queries": ..., "queries_file":
"BENCH_local.json"}) sized to survive the driver's tail capture; the
full per-query map is printed on the preceding line AND persisted to
BENCH_local.json at the repo root.

Each query is timed end-to-end including the action (count-style
materialization of every result row; nothing collected to the driver
beyond counts). A warmup query absorbs JVM/session startup so the
numbers reflect steady-state execution.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from polars_sim_spark import cache as cache_registry
from polars_sim_spark import queries as q
from polars_sim_spark.session import get_spark

HEADLINE = [
    "join_sim_parts_l2",
    "join_sim_parts_count",
    "join_sim_suppliers_normalized",
    "trigram_token_df",
    "tpch_q1_pricing_summary",
    "revenue_by_nation",
    "top_orders_per_customer",
    "events_hourly",
    "events_json_stats",
    "dedup_exact_docs",
    "dedup_jaccard_docs",
    "dedup_jaccard_prefix_docs",
    "dedup_minhash_lsh_docs",
    "dedup_simhash_docs",
    "dedup_embedding_cosine",
    "sample_documents_stratified",
    "corpus_stats_by_lang",
    "text_token_count",
    "text_quality",
    "text_langid",
    "text_fingerprint",
    "text_bpe_token_count",
    "ann_topk_bruteforce",
    "ann_topk_sq8",
    "ann_topk_sq8_prebuilt",
    "asof_error_last_click",
    "dedup_cluster_docs",
    "revenue_rollup",
    "custkey_setops_9596",
    # Added in round 2 (compare r1 totals on the 27-query subset above):
    "split_documents_hash",
    "events_sessionized",
    "dedup_remove_docs",
    "ann_topk_ivf_kmeans",
    "curate_corpus_pipeline",
    "chunk_documents",
    "customer_running_revenue",
    # Added in round 2 (second batch — compare r1/r2 on the subsets above):
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
    "docs_above_lang_median",
    "text_tfidf_top_terms",
    "events_clicks_before_error",
    "events_user_total_salted",
    "text_mask_entities",
    "remove_boilerplate_tokens",
    "embedding_label_centroids",
    "events_sliding_10m",
    "decontaminate_docs",
    "decontaminate_docs_bloom",
    "pack_documents_shards",
    "temperature_sample_docs",
    "dedup_incremental_docs",
    "docs_length_quartiles",
    "events_session_windows",
    "events_type_value_pivot",
    "events_cube_day_type",
    "daily_high_clicks_vs_purchases",
    # Added in round 3:
    "dedup_remove_docs_lsh",
    "curate_corpus_pipeline_lsh",
    "dedup_embedding_ivf",
    "dedup_embedding_lsh",
    "quality_model_score_docs",
    "tpch_q14_promo_revenue",
    "tpch_q22_idle_rich_customers",
    # Added in round 4:
    "dedup_incremental_near_docs",
    "dedup_passages_docs",
    "text_repetition_signals",
    "tpch_q4_order_priority",
    "tpch_q17_small_qty_revenue",
    "customer_trailing_30d_revenue",
    "text_bm25_topk",
    "weighted_sample_docs",
    "text_unigram_surprisal",
    "tpch_q10_returned_revenue",
    "embedding_cluster_medoids",
    "embedding_cluster_balanced_sample",
    "dedup_remove_embeddings",
    "events_multires_rollup",
    "docs_quality_unpivot",
    "events_user_funnel",
    "tpch_q21_sole_late_suppliers",
    "langid_confusion",
    # Added in round 5:
    "dedup_substring_spans",
    "dedup_remove_substrings",
    "tpch_q5_local_supplier_volume",
    "tpch_q7_nation_volume_shipping",
    "tpch_q15_top_supplier",
    "tpch_q18_large_volume_customers",
    "tpch_q19_disjunctive_revenue",
    "tpch_q13_customer_order_distribution",
    "text_bigram_surprisal",
    "tpch_q8_market_share",
    "tpch_q12_priority_lines",
    # Added in round 6:
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_profit",
    "tpch_q20_excess_inventory_suppliers",
    "text_bpe_fit_token_count",
    "mix_budget_docs",
    "ann_topk_pq",
    "events_hll_users",
    "events_cms_user_counts",
    # Added in round 7:
    "ann_topk_pq_prebuilt",
    "ann_topk_ivf_kmeans_prebuilt",
    "multimodal_media_meta",
    "dedup_embedding_ivf_capped",
    "events_cms_heavy_hitters",
    "events_value_quantiles",
    # round 8:
    "events_zorder_pruned",
    "events_upsert_partitions",
    "events_heavy_hitters_exact",
    "events_value_quantiles_sketch",
    "multimodal_wav_pcm_stats",
    "multimodal_ppm_pixel_stats",
    "dedup_images_phash",
    "pack_sequences_boundary",
    "entity_resolve_embeddings",
    "ann_recall_ivf",
    "dedup_remove_images",
    "decontaminate_fraction_docs",
    "events_hll_users_sharded",
    "ann_topk_ivf_filtered",
    "pack_token_sequences",
    "pack_token_sequences_stored",
    "pack_sequences_gathered",
    "quality_probe_fit_docs",
    "quality_probe_score_stored",
    "multimodal_mp4_frames",
    "multimodal_ppm_resize",
    "events_profile",
    "events_drift_tv",
    "events_drift_ks",
    "events_retention_cohorts",
    "text_kn_surprisal",
    "ingest_jsonl_docs",
    "events_expectations",
    "text_hash_embed_docs",
    "events_profile_sketch",
    "join_edit_customers",
    "graph_part_triangles",
    "graph_part_pagerank",
    "text_pmi_pairs",
    "events_robust_anomalies",
    "pack_webdataset_docs",
    "ann_mmr_rerank",
    "events_value_deciles",
    "dedup_containment_docs",
    "events_markov_transitions",
    "graph_part_kcore",
    "graph_part_communities",
    "ingest_csv_docs",
    "ann_rrf_hybrid",
    "entity_resolve_customers",
    "graph_part_pagerank_seeded",
    "graph_part_clustering",
    "graph_part_link_prediction",
    # round 10: the 5 previously-unbenched registry rows (VERDICT r9 #7)
    # so every contract row is timed, plus the round's additions.
    "normalize_part_names",
    "multimodal_decode_meta",
    "multimodal_frame_stats",
    "ann_topk_ivf",
    "ann_topk_lsh",
    "join_sim_parts_tfidf",
    "entity_resolve_incremental",
    "resolve_entities_scale",
    "multimodal_bmp_pixel_stats",
    # round 11:
    "multimodal_gif_pixel_stats",
    "multimodal_png_pixel_stats",
    "multimodal_png_resize",
    "multimodal_jpeg_pixel_stats",
    "multimodal_jpeg_color_stats",
    "dedup_images_multiformat",
    "dedup_audio_phash",
    "dedup_video_vhash",
    "split_documents_cluster_safe",
    "dedup_video_frames",
    "dedup_video_pixel_crossformat",
    "multimodal_tiff_stats",
    # round 13:
    "tpch_q11_important_stock",
    "tpch_q16_part_supplier_counts",
    "multimodal_jpeg420_stats",
    "multimodal_flac_pcm_stats",
    "dedup_audio_multiformat",
    "multimodal_jpeg_restart_stats",
    "multimodal_jpeg_progressive_stats",
    "multimodal_jpeg420_progressive_stats",
    "multimodal_flac_stereo_stats",
    "multimodal_jpeg422_stats",
    "multimodal_png_rgba_stats",
    "multimodal_png_palette_stats",
    "multimodal_png16_stats",
    "multimodal_bmp8_stats",
    "multimodal_jpeg_cmyk_stats",
    "multimodal_png_adam7_stats",
    "multimodal_wav8_stats",
    "multimodal_flac24_stats",
    "multimodal_mp3_pcm_stats",
    "dedup_audio_mp3_crossformat",
]

# Host-load canary: scan-only queries whose code has been stable since
# round 4. Their subtotal is emitted as ``canary_sec`` in the final
# parseable JSON line so every BENCH_r{N}.json artifact carries its own
# load normalizer — round 5's official record read +27% vs round 4
# purely from a hot driver host, which only BASELINE.md archaeology
# could explain (VERDICT r5 "What's wrong" #1). Settled-host reference
# value recorded in BASELINE.md; compare canary ratios, not raw totals,
# across rounds.
#
# Round 11 (VERDICT r10 #7): a single-instant sample proved too noisy —
# same-code runs spanned normalized 392–489 in round 10, too wide to
# detect a real 15% regression. The trio is now timed in a dedicated
# pass at START, MIDDLE and END of the headline run and ``canary_sec``
# is the MEDIAN of the three subtotals (raw samples kept in
# ``canary_samples``); the per-query map still carries the trio's
# in-loop timings as before. The definition change is recorded in
# BASELINE.md — in-loop r10 subtotals and median r11+ values are the
# same quantity up to sampling, so ratio archaeology stays valid.
CANARY = [
    "text_fingerprint",
    "text_token_count",
    "tpch_q6_forecast_revenue",
]


def _query_map_lines(timings: dict, limit: int = 1024) -> list:
    """``timings`` as JSON lines ``{"queries_part": i, "queries": {...}}``,
    each at most ``limit`` bytes, in the map's order."""
    lines, part = [], {}

    def render(d):
        return json.dumps({"queries_part": len(lines), "queries": d})

    for name, secs in timings.items():
        if part and len(render({**part, name: secs}).encode()) > limit:
            lines.append(render(part))
            part = {}
        part[name] = secs
    if part:
        lines.append(render(part))
    return lines


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    spark = get_spark("bench")

    # Warmup: spin up the JVM and touch EVERY table the queries read
    # (footer parsing + first-scan costs otherwise land on whichever
    # query happens to read a table first — at r4 the first headline
    # query carried ~4.5 s of part.parquet first-read that its
    # steady-state plan doesn't have). Rounds 1-3 warmed only lineitem;
    # BASELINE.md records the comparability note.
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()

    # JIT warmup (optimization round 14, guide §1 "measure correctly"):
    # the first queries of a run otherwise carry the JVM's C2
    # compilation of Spark's join/aggregate/window/codegen machinery —
    # measured on an idle host: the first headline query read 17-22 s
    # against a 2.6 s steady state, and the discarded canary trio
    # (scan-only plans) does not touch those code paths. This warmer is
    # SYNTHETIC — a generated frame pushed through the common physical
    # shapes (shuffle join, hash aggregate, window, array lambdas, a
    # pandas-iterator pass) — so it cannot precompute or cache anything
    # any timed query reuses; it only compiles engine code, exactly
    # like the table-footer warmup above (round-4 precedent, recorded
    # in BASELINE.md).
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as F

    _jit = spark.range(200_000).select(
        F.col("id"),
        (F.col("id") % 97).alias("k"),
        F.expr("array(cast(id as double), cast(id + 1 as double))").alias("v"),
    )
    _jit2 = _jit.groupBy("k").agg(F.sum("id").alias("s"))
    _w = _W.partitionBy("k").orderBy(F.desc("id"))
    (
        _jit.join(_jit2, "k")
        .withColumn("rn", F.row_number().over(_w))
        .where(F.col("rn") <= 3)
        .select(
            "k",
            F.aggregate(
                F.transform("v", lambda x: x * F.lit(2.0)),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("agg"),
        )
        .write.format("noop").mode("overwrite").save()
    )

    def _jit_pandas(it):
        for b in it:
            yield b

    _jit.select("id").mapInPandas(_jit_pandas, "id long").write.format(
        "noop"
    ).mode("overwrite").save()

    # Second warmup wave: the grouped-pandas, broadcast-join, string
    # expression and localCheckpoint machinery (the CC/dedup family's
    # physical shapes). A repeated CC-shaped query measured 48.9 ->
    # 27.1 -> 13.7 -> 10.0 -> 6.7 -> 4.8 s across six same-session
    # reps — the C2 ramp for these paths is minutes long and otherwise
    # lands on whichever timed queries run it first.
    def _jit_grouped(key, pdf):
        return pdf

    (
        _jit.select("k", "id")
        .groupBy("k")
        .applyInPandas(_jit_grouped, "k long, id long")
        .join(F.broadcast(_jit2), "k")
        .select(
            "k",
            F.xxhash64(F.concat_ws(",", F.col("id"), F.col("s"))).alias("h"),
            F.levenshtein(
                F.col("id").cast("string"), F.col("s").cast("string"), 2
            ).alias("d"),
        )
        .write.format("noop").mode("overwrite").save()
    )
    _ck = _jit2.localCheckpoint()
    _ck.where(F.col("s") < 0).isEmpty()

    # Prepare: materialize the persisted ANN indexes the *_prebuilt
    # serving rows read, OUTSIDE the timed region — index build is a
    # once-per-corpus cost production amortizes across every query batch
    # (VERDICT r6 #1: the fit-in-query rows conflated build with serve).
    # The fit-in-query twins (ann_topk_pq, ann_topk_ivf_kmeans) remain
    # in HEADLINE unchanged, so build cost stays visible in the bench —
    # it just no longer masquerades as serving cost.
    t_prep = time.perf_counter()
    q.ensure_ivfpq_index(spark, sf_dir)
    q.ensure_ivf_kmeans_index(spark, sf_dir)
    q.ensure_ivf_sqrt_index(spark, sf_dir)
    q.ensure_entity_labels(spark, sf_dir)
    q.ensure_zorder_events(spark, sf_dir)
    q.ensure_upserted_events_lake(spark, sf_dir)
    q.ensure_sq8_index(spark, sf_dir)
    q.ensure_quality_probe(spark, sf_dir)
    q.ensure_packed_sequences(spark, sf_dir)
    q.ensure_jsonl_fixture(spark, sf_dir)
    q.ensure_bpe_fit(spark, sf_dir)
    prep_sec = round(time.perf_counter() - t_prep, 3)

    # Python-worker pool warmup (optimization round 14, guide §1.4 +
    # §4.5 — same warmup category as the JIT waves above; the timed
    # loop, action and query set are UNCHANGED). A pipelined chain of
    # N MapInPandas nodes holds N live Python workers PER TASK, so the
    # first timed query with a multi-stage Python pipeline otherwise
    # spawns ~2-3x defaultParallelism fresh workers (daemon fork +
    # pandas/numpy/pyarrow import each) inside its timed region:
    # multimodal_media_meta read 14.5-28.5 s across four full runs on
    # a contended host with the idle pool at 3-5 workers immediately
    # before it (polled via pgrep), vs 2.7 s with a warmed pool.
    # Three chained pass-through evals over a synthetic range spawn
    # ~3x parallelism workers OUTSIDE the timed region; idle workers
    # have no timeout (spark.python.worker.idleTimeoutSeconds=0), so
    # the pool persists for the run. Placed AFTER prep because early-
    # out actions in the index builds kill borrowed workers rather
    # than pooling them (observed: pool 35 -> 3 across the prep
    # phase). Pass-through over generated ids — compiles and spawns
    # engine machinery only; no contract query, fixture table or
    # index is touched.
    def _pool_passthrough(it):
        for b in it:
            yield b

    (
        spark.range(100_000)
        .select("id")
        .mapInPandas(_pool_passthrough, "id long")
        .mapInPandas(_pool_passthrough, "id long")
        .mapInPandas(_pool_passthrough, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    def canary_sample() -> float:
        """One dedicated timed pass over the canary trio (outside the
        headline totals; ~1-2 s at sf0.1)."""
        t0 = time.perf_counter()
        for name in CANARY:
            q.QUERIES[name](spark, sf_dir).count()
        cache_registry.unpersist_all()
        return round(time.perf_counter() - t0, 3)

    # One DISCARDED trio pass first: the start sample otherwise reads
    # 2-4x hot (JIT/page-cache state right after prep — measured 1.865
    # vs 0.42 s mid-run on the same host), which skews even a median.
    canary_sample()
    canary_samples = [canary_sample()]
    midpoint = len(HEADLINE) // 2
    timings: dict[str, float] = {}
    for i, name in enumerate(HEADLINE):
        if i == midpoint:
            canary_samples.append(canary_sample())
        fn = q.QUERIES[name]
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        timings[name] = round(time.perf_counter() - t0, 3)
        # Release the caches the query's operators tracked (distinct-string
        # frames, shingle postings, …): this is the one long-lived
        # multi-query session in the repo, and without the release ~60
        # queries' worth of blocks pile up in executor storage for the
        # whole run — a memory/measurement hygiene hazard, not a
        # correctness one (unpersist never invalidates results). Outside
        # the timed region: rounds 1-3 timed queries without cleanup, so
        # keeping it out preserves round-over-round comparability.
        cache_registry.unpersist_all()
        # …and the localCheckpoint blocks the tracked registry can't see
        # (optimization round 14): iterative operators now release their
        # superseded ROUNDS inline, but each call's FINAL checkpoint
        # stays resident until driver GC + ContextCleaner get to it. No
        # frame crosses query boundaries in this loop (each query starts
        # from parquet), so the end-of-query sweep is safe — and keeps
        # ~200 queries' terminal checkpoints from accreting in the block
        # manager. Outside the timed region, like unpersist_all above.
        cache_registry.sweep_persistent_rdds(spark)

    canary_samples.append(canary_sample())
    total = round(sum(timings.values()), 3)
    canary_sec = sorted(canary_samples)[len(canary_samples) // 2]
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "canary_sec": canary_sec,
        "canary_samples": canary_samples,
        "canary_queries": CANARY,
        "index_prepare_sec": prep_sec,
    }
    # The driver records only a tail window of stdout and parses the last
    # line: a single JSON line carrying the full per-query map (~5 KB at
    # 78 queries) gets truncated mid-object (BENCH_r04.json parsed: null,
    # VERDICT.md round 4 "What's wrong" #1). So: persist the complete
    # record to BENCH_local.json (committed alongside BASELINE.md), print
    # the full line first for human eyes, and make the LAST stdout line a
    # compact totals-only JSON that always survives the tail capture.
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"),
        "w",
    ) as fh:
        json.dump(full, fh, indent=1)
        fh.write("\n")
    print(json.dumps(full))
    # The per-query map again, as lines of at most 1 KB each, so a tail
    # capture that cuts the full line above still holds every time.
    for line in _query_map_lines(timings):
        print(line)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "canary_sec": canary_sec,
                "queries_file": "BENCH_local.json",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
