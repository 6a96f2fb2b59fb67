"""Structured Streaming operators: file source → availableNow → memory sink."""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from polars_sim_spark.sources.tables import load_table
from polars_sim_spark.streaming.stream_ops import (
    stream_static_token_enrich,
    streaming_dedup_first_seen,
    windowed_event_counts,
)


@pytest.fixture()
def events_stream_dir(spark, sf_small):
    """Materialize the (ns-timestamp-fixed) events table as a stream source."""
    d = tempfile.mkdtemp(prefix="pss_stream_")
    load_table(spark, sf_small, "events").write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_to_memory(df, name, mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_windowed_counts_match_batch(spark, sf_small, events_stream_dir):
    batch = load_table(spark, sf_small, "events")
    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    name = f"wincounts_{uuid.uuid4().hex[:8]}"
    _run_to_memory(windowed_event_counts(stream), name, "append")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    expected = {
        (r["hour"], r["event_type"]): (r["n"], r["s"])
        for r in batch.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
        )
        .collect()
    }
    # Append mode only emits windows the watermark has closed: windows whose
    # end <= max(event time) - watermark delay. The tail windows stay in state.
    from datetime import timedelta

    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - timedelta(hours=2)
    finalized = {
        k: v for k, v in expected.items() if k[0] + timedelta(hours=1) <= cutoff
    }
    assert got == finalized
    assert len(got) > 0


def test_stream_hll_equals_batch_sketch(spark, sf_small, events_stream_dir):
    """Windowed streaming HLL (single stateful aggregation carrying all
    256 registers as conditional maxes) must reproduce the batch
    hll_distinct sketch — identical register math — on every finalized
    window, to the last rounded digit."""
    from datetime import timedelta

    from polars_sim_spark.operators.sketches import hll_distinct
    from polars_sim_spark.streaming.stream_ops import stream_hll_distinct

    batch = load_table(spark, sf_small, "events")
    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    name = f"hll_{uuid.uuid4().hex[:8]}"
    _run_to_memory(
        stream_hll_distinct(stream, window_duration="1 day", watermark_delay="2 hours"),
        name,
        "append",
    )
    got = {
        (r["window_start"], r["event_type"]): r["hll_distinct"]
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    expected = {
        (r["day"], r["event_type"]): r["hll_distinct"]
        for r in hll_distinct(
            batch.withColumn("day", F.date_trunc("day", "ts")),
            ["day", "event_type"],
            "user_id",
        ).collect()
    }
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - timedelta(hours=2)
    finalized = {
        k: v for k, v in expected.items() if k[0] + timedelta(days=1) <= cutoff
    }
    assert len(got) > 0
    assert got == finalized


def test_stream_cms_equals_batch_sketch(spark, sf_small, events_stream_dir):
    """Windowed streaming count-min counters equal the batch sketch on
    every finalized window (identical seeded-md5 hashing), and the
    emitted counters point-query correctly through the batch
    cms_estimate (over-estimate ≥ true count)."""
    from datetime import timedelta

    from polars_sim_spark.operators.sketches import cms_counters
    from polars_sim_spark.streaming.stream_ops import stream_cms_counters

    batch = load_table(spark, sf_small, "events")
    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    name = f"cms_{uuid.uuid4().hex[:8]}"
    _run_to_memory(
        stream_cms_counters(stream, window_duration="1 day", watermark_delay="2 hours"),
        name,
        "append",
    )
    got = {
        (r["window_start"], r["seed"], r["__c"]): r["cnt"]
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    expected = {
        (r["day"], r["seed"], r["__c"]): r["cnt"]
        for r in cms_counters(
            batch.withColumn("day", F.date_trunc("day", "ts")), "day", "user_id"
        ).collect()
    }
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - timedelta(hours=2)
    finalized = {
        k: v for k, v in expected.items() if k[0] + timedelta(days=1) <= cutoff
    }
    assert len(got) > 0
    assert got == finalized


def test_streaming_dedup_first_seen(spark):
    """Stateful dedup via applyInPandasWithState: within-run duplicates
    collapse to the earliest row, and a SECOND run over the same
    checkpoint drops keys already emitted (state survives restart)."""
    src = tempfile.mkdtemp(prefix="pss_dedup_src_")
    ckpt = tempfile.mkdtemp(prefix="pss_dedup_ckpt_")
    dst = tempfile.mkdtemp(prefix="pss_dedup_out_")
    schema = "fp string, seq long, text string"
    try:
        def run():
            # Memory sink can't recover from a checkpoint; the file sink
            # is the restart-capable path (exactly-once via the ckpt).
            stream = spark.readStream.schema(schema).parquet(src)
            out = streaming_dedup_first_seen(stream, key_col="fp", order_col="seq")
            q = (
                out.writeStream.format("parquet")
                .option("path", dst)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            return {
                r["fp"]: (r["seq"], r["text"])
                for r in spark.read.schema(schema).parquet(dst).collect()
            }

        spark.createDataFrame(
            [("a", 2, "dup of a"), ("a", 1, "first a"), ("b", 3, "first b")], schema
        ).write.mode("append").parquet(src)
        got1 = run()
        # in-run dedup: smallest seq wins per key
        assert got1 == {"a": (1, "first a"), "b": (3, "first b")}

        spark.createDataFrame(
            [("a", 4, "late dup of a"), ("c", 5, "first c")], schema
        ).write.mode("append").parquet(src)
        got2 = run()
        # cross-run state: 'a' was already emitted → only the new key
        # adds a row to the cumulative output
        assert got2 == {"a": (1, "first a"), "b": (3, "first b"), "c": (5, "first c")}
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(dst, ignore_errors=True)


def test_stream_static_enrich(spark, sf_small, events_stream_dir):
    """Each streaming event's type fuzzy-matches the static 'catalog' of
    event-type names via shared trigrams (stream-static join per batch)."""
    batch = load_table(spark, sf_small, "events")
    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    stream = stream.select("event_id", "event_type")
    catalog = spark.createDataFrame(
        [(1, "purchase"), (2, "errors"), (3, "signups")], "cat_id long, cat_name string"
    )
    enriched = stream_static_token_enrich(
        stream,
        catalog,
        stream_text_col="event_type",
        right_text_col="cat_name",
        right_id_col="cat_id",
        min_overlap=2,
    )
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    _run_to_memory(enriched, name, "complete")
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    assert len(rows) > 0
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], set()).add(r["cat_id"])
    # 'purchase' events overlap the 'purchase' catalog entry on all trigrams
    assert 1 in by_type["purchase"]
    # 'error' shares 'err'/'rro'/'ror' with 'errors'
    assert 2 in by_type["error"]


def test_stream_equals_contract_batch_query(spark, sf_small, events_stream_dir):
    """Contract-level batch-stream equivalence: the availableNow run of
    windowed_event_counts must reproduce the registered (oracle-checked)
    events_hourly contract query row-for-row on the same data, over the
    windows the watermark has finalized. This pins the two surfaces to
    each other, not to a third re-derivation."""
    from datetime import timedelta

    from polars_sim_spark import queries as q

    batch = load_table(spark, sf_small, "events")
    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    name = f"wincontract_{uuid.uuid4().hex[:8]}"
    _run_to_memory(windowed_event_counts(stream), name, "append")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    contract = {
        (r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in q.events_hourly(spark, sf_small).collect()
    }
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - timedelta(hours=2)
    finalized = {
        k: v for k, v in contract.items() if k[0] + timedelta(hours=1) <= cutoff
    }
    assert len(got) > 0
    assert got == finalized


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState's state server needs protobuf (absent in this env); "
    "the guard itself is covered by test_tws_raises_without_protobuf",
)
def test_streaming_dedup_first_seen_tws(spark):
    """Same semantics as test_streaming_dedup_first_seen, on the
    transformWithState successor API (typed state, RocksDB provider):
    in-run duplicates collapse to the earliest row, cross-run state
    survives the checkpoint. Equivalence of the two implementations pins
    the SEMANTICS, not an API."""
    from polars_sim_spark.streaming.stream_ops import streaming_dedup_first_seen_tws

    src = tempfile.mkdtemp(prefix="pss_tws_src_")
    ckpt = tempfile.mkdtemp(prefix="pss_tws_ckpt_")
    dst = tempfile.mkdtemp(prefix="pss_tws_out_")
    schema = "fp string, seq long, text string"
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        def run():
            stream = spark.readStream.schema(schema).parquet(src)
            out = streaming_dedup_first_seen_tws(stream, key_col="fp", order_col="seq")
            q = (
                out.writeStream.format("parquet")
                .option("path", dst)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            return {
                r["fp"]: (r["seq"], r["text"])
                for r in spark.read.schema(schema).parquet(dst).collect()
            }

        spark.createDataFrame(
            [("a", 2, "dup of a"), ("a", 1, "first a"), ("b", 3, "first b")], schema
        ).write.mode("append").parquet(src)
        assert run() == {"a": (1, "first a"), "b": (3, "first b")}

        spark.createDataFrame(
            [("a", 4, "late dup of a"), ("c", 5, "first c")], schema
        ).write.mode("append").parquet(src)
        assert run() == {
            "a": (1, "first a"),
            "b": (3, "first b"),
            "c": (5, "first c"),
        }
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(dst, ignore_errors=True)


@pytest.mark.skipif(_has_protobuf(), reason="protobuf present: the real test runs")
def test_tws_raises_without_protobuf(spark):
    """Without protobuf the operator must fail fast at call time with a
    pointer to the dependency-free twin, not crash mid-query."""
    from polars_sim_spark.streaming.stream_ops import streaming_dedup_first_seen_tws

    d = tempfile.mkdtemp(prefix="pss_tws_guard_")
    try:
        stream = spark.readStream.schema("fp string, seq long").parquet(d)
        with pytest.raises(ImportError, match="protobuf"):
            streaming_dedup_first_seen_tws(stream, key_col="fp", order_col="seq")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_sliding_stream_equals_contract_batch_query(spark, sf_small, events_stream_dir):
    """availableNow run of sliding_event_counts == the events_sliding_10m
    contract query, restricted to watermark-finalized windows."""
    from datetime import timedelta

    from polars_sim_spark.queries import events_sliding_10m
    from polars_sim_spark.streaming.stream_ops import sliding_event_counts

    batch = load_table(spark, sf_small, "events")
    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    name = f"sliding_{uuid.uuid4().hex[:8]}"
    _run_to_memory(sliding_event_counts(stream), name, "append")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in events_sliding_10m(spark, sf_small).collect()
    }
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - timedelta(minutes=30)
    finalized = {
        k: v
        for k, v in expected.items()
        if k[0] + timedelta(minutes=10) <= cutoff
    }
    assert got == finalized
    assert len(got) > 0


def test_session_stream_equals_contract_batch_query(spark, sf_small, events_stream_dir):
    """availableNow run of session_event_counts == the
    events_session_windows contract query on watermark-finalized sessions."""
    from datetime import timedelta

    from polars_sim_spark.queries import events_session_windows
    from polars_sim_spark.streaming.stream_ops import session_event_counts

    batch = load_table(spark, sf_small, "events")
    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    name = f"sessions_{uuid.uuid4().hex[:8]}"
    _run_to_memory(session_event_counts(stream), name, "append")
    got = {
        (r["session_start"], r["session_end"], r["user_id"]): (r["n_events"], r["sum_value"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    expected = {
        (r["session_start"], r["session_end"], r["user_id"]): (r["n_events"], r["sum_value"])
        for r in events_session_windows(spark, sf_small).collect()
    }
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - timedelta(hours=2)
    finalized = {k: v for k, v in expected.items() if k[1] <= cutoff}
    assert got == finalized
    assert len(got) > 0


def test_best_match_equals_batch_top1(spark, sf_small):
    """availableNow run of stream_static_best_match == batch
    similarity_mapping(top_n=1) on the same data — pins the streaming
    top-1 operator to the oracle-checked batch kernel, including the
    (sim DESC, right id ASC) tiebreak."""
    from polars_sim_spark.operators.join_sim import similarity_mapping
    from polars_sim_spark.streaming.stream_ops import stream_static_best_match

    part = load_table(spark, sf_small, "part").select("p_partkey", "p_name")
    static = part.select(
        F.col("p_partkey").alias("cat_id"), F.col("p_name").alias("cat_name")
    ).where(F.col("cat_id") % 3 == 0)

    src = tempfile.mkdtemp(prefix="pss_bm_")
    try:
        part.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(part.schema).parquet(src)
        name = f"bestmatch_{uuid.uuid4().hex[:8]}"
        _run_to_memory(
            stream_static_best_match(
                stream,
                static,
                stream_text_col="p_name",
                right_text_col="cat_name",
                right_id_col="cat_id",
            ),
            name,
            "complete",
        )
        got = {
            r["p_partkey"]: (r["cat_id"], round(r["sim"], 9))
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        expected = {
            r["p_partkey"]: (r["cat_id"], round(r["sim"], 9))
            for r in similarity_mapping(
                part,
                static.withColumnRenamed("cat_name", "p_name"),
                left_on="p_name",
                right_on="p_name",
                top_n=1,
                normalization="l2",
                left_id="p_partkey",
                right_id="cat_id",
            ).collect()
        }
        assert len(got) > 0
        assert got == expected
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_best_match_topn_equals_batch_top3(spark, sf_small):
    """availableNow run of stream_static_best_match(top_n=3) == batch
    similarity_mapping(top_n=3) on the same data — extends the top-1 pin
    to the general top-n contract (sim DESC, right id ASC, one row per
    kept candidate, dupes from the token join absorbed by collect_set)."""
    from polars_sim_spark.operators.join_sim import similarity_mapping
    from polars_sim_spark.streaming.stream_ops import stream_static_best_match

    part = load_table(spark, sf_small, "part").select("p_partkey", "p_name")
    static = part.select(
        F.col("p_partkey").alias("cat_id"), F.col("p_name").alias("cat_name")
    ).where(F.col("cat_id") % 3 == 0)

    src = tempfile.mkdtemp(prefix="pss_bm3_")
    try:
        part.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(part.schema).parquet(src)
        name = f"bestmatch3_{uuid.uuid4().hex[:8]}"
        _run_to_memory(
            stream_static_best_match(
                stream,
                static,
                stream_text_col="p_name",
                right_text_col="cat_name",
                right_id_col="cat_id",
                top_n=3,
            ),
            name,
            "complete",
        )
        got = {
            (r["p_partkey"], r["cat_id"], round(r["sim"], 9))
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        expected = {
            (r["p_partkey"], r["cat_id"], round(r["sim"], 9))
            for r in similarity_mapping(
                part,
                static.withColumnRenamed("cat_name", "p_name"),
                left_on="p_name",
                right_on="p_name",
                top_n=3,
                normalization="l2",
                left_id="p_partkey",
                right_id="cat_id",
            ).collect()
        }
        assert len(got) > 0
        assert got == expected
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_incremental_near_dedup_equals_batch(spark, sf_small):
    """availableNow run of stream_incremental_near_dedup == batch
    dedup.incremental_near_dups on the same new/historical split — pins
    the streaming ingest gate (per-row signatures, stream-static banded
    join, outer-join+max form) to the oracle-checked batch operator,
    including zero-candidate and zero-shingle docs surviving."""
    from polars_sim_spark.operators.dedup import incremental_near_dups
    from polars_sim_spark.streaming.stream_ops import stream_incremental_near_dedup

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    hist = docs.where(F.col("doc_id") < 100)
    new = docs.where(F.col("doc_id") >= 100)

    src = tempfile.mkdtemp(prefix="pss_inc_")
    try:
        new.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(new.schema).parquet(src)
        name = f"incneardedup_{uuid.uuid4().hex[:8]}"
        _run_to_memory(
            stream_incremental_near_dedup(
                stream,
                hist,
                stream_text_col="text",
                hist_text_col="text",
                hist_id_col="doc_id",
                min_jaccard=0.5,
            ),
            name,
            "complete",
        )
        got = {r["doc_id"] for r in spark.sql(f"SELECT doc_id FROM {name}").collect()}
        expected = {
            r["doc_id"]
            for r in incremental_near_dups(new, hist, "doc_id", "text", min_jaccard=0.5)
            .select("doc_id")
            .collect()
        }
        assert len(got) > 0
        assert got == expected
        # The gate must actually drop something on this corpus, or the
        # equivalence is vacuous.
        assert got < {r["doc_id"] for r in new.select("doc_id").collect()}
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_stream_passage_dedup_matches_first_occurrence(spark):
    """stream_passage_dedup emits exactly the corpus-wide first
    occurrence of every distinct passage (the batch
    remove_duplicate_passages keep rule), and cross-run state drops
    passages already emitted in an earlier micro-batch."""
    from polars_sim_spark.streaming.stream_ops import stream_passage_dedup

    src = tempfile.mkdtemp(prefix="pss_pass_src_")
    ckpt = tempfile.mkdtemp(prefix="pss_pass_ckpt_")
    dst = tempfile.mkdtemp(prefix="pss_pass_out_")
    schema = "doc_id long, text string"
    W = 4

    def expected_first(rows):
        seen, keep = set(), set()
        for doc_id, text in sorted(rows):
            ws = text.split()
            for k in range(0, max(len(ws), 0), W):
                p = " ".join(ws[k : k + W])
                if p and p not in seen:
                    seen.add(p)
                    keep.add((doc_id, k // W, p))
        return keep

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        out = stream_passage_dedup(
            stream, id_col="doc_id", text_col="text", passage_words=W
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", dst)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["doc_id"], r["pidx"], r["ptext"])
            for r in spark.read.schema("doc_id long, pidx int, ptext string").parquet(dst).collect()
        }

    try:
        batch1 = [(1, "a b c d e f g h"), (2, "a b c d x y z w"), (3, "p q r s p q r s")]
        spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(src)
        assert run() == expected_first(batch1)

        # batch 2: one already-seen passage, one new doc repeating it plus
        # a novel passage — only the novel span may appear
        batch2 = [(4, "a b c d m n o p")]
        spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(src)
        assert run() == expected_first(batch1) | {(4, 1, "m n o p")}
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(dst, ignore_errors=True)


def test_stream_passage_dedup_rejects_string_ids(spark):
    from polars_sim_spark.streaming.stream_ops import stream_passage_dedup

    stream = (
        spark.readStream.format("rate").load()
        .selectExpr("CAST(value AS STRING) AS doc_id", "'a b c d' AS text")
    )
    with pytest.raises(TypeError, match="integral"):
        stream_passage_dedup(stream, id_col="doc_id", text_col="text", passage_words=4)


def test_stream_centroid_assign_equals_batch(spark, sf_small, monkeypatch):
    """Streaming centroid assignment (availableNow over the embeddings
    table) emits exactly the batch nearest_centroid_assignments rows."""
    from polars_sim_spark.operators import similarity
    from polars_sim_spark.operators.similarity import nearest_centroid_assignments
    from polars_sim_spark.streaming.stream_ops import stream_centroid_assign

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    expected = {
        (r["id"], r["c_id"], r["sim"])
        for r in nearest_centroid_assignments(emb, num_centroids=8).collect()
    }

    d = tempfile.mkdtemp(prefix="pss_vec_stream_")
    try:
        emb.write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(emb.schema).parquet(d)
        for mode in ("expr", "kernel"):
            # pin _top_cells to each arm in turn
            monkeypatch.setattr(
                similarity,
                "KERNEL_ASSIGNMENT_MIN_CENTROIDS",
                10**9 if mode == "expr" else 0,
            )
            out = stream_centroid_assign(stream, emb, num_centroids=8)
            name = f"vecassign_{mode}_{uuid.uuid4().hex[:8]}"
            _run_to_memory(out, name, "append")
            got = {
                (r["id"], r["c_id"], round(r["sim"], 6))
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            }
            assert got == {(i, c, round(s, 6)) for i, c, s in expected}, mode
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_watermark_drops_late_rows_across_batches(spark):
    """A row older than the recovered watermark, arriving in a later
    micro-batch, is DROPPED — it neither reopens its already-emitted
    window nor appears anywhere in the cumulative output."""
    from datetime import datetime

    from polars_sim_spark.streaming.stream_ops import windowed_event_counts

    src = tempfile.mkdtemp(prefix="pss_late_src_")
    ckpt = tempfile.mkdtemp(prefix="pss_late_ckpt_")
    dst = tempfile.mkdtemp(prefix="pss_late_out_")
    schema = "ts timestamp, event_type string, value double"
    out_schema = "window_start timestamp, event_type string, n_events long, sum_value double"

    def ts(h, m):
        return datetime(2024, 1, 1, h, m)

    def run(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        out = windowed_event_counts(
            stream, window_duration="1 hour", watermark_delay="1 hour"
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", dst)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["window_start"].hour, r["n_events"])
            for r in spark.read.schema(out_schema).parquet(dst).collect()
        }

    try:
        # run 1: watermark advances to 12:00; the 10:00 window closes with 2
        got1 = run([(ts(10, 15), "click", 1.0), (ts(10, 45), "click", 1.0),
                    (ts(13, 0), "click", 1.0)])
        assert (10, 2) in got1
        # run 2: 10:50 is behind the RECOVERED watermark -> dropped; the
        # 15:30 row advances the watermark and closes 13:00 with exactly 2
        got2 = run([(ts(10, 50), "click", 1.0), (ts(13, 10), "click", 1.0),
                    (ts(15, 30), "click", 1.0)])
        assert (10, 2) in got2 and (13, 2) in got2
        assert not any(h == 10 and n != 2 for h, n in got2)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(dst, ignore_errors=True)


def test_stream_substring_dedup_matches_first_occurrence(spark):
    """stream_substring_dedup emits exactly the corpus-wide first
    occurrence of every distinct stride-1 window (the complement of
    duplicate_substring_spans' flagged set), with cross-batch state, and
    its complement on the arriving corpus equals the batch operator's
    duplicated window positions."""
    from polars_sim_spark.operators.dedup import duplicate_substring_spans
    from polars_sim_spark.streaming.stream_ops import stream_substring_dedup

    src = tempfile.mkdtemp(prefix="pss_sub_src_")
    ckpt = tempfile.mkdtemp(prefix="pss_sub_ckpt_")
    dst = tempfile.mkdtemp(prefix="pss_sub_out_")
    schema = "doc_id long, text string"
    W = 4

    def windows(rows):
        out = []
        for doc_id, text in rows:
            ws = text.split()
            for i in range(len(ws) - W + 1):
                out.append((doc_id, i, " ".join(ws[i : i + W])))
        return out

    def expected_first(rows):
        seen, keep = set(), set()
        for doc_id, i, g in sorted(windows(rows)):
            if g not in seen:
                seen.add(g)
                keep.add((doc_id, i, g))
        return keep

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        out = stream_substring_dedup(
            stream, id_col="doc_id", text_col="text", window_words=W
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", dst)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["doc_id"], r["i"], r["wtext"])
            for r in spark.read.schema("doc_id long, i int, wtext string")
            .parquet(dst)
            .collect()
        }

    try:
        batch1 = [
            (1, "a b c d e f"),          # windows at 0,1,2
            (2, "x a b c d e z"),        # repeats doc 1's windows at offset 1
            (3, "p q r s"),
        ]
        spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        got = run()
        assert got == expected_first(batch1)

        # complement equivalence with the batch span operator: every
        # window NOT emitted is inside a batch-flagged span, and vice
        # versa (spans cover exactly the non-first occurrences).
        docs = spark.createDataFrame(batch1, schema)
        spans = duplicate_substring_spans(
            docs, "doc_id", "text", window_words=W
        ).collect()
        covered = {
            (r["doc_id"], i)
            for r in spans
            for i in range(r["span_start"], r["span_end"] - W + 2)
        }
        not_emitted = {
            (d, i) for d, i, g in windows(batch1)
        } - {(d, i) for d, i, g in got}
        assert not_emitted == covered

        # batch 2: an already-seen window plus a novel one — state holds
        batch2 = [(4, "a b c d q")]  # "a b c d" seen; "b c d q" novel
        spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        assert run() == expected_first(batch1) | {(4, 1, "b c d q")}
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(dst, ignore_errors=True)


def test_foreach_batch_ingest_loop_rolls_history(spark):
    """The full streaming ingest loop the operators document: a file
    stream of document batches, each micro-batch gated against the
    PERSISTED band table (incremental_near_dups_against_bands), the
    survivors' bands appended (append_history_bands) so the NEXT batch
    sees them, and survivors written out — across two availableNow runs
    sharing one checkpoint. The final survivor set must equal the
    sequential batch-mode gating over the same splits."""
    from polars_sim_spark.operators.dedup import (
        append_history_bands,
        incremental_near_dups,
        incremental_near_dups_against_bands,
        materialize_history_bands,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    hist = docs.where(F.col("doc_id") % 3 == 0)
    b1 = docs.where(F.col("doc_id") % 3 == 1)
    b2 = docs.where(F.col("doc_id") % 3 == 2)

    import os as _os
    import shutil as _sh
    from urllib.parse import urlparse

    spark.sql("DROP TABLE IF EXISTS t_stream_bands")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    _sh.rmtree(_os.path.join(wh, "t_stream_bands"), ignore_errors=True)
    materialize_history_bands(hist, "doc_id", "text", "t_stream_bands", num_buckets=8)

    src = tempfile.mkdtemp(prefix="pss_loop_src_")
    ckpt = tempfile.mkdtemp(prefix="pss_loop_ckpt_")
    dst = tempfile.mkdtemp(prefix="pss_loop_out_")

    def gate_and_roll(batch_df, batch_id):
        kept = incremental_near_dups_against_bands(
            batch_df, batch_df.sparkSession.table("t_stream_bands"),
            "doc_id", "text",
        ).localCheckpoint(eager=True)
        append_history_bands(
            kept, "t_stream_bands", "doc_id", "text", num_buckets=8
        )
        kept.write.mode("append").parquet(dst)

    def run_once():
        q = (
            spark.readStream.schema(docs.schema)
            .parquet(src)
            .writeStream.foreachBatch(gate_and_roll)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    try:
        b1.coalesce(1).write.mode("append").parquet(src)
        run_once()
        b2.coalesce(1).write.mode("append").parquet(src)
        run_once()  # checkpoint resume: only the new file is processed

        got = sorted(
            r["doc_id"]
            for r in spark.read.schema(docs.schema).parquet(dst).collect()
        )
        # sequential batch-mode oracle over the same splits
        kept1 = incremental_near_dups(b1, hist, "doc_id", "text")
        kept2 = incremental_near_dups(
            b2, hist.unionByName(kept1), "doc_id", "text"
        )
        expected = sorted(
            r["doc_id"] for r in kept1.unionByName(kept2).collect()
        )
        assert got == expected and len(got) > 0
    finally:
        _sh.rmtree(src, ignore_errors=True)
        _sh.rmtree(ckpt, ignore_errors=True)
        _sh.rmtree(dst, ignore_errors=True)
        spark.sql("DROP TABLE IF EXISTS t_stream_bands")


def test_stream_stream_interval_join_inner_equals_batch(spark, sf_small, events_stream_dir):
    """Inner stream⋈stream interval join (watermarks BOTH sides) produces
    exactly the batch range_join's pairs — clicks within 5 minutes
    before each error, matched per user."""
    import uuid as _uuid

    from polars_sim_spark.operators.range_join import range_join
    from polars_sim_spark.streaming.stream_ops import stream_clicks_before_error

    batch = load_table(spark, sf_small, "events")
    src = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    errors = src.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = src.where(F.col("event_type") == "click").select("user_id", "ts")
    name = f"ssj_{_uuid.uuid4().hex[:8]}"
    _run_to_memory(stream_clicks_before_error(errors, clicks, how="inner"), name, "append")
    got = sorted(
        (r["event_id"], r["ts_r"]) for r in spark.sql(f"SELECT * FROM {name}").collect()
    )

    b_err = batch.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    b_clk = batch.where(F.col("event_type") == "click").select("user_id", "ts")
    expected = sorted(
        (r["event_id"], r["ts_r"])
        for r in range_join(
            b_err, b_clk, on="user_id", lower=-300, upper=0, how="inner"
        ).collect()
    )
    assert len(got) > 0
    assert got == expected


def test_stream_clicks_before_error_leftouter_matches_batch_twin(spark, sf_small):
    """leftOuter stream⋈stream interval join, aggregated over the sink,
    equals the driver-green batch query events_clicks_before_error —
    INCLUDING the n_clicks = 0 rows, which only flush once BOTH
    watermarks pass their intervals (sentinel rows appended on both
    sides advance the global watermark; the final no-data batch emits
    the evicted unmatched errors)."""
    from datetime import timedelta

    from polars_sim_spark import queries as q
    from polars_sim_spark.streaming.stream_ops import stream_clicks_before_error

    batch = load_table(spark, sf_small, "events")
    err_schema = "event_id long, user_id long, ts timestamp"
    clk_schema = "user_id long, ts timestamp"
    src_e = tempfile.mkdtemp(prefix="pss_ssj_err_")
    src_c = tempfile.mkdtemp(prefix="pss_ssj_clk_")
    ckpt = tempfile.mkdtemp(prefix="pss_ssj_ckpt_")
    dst = tempfile.mkdtemp(prefix="pss_ssj_out_")
    out_schema = "event_id long, user_id long, ts timestamp, ts_r timestamp"
    try:
        b_err = batch.where(F.col("event_type") == "error").select(
            "event_id", "user_id", "ts"
        )
        b_clk = batch.where(F.col("event_type") == "click").select("user_id", "ts")
        b_err.write.mode("append").parquet(src_e)
        b_clk.write.mode("append").parquet(src_c)

        def run():
            errors = spark.readStream.schema(err_schema).parquet(src_e)
            clicks = spark.readStream.schema(clk_schema).parquet(src_c)
            joined = stream_clicks_before_error(
                errors, clicks, watermark="1 minute", how="leftOuter"
            ).select("event_id", "user_id", "ts", "ts_r")
            qy = (
                joined.writeStream.format("parquet")
                .option("path", dst)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            qy.awaitTermination(180)
            return spark.read.schema(out_schema).parquet(dst)

        run()
        max_ts = batch.agg(F.max("ts")).collect()[0][0]
        # Sentinels on BOTH sides: the global watermark is the MIN over
        # watermarked sources, so one side alone cannot advance it.
        for hours in (1, 2):  # second run in case eviction lands a batch late
            far = max_ts + timedelta(hours=hours)
            spark.createDataFrame([(-hours, -1, far)], err_schema).write.mode(
                "append"
            ).parquet(src_e)
            spark.createDataFrame([(-1, far)], clk_schema).write.mode("append").parquet(
                src_c
            )
            out = run()
            got = {
                (r["event_id"], r["user_id"]): r["n_clicks"]
                for r in out.where(F.col("user_id") >= 0)
                .groupBy("event_id", "user_id")
                .agg(F.count("ts_r").alias("n_clicks"))
                .collect()
            }
            expected = {
                (r["event_id"], r["user_id"]): r["n_clicks"]
                for r in q.QUERIES["events_clicks_before_error"](spark, sf_small).collect()
            }
            if got == expected:
                break
        assert got == expected
        assert any(v == 0 for v in got.values())  # zero-click errors DID flush
    finally:
        for d in (src_e, src_c, ckpt, dst):
            shutil.rmtree(d, ignore_errors=True)


def test_substring_gate_ttl(spark):
    """state_ttl_ms on the substring-novelty gate: (a) within one TTL
    horizon the emitted complement is identical to the untimed gate;
    (b) after TTL-quiet expiry a repeated text's windows are emitted
    again — the sliding-horizon contract — including when the repeat
    ARRIVES in the same batch that would have reaped it (arrival-path
    staleness check, not just the no-input timeout callback)."""
    import time as _time

    from polars_sim_spark.streaming.stream_ops import stream_substring_dedup

    schema = "doc_id long, text string"
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),  # exact dup: fully suppressed
        (3, "zeta eta theta iota kappa"),
    ]

    def run_once(ttl, docs_rows, src, ckpt, dst):
        spark.createDataFrame(docs_rows, schema).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        out = stream_substring_dedup(
            stream, id_col="doc_id", text_col="text", window_words=3, state_ttl_ms=ttl
        )
        qy = (
            out.writeStream.format("parquet")
            .option("path", dst)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # A TTL query holds ProcessingTime timers, and under
        # AvailableNow such a query does NOT self-terminate when the
        # data is consumed — it keeps scheduling no-data micro-batches
        # to fire expiry callbacks (streaming_dedup_first_seen's
        # documented operational caveat, whose own advice is to stop()
        # once the input is through). Waiting out a flat
        # awaitTermination(120) made this ONE test ~6.5 min of suite
        # wall (round 15). Instead: once a zero-input progress entry
        # follows one that read input, the data batch has committed — the
        # sink is complete (expiry batches only drop state, they never
        # emit) — so stop the query and read the sink. A zero-input entry
        # alone is not enough: a restarted TTL query's FIRST batch is a
        # no-data expiry batch that runs before the new file is read.
        deadline = _time.time() + 120
        while _time.time() < deadline:
            qy.awaitTermination(2)
            if not qy.isActive:
                break
            counts = [p["numInputRows"] for p in qy.recentProgress]
            if counts and counts[-1] == 0 and any(counts):
                break
        if qy.isActive:
            qy.stop()
        qy.awaitTermination(60)
        return sorted(
            (r["doc_id"], r["i"], r["wtext"])
            for r in spark.read.schema("doc_id long, i long, wtext string").parquet(dst).collect()
        )

    dirs = [tempfile.mkdtemp(prefix=f"pss_ttl_{i}_") for i in range(6)]
    try:
        # (a) within-horizon equivalence: long TTL == no TTL
        got_ttl = run_once(600_000, rows, *dirs[0:3])
        got_plain = run_once(None, rows, *dirs[3:6])
        assert got_ttl == got_plain
        assert {d for d, _, _ in got_ttl} == {1, 3}  # doc 2 fully suppressed
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)

    dirs = [tempfile.mkdtemp(prefix=f"pss_ttl2_{i}_") for i in range(3)]
    try:
        # (b) expiry: same text repeated after TTL-quiet is novel again
        first = run_once(500, [(1, "alpha beta gamma delta epsilon")], *dirs)
        assert {d for d, _, _ in first} == {1}
        _time.sleep(2.0)
        second = run_once(500, [(9, "alpha beta gamma delta epsilon")], *dirs)
        assert {d for d, _, _ in second} == {1, 9}  # re-emitted post-expiry
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def test_stream_pq_encode_equals_batch(spark, sf_small):
    """availableNow run of stream_pq_encode == batch pq.pq_encode with
    the same codebooks — the streaming writer of a PQ index."""
    import uuid as _uuid

    from polars_sim_spark.operators import pq
    from polars_sim_spark.streaming.stream_ops import stream_pq_encode

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    cb = pq.pq_fit(emb, "vec_id", "embedding", m=8, k=16, iters=1)
    src = tempfile.mkdtemp(prefix="pss_pqstream_")
    try:
        emb.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(emb.schema).parquet(src)
        name = f"pqenc_{_uuid.uuid4().hex[:8]}"
        _run_to_memory(stream_pq_encode(stream, cb), name, "append")
        got = {
            r["id"]: list(r["codes"])
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        expected = {
            r["id"]: list(r["codes"])
            for r in pq.pq_encode(emb, "vec_id", "embedding", cb).collect()
        }
        assert got == expected
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_stream_cms_heavy_hitters_equals_batch(spark, sf_small, events_stream_dir):
    """The serve loop over streaming-maintained counters: windowed
    stream_cms_counters output + per-window totals + a candidate set,
    point-queried through stream_cms_heavy_hitters, must return exactly
    the batch cms_heavy_hitters rows for every finalized window — same
    member set, same estimates, same no-false-negative guarantee."""
    import uuid as _uuid
    from datetime import timedelta

    from polars_sim_spark.operators.sketches import cms_heavy_hitters
    from polars_sim_spark.streaming.stream_ops import (
        stream_cms_counters,
        stream_cms_heavy_hitters,
    )

    batch = load_table(spark, sf_small, "events")
    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    name = f"cmshh_{_uuid.uuid4().hex[:8]}"
    _run_to_memory(
        stream_cms_counters(stream, window_duration="1 day", watermark_delay="2 hours"),
        name,
        "append",
    )
    counters = spark.sql(f"SELECT * FROM {name}")

    day = F.date_trunc("day", "ts").alias("window_start")
    # production: a distinct-key sidecar / key dictionary — here derived
    # from the batch table, NOT by replaying the stream
    candidates = batch.select(day, "user_id").distinct()
    totals = batch.groupBy(day).agg(F.count(F.lit(1)).alias("n"))

    served = {
        (r["window_start"], r["user_id"]): r["cms_count"]
        for r in stream_cms_heavy_hitters(
            counters, candidates, totals, phi=0.02
        ).collect()
    }
    expected_all = {
        (r["window_start"], r["user_id"]): r["cms_count"]
        for r in cms_heavy_hitters(
            batch.withColumn("window_start", day), "user_id", 0.02,
            group_col="window_start",
        ).collect()
    }
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - timedelta(hours=2)
    finalized = {
        k: v for k, v in expected_all.items() if k[0] + timedelta(days=1) <= cutoff
    }
    # served rows exist only for windows the stream finalized
    served_finalized = {k: v for k, v in served.items() if k[0] + timedelta(days=1) <= cutoff}
    assert len(served_finalized) > 0
    assert served_finalized == finalized


def test_stream_quantile_sketch_equals_batch(spark, sf_small, events_stream_dir):
    """Streaming bounded-state quantiles: per finalized window, the
    applyInPandasWithState bottom-k merge must reproduce the batch
    quantile_sketch to the last rounded digit (same md5 sample, same
    tie-break, same interpolation) — bottom-k associativity makes the
    micro-batch split invisible."""
    import uuid as _uuid
    from datetime import timedelta

    from polars_sim_spark.operators.sketches import quantile_sketch
    from polars_sim_spark.streaming.stream_ops import stream_quantile_sketch

    batch = load_table(spark, sf_small, "events")
    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    name = f"qsk_{_uuid.uuid4().hex[:8]}"
    _run_to_memory(
        stream_quantile_sketch(
            stream, window_duration="1 day", watermark_delay="2 hours", s=64
        ),
        name,
        "append",
    )
    got = {
        (r["window_start"], r["event_type"]): (r["p50"], r["p90"], r["p99"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    expected_all = {
        (r["day"], r["event_type"]): (r["p50"], r["p90"], r["p99"])
        for r in quantile_sketch(
            batch.withColumn("day", F.date_trunc("day", "ts")),
            ["day", "event_type"],
            "value",
            "event_id",
            [0.5, 0.9, 0.99],
            s=64,
        ).collect()
    }
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - timedelta(hours=2)
    finalized = {
        k: v for k, v in expected_all.items() if k[0] + timedelta(days=1) <= cutoff
    }
    assert len(got) > 0
    assert got == finalized


def test_stream_ingest_zordered_lake(spark, sf_small):
    """foreachBatch lake maintenance: after an availableNow run over two
    source files, the clustered lake holds exactly the source rows, the
    stored sketch serves the batch HLL estimate, and a replayed sketch
    shard does not change any estimate (max-merge idempotence)."""
    import tempfile

    from polars_sim_spark.operators.sketches import (
        append_hll_shard,
        hll_distinct,
        hll_estimate_stored,
    )
    from polars_sim_spark.streaming.stream_ops import stream_ingest_zordered_lake

    batch = load_table(spark, sf_small, "events")
    src = tempfile.mkdtemp(prefix="pss_lake_src_")
    root = tempfile.mkdtemp(prefix="pss_lake_")
    ckpt = tempfile.mkdtemp(prefix="pss_lake_ckpt_")
    batch.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    batch.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    ingest = stream_ingest_zordered_lake(
        root,
        zorder_cols=["user_id", "value"],
        sketch_group_col="event_type",
        sketch_value_col="user_id",
    )
    q = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    lake = spark.read.parquet(f"{root}/data")
    assert sorted(r["event_id"] for r in lake.select("event_id").collect()) == sorted(
        r["event_id"] for r in batch.select("event_id").collect()
    )
    served = sorted(
        map(tuple, hll_estimate_stored(spark, f"{root}/sketch", "event_type").collect())
    )
    direct = sorted(
        map(tuple, hll_distinct(batch, "event_type", "user_id").collect())
    )
    assert served == direct

    # replayed shard: estimate unchanged (registers merge by max)
    append_hll_shard(
        batch.where(F.col("event_id") % 2 == 0),
        f"{root}/sketch",
        "event_type",
        "user_id",
        shard="0",
    )
    assert served == sorted(
        map(tuple, hll_estimate_stored(spark, f"{root}/sketch", "event_type").collect())
    )


def test_stream_session_windows_equals_batch(spark, sf_small, events_stream_dir):
    """Native streaming session windows: every session the watermark
    finalized must equal the batch session_window row exactly
    (bounds, count, exact decimal total)."""
    import uuid as _uuid
    from datetime import timedelta

    from polars_sim_spark.streaming.stream_ops import stream_session_windows

    batch = load_table(spark, sf_small, "events")
    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    name = f"sess_{_uuid.uuid4().hex[:8]}"
    _run_to_memory(
        stream_session_windows(stream, gap="30 minutes", watermark_delay="2 hours"),
        name,
        "append",
    )
    got = {
        (r["session_start"], r["session_end"], r["user_id"]): (r["n_events"], r["sum_value"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    expected_all = {
        (r["session_start"], r["session_end"], r["user_id"]): (r["n_events"], r["sum_value"])
        for r in batch.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("win"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
        .collect()
    }
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - timedelta(hours=2)
    finalized = {k: v for k, v in expected_all.items() if k[1] <= cutoff}
    assert len(got) > 0
    assert got == finalized


def test_stream_upsert_lake_equals_batch_merge(spark, tmp_path):
    """CDC micro-batches (one file per trigger, arbitrary order) upsert
    into the lake; the final state equals the order-independent batch
    merge: per-key max-seq row over base ∪ all updates."""
    import os

    from polars_sim_spark.streaming.stream_ops import stream_upsert_lake

    lake = str(tmp_path / "lake")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    import pandas as pd

    base = spark.createDataFrame(
        [(i, f"p{i % 4}", float(i), 0) for i in range(200)],
        "k long, p string, v double, seq long",
    )
    os.makedirs(src)
    # plain parquet FILES (not dirs): the file stream source lists only
    # direct children of the source path
    base.toPandas().to_parquet(f"{src}/f0.parquet", index=False)
    # three CDC files: overlapping keys, rising seq, p0/p1 only + inserts
    upd1 = [(i, f"p{i % 4}", 100.0 + i, 1) for i in range(0, 40, 4)]          # p0
    upd2 = [(i, f"p{i % 4}", 200.0 + i, 2) for i in range(0, 20, 4)]          # p0, newer
    upd3 = [(i, f"p{i % 4}", 300.0 + i, 3) for i in range(1, 20, 4)] + [      # p1
        (1000, "p1", 7.0, 3)                                                   # insert
    ]
    for n, rows in (("f1", upd1), ("f2", upd2), ("f3", upd3)):
        pd.DataFrame(rows, columns=["k", "p", "v", "seq"]).astype(
            {"k": "int64", "v": "float64", "seq": "int64"}
        ).to_parquet(f"{src}/{n}.parquet", index=False)

    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            stream_upsert_lake(lake, key_cols=["k"], partition_col="p", seq_col="seq")
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    allrows = base.unionByName(
        spark.createDataFrame(upd1 + upd2 + upd3, base.schema)
    )
    expected = {
        r["k"]: (r["p"], r["v"], r["seq"])
        for r in allrows.groupBy("k")
        .agg(F.max(F.struct("seq", "v", "p")).alias("s"))
        .select("k", F.col("s.p").alias("p"), F.col("s.v").alias("v"), F.col("s.seq").alias("seq"))
        .collect()
    }
    got = {
        r["k"]: (r["p"], r["v"], r["seq"])
        for r in spark.read.parquet(lake).collect()
    }
    assert got == expected
    assert got[1000] == ("p1", 7.0, 3)
    assert got[0][2] == 2 and got[1][2] == 3 and got[2][2] == 0


def test_stream_score_stored_model_equals_batch(spark, sf_small, tmp_path):
    """availableNow foreachBatch scoring with the committed model ==
    the batch stored-serving scores, row for row (same code path)."""
    import uuid as _uuid

    from polars_sim_spark.operators.classifier import (
        materialize_quality_probe,
        score_with_stored_model,
    )
    from polars_sim_spark.streaming.stream_ops import stream_score_stored_model

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(200)
    model = str(tmp_path / "model")
    labeled = docs.withColumn("y", (F.col("doc_id") % 2 == 0).cast("int"))
    materialize_quality_probe(labeled, "doc_id", "text", "y", model, vocab_size=32)

    src = str(tmp_path / "src")
    docs.select("doc_id", "text").write.parquet(src)
    sink = str(tmp_path / "scored")
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    qn = f"score_{_uuid.uuid4().hex[:8]}"
    (
        stream.writeStream.foreachBatch(
            stream_score_stored_model(model, sink, id_col="doc_id", text_col="text")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .queryName(qn)
        .start()
        .awaitTermination(120)
    )
    got = {
        (r["doc_id"], r["score"]) for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r["doc_id"], r["score"])
        for r in score_with_stored_model(spark, docs, "doc_id", "text", model).collect()
    }
    assert got == want


def test_stream_drift_tv_equals_batch(spark, sf_small, events_stream_dir):
    """availableNow windowed drift vs a static reference == the batch
    recomputation per finalized window: same masses, same TV cells,
    including explicit zero rows for buckets absent from a window."""
    import uuid as _uuid

    from polars_sim_spark.streaming.stream_ops import stream_drift_tv

    batch = load_table(spark, sf_small, "events")
    types = [r["event_type"] for r in batch.select("event_type").distinct().collect()]
    # reference masses: the full table's distribution (exact micro ints)
    n_all = batch.count()
    ref = (
        batch.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("event_type", F.expr(f"c * 1000000 div {n_all}").alias("q_micro"))
    )
    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    name = f"drift_{_uuid.uuid4().hex[:8]}"
    _run_to_memory(
        stream_drift_tv(
            stream,
            ref,
            bucket_col="event_type",
            ts_col="ts",
            buckets=sorted(types),
            window="1 day",
            delay="2 hours",
        ),
        name,
        "append",
    )
    got = {
        (r["window_start"], r["event_type"]): (r["cnt"], r["p_micro"], r["q_micro"], r["tv_micro"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    # batch recomputation (all windows finalized under availableNow
    # except possibly the last — compare on the windows the stream emitted)
    day = F.date_trunc("day", "ts")
    per = batch.groupBy(day.alias("ws"), "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    totals = batch.groupBy(day.alias("ws")).agg(F.count(F.lit(1)).alias("tot"))
    refm = {r["event_type"]: r["q_micro"] for r in ref.collect()}
    want_cells = {}
    for r in per.join(totals, "ws").collect():
        p = r["cnt"] * 1000000 // r["tot"]
        q = refm[r["event_type"]]
        want_cells[(r["ws"], r["event_type"])] = (r["cnt"], p, q, abs(p - q))
    emitted_windows = {w for (w, _) in got}
    assert emitted_windows  # watermark finalized at least one window
    for (w, b), cell in got.items():
        if (w, b) in want_cells:
            assert cell == want_cells[(w, b)], (w, b)
        else:
            # zero row for a bucket absent from that window
            assert cell[0] == 0 and cell[1] == 0 and cell[3] == cell[2]
    # every batch cell for an emitted window appears in the stream output
    for (w, b), cell in want_cells.items():
        if w in emitted_windows:
            assert got[(w, b)] == cell


def test_stream_append_packed_sequences(spark, tmp_path):
    """Streaming packing ingestion: a base pack + two streamed batches
    must tile the combined token stream exactly (sequences continue
    across batch boundaries), and replaying a committed batch id is a
    no-op (the _stream_meta marker)."""
    from polars_sim_spark.operators.curation import materialize_packing
    from polars_sim_spark.streaming.stream_ops import stream_append_packed

    path = str(tmp_path / "pack")
    base = spark.range(20).select(
        F.col("id").alias("doc_id"), (F.col("id") % 13 + 1).alias("n_tok")
    )
    materialize_packing(base, path, id_col="doc_id", token_col="n_tok", seq_len=32, num_parts=4)

    # two micro-batches as separate parquet FILES (file stream source)
    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"doc_id": range(20, 30), "n_tok": [(i % 9) + 1 for i in range(20, 30)]}).to_parquet(src / "b0.parquet")
    pd.DataFrame({"doc_id": range(30, 40), "n_tok": [(i % 7) + 1 for i in range(30, 40)]}).to_parquet(src / "b1.parquet")
    stream = spark.readStream.schema("doc_id long, n_tok long").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    fn = stream_append_packed(path, id_col="doc_id", token_col="n_tok")
    (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    spans = spark.read.parquet(f"{path}/_spans").collect()
    total = (sum((i % 13) + 1 for i in range(20))
             + sum((i % 9) + 1 for i in range(20, 30))
             + sum((i % 7) + 1 for i in range(30, 40)))
    by_seq: dict[int, int] = {}
    for r in spans:
        by_seq[r["seq_id"]] = by_seq.get(r["seq_id"], 0) + (r["seq_hi"] - r["seq_lo"])
    seq_ids = sorted(by_seq)
    assert seq_ids == list(range(len(seq_ids)))
    assert all(by_seq[s] == 32 for s in seq_ids[:-1])
    assert sum(by_seq.values()) == total
    assert spark.read.parquet(f"{path}/_meta").collect()[0]["total_tokens"] == total
    # replaying an already-committed batch id is a no-op
    replay = spark.createDataFrame([(99, 5)], "doc_id long, n_tok long")
    fn(replay, 0)
    assert spark.read.parquet(f"{path}/_meta").collect()[0]["total_tokens"] == total


def test_stream_sim_match_equals_batch(spark, sf_small, tmp_path):
    """availableNow fuzzy-name matching against the stored posting table
    == the batch serving join (same code path), under BOTH weightings."""
    import shutil as _shutil
    import uuid as _uuid
    from urllib.parse import urlparse

    from polars_sim_spark.operators.join_sim import (
        materialize_token_postings,
        similarity_mapping_against_postings,
    )
    from polars_sim_spark.streaming.stream_ops import stream_sim_match

    part = load_table(spark, sf_small, "part")
    right = part.where(F.col("p_partkey") % 2 == 0).select(
        F.col("p_partkey").alias("r_id"), F.col("p_name").alias("s")
    )
    incoming = part.where(F.col("p_partkey") % 2 == 1).select(
        F.col("p_partkey").alias("in_id"), F.col("p_name").alias("s")
    )
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    import os as _os

    for weighting in ("binary", "tfidf"):
        tbl = f"t_stream_postings_{weighting}"
        for t in (tbl, f"{tbl}_weights", f"{tbl}_stats"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            _shutil.rmtree(_os.path.join(wh, t), ignore_errors=True)
        materialize_token_postings(
            right, tbl, on="s", id_col="r_id", num_buckets=8, weighting=weighting
        )
        src = str(tmp_path / f"src_{weighting}")
        incoming.write.parquet(src)
        sink = str(tmp_path / f"matched_{weighting}")
        (
            spark.readStream.schema("in_id long, s string")
            .parquet(src)
            .writeStream.foreachBatch(
                stream_sim_match(
                    tbl, sink, name_col="s", id_col="in_id", top_n=2,
                    min_sim=0.4, weighting=weighting,
                )
            )
            .option("checkpointLocation", str(tmp_path / f"ckpt_{weighting}"))
            .trigger(availableNow=True)
            .queryName(f"simmatch_{_uuid.uuid4().hex[:8]}")
            .start()
            .awaitTermination(120)
        )
        kw = {}
        if weighting == "tfidf":
            kw = dict(
                weighting="tfidf",
                idf_weights=spark.table(f"{tbl}_weights"),
                default_w2=int(
                    spark.table(f"{tbl}_stats").collect()[0]["default_w2"]
                ),
            )
        want = {
            (r["in_id"], r["r_id"], round(r["sim"], 9))
            for r in similarity_mapping_against_postings(
                incoming, spark.table(tbl), left_on="s", right_id="r_id",
                top_n=2, left_id="in_id", **kw,
            ).where(F.col("sim") >= 0.4).collect()
        }
        got = {
            (r["in_id"], r["r_id"], round(r["sim"], 9))
            for r in spark.read.parquet(sink).collect()
        }
        assert got == want and len(got) > 0, weighting


def test_stream_entity_resolve_equals_sequential_batch_folds(spark, sf_small, tmp_path):
    """Streaming append-mode entity resolution: N availableNow
    micro-batches folding into the stored label table must equal the
    SAME sequential folds run in batch mode (one code path), and the
    final store must label every historical + streamed id."""
    import os
    import shutil
    import time

    from polars_sim_spark.operators.dedup import connected_components
    from polars_sim_spark.operators.similarity import (
        knn_graph_ivf_prebuilt,
        materialize_ivf_index,
    )
    from polars_sim_spark.streaming.stream_ops import stream_entity_resolve

    emb = load_table(spark, sf_small, "embeddings")
    idx = str(tmp_path / "ivf")
    materialize_ivf_index(emb, idx, num_centroids=8, kmeans_iters=1)

    hist = emb.where(F.col("vec_id") % 5 != 0)
    seed = connected_components(
        hist.select(F.col("vec_id").alias("id")),
        knn_graph_ivf_prebuilt(
            spark, idx, k=5, nprobe=3, mutual=True, min_cosine=0.3,
            allowed=hist.select("vec_id"),
        ),
        id_col="id", src_col="l_id", dst_col="r_id",
    ).withColumnRenamed("cluster_id", "entity_id")

    lab_stream = str(tmp_path / "labels_stream")
    lab_batch = str(tmp_path / "labels_batch")
    seed.write.parquet(lab_stream)
    shutil.copytree(lab_stream, lab_batch)

    # two micro-batch FILES with strictly increasing mtimes so the file
    # stream source's modtime order (oldest first) is deterministic
    b0 = emb.where(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
    b1 = emb.where(F.col("vec_id") % 10 == 5).select("vec_id", "embedding")
    src = tmp_path / "src"
    src.mkdir()
    b0.toPandas().to_parquet(src / "b0.parquet")
    time.sleep(1.1)
    b1.toPandas().to_parquet(src / "b1.parquet")
    now = time.time()
    os.utime(src / "b0.parquet", (now - 60, now - 60))
    os.utime(src / "b1.parquet", (now, now))

    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    (
        stream.writeStream.foreachBatch(stream_entity_resolve(idx, lab_stream))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(180)
    )

    fold = stream_entity_resolve(idx, lab_batch)
    fold(b0, 0)
    fold(b1, 1)

    got = {r["id"]: r["entity_id"] for r in spark.read.parquet(lab_stream).collect()}
    want = {r["id"]: r["entity_id"] for r in spark.read.parquet(lab_batch).collect()}
    assert got == want
    n = emb.count()
    assert len(got) == n  # every id labeled exactly once
    merged = sum(1 for i, e in got.items() if e != i)
    assert merged > 0  # the folds actually merged something


def test_stream_expectations_equals_batch(spark, sf_small, events_stream_dir):
    """availableNow per-window violation counts == batch recomputation
    per finalized window, rule for rule."""
    import uuid as _uuid

    from polars_sim_spark.streaming.stream_ops import stream_expectations

    batch = load_table(spark, sf_small, "events")
    rules = {
        "value_non_negative": F.col("value").isNull() | (F.col("value") < 0),
        "type_accepted": F.col("event_type").isNull()
        | ~F.col("event_type").isin("click", "view", "purchase", "signup", "error"),
    }
    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)
    name = f"exp_{_uuid.uuid4().hex[:8]}"
    _run_to_memory(
        stream_expectations(stream, rules, window="1 day", delay="2 hours"),
        name,
        "append",
    )
    got = {
        (r["window_start"], r["rule"]): (r["violations"], r["n_rows"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert got
    day = F.date_trunc("day", "ts")
    want_rows = (
        batch.groupBy(day.alias("ws"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(c.cast("long")).alias(f"v_{n}") for n, c in rules.items()],
        )
        .collect()
    )
    emitted = {w for (w, _) in got}
    for r in want_rows:
        if r["ws"] in emitted:
            for n in rules:
                assert got[(r["ws"], n)] == (r[f"v_{n}"], r["n"])


def test_stream_flag_anomalies_equals_batch(spark, sf_small, tmp_path):
    """availableNow foreachBatch flagging against the stored median/MAD
    table == the batch flags on the same events (same code path)."""
    import uuid as _uuid

    from polars_sim_spark.operators.profile import (
        flag_robust_anomalies,
        robust_group_stats,
    )
    from polars_sim_spark.streaming.stream_ops import stream_flag_anomalies

    ev = load_table(spark, sf_small, "events").select(
        "event_id", "event_type", "value"
    )
    stats_path = str(tmp_path / "stats")
    robust_group_stats(
        ev, group_col="event_type", value_col="value", id_col="event_id"
    ).write.parquet(stats_path)

    src = str(tmp_path / "src")
    ev.write.parquet(src)
    sink = str(tmp_path / "flagged")
    stream = spark.readStream.schema("event_id long, event_type string, value double").parquet(src)
    qn = f"anom_{_uuid.uuid4().hex[:8]}"
    (
        stream.writeStream.foreachBatch(
            stream_flag_anomalies(stats_path, sink)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .queryName(qn)
        .start()
        .awaitTermination(120)
    )
    got = {
        (r.event_id, r.dev_micro, r.mad_micro)
        for r in spark.read.parquet(sink).collect()
    }
    stats = spark.read.parquet(stats_path)
    want = {
        (r.event_id, r.dev_micro, r.mad_micro)
        for r in flag_robust_anomalies(
            ev, stats, group_col="event_type", value_col="value"
        ).collect()
    }
    assert got == want and len(got) > 0


def test_stream_edit_match_equals_batch(spark, sf_small, tmp_path):
    """availableNow fuzzy-identity matching against the stored name table
    == the batch two-sided edit_join (same code path)."""
    import uuid as _uuid

    from polars_sim_spark.operators.edit_join import edit_join
    from polars_sim_spark.streaming.stream_ops import stream_edit_match

    cust = load_table(spark, sf_small, "customer").select("c_custkey", "c_name")
    hist = cust.where(F.col("c_custkey") % 2 == 0)
    new = cust.where(F.col("c_custkey") % 2 == 1)
    hist_path = str(tmp_path / "hist")
    hist.write.parquet(hist_path)
    src = str(tmp_path / "src")
    new.write.parquet(src)
    sink = str(tmp_path / "matched")
    stream = spark.readStream.schema("c_custkey long, c_name string").parquet(src)
    qn = f"editmatch_{_uuid.uuid4().hex[:8]}"
    (
        stream.writeStream.foreachBatch(
            stream_edit_match(hist_path, sink, name_col="c_name", id_col="c_custkey")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .queryName(qn)
        .start()
        .awaitTermination(120)
    )
    got = {
        (r.l_id, r.r_id, r.edit_dist)
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r.l_id, r.r_id, r.edit_dist)
        for r in edit_join(
            new, hist, "c_name", "c_name",
            left_id="c_custkey", right_id="c_custkey", max_dist=1,
        ).collect()
    }
    assert got == want and len(got) > 0


def test_stream_phash_match_equals_batch(spark, sf_small, tmp_path):
    """availableNow image near-dup gating against the stored phash table
    == the batch two-sided phash match (same code path)."""
    import uuid as _uuid

    from polars_sim_spark.operators.dedup import phash_match_pairs
    from polars_sim_spark.operators.multimodal import attach_payload, ppm_phash
    from polars_sim_spark.streaming.stream_ops import stream_phash_match

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    payloads = attach_payload(docs, "ppm").select("doc_id", "payload")
    # history = the same images under shifted ids, so every streamed
    # image has a distance-0 twin and the match set is provably nonempty
    hist_imgs = payloads.select(
        (F.col("doc_id") + 100000).alias("doc_id"), "payload"
    )
    new_imgs = payloads

    idx_path = str(tmp_path / "phash_idx")
    ppm_phash(hist_imgs, n_bands=8).write.parquet(idx_path)
    src = str(tmp_path / "src")
    new_imgs.write.parquet(src)
    sink = str(tmp_path / "matched")
    stream = spark.readStream.schema("doc_id long, payload binary").parquet(src)
    qn = f"phashmatch_{_uuid.uuid4().hex[:8]}"
    (
        stream.writeStream.foreachBatch(
            stream_phash_match(idx_path, sink, n_bands=8, max_dist=7)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .queryName(qn)
        .start()
        .awaitTermination(120)
    )
    got = {
        (r.l_id, r.r_id, r.hamming) for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r.l_id, r.r_id, r.hamming)
        for r in phash_match_pairs(
            ppm_phash(new_imgs, n_bands=8),
            spark.read.parquet(idx_path),
            id_col="doc_id",
            band_cols=tuple(f"band{j}" for j in range(8)),
            max_dist=7,
        ).collect()
    }
    assert got == want and len(got) > 0


def test_stream_contamination_fraction_equals_batch(spark, sf_small, tmp_path):
    """availableNow measured decontamination against the stored eval
    shingles == the batch contamination_fraction report."""
    import uuid as _uuid

    from polars_sim_spark.functions.text import word_shingles
    from polars_sim_spark.operators.curation import contamination_fraction
    from polars_sim_spark.streaming.stream_ops import stream_contamination_fraction

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    ev_docs = docs.where(F.col("doc_id") % 5 == 0)
    ev_path = str(tmp_path / "eval_sh")
    (
        ev_docs.select(F.explode(word_shingles(F.col("text"), 8)).alias("sh"))
        .distinct()
        .write.parquet(ev_path)
    )
    src = str(tmp_path / "src")
    docs.write.parquet(src)
    sink = str(tmp_path / "report")
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    qn = f"contamfrac_{_uuid.uuid4().hex[:8]}"
    (
        stream.writeStream.foreachBatch(
            stream_contamination_fraction(ev_path, sink, n=8)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .queryName(qn)
        .start()
        .awaitTermination(120)
    )
    got = {
        (r.doc_id, r.n_sh, r.n_hit, r.frac_ppm)
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r.doc_id, r.n_sh, r.n_hit, r.frac_ppm)
        for r in contamination_fraction(docs, ev_docs, n=8).collect()
    }
    assert got == want and any(t[3] > 0 for t in got)


def test_stream_entity_resolve_replay_idempotent(spark, sf_small, tmp_path):
    """ADVICE r10 (medium): foreachBatch is at-least-once — a replayed
    micro-batch (failure between store overwrite and checkpoint commit)
    must leave the label store IDENTICAL, not fold already-labeled ids a
    second time (which would emit duplicate (id, entity_id) rows). Also
    covers the partial-overlap case: a batch mixing replayed and new ids
    folds only the new ones."""
    from polars_sim_spark.operators.dedup import connected_components
    from polars_sim_spark.operators.similarity import (
        knn_graph_ivf_prebuilt,
        materialize_ivf_index,
    )
    from polars_sim_spark.streaming.stream_ops import stream_entity_resolve

    emb = load_table(spark, sf_small, "embeddings")
    idx = str(tmp_path / "ivf")
    materialize_ivf_index(emb, idx, num_centroids=8, kmeans_iters=1)

    hist = emb.where(F.col("vec_id") % 5 != 0)
    seed = connected_components(
        hist.select(F.col("vec_id").alias("id")),
        knn_graph_ivf_prebuilt(
            spark, idx, k=5, nprobe=3, mutual=True, min_cosine=0.3,
            allowed=hist.select("vec_id"),
        ),
        id_col="id", src_col="l_id", dst_col="r_id",
    ).withColumnRenamed("cluster_id", "entity_id")
    lab = str(tmp_path / "labels")
    seed.write.parquet(lab)

    fold = stream_entity_resolve(idx, lab)
    b0 = emb.where(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
    fold(b0, 0)
    after_first = sorted(
        (r["id"], r["entity_id"]) for r in spark.read.parquet(lab).collect()
    )
    ids = [t[0] for t in after_first]
    assert len(ids) == len(set(ids))  # no duplicate ids

    # full replay of the same batch: store must be row-identical
    fold(b0, 0)
    after_replay = sorted(
        (r["id"], r["entity_id"]) for r in spark.read.parquet(lab).collect()
    )
    assert after_replay == after_first

    # partial overlap: replayed ids + genuinely new ids in one batch
    b_mix = emb.where(
        (F.col("vec_id") % 10 == 0) | (F.col("vec_id") % 10 == 5)
    ).select("vec_id", "embedding")
    fold(b_mix, 1)
    final = sorted(
        (r["id"], r["entity_id"]) for r in spark.read.parquet(lab).collect()
    )
    fids = [t[0] for t in final]
    assert len(fids) == len(set(fids))
    assert len(fids) == emb.count()  # every id labeled exactly once


def test_stream_fold_from_committed_label_store_equals_contract_row(spark, tmp_path):
    """VERDICT r10 #3: the streaming fold twin reads the SAME committed
    entity_labels store the contract row reads — folding the 20% batch
    through stream_entity_resolve seeded from that store must produce
    exactly the contract row's output."""
    import shutil

    from polars_sim_spark import queries as q
    from polars_sim_spark.streaming.stream_ops import stream_entity_resolve

    sf_dir = "/root/testdata/sf0.01"
    committed = q.ensure_entity_labels(spark, sf_dir)
    idx = q.ensure_ivf_kmeans_index(spark, sf_dir)
    lab = str(tmp_path / "labels")
    shutil.copytree(committed, lab)  # fold overwrites; never touch the committed store

    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.where(F.col("vec_id") % 5 == 0).select("vec_id", "embedding")
    fold = stream_entity_resolve(idx, lab)
    fold(batch, 0)
    got = sorted(
        (r["id"], r["entity_id"]) for r in spark.read.parquet(lab).collect()
    )
    want = sorted(
        (r["vec_id"], r["entity_id"])
        for r in q.entity_resolve_incremental(spark, sf_dir).collect()
    )
    assert got == want


def test_stream_phash_match_audio_equals_batch(spark, sf_small, tmp_path):
    """Round 11: the generalized gate at modality='audio' — availableNow
    WAV near-dup gating against a stored wav_phash table == the batch
    two-sided match (same code path), and an unknown modality raises."""
    import uuid as _uuid

    import pytest

    from polars_sim_spark.operators.dedup import phash_match_pairs
    from polars_sim_spark.operators.multimodal import attach_payload, wav_phash
    from polars_sim_spark.streaming.stream_ops import stream_phash_match

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    payloads = attach_payload(docs, "media").select("doc_id", "payload")
    hist = payloads.select((F.col("doc_id") + 100000).alias("doc_id"), "payload")

    idx_path = str(tmp_path / "wav_idx")
    wav_phash(hist, n_bands=8).write.parquet(idx_path)
    src = str(tmp_path / "src")
    payloads.write.parquet(src)
    sink = str(tmp_path / "matched")
    stream = spark.readStream.schema("doc_id long, payload binary").parquet(src)
    qn = f"wavmatch_{_uuid.uuid4().hex[:8]}"
    (
        stream.writeStream.foreachBatch(
            stream_phash_match(
                idx_path, sink, n_bands=8, max_dist=7, modality="audio"
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .queryName(qn)
        .start()
        .awaitTermination(120)
    )
    got = {
        (r.l_id, r.r_id, r.hamming) for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r.l_id, r.r_id, r.hamming)
        for r in phash_match_pairs(
            wav_phash(payloads, n_bands=8),
            spark.read.parquet(idx_path),
            id_col="doc_id",
            band_cols=tuple(f"band{j}" for j in range(8)),
            max_dist=7,
        ).collect()
    }
    assert got == want and len(got) > 0  # every clip has a distance-0 twin

    with pytest.raises(ValueError, match="modality"):
        stream_phash_match(idx_path, sink, modality="text")


def test_stream_phash_match_video_pixels_equals_batch(spark, sf_small, tmp_path):
    """Round 14: the ingest gate at modality='video_pixels' —
    availableNow MJPEG-AVI arrivals gated against a STORED raw-gray-MP4
    pixel-hash index match their cross-container twins at Hamming 0,
    and equal the batch two-sided match (same code path)."""
    import uuid as _uuid

    from polars_sim_spark.operators.dedup import phash_match_pairs
    from polars_sim_spark.operators.multimodal import (
        attach_payload,
        video_pixel_vhash,
    )
    from polars_sim_spark.streaming.stream_ops import stream_phash_match

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    twins = attach_payload(docs, "video_pixel_twin")
    arrivals = twins.where(F.col("doc_id") < 1_000_000)  # MJPEG AVI side
    hist = twins.where(F.col("doc_id") >= 1_000_000)  # raw-gray MP4 side

    idx_path = str(tmp_path / "vpix_idx")
    video_pixel_vhash(hist, n_bands=8).write.parquet(idx_path)
    src = str(tmp_path / "src")
    arrivals.write.parquet(src)
    sink = str(tmp_path / "matched")
    stream = spark.readStream.schema("doc_id long, payload binary").parquet(src)
    qn = f"vpixmatch_{_uuid.uuid4().hex[:8]}"
    (
        stream.writeStream.foreachBatch(
            stream_phash_match(
                idx_path, sink, n_bands=8, max_dist=0, modality="video_pixels"
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .queryName(qn)
        .start()
        .awaitTermination(120)
    )
    got = {
        (r.l_id, r.r_id, r.hamming) for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r.l_id, r.r_id, r.hamming)
        for r in phash_match_pairs(
            video_pixel_vhash(arrivals, n_bands=8),
            spark.read.parquet(idx_path),
            id_col="doc_id",
            band_cols=tuple(f"band{j}" for j in range(8)),
            max_dist=0,
        ).collect()
    }
    assert got == want and len(got) > 0
    # every arrival matches its own +10^6 twin at Hamming 0
    n_arrivals = arrivals.count()
    assert {(l, l + 1_000_000, 0) for (l, _r, _h) in got} <= got
    assert len({l for (l, r, h) in got if r == l + 1_000_000 and h == 0}) == n_arrivals
