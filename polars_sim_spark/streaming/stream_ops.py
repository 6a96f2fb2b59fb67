"""Structured Streaming operators.

The reference is fully batch (SURVEY.md §2.4: no streaming surface);
these extend the engine to the streaming half of a training-data
pipeline: watermarked windowed aggregation over an event stream, and a
stream-static similarity enrichment that reuses the batch join_sim
token postings as the static side.

All operators take/return streaming DataFrames — sources and sinks are
the caller's choice (tests use file sources with availableNow + memory
sinks; production would use Kafka/Delta). State stores bound memory via
watermarks; nothing here collects to the driver.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from polars_sim_spark.functions.text import trigram_tokens, word_shingles


def windowed_event_counts(
    events: DataFrame,
    *,
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Watermarked tumbling-window counts+sums per key — the streaming
    twin of the batch ``events_hourly`` query (same grouping semantics;
    late rows beyond the watermark are dropped instead of restated).
    ``value_col`` names the summed measure, matching the other schema
    knobs (ts_col/key_col) so any source schema fits."""
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def stream_hll_distinct(
    events: DataFrame,
    *,
    window_duration: str = "1 day",
    watermark_delay: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "user_id",
) -> DataFrame:
    """Watermarked windowed HyperLogLog distinct estimate per key — the
    streaming twin of the batch ``hll_distinct`` sketch
    (operators/sketches.py), with IDENTICAL register math (md5 buckets,
    ``length(bin())`` rank, exact-integer harmonic sum), so finalized
    windows equal the batch estimate to the last rounded digit
    (equivalence-tested under availableNow).

    Streaming shape: chained stateful aggregations are not allowed in
    append mode, so the per-register max CANNOT be a first groupBy
    feeding a second. Instead ONE stateful aggregation carries all m
    registers as m conditional-max columns — the state per (window,
    key) is exactly the m-register sketch, the natural max-merge HLL
    state (registers merge by max across batches for free) — and the
    estimate is a row-local array expression over the finalized row.
    State is O(open windows · keys · m); the watermark reaps closed
    windows.
    """
    from polars_sim_spark.operators.dedup import md5_hash64
    from polars_sim_spark.operators.sketches import HLL_ALPHA, HLL_M, HLL_SCALE

    h = md5_hash64(F.col(value_col).cast("string"))
    bucket = F.pmod(h, F.lit(HLL_M))
    rem = F.floor(h / F.lit(HLL_M))
    rho = F.when(rem == 0, F.lit(25)).otherwise(F.lit(25) - F.length(F.bin(rem)))
    src = events.withWatermark(ts_col, watermark_delay).select(
        F.col(ts_col), F.col(key_col), bucket.alias("__b"), rho.alias("__rho")
    )
    regs = src.groupBy(
        F.window(F.col(ts_col), window_duration).alias("win"), F.col(key_col)
    ).agg(
        *[
            F.max(F.when(F.col("__b") == i, F.col("__rho"))).alias(f"__r{i}")
            for i in range(HLL_M)
        ]
    )
    arr = F.array(*[F.col(f"__r{i}") for i in range(HLL_M)])
    seen = F.filter(arr, lambda x: x.isNotNull())
    present = F.size(seen)
    int_sum = F.aggregate(
        seen,
        F.lit(0).cast("long"),
        # 2^(25-M) is a dyadic rational ≤ 2^25: pow-double then cast is
        # exact, same expression as the batch sketch's register sum
        lambda acc, x: acc + F.pow(F.lit(2.0), F.lit(25) - x).cast("long"),
    ) + (F.lit(HLL_M) - present).cast("long") * F.lit(1 << 25)
    e_raw = F.lit(HLL_ALPHA) * F.lit(float(HLL_SCALE)) / int_sum
    v_zero = F.lit(HLL_M) - present
    small = (e_raw <= F.lit(2.5 * HLL_M)) & (v_zero > 0)
    est = F.when(
        small, F.lit(HLL_M) * F.log(F.lit(float(HLL_M)) / v_zero)
    ).otherwise(e_raw)
    return regs.select(
        F.col("win.start").alias("window_start"),
        F.col(key_col),
        F.round(est, 4).alias("hll_distinct"),
    )


def stream_cms_counters(
    events: DataFrame,
    *,
    window_duration: str = "1 day",
    watermark_delay: str = "2 hours",
    ts_col: str = "ts",
    value_col: str = "user_id",
) -> DataFrame:
    """Watermarked windowed count-min counters — the streaming twin of
    ``cms_counters`` (operators/sketches.py) with identical seeded-md5
    column hashing, so finalized windows carry the exact batch counter
    values (availableNow equivalence test). One stateful aggregation
    keyed (window, seed, column): state is the fixed O(d·w) sketch per
    open window, counts merge additively across micro-batches for free,
    and the watermark reaps closed windows. Point-query the emitted
    counters with the batch ``cms_estimate`` (min over the d rows) —
    sketches, not raw streams, are what a serving layer stores."""
    from polars_sim_spark.operators.dedup import md5_hash64
    from polars_sim_spark.operators.sketches import CMS_D, CMS_W

    seeds = F.explode(F.array(*[F.lit(s) for s in range(CMS_D)])).alias("seed")
    rows = events.withWatermark(ts_col, watermark_delay).select(
        F.col(ts_col), F.col(value_col).cast("string").alias("__val")
    ).select("*", seeds)
    col = F.pmod(
        md5_hash64(F.concat_ws("\x1f", F.col("seed").cast("string"), F.col("__val"))),
        F.lit(CMS_W),
    )
    return (
        rows.withColumn("__c", col)
        .groupBy(
            F.window(F.col(ts_col), window_duration).alias("win"),
            F.col("seed"),
            F.col("__c"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("win.start").alias("window_start"), "seed", "__c", "cnt")
    )


def streaming_dedup_first_seen(
    stream: DataFrame,
    *,
    key_col: str,
    order_col: str,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming exact dedup: emit each ``key_col`` value's first row
    (smallest ``order_col``) the FIRST time the key is ever seen; drop
    every later occurrence, across micro-batches and restarts.

    The classic stateful operator of a streaming training-data ingest
    (content-fingerprint dedup at the door). Built on
    ``applyInPandasWithState``: one keyed state entry per fingerprint — a
    single long — persisted in the state store, so memory is O(distinct
    keys) per partition, spill-backed by RocksDB when configured, and
    recovery is exactly-once from the checkpoint.

    Scale notes: state is hash-partitioned by key (``groupBy``), so 1000
    executors hold disjoint fingerprint shards; there is no driver-side
    set. The default keeps state forever — dedup correctness usually
    wants unbounded memory of the past. For unbounded key spaces pass
    ``state_ttl_ms``: each key's entry expires after that much
    processing-time quiet (the TTL is REFRESHED whenever the key
    re-arrives, so a steadily-repeating key is suppressed indefinitely),
    degrading the guarantee to a sliding horizon — "emit a key at most
    once per TTL-quiet period" — in exchange for bounded state. Within
    one horizon the output is identical to the untimed operator
    (pinned in tests/test_streaming.py).

    Operational caveat (measured, tools/bench_streaming.py): under
    ``Trigger.AvailableNow`` a query holding ProcessingTime timers does
    not terminate when the data is consumed — every expiry wave
    schedules another no-data micro-batch to fire timeout callbacks,
    so a large state drains over hundreds of post-data batches. TTL is
    meant for continuously-triggered ingest (where timers piggyback on
    data batches); for burst/backfill runs either leave TTL off or
    ``stop()`` the query once the input is through."""
    out_schema = stream.schema
    state_schema = StructType([StructField("seen", LongType())])

    def first_seen(key, pdfs, state) -> Iterator:
        if state.hasTimedOut:
            # TTL expiry callback (keys with NO input this batch): drop
            # the entry; the key becomes novel again (sliding horizon).
            state.remove()
            return
        now_ms = state.getCurrentProcessingTimeMs()
        if state.exists:
            if state_ttl_ms is None:
                return  # key already emitted in an earlier micro-batch
            # The engine only fires the timeout callback for keys with
            # no input in the batch — a key whose deadline passed but
            # which ARRIVES this batch reaches here with stale state.
            # Check the stored last-seen stamp so expiry is honored on
            # the arrival path too (strict sliding horizon).
            (last_seen,) = state.get
            if now_ms - last_seen <= state_ttl_ms:
                state.update((now_ms,))  # refresh on re-arrival
                state.setTimeoutDuration(state_ttl_ms)
                return
            # stale: fall through — the key is novel again
        best = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            cand = pdf.sort_values(order_col).head(1)
            if best is None or cand[order_col].iloc[0] < best[order_col].iloc[0]:
                best = cand
        if best is not None:
            state.update((now_ms if state_ttl_ms is not None else 1,))
            if state_ttl_ms is not None:
                state.setTimeoutDuration(state_ttl_ms)
            yield best

    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy(key_col).applyInPandasWithState(
        first_seen,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def streaming_dedup_first_seen_tws(
    stream: DataFrame,
    *,
    key_col: str,
    order_col: str,
) -> DataFrame:
    """``streaming_dedup_first_seen`` on the transformWithState API
    (Spark 4.x ``transformWithStateInPandas``) — same semantics: emit each
    key's first row (smallest ``order_col``) the first time the key is
    ever seen; drop every later occurrence across micro-batches and
    restarts.

    Why both exist: ``applyInPandasWithState`` is the widely-deployed
    API; transformWithState is its successor (typed state variables,
    state TTL, timers, RocksDB-only provider) and the recommended target
    for new pipelines. Keeping the two implementations equivalence-tested
    against each other pins the semantics, not an API.

    Requires the RocksDB state-store provider
    (``spark.sql.streaming.stateStore.providerClass``); state is one
    long per distinct key, hash-partitioned by ``key_col`` exactly like
    the applyInPandasWithState version — no driver-side set.

    Environment note: transformWithState's state-server protocol needs
    the ``protobuf`` package at runtime (the worker imports
    ``google.protobuf``); environments without it get a clear ImportError
    here instead of an opaque mid-query worker crash. The
    ``applyInPandasWithState`` twin has no such dependency.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "(its state server speaks protobuf); install protobuf or use "
            "streaming_dedup_first_seen (applyInPandasWithState), which is "
            "dependency-free and semantically identical."
        ) from e
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = stream.schema

    class _FirstSeen(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getValueState("seen", "seen long")

        def handleInputRows(self, key, rows, timer_values):
            if self._seen.exists():
                return
            best = None
            for pdf in rows:
                if len(pdf) == 0:
                    continue
                cand = pdf.sort_values(order_col).head(1)
                if best is None or cand[order_col].iloc[0] < best[order_col].iloc[0]:
                    best = cand
            if best is not None:
                self._seen.update((1,))
                yield best

        def close(self) -> None:
            pass

    return stream.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=_FirstSeen(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="none",
    )


def stream_static_token_enrich(
    stream: DataFrame,
    static_right: DataFrame,
    *,
    stream_text_col: str,
    right_text_col: str,
    right_id_col: str,
    min_overlap: int = 1,
) -> DataFrame:
    """Stream-static similarity enrichment: each streaming row joins (by
    trigram token) against the static corpus, keeping candidates with
    ≥ ``min_overlap`` shared trigrams and their overlap count.

    This is the streaming face of join_sim's decomposition: the static
    side's token postings behave like a broadcast index (Spark plans a
    stream-static join per micro-batch; no state store needed for the
    join itself). For the per-row BEST candidate by exact cosine, use
    ``stream_static_best_match`` (below), which packages the top-1
    ranking inside Structured Streaming's single-aggregation limit.
    """
    s_tok = stream.select(
        "*", F.explode(trigram_tokens(F.col(stream_text_col))).alias("__token")
    )
    r_tok = static_right.select(
        F.col(right_id_col).alias("__rid"),
        F.explode(trigram_tokens(F.col(right_text_col))).alias("__token"),
    )
    joined = s_tok.join(r_tok, "__token")
    group_cols = [c for c in stream.columns]
    return (
        joined.groupBy(*group_cols, "__rid")
        .agg(F.count(F.lit(1)).alias("overlap"))
        .where(F.col("overlap") >= min_overlap)
        .withColumnRenamed("__rid", right_id_col)
    )


def stream_static_best_match(
    stream: DataFrame,
    static_right: DataFrame,
    *,
    stream_text_col: str,
    right_text_col: str,
    right_id_col: str,
    normalization: str = "l2",
    top_n: int = 1,
) -> DataFrame:
    """Per-row top-``top_n`` static candidates by cosine for each
    streaming row — the streaming face of the batch ``similarity_mapping``
    contract.

    Output: the stream's columns + ``right_id_col`` + ``sim``, one row
    per kept candidate; rows with no sharing candidate emit nothing
    (same contract as the batch ``similarity_mapping``). Semantics are
    pinned to ``similarity_mapping(top_n=n)`` — same trigram vocabulary,
    same l2/count normalization (SURVEY.md §1.4/§2 K11), same
    deterministic tiebreak (sim DESC, right id ASC) — by availableNow
    equivalence tests (tests/test_streaming.py, top-1 and top-3).

    How it stays a SINGLE streaming aggregation (Structured Streaming
    restricts chained stateful aggs): the usual count-shared-tokens
    aggregation per (row, candidate) is replaced by carrying both full
    token arrays through the token join and computing the exact cosine
    per joined row with ``array_intersect`` — duplicate (row, candidate)
    pairs (one per shared token) then carry identical sim and collapse
    harmlessly in the final aggregate: ``min_by`` for top-1;
    ``collect_set`` of (-sim, id) structs (set semantics absorb the
    duplicates), sorted ascending (= sim DESC, id ASC) and sliced to
    ``top_n``, for n > 1. State per stream row is bounded by its DISTINCT
    candidate set — the token join's fan-out never reaches the store. The
    static side's exploded postings are broadcast, so the token join
    shuffles nothing; the only shuffle/state is the per-stream-row top-n
    aggregation.

    Like any unwatermarked streaming aggregation this needs
    complete/update output mode; compose with a watermark + window
    grouping upstream for append-mode pipelines.
    """
    if normalization not in ("l2", "count"):
        raise ValueError(f"normalization must be 'l2' or 'count', got {normalization!r}")
    if top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")
    s = stream.withColumn(
        "__ltoks", trigram_tokens(F.col(stream_text_col))
    ).withColumn("__tok", F.explode("__ltoks"))
    r = (
        static_right.select(
            F.col(right_id_col).alias("__rid"),
            trigram_tokens(F.col(right_text_col)).alias("__rtoks"),
        )
        .where(F.size("__rtoks") > 0)
        .withColumn("__tok", F.explode("__rtoks"))
    )
    joined = s.join(F.broadcast(r), "__tok")
    overlap = F.size(F.array_intersect("__ltoks", "__rtoks")).cast("double")
    if normalization == "l2":
        sim = overlap / F.sqrt(F.size("__ltoks") * F.size("__rtoks"))
    else:
        sim = overlap
    group_cols = list(stream.columns)
    scored = joined.withColumn("__sim", sim)
    if top_n == 1:
        # min_by over (-sim, rid): max similarity, then SMALLEST right
        # id — the declarative plan's tiebreak, expressed without
        # negating a possibly-non-numeric id. O(1) state per stream row.
        return (
            scored.groupBy(*group_cols)
            .agg(
                F.min_by(
                    F.struct(F.col("__rid"), F.col("__sim")),
                    F.struct((-F.col("__sim")).alias("o1"), F.col("__rid").alias("o2")),
                ).alias("__best")
            )
            .select(
                *group_cols,
                F.col("__best.__rid").alias(right_id_col),
                F.col("__best.__sim").alias("sim"),
            )
        )
    # Top-n: collect the DISTINCT (-sim, rid) structs (collect_set
    # absorbs the token join's duplicate pairs — duplicates carry
    # identical sim, so set identity == candidate identity), sort
    # ascending (struct order: -sim ASC = sim DESC, then rid ASC) and
    # keep the first n. Negation round-trips exactly in IEEE 754, so the
    # emitted sim is bit-identical to the batch operator's.
    cands = F.sort_array(
        F.collect_set(F.struct((-F.col("__sim")).alias("ns"), F.col("__rid").alias("rid")))
    )
    return (
        scored.groupBy(*group_cols)
        .agg(F.slice(cands, 1, top_n).alias("__top"))
        .select(*group_cols, F.explode("__top").alias("__c"))
        .select(
            *group_cols,
            F.col("__c.rid").alias(right_id_col),
            (-F.col("__c.ns")).alias("sim"),
        )
    )


def sliding_event_counts(
    events: DataFrame,
    *,
    window_duration: str = "10 minutes",
    slide_duration: str = "5 minutes",
    watermark_delay: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Watermarked SLIDING-window counts+sums per key: every event lands
    in duration/slide overlapping windows (2 here).  Streaming twin of
    the batch ``events_sliding_10m`` contract query.  State per key is
    bounded by (watermark span / slide) live windows; append mode emits
    each window once when the watermark passes its end."""
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.window(F.col(ts_col), window_duration, slide_duration).alias("win"),
            F.col(key_col),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def session_event_counts(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark_delay: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Watermarked session windows (gap-merged) per key — the native
    Structured Streaming analog of curation.sessionize.  A session stays
    open in state while events keep arriving within ``gap``; the
    watermark closes and emits it.  Streaming twin of the batch
    ``events_session_windows`` contract query (same ``F.session_window``
    grouping; equality asserted in tests/test_streaming.py)."""
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def stream_incremental_near_dedup(
    stream: DataFrame,
    static_hist: DataFrame,
    *,
    stream_text_col: str,
    hist_text_col: str,
    hist_id_col: str,
    min_jaccard: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Streaming incremental NEAR-dup filter: emit only the streaming
    documents with no historical near-duplicate (word-shingle Jaccard ≥
    ``min_jaccard`` against the static corpus) — the streaming face of
    the batch ``dedup.incremental_near_dups`` (equality pinned by an
    availableNow equivalence test in tests/test_streaming.py).

    This is the ingest-time gate of a growing training corpus: the
    historical side is the already-accepted corpus (a static/periodically
    refreshed table of banded MinHash buckets + shingle-hash arrays); the
    stream is tonight's crawl. Near-dups against HISTORY are dropped
    here; intra-stream exact dups are ``streaming_dedup_first_seen``'s
    job (cross-row stream state needs the stateful API, not a join).

    How it fits Structured Streaming's single-aggregation limit: each
    stream row computes its MinHash signature PER ROW
    (``dedup.minhash_signature_array`` — zero shuffle, no agg spent) and
    explodes into its ≤4 band rows; a stream-static LEFT OUTER equi-join
    on ``(band, band_key)`` attaches candidate historical docs (the
    static band table broadcasts); the exact Jaccard is computed
    in-expression on the carried shingle-hash arrays; and the ONE
    aggregation takes ``max(jac)`` per stream row, filtered ``< t``.
    A left ANTI join instead would check each band row in isolation and
    wrongly re-emit a doc whose near-dup sits in a different band; the
    outer-join + max form also keeps zero-candidate (and zero-shingle)
    docs flowing. State per stream row is O(1) (one running max), so the
    aggregation — not the fan-out — reaches the state store.

    Like the other unwatermarked aggregations here, needs
    update/complete output mode (each doc's verdict is final the batch
    it arrives, since the static side doesn't change mid-query).
    """
    from polars_sim_spark.operators.dedup import (
        _band_keys,
        _banded_doc_side,
        minhash_signature_array,
    )

    if min_jaccard <= 0:
        # Same guard (and reasoning) as the batch incremental_near_dups:
        # at t <= 0 the two forms diverge on zero-candidate docs.
        raise ValueError(f"min_jaccard must be > 0, got {min_jaccard}")
    hb = _banded_doc_side(static_hist, hist_id_col, hist_text_col, shingle_n, "h_")
    s = stream.withColumn("__sh", word_shingles(F.col(stream_text_col), shingle_n))
    s = s.select(
        "*",
        F.transform("__sh", lambda g: F.xxhash64(g)).alias("__arr"),
        F.size("__sh").alias("__n"),
        minhash_signature_array(F.col("__sh")).alias("__sig"),
    )
    # Zero-shingle docs get a null band list: posexplode_outer keeps the
    # row (they must still be emitted), the left join finds nothing.
    s = s.withColumn("__keys", F.when(F.col("__n") > 0, _band_keys(F.col("__sig")))).select(
        "*", F.posexplode_outer("__keys").alias("band", "band_key")
    )

    joined = s.join(F.broadcast(hb), ["band", "band_key"], "left")
    k = F.size(F.array_intersect("__arr", "h_arr")).cast("double")
    jac = F.round(k / (F.col("__n") + F.col("h_n") - k), 6)
    scored = joined.withColumn("__jac", F.coalesce(jac, F.lit(0.0)))

    group_cols = list(stream.columns)
    return (
        scored.groupBy(*group_cols)
        .agg(F.max("__jac").alias("__max_jac"))
        .where(F.col("__max_jac") < min_jaccard)
        .select(*group_cols)
    )


def stream_passage_dedup(
    stream_docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    passage_words: int = 16,
) -> DataFrame:
    """Streaming passage-novelty gate: explode each arriving document
    into non-overlapping ``passage_words``-word passages and emit only
    passages NEVER seen before — across documents, micro-batches, and
    restarts. The streaming face of the batch
    ``dedup.remove_duplicate_passages`` (same
    ``dedup.passage_rows`` front end; equivalence pinned by an
    availableNow test), completing the dedup symmetry: exact
    (``streaming_dedup_first_seen``), near-dup
    (``stream_incremental_near_dedup``), and sub-document spans (here)
    all have ingest-time twins.

    Output: ``(id, pidx, ptext)`` — the surviving passages; the consumer
    reassembles documents (or feeds spans onward) since cross-batch
    document reconstruction is unbounded state by definition.

    Plan: the passage split is a narrow projection (streaming-safe), the
    novelty decision is the SAME keyed-state operator as exact dedup —
    one state entry per distinct passage md5, hash-sharded across
    executors, RocksDB-backed in production. Within a micro-batch the
    canonical occurrence is the smallest ``(id, pidx)``, matching the
    batch operator's keep-first rule (ids are packed into one order key,
    so per-document passage counts must stay below 2^20 — ~16M words at
    the default width).
    """
    from pyspark.sql.types import ByteType, IntegerType, ShortType

    from polars_sim_spark.operators.dedup import passage_rows

    _require_integral_id(stream_docs, id_col, "stream_passage_dedup")
    p = passage_rows(stream_docs, id_col, text_col, passage_words)
    keyed = p.select(
        F.col(id_col),
        "pidx",
        "ptext",
        F.md5("ptext").alias("__fp"),
        _guarded_packed_seq(id_col, "pidx", "stream_passage_dedup").alias("__seq"),
    )
    return streaming_dedup_first_seen(
        keyed, key_col="__fp", order_col="__seq"
    ).select(id_col, "pidx", "ptext")


def _require_integral_id(stream_docs: DataFrame, id_col: str, op: str) -> None:
    """cast("long") on a non-numeric id would yield NULL order keys,
    silently breaking the smallest-(id, index) equivalence with the
    batch operators (which order by the raw id column)."""
    from pyspark.sql.types import ByteType, IntegerType, ShortType

    id_type = stream_docs.schema[id_col].dataType
    if not isinstance(id_type, (LongType, IntegerType, ShortType, ByteType)):
        raise TypeError(
            f"{op} needs an integral {id_col!r} to build its order key; got "
            f"{id_type.simpleString()} — map string ids to longs upstream "
            "(e.g. xxhash64) or extend the op with a composite order key"
        )


def _guarded_packed_seq(id_col: str, idx_col: str, op: str):
    """``id * 2^20 + idx`` keep-first order key with a runtime domain
    guard: an idx >= 2^20 or a negative id would silently corrupt the
    smallest-(id, idx) ordering. assert_true is embedded in the returned
    expression itself so column pruning can't drop it."""
    packed = F.col(id_col).cast("long") * F.lit(1 << 20) + F.col(idx_col)
    packing_ok = (F.col(idx_col) < F.lit(1 << 20)) & (
        F.col(id_col).cast("long") >= 0
    )
    guard = F.assert_true(
        packing_ok,
        F.concat_ws(
            " ",
            F.lit(f"{op} order-key packing overflow:"),
            F.lit(f"need 0 <= id and {idx_col} < 2^20, got id="),
            F.col(id_col).cast("string"),
            F.lit(f"{idx_col}="),
            F.col(idx_col).cast("string"),
        ),
    )
    return F.when(guard.isNull(), packed).otherwise(packed)


def stream_substring_dedup(
    stream_docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    window_words: int = 8,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming substring-novelty gate: explode each arriving document
    into STRIDE-1 ``window_words``-word windows and emit only the window
    occurrences whose word sequence was never seen before — across
    documents, micro-batches, and restarts. The streaming face of
    :func:`polars_sim_spark.operators.dedup.duplicate_substring_spans`:
    the batch operator flags every NON-first occurrence (then merges
    them into maximal spans); this emits exactly the complement — the
    corpus-wide first occurrences by smallest ``(id, position)`` — so a
    consumer can mark the arriving document's duplicated offsets as
    everything NOT emitted (equivalence pinned by an availableNow test).

    Output: ``(id, i, wtext)`` — the novel windows. Span merging stays a
    per-document batch concern (gaps-and-islands needs the document's
    full window set, which one micro-batch has anyway — run the batch
    operator's island merge over the emitted complement downstream if
    maximal spans are needed at ingest).

    Plan: the stride-1 window expansion is the same narrow zero-shuffle
    projection as batch (``sliding_window_rows``); novelty is the keyed
    first-seen state operator — one state entry per distinct window md5,
    hash-sharded, RocksDB-backed in production. State grows with
    distinct k-grams (≈ corpus words, measured ~20 entries/doc —
    tools/bench_streaming.py); at 100 TB either front it with the
    passage-level gate (16-word passages, 16× fewer keys) or pass
    ``state_ttl_ms`` to bound state to the k-grams active within one
    TTL horizon: the ExactSubstr guarantee then degrades from
    corpus-lifetime to "novel within the last TTL of processing-time
    quiet" (a window repeated steadily keeps its entry alive — the TTL
    refreshes on re-arrival). Within one horizon the emitted complement
    is identical to the untimed gate (tests/test_streaming.py); state
    expiry across horizons is exercised in the same test.
    """
    from polars_sim_spark.operators.dedup import sliding_window_rows

    _require_integral_id(stream_docs, id_col, "stream_substring_dedup")
    w = sliding_window_rows(stream_docs, id_col, text_col, window_words)
    keyed = w.select(
        F.col(id_col),
        "i",
        "wtext",
        F.md5("wtext").alias("__fp"),
        _guarded_packed_seq(id_col, "i", "stream_substring_dedup").alias("__seq"),
    )
    return streaming_dedup_first_seen(
        keyed, key_col="__fp", order_col="__seq", state_ttl_ms=state_ttl_ms
    ).select(id_col, "i", "wtext")


def stream_centroid_assign(
    stream_vecs: DataFrame,
    static_corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_id_col: str | None = None,
    corpus_vec_col: str | None = None,
    num_centroids: int = 16,
) -> DataFrame:
    """Streaming centroid assignment: label every arriving embedding
    with its nearest centroid cell (and the cosine to it) — the
    ingest-time router of a vector index: incoming vectors go straight
    to the right IVF shard/partition, so the index grows without
    reclustering per batch. Extends the streaming surface to the
    vector half of the engine.

    Centroids are the deterministic hash-sample of the STATIC corpus
    (``similarity.pick_centroids`` — an O(num_centroids) driver read at
    plan-build time); assignment itself is
    ``similarity.nearest_centroid_assignments`` on the stream — the same
    zero-shuffle, stateless score projection as batch IVF (Column
    expression or, above 32 centroids, the ``mapInPandas`` GEMM, which
    is streaming-safe too), so it runs in append mode with no state
    store and no aggregation spent. Batch/stream equivalence is pinned
    by an availableNow test.
    """
    from polars_sim_spark.operators.similarity import (
        nearest_centroid_assignments,
        pick_centroids,
    )

    cent_rows = pick_centroids(
        static_corpus,
        corpus_id_col or id_col,
        corpus_vec_col or vec_col,
        num_centroids,
    ).collect()
    cent_rows.sort(key=lambda r: r["c_id"])
    return nearest_centroid_assignments(
        stream_vecs, id_col=id_col, vec_col=vec_col, cent_rows=cent_rows
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    *,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: int,
    upper: int,
    left_watermark: str = "10 minutes",
    right_watermark: str = "10 minutes",
    how: str = "inner",
    suffix: str = "_r",
) -> DataFrame:
    """Stream⋈stream interval join: two LIVE streams, watermarks on BOTH
    sides — each left row joins right rows of the same ``on`` key whose
    event time lies in ``[left_ts + lower, left_ts + upper]`` (closed,
    whole seconds; the signature mirrors the batch
    :func:`polars_sim_spark.operators.range_join.range_join`, its exact
    batch twin — pinned equivalent by an availableNow test).

    This is the one operator class where Spark's built-in engine already
    IS the 100 TB design: Structured Streaming keys state by the
    equi-join column, uses the time-range condition to bound how long
    each side's rows are retained (left rows can stop matching once the
    right watermark passes ``left_ts + upper``, and symmetrically), and
    drops state as both watermarks advance — the same banding logic the
    batch operator builds by hand, but maintained incrementally. So the
    implementation is deliberately the declarative form: watermark both
    sides, put the range predicate IN the join condition, let the engine
    derive state cleanup. No custom state operator needed or wanted.

    ``how``: ``"inner"`` or ``"leftOuter"`` (outer results for unmatched
    left rows are emitted only once the right watermark passes their
    interval — in an availableNow run the final unmatched tail stays
    unflushed unless a watermark-advancing sentinel row arrives; the
    equivalence test does exactly that).

    Right-side columns colliding with left names take ``suffix``; the
    right key takes an internal name, so self-joins of one source stream
    (clicks vs errors of the same events topic) resolve unambiguously —
    same policy as range_join.
    """
    if lower > upper:
        raise ValueError(
            f"stream_stream_interval_join: lower ({lower}) must be <= upper ({upper})"
        )
    if how not in ("inner", "leftOuter"):
        raise ValueError(
            f"stream_stream_interval_join: how must be 'inner' or 'leftOuter', got {how!r}"
        )
    lcols = set(left.columns)
    renames = {c: c + suffix for c in right.columns if c in lcols and c != on}
    renames[on] = "__ssj_key"
    r = right
    for old, new in renames.items():
        r = r.withColumnRenamed(old, new)
    r_ts = renames.get(right_ts, right_ts)

    lw = left.withWatermark(left_ts, left_watermark)
    rw = r.withWatermark(r_ts, right_watermark)
    cond = (
        (F.col(on) == F.col("__ssj_key"))
        & (F.col(r_ts) >= F.col(left_ts) + F.expr(f"INTERVAL '{int(lower)}' SECOND"))
        & (F.col(r_ts) <= F.col(left_ts) + F.expr(f"INTERVAL '{int(upper)}' SECOND"))
    )
    return lw.join(rw, cond, how).drop("__ssj_key")


def stream_clicks_before_error(
    errors: DataFrame,
    clicks: DataFrame,
    *,
    watermark: str = "10 minutes",
    how: str = "leftOuter",
) -> DataFrame:
    """Click↔error matching as a stream-stream interval join: every
    error event paired with the same user's clicks from the preceding 5
    minutes — the streaming face of the driver-green batch query
    ``events_clicks_before_error`` (operators/range_join.py twin).
    Emits the PAIRS (error event + matching click ts, null click ts for
    errors with no clicks under leftOuter once flushed); the per-error
    count is a one-line batch aggregation over the sink, which is how
    the equivalence test pins this against the batch query's n_clicks.
    State per user is bounded by the 5-minute interval plus the
    watermark delay on both sides."""
    return stream_stream_interval_join(
        errors,
        clicks,
        on="user_id",
        lower=-300,
        upper=0,
        left_watermark=watermark,
        right_watermark=watermark,
        how=how,
    )


def stream_pq_encode(
    stream_vecs: DataFrame,
    codebooks,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming PQ encoding: compress every arriving embedding to its
    m one-byte codes against FIXED codebooks (fit offline with
    ``pq.pq_fit`` / loaded from a ``materialize_ivfpq_index`` asset) —
    the ingest-time writer of a PQ/IVF-PQ index, pairing with
    :func:`stream_centroid_assign` (which picks the arriving vector's
    cell) so a live index grows in its serving form without batch
    re-encoding. Stateless Arrow ``mapInPandas`` — append mode, no
    state store, no aggregation budget spent; output (id, codes) is
    bit-identical to the batch ``pq.pq_encode`` (availableNow
    equivalence test)."""
    from polars_sim_spark.operators.pq import _assign_codes_kernel, _norm_vecs

    vecs = _norm_vecs(stream_vecs, id_col, vec_col)
    # the broadcast lives for the query's lifetime here — a streaming
    # writer encodes against it on every micro-batch, so no unpersist
    coded, _bc = _assign_codes_kernel(
        vecs, codebooks, id_type=dict(stream_vecs.dtypes)[id_col]
    )
    return coded


def stream_cms_heavy_hitters(
    counters: DataFrame,
    candidates: DataFrame,
    totals: DataFrame,
    phi: float,
    *,
    window_col: str = "window_start",
    item_col: str = "user_id",
) -> DataFrame:
    """Serve per-window φ-heavy hitters from STREAMING-maintained
    count-min counters — the loop ``stream_cms_counters``'s docstring
    promises: the stream keeps only the fixed O(d·w)-per-window sketch
    (plus a per-window row count), and heavy-hitter queries are BATCH
    point-queries against those stored counters via the shared
    ``cms_estimate`` — the raw event stream is never replayed.

    ``counters``: finalized ``stream_cms_counters`` output
    ``(window_start, seed, __c, cnt)``. ``candidates``: the items to
    probe per window ``(window_start, item)`` — in production the
    distinct-key sidecar a pipeline already tracks (or the full key
    dictionary); the guarantee needs every candidate probed, not any
    corpus rescan. ``totals``: ``(window_start, n)`` per-window row
    counts (one streaming count aggregate). Output
    ``(window_start, item, cms_count)`` — identical rows to the batch
    ``cms_heavy_hitters`` grouped by the same windows
    (availableNow-equivalence-tested), inheriting its no-false-negative
    guarantee; chain :func:`~polars_sim_spark.operators.sketches.\
heavy_hitters_exact`'s confirming pass when exactness matters."""
    from polars_sim_spark.operators.sketches import cms_estimate

    if not (0.0 < phi <= 1.0):
        raise ValueError(f"phi must be in (0, 1], got {phi}")
    est = cms_estimate(counters, candidates, item_col, group_col=window_col)
    n_col = [c for c in totals.columns if c != window_col][0]
    return (
        est.join(F.broadcast(totals), window_col, "inner")
        .where(F.col("cms_count") >= F.ceil(F.lit(phi) * F.col(n_col)))
        .drop(n_col)
    )


def stream_quantile_sketch(
    events: DataFrame,
    *,
    window_duration: str = "1 day",
    watermark_delay: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    row_key_col: str = "event_id",
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
    s: int = 256,
) -> DataFrame:
    """Watermarked windowed quantile ESTIMATES — the streaming twin of
    the batch ``quantile_sketch`` (operators/sketches.py), completing
    the streaming sketch family (HLL r7, CMS r7, this). The batch
    sketch keeps each group's s md5-hash-smallest rows; bottom-k is
    ASSOCIATIVE (bottom-k of a union = bottom-k of the parts'
    bottom-k), so the streaming state per (window, key) is exactly the
    s-row sample, merged monotonically across micro-batches —
    ``applyInPandasWithState`` with an EventTimeTimeout that emits the
    interpolated estimates once the watermark closes the window, then
    drops the state. Finalized windows equal the batch sketch on the
    same data to the last rounded digit (availableNow equivalence
    test): same hash, same sample, same interpolation.

    State is O(open windows · keys · s) — the bounded-memory contrast
    to exact streaming percentiles, which would have to buffer every
    value of every open window. The md5 hash is computed as a JVM
    Column upstream of the stateful op; the Python side only merges
    sorted arrays and interpolates at emission."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import ArrayType, DoubleType, TimestampType

    from polars_sim_spark.operators.dedup import md5_hash64

    src = (
        events.withWatermark(ts_col, watermark_delay)
        .select(
            F.window(F.col(ts_col), window_duration).alias("win"),
            F.col(ts_col),
            F.col(key_col),
            F.col(value_col).cast("double").alias("__v"),
            md5_hash64(F.col(row_key_col).cast("string")).alias("__h"),
            F.col(row_key_col).cast("long").alias("__k"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("__wend"),
            F.col(ts_col),  # carries the watermark through the projection
            key_col,
            "__v",
            "__h",
            "__k",
        )
    )
    state_schema = StructType(
        [
            StructField("hs", ArrayType(LongType())),
            StructField("vs", ArrayType(DoubleType())),
            StructField("ks", ArrayType(LongType())),
            StructField("wend", LongType()),
        ]
    )
    out_fields = ", ".join(
        f"p{str(p).replace('0.', '').ljust(2, '0')} double" for p in probs
    )
    out_schema = f"window_start timestamp, {key_col} string, {out_fields}"

    def sketch(key, pdfs, state) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            hs, vs, ks, _wend = state.get
            order = np.lexsort((np.array(ks, dtype=np.int64), np.array(hs, dtype=np.int64)))
            sample = np.array(vs, dtype=np.float64)[order][:s]
            row = {"window_start": [key[0]], key_col: [key[1]]}
            for p in probs:
                name = f"p{str(p).replace('0.', '').ljust(2, '0')}"
                row[name] = [round(float(np.percentile(sample, p * 100.0, method="linear")), 6)]
            state.remove()
            yield pd.DataFrame(row)
            return
        hs = vs = ks = None
        wend_ms = None
        if state.exists:
            hs_l, vs_l, ks_l, wend_ms = state.get
            hs = np.array(hs_l, dtype=np.int64)
            vs = np.array(vs_l, dtype=np.float64)
            ks = np.array(ks_l, dtype=np.int64)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            if wend_ms is None:
                wend_ms = int(pdf["__wend"].iloc[0].value // 1_000_000)
            bh = pdf["__h"].to_numpy(dtype=np.int64)
            bv = pdf["__v"].to_numpy(dtype=np.float64)
            bk = pdf["__k"].to_numpy(dtype=np.int64)
            hs = bh if hs is None else np.concatenate([hs, bh])
            vs = bv if vs is None else np.concatenate([vs, bv])
            ks = bk if ks is None else np.concatenate([ks, bk])
            order = np.lexsort((ks, hs))[:s]
            hs, vs, ks = hs[order], vs[order], ks[order]
        if hs is not None:
            state.update((
                [int(x) for x in hs],
                [float(x) for x in vs],
                [int(x) for x in ks],
                int(wend_ms),
            ))
            # fire once the event-time watermark passes the window end
            state.setTimeoutTimestamp(int(wend_ms))
        return
        yield  # pragma: no cover — makes this a generator on all paths

    return src.groupBy("window_start", key_col).applyInPandasWithState(
        sketch,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_ingest_zordered_lake(
    root: str,
    *,
    zorder_cols: list[str],
    sketch_group_col: str,
    sketch_value_col: str,
    num_files: int = 4,
):
    """Streaming LAKE MAINTENANCE: returns a ``foreachBatch`` callable
    that, per micro-batch, (a) writes the batch as a z-order-CLUSTERED
    parquet partition under ``root/data/batch=<id>`` (sources/layout.py
    — every batch partition gets tight multi-column row-group stats, so
    selective 2-D scans over the growing lake prune within every
    batch), and (b) appends one HLL register shard under
    ``root/sketch/shard=<id>`` (operators/sketches.py), so
    distinct-count serving reads O(batches·groups·m) sketch rows, never
    the lake.

    Exactly-once posture, stated precisely: ``foreachBatch`` may replay
    a batch id after a failure. The data write is idempotent (same
    batch id → same directory, overwrite). The sketch append is NOT
    write-idempotent (a replay adds a duplicate shard) but IS
    ESTIMATE-idempotent: registers merge by max, so duplicated shards
    cannot change any served value — the idempotence lives in the
    algebra instead of the write path.

    Wire it as ``stream.writeStream.foreachBatch(fn)`` with a
    checkpoint; equivalence vs batch (content, estimate, clustering)
    is pinned in tests/test_streaming.py."""
    from polars_sim_spark.operators.sketches import append_hll_shard
    from polars_sim_spark.sources.layout import write_zordered

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        write_zordered(
            batch_df,
            f"{root.rstrip('/')}/data/batch={batch_id}",
            zorder_cols,
            num_files=num_files,
        )
        append_hll_shard(
            batch_df,
            f"{root.rstrip('/')}/sketch",
            sketch_group_col,
            sketch_value_col,
            shard=str(batch_id),
        )

    return ingest


def stream_session_windows(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark_delay: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Watermarked streaming SESSION windows — the streaming twin of the
    batch ``events_session_windows`` query, on Spark's native
    ``session_window`` state machine: per-key windows grow/merge while
    events arrive within ``gap`` of each other, and a session finalizes
    (append-mode emission, state reaped) once the watermark passes its
    end (= last event + gap). Totals use the DECIMAL(18,6) exact sum so
    finalized sessions equal the batch rows bit-for-bit
    (availableNow equivalence test). State is O(open sessions) per key
    partition — the engine merges and expires it; nothing custom."""
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("win"), F.col(key_col)
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def stream_upsert_lake(
    path: str,
    *,
    key_cols: list[str],
    partition_col: str,
    seq_col: str | None = None,
):
    """Streaming CDC apply: returns a ``foreachBatch`` callable that
    merges each micro-batch into the hive-partitioned lake as an SCD1
    upsert (sources/sinks.py:upsert_partitions — only the partitions
    the batch touches are rewritten; every other partition keeps
    byte-identical files).

    Within-batch key collisions (a CDC feed can carry several versions
    of one key per trigger) collapse BEFORE the merge: with ``seq_col``
    the highest sequence wins; without it the lexicographically
    greatest value tuple wins — both via the skew-safe
    ``groupBy(key).agg(max(struct(...)))`` shape (map-side combine, no
    window), and both DETERMINISTIC, which is what makes the replay
    posture work: ``foreachBatch`` may re-deliver a batch id after a
    failure, and re-applying the SAME collapsed batch is a no-op by
    SCD1 semantics (replacing a row with an identical row). First
    batch bootstraps the lake with a plain partitioned write.

    Wire as ``stream.writeStream.foreachBatch(fn)`` with a checkpoint;
    availableNow equivalence vs a batch-computed merge is pinned in
    tests/test_streaming.py."""
    import os

    from polars_sim_spark.sources.sinks import upsert_partitions

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cols = batch_df.columns
        others = [c for c in cols if c not in key_cols]
        order_cols = ([seq_col] if seq_col else []) + [
            c for c in others if c != seq_col
        ]
        collapsed = (
            batch_df.groupBy(*key_cols)
            .agg(F.max(F.struct(*order_cols)).alias("__s"))
            .select(*key_cols, "__s.*")
            .select(*cols)
        )
        from polars_sim_spark.fsutil import hadoop_exists, hadoop_list_names

        if not hadoop_exists(
            batch_df.sparkSession, os.path.join(path, "_SUCCESS")
        ) and not any(
            d.startswith(f"{partition_col}=")
            for d in hadoop_list_names(batch_df.sparkSession, path)
        ):
            collapsed.write.mode("overwrite").partitionBy(partition_col).parquet(path)
            return
        upsert_partitions(
            batch_df.sparkSession,
            path,
            collapsed,
            key_cols=key_cols,
            partition_col=partition_col,
        )

    return apply


def stream_score_stored_model(
    model_path: str,
    out_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming model serving: returns a ``foreachBatch`` callable that
    scores each micro-batch of documents through the COMMITTED quality
    model (operators/classifier.py:score_with_stored_model — the same
    broadcast-join DECIMAL plan the batch contract row serves) and
    appends ``(id, score)`` rows to a parquet sink. Running the batch
    operator per micro-batch is the honest production shape for
    stateless inference — one code path for batch and stream, so
    availableNow output is EQUAL to the batch scores by construction
    (no re-implemented arithmetic to drift; pinned in
    tests/test_streaming.py), and there is no aggregation state or
    watermark at all: scoring is per-document, documents arrive whole.

    Scale: the model is a table read once per batch (vocab-bounded,
    broadcast); document text never shuffles — the per-batch plan is
    explode → broadcast join → per-doc aggregate within the batch."""
    from polars_sim_spark.operators.classifier import score_with_stored_model

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        scored = score_with_stored_model(
            batch_df.sparkSession, batch_df, id_col, text_col, model_path
        )
        scored.write.mode("append").parquet(out_path)

    return apply


def stream_drift_tv(
    stream: DataFrame,
    reference: DataFrame,
    *,
    bucket_col: str,
    ts_col: str = "ts",
    buckets: list[str],
    window: str = "10 minutes",
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of operators/profile.py:drift_tv — per event-time
    window, each bucket's live probability mass (exact integer
    micro-units) against a static REFERENCE distribution
    ``(bucket, q_micro)`` (e.g. the training snapshot's masses from the
    batch operator), with the per-bucket total-variation contribution.
    The monitoring loop this serves: reference = what the model was
    trained on, stream = live traffic, alert on Σ tv_micro / 2e6.

    Structured Streaming allows ONE aggregation before the append-mode
    sink, so per-bucket counts AND the window total come from a single
    windowed aggregate over a BOUNDED, caller-declared bucket domain
    (conditional sums, one column per bucket — the same
    carry-the-domain trick as the streaming CMS/HLL twins), unpivoted
    with ``stack`` and joined against the broadcast reference after the
    aggregation. Buckets absent from a window emit an explicit zero
    row — missing mass IS drift, and an outer-join shape can't express
    that in one streaming agg. Watermark finalizes windows; state is
    |windows in flight| × (|buckets|+1) counters."""
    if not buckets:
        raise ValueError("stream_drift_tv: buckets must be non-empty")
    aggs = [F.count(F.lit(1)).alias("__total")]
    for i, b in enumerate(buckets):
        aggs.append(
            F.sum((F.col(bucket_col) == F.lit(b)).cast("long")).alias(f"__c{i}")
        )
    agg = (
        stream.withWatermark(ts_col, delay)
        .groupBy(F.window(F.col(ts_col), window).alias("__w"))
        .agg(*aggs)
    )
    stack_args = ", ".join(f"'{b}', __c{i}" for i, b in enumerate(buckets))
    long = agg.selectExpr(
        "__w.start as window_start",
        "__w.end as window_end",
        "__total",
        f"stack({len(buckets)}, {stack_args}) as ({bucket_col}, cnt)",
    )
    ref = reference.select(
        F.col(bucket_col), F.col("q_micro").cast("long").alias("q_micro")
    )
    return (
        long.join(F.broadcast(ref), bucket_col, "left")
        .select(
            "window_start",
            "window_end",
            bucket_col,
            "cnt",
            F.expr("cnt * 1000000 div greatest(__total, 1)").alias("p_micro"),
            F.coalesce(F.col("q_micro"), F.lit(0)).alias("q_micro"),
        )
        .withColumn("tv_micro", F.abs(F.col("p_micro") - F.col("q_micro")))
    )


def stream_append_packed(pack_path: str, *, id_col: str, token_col: str):
    """Streaming packing ingestion: returns a ``foreachBatch`` callable
    that lays each micro-batch of new documents after the stored token
    stream via curation.append_packed_sequences — the same append-only
    contract as the batch path (offsets continue from the stored total,
    nothing already packed is rewritten), so a corpus can be packed AS
    IT ARRIVES and earlier training shards stay valid. One code path
    with batch append ⇒ equivalence by construction; cross-batch
    sequencing pinned in tests/test_streaming.py.

    Replay posture (honest): a ``_stream_meta`` marker records the last
    applied batch id, so a batch REPLAYED after successful commit is
    skipped (idempotent for the common restart case). A crash in the
    window between the span append and the marker write can still
    duplicate that one batch — parquet appends are not atomic with the
    marker; that is the standard caveat of any non-transactional sink
    and is stated rather than hidden."""
    import os as _os

    from polars_sim_spark.operators.curation import append_packed_sequences

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        from polars_sim_spark.fsutil import hadoop_exists

        marker = _os.path.join(pack_path, "_stream_meta")
        if hadoop_exists(spark, _os.path.join(marker, "_SUCCESS")):
            last = spark.read.parquet(marker).collect()[0]["last_batch_id"]
            if batch_id <= last:
                return
        append_packed_sequences(batch_df.select(id_col, token_col), pack_path)
        spark.createDataFrame([(int(batch_id),)], "last_batch_id long").coalesce(
            1
        ).write.mode("overwrite").parquet(marker)

    return apply


def stream_expectations(
    stream: DataFrame,
    rules: dict[str, "F.Column"],
    *,
    ts_col: str = "ts",
    window: str = "10 minutes",
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of operators/profile.py:check_expectations for the
    SCALAR rules: per event-time window, each rule's violation count
    and the window's row count — the live data-contract monitor that
    gates an ingestion pipeline before bad batches reach training.
    Same carry-the-rule-set trick as the drift/CMS twins: all rules
    evaluate as conditional sums inside ONE windowed aggregation
    (append mode, watermark-finalized), then unpivot with ``stack``.
    Uniqueness rules are deliberately absent here — distinct-counting
    needs either unbounded state or a sketch; use the batch operator on
    settled data, or the streaming HLL twin for an estimate."""
    if not rules:
        raise ValueError("stream_expectations: no rules given")
    aggs = [F.count(F.lit(1)).alias("__n")]
    names = list(rules)
    for i, name in enumerate(names):
        aggs.append(F.sum(rules[name].cast("long")).alias(f"__v{i}"))
    agg = (
        stream.withWatermark(ts_col, delay)
        .groupBy(F.window(F.col(ts_col), window).alias("__w"))
        .agg(*aggs)
    )
    stack_args = ", ".join(f"'{n}', __v{i}" for i, n in enumerate(names))
    return agg.selectExpr(
        "__w.start as window_start",
        "__w.end as window_end",
        "__n as n_rows",
        f"stack({len(names)}, {stack_args}) as (rule, violations)",
    ).select("window_start", "window_end", "rule", "violations", "n_rows")


def stream_flag_anomalies(
    stats_path: str,
    out_path: str,
    *,
    group_col: str = "event_type",
    value_col: str = "value",
    sigmas_x10000: int = 44478,
):
    """Streaming robust-anomaly serving: returns a ``foreachBatch``
    callable that flags each micro-batch of events against the STORED
    per-group median/MAD reference table
    (operators/profile.robust_group_stats, materialized by the batch
    job) and appends the flagged rows to a parquet sink.  Flagging runs
    the SAME flag_robust_anomalies code path as the batch contract row
    (events_robust_anomalies), so availableNow output equals the batch
    flags by construction — the stream_score_stored_model pattern:
    stateless per-row serving, no watermark, no aggregation state.

    The monitoring loop this closes: the nightly batch job refits the
    reference table from the full corpus; the stream flags live traffic
    against it (a stats table of |groups| rows, broadcast per batch —
    the fact stream never shuffles).
    """
    from polars_sim_spark.operators.profile import flag_robust_anomalies

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        stats = batch_df.sparkSession.read.parquet(stats_path)
        flagged = flag_robust_anomalies(
            batch_df,
            stats,
            group_col=group_col,
            value_col=value_col,
            sigmas_x10000=sigmas_x10000,
        )
        flagged.write.mode("append").parquet(out_path)

    return apply


def stream_edit_match(
    historical_path: str,
    out_path: str,
    *,
    name_col: str,
    id_col: str,
    max_dist: int = 1,
):
    """Streaming fuzzy-identity gate: returns a ``foreachBatch`` callable
    that matches each micro-batch of incoming names against the STORED
    historical name table within Levenshtein ``max_dist`` — the
    ingest-time shape of entity resolution (flag "is this customer
    already known under a near-identical name?" before the record lands).

    Runs the batch ``edit_join`` operator per micro-batch (FastSS
    deletion-signature candidates + threshold DP), so availableNow output
    is EQUAL to the batch two-sided join by construction — the
    stream_score_stored_model pattern: one code path, stateless, no
    watermark.  The historical side re-reads per batch (pruned scan;
    production would snapshot-cache it), and candidate volume is
    output-proportional, so per-batch cost tracks the batch's true match
    count."""
    from polars_sim_spark.operators.edit_join import edit_join

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        hist = batch_df.sparkSession.read.parquet(historical_path)
        out = edit_join(
            batch_df,
            hist,
            name_col,
            name_col,
            left_id=id_col,
            right_id=id_col,
            max_dist=max_dist,
        )
        out.write.mode("append").parquet(out_path)

    return apply


def stream_contamination_fraction(
    eval_path: str,
    out_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
):
    """Streaming measured-decontamination gate: returns a
    ``foreachBatch`` callable that scores each micro-batch of incoming
    documents against the STORED eval shingle set and appends the exact
    per-document overlap report ``(id, n_sh, n_hit, frac_ppm)`` — the
    ingest-time shape of
    :func:`~polars_sim_spark.operators.curation.contamination_fraction`
    (one code path, so availableNow output equals the batch report by
    construction; stateless, no watermark). ``eval_path`` holds the
    PRE-SHINGLED distinct eval set (a one-column ``sh`` parquet — store
    shingles, not text, so the per-batch cost is the batch's own
    shingle explode plus the keyed join)."""
    from polars_sim_spark.functions.text import word_shingles

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ev = (
            batch_df.sparkSession.read.parquet(eval_path)
            .select("sh")
            .withColumn("__hit", F.lit(1))
        )
        sh = batch_df.select(
            F.col(id_col).alias("id"),
            F.explode(word_shingles(F.col(text_col), n)).alias("sh"),
        )
        per = (
            sh.join(ev, "sh", "left")
            .groupBy("id")
            .agg(
                F.count(F.lit(1)).alias("n_sh"),
                F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
            )
        )
        out = (
            batch_df.select(F.col(id_col).alias("id"))
            .join(per, "id", "left")
            .select(
                F.col("id").alias(id_col),
                F.coalesce(F.col("n_sh"), F.lit(0)).cast("long").alias("n_sh"),
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
                F.expr(
                    "cast(coalesce(n_hit, 0) * 1000000 div "
                    "greatest(coalesce(n_sh, 0), 1) as bigint)"
                ).alias("frac_ppm"),
            )
        )
        out.write.mode("append").parquet(out_path)

    return apply


def stream_phash_match(
    phash_index_path: str,
    out_path: str,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    n_bands: int = 8,
    max_dist: int = 7,
    modality: str = "image",
):
    """Streaming perceptual near-dup gate — the media twin of
    :func:`stream_edit_match`: returns a ``foreachBatch`` callable that
    perceptual-hashes each micro-batch of incoming media payloads and
    matches them against a STORED phash band table within Hamming
    ``max_dist`` — the ingest-time "have we already trained on this?"
    check, run before the bytes land.

    ``modality`` selects the hasher (round 11 — all emit the same band
    schema, so history tables, band joins and this gate are shared
    machinery): ``"image"`` →
    :func:`~polars_sim_spark.operators.multimodal.ppm_phash` (PPM/BMP/
    GIF payloads, container-invariant), ``"audio"`` →
    :func:`~polars_sim_spark.operators.multimodal.wav_phash` (WAV PCM
    envelope), ``"video"`` →
    :func:`~polars_sim_spark.operators.multimodal.mp4_vhash` (BMFF
    frame-hash majority fold), ``"video_pixels"`` (round 14) →
    :func:`~polars_sim_spark.operators.multimodal.video_pixel_vhash`
    (majority fold over DECODED per-frame pixel dHashes — MJPEG AVI
    and raw-gray MP4 arrivals with the same content match each other
    and the stored index regardless of container, at the per-frame
    JPEG-decode cost).

    One code path with the batch operator
    (:func:`~polars_sim_spark.operators.dedup.phash_match_pairs`), so
    availableNow output equals the batch two-sided match by
    construction — stateless, no watermark. History stores 16-byte
    hashes, not pixels/samples: a micro-batch costs hashing its own
    payloads (≤72 sampled bytes per uncompressed item; compressed
    rasters — GIF/PNG — pay a full O(pixels) inflate first, see
    ppm_phash) plus its band rows against
    the band join; the media corpus is never rescanned."""
    from polars_sim_spark.operators.dedup import phash_match_pairs
    from polars_sim_spark.operators.multimodal import (
        mp4_vhash,
        ppm_phash,
        video_pixel_vhash,
        wav_phash,
    )

    hashers = {
        "image": ppm_phash,
        "audio": wav_phash,
        "video": mp4_vhash,
        "video_pixels": video_pixel_vhash,
    }
    if modality not in hashers:
        raise ValueError(
            f"modality must be one of {sorted(hashers)}; got {modality!r}"
        )
    hasher = hashers[modality]
    band_cols = tuple(f"band{j}" for j in range(n_bands))

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        hist = batch_df.sparkSession.read.parquet(phash_index_path)
        ph = hasher(
            batch_df, id_col=id_col, payload_col=payload_col, n_bands=n_bands
        )
        out = phash_match_pairs(
            ph, hist, id_col=id_col, band_cols=band_cols, max_dist=max_dist
        )
        out.write.mode("append").parquet(out_path)

    return apply


def stream_sim_match(
    postings_table: str,
    out_path: str,
    *,
    name_col: str,
    id_col: str,
    top_n: int = 3,
    normalization: str = "l2",
    min_sim: float | None = None,
    apply_word_normalization: bool = False,
    weighting: str = "binary",
):
    """Streaming trigram-similarity gate — the streaming twin of the
    REFERENCE'S own flagship operator (join_sim, reference
    ``python/polars_sim/dataframe/join.py:15-149``): returns a
    ``foreachBatch`` callable that fuzzy-matches each micro-batch of
    incoming names against a STORED reference posting table
    (:func:`~polars_sim_spark.operators.join_sim.materialize_token_postings`)
    and appends ``(<id_col>, r_id, sim)`` top-``top_n`` matches — the
    ingest-time "which catalog entry is this?" lookup, run before the
    record lands.

    One code path with the batch serving operator
    (:func:`~polars_sim_spark.operators.join_sim.similarity_mapping_against_postings`),
    so availableNow output equals the batch join by construction —
    stateless, no watermark. ``weighting="tfidf"`` reads the frozen IDF
    sidecars (``<table>_weights`` / ``<table>_stats``) written at build
    time, so every batch scores against the SAME model — the
    BM25-append frozen-stats contract. Per-batch cost is the batch's
    own tokenization + the co-located (bucketed) token join; the
    reference corpus is never re-tokenized."""
    from polars_sim_spark.operators.join_sim import (
        similarity_mapping_against_postings,
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        postings = spark.table(postings_table)
        kw = {}
        if weighting == "tfidf":
            kw = dict(
                weighting="tfidf",
                idf_weights=spark.table(f"{postings_table}_weights"),
                default_w2=int(
                    spark.table(f"{postings_table}_stats").collect()[0]["default_w2"]
                ),
            )
        out = similarity_mapping_against_postings(
            batch_df.select(F.col(id_col), F.col(name_col)),
            postings,
            left_on=name_col,
            right_id="r_id",
            top_n=top_n,
            normalization=normalization,
            apply_word_normalization=apply_word_normalization,
            left_id=id_col,
            **kw,
        )
        if min_sim is not None:
            out = out.where(F.col("sim") >= float(min_sim))
        out.write.mode("append").parquet(out_path)

    return apply


def stream_entity_resolve(
    index_path: str,
    labels_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 3,
    min_cosine: float = 0.3,
):
    """Streaming append-mode entity resolution (round 10) — the ingest
    twin of ``entity_resolve_incremental``: returns a ``foreachBatch``
    callable that, per micro-batch of incoming ``(id, embedding)`` rows,
    (1) finds each new vector's top-``k`` neighbors ≥ ``min_cosine``
    against the committed IVF index, (2) folds batch nodes + edges into
    the STORED entity-label table via
    :func:`~polars_sim_spark.operators.dedup.update_entity_labels` —
    quotient-graph CC, only touched clusters move — and (3) overwrites
    the label store.

    One code path with the batch operator ⇒ availableNow over N
    micro-batches equals N sequential batch folds by construction
    (equivalence-tested in tests/test_streaming.py). Neighbor edges are
    restricted to ALREADY-RESOLVED ids + the batch itself: an index
    vector no batch has introduced yet must not leak into the label
    space (it will get its labels when its own batch arrives). The
    read→update→overwrite cycle cuts the self-overwrite read path with
    an eager localCheckpoint, the partition-upsert lesson; the store
    holds (id, entity_id) only — O(corpus) rows, no vectors.

    Replay-idempotent: foreachBatch is at-least-once — a failure between
    the parquet overwrite and the checkpoint commit replays the batch —
    so batch ids are anti-joined against the stored labels first. A full
    replay folds zero new ids and leaves the store byte-identical; a
    torn partial state is impossible because the overwrite itself is the
    only store write. (update_entity_labels REQUIRES new ids disjoint
    from stored ids; without the anti-join a replay would emit duplicate
    (id, entity_id) rows permanently.)"""
    from polars_sim_spark.operators.dedup import update_entity_labels
    from polars_sim_spark.operators.similarity import ann_topk_ivf_prebuilt

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        labels = spark.read.parquet(labels_path)
        new_ids = (
            batch_df.select(F.col(id_col).alias("id"))
            .distinct()
            .join(labels.select("id"), "id", "left_anti")
            .localCheckpoint(eager=True)
        )
        if new_ids.isEmpty():
            return
        qb = batch_df.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_emb")
        ).join(
            new_ids.withColumnRenamed("id", "q_id"), "q_id", "left_semi"
        )
        known = labels.select("id").unionByName(new_ids).distinct()
        eb = (
            ann_topk_ivf_prebuilt(spark, index_path, qb, k=k, nprobe=nprobe)
            .where(F.col("sim") >= float(min_cosine))
            .select(F.col("q_id").alias("l_id"), F.col("n_id").alias("r_id"))
            .join(known.withColumnRenamed("id", "r_id"), "r_id", "left_semi")
        )
        updated = update_entity_labels(
            labels, new_ids, eb, id_col="id", label_col="entity_id"
        ).localCheckpoint(eager=True)
        updated.write.mode("overwrite").parquet(labels_path)

    return apply
