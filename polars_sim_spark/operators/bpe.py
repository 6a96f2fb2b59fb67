"""Distributed BPE (byte-pair encoding) fit + tokenization.

Classic Sennrich-style BPE, restructured for Spark's execution model:
the corpus-scale work happens exactly ONCE (a word-frequency
aggregation, and at the end one explode + join to count tokens per
document); every fit iteration runs over the *word-frequency table*
(vocabulary-sized — bounded by distinct words, not corpus rows), which
is the standard trick that makes BPE corpus-size-independent after the
first pass. Per round:

  1. adjacent symbol pairs are counted with a frequency-weighted
     explode + groupBy over the vocab table (one small shuffle),
  2. a bounded handful of top rows is collected and a BATCH of merges
     is selected — the longest rank-prefix of token-disjoint pairs
     whose counts strictly dominate anything the earlier merges could
     affect, so the batch provably equals what one-at-a-time Sennrich
     iteration would pick (tie-break: count desc, then pair
     lexicographically; fully deterministic),
  3. the whole batch is applied to every vocab word JVM-side with ONE
     sequential-scan ``F.aggregate`` lambda (greedy left-to-right
     non-overlapping, the reference BPE semantics),
  4. the vocab table is ``localCheckpoint``-ed so lineage stays O(1)
     across rounds (same pattern as the connected-components loop in
     operators/dedup.py).

At 100 TB: the vocab table is heavy-tailed but bounded (≈ millions of
rows ≈ tens of MB); rounds cost one vocab-sized shuffle each and the
driver only ever receives one row per round. Tokenizing the corpus is
a words-explode + vocab join + per-doc sum — no per-document Python,
no chained per-row merge application at corpus scale.

No counterpart in /root/reference (north-star LLM-pipeline surface);
semantics pinned against a pure-Python Sennrich implementation in
tests/test_bpe.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from polars_sim_spark import cache as cache_registry

#: Merges between vocab-table checkpoints in :func:`bpe_fit` (bounds plan
#: growth; each checkpoint frees the blocks of the one it supersedes).
_CHECKPOINT_EVERY = 5

#: Pre-tokenizer: lowercase letter runs (BPE fits within-word; the
#: digit/punctuation classes of text_bpe_token_count's BPE-ish counter
#: are atomic tokens there and would be atomic here too — letters are
#: where merges live).
WORD_PATTERN = "[a-z]+"


def _apply_merges_expr(syms: Column, batch: list[tuple[str, str]]) -> Column:
    """One sequential-scan pass applying a BATCH of token-disjoint
    merges (no symbol of one rule — including its merged string —
    appears in another rule's {a, b, a+b}): because the rules cannot
    interact, one left-to-right pass with a when-chain is exactly the
    composition of the per-merge greedy passes in batch order. Each
    merge is greedy left-to-right and non-overlapping: a symbol is
    appended unless the accumulator's last element is ``a`` and the
    symbol is ``b``, which replaces the last element with ``a + b``.
    ``F.get`` (0-based, null-safe) instead of ``element_at`` keeps the
    empty-accumulator probe legal under ANSI mode."""
    def step(acc: Column, s: Column) -> Column:
        last = F.get(acc, F.size(acc) - 1)
        expr = F.concat(acc, F.array(s))
        for a, b in batch:
            expr = F.when(
                (last == F.lit(a)) & (s == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
                ),
            ).otherwise(expr)
        return expr

    return F.aggregate(syms, F.expr("CAST(array() AS ARRAY<STRING>)"), step)


def _select_merge_batch(
    rows: list, limit: int, fetched: int, prior_symbols: set[str]
) -> list[tuple[str, str]]:
    """Driver-side batch selection from the rank-sorted (cnt desc, a, b)
    pair rows, preserving EXACT sequential-BPE semantics. A later pair
    P_i is batchable with earlier selections only when the sequential
    recount between them provably cannot change the argmax:

    * prefix + token-disjoint — selection walks the rank order and stops
      at the first pair sharing ANY token ({a, b, a+b}) with a selected
      pair, so every pair a selected merge can touch ranks strictly
      after every selected one (count ≤ the stop pair's count);
    * strict dominance — applying earlier batch merges can only
      (i) leave token-disjoint pairs' counts unchanged, (ii) shrink
      overlapping pairs (≤ stop_cnt), or (iii) create occurrences of
      pairs containing a merged string, each creation consuming an
      overlapping-pair occurrence (≤ stop_cnt). A created pair can ALSO
      have pre-existing occurrences only if the merged string was
      ALREADY a symbol — and the symbol inventory is exactly the
      single characters plus every previously applied merge's string
      (``prior_symbols``), known on the driver. So the bound on any
      affected pair is stop_cnt, or 2·stop_cnt once an earlier batch
      merge recreates a prior symbol string. Selections are truncated
      to counts strictly above that bound (the head pair is always
      kept — it is the sequential argmax by definition), eliminating
      even tie cases.
    """
    sel: list[tuple[str, str]] = []
    sel_cnt: list[int] = []
    used: set[str] = set()
    stop_cnt = None
    for r in rows:
        if len(sel) == limit:
            stop_cnt = r["cnt"]
            break
        toks = {r["a"], r["b"], r["a"] + r["b"]}
        if sel and (toks & used):
            stop_cnt = r["cnt"]
            break
        sel.append((r["a"], r["b"]))
        sel_cnt.append(r["cnt"])
        used |= toks
    if stop_cnt is None:
        # ran off the collected rows: if the fetch was short the table is
        # exhausted (no unknown pairs — stop bound 0); otherwise unknown
        # pairs exist with count ≤ the last collected row's.
        stop_cnt = 0 if len(rows) < fetched else rows[-1]["cnt"]
    keep = 1
    recreates_prior = sel[0][0] + sel[0][1] in prior_symbols
    while keep < len(sel):
        bound = 2 * stop_cnt if recreates_prior else stop_cnt
        if sel_cnt[keep] <= bound:
            break
        recreates_prior = recreates_prior or (
            sel[keep][0] + sel[keep][1] in prior_symbols
        )
        keep += 1
    return sel[:keep]


def word_frequency_table(
    docs: DataFrame, text_col: str = "text", word_pattern: str = WORD_PATTERN
) -> DataFrame:
    """(word, freq, syms) — the ONE corpus-scale aggregation of the fit.
    ``syms`` starts as the word's characters."""
    words = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(word_pattern), F.lit(0))
    return (
        docs.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("syms", F.split(F.col("word"), ""))
    )


def bpe_fit(
    docs: DataFrame,
    text_col: str = "text",
    *,
    num_merges: int = 20,
    word_pattern: str = WORD_PATTERN,
    batch_size: int = 8,
    stats: dict | None = None,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Fit ``num_merges`` BPE merges on a corpus; returns the ordered
    merge list and the final vocab table (word, freq, syms) whose
    ``syms`` reflect all merges — ready for :func:`bpe_token_counts`.

    Rounds are BATCHED (``batch_size`` merges per driver round-trip,
    VERDICT r6 #3): each round collects the top pair rows once and
    selects, via :func:`_select_merge_batch`, the longest rank-prefix
    of token-disjoint pairs whose counts strictly dominate every pair
    the earlier merges in the batch could affect — a sufficient
    condition for the batch to equal the merges sequential Sennrich
    BPE would pick one at a time (pinned against the pure-Python
    reference in tests/test_bpe.py, including ``batch_size=1``
    equality). The selected merges apply in ONE scan lambda. A real
    50k-merge vocab thus costs thousands, not 50k, Spark jobs at the
    ~0.5 s/job launch latency that dominates small-scale fits
    (BASELINE.md records the measured rounds-vs-merges ratio).

    The per-round ``.collect()`` receives a bounded handful of rows
    (3·batch + 1) — driver-coordinated iteration in the Lloyd/k-means
    style, not a data collect. Lineage is truncated every
    ``_CHECKPOINT_EVERY`` merges. ``stats``, if given, receives
    {"rounds": r, "merges": m}."""
    vocab = cache_registry.Slot()
    wf = vocab.checkpoint(word_frequency_table(docs, text_col, word_pattern))
    merges: list[tuple[str, str]] = []
    rounds = 0
    merges_since_ckpt = 0
    while len(merges) < num_merges:
        limit = min(batch_size, num_merges - len(merges))
        fetch = 3 * limit + 1
        pairs = (
            wf.select(
                "freq",
                F.explode(
                    F.arrays_zip(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1).alias("a"),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1).alias("b"),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(fetch)
            .collect()
        )
        if not pairs:
            break
        rounds += 1
        batch = _select_merge_batch(
            pairs, limit, fetch, {a + b for a, b in merges}
        )
        merges.extend(batch)
        wf = wf.withColumn("syms", _apply_merges_expr(F.col("syms"), batch))
        merges_since_ckpt += len(batch)
        if merges_since_ckpt >= _CHECKPOINT_EVERY:
            wf = vocab.checkpoint(wf)
            merges_since_ckpt = 0
    if stats is not None:
        stats["rounds"] = rounds
        stats["merges"] = len(merges)
    return merges, wf


def bpe_token_counts(
    docs: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    word_pattern: str = WORD_PATTERN,
) -> DataFrame:
    """Per-document BPE token count using a fitted vocab table: explode
    words, join the vocab's per-word token count, sum per document.
    Documents with zero words keep a 0 via the left join. The vocab
    side is explicitly broadcast — it came through localCheckpoint, so
    the planner has no size stats for it (the mapInPandas lesson from
    BASELINE.md applies to checkpoints too)."""
    word_tok = vocab.select("word", F.size("syms").alias("n_tok"))
    words = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(word_pattern), F.lit(0))
    per_doc = (
        docs.select(F.col(id_col), F.explode(words).alias("word"))
        .join(F.broadcast(word_tok), "word")
        .groupBy(id_col)
        .agg(F.sum("n_tok").alias("n_bpe_tokens"))
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bpe_tokens"), F.lit(0)).cast("long").alias("n_bpe_tokens"),
        )
    )


def materialize_bpe_vocab(
    docs: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    num_merges: int = 20,
    word_pattern: str = WORD_PATTERN,
) -> list[tuple[str, str]]:
    """Fit BPE on a corpus and persist the tokenizer as a lake asset:
    the final vocab table (word, freq, syms, n_tok) under ``path`` and
    the ordered merge list under ``path/_merges`` — the BPE member of
    the persisted-index family (token postings / LSH bands / IVF cells
    / BM25 postings / IVF-PQ). A tokenizer is fit once on a corpus
    snapshot and then applied to every later batch; re-deriving it per
    run re-pays the corpus pass and (worse) silently changes token
    counts as the corpus drifts. Returns the merge list."""
    merges, vocab = bpe_fit(
        docs, text_col, num_merges=num_merges, word_pattern=word_pattern
    )
    out = vocab.withColumn("n_tok", F.size("syms"))
    out.write.mode("overwrite").parquet(path)
    spark = docs.sparkSession
    spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)], "i int, a string, b string"
    ).write.mode("overwrite").parquet(path.rstrip("/") + "/_merges")
    return merges


def bpe_token_counts_prebuilt(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    word_pattern: str = WORD_PATTERN,
) -> DataFrame:
    """Per-document token counts against a :func:`materialize_bpe_vocab`
    asset: no fit, no merge application — one explode + broadcast vocab
    join. Words ABSENT from the stored vocab (corpus drift since the
    fit) fall back to their character count, the exact cost an
    untrained BPE assigns an unseen word before any merge applies."""
    spark = docs.sparkSession
    vocab = spark.read.parquet(path).select("word", "n_tok")
    words = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(word_pattern), F.lit(0))
    per_doc = (
        docs.select(F.col(id_col), F.explode(words).alias("word"))
        .join(F.broadcast(vocab), "word", "left")
        .withColumn("__n", F.coalesce(F.col("n_tok"), F.length("word").cast("int")))
        .groupBy(id_col)
        .agg(F.sum("__n").alias("n_bpe_tokens"))
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bpe_tokens"), F.lit(0)).cast("long").alias("n_bpe_tokens"),
        )
    )
