"""Approximate string-similarity join — the reference's single operator
(P1, reference ``python/polars_sim/dataframe/join.py:15-149``), rebuilt as
a declarative Spark pipeline.

Semantics (pinned by SURVEY.md §1.4 / FIXTURES.md):

* each key string → set of distinct in-vocab ``[a-z]{3}`` character
  trigrams, binary weights;
* ``normalization="l2"``: sim = |T(x) ∩ T(y)| / (√|T(x)| · √|T(y)|)
  (cosine over binary vectors); ``"count"``: sim = |T(x) ∩ T(y)|;
* per left row keep the ``top_n`` highest sims (reference ties are
  arbitrary, ``src/cossim.rs:120-127``; we refine to the deterministic
  tiebreak ``ORDER BY sim DESC, col`` so results are reproducible and
  oracle-comparable);
* left rows with no nonzero-sim candidate are absent from the output
  (inner-join semantics, reference ``join.py:145-146``);
* null / <3-char keys → no match (deviation: the reference panics on
  null, ``src/cossim.rs:42``).

Physical design (Spark-first, NOT a port of the Rust kernel):

The reference's multithreaded CSR sparse-matrix product with fused top-n
(``src/cossim.rs:62-141``, sparse_dot_topn) is algebraically an equi-join
on trigram token followed by a grouped count and a per-group top-k. We
declare exactly that and let Catalyst/Tungsten choose the execution:

    tokens(L) ⋈_token tokens(R) → groupBy(row,col).count → window top-n

* ``strategy="broadcast"``: the right side's token postings are broadcast
  (the analog of the reference holding all of B in memory per thread,
  ``src/cossim.rs:277``) — no shuffle of the big left side at all.
* ``strategy="shuffle"``: both posting lists shuffle-partition BY TOKEN —
  this is the 100 TB path; work distributes over executors with no
  single-machine memory bound (the reference's dense accumulator is
  O(|B|) per thread; we have no such bound).
* ``strategy="auto"``: like the reference's ``threading_dimension="auto"``
  heuristic (``join.py:107-114``) we pick by size: broadcast when the
  right side is small enough.

One scorer serves every entry point: ``_postings`` builds the right side
in the shape :func:`materialize_token_postings` stores, and
``_score_topn`` scores it for the live join and the postings serve alike.

Scale notes (100 TB): the trigram vocabulary is only 26³ = 17,576, so
ultra-frequent tokens create join fan-out skew. Mitigations built in:
AQE skew-join splitting is enabled by the session factory, and
``max_token_df`` optionally prunes tokens whose document frequency
exceeds a cutoff (a documented deviation — such tokens carry almost no
cosine signal but dominate the pair count). Spark 3.5+ pushes the
``row_number() <= k`` predicate into a WindowGroupLimit, so the top-n is
applied partially before the final sort of each group.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from polars_sim_spark import cache as cache_registry
from polars_sim_spark.functions.text import normalize_string_col, trigram_tokens

_ROW = "__pss_row"
_COL = "__pss_col"

#: Auto-strategy: broadcast the right postings when the right side has at
#: most this many rows (each row expands to ~|tokens| posting entries;
#: mirrors the reference's auto heuristic role at ``join.py:107-114``).
#: MEASURED, not assumed (tools/bench_crossover.py, BASELINE.md): the
#: broadcast build is a single-threaded driver collect+build that grows
#: with the posting count — past ~250k right rows the shuffle path
#: reliably wins (2× at 1M) and is far less variance-prone, so the
#: cutoff sits at the measured break-even.
BROADCAST_RIGHT_MAX_ROWS = 250_000


def _tokens_long(
    df: DataFrame,
    key: str,
    id_col: str,
    apply_word_normalization: bool,
    n_tok_name: str,
) -> DataFrame:
    """(id, key) → exploded posting list (id, n_tok, token)."""
    s: Column = F.col(key)
    if apply_word_normalization:
        s = normalize_string_col(s)
    toks = trigram_tokens(s)
    return (
        df.select(F.col(id_col), toks.alias("__toks"))
        .where(F.size("__toks") > 0)
        .select(
            id_col,
            F.size("__toks").alias(n_tok_name),
            F.explode("__toks").alias("__token"),
        )
    )


#: Micro-unit scale for TF-IDF weights: one weight unit = 1e-6 idf. All
#: dot products / norms are exact int64 sums of squared micro-weights
#: (1e-12 units), so the similarity is a deterministic function of the
#: corpus — reproducible bit-for-bit by the DuckDB oracle.
IDF_MICRO = 1_000_000


def _idf_micro_expr(n_docs: int, df_col: Column) -> Column:
    """Smoothed IDF in exact micro-units: round((ln((1+N)/(1+df)) + 1)·1e6).

    The sklearn-standard smooth formulation (never zero, defined at
    df=0). Every operation is IEEE-deterministic given integer inputs —
    exact double division, libm ln, exact +1.0, one HALF_UP round — so
    Spark and DuckDB produce the same bigint for the same (N, df); all
    downstream arithmetic is exact integer sums.
    """
    idf = F.log(
        F.lit(float(1 + n_docs)) / (F.lit(1.0) + df_col.cast("double"))
    ) + F.lit(1.0)
    return F.round(idf * F.lit(float(IDF_MICRO)), 0).cast("bigint")


def idf_micro_weight(n_docs: int, df: int) -> int:
    """Driver-side twin of :func:`_idf_micro_expr` (same HALF_UP round —
    python's round() is banker's, so floor(x+0.5) instead)."""
    import math

    return int(math.floor((math.log((1 + n_docs) / (1.0 + df)) + 1.0) * IDF_MICRO + 0.5))


def build_idf_weights(
    corpus: DataFrame,
    on: str,
    *,
    apply_word_normalization: bool = False,
) -> tuple[DataFrame, int, int]:
    """Per-trigram IDF weight table from a corpus — the fit half of the
    TF-IDF-weighted similarity join (the reference's own declared roadmap:
    the ``// TODO: eventually we could use tfidf`` comment above the
    binary-weight choice at ``src/cossim.rs:45-48``).

    Document frequency is counted over the corpus's DISTINCT (normalized,
    when ``apply_word_normalization``) key strings with a nonzero trigram
    set — the same collapse-invariant granularity the distinct-key
    similarity pass evaluates at, so repeated rows never inflate a
    token's weight. Returns ``(weights, n_docs, default_w2)``:
    ``weights`` has columns ``(__token, __w2)`` where ``__w2`` is the
    SQUARED micro-unit weight (the only form the pipeline consumes:
    binary TF over distinct trigrams makes every dot-product term
    idf(t)²); ``default_w2`` is the squared weight of a token the corpus
    never saw (df=0).

    Scale: the weight table is bounded by the 26³=17,576-token vocabulary
    regardless of corpus size — always broadcastable; the df aggregation
    is one map-side-combining pass over distinct corpus strings.
    """
    s: Column = F.col(on)
    if apply_word_normalization:
        s = normalize_string_col(s)
    strs = (
        corpus.select(s.alias("__s"))
        .where(F.col("__s").isNotNull())
        .distinct()
        .select(trigram_tokens(F.col("__s")).alias("__toks"))
        .where(F.size("__toks") > 0)
    )
    strs = cache_registry.track(strs)  # referenced by the count AND the df agg
    n_docs = strs.count()
    w = _idf_micro_expr(n_docs, F.col("__df"))
    weights = (
        strs.select(F.explode("__toks").alias("__token"))
        .groupBy("__token")
        .agg(F.count(F.lit(1)).alias("__df"))
        .select("__token", (w * w).alias("__w2"))
    )
    w0 = idf_micro_weight(n_docs, 0)
    return weights, n_docs, w0 * w0


def _weigh(tokens: DataFrame, idf: tuple[DataFrame, int], *keep: str) -> DataFrame:
    """Attach each posting's squared idf weight ``__w2`` (``w0_sq`` for a
    token the fit never saw); the weight table is ≤ 26³ rows, so broadcast."""
    weights, w0_sq = idf
    return tokens.join(F.broadcast(weights), "__token", "left").select(
        *keep, F.coalesce("__w2", F.lit(int(w0_sq))).alias("__w2")
    )


def _postings(
    df: DataFrame,
    on: str,
    id_col: str,
    apply_word_normalization: bool,
    idf: tuple[DataFrame, int] | None = None,
) -> DataFrame:
    """The right-side posting list, in exactly the columns
    :func:`materialize_token_postings` stores: ``(id, __nr, __token)``
    for binary weights, ``(id, __nr, __token, __w2, __nr2)`` under
    TF-IDF (``__nr2`` = the row's squared doc norm, denormalized onto
    each posting). Norms are attached here, before any ``max_token_df``
    pruning, so a pruned posting list keeps every row's FULL norm."""
    rt = _tokens_long(df, on, id_col, apply_word_normalization, "__nr")
    if idf is None:
        return rt
    rtw = _weigh(rt, idf, id_col, "__nr", "__token")
    nr2 = rtw.groupBy(id_col).agg(F.sum("__w2").alias("__nr2"))
    return rtw.join(nr2, id_col)


def _top_n(scored: DataFrame, left_id: str, right_id: str, top_n: int, ties: bool = False) -> DataFrame:
    """Per-left-row top-n (src/cossim.rs:110-133), tiebreak sim DESC,
    right_id ASC; Catalyst rewrites rank<=k into a WindowGroupLimit
    (partial top-k before the shuffle, like csr.rs:213-269). ``ties``
    keeps boundary ties (rank) for the distinct-key pre-pass."""
    if ties:
        w = Window.partitionBy(left_id).orderBy(F.desc("sim"))
        rankf = F.rank()
    else:
        w = Window.partitionBy(left_id).orderBy(F.desc("sim"), F.asc(right_id))
        rankf = F.row_number()
    return (
        scored.withColumn("__rn", rankf.over(w))
        .where(F.col("__rn") <= top_n)
        .drop("__rn")
    )


def _score_topn(
    lt: DataFrame,
    rpost: DataFrame,
    *,
    left_id: str,
    right_id: str,
    normalization: str,
    top_n: int,
    idf: tuple[DataFrame, int] | None,
    ties: bool = False,
) -> DataFrame:
    """The one scoring core: left token postings ``lt`` (``_tokens_long``)
    ⋈ right postings ``rpost`` (``_postings`` shape, live or stored) →
    per-pair aggregate → sim → top-n window."""
    if idf is None:
        # Binary weights ⇒ the sparse dot product (src/cossim.rs:88-108)
        # is a plain overlap count per (row, col) pair; with binary
        # weights ‖x‖₂ = √|T(x)|.
        probe, dot, nl, nr = lt, "__overlap", "__nl", "__nr"
        aggs = [F.count(F.lit(1)).alias(dot), F.first(nl).alias(nl)]
    else:
        # TF-IDF (the reference's declared roadmap, src/cossim.rs:45-48):
        # each distinct trigram weighs idf(t) in exact micro-units, so a
        # pair term is the stored posting's exact int64 idf(t)² and norms
        # are exact int64 sums — oracle-reproducible bit for bit. The
        # left norm is a map-side-combining agg over the probe postings.
        ltw = _weigh(lt, idf, left_id, "__token")
        probe, dot, nl, nr = ltw.drop("__w2"), "__dot", "__nl2", "__nr2"
        aggs = [F.sum("__w2").alias(dot)]
    pairs = (
        probe.join(rpost, "__token")
        .groupBy(left_id, right_id)
        .agg(*aggs, F.first(nr).alias(nr))
    )
    if idf is not None:
        pairs = pairs.join(ltw.groupBy(left_id).agg(F.sum("__w2").alias(nl)), left_id)
    if normalization == "l2":
        # L2 row-normalization (src/csr.rs:194-210) folded into one final
        # multiply; exact ints → IEEE-deterministic, identical in the oracle.
        sim = F.col(dot) / (F.sqrt(F.col(nl)) * F.sqrt(F.col(nr)))
    elif idf is None:
        sim = F.col(dot).cast("double")
    else:
        # Weighted overlap in natural idf units (micro² → unit).
        sim = F.col(dot) / F.lit(float(IDF_MICRO) ** 2)
    return _top_n(pairs.select(left_id, right_id, sim.alias("sim")), left_id, right_id, top_n, ties)


def _live_score(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_id: str,
    right_id: str,
    *,
    normalization: str,
    apply_word_normalization: bool,
    strategy: str,
    max_token_df: int | None,
    top_n: int,
    idf: tuple[DataFrame, int] | None,
    ties: bool = False,
) -> DataFrame:
    """Tokenize both sides and score (``strategy`` already resolved)."""
    lt = _tokens_long(left, left_on, left_id, apply_word_normalization, "__nl")
    rpost = _postings(right, right_on, right_id, apply_word_normalization, idf)
    if max_token_df is not None:
        # Prune ultra-frequent tokens on the right side (skew guard). The
        # norms rode in with the postings, so pruning only removes overlap
        # terms: a doc containing a hot token keeps its true norm and its
        # sims can only shrink, never inflate.
        hot = (
            rpost.groupBy("__token")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_token_df)
            .select("__token")
        )
        rpost = rpost.join(F.broadcast(hot), "__token", "left_anti")
    if strategy == "broadcast":
        rpost = F.broadcast(rpost)
    return _score_topn(
        lt, rpost, left_id=left_id, right_id=right_id,
        normalization=normalization, top_n=top_n, idf=idf, ties=ties,
    )


def _validate(normalization: str, top_n: int, weighting: str, left_id: str, right_id: str) -> None:
    """Argument checks shared by the live and the served entry points."""
    if normalization not in ("l2", "count"):
        raise ValueError(f"normalization must be 'l2' or 'count', got {normalization!r}")
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    if weighting not in ("binary", "tfidf"):
        raise ValueError(f"weighting must be 'binary' or 'tfidf', got {weighting!r}")
    if left_id == right_id:
        raise ValueError(
            f"left_id and right_id must be distinct column names (both {left_id!r}); "
            "alias one side first, or use join_sim() which handles the rename"
        )


def similarity_mapping(
    left: DataFrame,
    right: DataFrame,
    *,
    left_on: str,
    right_on: str,
    top_n: int = 10,
    normalization: str = "l2",
    apply_word_normalization: bool = False,
    strategy: str = "auto",
    left_id: str = _ROW,
    right_id: str = _COL,
    max_token_df: int | None = None,
    dedup_keys: bool = True,
    weighting: str = "binary",
    idf_corpus: DataFrame | None = None,
    idf_on: str | None = None,
) -> DataFrame:
    """Compute the (row, col, sim) mapping table — the Spark equivalent of
    the reference kernel's COO output (``src/cossim.rs:203-262``).

    ``left``/``right`` must already carry unique id columns ``left_id`` /
    ``right_id``. Returns columns: ``left_id``, ``right_id``, ``sim``
    (double).

    ``dedup_keys=True`` (default) computes similarities over DISTINCT key
    strings and expands back to rows afterwards — an exact optimization
    (identical strings have identical token sets) that collapses the
    quadratic token-join fan-out when keys repeat. On high-duplication
    data this is the difference between O(|distinct|²·sel) and O(|rows|²·
    sel) intermediate pairs; on all-unique data it costs one
    pre-aggregation that keys each distinct string by its token set.
    Standard practice in set-similarity-join literature; the reference
    has no such step (it recomputes per row).
    """
    _validate(normalization, top_n, weighting, left_id, right_id)
    if strategy not in ("auto", "broadcast", "shuffle"):
        raise ValueError(f"strategy must be 'auto', 'broadcast' or 'shuffle', got {strategy!r}")
    if idf_on is not None and idf_corpus is None:
        raise ValueError("idf_on names a column of idf_corpus; pass idf_corpus too")
    if weighting == "binary" and idf_corpus is not None:
        raise ValueError("idf_corpus only applies with weighting='tfidf'")
    idf = None
    if weighting == "tfidf":
        # Fit the IDF table ONCE, from the original corpus (default: the
        # right side's key strings), BEFORE any distinct-key collapse —
        # representatives must not distort document frequencies. Cached:
        # both sides' posting joins read it.
        corpus = idf_corpus if idf_corpus is not None else right
        ccol = idf_on if idf_on is not None else right_on
        if ccol not in corpus.columns:
            raise ValueError(f"idf corpus column {ccol!r} not in corpus frame")
        weights, _, w0_sq = build_idf_weights(
            corpus, ccol, apply_word_normalization=apply_word_normalization
        )
        idf = (cache_registry.track(weights), w0_sq)

    ids = (left_on, right_on, left_id, right_id)
    kw = dict(
        top_n=top_n,
        normalization=normalization,
        apply_word_normalization=apply_word_normalization,
        max_token_df=max_token_df,
        idf=idf,
    )
    if dedup_keys:
        return _similarity_mapping_distinct(left, right, *ids, strategy=strategy, **kw)
    if strategy == "auto":
        # Mirrors the reference's row-count heuristic (join.py:107-114):
        # pick the physical variant from the size of the right side. The
        # decision only needs "≤ cutoff or not", never the exact
        # cardinality, so the scout is a column-pruned LIMIT cutoff+1
        # count — CollectLimit short-circuits the scan after cutoff+1
        # rows, keeping this O(cutoff) even on a billion-row right side
        # (a bare right.count() here was a full O(N) blocking job).
        bounded = right.select(right_id).limit(BROADCAST_RIGHT_MAX_ROWS + 1).count()
        strategy = "broadcast" if bounded <= BROADCAST_RIGHT_MAX_ROWS else "shuffle"
    return _live_score(left, right, *ids, strategy=strategy, **kw)


def _similarity_mapping_distinct(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_id: str,
    right_id: str,
    *,
    top_n: int,
    apply_word_normalization: bool,
    strategy: str,
    **score,
) -> DataFrame:
    """Distinct-TOKEN-SET evaluation of the similarity mapping (exact).

    Two strings with the same trigram set have identical similarity
    vectors, so sims are computed once per distinct token SET — a
    strictly coarser (and never larger) grouping than distinct strings.
    On data whose keys collapse under tokenization (e.g. names differing
    only in digits/punctuation, which the [a-z]³ vocabulary drops) this
    shrinks the quadratic pair space by orders of magnitude.

    1. distinct strings per side → token-set key (md5 of the sorted
       token array) → one REPRESENTATIVE string per set (any string with
       that set tokenizes identically). Each side's distinct strings
       are cached keyed, and one scout aggregate counts distinct strings
       and distinct keys per side. Only a side whose strings actually
       collapse (fewer keys than strings) is grouped by key; the other
       uses each string as its own key;
    2. sims over (left set × right set) pairs via the representatives;
    3. per left set keep ``rank() <= top_n`` by sim DESC (rank, not
       row_number: boundary ties must survive because the row-level
       tiebreak crosses sets that share a sim);
    4. expand kept set pairs → right strings → right rows, take the true
       row-level top-n per left set (sim DESC, right_id ASC);
    5. expand to left strings → left rows.

    ``score`` (normalization, max_token_df, idf) passes to the scorer.
    """
    def _distinct_strings(df, col, out_str):
        return (
            df.select(F.col(col).alias(out_str))
            .where(F.col(col).isNotNull())
            .distinct()
        )

    def _set_key(out_str):
        s = F.col(out_str)
        if apply_word_normalization:
            s = normalize_string_col(s)
        return F.md5(F.concat_ws("\x01", F.sort_array(trigram_tokens(s))))

    # Each side's distinct strings are cached WITH their token-set keys
    # (the keyed frame feeds the scout, the representative pick and the
    # final set→string expansion). A self-join's right side is the same
    # plan as the left: read the left cache instead of persisting again.
    lstr = cache_registry.track(
        _distinct_strings(left, left_on, "__ls").withColumn("__key", _set_key("__ls"))
    )
    rstr = _distinct_strings(right, right_on, "__rs").withColumn("__key", _set_key("__rs"))
    if rstr.sameSemantics(lstr):
        rstr = lstr.withColumnRenamed("__ls", "__rs")
    else:
        rstr = cache_registry.track(rstr)

    # ONE scout aggregate decides the whole plan shape before any
    # quadratic work: per side, the number of distinct strings and of
    # distinct token sets. It materializes both caches and resolves the
    # auto broadcast-vs-shuffle choice, so the inner call never needs
    # its own count job.
    stats = {
        r["__side"]: r
        for r in (
            lstr.select(F.lit("l").alias("__side"), "__key")
            .unionByName(rstr.select(F.lit("r").alias("__side"), "__key"))
            .groupBy("__side")
            .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("__key").alias("sk"))
            .collect()
        )
    }
    empty = {"n": 0, "sk": 0}  # a side with no rows contributes no group
    lc, rc = stats.get("l", empty), stats.get("r", empty)
    # PER-SIDE decision (exact either way: set-keying groups one side's
    # strings by identical token sets, independent of the other side).
    # Only a side whose strings actually collapse pays the extra
    # representative pick and set→string expansion join.
    l_keyed = lc["sk"] < lc["n"]
    r_keyed = rc["sk"] < rc["n"]
    if strategy == "auto":
        # Distinct right strings bound the right representatives from
        # above, so this broadcast decision is safe for both key modes.
        strategy = "broadcast" if rc["n"] <= BROADCAST_RIGHT_MAX_ROWS else "shuffle"

    if l_keyed:
        lreps = lstr.dropDuplicates(["__key"]).select(F.col("__key").alias("__lkey"), "__ls")
    else:
        lreps = lstr.select(F.col("__ls").alias("__lkey"), "__ls")
    if r_keyed:
        rreps = rstr.dropDuplicates(["__key"]).select(F.col("__key").alias("__rkey"), "__rs")
    else:
        rreps = rstr.select(F.col("__rs").alias("__rkey"), "__rs")

    smap = _live_score(
        lreps, rreps, "__ls", "__rs", "__lkey", "__rkey",
        apply_word_normalization=apply_word_normalization,
        strategy=strategy,
        top_n=top_n,
        ties=True,
        **score,
    )

    rrows = right.select(F.col(right_id), F.col(right_on).alias("__rs"))
    if r_keyed:
        smap = smap.join(rstr.withColumnRenamed("__key", "__rkey"), "__rkey")
    else:
        smap = smap.withColumnRenamed("__rkey", "__rs")
    cand = smap.join(rrows, "__rs").select("__lkey", right_id, "sim")
    per_set = _top_n(cand, "__lkey", right_id, top_n)
    lrows = left.select(F.col(left_id), F.col(left_on).alias("__ls"))
    if l_keyed:
        per_set = per_set.join(lstr.withColumnRenamed("__key", "__lkey"), "__lkey")
    else:
        per_set = per_set.withColumnRenamed("__lkey", "__ls")
    return per_set.join(lrows, "__ls").select(left_id, right_id, "sim")


def join_sim(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str | None = None,
    left_on: str | None = None,
    right_on: str | None = None,
    top_n: int = 10,
    normalization: str = "l2",
    apply_word_normalization: bool = False,
    suffix: str = "_right",
    add_mapping: bool = False,
    add_similarity: bool = True,
    strategy: str = "auto",
    left_id: str | None = None,
    right_id: str | None = None,
    max_token_df: int | None = None,
    threads: int | None = None,
    threading_dimension: str | None = None,
    weighting: str = "binary",
    idf_corpus: DataFrame | None = None,
    idf_on: str | None = None,
) -> DataFrame:
    """Approximate string-similarity join (reference ``join_sim``,
    ``join.py:15-149``), keyword-compatible where Spark semantics allow.

    ``weighting="tfidf"`` implements the reference's own declared roadmap
    (the ``// TODO: eventually we could use tfidf`` comment above the
    binary-weight choice, ``src/cossim.rs:45-48``): trigrams are weighted
    by smoothed IDF (``ln((1+N)/(1+df)) + 1``) fitted over the distinct
    key strings of ``idf_corpus[idf_on]`` (default: the right side's key
    column), in exact micro-units so results are bit-reproducible.
    ``weighting="binary"`` (default) is the reference's shipped behavior,
    untouched.

    Differences from the reference, all deliberate and documented:

    * ``threads`` / ``threading_dimension`` → ``strategy`` — Spark owns
      parallelism; the left/right threading choice maps to the
      broadcast-vs-shuffle physical strategy (SURVEY.md §3.2/§3.4).
      Both reference keywords are ACCEPTED for drop-in compatibility:
      ``threading_dimension="left"`` selects the broadcast path (the
      analog of the reference's whole-B-per-thread kernel,
      ``src/cossim.rs:277``), ``"right"`` the shuffle path
      (``src/cossim.rs:281-288``), ``"auto"`` the size heuristic
      (``join.py:107-114``); ``threads`` (the reference sizes its rayon
      pool with it, ``join.py:68-69``, ``src/cossim.rs:301``) maps to
      ``repartition(threads)`` of the probe (left) side — the Spark
      analog of "how many workers chew on the left rows". Omit it to
      let Spark/AQE pick (the recommended default).
    * row identity: Spark has no stable row order, so ``row``/``col`` ids
      come from ``left_id``/``right_id`` columns you supply (natural
      keys); if omitted, non-contiguous ids are generated with
      ``monotonically_increasing_id`` (fine for join-back, not stable
      across runs — pass natural keys for reproducible output).
    * null/short keys yield no match instead of panicking.
    * top-n ties are broken deterministically (sim DESC, col ASC).
    """
    if threading_dimension is not None:
        mapped = {"left": "broadcast", "right": "shuffle", "auto": "auto"}
        if threading_dimension not in mapped:
            raise ValueError(
                f"threading_dimension must be 'left', 'right' or 'auto', got {threading_dimension!r}"
            )
        strategy = mapped[threading_dimension]
    if threads is not None:
        if threads < 1:
            raise ValueError(f"threads must be >= 1, got {threads}")
        # Parallelism hint (see docstring): partition the probe side the
        # way the reference sizes its thread pool.
        left = left.repartition(threads)

    if on is not None:
        if left_on is not None or right_on is not None:
            raise ValueError("pass either on= or left_on=/right_on=, not both")
        left_on, right_on = on, on
    if left_on is None or right_on is None:
        raise ValueError("must pass on= or both left_on= and right_on=")
    if left_on not in left.columns:
        raise ValueError(f"column {left_on!r} not in left frame")
    if right_on not in right.columns:
        raise ValueError(f"column {right_on!r} not in right frame")

    gen_left = left_id is None
    gen_right = right_id is None
    if gen_left:
        left_id = _ROW
        left = left.withColumn(_ROW, F.monotonically_increasing_id())
    if gen_right:
        right_id = _COL
        right = right.withColumn(_COL, F.monotonically_increasing_id())
    if not gen_left and left_id not in left.columns:
        raise ValueError(f"left_id column {left_id!r} not in left frame")
    if not gen_right and right_id not in right.columns:
        raise ValueError(f"right_id column {right_id!r} not in right frame")

    # Cache generated-id frames: monotonically_increasing_id is
    # plan-position dependent, so the mapping pass and the re-assembly
    # pass must observe identical ids. Note `left`/`right` here are the
    # withColumn DERIVATIVES, never the caller's own DataFrame, so a
    # later cache.unpersist_all() (non-cascading) cannot evict a cache
    # the application holds on its source frames (cache.py contract).
    if gen_left:
        left = cache_registry.track(left)
    if gen_right:
        right = cache_registry.track(right)

    map_left_id = left_id if left_id != right_id else "__pss_lid"
    map_right_id = right_id if left_id != right_id else "__pss_rid"
    mapping = similarity_mapping(
        left.withColumnRenamed(left_id, map_left_id) if map_left_id != left_id else left,
        right.withColumnRenamed(right_id, map_right_id) if map_right_id != right_id else right,
        left_on=left_on,
        right_on=right_on,
        top_n=top_n,
        normalization=normalization,
        apply_word_normalization=apply_word_normalization,
        strategy=strategy,
        left_id=map_left_id,
        right_id=map_right_id,
        max_token_df=max_token_df,
        weighting=weighting,
        idf_corpus=idf_corpus,
        idf_on=idf_on,
    )

    # Re-assembly (join.py:143-149): net-inner join of both payloads onto
    # the mapping. Right-side name collisions get ``suffix`` (Spark has no
    # join-suffix option, so rename up front). The computed ``sim`` column
    # is part of the namespace too: a payload column literally named "sim"
    # (either side) must move out of its way, and a rename target that
    # already exists keeps gaining the suffix until unique.
    taken = set(left.columns)
    if add_similarity:
        taken.add("sim")

    def _uniquify(name: str, *extra_taken: set[str]) -> str:
        new = f"{name}{suffix}"
        while new in taken or any(new in s for s in extra_taken):
            new += suffix
        return new

    if add_similarity and "sim" in left.columns and left_id != "sim":
        left = left.withColumnRenamed("sim", _uniquify("sim", set(right.columns)))
        taken = set(left.columns) | {"sim"}
    right_renamed = right
    for c in right.columns:
        if c == right_id:
            continue
        if c in taken:
            new = _uniquify(c, set(right_renamed.columns))
            right_renamed = right_renamed.withColumnRenamed(c, new)
            taken.add(new)

    lj = left if map_left_id == left_id else left.withColumnRenamed(left_id, map_left_id)
    rj = (
        right_renamed
        if map_right_id == right_id
        else right_renamed.withColumnRenamed(right_id, map_right_id)
    )

    out = mapping.join(lj, map_left_id, "inner").join(rj, map_right_id, "inner")

    # Column-set semantics of add_mapping/add_similarity (join.py:147-148).
    left_payload = [c for c in lj.columns if c != map_left_id]
    right_payload = [c for c in rj.columns if c != map_right_id]
    cols: list[str] = []
    if add_mapping:
        cols += [map_left_id, map_right_id]
    elif not gen_left or not gen_right:
        # Natural-key ids stay (they are real payload columns) — but only
        # the ones the caller supplied.
        if not gen_left:
            cols.append(map_left_id)
        if not gen_right:
            cols.append(map_right_id)
    cols += left_payload + right_payload
    if add_similarity:
        cols.append("sim")
    out = out.select(*cols)
    # Undo the internal id rename from the self-join-key collision case.
    if map_left_id != left_id and map_left_id in out.columns:
        out = out.withColumnRenamed(map_left_id, left_id)
    if map_right_id != right_id and map_right_id in out.columns:
        new_name = right_id if right_id not in out.columns else f"{right_id}{suffix}"
        out = out.withColumnRenamed(map_right_id, new_name)
    return out


def materialize_token_postings(
    right: DataFrame,
    table: str,
    *,
    on: str,
    id_col: str,
    apply_word_normalization: bool = False,
    num_buckets: int = 32,
    weighting: str = "binary",
) -> None:
    """Persist a reference table's trigram posting list as a catalog
    table BUCKETED on the token — the cross-run half of the similarity
    join, mirroring ``dedup.materialize_history_bands``: an entity-
    resolution pipeline fuzzy-joins every incoming batch against the
    same canonical dimension (master vendor list, catalog, gazetteer),
    and that side's tokenization + posting explosion is a pure function
    of its strings. Materialized once, every
    :func:`similarity_mapping_against_postings` run reads it co-located:
    the token join carries no Exchange on the reference side
    (plan-asserted in tests/test_sinks.py). Columns: ``(<id_col>,
    __nr, __token)`` — exactly the right side of the in-memory join.
    Set ``num_buckets`` to the probe runs' shuffle parallelism.

    ``weighting="tfidf"`` (round 10) additionally freezes the IDF model
    at build time — the BM25-append pattern's frozen-stats move applied
    to the similarity join: posting rows gain ``__w2`` (squared
    micro-unit weight) and ``__nr2`` (the row's denormalized doc
    norm²), and two sidecar tables are written — ``<table>_weights``
    (token, __w2: the FULL idf table, vocabulary-bounded) and
    ``<table>_stats`` (default_w2 for tokens the reference corpus never
    saw, which the probe side needs for ITS norms). Serving reads only
    these tables; the reference corpus is never re-fit.
    """
    from polars_sim_spark.sources.sinks import write_bucketed

    if weighting not in ("binary", "tfidf"):
        raise ValueError(f"weighting must be 'binary' or 'tfidf', got {weighting!r}")
    spark = right.sparkSession
    idf = None
    if weighting == "tfidf":
        weights, _, w0_sq = build_idf_weights(
            right, on, apply_word_normalization=apply_word_normalization
        )
        idf = (cache_registry.track(weights), w0_sq)  # read by postings AND sidecar
        idf[0].write.mode("overwrite").saveAsTable(f"{table}_weights")
        spark.createDataFrame([(w0_sq,)], "default_w2 long").write.mode(
            "overwrite"
        ).saveAsTable(f"{table}_stats")
    else:
        # A stale tfidf sidecar would send later appends down the weighted arm.
        for t in (f"{table}_weights", f"{table}_stats"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    write_bucketed(
        _postings(right, on, id_col, apply_word_normalization, idf),
        table, bucket_by=["__token"], num_buckets=num_buckets, sort_by=["__token"],
    )


def append_token_postings(
    new_rows: DataFrame,
    table: str,
    *,
    on: str,
    id_col: str,
    apply_word_normalization: bool = False,
    num_buckets: int = 32,
) -> None:
    """Incremental maintenance for the similarity-join postings — the
    index-append pattern (``append_to_bm25_index``,
    ``append_to_ivfpq_index``, ``append_packed_sequences``) applied to
    the reference's OWN operator: newly appended reference rows are
    fuzzy-matchable immediately, with the frozen-model contract a
    serving tier exhibits between rebuilds.

    Binary tables (no ``<table>_weights`` sidecar) append plain posting
    rows. TF-IDF tables weigh the new rows' tokens through the STORED
    sidecar — document frequencies are NOT refit (a token the build
    never saw gets the stored ``default_w2``, the frozen-idf behavior),
    and the sidecars are not rewritten; weights refresh only on the
    next full build. Equivalence to a rebuild with pinned weights is
    tested in tests/test_sinks.py.

    Scale: one pass over the NEW rows only; the existing index is
    touched solely through the vocabulary-bounded weights sidecar. The
    append lands through the same token-bucketed writer, so the serve
    plan keeps its exchange-free reference side (Spark rejects a
    mismatched ``num_buckets`` loudly)."""
    from polars_sim_spark.sources.sinks import write_bucketed

    spark = new_rows.sparkSession
    idf = None
    if spark.catalog.tableExists(f"{table}_weights"):
        w0_sq = int(spark.table(f"{table}_stats").collect()[0]["default_w2"])
        idf = (spark.table(f"{table}_weights"), w0_sq)
    write_bucketed(
        _postings(new_rows, on, id_col, apply_word_normalization, idf),
        table, bucket_by=["__token"], num_buckets=num_buckets, sort_by=["__token"],
        mode="append",
    )


def similarity_mapping_against_postings(
    left: DataFrame,
    right_postings: DataFrame,
    *,
    left_on: str,
    right_id: str,
    top_n: int = 10,
    normalization: str = "l2",
    apply_word_normalization: bool = False,
    left_id: str = _ROW,
    weighting: str = "binary",
    idf_weights: DataFrame | None = None,
    default_w2: int | None = None,
) -> DataFrame:
    """:func:`similarity_mapping` with a PRECOMPUTED right posting list
    (``materialize_token_postings`` output, typically
    ``spark.table(...)``) — identical (left_id, right_id, sim) rows to
    the shuffle-strategy live join over the same reference table
    (equivalence-tested), but the reference side is never re-tokenized,
    re-exploded, or re-shuffled. The probe (left) side tokenizes its own
    postings; scoring is the live join's own core (``_score_topn``).

    Fit: reference tables of NEAR-UNIQUE strings (the master-list /
    gazetteer case). This twin matches ``dedup_keys=False`` semantics,
    so on collapse-prone corpora (heavy key duplication, e.g. strings
    drawn from a small shared vocabulary) the LIVE operator's
    distinct-key pre-pass dominates any postings reuse — measured:
    a part-name corpus that the deduped live path joins in ~6 s did not
    finish un-deduped (BASELINE.md round 5, persisted-index serving).

    ``weighting="tfidf"`` serves a TF-IDF-weighted postings table
    (``materialize_token_postings(weighting="tfidf")``): pass the
    ``<table>_weights`` sidecar as ``idf_weights`` and the stored
    ``default_w2``. The reference side's weights and norms come from the
    stored rows (frozen at build time — the BM25-append frozen-stats
    contract); the probe side weighs its own tokens through the sidecar."""
    _validate(normalization, top_n, weighting, left_id, right_id)
    idf = None
    if weighting == "tfidf":
        if idf_weights is None or default_w2 is None:
            raise ValueError(
                "weighting='tfidf' serving needs the stored idf sidecar: pass "
                "idf_weights (the <table>_weights table) and default_w2 (from "
                "<table>_stats)"
            )
        idf = (idf_weights, default_w2)
    lt = _tokens_long(left, left_on, left_id, apply_word_normalization, "__nl")
    return _score_topn(
        lt, right_postings, left_id=left_id, right_id=right_id,
        normalization=normalization, top_n=top_n, idf=idf,
    )
