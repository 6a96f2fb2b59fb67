"""Deduplication operators for large-scale training-data pipelines.

Not in the reference (its only operator is the string-similarity join);
these are the natural generalizations called for by the repo north star:
exact dedup, n-gram Jaccard near-dup, MinHash+LSH, SimHash, and
embedding-cosine near-dup. All are pure DataFrame compositions — no
Python UDFs — so they inherit Catalyst optimization and scale by
shuffle partitioning.

Determinism: token hashing is the first 8 hex chars of md5 (identical in
any engine), and MinHash permutation constants are fixed literals, so
every operator is reproducible and oracle-checkable.

Scale notes (100 TB):
* exact dedup = hash aggregation on the content key — one shuffle,
  map-side partial aggregation applies;
* MinHash-LSH: signatures, band keys and shingle-hash arrays are
  computed per document ROW (no shuffle, no aggregate); candidate
  generation shuffles by (band, band_key), which self-balances unless a
  band bucket is hot (near-identical boilerplate docs) — cap bucket
  size with ``max_bucket_size`` to bound the pair blowup;
* verification joins touch only candidate pairs, ≪ n².
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from polars_sim_spark import cache as cache_registry
from polars_sim_spark.functions.text import let_col, word_shingles

#: MinHash universal-hash parameters (a, b) over the Mersenne prime 2^31-1,
#: fixed so signatures are reproducible across engines and runs.
MINHASH_PRIME = 2_147_483_647
MINHASH_PARAMS: list[tuple[int, int]] = [
    (1203114875, 1150108406), (1691728127, 521443186), (326839489, 814169737),
    (865946248, 1774039634), (1146627839, 1810528713), (230945377, 1687763801),
    (959354615, 1034567493), (153524507, 1782631803), (1312429380, 433954902),
    (1222959086, 69316007), (1707977812, 1286571817), (1616778099, 554394214),
    (1398954861, 1654464965), (586322012, 642903983), (1666696809, 277167616),
    (1110310895, 1121297303),
]
LSH_BANDS = 4
LSH_ROWS_PER_BAND = 4


def md5_hash64(c: Column) -> Column:
    """Deterministic 32-bit-range token hash: first 8 hex chars of md5.

    Chosen over Spark's xxhash64 because it is reproducible in any SQL
    engine (md5 is universal), which makes the whole dedup pipeline
    oracle-checkable.
    """
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def shingle_postings(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, sh): exploded distinct word n-gram shingles per document."""
    return df.select(
        F.col(id_col).alias("id"), F.explode(word_shingles(F.col(text_col), n)).alias("sh")
    )


def _cap_buckets(df: DataFrame, key: list[str], max_bucket_size: int | None) -> DataFrame:
    """``df`` without the rows of buckets (groups over ``key``) holding
    more than ``max_bucket_size`` rows; ``None`` returns ``df`` as is.

    The bucket size is a ``count`` window over ``key``, not a size
    aggregate joined back: the window's exchange is the hash
    partitioning the bucket self-join downstream needs anyway, so the
    cap costs no extra shuffle and no second evaluation of ``df``'s
    lineage (the aggregate-plus-join form planned it twice per self-join
    side). The price: a hot bucket's rows all meet in one window task
    (a spillable sort, linear in the bucket size) where a size aggregate
    would have pre-counted them map-side."""
    if max_bucket_size is None:
        return df
    n = F.count(F.lit(1)).over(Window.partitionBy(*key))
    return df.withColumn("__n", n).where(F.col("__n") <= max_bucket_size).drop("__n")


def lsh_candidate_pairs(
    bands_df: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """(l_id, r_id): distinct unordered candidate pairs sharing ≥1 LSH bucket.

    ``max_bucket_size`` drops pathologically hot buckets (boilerplate
    spam at web scale) before the quadratic self-join — a recall/cost
    knob, disabled by default. The cap is a ``count`` window over the
    bucket key ``(band, band_key)`` (:func:`_cap_buckets`), which shares
    the self-join's partitioning. Uncapped, the plan is the plain
    self-join, so AQE can still split a skewed bucket.
    """
    bands_df = _cap_buckets(bands_df, ["band", "band_key"], max_bucket_size)
    a = bands_df.select("band", "band_key", F.col("id").alias("l_id"))
    b = bands_df.select("band", "band_key", F.col("id").alias("r_id"))
    joined = a.join(b, ["band", "band_key"]).where(F.col("l_id") < F.col("r_id"))
    return joined.select("l_id", "r_id").distinct()


def _hashed_postings(postings: DataFrame) -> DataFrame:
    """(id, sh): postings with the string shingle replaced by its 64-bit
    xxhash. Every downstream pair join only tests shingle EQUALITY, so a
    fixed-width long key shuffles a fraction of the bytes of a multi-word
    string and hash-compares for free. Per-document distinctness (what the
    intersection counts rely on) survives hashing up to 64-bit collisions
    — odds ~n²/2⁶⁵, negligible against corpus sizes."""
    return postings.select("id", F.xxhash64("sh").alias("sh"))


def _verify_jaccard_pairs(
    arrs: DataFrame, cands: DataFrame, min_jaccard: float | None
) -> DataFrame:
    """Exact Jaccard for CANDIDATE pairs only, from ``arrs`` =
    ``(id, arr, n)``: each document's hashed-shingle set as an array
    (distinct xxhash64 values) and its size.

    Each candidate row is joined to the two documents' packed
    hashed-shingle ARRAYS (one narrow join per side — AQE upgrades them
    to broadcast when the doc-array table is small), and the
    intersection size is a single in-expression ``array_intersect`` —
    per-pair O(set size) inside codegen. The earlier plan expanded every
    pair by the left document's postings (|cands|·avg-set-size rows
    through a shuffle + re-aggregation); at 10x data that expansion was
    the whole query's bottleneck, while the array plan moves each
    shingle set once per candidate side and aggregates nothing."""
    from polars_sim_spark.operators.skew import cpu_floor_repartition

    a = arrs.select(F.col("id").alias("l_id"), F.col("arr").alias("__la"), F.col("n").alias("na"))
    b = arrs.select(F.col("id").alias("r_id"), F.col("arr").alias("__rb"), F.col("n").alias("nb"))
    k = F.size(F.array_intersect("__la", "__rb")).cast("double")
    # CPU-parallelism floor (round 15): candidate rows are ~16 bytes, so
    # AQE byte-coalescing legally serialized this verify (1-2 tasks at
    # sf0.1 on 32 cores) — and the per-candidate array_intersect is the
    # query's CPU. The explicit-width repartition pins the verify stage
    # wide when the doc-array side broadcasts (the common case — the
    # intersect then runs in the candidates' own partitioning); when it
    # sort-merges instead, the post-join rows carry both arrays and AQE's
    # byte proxy is CPU-proportional again.
    cands = cpu_floor_repartition(cands, "l_id", "r_id")
    jac = (
        cands.join(a, "l_id")
        .join(b, "r_id")
        .select(
            "l_id",
            "r_id",
            (k / (F.col("na") + F.col("nb") - k)).alias("jac"),
        )
    )
    if min_jaccard is not None:
        jac = jac.where(F.round("jac", 6) >= min_jaccard)
    else:
        # Unthresholded contract: pairs must actually SHARE a shingle.
        # Band-collision candidates with zero real overlap would otherwise
        # surface as spurious jac=0 rows here (the shared-shingle join of
        # the all-pairs plan drops them structurally; this filter keeps
        # the two plans' outputs identical).
        jac = jac.where(F.col("jac") > 0.0)
    return jac


#: Prefix filtering only pays above this threshold: the prefix length is
#: n - ⌈t·n⌉ + 1, so at t=0.5 each side keeps ~half its postings (4× fewer
#: candidate pairs but an extra df-ranking window and a verification join —
#: roughly a wash), while at t≥0.7 the prefixes shrink to ≤30%. Measured
#: at sf0.1.
PREFIX_FILTER_MIN_T = 0.7

#: ...but a short prefix only helps when the plain token join would
#: actually blow up. Its pair-row volume is Σ df(sh)² ≈ DF_SKEW_RATIO ×
#: |postings| (measured on the testdata corpus: ratio ≈ 11 at BOTH sf0.1
#: and 10× that — near-linear, and the plain join beats the prefix plan
#: there by 2-4×, BASELINE.md). Prefix filtering wins on hot-shingle
#: corpora (shared boilerplate at web scale) where the ratio runs to
#: hundreds+; auto mode therefore activates it only when a sampled scout
#: estimates the ratio above this cutoff.
PREFIX_BLOWUP_MIN_RATIO = 100.0

#: The scout samples 1/16 of shingle GROUPS by hash — per-shingle df is
#: exact for sampled shingles, so the ratio estimate is unbiased (11 vs
#: 10.7 true on testdata) at a fraction of the aggregate size.
DF_SKEW_SCOUT_MOD = 16


def _df_skew_ratio(postings: DataFrame, mod: int = DF_SKEW_SCOUT_MOD) -> float:
    """Estimated Σdf²/Σdf over shingles — the expansion factor of the
    plain co-occurrence join — from a hashed shingle-group sample. A
    corpus whose distinct-shingle count is tiny (extreme boilerplate) can
    leave the sample empty/unrepresentative, so small samples fall back
    to the exact aggregate — cheap precisely when few shingles exist."""

    def stats(df: DataFrame):
        dfc = df.groupBy("sh").agg(F.count(F.lit(1)).alias("n"))
        return dfc.agg(
            F.sum(F.col("n") * F.col("n")).alias("q"), F.sum("n").alias("p")
        ).collect()[0]

    samp = postings.where(F.pmod(F.xxhash64(F.col("sh").cast("string")), F.lit(mod)) == 0)
    row = stats(samp)
    if row["p"] is None or row["p"] < 10_000:
        row = stats(postings)
    if not row["p"]:
        return 0.0
    return float(row["q"]) / float(row["p"])


def jaccard_pairs(
    postings: DataFrame,
    min_jaccard: float | None = None,
    use_prefix_filter: bool | None = None,
) -> DataFrame:
    """(l_id, r_id, jac): exact Jaccard over shingle sets for every pair
    sharing ≥1 shingle (optionally thresholded on the rounded value).

    Exact optimizations (results bit-identical):

    * shingles occurring in exactly one document cannot produce a
      cross-document pair → pruned from the pair join (NOT from the set
      sizes);
    * with a threshold t, PREFIX FILTERING (the ppjoin family,
      Xiao et al., "Efficient Similarity Joins for Near Duplicate
      Detection", WWW'08 — public literature): order each document's
      shingles by ascending global frequency; two sets with Jaccard ≥ t
      MUST share a token among each side's first n - ⌈t·n⌉ + 1 tokens.
      Candidate generation joins only these short, rare-token prefixes
      (plus the ppjoin LENGTH filter: t·|A| ≤ |B| ≤ |A|/t applied inside
      the join); candidates are then verified exactly. This is the
      standard exact set-similarity-join plan at web scale. Auto mode
      applies it only when BOTH the threshold is high enough for short
      prefixes (``PREFIX_FILTER_MIN_T``) AND a sampled scout finds the
      plain join's expansion factor Σdf²/Σdf actually quadratic-ish
      (``PREFIX_BLOWUP_MIN_RATIO`` — hot-shingle corpora); on low-df
      corpora the plain join is near-linear and measured 2-4× faster
      at both sf0.1 and 10× that (BASELINE.md). Force with
      ``use_prefix_filter=True/False`` to skip the scout.
    """
    if use_prefix_filter is None:
        use_prefix_filter = (
            min_jaccard is not None
            and min_jaccard >= PREFIX_FILTER_MIN_T
            and _df_skew_ratio(postings) >= PREFIX_BLOWUP_MIN_RATIO
        )
    postings = _hashed_postings(postings)
    if use_prefix_filter and min_jaccard is not None and min_jaccard > 0:
        dfc = postings.groupBy("sh").agg(F.count(F.lit(1)).alias("__dfc"))
        ranked = postings.join(dfc, "sh").withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.asc("__dfc"), F.asc("sh"))
            ),
        )
        sized = ranked.withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("id")))
        prefix_len = F.col("__n") - F.ceil(F.lit(float(min_jaccard)) * F.col("__n")) + 1
        prefix = (
            sized.where((F.col("__rk") <= prefix_len) & (F.col("__dfc") >= 2))
            .select("id", "sh", "__n")
        )
        # Length filter (ppjoin): J(A,B) ≥ t forces t·|A| ≤ |B| ≤ |A|/t,
        # so size-incompatible prefix hits are dropped inside the join
        # before the distinct — standard candidate pruning at no extra
        # pass (sizes ride along with the prefix rows).
        la = prefix.select(F.col("id").alias("l_id"), "sh", F.col("__n").alias("__nl"))
        lb = prefix.select(F.col("id").alias("r_id"), "sh", F.col("__n").alias("__nr"))
        t = float(min_jaccard)
        cands = (
            la.join(lb, "sh")
            .where(
                (F.col("l_id") < F.col("r_id"))
                & (F.col("__nr") * F.lit(t) <= F.col("__nl"))
                & (F.col("__nl") * F.lit(t) <= F.col("__nr"))
            )
            .select("l_id", "r_id")
            .distinct()
        )
        arrs = postings.groupBy("id").agg(
            F.collect_list("sh").alias("arr"), F.count(F.lit(1)).alias("n")
        )
        return _verify_jaccard_pairs(arrs, cands, min_jaccard)

    sizes = postings.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    shared_sh = (
        postings.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("__dfc"))
        .where(F.col("__dfc") >= 2)
        .select("sh")
    )
    shared = postings.join(shared_sh, "sh")
    a = shared.select(F.col("id").alias("l_id"), "sh")
    b = shared.select(F.col("id").alias("r_id"), "sh")
    inter = (
        a.join(b, "sh")
        .where(F.col("l_id") < F.col("r_id"))
        .groupBy("l_id", "r_id")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    na = sizes.select(F.col("id").alias("l_id"), F.col("n").alias("na"))
    nb = sizes.select(F.col("id").alias("r_id"), F.col("n").alias("nb"))
    jac = (
        inter.join(na, "l_id")
        .join(nb, "r_id")
        .select(
            "l_id",
            "r_id",
            (F.col("k").cast("double") / (F.col("na") + F.col("nb") - F.col("k"))).alias("jac"),
        )
    )
    if min_jaccard is not None:
        jac = jac.where(F.round("jac", 6) >= min_jaccard)
    return jac


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_jaccard: float = 0.5,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → signature → band →
    bucket self-join → exact-Jaccard verification of candidates only.
    Returns (l_id, r_id, jac)."""
    # The per-document frame feeds the bands and both verification
    # sides; persist so shingling and signing run once. MEMORY_AND_DISK
    # default spills rather than OOMs when the corpus outgrows executor
    # memory.
    docs = cache_registry.track(_signed_docs(df, id_col, text_col, shingle_n))
    return _lsh_jaccard_pairs(docs, min_jaccard, max_bucket_size)


def _lsh_jaccard_pairs(
    docs: DataFrame, min_jaccard: float | None, max_bucket_size: int | None
) -> DataFrame:
    """(l_id, r_id, jac) from a :func:`_signed_docs` frame: bucket
    self-join on the exploded band keys, then exact Jaccard of the
    candidates on the carried shingle-hash arrays. Verification touches
    ONLY the candidate pairs (the whole point of LSH)."""
    bands = docs.select("id", F.posexplode("keys").alias("band", "band_key"))
    cands = lsh_candidate_pairs(bands, max_bucket_size)
    return _verify_jaccard_pairs(docs.select("id", "arr", "n"), cands, min_jaccard)


def minhash_signature_array(sh_arr: Column, num_hashes: int = 16) -> Column:
    """``array<long>`` MinHash signature computed per ROW from a shingle
    array — zero shuffle: element ``i`` is the min over the shingles of
    ``(a_i · md5_hash64(sh) + b_i) mod MINHASH_PRIME`` with the fixed
    ``MINHASH_PARAMS``, the same values as the oracle's per-document
    ``min`` aggregate (``queries.dedup.duck_lsh_cand_ctes``).

    The per-row form is what streaming needs (Structured Streaming
    allows only one stateful aggregation per query — spending it on
    signature-building would leave none for the real work) and spends
    no shuffle in batch either.
    Empty array → all-null signature (callers must band only
    ``size(sh_arr) > 0`` rows).
    """
    return let_col(
        F.transform(sh_arr, md5_hash64),
        lambda hs: F.array(
            *[
                F.array_min(
                    F.transform(hs, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME))
                )
                for a, b in MINHASH_PARAMS[:num_hashes]
            ]
        ),
    )


def _band_keys(sig: Column) -> Column:
    """``array<string>`` of the ``LSH_BANDS`` bucket keys of a MinHash
    signature array: key ``b`` is signature elements
    ``b·LSH_ROWS_PER_BAND … (b+1)·LSH_ROWS_PER_BAND - 1`` joined by ``,``.
    Pass a projected signature COLUMN, not the
    :func:`minhash_signature_array` expression: each key reads the
    signature four times, and an inlined expression is re-evaluated per
    read."""
    return F.array(
        *[
            F.concat_ws(
                ",",
                *[
                    F.element_at(sig, b * LSH_ROWS_PER_BAND + r + 1)
                    for r in range(LSH_ROWS_PER_BAND)
                ],
            )
            for b in range(LSH_BANDS)
        ]
    )


def _signed_docs(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int, prefix: str = ""
) -> DataFrame:
    """``({prefix}id, {prefix}arr, {prefix}n, keys)``: one row per
    document with at least one shingle (a zero-shingle doc cannot be a
    near-dup) — its xxhash64 shingle-hash array, the array's size, and
    its LSH band keys (:func:`_band_keys`)."""
    base = df.select(F.col(id_col).alias(f"{prefix}id"), word_shingles(F.col(text_col), shingle_n).alias("__sh"))
    v = base.where(F.size("__sh") > 0).select(
        f"{prefix}id",
        F.transform("__sh", lambda g: F.xxhash64(g)).alias(f"{prefix}arr"),
        F.size("__sh").alias(f"{prefix}n"),
        minhash_signature_array(F.col("__sh")).alias("__sig"),
    )
    return v.select(f"{prefix}id", f"{prefix}arr", f"{prefix}n", _band_keys(F.col("__sig")).alias("keys"))


def _banded_doc_side(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int, prefix: str
) -> DataFrame:
    """Explode a corpus into LSH band rows carrying its verification
    payload: ``({prefix}id, {prefix}arr, {prefix}n, band, band_key)``.
    One row per (doc, band) of the :func:`_signed_docs` frame;
    zero-shingle docs emit nothing."""
    return _signed_docs(df, id_col, text_col, shingle_n, prefix).select(
        "*", F.posexplode("keys").alias("band", "band_key")
    ).drop("keys")


def incremental_near_dups(
    new: DataFrame,
    hist: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_jaccard: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental NEAR-dup dedup: the surviving subset of ``new`` —
    documents with no historical near-duplicate (word-shingle Jaccard ≥
    ``min_jaccard`` against any ``hist`` row), all columns intact.

    The near-dup generalization of the exact-fingerprint incremental
    dedup (``dedup_incremental_docs``), i.e. the nightly-crawl /
    streaming-ingest primitive when "duplicate" means near-identical
    text, not byte-identical.

    Plan (all candidate generation is bucketed — never new × hist):
    per-row MinHash signatures on both sides (zero shuffle,
    :func:`minhash_signature_array`) → band rows → equi-join on
    ``(band, band_key)`` → exact-Jaccard verification in-expression on
    the carried shingle-hash arrays → LEFT ANTI join of ``new`` against
    the matched ids.

    Scale: the historical side at 100 TB is a narrow precomputable
    table ``(id, arr, n, band, band_key)`` — 4 rows per doc — that a
    production pipeline materializes once and bucket-partitions by
    ``band_key``, making nightly increments a co-located join; the new
    side is typically ≪ hist and shuffles only its own band rows. Same
    recall contract as :func:`minhash_lsh_dedup_pairs` (bucketing can
    only DROP candidates; verification is exact).

    ``min_jaccard`` must be positive: at t ≤ 0 "near-duplicate" loses
    meaning (every bucket collision matches, including zero-overlap
    ones) and the streaming twin's keep-if-max-below-t form would
    diverge from this anti-join form on zero-candidate docs.
    """
    if min_jaccard <= 0:
        raise ValueError(f"min_jaccard must be > 0, got {min_jaccard}")
    hb = _banded_doc_side(hist, id_col, text_col, shingle_n, "h_")
    return incremental_near_dups_against_bands(
        new, hb, id_col, text_col, min_jaccard=min_jaccard, shingle_n=shingle_n
    )


def materialize_history_bands(
    hist: DataFrame,
    id_col: str,
    text_col: str,
    table: str,
    *,
    shingle_n: int = 3,
    num_buckets: int = 32,
) -> None:
    """Persist the historical corpus's LSH band table
    (:func:`_banded_doc_side` output: 4 narrow rows per doc) as a
    catalog table BUCKETED on the band-join keys ``(band, band_key)``.

    This is the cross-run half of incremental near-dedup at 100 TB: the
    history side's signatures/bands are a pure function of its text, so
    recomputing them every nightly increment re-scans and re-shuffles
    the whole archive. Materialized once and bucket-partitioned, every
    future :func:`incremental_near_dups_against_bands` run reads it
    co-located: the band join carries NO Exchange on the history side
    (plan-asserted in tests/test_sinks.py) — only the (small) new batch
    shuffles, by its own band rows. Set ``num_buckets`` to the shuffle
    parallelism the increments will run with so the new side's exchange
    lands bucket-aligned. Append the new batch's own bands to the table
    after each run to roll history forward.
    """
    from polars_sim_spark.sources.sinks import write_bucketed

    hb = _banded_doc_side(hist, id_col, text_col, shingle_n, "h_")
    write_bucketed(
        hb,
        table,
        bucket_by=["band", "band_key"],
        num_buckets=num_buckets,
        sort_by=["band", "band_key"],
    )


def append_history_bands(
    accepted: DataFrame,
    table: str,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    num_buckets: int = 32,
) -> None:
    """Roll the :func:`materialize_history_bands` table forward: append
    the ACCEPTED batch's band rows (post-dedup survivors) with the same
    bucket spec, so tomorrow's :func:`incremental_near_dups_against_bands`
    run sees today's corpus without any rebuild. ``num_buckets`` must
    match the original materialization (Spark appends bucket-aligned
    files; a mismatched spec fails loudly rather than corrupting the
    layout). From Structured Streaming, call this inside
    ``foreachBatch`` on the gate's output — the gate drops near-dups,
    this persists the survivors' bands — giving an exactly-once ingest
    loop when paired with the stream checkpoint.

    BATCH callers: materialize ``accepted`` (``localCheckpoint`` or a
    write) BEFORE appending if its plan reads the same band table —
    Spark re-evaluates lazy plans, and a survivor set re-derived after
    the append sees its own bands and self-matches (pinned by
    tests/test_sinks.py). Streaming ``foreachBatch`` frames are already
    materialized micro-batches, so the loop there is safe as-is."""
    from polars_sim_spark.sources.sinks import write_bucketed

    hb = _banded_doc_side(accepted, id_col, text_col, shingle_n, "h_")
    write_bucketed(
        hb,
        table,
        bucket_by=["band", "band_key"],
        num_buckets=num_buckets,
        sort_by=["band", "band_key"],
        mode="append",
    )


def incremental_near_dups_against_bands(
    new: DataFrame,
    hist_bands: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_jaccard: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """:func:`incremental_near_dups` against a PRECOMPUTED history band
    table — ``hist_bands`` is :func:`_banded_doc_side` output (columns
    ``h_id, h_arr, h_n, band, band_key``), typically
    ``spark.table(...)`` over a :func:`materialize_history_bands`
    bucketed table so the history side of the band join is shuffle-free.
    Candidate semantics, verification, and the anti-join are identical
    to the recompute-everything form (equivalence-tested)."""
    if min_jaccard <= 0:
        raise ValueError(f"min_jaccard must be > 0, got {min_jaccard}")
    nb = _banded_doc_side(new, id_col, text_col, shingle_n, "n_")
    k = F.size(F.array_intersect("n_arr", "h_arr")).cast("double")
    jac = k / (F.col("n_n") + F.col("h_n") - k)
    matched = (
        nb.join(hist_bands, ["band", "band_key"])
        .where(F.round(jac, 6) >= min_jaccard)
        .select(F.col("n_id").alias(id_col))
        .distinct()
    )
    return new.join(matched, id_col, "left_anti")


def passage_rows(
    docs: DataFrame, id_col: str, text_col: str, passage_words: int = 16
) -> DataFrame:
    """``(id, pidx, ptext)``: every document exploded into its
    non-overlapping ``passage_words``-word passages in order. A pure
    narrow projection (split → sequence-explode → slice), so it composes
    into batch plans AND streaming plans unchanged — the shared front
    end of :func:`remove_duplicate_passages` and
    ``streaming.stream_ops.stream_passage_dedup``."""
    w = F.lit(passage_words)
    return (
        docs.where(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(id_col),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("__w"),
        )
        .select(
            id_col,
            "__w",
            F.explode(
                F.sequence(F.lit(0), F.ceil(F.size("__w") / w).cast("int") - 1)
            ).alias("pidx"),
        )
        .select(
            id_col,
            "pidx",
            F.concat_ws(" ", F.slice("__w", F.col("pidx") * w + 1, w)).alias("ptext"),
        )
    )


def remove_duplicate_passages(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    passage_words: int = 16,
) -> DataFrame:
    """Sub-document exact dedup (the C4 move, at passage granularity):
    split every document into non-overlapping ``passage_words``-word
    passages, keep only the corpus-wide FIRST occurrence of each
    distinct passage (ordered by ``(id, passage index)``), and rebuild
    each document from its surviving passages in original order.

    Repeated boilerplate — navigation chrome, license headers, quoted
    reply chains — survives document-level dedup because the documents
    AROUND it differ; this operator removes it at the span level while
    exact/near document dedup (``remove_near_dups``) handles whole-doc
    copies. Duplicates WITHIN one document collapse too (the second
    occurrence is not the first).

    Output: one row per input document — ``(id, cleaned_text, n_kept,
    n_dropped)``; documents whose every passage was seen earlier survive
    as empty strings, so corpus cardinality never changes.

    Plan: zero-shuffle split+explode scan projection → a shuffle by the
    passage's full md5 (narrow 32-char key, never the passage text)
    with a rank-1 window filter (Catalyst rewrites it to
    ``WindowGroupLimit``, so each map task pre-prunes to one candidate
    per passage before the exchange) → a second, per-document shuffle
    for the order-preserving re-aggregation. Two exchanges total;
    passage-frequency skew is bounded by the group limit: a boilerplate
    passage occurring 10⁹ times contributes one row per upstream
    partition to the first shuffle, not 10⁹.
    """
    w = F.lit(passage_words)
    passages = passage_rows(docs, id_col, text_col, passage_words).withColumnRenamed(
        id_col, "__id"
    )
    first = Window.partitionBy(F.md5("ptext")).orderBy("__id", "pidx")
    kept = (
        passages.withColumn("__rn", F.row_number().over(first))
        .where(F.col("__rn") == 1)
        .groupBy("__id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pidx", "ptext"))),
                    lambda s: s.ptext,
                ),
                " ",
            ).alias("cleaned_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    totals = docs.select(
        F.col(id_col).alias("__id"),
        F.when(
            F.length(F.trim(F.col(text_col))) > 0,
            F.ceil(F.size(F.split(F.trim(F.col(text_col)), r"\s+")) / w),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("__n_passages"),
    )
    return totals.join(kept, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        (F.col("__n_passages") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_dropped"),
    )


def sliding_window_rows(
    docs: DataFrame, id_col: str, text_col: str, window_words: int = 16
) -> DataFrame:
    """``(id, i, wtext)``: every STRIDE-1 ``window_words``-word window of
    every document (positions ``0 .. n_words - window_words``). The
    overlapping twin of :func:`passage_rows` — same narrow
    split → sequence-explode → slice projection, zero shuffles — used by
    :func:`duplicate_substring_spans` to catch exact repeats at
    ARBITRARY word offsets, which fixed passage boundaries miss."""
    k = F.lit(window_words)
    return (
        docs.where(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(id_col),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("__w"),
        )
        .where(F.size("__w") >= window_words)
        .select(
            id_col,
            "__w",
            F.explode(F.sequence(F.lit(0), F.size("__w") - k)).alias("i"),
        )
        .select(
            id_col,
            "i",
            F.concat_ws(" ", F.slice("__w", F.col("i") + 1, k)).alias("wtext"),
        )
    )


def duplicate_substring_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window_words: int = 16,
) -> DataFrame:
    """Maximal exact-duplicate substring spans at arbitrary word
    offsets — the Spark-shaped counterpart of suffix-array substring
    dedup on training corpora (ExactSubstr in "Deduplicating Training
    Data Makes Language Models Better", Lee et al. 2022):
    :func:`remove_duplicate_passages` only sees repeats aligned to its
    fixed passage grid; this operator slides a ``window_words``-word
    window with stride 1, marks every window occurrence that is not the
    corpus-wide FIRST occurrence of its word sequence (ordered by
    ``(id, position)``), and merges runs of adjacent duplicate windows
    into maximal spans via gaps-and-islands.

    Output: one row per maximal span — ``(id, span_start, span_end,
    span_words, n_windows)``, word positions inclusive. Every exact
    repeat of ≥ ``window_words`` words is covered: for each distinct
    window text, all occurrences except the first lie inside some span
    (property-tested in tests/test_dedup.py).

    Plan (100 TB shape): the window expansion is a zero-shuffle scan
    projection (~one row per corpus WORD — the honest stride-1 cost;
    a suffix array touches the same order of positions). First-occurrence
    detection is groupBy(window-md5).agg(min(struct(id, i)), count) —
    map-side partial aggregation, so a boilerplate window repeated 10⁹
    times contributes one row per upstream partition to the shuffle,
    NOT 10⁹ (this is why it is an agg + join back, not a window rank:
    ranking all occurrences admits no group limit and lands the hot key
    in one task). The join back on the md5 is SortMergeJoin with both
    sides corpus-sized — AQE skew-split applies; the island merge is
    one narrow per-document window.
    """
    wins = sliding_window_rows(
        docs, id_col, text_col, window_words
    ).select(
        F.col(id_col).alias("__id"), "i", F.md5("wtext").alias("__h")
    )
    firsts = wins.groupBy("__h").agg(
        F.min(F.struct(F.col("__id"), F.col("i"))).alias("__first"),
        F.count(F.lit(1)).alias("__c"),
    )
    dups = wins.join(firsts, "__h").where(
        (F.col("__c") > 1)
        & ~(
            (F.col("__first.__id") == F.col("__id"))
            & (F.col("__first.i") == F.col("i"))
        )
    )
    wpos = Window.partitionBy("__id").orderBy("i")
    return (
        dups.select("__id", "i")
        .withColumn("__isl", F.col("i") - F.row_number().over(wpos))
        .groupBy("__id", "__isl")
        .agg(
            F.min("i").cast("long").alias("span_start"),
            (F.max("i") + window_words - 1).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
        )
        .select(
            F.col("__id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_words"),
            "n_windows",
        )
    )


def remove_duplicate_substrings(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window_words: int = 16,
) -> DataFrame:
    """Cut every :func:`duplicate_substring_spans` span out of its
    document (keep-first: the earliest occurrence of each repeated
    substring survives) and rebuild the text from the remaining words in
    order — the removal face of substring dedup, mirroring
    ``remove_duplicate_passages``'s output contract: one row per input
    document, ``(id, cleaned_text, n_kept, n_dropped)`` counted in
    WORDS. Documents whose every word is covered survive as empty
    strings, so corpus cardinality never changes. Whitespace is
    normalized (text is rebuilt word-by-word) whether or not anything
    was removed — same as the passage operator.

    The span table aggregates to one small array per affected document
    (documents average a handful of maximal spans), so the cut itself is
    a per-row ``filter`` HOF over the word array after ONE join by id —
    no explode of the corpus words through a shuffle.
    """
    spans = duplicate_substring_spans(
        docs, id_col, text_col, window_words=window_words
    )
    spans_by_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    w_arr = F.when(
        F.length(F.trim(F.col(text_col))) > 0,
        F.split(F.trim(F.col(text_col)), r"\s+"),
    ).otherwise(F.array().cast("array<string>"))
    joined = docs.join(spans_by_doc, id_col, "left").select(
        F.col(id_col),
        w_arr.alias("__w"),
        F.coalesce(
            F.col("__spans"),
            F.array().cast("array<struct<span_start:bigint,span_end:bigint>>"),
        ).alias("__spans"),
    )
    kept = F.filter(
        F.transform(
            F.col("__w"), lambda x, j: F.struct(x.alias("x"), j.alias("j"))
        ),
        lambda s: ~F.exists(
            F.col("__spans"),
            lambda sp: (sp.span_start <= s.j) & (s.j <= sp.span_end),
        ),
    )
    # Bind the HOF result in its own projection: CollapseProject keeps
    # non-cheap multiply-referenced expressions un-inlined, so the
    # filter+exists pass runs once per row, not once per output column.
    bound = joined.select(F.col(id_col), "__w", kept.alias("__kept"))
    return bound.select(
        id_col,
        F.concat_ws(
            " ", F.transform("__kept", lambda s: s.x)
        ).alias("cleaned_text"),
        F.size("__kept").cast("long").alias("n_kept"),
        (F.size("__w") - F.size("__kept")).cast("long").alias("n_dropped"),
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """(id, simhash): per-document SimHash over distinct word tokens.

    bit_j(doc) = 1 iff sum over tokens of ±1 (sign of bit j of the token
    hash) is ≥ 0. Pure conditional aggregation — one shuffle by doc id.
    """
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))).alias("w"),
    ).where(F.col("w") != "")
    h = md5_hash64(F.col("w"))
    aggs = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    sums = words.groupBy("id").agg(*aggs)
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return sums.select("id", sig.cast("long").alias("simhash"))


def phash_match_pairs(
    left: DataFrame,
    right: DataFrame,
    *,
    id_col: str = "doc_id",
    band_cols: tuple[str, ...] = ("band0", "band1", "band2", "band3"),
    max_dist: int = 3,
) -> DataFrame:
    """(l_id, r_id, hamming): TWO-SIDED banded Hamming match — every
    (left, right) pair within ``max_dist`` — the ingest-time shape of
    :func:`phash_near_pairs` (batch-vs-history instead of self-join),
    with the same pigeonhole recall guarantee per side and the same
    exact xor/bit_count verify. Both inputs carry ``id_col`` +
    ``band_cols`` (:func:`~polars_sim_spark.operators.multimodal.ppm_phash`
    output); the right side is typically a STORED phash table, so a
    micro-batch costs its own band rows against the (pruned) history
    bands — never a corpus rescan of pixels."""
    nb = len(band_cols)
    if max_dist > nb - 1:
        raise ValueError(
            f"max_dist={max_dist} voids the band recall guarantee for "
            f"{nb} bands (requires max_dist <= {nb - 1})"
        )
    # Each side is referenced twice (band explode + verify side); cache
    # the tiny (id, bands) projection so a decode-chain input is
    # evaluated once, not twice (same rationale as phash_near_pairs).
    # Streaming inputs (the ingest-gate path) can't persist and keep
    # their per-batch evaluation.
    if not left.isStreaming:
        left = cache_registry.track(
            left.select(F.col(id_col), *[F.col(c) for c in band_cols])
        )
    if not right.isStreaming:
        right = cache_registry.track(
            right.select(F.col(id_col), *[F.col(c) for c in band_cols])
        )

    def bands_of(df: DataFrame, out: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out),
            F.posexplode(F.array(*[F.col(c) for c in band_cols])).alias(
                "band", "band_key"
            ),
        )

    cand = (
        bands_of(left, "l_id")
        .join(bands_of(right, "r_id"), ["band", "band_key"])
        .select("l_id", "r_id")
        .distinct()
    )
    # Round-15 CPU floor (no-op for streaming inputs — the helper
    # passes streaming frames through).
    from polars_sim_spark.operators.skew import cpu_floor_repartition

    cand = cpu_floor_repartition(cand, "l_id", "r_id")
    lt = left.select(
        F.col(id_col).alias("l_id"),
        *[F.col(c).alias(f"__l{j}") for j, c in enumerate(band_cols)],
    )
    rt = right.select(
        F.col(id_col).alias("r_id"),
        *[F.col(c).alias(f"__r{j}") for j, c in enumerate(band_cols)],
    )
    ham = None
    for j in range(nb):
        t = F.bit_count(F.col(f"__l{j}").bitwiseXOR(F.col(f"__r{j}")))
        ham = t if ham is None else ham + t
    return (
        cand.join(lt, "l_id")
        .join(rt, "r_id")
        .withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= max_dist)
        .select("l_id", "r_id", "hamming")
    )


def phash_near_pairs(
    ph: DataFrame,
    *,
    id_col: str = "id",
    band_cols: tuple[str, ...] = ("band0", "band1", "band2", "band3"),
    max_dist: int = 3,
    max_bucket_size: int | None = None,
    cap_guard: bool | None = None,
) -> DataFrame:
    """(l_id, r_id, hamming): near-duplicate pairs by banded Hamming
    join over banded bit signatures (perceptual image hashes from
    operators/multimodal.py:ppm_phash, or any fixed-width hash split
    into integer bands).

    Recall GUARANTEE, not a heuristic (pigeonhole): a pair within
    Hamming distance d differs in at most d of the ``len(band_cols)``
    bands, so with d ≤ bands−1 at least one band is bit-identical and
    the pair surfaces in the band equi-join; the exact Hamming verify
    then makes the output precisely {pairs : hamming ≤ max_dist}. The
    contract row's oracle exploits this: it computes ALL-pairs Hamming
    in SQL and filters — hash-equality proves the banded plan loses
    nothing.

    Scale: same economics as the MinHash LSH path (reuses
    :func:`lsh_candidate_pairs`) — pair generation touches only band
    bucket collisions, never n²; ``max_bucket_size`` caps pathological
    buckets (e.g. byte-identical boilerplate images) exactly like the
    text path. On corpora with a heavy hash mode (tiny/flat images
    collapsing the point-sampled hash) the cap is FEASIBILITY, not
    tuning: at ×100 the uncapped mega-bucket self-join did not complete
    in 50 minutes while cap=1000 ran in 33 s keeping 99.5%+ of
    discriminative-hash true dups (BASELINE.md round-11 tables). Verification is a keyed join back to the |corpus|-row
    hash table plus JVM-side xor/bit_count — no Python, no shuffle
    beyond the candidate keys.

    ``cap_guard`` (r12, VERDICT r11 #3) runs
    :func:`diagnose_hot_buckets` before pair generation and emits a
    ``UserWarning`` when the buckets the cap would drop are dominated
    by identical full hashes — i.e. genuine replica clusters, the
    recall-inversion mode BASELINE.md round 11 measured on
    majority-fold video hashes — so the cap never silently deletes
    signal. Default (``None``): ON whenever ``max_bucket_size`` is set
    (VERDICT r12 #7 — the probe measured 0.7–2.4 s at 1×–×100 with a
    correct verdict at every scale, cheap insurance against silent
    recall inversion) and OFF otherwise (an uncapped join drops
    nothing, so there is nothing to guard). Pass ``False`` to keep a
    capped call fully lazy. The probe makes the otherwise-lazy call
    eager (one bounded two-level aggregate reduced to a driver row)."""
    nb = len(band_cols)
    if max_dist > nb - 1:
        raise ValueError(
            f"max_dist={max_dist} voids the band recall guarantee for "
            f"{nb} bands (requires max_dist <= {nb - 1}); add bands or "
            "lower the threshold"
        )
    # Cache the (id, bands) projection ONCE before fanning out
    # (optimization round 14, guide §2.4/§5): this function references
    # its input up to six times — band explode (self-joined twice),
    # the bucket-size scout, the cap-guard probe, and the l/r verify
    # sides — and when ``ph`` is an Arrow decode chain (ppm_phash /
    # wav_phash / mp4_vhash over a synthesized corpus) every reference
    # re-decoded the whole corpus: the dedup_audio_mp3_crossformat plan
    # carried FOUR full MapInPandas decode chains. The projection is
    # |corpus| rows of one id + nb ints — kilobytes per million docs —
    # while each avoided evaluation is a full decode pass. Tracked via
    # the session cache registry (released by the owner's
    # ``unpersist_all``), and skipped for streaming inputs where
    # persist() is unsupported and the trigger owns batch scope.
    if not ph.isStreaming:
        ph = cache_registry.track(
            ph.select(F.col(id_col), *[F.col(c) for c in band_cols])
        )
    bands_df = ph.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.array(*[F.col(c) for c in band_cols])).alias(
            "band", "band_key"
        ),
    )
    if cap_guard is None:
        cap_guard = max_bucket_size is not None
    if cap_guard and max_bucket_size is not None:
        import warnings

        diag = diagnose_hot_buckets(
            ph,
            id_col=id_col,
            band_cols=band_cols,
            max_bucket_size=max_bucket_size,
        )
        if diag["cap_deletes_signal"]:
            warnings.warn(
                "phash_near_pairs: the hot buckets max_bucket_size="
                f"{max_bucket_size} will drop are "
                f"{diag['same_hash_pair_fraction']:.0%} identical-full-hash "
                f"pairs across {diag['n_hot_buckets']} bucket(s) (max size "
                f"{diag['max_bucket']}) — genuine replica clusters, so the "
                "cap deletes true near-dups. Use a sharper bucket key "
                "(frame-aligned matching for video) or raise the cap.",
                UserWarning,
                stacklevel=2,
            )
    cand = lsh_candidate_pairs(bands_df, max_bucket_size)
    # Round-15 CPU floor before the xor/bit_count verify — same
    # byte-coalescing exposure as the Jaccard verify (thin pair rows),
    # same fix (skew.cpu_floor_repartition doc).
    from polars_sim_spark.operators.skew import cpu_floor_repartition

    cand = cpu_floor_repartition(cand, "l_id", "r_id")
    lt = ph.select(
        F.col(id_col).alias("l_id"),
        *[F.col(c).alias(f"__l{j}") for j, c in enumerate(band_cols)],
    )
    rt = ph.select(
        F.col(id_col).alias("r_id"),
        *[F.col(c).alias(f"__r{j}") for j, c in enumerate(band_cols)],
    )
    ham = None
    for j in range(nb):
        t = F.bit_count(F.col(f"__l{j}").bitwiseXOR(F.col(f"__r{j}")))
        ham = t if ham is None else ham + t
    return (
        cand.join(lt, "l_id")
        .join(rt, "r_id")
        .withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= max_dist)
        .select("l_id", "r_id", "hamming")
    )


def diagnose_hot_buckets(
    ph: DataFrame,
    *,
    id_col: str = "id",
    band_cols: tuple[str, ...] = ("band0", "band1", "band2", "band3"),
    frame_col: str | None = None,
    max_bucket_size: int,
    sample_k: int = 20,
    signal_threshold: float = 0.2,
) -> dict:
    """Cheap composition probe for the hot buckets ``max_bucket_size``
    would drop (round 12, VERDICT r11 #3): WOULD capping delete true
    near-dup signal, or only band-level degeneracy?

    The discriminator needs no ground truth: within each over-cap
    bucket, group members by their FULL hash (all bands concatenated)
    and measure the fraction of within-bucket pairs whose full hashes
    are identical. A mega-bucket born of band degeneracy (one band
    collapses — smooth regions, silence — while the other bands still
    discriminate) has ~all-distinct full hashes → same-hash pair
    fraction ≈ 0 → capping drops mostly-false candidates, SAFE. A
    mega-bucket that is a genuine replica cluster (the whole-video
    majority fold on homogeneous corpora, BASELINE.md round 11's recall
    inversion) has members sharing full hashes → fraction ≈ 1 → capping
    deletes true dups, and the caller should route to a sharper key
    (frame-aligned matching for video) instead of capping.

    Cost: ONE two-level aggregate over the band frame the banded join
    already builds (per-(bucket, full-hash) counts → per-bucket sums),
    reduced to a single driver row — bounded, no self-join, no top-k
    sampling, runs BEFORE any pair generation. The round-12 version
    collected the ``sample_k`` hottest buckets and reported THEIR
    count/pair-mass, which understated corpora with more than
    ``sample_k`` hot buckets (ADVICE r12); all five statistics now
    reduce exactly over EVERY over-cap bucket for the same job count
    (``sample_k`` is retained for signature compatibility and ignored).
    Returns ``{n_hot_buckets, sampled_buckets, max_bucket,
    hot_member_rows, same_hash_pair_fraction, cap_deletes_signal}``
    where the fraction is pair-mass-weighted over all hot buckets and
    ``cap_deletes_signal = fraction >= signal_threshold``."""
    key_cols = ([frame_col] if frame_col else []) + ["band", "band_key"]
    full = F.concat_ws("|", *[F.col(c).cast("string") for c in band_cols])
    bands_df = ph.select(
        *([F.col(frame_col)] if frame_col else []),
        F.col(id_col).alias("id"),
        full.alias("__full"),
        F.posexplode(F.array(*[F.col(c) for c in band_cols])).alias(
            "band", "band_key"
        ),
    )
    per_full = bands_df.groupBy(*key_cols, "__full").agg(
        F.count(F.lit(1)).alias("__m")
    )
    per_bucket = per_full.groupBy(*key_cols).agg(
        F.sum("__m").alias("__n"),
        F.sum(F.col("__m") * (F.col("__m") - 1) / 2).alias("__same_pairs"),
    )
    stats = (
        per_bucket.where(F.col("__n") > max_bucket_size)
        .agg(
            F.count(F.lit(1)).alias("__hot"),
            F.sum("__same_pairs").alias("__same"),
            F.sum(F.col("__n") * (F.col("__n") - 1) / 2).alias("__total"),
            F.max("__n").alias("__max"),
            F.sum("__n").alias("__rows"),
        )
        .collect()[0]
    )
    n_hot = int(stats["__hot"] or 0)
    same = float(stats["__same"] or 0.0)
    total = float(stats["__total"] or 0.0)
    frac = (same / total) if total else 0.0
    return {
        "n_hot_buckets": n_hot,
        "sampled_buckets": n_hot,  # exact over all hot buckets since r13
        "max_bucket": int(stats["__max"] or 0),
        "hot_member_rows": int(stats["__rows"] or 0),
        "same_hash_pair_fraction": frac,
        "cap_deletes_signal": bool(total) and frac >= signal_threshold,
    }


_SEED_EDGES_PER_PART = 2_000_000  # ~32 MB of (src, dst) int64 per seed task


def _local_min_roots(batches):
    """Partition-local union-find for the CC seed pass: contract the
    partition's edge subset to min-root stars in vectorized numpy
    (min-hook + full pointer doubling, the FastSV shape — every sweep is
    O(E) C-speed). Emits ``(id, cluster_id)`` for every node seen in the
    partition, ``cluster_id`` = the smallest node of its partition-local
    component. Terminates provably: a hook strictly decreases some
    parent index while any edge still spans two roots, and indices are
    bounded below; at quiescence a connected local component cannot hold
    two roots (some edge would span them), so the single root is the
    component min."""
    import numpy as np
    import pandas as pd

    srcs, dsts = [], []
    for b in batches:
        srcs.append(b["src"].to_numpy(dtype="int64"))
        dsts.append(b["dst"].to_numpy(dtype="int64"))
    if not srcs:
        return
    s = np.concatenate(srcs)
    d = np.concatenate(dsts)
    if s.size == 0:
        return
    nodes, inv = np.unique(np.concatenate([s, d]), return_inverse=True)
    u, v = inv[: s.size], inv[s.size :]
    p = np.arange(nodes.size)
    while True:
        pu, pv = p[u], p[v]
        if not np.any(pu != pv):
            break
        np.minimum.at(p, np.maximum(pu, pv), np.minimum(pu, pv))
        while True:
            pp = p[p]
            if np.array_equal(pp, p):
                break
            p = pp
    yield pd.DataFrame({"id": nodes, "cluster_id": nodes[p]})


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    id_col: str = "id",
    src_col: str = "l_id",
    dst_col: str = "r_id",
    max_iter: int = 64,
) -> DataFrame:
    """(id, cluster_id): connected components by iterative min-label
    propagation — the dedup clustering step that turns near-dup PAIRS into
    KEEP/DROP groups (cluster_id = smallest member id, the canonical doc).

    Each round = one neighbor-min step + one pointer-jump step (label :=
    label of my label). The jump is a heuristic accelerator, NOT a
    log-diameter guarantee: on a pure path it converges in ~log d
    rounds (simulated: 13 rounds at d=4096), but on a real mutual-kNN
    graph with a 968-node eccentricity-54 component the min label still
    needed 32 rounds — and EXTRA jumps per round didn't help (simulated:
    32 rounds at 1 AND at 2 jumps; the bottleneck is the label
    frontier's graph distance from the min node, which jumping can't
    shortcut). Hence ``max_iter=64`` by default, and non-convergence
    RAISES instead of returning — unconverged labels are wrong answers
    and are never an output (a depth-54 graph under the old silent
    max_iter=25 truncation returned 352 mis-labeled nodes; caught
    against a python reachability reference, round 9).

    Every round ends with ``localCheckpoint`` — without it the logical
    plan (and Catalyst analysis time) grows superlinearly across
    iterations AND each unrolled round re-evaluates the previous round's
    joins wherever its label frame is referenced (measured: batching two
    UN-checkpointed rounds per materialization regressed the converge-
    in-one-round contract corpora ~40% — recomputation beat the saved
    job latency).

    What changed from round 3 is the CONVERGENCE PROBE, the other
    per-round driver-blocking job: the probe-window-start label rides
    along as a column (``__old`` — no probe-time join), and the probe is
    a short-circuiting ``isEmpty`` filter over the just-checkpointed
    blocks — replacing a per-round join + full count job. Measured ~10%
    off the CC-dominated contract queries at sf0.1 (head-to-head vs the
    round-3 implementation in one session). The probe runs every round:
    probing every second round measured ~25% SLOWER on the
    converge-in-1-2-rounds graphs real dedup produces (each skipped
    probe is a whole extra propagation round before convergence is
    noticed). The driver only reads the converged flag; all data stays
    distributed.
    """
    # SINGLE PASS over ``edges``: each edge explodes into itself and its
    # mirror — the same rows (and nulls) as a union of the two
    # projections. The union planned ``edges``' whole lineage twice
    # (for dedup callers: MinHash → LSH → verify),
    # and AQE reused no exchange across the two branches, so every CC
    # caller ran its pair pipeline twice.
    both = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
                F.struct(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")),
            )
        ).alias("__e")
    ).select("__e.src", "__e.dst")
    # LAZY checkpoint + count in one job (optimization round 14): the
    # seed pass below needs the edge count anyway, and a lazy
    # localCheckpoint materializes its blocks during the first action —
    # so the count() doubles as the checkpoint materialization, saving
    # one blocking job per CC call versus eager-checkpoint-then-count.
    both = both.localCheckpoint(eager=False)

    # INCIDENT-ONLY iteration (round 10): only nodes touched by an edge
    # can ever change label, so the loop iterates over edge endpoints
    # and isolated nodes are unioned back as their own cluster at the
    # end — exact by definition (edge endpoints must be node ids, the
    # documented contract). On the sparse graphs dedup produces the
    # label frame shrinks from |corpus| to |touched| (e.g. the ×10
    # image-removal graph: 1.67M docs, ~3k touched), which is what each
    # round joins, checkpoints, and probes — measured 37.4 s → ~8 s at
    # ×10 (BASELINE.md round-10 table). Dense graphs (|incident| ≈
    # |nodes|) pay one extra distinct over the edge frame, noise next
    # to their per-round joins.
    full_base = nodes.select(F.col(id_col).alias("id"))

    # SEED labels by partition-local union-find (optimization round 14,
    # guide §1.2 "fix the distributed algorithm first"): label
    # propagation over a FIXED edge set needs O(component eccentricity)
    # rounds — the pointer jump can't shortcut paths the min label has
    # not reached yet — and each round is a full neighbor-min join +
    # jump join + checkpoint job. Measured on the sf0.1 mutual-kNN
    # entity graph (968-node, eccentricity-54 component): 22 rounds.
    # The seed contracts every partition's edge subset to min-root
    # stars in ONE vectorized numpy pass (min-hook + pointer-doubling
    # union-find, C-speed per sweep), combines per-partition roots with
    # a node-keyed min, and hands the loop labels whose remaining
    # distance-to-fixpoint is the diameter of the CONTRACTED graph —
    # 1 verification round on every contract corpus (measured: this
    # row's CC went 22 rounds → 1). Exactness is untouched: seeded
    # labels are component members (local roots are edge endpoints),
    # labels only ever decrease via F.least, and the loop's fixpoint
    # certificate (neighbor-min quiescence) is initialization-agnostic.
    # Scale posture: the coalesce target derives from the measured edge
    # count (~2M edges ≈ 32 MB per task, numpy peak well under worker
    # overhead); a 100 TB edge set keeps thousands of partitions and
    # simply contracts within each, while the cross-partition chains
    # the loop must still walk shrink by the per-partition contraction
    # factor. The seed costs one narrow pass over the checkpointed
    # edges + one (node, root) shuffle — on converge-in-1-round graphs
    # (the common dedup shape) it replaces the old fused round 1 at the
    # same job count, so the tiny-cluster rows pay nothing.
    # Shuffle-free JVM count (round 15): Dataset.count()'s global agg
    # costs a second AQE stage job per CC call; the RDD count is the
    # same full scan (and still materializes the lazy checkpoint), and
    # the partition probe then reuses the cached toRdd instead of
    # building PySpark's pickled df.rdd wrapper.
    n_both = cache_registry.materialize_count(both)
    cur_parts = max(1, cache_registry.num_partitions(both))
    target = max(1, min(cur_parts, -(-n_both // _SEED_EDGES_PER_PART)))
    seed_src = both.coalesce(target) if target < cur_parts else both
    seed = seed_src.mapInPandas(_local_min_roots, "id long, cluster_id long")
    if target > 1:
        seed = seed.groupBy("id").agg(F.min("cluster_id").alias("cluster_id"))
    seed = seed.localCheckpoint(eager=True)
    # the seed's id set IS the incident set (every edge endpoint, once)
    incident = seed.select("id")

    def _with_isolated(labels: DataFrame) -> DataFrame:
        isolated = full_base.join(incident, "id", "left_anti").select(
            "id", F.col("id").alias("cluster_id")
        )
        return labels.unionByName(isolated)

    if target == 1:
        # SINGLE-PARTITION EXACT FAST PATH (optimization round 14, guide
        # §1.2 — don't run rounds the algebra says are no-ops): with one
        # seed partition the union-find saw EVERY edge, so its labels
        # are already the component-min fixpoint by the seed's own
        # termination proof (`_local_min_roots` docstring: at quiescence
        # a connected component cannot hold two roots). The propagation
        # loop would only VERIFY quiescence — one |E|-row neighbor-min
        # join, a label pointer-jump join, a checkpoint and a probe per
        # CC call, all spent confirming a theorem. Skipped. At scale
        # (target > 1) the loop below runs unchanged; this threshold is
        # edge-count-derived (~32 MB per seed task), not a local core
        # count, and the loop-path equivalence is pinned against a
        # Python reachability reference in tests/test_dedup.py.
        return _with_isolated(seed.select("id", "cluster_id"))

    # The loop starts from the SEEDED labels (the round-5 "round-1
    # fusion" identity fast-path is subsumed: the seed's local
    # union-find + node-keyed min-combine is strictly stronger than the
    # identity-start neighbor-min it replaced, at the same job count).
    labels: DataFrame = seed.select("id", "cluster_id")
    # Superseded-round block release (optimization round 14): each
    # round's checkpoint makes the previous round's blocks unreachable
    # (lineage is truncated), so they are freed inline instead of
    # waiting for a driver GC + ContextCleaner pass. The seed is not in
    # the slot, and the final round stays live (the returned frame
    # reads it).
    rounds = cache_registry.Slot()
    for done in range(int(max_iter)):
        cur = labels.withColumn("__old", F.col("cluster_id"))
        # 1. Neighbor-min: label := min(own, min over neighbors').
        nbr = (
            both.join(cur, both.src == cur.id)
            .groupBy("dst")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        stepped = cur.join(nbr, cur.id == nbr.dst, "left").select(
            "id",
            F.least(
                F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))
            ).alias("cluster_id"),
            "__old",
        )
        # 2. Pointer jump: label := label(label). cluster_id is always
        # an existing node id, so the join is total; doubles the
        # propagation distance per round.
        lab2 = stepped.select(
            F.col("id").alias("__pid"), F.col("cluster_id").alias("__plab")
        )
        nxt = stepped.join(lab2, stepped.cluster_id == lab2.__pid).select(
            "id", F.least("cluster_id", "__plab").alias("cluster_id"), "__old"
        )
        # STATS SANITIZATION (every 6th round): Spark 4's
        # localCheckpoint (rewriteStatsAndConstraints) stores the
        # plan's ESTIMATED sizeInBytes on the new LogicalRDD, and a
        # CC round's estimate is a PRODUCT over the previous round's
        # stored stat (~3 references) — so the stat's bit length
        # TRIPLES per round, and on graphs needing many rounds (a
        # mutual-kNN graph with a 968-node eccentricity-54 component
        # measured 32 rounds) the driver ends up burning minutes per
        # checkpoint in BigInteger multiplies before any task
        # launches (root-caused via jstack:
        # SizeInBytesOnlyStatsPlanVisitor under Dataset.checkpoint).
        # Materializing through the SQL cache first makes the
        # checkpoint store the cache's REAL size, resetting growth;
        # doing it every 6th round caps the estimate near 3^6× the
        # base (~tens of kilobits — microseconds of BigInt math)
        # while converge-in-a-few-rounds graphs — the common dedup
        # shape — never pay the extra materialization.
        if done % 6 == 5:
            nxt = nxt.persist()
            nxt.count()
            cur = rounds.checkpoint(nxt)
            nxt.unpersist()
        else:
            cur = rounds.checkpoint(nxt)
        labels = cur.select("id", "cluster_id")
        if cur.where(F.col("cluster_id") != F.col("__old")).isEmpty():
            return _with_isolated(labels)
    # The last round's changed-check cannot tell whether that change
    # reached the fixpoint, so a fixpoint reached exactly on round
    # max_iter still shows "changed". Confirm with one extra
    # NEIGHBOR-MIN probe (no new propagation is counted): on symmetric
    # edges, no-change under neighbor-min ⇒ label(v) ≤ label(u) for every
    # neighbor pair in both directions ⇒ labels constant per component,
    # and the component-min node pins that constant to the min id — a
    # genuine fixpoint certificate, not just "this round was quiet".
    probe = (
        both.join(labels, both.src == labels.id)
        .groupBy("dst")
        .agg(F.min("cluster_id").alias("nbr_min"))
        .join(labels, F.col("dst") == labels.id)
        .where(F.col("nbr_min") < F.col("cluster_id"))
    )
    if probe.isEmpty():
        return _with_isolated(labels)
    raise RuntimeError(
        f"connected_components: no fixpoint within max_iter={max_iter} "
        "rounds — raise max_iter (labels would be WRONG on unconverged "
        "components, so they are never returned)"
    )


#: Quotient edge count up to which :func:`update_entity_labels` maps
#: components with a driver-side union-find instead of distributed CC.
_SMALL_QUOTIENT_MAX_EDGES = 100_000


def update_entity_labels(
    labels: DataFrame,
    new_nodes: DataFrame,
    edges: DataFrame,
    *,
    id_col: str = "id",
    label_col: str = "entity_id",
    src_col: str = "l_id",
    dst_col: str = "r_id",
) -> DataFrame:
    """INCREMENTAL entity resolution (round 10, VERDICT r9 #5): fold a
    batch of new nodes + new edges into STORED component labels, running
    connected components only on the affected QUOTIENT graph — the
    index-maintenance symmetry the IVF-PQ/packing/BM25 families already
    have, applied to CC.

    ``labels`` must be CC-canonical stored labels (entity_id = smallest
    member id of its component — exactly what :func:`connected_components`
    emits); ``new_nodes`` carries the appended ids (disjoint from
    ``labels``); ``edges`` is the new edge batch, each endpoint historical
    or new.

    EXACT, not approximate: mapping every edge endpoint to its stored
    label (new nodes map to themselves) yields the quotient graph whose
    nodes are touched CLUSTER ids + new ids. Each stored cluster id IS
    the min of its members, so the quotient component's min equals the
    min member id over the merged clusters and new nodes — i.e. CC on
    the quotient followed by a label-to-label relabel join reproduces
    the full recompute over (historical ∪ new) edges bit-for-bit
    (equivalence-tested in tests/test_dedup.py; the contract row's
    oracle computes the ONE-SHOT closure over the union edge set, so
    the driver hash-check re-proves incremental ≡ rebuild every run).

    Scale: the CC loop touches only quotient nodes (edge endpoints —
    output-proportional, ≪ corpus); untouched clusters never move — the
    relabel is a broadcast-sized (old label → new label) mapping joined
    onto the stored table, and isolated new nodes label themselves.

    Latency: when the quotient has ≤ ``_SMALL_QUOTIENT_MAX_EDGES`` edges
    (one bounded count over the already-checkpointed edge frame), the
    component mapping is computed by a driver-side union-find instead of
    the iterative CC loop — the quotient of a typical append batch is a
    few hundred rows, where distributed CC is pure job-launch latency
    (~0.5 s × rounds × 2 jobs; measured 5.4 s of a 7 s fold at sf0.1).
    The collect is bounded by the threshold (≤ 2·threshold node rows),
    results are identical (min-label over components either way — the
    update_entity_labels equivalence tests run BOTH paths), and a batch
    big enough to cross the threshold takes the distributed loop, so
    the 100 TB path never collects unbounded data."""
    # project to the two contract columns up front: a payload column on
    # the stored frame named e.g. "cluster_id" would otherwise collide
    # with the CC mapping's output in the relabel joins below
    labels = labels.select(F.col(id_col), F.col(label_col))
    lab = labels.select(F.col(id_col).alias("__i"), F.col(label_col).alias("__l"))
    e = (
        edges.select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"))
        .join(lab.withColumnRenamed("__i", "__s").withColumnRenamed("__l", "__sl"), "__s", "left")
        .join(lab.withColumnRenamed("__i", "__d").withColumnRenamed("__l", "__dl"), "__d", "left")
        .select(
            F.coalesce("__sl", "__s").alias("l_id"),
            F.coalesce("__dl", "__d").alias("r_id"),
        )
        .where(F.col("l_id") != F.col("r_id"))
    )
    # e is referenced by the node derivation AND every CC round (or the
    # collect below) — materialize once (the multiply-referenced rule),
    # fused with the size probe: the lazy checkpoint's blocks persist
    # during the count's single job.
    e = e.localCheckpoint(eager=False)
    if cache_registry.materialize_count(e) <= _SMALL_QUOTIENT_MAX_EDGES:
        # Driver union-find over the bounded quotient edge set. Only
        # edge-incident nodes need a mapping row: the relabel joins
        # below coalesce unmapped ids to themselves, which is exactly
        # what CC's identity rows for isolated quotient nodes produce.
        parent: dict = {}

        def _find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for row in e.collect():
            a, b = row["l_id"], row["r_id"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = _find(a), _find(b)
            if ra != rb:
                parent[rb] = ra
        comp_min: dict = {}
        for x in parent:
            r = _find(x)
            m = comp_min.get(r)
            if m is None or x < m:
                comp_min[r] = x
        id_type = e.schema["l_id"].dataType
        from pyspark.sql import types as T

        mapping = new_nodes.sparkSession.createDataFrame(
            [(x, comp_min[_find(x)]) for x in parent],
            T.StructType(
                [
                    T.StructField("id", id_type),
                    T.StructField("cluster_id", id_type),
                ]
            ),
        )
    else:
        qnodes = (
            e.select(F.col("l_id").alias("id"))
            .unionByName(e.select(F.col("r_id").alias("id")))
            .unionByName(new_nodes.select(F.col(id_col).alias("id")))
            .distinct()
        )
        mapping = connected_components(
            qnodes, e, id_col="id", src_col="l_id", dst_col="r_id"
        )
    hist_out = (
        labels.join(
            mapping.withColumnRenamed("id", "__m"),
            labels[label_col] == F.col("__m"),
            "left",
        )
        .select(
            F.col(id_col),
            F.coalesce("cluster_id", F.col(label_col)).alias(label_col),
        )
    )
    new_out = (
        new_nodes.select(F.col(id_col))
        .join(
            mapping.withColumnRenamed("id", "__m"),
            F.col(id_col) == F.col("__m"),
            "left",
        )
        .select(F.col(id_col), F.coalesce("cluster_id", F.col(id_col)).alias(label_col))
    )
    return hist_out.unionByName(new_out)


def remove_near_dups(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_jaccard: float = 0.5,
    use_lsh: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The one-stop near-dup REMOVAL: return the surviving corpus — one
    canonical document (smallest id) per near-dup cluster, all columns
    intact. Composition of the pipeline pieces: shingle postings →
    candidate pairs (exact all-pairs Jaccard, or MinHash-LSH when
    ``use_lsh``) → connected components → keep rows whose id IS their
    cluster's min label.

    Scale: with ``use_lsh=True`` (+ ``max_bucket_size``) every stage is
    bucketed/bounded — this is the web-scale plan; the exact path is the
    oracle-checkable small-corpus twin.
    """
    if use_lsh:
        shingled = _signed_docs(docs, id_col, text_col, 3).persist()
    else:
        shingled = shingle_postings(docs, id_col, text_col).persist()
    try:
        if use_lsh:
            pairs = _lsh_jaccard_pairs(shingled, min_jaccard, max_bucket_size)
        else:
            pairs = jaccard_pairs(shingled, min_jaccard=min_jaccard)
        nodes = docs.select(F.col(id_col).alias("id"))
        # The verified pairs go straight to CC: its seed pass union-finds
        # each edge partition to min-root stars, the one place near-dup
        # chains are contracted. CC eagerly localCheckpoints both the
        # edge set and every label iteration, so by the time it returns
        # nothing downstream references the shingled lineage...
        cc = connected_components(nodes, pairs.select("l_id", "r_id"))
    finally:
        # ...which makes this the earliest safe unpersist point: without
        # it every call leaks cached shingle blocks into executor storage
        # memory for the life of the session.
        shingled.unpersist()
    keep = cc.where(F.col("id") == F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(keep, id_col)


def remove_embedding_near_dups(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    min_cosine: float = 0.35,
    num_centroids: int | None = None,
    nprobe: int = 2,
) -> DataFrame:
    """SemDeDup-style SEMANTIC removal: the surviving corpus after
    collapsing every cosine-≥``min_cosine`` cluster of embeddings to
    its canonical (smallest-id) member, all columns intact — the
    embedding-space twin of :func:`remove_near_dups` (Abbas et al.,
    "SemDeDup", 2023: semantic duplicates — paraphrases, re-renders,
    near-identical images — survive text-level dedup; their embeddings
    don't).

    Composition of the proven pieces: IVF-blocked candidate pairs with
    exact cosine verification (:func:`embedding_ivf_near_dup_pairs`,
    O(n^1.5) with √n centroids) → :func:`connected_components`
    (pointer-jump min-label) → keep rows whose id IS their cluster's
    label. Same bounded-stage scale posture as the text removal.
    """
    verified = embedding_ivf_near_dup_pairs(
        df,
        id_col,
        vec_col,
        min_cosine=min_cosine,
        num_centroids=num_centroids,
        nprobe=nprobe,
    )
    nodes = df.select(F.col(id_col).alias("id"))
    cc = connected_components(nodes, verified.select("l_id", "r_id"))
    keep = cc.where(F.col("id") == F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(keep, id_col)


def embedding_lsh_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    min_cosine: float = 0.35,
    num_planes: int = 16,
    bands: int = 4,
    num_dims: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(l_id, r_id, sim): embedding near-dup pairs via SIGN-LSH bucketed
    candidate generation + exact-cosine verification — the scale path
    for ``embedding_near_dup_pairs``.

    Semantic blocking (``block_col``) is quadratic in the block size:
    at 10× the corpus with a fixed block vocabulary it measured 26×
    slower (BASELINE.md). Here candidates come only from same-(band,
    bucket) collisions of md5-derived ±1 hyperplane sign signatures
    (deterministic — the same bucket layout is reproducible in DuckDB,
    so the whole approximate pipeline is oracle-checkable), and bucket
    population self-scales with the corpus. ``max_bucket_size`` caps
    pathological buckets (mirror of the MinHash-LSH knob). Recall is
    governed by (num_planes, bands), like any sign-LSH index.
    """
    from polars_sim_spark.operators.similarity import _sign_buckets

    if num_dims is None:
        row = df.agg(F.max(F.size(F.col(vec_col))).alias("d")).collect()
        num_dims = row[0]["d"]
        if num_dims is None:
            raise ValueError("embedding_lsh_near_dup_pairs: empty input and no num_dims")
    buckets = _sign_buckets(df, id_col, vec_col, num_planes, bands, num_dims)
    buckets = _cap_buckets(buckets, ["band", "bucket"], max_bucket_size)
    a = buckets.select("band", "bucket", F.col("id").alias("l_id"))
    b = buckets.select("band", "bucket", F.col("id").alias("r_id"))
    cands = (
        a.join(b, ["band", "bucket"])
        .where(F.col("l_id") < F.col("r_id"))
        .select("l_id", "r_id")
        .distinct()
    )
    return _verify_cosine_pairs(df, id_col, vec_col, cands, min_cosine)


def _verify_cosine_pairs(
    df: DataFrame, id_col: str, vec_col: str, cands: DataFrame, min_cosine: float
) -> DataFrame:
    """Exact cosine for CANDIDATE pairs only: two narrow joins attach the
    vectors + precomputed norms, the dot product is one in-expression
    array pass per pair."""
    from polars_sim_spark.functions.vectors import dot, l2_norm

    vecs = df.select(
        F.col(id_col).alias("__vid"),
        F.col(vec_col).alias("__v"),
        l2_norm(vec_col).alias("__nrm"),
    )
    pairs = cands.join(
        vecs.select(
            F.col("__vid").alias("l_id"), F.col("__v").alias("__va"), F.col("__nrm").alias("__na")
        ),
        "l_id",
    ).join(
        vecs.select(
            F.col("__vid").alias("r_id"), F.col("__v").alias("__vb"), F.col("__nrm").alias("__nb")
        ),
        "r_id",
    )
    denom = F.col("__na") * F.col("__nb")
    sim = F.when(denom > F.lit(0.0), dot("__va", "__vb") / denom).otherwise(F.lit(0.0))
    return pairs.select("l_id", "r_id", sim.alias("sim")).where(
        F.round("sim", 6) >= min_cosine
    )


#: Backing checkpoint of the last :func:`embedding_ivf_near_dup_pairs`
#: call's centroid assignment — one live across back-to-back calls.
_IVF_ASSIGNED = cache_registry.Slot()


def embedding_ivf_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    min_cosine: float = 0.35,
    num_centroids: int | None = None,
    nprobe: int = 2,
    max_cell_fraction: float | None = None,
    subprobe: int = 2,
) -> DataFrame:
    """(l_id, r_id, sim): embedding near-dup pairs via IVF blocking —
    the preferred scale path for moderate thresholds. A pair sharing
    several cells is generated once per cell and deduplicated with one
    ``distinct`` before verification.

    Centroids are scored by :func:`similarity._top_cells`: Column
    expressions (oracle-exact) up to its 32-centroid crossover, the
    Arrow-batched GEMM above — 6.6× faster at √n centroids on the 10×
    bench (64.6 → 9.8 s, BASELINE.md) because the expression's
    per-centroid HOF dot products are allocation-bound.

    Every vector is assigned to its ``nprobe`` nearest of
    ``num_centroids`` deterministic (md5-hash-sampled) centroids;
    candidates are pairs sharing an assigned centroid; candidates are
    verified with the exact cosine. Why this scales where the
    alternatives don't:

    * semantic blocking (``embedding_near_dup_pairs(block_col=...)``)
      is Σ block² with a FIXED block vocabulary — quadratic in corpus
      growth (measured 26× at 10×, BASELINE.md);
    * sign-LSH blocking (``embedding_lsh_near_dup_pairs``) needs high
      thresholds for small buckets; at moderate thresholds its
      recall/bucket-size tradeoff degenerates (BASELINE.md);
    * IVF blocks ∝ n/num_centroids, and ``num_centroids`` defaults to
      ⌈√n⌉ — block size √n, total pair work O(n^1.5), self-scaling
      with the corpus. ``nprobe`` ≥ 2 catches near-boundary pairs
      (each pair is found if the two assignment sets intersect).

    Deterministic end-to-end (sampled centroids + 6-decimal-rounded
    sims), so the approximate pipeline is DuckDB-oracle-checkable.

    ``max_cell_fraction`` (default off — the contract query's oracle
    pins the uncapped candidate set) bounds QUANTIZER-CELL SKEW: the
    designed O(n^1.5) assumes ~n/num_centroids members per cell, but an
    autocorrelated corpus can pile into few cells — measured 72.9× per
    10× step vs the designed 31.6× at the 100× scale (BASELINE.md).
    Cells larger than ``max(max_cell_fraction·n, 16)``
    are re-quantized IN-CELL: ``⌈size/cap⌉`` secondary centroids are
    picked per hot cell by the same deterministic md5 rank, members are
    scored against their own cell's sub-centroids only (a relational
    join — no driver loop, no plan literals), keep top-``subprobe``,
    and pair generation runs within (cell, sub-cell). Candidates are a
    SUBSET of the uncapped cell's pairs (containment property-tested),
    so precision is untouched (exact verification) and only
    within-hot-cell recall is traded — the same trade ``nprobe`` makes,
    one level down. Work per hot cell drops from size² to
    Σ sub² + size·⌈size/cap⌉ (sub-centroid scoring).

    Back-to-back calls share one checkpoint slot (``_IVF_ASSIGNED``):
    consume each call's result before making the next call.
    """
    from polars_sim_spark.operators.similarity import _top_cells, _vec_side, pick_centroids

    n_total = None
    if num_centroids is None:
        import math

        # One count scout (metadata-cheap on parquet); √n keeps block
        # size and block count balanced.
        n_total = df.count()
        num_centroids = max(4, math.isqrt(n_total) + 1)
    cent_rows = pick_centroids(df, id_col, vec_col, num_centroids).collect()
    cent_rows.sort(key=lambda r: r["c_id"])
    assigned = _top_cells(
        _vec_side(df, id_col, vec_col, "__vid"), cent_rows, nprobe=nprobe, carry=("__vid",)
    )
    # Checkpoint at the fan-out (optimization round 15, the Change-16
    # pattern): `assigned` is the costliest projection of the query —
    # the full 16-centroid HOF scoring (or the Arrow GEMM above 32
    # centroids) over every corpus vector — and it is referenced by BOTH
    # self-join sides, and on the capped path additionally by the
    # cell-size agg and the hot/cold splits. Catalyst shares no
    # projection subtrees across references, so the uncapped plan
    # carried 8 parquet scans and the capped plan 36 (zero
    # ReusedExchange) — the scoring ran per reference. The frame is
    # (vid, c_id) — two narrow columns. LAZY localCheckpoint, not
    # persist: the first consuming stage materializes it (no extra
    # blocking job), and the truncated plan also collapses the capped
    # path's analysis/codegen blow-up — an A/B with persist() measured
    # 41 jobs / 11.2 s task time (AQE re-plans every InMemoryTableScan
    # reference) vs 17 / 5.8 before and 12 / 4.9 with the checkpoint.
    # The module-level slot releases the PREVIOUS call's `assigned` (the
    # knn serve's back-to-back contract, stated in the docstring).
    if not df.isStreaming:
        assigned = _IVF_ASSIGNED.checkpoint(assigned, eager=False)
    if max_cell_fraction is None:
        a = assigned.select("c_id", F.col("__vid").alias("l_id"))
        b = assigned.select("c_id", F.col("__vid").alias("r_id"))
        joined0 = a.join(b, "c_id").where(F.col("l_id") < F.col("r_id"))
        cands = joined0.select("l_id", "r_id").distinct()
        return _verify_cosine_pairs(df, id_col, vec_col, cands, min_cosine)

    # ---- hot-cell cap: re-quantize oversized cells in place ----
    from polars_sim_spark.functions.vectors import dot, l2_norm

    if n_total is None:
        n_total = df.count()
    cap = max(int(max_cell_fraction * n_total), 16)
    sizes = assigned.groupBy("c_id").agg(F.count(F.lit(1)).alias("__csz"))
    asg = assigned.join(F.broadcast(sizes), "c_id")
    cold = asg.where(F.col("__csz") <= cap)
    hot = asg.where(F.col("__csz") > cap)
    vecs = df.select(
        F.col(id_col).alias("__vid"),
        F.col(vec_col).alias("__v2"),
        l2_norm(vec_col).alias("__n2"),
    )
    hotm = hot.join(vecs, "__vid")
    # ⌈size/cap⌉ deterministic sub-centroids per hot cell (md5-rank pick,
    # the pick_centroids rule applied within the cell). The rank window
    # sorts one hot cell per task — fine up to ~10⁷-member cells; the
    # scoring join below is the designed size·⌈size/cap⌉ work.
    w_pick = Window.partitionBy("c_id").orderBy(
        md5_hash64(F.col("__vid").cast("string")), F.col("__vid")
    )
    subc = (
        hotm.withColumn("__srk", F.row_number().over(w_pick))
        .where(F.col("__srk") <= F.ceil(F.col("__csz") / F.lit(cap)))
        .select("c_id", "__srk", F.col("__v2").alias("__sv"), F.col("__n2").alias("__sn"))
    )
    sdenom = F.col("__n2") * F.col("__sn")
    ssim = F.round(
        F.when(sdenom > F.lit(0.0), dot("__v2", "__sv") / sdenom).otherwise(F.lit(0.0)),
        6,
    )
    w_top = Window.partitionBy("c_id", "__vid").orderBy(
        F.desc("__ssim"), F.asc("__srk")
    )
    sub_asg = (
        hotm.select("c_id", "__vid", "__v2", "__n2")
        .join(subc, "c_id")
        .select("c_id", "__vid", "__srk", ssim.alias("__ssim"))
        .withColumn("__rn", F.row_number().over(w_top))
        .where(F.col("__rn") <= subprobe)
        .select("c_id", "__srk", "__vid")
    )
    # One unioned block table: cold cells pair on the cell id, hot cells
    # on (cell, sub-cell) — a single self-join, Catalyst sees one shape.
    blocks = cold.select(
        F.concat_ws("|", F.lit("c"), F.col("c_id").cast("string")).alias("__blk"),
        "__vid",
    ).unionByName(
        sub_asg.select(
            F.concat_ws(
                "|",
                F.lit("s"),
                F.col("c_id").cast("string"),
                F.col("__srk").cast("string"),
            ).alias("__blk"),
            "__vid",
        )
    )
    a2 = blocks.select("__blk", F.col("__vid").alias("l_id"))
    b2 = blocks.select("__blk", F.col("__vid").alias("r_id"))
    joined2 = a2.join(b2, "__blk").where(F.col("l_id") < F.col("r_id"))
    cands = joined2.select("l_id", "r_id").distinct()
    return _verify_cosine_pairs(df, id_col, vec_col, cands, min_cosine)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    block_col: str | None = None,
    min_cosine: float = 0.35,
) -> DataFrame:
    """(l_id, r_id, sim): pairs with cosine ≥ threshold.

    With ``block_col`` the pair space is restricted to same-block pairs
    (e.g. a cluster/partition key) — the classic blocking strategy that
    turns O(n²) into Σ O(block²). Without it, a full cross-join: only
    for small n (use the LSH ANN operator at scale).
    """
    from polars_sim_spark.functions.vectors import dot, l2_norm

    # Norms once per vector, not per pair (pairs are quadratic in the
    # block size; the dot product is then the only per-pair array pass).
    a_cols = [
        F.col(id_col).alias("l_id"),
        F.col(vec_col).alias("__va"),
        l2_norm(vec_col).alias("__na"),
    ]
    b_cols = [
        F.col(id_col).alias("r_id"),
        F.col(vec_col).alias("__vb"),
        l2_norm(vec_col).alias("__nb"),
    ]
    if block_col is not None:
        a = df.select(*a_cols, F.col(block_col).alias("__blk"))
        b = df.select(*b_cols, F.col(block_col).alias("__blk"))
        pairs = a.join(b, "__blk")
    else:
        pairs = df.select(*a_cols).crossJoin(df.select(*b_cols))
    denom = F.col("__na") * F.col("__nb")
    sim = F.when(denom > F.lit(0.0), dot("__va", "__vb") / denom).otherwise(F.lit(0.0))
    return (
        pairs.where(F.col("l_id") < F.col("r_id"))
        .select("l_id", "r_id", sim.alias("sim"))
        .where(F.round("sim", 6) >= min_cosine)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    threshold_pct: int = 80,
) -> DataFrame:
    """Directed containment near-dup pairs: (src_id, dst_id, overlap,
    src_size, contain_micro) where ``|sh(src) ∩ sh(dst)| / |sh(src)| >=
    threshold_pct/100`` — the ASYMMETRIC twin of Jaccard dedup, catching
    quotes/excerpts/supersets where a small document lives inside a big
    one (Jaccard misses those: the union is dominated by the big side).

    Candidate generation prefix-filters the SOURCE side only — if the
    overlap reaches ``T = ceil(t*|A|)``, at least one of A's
    ``|A| - T + 1`` globally-rarest shingles must appear in B's full
    posting list (pigeonhole on A's side; containment puts no constraint
    on B, so B is NOT prefixed).  Hot shingles therefore never join
    prefix-to-prefix, and the candidate stream stays near-linear — the
    same economics as the ppjoin path in ``jaccard_pairs``.

    Verification is map-side: each candidate pair joins the two DISTINCT
    shingle ARRAYS and counts ``array_intersect`` inside codegen —
    exact, no postings re-join (the triangle-counting trick,
    operators/graph.py).  All thresholds are integer arithmetic
    (``overlap*100 >= t*|A|``; ``contain_micro = overlap*10^6 div |A|``)
    so the DuckDB oracle matches bit-for-bit.
    """
    if not 1 <= threshold_pct <= 100:
        raise ValueError(
            f"containment_pairs: threshold_pct must be in [1, 100], got {threshold_pct}"
        )
    post = shingle_postings(df, id_col, text_col, n)
    sizes = post.groupBy("id").agg(F.count(F.lit(1)).alias("__sz"))
    dfreq = post.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))

    # A-side prefix: keep each src's (|A| - ceil(t*|A|) + 1) rarest
    # shingles under the deterministic global (df, sh) order.
    w = Window.partitionBy("id").orderBy("__df", "sh")
    prefix = (
        post.join(dfreq, "sh")
        .withColumn("__rn", F.row_number().over(w))
        .join(sizes, "id")
        .where(
            F.col("__rn")
            <= F.col("__sz") - F.expr(f"(__sz * {int(threshold_pct)} + 99) div 100") + 1
        )
        .select(F.col("id").alias("__src"), "sh")
    )
    cand = (
        prefix.join(post.select(F.col("id").alias("__dst"), "sh"), "sh")
        .where(F.col("__src") != F.col("__dst"))
        .select("__src", "__dst")
        .distinct()
    )

    arrs = df.select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col), n).alias("__arr")
    )
    verified = (
        cand.join(arrs.select(F.col("id").alias("__src"), F.col("__arr").alias("__arr_s")), "__src")
        .join(arrs.select(F.col("id").alias("__dst"), F.col("__arr").alias("__arr_d")), "__dst")
        .select(
            F.col("__src").alias("src_id"),
            F.col("__dst").alias("dst_id"),
            F.size(F.array_intersect("__arr_s", "__arr_d")).cast("long").alias("overlap"),
            F.size("__arr_s").cast("long").alias("src_size"),
        )
        .where(F.col("overlap") * 100 >= F.lit(int(threshold_pct)) * F.col("src_size"))
    )
    return verified.withColumn(
        "contain_micro", F.expr("(overlap * 1000000) div src_size")
    )


def video_frame_match_pairs(
    ph: DataFrame,
    *,
    id_col: str = "doc_id",
    frame_col: str = "frame_idx",
    band_cols: tuple[str, ...] = ("band0", "band1", "band2", "band3"),
    max_dist: int = 3,
    min_frames: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(l_id, r_id, n_frames_matched): video near-dup pairs by
    FRAME-ALIGNED banded Hamming matching over per-frame hashes
    (operators/multimodal.py:mp4_frame_phash) — the discriminative
    alternative to the whole-video majority fold on corpora where the
    fold clusters (BASELINE.md round 11: on homogeneous content the
    fold's hot buckets contain the true dups, so the bucket cap deletes
    them; per-frame exact alignment has no such failure mode).

    Candidates are band-bucket collisions keyed by (frame, band,
    value) — within-frame only, so the per-frame pigeonhole recall
    guarantee (``max_dist ≤ bands−1``) carries over frame-by-frame; the
    exact per-frame Hamming verify then counts DISTINCT matching frames
    per video pair and keeps pairs with ≥ ``min_frames``. Scale: the
    same single-shuffle candidate join + broadcast verify economics as
    :func:`phash_near_pairs`, with the frame key sharpening buckets
    (hot hash values split across frame indexes).

    ``max_bucket_size`` (r12, VERDICT r11 #3 / ADVICE): the same
    hot-bucket cap as every other banded path, applied to the
    (frame, band, value) buckets BEFORE the self-join. The frame key
    usually keeps buckets small, but a corpus with a frozen-frame hash
    mode (long runs of uniform/black frames sharing one per-frame hash)
    re-creates the mega-bucket quadratic the cap exists for — and at
    ×100 the cap is feasibility, not tuning (BASELINE.md round 11).
    Pair :func:`diagnose_hot_buckets` (frame_col=...) with this knob to
    check whether capping would delete true-replica signal first."""
    nb = len(band_cols)
    if max_dist > nb - 1:
        raise ValueError(
            f"max_dist={max_dist} voids the per-frame band recall guarantee "
            f"for {nb} bands (requires max_dist <= {nb - 1})"
        )
    if min_frames < 1:
        raise ValueError(f"min_frames must be >= 1, got {min_frames}")
    # Cache the (id, frame, bands) projection before fanning out — this
    # function references its input 2–5 times (bucket self-join sides,
    # the cap scout, the l/r verify sides), and when ``ph`` is the
    # per-frame Arrow decode chain every reference re-decoded the whole
    # video corpus (same multi-evaluation the phash_near_pairs cache
    # fixed; the dedup_video_pixel_crossformat plan carried the MJPEG
    # decode twice). Kilobytes per million frames, released by the
    # session owner's unpersist_all.
    if not ph.isStreaming:
        ph = cache_registry.track(
            ph.select(F.col(id_col), F.col(frame_col), *[F.col(c) for c in band_cols])
        )
    if max_dist == 0:
        # Hamming 0 ⟺ full-hash equality, so candidates key on the
        # WHOLE hash, not per-band values (round 14, measured on the
        # decoded-pixel video corpus): fixed-width bands accumulate
        # birthday mass once rows-per-(frame,band) outgrow the band
        # value space — the ×100 probe's per-band candidate join went
        # superlinear while full-hash equality only materializes true
        # duplicate groups and stays one linear shuffle. The cap
        # applies to full-hash groups (a frozen-frame mode is still a
        # mega-group).
        key = ["__f", *[f"__b{j}" for j in range(nb)]]
        g = ph.select(
            F.col(id_col).alias("id"),
            F.col(frame_col).alias("__f"),
            *[F.col(c).alias(f"__b{j}") for j, c in enumerate(band_cols)],
        )
        g = _cap_buckets(g, key, max_bucket_size)
        a = g.select(*key, F.col("id").alias("l_id"))
        b = g.select(*key, F.col("id").alias("r_id"))
        matched = (
            a.join(b, key)
            .where(F.col("l_id") < F.col("r_id"))
            .select("l_id", "r_id", "__f")
            .distinct()
        )
        return (
            matched.groupBy("l_id", "r_id")
            .agg(F.count(F.lit(1)).alias("n_frames_matched"))
            .where(F.col("n_frames_matched") >= min_frames)
        )
    bands_df = ph.select(
        F.col(id_col).alias("id"),
        F.col(frame_col).alias("__f"),
        F.posexplode(F.array(*[F.col(c) for c in band_cols])).alias(
            "band", "band_key"
        ),
    )
    bands_df = _cap_buckets(bands_df, ["__f", "band", "band_key"], max_bucket_size)
    a = bands_df.select("__f", "band", "band_key", F.col("id").alias("l_id"))
    b = bands_df.select("__f", "band", "band_key", F.col("id").alias("r_id"))
    cand = (
        a.join(b, ["__f", "band", "band_key"])
        .where(F.col("l_id") < F.col("r_id"))
        .select("l_id", "r_id", "__f")
        .distinct()
    )
    lt = ph.select(
        F.col(id_col).alias("l_id"),
        F.col(frame_col).alias("__f"),
        *[F.col(c).alias(f"__l{j}") for j, c in enumerate(band_cols)],
    )
    rt = ph.select(
        F.col(id_col).alias("r_id"),
        F.col(frame_col).alias("__f"),
        *[F.col(c).alias(f"__r{j}") for j, c in enumerate(band_cols)],
    )
    ham = None
    for j in range(nb):
        t = F.bit_count(F.col(f"__l{j}").bitwiseXOR(F.col(f"__r{j}")))
        ham = t if ham is None else ham + t
    matched = (
        cand.join(lt, ["l_id", "__f"])
        .join(rt, ["r_id", "__f"])
        .where(ham.cast("int") <= max_dist)
    )
    return (
        matched.groupBy("l_id", "r_id")
        .agg(F.count(F.lit(1)).alias("n_frames_matched"))
        .where(F.col("n_frames_matched") >= min_frames)
    )


def video_near_pairs_auto(
    ph_fold: DataFrame,
    ph_frames: DataFrame,
    *,
    id_col: str = "doc_id",
    frame_col: str = "frame_idx",
    fold_band_cols: tuple[str, ...] = tuple(f"band{j}" for j in range(8)),
    frame_band_cols: tuple[str, ...] = ("band0", "band1", "band2", "band3"),
    max_dist: int = 3,
    min_frames: int = 1,
    max_bucket_size: int | None = 1000,
    signal_threshold: float = 0.2,
) -> DataFrame:
    """Video near-dup pairs with the hot-bucket diagnosis AUTO-ROUTE
    (round 12, VERDICT r11 #3): probe the whole-video majority-fold
    hashes (``ph_fold``, from multimodal.py:mp4_vhash) with
    :func:`diagnose_hot_buckets`; if the buckets ``max_bucket_size``
    would drop are replica clusters (the recall inversion BASELINE.md
    round 11 measured on homogeneous corpora — capping the fold kept
    only 4.8% of true dups), route to FRAME-ALIGNED matching over
    ``ph_frames`` (multimodal.py:mp4_frame_phash), whose (frame, band,
    value) key splits the mode across frame indexes; otherwise run the
    cheap capped fold path.

    ``ph_frames`` is a lazy plan — it is only evaluated on the
    frame-aligned route, so the common (well-spread) corpus pays one
    bounded probe aggregate plus the fold join and never hashes
    per-frame.

    The output schema is ROUTE-INDEPENDENT (ADVICE r12 — the route is
    chosen from corpus data at runtime, so a route-dependent shape
    would make the same caller code work on one corpus and fail on
    another): always (l_id, r_id, route, n_frames_matched, hamming),
    where ``route`` is the literal 'frames' or 'fold' and the column
    the other route produces is null. Callers that only feed connected
    components read (l_id, r_id) unchanged. When the probe forces the
    frame route a ``UserWarning`` carrying the probe statistics is
    emitted, so the routing decision is visible in job logs
    (VERDICT r12 #7)."""
    # Cache the fold projection FIRST: the probe below is eager, so
    # without this it evaluates the whole-video hash chain once and the
    # chosen fold route evaluates it again (phash_near_pairs' own cache
    # only helps references made after it). The probe now materializes
    # the cache the pair path reuses.
    if not ph_fold.isStreaming:
        ph_fold = cache_registry.track(
            ph_fold.select(F.col(id_col), *[F.col(c) for c in fold_band_cols])
        )
    routed_frames = False
    if max_bucket_size is not None:
        diag = diagnose_hot_buckets(
            ph_fold,
            id_col=id_col,
            band_cols=fold_band_cols,
            max_bucket_size=max_bucket_size,
            signal_threshold=signal_threshold,
        )
        routed_frames = diag["cap_deletes_signal"]
        if routed_frames:
            import warnings

            warnings.warn(
                "video_near_pairs_auto: fold hot buckets are "
                f"{diag['same_hash_pair_fraction']:.0%} identical-full-hash "
                f"pairs across {diag['n_hot_buckets']} bucket(s) (max size "
                f"{diag['max_bucket']}) — routing to frame-aligned "
                "matching so the cap does not delete replica signal.",
                UserWarning,
                stacklevel=2,
            )
    if routed_frames:
        out = video_frame_match_pairs(
            ph_frames,
            id_col=id_col,
            frame_col=frame_col,
            band_cols=frame_band_cols,
            max_dist=max_dist,
            min_frames=min_frames,
            max_bucket_size=max_bucket_size,
        )
        return out.select(
            "l_id",
            "r_id",
            F.lit("frames").alias("route"),
            F.col("n_frames_matched").cast("long").alias("n_frames_matched"),
            F.lit(None).cast("int").alias("hamming"),
        )
    out = phash_near_pairs(
        ph_fold,
        id_col=id_col,
        band_cols=fold_band_cols,
        max_dist=max_dist,
        max_bucket_size=max_bucket_size,
        # The auto-route probe above already adjudicated these buckets
        # as SAFE — a second cap_guard probe would be a duplicate job.
        cap_guard=False,
    )
    return out.select(
        "l_id",
        "r_id",
        F.lit("fold").alias("route"),
        F.lit(None).cast("long").alias("n_frames_matched"),
        F.col("hamming").cast("int").alias("hamming"),
    )
