"""Product quantization (PQ) for embedding columns.

The memory half of the ANN story: IVF (operators/similarity.py) prunes
WHICH vectors a query scores; PQ shrinks WHAT is stored and scored —
each ``dim``-float vector becomes ``m`` one-byte codes (e.g. 64 floats
/ 256 B → 8 B, 32×), and query scoring becomes ``m`` table lookups per
vector (no float multiplies) against a per-query lookup table, with an
exact-cosine rerank on the shortlist. Jégou et al., "Product
Quantization for Nearest Neighbor Search" (TPAMI 2011) — public
literature; no counterpart in /root/reference (north-star surface).

Spark-first shape:

* **Fit** is a fused Lloyd loop over ALL subspaces at once: one
  Arrow-batched kernel pass assigns every row's m subvectors to their
  nearest codewords (a single ``(n, m, d') × (m, k, d')`` einsum per
  batch — the probe-scorer lesson from BASELINE.md: broadcast numpy
  matrices, never m×k×d' plan literals), and one narrow
  explode+groupBy computes the new per-(subspace, code) means. So an
  iteration costs one corpus scan + one small shuffle — NOT m separate
  k-means runs.
* **Encode** is the same kernel's argmin — zero shuffle, stateless.
* **Search (ADC)** broadcasts the per-query LUTs (q × m × k floats) and
  scores code rows in Arrow batches; per-partition top-k candidates are
  merged by one WindowGroupLimit window, then reranked with EXACT
  cosine against the raw vectors — approximation affects recall only,
  never the correctness of returned similarities.

Vectors are L2-normalized before subspace splitting, making codeword
Euclidean distance monotone with cosine — the standard cosine-PQ move.
Determinism: codeword init is the md5-deterministic pick_centroids
rows rounded to the 6-decimal grid; per-iteration codeword means round
each component to 6 decimals and sum as DECIMAL(18,6) — an EXACT,
order-independent reduction (same contract as refine_centroids_kmeans;
a float ``avg`` would depend on shuffle fetch/merge order and could
flip a mean at a rounding boundary between runs) — then divide by the
member count and round to 6, so every engine and every partitioning
reproduces bit-identical codebooks; assignment ties break by codeword
index (stable argmin). ADC scores are likewise order-independent: LUT
entries are rounded to 6 decimals and accumulated as scaled int64
(micro-units), so the shortlist ordering is reproducible in SQL — the
prebuilt serving path is fully DuckDB-oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Ceiling on the query batch a DRIVER-side ADC LUT build will accept:
#: the LUT broadcast is q × m × k values and a mega-batch job would OOM
#: the driver long before the executors notice (VERDICT r6 #2). Past
#: it, serve with query_mode="distributed" (queries joined to probed
#: cells, per-query LUTs built in a grouped Arrow kernel — no driver
#: collect of query vectors at all).
MAX_DRIVER_QUERIES = 10_000


def _norm_vecs(df: DataFrame, id_col: str, vec_col: str, normalize: bool = True) -> DataFrame:
    """``normalize=False`` passes vectors through as doubles — used by the
    residual path, whose inputs (v̂ − ĉ) must NOT be re-normalized."""
    from polars_sim_spark.functions.vectors import l2_norm

    if not normalize:
        return df.select(
            F.col(id_col).alias("id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
        )
    n = l2_norm(vec_col)
    unit = F.when(
        n > F.lit(0.0),
        F.transform(F.col(vec_col), lambda x: x.cast("double") / n),
    ).otherwise(F.transform(F.col(vec_col), lambda x: x.cast("double") * 0.0))
    return df.select(F.col(id_col).alias("id"), unit.alias("__v"))


def _assign_codes_kernel(df: DataFrame, codebooks, *, id_type: str, carry_vec: bool = False):
    """``(out_df, bc)`` — out_df is (id, codes array<int>[, __v]): nearest
    codeword per subspace via one einsum per Arrow batch. ``codebooks``:
    numpy (m, k, d'). The broadcast handle is returned so iterative
    callers (pq_fit) can unpersist it once the pass has executed —
    otherwise each Lloyd iteration leaks one codebook broadcast for the
    session lifetime. Lazy callers (pq_encode) must leave it alone."""
    import numpy as np
    import pandas as pd

    m, k, dsub = codebooks.shape
    bc = df.sparkSession.sparkContext.broadcast(codebooks)
    out_schema = f"id {id_type}, codes array<int>" + (", __v array<double>" if carry_vec else "")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cb = bc.value  # (m, k, d')
        sq = (cb * cb).sum(axis=2)  # (m, k)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["__v"].tolist(), dtype=np.float64)  # (n, dim)
            n = V.shape[0]
            Vs = V.reshape(n, m, dsub)
            # ||v - c||² = ||c||² - 2 v·c (+ ||v||², constant per (row, j)).
            # Rounded to the 6-decimal grid before the argmin (round 10):
            # einsum's BLAS reduction order vs a SQL engine's sum order can
            # differ in the last ulp, so the RAW argmin was not
            # cross-engine reproducible; on the grid, assignment is a
            # deterministic function of the (already grid-committed)
            # codebooks — the same cos-round-6 idiom the IVF oracle uses.
            # Ties break by codeword index (stable first-min).
            dots = np.einsum("nmd,mkd->nmk", Vs, cb)
            d2 = np.round(sq[None, :, :] - 2.0 * dots, 6)
            codes = d2.argmin(axis=2).astype(np.int32)  # stable: first min index
            out = {"id": pdf["id"], "codes": list(codes)}
            if carry_vec:
                out["__v"] = pdf["__v"]
            yield pd.DataFrame(out)

    return df.mapInPandas(op, out_schema), bc


def pq_fit(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    normalize: bool = True,
):
    """Fit per-subspace codebooks; returns numpy array (m, k, dim/m).

    Driver receives only the codebooks (m × k × d' floats — O(1) in
    corpus size) and the init rows; every heavy step is distributed.
    ``normalize=False`` fits raw double vectors (the residual path).
    """
    import numpy as np

    from polars_sim_spark import cache as cache_registry
    from polars_sim_spark.operators.similarity import pick_centroids

    # The normalized-vector frame is the fit's fan-out point: the init
    # pick, every Lloyd iteration's assignment kernel, and (via the
    # cache manager's plan match) pq_encode in a fit-then-serve caller
    # all read it — without the persist each action re-scanned and
    # re-normalized the corpus (optimization round 15, Change-16
    # pattern; registry-tracked so the session owner's unpersist_all
    # releases it).
    vecs = cache_registry.track(_norm_vecs(corpus, id_col, vec_col, normalize))

    init_rows = pick_centroids(
        vecs.select(F.col("id").alias(id_col), F.col("__v").alias(vec_col)),
        id_col,
        vec_col,
        k,
    ).collect()
    init_rows.sort(key=lambda r: r["c_id"])
    # dim comes from the init rows — the old corpus.select(vec_col)
    # .first() probe was a whole extra job per fit (round 15).
    if not init_rows:
        raise ValueError("pq_fit: empty corpus — nothing to fit codebooks on")
    dim = len(init_rows[0]["__centroid"])
    if dim % m != 0:
        raise ValueError(f"pq_fit: dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    # Init on the same 6-decimal grid the iteration means land on, so
    # the whole fit lives on a grid any engine can reproduce exactly.
    cb = np.round(
        np.array(
            [[list(r["__centroid"])[j * dsub : (j + 1) * dsub] for r in init_rows] for j in range(m)],
            dtype=np.float64,
        ),
        6,
    )  # (m, k, d')

    id_type = dict(corpus.dtypes)[id_col]
    for _ in range(iters):
        coded, bc = _assign_codes_kernel(vecs, cb, id_type=id_type, carry_vec=True)
        # narrow explode: (subspace, code, subvec) → per-cell mean
        sub = coded.select(
            F.posexplode(
                F.array(*[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.element_at("codes", j + 1).alias("code"),
                        F.slice("__v", j * dsub + 1, dsub).alias("sv"),
                    )
                    for j in range(m)
                ])
            ).alias("__pos", "s")
        ).select("s.j", "s.code", "s.sv")
        # Per-component mean: round to 6 decimals, sum as DECIMAL(18,6)
        # (exact, order-independent), divide by the member count, round
        # to 6 — identical codebooks under ANY partitioning or engine
        # (the refine_centroids_kmeans contract; a float avg here would
        # depend on shuffle reduction order before rounding).
        cnt = F.count(F.lit(1))
        means = (
            sub.groupBy("j", "code")
            .agg(
                F.array(*[
                    F.round(
                        F.sum(
                            F.round(F.element_at("sv", i + 1).cast("double"), 6).cast(
                                "decimal(18,6)"
                            )
                        ).cast("double")
                        / cnt,
                        6,
                    ).alias(f"a{i}")
                    for i in range(dsub)
                ]).alias("mean"),
                cnt.alias("n"),
            )
            .collect()
        )
        bc.unpersist(blocking=False)  # the collect above ran the pass
        new_cb = cb.copy()  # empty cells keep their old codeword
        for r in means:
            new_cb[r["j"], r["code"]] = r["mean"]
        cb = new_cb
    return cb


def pq_encode(
    corpus: DataFrame, id_col: str, vec_col: str, codebooks, *, normalize: bool = True
) -> DataFrame:
    """(id, codes array<int>): zero-shuffle stateless encoding — the
    stored form is m small ints per vector instead of dim floats."""
    vecs = _norm_vecs(corpus, id_col, vec_col, normalize)
    out, _bc = _assign_codes_kernel(vecs, codebooks, id_type=dict(corpus.dtypes)[id_col])
    return out  # lazy result — the broadcast must outlive this frame


def pq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_emb",
    k: int = 10,
    rerank: int = 4,
    codes: DataFrame | None = None,
    max_driver_queries: int = MAX_DRIVER_QUERIES,
) -> DataFrame:
    """Top-``k`` per query: ADC shortlist of ``rerank × k`` candidates
    scored from codes alone (per-query LUT adds, no float multiplies on
    the corpus side), then EXACT cosine rerank against the raw vectors.
    Output: (q_id, id, sim) with sim the exact rounded cosine —
    identical semantics to ann_topk_bruteforce on whatever candidates
    survive; PQ affects recall only. Pass ``codes`` (from
    :func:`pq_encode`, e.g. read back from parquet) to skip re-encoding
    — the serving path stores ONLY the code table hot.

    The query batch is collected to the driver to build the ADC LUTs
    (right for top-k serving, where queries are few); batches past
    ``max_driver_queries`` raise — route them through
    :func:`ann_topk_ivfpq_prebuilt` with ``query_mode="distributed"``,
    which never collects query vectors.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    m, kk, dsub = codebooks.shape
    if codes is None:
        codes = pq_encode(corpus, id_col, vec_col, codebooks)

    q_rows = queries.select(q_id_col, q_vec_col).collect()  # guarded driver read
    if len(q_rows) > max_driver_queries:
        raise ValueError(
            f"pq_ann_topk builds driver-side ADC LUTs for the query batch "
            f"({len(q_rows)} queries > max_driver_queries="
            f"{max_driver_queries}); for large batches materialize an "
            "IVF-PQ index and serve with ann_topk_ivfpq_prebuilt("
            "query_mode='distributed'), which joins queries to probed "
            "cells and scores in a grouped Arrow kernel with no driver "
            "collect"
        )
    qn = []
    for r in q_rows:
        v = np.array(r[q_vec_col], dtype=np.float64)
        nrm = np.linalg.norm(v)
        qn.append(v / nrm if nrm > 0 else v)
    Q = np.array(qn)  # (q, dim)
    # LUT[q, j, c] = (query subvec j) · (codeword c of subspace j); ADC
    # similarity = Σ_j LUT[q, j, codes[j]] ≈ cosine(query, vector) since
    # both sides are unit-normalized (up to quantization error). Entries
    # round to 6 decimals and scale to int64 micro-units so the m-term
    # accumulation is EXACT and order-independent — the shortlist
    # ordering reproduces bit-identically in any engine (SQL oracle:
    # sum of CAST(round(lut, 6) * 1e6 AS BIGINT)).
    lut = np.einsum("qmd,mkd->qmk", Q.reshape(len(q_rows), m, dsub), codebooks)
    lut = np.rint(np.round(lut, 6) * 1e6).astype(np.int64)
    q_ids = [r[q_id_col] for r in q_rows]
    bc = corpus.sparkSession.sparkContext.broadcast((lut, q_ids))
    n_cand = rerank * k
    q_id_type = dict(queries.dtypes)[q_id_col]
    id_type = dict(codes.dtypes)["id"]

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lut_, qids_ = bc.value
        nq = len(qids_)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (n, m)
            n = C.shape[0]
            # scores[q, n] = Σ_j lut[q, j, C[n, j]] — exact int64 sum of
            # micro-units; emitted as double (values ≪ 2^53, so exact)
            scores = np.zeros((nq, n), dtype=np.int64)
            for j in range(m):
                scores += lut_[:, j, C[:, j]]
            scores = scores / 1e6
            # per-partition shortlist: top n_cand per query
            top = min(n_cand, n)
            idx = np.argpartition(-scores, top - 1, axis=1)[:, :top]
            out_q, out_id, out_s = [], [], []
            ids = pdf["id"].to_numpy()
            for qi in range(nq):
                out_q.extend([qids_[qi]] * top)
                out_id.extend(ids[idx[qi]])
                out_s.extend(scores[qi, idx[qi]])
            yield pd.DataFrame({"q_id": out_q, "id": out_id, "adc": out_s})

    shortlist = codes.mapInPandas(adc, f"q_id {q_id_type}, id {id_type}, adc double")
    w = Window.partitionBy("q_id").orderBy(F.desc(F.round("adc", 6)), F.asc("id"))
    cand = (
        shortlist.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_cand)
        .select("q_id", F.col("id").alias("n_id"))
    )
    # exact rerank: only the shortlisted candidates' raw vectors are
    # touched, per query — output (q_id, n_id, sim) with the same
    # rounding/tiebreak as ann_topk_bruteforce, and same-id exclusion.
    from polars_sim_spark.functions.vectors import cosine_similarity

    cand_vecs = corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("__cv"))
    qv = queries.select(F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("__qv"))
    sim = F.round(cosine_similarity("__qv", "__cv"), 6)
    w2 = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        cand.join(cand_vecs, "n_id")
        .join(F.broadcast(qv), "q_id")
        .where(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", sim.alias("sim"))
        .withColumn("__rn", F.row_number().over(w2))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def _load_index_artifacts(spark, path: str):
    """(cent_rows, codebooks, residual) from a stored IVF-PQ layout —
    O(index metadata) driver reads: the centroid table, the m×k
    codeword table, and the one-row mode sidecar. Never touches the
    hive cell data."""
    import numpy as np

    from polars_sim_spark.operators.similarity import _read_centroids

    root = path.rstrip("/")
    try:
        residual = spark.read.parquet(root + "/_meta").collect()[0]["residual"]
    except AnalysisException as e:
        # Pre-residual layouts have no _meta sidecar; any other failure
        # (an unreadable or empty sidecar) is a broken layout, not an
        # old one, and must not silently read as residual=False.
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        residual = False
    cent_rows = _read_centroids(spark, root)
    pq_rows = spark.read.parquet(root + "/_pq").collect()
    m = max(r["j"] for r in pq_rows) + 1
    kk = max(r["code"] for r in pq_rows) + 1
    dsub = len(pq_rows[0]["codeword"])
    cb = np.zeros((m, kk, dsub))
    for r in pq_rows:
        cb[r["j"], r["code"]] = r["codeword"]
    return cent_rows, cb, residual


def _residual_frame(
    corpus: DataFrame, assigned: DataFrame, cent_rows, id_col: str, vec_col: str
) -> DataFrame:
    """(id, __r): v̂ − ĉ(assigned cell), both unit-normalized; centroid
    table broadcasts, the subtraction is a zip_with projection on the
    scan — no shuffle beyond the assignment's."""
    spark = corpus.sparkSession
    cent_tab = spark.createDataFrame(
        [
            (
                r["c_id"],
                [
                    float(x) / r["__cnorm"] if r["__cnorm"] > 0 else 0.0
                    for x in r["__centroid"]
                ],
            )
            for r in cent_rows
        ],
        f"c_id {dict(corpus.dtypes)[id_col]}, __cent array<double>",
    )
    return (
        _norm_vecs(corpus, id_col, vec_col)
        .withColumnRenamed("id", id_col)
        .join(assigned, id_col)
        .join(F.broadcast(cent_tab), "c_id")
        .select(
            F.col(id_col),
            F.zip_with("__v", "__cent", lambda a, b: a - b).alias("__r"),
        )
    )


def _index_rows(
    corpus: DataFrame,
    cent_rows,
    cb,
    residual: bool,
    id_col: str,
    vec_col: str,
    *,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """The stored form of ``corpus`` under GIVEN quantizers:
    ``(id, vec, vnorm, codes, c_id)`` — cell assignment by
    ``nearest_centroid_assignments``, codes from the broadcast-codebook
    Arrow kernel. Shared by the initial build, the pinned rebuild and
    the incremental append, so all three store byte-identical content
    for the same rows."""
    from polars_sim_spark.functions.vectors import l2_norm
    from polars_sim_spark.operators.similarity import nearest_centroid_assignments

    if assigned is None:
        assigned = nearest_centroid_assignments(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            cent_rows=cent_rows,
        ).select(F.col("id").alias(id_col), "c_id")
    if residual:
        res = _residual_frame(corpus, assigned, cent_rows, id_col, vec_col)
        codes = pq_encode(res, id_col, "__r", cb, normalize=False).withColumnRenamed(
            "id", id_col
        )
    else:
        codes = pq_encode(corpus, id_col, vec_col, cb).withColumnRenamed("id", id_col)
    return (
        corpus.select(F.col(id_col), F.col(vec_col), l2_norm(vec_col).alias("vnorm"))
        .join(codes, id_col)
        .join(assigned, id_col)
    )


def append_to_ivfpq_index(
    new_rows: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally maintain a :func:`materialize_ivfpq_index` layout:
    assign ``new_rows`` with the STORED coarse centroids, encode them
    with the STORED codebooks (no refit — the quantizers are frozen at
    build time, the standard FAISS ``add`` semantics), and APPEND hive
    cell files only. Pre-existing cell files are never read or
    rewritten — the job's only inputs are ``new_rows`` and the O(m·k)
    index metadata sidecars (plan- and mtime-asserted in
    tests/test_pq.py), so maintenance cost is proportional to the NEW
    data, not the index: the build-once/serve-many story becomes
    build-once/append-cheap/serve-many. Row-equal to a full
    ``materialize_ivfpq_index(..., from_index=...)`` rebuild over the
    union corpus (equivalence-tested); measured append-vs-rebuild delta
    in BASELINE.md. Callers own id uniqueness — appending an id that is
    already indexed stores a second copy (same as FAISS add)."""
    spark = new_rows.sparkSession
    cent_rows, cb, residual = _load_index_artifacts(spark, path)
    rows = _index_rows(new_rows, cent_rows, cb, residual, id_col, vec_col)
    # mode=append adds part-files inside existing c_id= dirs (and
    # creates dirs for cells this batch is first to touch); one file
    # per touched inverted list, matching the build's repartition.
    (
        rows.repartition("c_id")
        .write.mode("append")
        .partitionBy("c_id")
        .parquet(path.rstrip("/"))
    )


def materialize_ivfpq_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 16,
    kmeans_iters: int = 0,
    m: int = 8,
    k_codes: int = 16,
    pq_iters: int = 3,
    residual: bool = False,
    from_index: str | None = None,
) -> None:
    """Persist the FAISS-standard IVF-PQ layout on a lake: the corpus
    hive-partitioned by coarse cell (``path/c_id=<cell>/``) with each
    row carrying ``(id, codes, vec, vnorm)``, the coarse centroid table
    under ``_centroids``, the PQ codebooks under ``_pq``, and the
    encoding mode under ``_meta``.

    The two compressions compose at read time through Parquet's own
    pruning: a query batch prunes to its probed cells at the FILE level
    (partition pruning, as in materialize_ivf_index), and the ADC
    scoring pass projects only ``(id, codes)`` — COLUMN pruning keeps
    the raw vectors on disk until the shortlist rerank asks for them
    (plan-asserted in tests/test_pq.py). So the bytes a query touches
    are ``probed cells × codes``, ~3% of the probed vectors' size, and
    the full-precision vectors are read for rerank*k rows only.

    ``residual=True`` quantizes ``v̂ − ĉ(cell)`` instead of ``v̂`` — the
    FAISS default: codes spend their bits on WITHIN-cell detail instead
    of re-encoding the cell's position. One SHARED residual codebook
    across cells (standard); serving adds the scalar ``q̂·ĉ(cell)`` per
    (query, probed cell) back to the ADC sum — cos(q, v) ≈ q̂·ĉ +
    q̂·r̂code. The residual frame is a broadcast-centroid zip_with
    projection — no extra shuffle in the build.

    Honest measured result (BASELINE.md round 6): on the synthetic
    testdata embeddings, residual ADC approximates WORSE than plain
    (mean |cos error| 0.090 vs 0.076; recall@5 0.34 vs 0.54 at
    nprobe=4/8 cells) — confirmed in a pure-numpy twin, so it is the
    data, not the implementation: near-uniform vectors give weak
    coarse centroids, and subtracting them destroys the unit-norm
    structure the direct quantizer exploits. Residual earns its keep
    on CLUSTERED corpora with many tight cells (its design regime);
    default stays False.

    ``from_index`` pins the quantizers to an EXISTING index's stored
    centroids + codebooks (and its residual mode) instead of fitting —
    a full re-layout under frozen quantizers, the rebuild twin of
    :func:`append_to_ivfpq_index`.
    """
    from polars_sim_spark.operators.similarity import (
        _write_centroids,
        nearest_centroid_assignments,
        pick_centroids,
        refine_centroids_kmeans,
    )
    from polars_sim_spark.sources.sinks import write_partitioned

    spark = corpus.sparkSession
    if from_index is not None:
        # Pinned rebuild: reuse another index's stored quantizers — no
        # fit at all. This is the re-layout / full-rebuild half of the
        # incremental-maintenance contract (append_to_ivfpq_index is
        # the other half); both produce row-identical content for the
        # same corpus, equivalence-tested in tests/test_pq.py.
        cent_rows, cb, residual = _load_index_artifacts(spark, from_index)
        assigned = nearest_centroid_assignments(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            cent_rows=cent_rows,
        ).select(F.col("id").alias(id_col), "c_id")
    else:
        cent_rows = pick_centroids(corpus, id_col, vec_col, num_centroids).collect()
        cent_rows.sort(key=lambda r: r["c_id"])
        if kmeans_iters > 0:
            cent_rows = refine_centroids_kmeans(
                corpus, vec_col, cent_rows, kmeans_iters
            )
        # cent_rows passed through: the stored centroid table and the
        # stored cell assignments come from ONE quantizer computation (no
        # duplicated Lloyd run).
        assigned = nearest_centroid_assignments(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            cent_rows=cent_rows,
        ).select(F.col("id").alias(id_col), "c_id")
        if residual:
            res = _residual_frame(corpus, assigned, cent_rows, id_col, vec_col)
            cb = pq_fit(
                res, id_col, "__r", m=m, k=k_codes, iters=pq_iters, normalize=False
            )
        else:
            cb = pq_fit(corpus, id_col, vec_col, m=m, k=k_codes, iters=pq_iters)
    rows = _index_rows(
        corpus, cent_rows, cb, residual, id_col, vec_col, assigned=assigned
    )
    # One output file per inverted list (repartition on the partition
    # column): a probed cell is one contiguous read, not a directory of
    # per-shuffle-task fragments.
    write_partitioned(rows.repartition("c_id"), path, partition_by=["c_id"])
    spark.createDataFrame([(bool(residual),)], "residual boolean").coalesce(
        1
    ).write.mode("overwrite").parquet(path.rstrip("/") + "/_meta")
    _write_centroids(corpus, id_col, cent_rows, path)
    mm, kk, dsub = cb.shape
    spark.createDataFrame(
        [
            (j, c, [float(x) for x in cb[j, c]])
            for j in range(mm)
            for c in range(kk)
        ],
        "j int, code int, codeword array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path.rstrip("/") + "/_pq")


def ann_topk_ivfpq_prebuilt(
    spark,
    path: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_emb",
    k: int = 5,
    nprobe: int = 3,
    rerank: int = 4,
    exclude_same_id: bool = True,
    query_mode: str = "auto",
    max_driver_queries: int = MAX_DRIVER_QUERIES,
) -> DataFrame:
    """Serve top-``k`` from a :func:`materialize_ivfpq_index` layout:
    probe ``nprobe`` cells per query (partition pruning), ADC-score the
    probed CODES (column-pruned scan — raw vectors untouched), shortlist
    ``rerank × k`` per query, exact-cosine rerank on the shortlist only.
    Output (q_id, n_id, sim) with exact rounded cosines.

    ``query_mode``: ``"driver"`` collects the query batch once and
    broadcasts per-query ADC LUTs — fastest for top-k serving (few
    queries), but driver memory is q × m × k. ``"distributed"`` never
    collects query vectors: queries score the stored centroids as a
    zero-shuffle projection (``similarity._top_cells``), join their
    probed cells' codes by cell id, and
    the Arrow ADC kernel builds per-query LUTs inside each batch (no
    extra shuffle — rows score where the cell join left them) —
    driver traffic is O(index metadata) regardless of batch size (the
    mega-batch path, VERDICT r6 #2). ``"auto"`` counts the batch and
    flips at ``max_driver_queries``. Both modes produce identical rows
    (equivalence-tested): same int64 micro-unit ADC grid, same
    tiebreaks."""
    import numpy as np
    import pandas as pd

    from polars_sim_spark.functions.vectors import cosine_similarity
    from polars_sim_spark.operators.similarity import _top_cells, _vec_side
    from pyspark.sql import Window

    if query_mode not in ("auto", "driver", "distributed"):
        raise ValueError(
            f"query_mode must be 'auto', 'driver' or 'distributed', got {query_mode!r}"
        )
    root = path.rstrip("/")
    cent_rows, cb, is_residual = _load_index_artifacts(spark, root)
    m, kk, dsub = cb.shape

    if query_mode == "auto":
        query_mode = (
            "driver"
            if queries.count() <= max_driver_queries
            else "distributed"
        )
    if query_mode == "distributed":
        return _ivfpq_serve_distributed(
            spark,
            root,
            queries,
            cent_rows,
            cb,
            id_col=id_col,
            vec_col=vec_col,
            q_id_col=q_id_col,
            q_vec_col=q_vec_col,
            k=k,
            nprobe=nprobe,
            rerank=rerank,
            exclude_same_id=exclude_same_id,
            is_residual=is_residual,
        )

    probes = _top_cells(
        _vec_side(queries, q_id_col, q_vec_col, "q_id"),
        cent_rows,
        nprobe=nprobe,
        carry=("q_id",),
    )
    cells = sorted({r["c_id"] for r in probes.select("c_id").distinct().collect()})

    q_rows = queries.select(q_id_col, q_vec_col).collect()
    qn = []
    for r in q_rows:
        v = np.array(r[q_vec_col], dtype=np.float64)
        nrm = np.linalg.norm(v)
        qn.append(v / nrm if nrm > 0 else v)
    # LUT entries round to 6 decimals and scale to int64 micro-units —
    # the ADC accumulation is exact and order-independent, so the
    # shortlist ordering is reproducible in a SQL oracle (see pq_ann_topk).
    lut = np.einsum("qmd,mkd->qmk", np.array(qn).reshape(len(q_rows), m, dsub), cb)
    lut = np.rint(np.round(lut, 6) * 1e6).astype(np.int64)
    q_ids = [r[q_id_col] for r in q_rows]
    q_idx = {qid: i for i, qid in enumerate(q_ids)}
    # Residual layout: the ADC sum scores q̂·r̂code; add back the scalar
    # q̂·ĉ(cell) per (query, probed cell) — an O(|Q|·nprobe) driver-side
    # matrix, broadcast with the LUT (same micro-unit scaling).
    cid2idx = {c: i for i, c in enumerate(cells)}
    offmat = np.zeros((len(q_rows), len(cells)), dtype=np.int64)
    if is_residual:
        cent_by_id = {r["c_id"]: r for r in cent_rows}
        for ci, c in enumerate(cells):
            r = cent_by_id[c]
            cvec = np.array(r["__centroid"], dtype=np.float64)
            if r["__cnorm"] > 0:
                cvec = cvec / r["__cnorm"]
            for qi2 in range(len(q_rows)):
                offmat[qi2, ci] = int(
                    np.rint(np.round(float(np.dot(qn[qi2], cvec)), 6) * 1e6)
                )
    bc = spark.sparkContext.broadcast((lut, q_idx, offmat, cid2idx, is_residual))

    # ADC pass: probed cells only (partition pruning), (id, codes, c_id)
    # columns only (column pruning — `vec_col` stays on disk).
    code_rows = (
        spark.read.parquet(root)
        .where(F.col("c_id").isin(cells))
        .select(F.col(id_col).alias("n_id"), "codes", "c_id")
        .join(F.broadcast(probes), "c_id")
    )
    q_id_type = dict(queries.dtypes)[q_id_col]
    n_id_type = dict(code_rows.dtypes)["n_id"]

    def adc(batches):
        lut_, qidx_, off_, cidx_, res_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.array(pdf["codes"].tolist(), dtype=np.int64)
            qi = pdf["q_id"].map(qidx_).to_numpy()
            s = np.zeros(len(pdf), dtype=np.int64)  # exact micro-unit sum
            for j in range(C.shape[1]):
                s += lut_[qi, j, C[:, j]]
            if res_:
                ci = pdf["c_id"].map(cidx_).to_numpy()
                s += off_[qi, ci]
            yield pd.DataFrame(
                {"q_id": pdf["q_id"], "n_id": pdf["n_id"], "adc": s / 1e6}
            )

    shortlist = code_rows.select("q_id", "n_id", "codes", "c_id").mapInPandas(
        adc, f"q_id {q_id_type}, n_id {n_id_type}, adc double"
    )
    if exclude_same_id:
        shortlist = shortlist.where(F.col("n_id") != F.col("q_id"))
    w = Window.partitionBy("q_id").orderBy(F.desc(F.round("adc", 6)), F.asc("n_id"))
    cand = (
        shortlist.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= rerank * k)
        .select("q_id", "n_id")
    )
    vecs = (
        spark.read.parquet(root)
        .where(F.col("c_id").isin(cells))
        .select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("__cv"))
    )
    qv = queries.select(F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("__qv"))
    sim = F.round(cosine_similarity("__qv", "__cv"), 6)
    w2 = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        cand.join(vecs, "n_id")
        .join(F.broadcast(qv), "q_id")
        .select("q_id", "n_id", sim.alias("sim"))
        .withColumn("__rn", F.row_number().over(w2))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def _ivfpq_serve_distributed(
    spark,
    root: str,
    queries: DataFrame,
    cent_rows: list,
    cb,
    *,
    id_col: str,
    vec_col: str,
    q_id_col: str,
    q_vec_col: str,
    k: int,
    nprobe: int,
    rerank: int,
    exclude_same_id: bool,
    is_residual: bool,
) -> DataFrame:
    """Query-distributed IVF-PQ serving: no driver collect of query
    vectors at any batch size. Queries score the stored centroids as a
    zero-shuffle projection (``similarity._top_cells``: Column
    expression up to 32 centroids, GEMM above) into (q_id, q̂vec, cell)
    probe rows; the probed cells' code rows join them BY CELL ID (a
    shuffled equi-join — the query side is batch-sized, deliberately
    not broadcast); the Arrow ADC kernel then scores rows WHERE THE
    JOIN LEFT THEM — per Arrow batch it builds one LUT per distinct
    query present (the m×k×d' einsum is trivial next to the gathers,
    so recomputing a query's LUT in each batch it touches beats a
    per-query group shuffle — measured: the applyInPandas grouping cost
    83.7 s vs the driver path's 45.7 s at 10k queries before this
    restructure) on the same int64 micro-unit grid as the driver path.
    The only driver-side literals are the probed CELL ids
    (O(num_centroids)) for partition pruning. Shortlist + exact rerank
    as in the driver path; the query side of the rerank joins shuffled,
    not broadcast."""
    import numpy as np
    import pandas as pd

    from polars_sim_spark.functions.vectors import cosine_similarity
    from polars_sim_spark.operators.similarity import _top_cells, _vec_side
    from pyspark.sql import Window

    m, kk, dsub = cb.shape
    cent_unit = {}
    if is_residual:
        for r in cent_rows:
            v = np.array(r["__centroid"], dtype=np.float64)
            if r["__cnorm"] > 0:
                v = v / r["__cnorm"]
            cent_unit[r["c_id"]] = v
    bc = spark.sparkContext.broadcast((cb, cent_unit, is_residual))

    probes = _top_cells(
        _vec_side(queries, q_id_col, q_vec_col, "q_id"),
        cent_rows,
        nprobe=nprobe,
        carry=("q_id", "__v"),
    ).withColumnRenamed("__v", "__qv")
    # Probed-cell id list: bounded by the CENTROID count, not the query
    # count — the one sanctioned driver read, feeding partition pruning.
    cells = sorted({r["c_id"] for r in probes.select("c_id").distinct().collect()})
    code_rows = (
        spark.read.parquet(root)
        .where(F.col("c_id").isin(cells))
        .select(F.col(id_col).alias("n_id"), "codes", "c_id")
        .join(probes, "c_id")
    )
    q_id_type = dict(queries.dtypes)[q_id_col]
    n_id_type = dict(code_rows.dtypes)["n_id"]

    def adc_batches(batches):
        # Per Arrow batch: one LUT per DISTINCT query present in the
        # batch (the einsum is m×k×d' — trivial next to the gathers), so
        # scoring needs NO extra shuffle: rows stay wherever the cell
        # join left them, and the per-query LUT is recomputed per batch
        # it appears in. Same int64 micro-unit grid as the driver path.
        cb_, cent_, res_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            uq, starts = np.unique(pdf["q_id"].to_numpy(), return_inverse=True)
            luts = np.empty((len(uq), m, kk), dtype=np.int64)
            qhats = []
            first_rows = pd.Series(range(len(pdf))).groupby(starts).first()
            for qi, row_i in first_rows.items():
                qv = np.array(pdf["__qv"].iloc[row_i], dtype=np.float64)
                nrm = np.linalg.norm(qv)
                qhat = qv / nrm if nrm > 0 else qv
                lut = np.einsum("md,mkd->mk", qhat.reshape(m, dsub), cb_)
                luts[qi] = np.rint(np.round(lut, 6) * 1e6).astype(np.int64)
                qhats.append(qhat)
            C = np.array(pdf["codes"].tolist(), dtype=np.int64)
            s = np.zeros(len(pdf), dtype=np.int64)
            for j in range(m):
                s += luts[starts, j, C[:, j]]
            if res_:
                offs = np.empty(len(pdf), dtype=np.int64)
                for qi in range(len(uq)):
                    mask = starts == qi
                    for c in pd.unique(pdf.loc[mask, "c_id"]):
                        sel = mask & (pdf["c_id"] == c).to_numpy()
                        offs[sel] = int(
                            np.rint(
                                np.round(float(np.dot(qhats[qi], cent_[c])), 6) * 1e6
                            )
                        )
                s += offs
            yield pd.DataFrame(
                {"q_id": pdf["q_id"], "n_id": pdf["n_id"], "adc": s / 1e6}
            )

    shortlist = code_rows.select("q_id", "n_id", "codes", "c_id", "__qv").mapInPandas(
        adc_batches, f"q_id {q_id_type}, n_id {n_id_type}, adc double"
    )
    if exclude_same_id:
        shortlist = shortlist.where(F.col("n_id") != F.col("q_id"))
    w = Window.partitionBy("q_id").orderBy(F.desc(F.round("adc", 6)), F.asc("n_id"))
    cand = (
        shortlist.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= rerank * k)
        .select("q_id", "n_id")
    )
    vecs = (
        spark.read.parquet(root)
        .where(F.col("c_id").isin(cells))
        .select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("__cv"))
    )
    qv = queries.select(F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("__qv"))
    sim = F.round(cosine_similarity("__qv", "__cv"), 6)
    w2 = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        cand.join(vecs, "n_id")
        .join(qv, "q_id")  # shuffled: the query batch is the big side here
        .select("q_id", "n_id", sim.alias("sim"))
        .withColumn("__rn", F.row_number().over(w2))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def compact_ivfpq_cells(spark, path: str, *, min_files_per_cell: int = 2) -> dict:
    """OPTIMIZE for an appended index: after many
    :func:`append_to_ivfpq_index` batches, a hot cell's inverted list is
    a directory of small part-files and a probe pays per-file open
    costs. Compaction rewrites ONLY cells with ≥ ``min_files_per_cell``
    files down to one file each — content-identical (same rows, same
    schema; equivalence-tested), sidecars untouched, untouched cells
    untouched. Returns ``{"cells_compacted": n, "files_before": a,
    "files_after": b}``. Crash safety is directory-rename granular: the
    replacement is fully staged in ``_compact_tmp/<cell>`` (with Spark's
    ``_SUCCESS`` marker), the live cell is renamed aside to
    ``_compact_old/<cell>``, the staged dir renamed into place, and only
    then is the old copy dropped — so at every crash point the cell is
    either the complete old list or the complete new one, and the next
    invocation's recovery preamble finishes or rolls back any
    interrupted swap before compacting further.

    All file operations go through the scheme-aware Hadoop FileSystem
    helpers (round 13, VERDICT r12 #5) — the r12 version used
    ``os.rename``/``os.listdir``/``shutil.rmtree``, which on an object
    store silently can't see the cells Spark wrote. See
    :func:`polars_sim_spark.fsutil.hadoop_rename` for the object-store
    atomicity caveat (copy+delete emulation widens the crash windows;
    the recovery invariant is unchanged). Every rename goes through
    :func:`polars_sim_spark.fsutil.hadoop_rename_strict` (round 14,
    ADVICE r13): Hadoop's ``rename`` reports failure as ``False``
    rather than raising, and ignoring it would let the trailing deletes
    destroy the only surviving copy of a cell — the strict wrapper
    raises before any delete can run."""
    from polars_sim_spark.fsutil import (
        hadoop_delete,
        hadoop_exists,
        hadoop_is_dir,
        hadoop_list_names,
        hadoop_mkdirs,
        hadoop_rename_strict,
    )

    root = path.rstrip("/")
    tmp_root = f"{root}/_compact_tmp"
    old_root = f"{root}/_compact_old"
    # Recovery: a cell dir is renamed away only after its replacement is
    # fully staged, so a missing cell dir means the swap was interrupted —
    # finish it from the staged copy if complete (_SUCCESS present), else
    # roll back to the old copy. Leftover stage dirs from crashes that
    # happened before the swap began are simply discarded.
    if hadoop_is_dir(spark, old_root):
        for d in hadoop_list_names(spark, old_root):
            cell_dir = f"{root}/{d}"
            staged = f"{tmp_root}/{d}"
            if not hadoop_is_dir(spark, cell_dir):
                if hadoop_is_dir(spark, staged) and hadoop_exists(
                    spark, f"{staged}/_SUCCESS"
                ):
                    hadoop_rename_strict(spark, staged, cell_dir)
                else:
                    hadoop_rename_strict(spark, f"{old_root}/{d}", cell_dir)
    hadoop_delete(spark, tmp_root)
    hadoop_delete(spark, old_root)
    todo = []
    for d in sorted(hadoop_list_names(spark, root)):
        if not d.startswith("c_id="):
            continue
        files = [
            f
            for f in hadoop_list_names(spark, f"{root}/{d}")
            if f.endswith(".parquet")
        ]
        if len(files) >= min_files_per_cell:
            todo.append((d, len(files)))
    files_before = sum(n for _d, n in todo)
    files_after = 0
    hadoop_mkdirs(spark, old_root)
    for d, _n in todo:
        cell_dir = f"{root}/{d}"
        tmp = f"{tmp_root}/{d}"
        old = f"{old_root}/{d}"
        spark.read.parquet(cell_dir).coalesce(1).write.mode("overwrite").parquet(tmp)
        files_after += sum(
            1 for f in hadoop_list_names(spark, tmp) if f.endswith(".parquet")
        )
        hadoop_rename_strict(spark, cell_dir, old)  # aside (recoverable)
        hadoop_rename_strict(spark, tmp, cell_dir)  # new list in place
        hadoop_delete(spark, old)
    hadoop_delete(spark, tmp_root)
    hadoop_delete(spark, old_root)
    return {
        "cells_compacted": len(todo),
        "files_before": files_before,
        "files_after": files_after,
    }
