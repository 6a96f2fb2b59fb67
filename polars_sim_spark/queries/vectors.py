"""Vector / ANN contract queries: brute-force, IVF (+k-means), sign-LSH top-k, centroids, medoids, balanced sampling, BM25.

Split out of the former monolithic queries.py (round 5); the
registration registry and driver-order governance live in
``polars_sim_spark.queries`` (the package __init__).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from polars_sim_spark import cache as cache_registry
from polars_sim_spark.functions import text as text_fns
from polars_sim_spark.functions.text import trigram_tokens
from polars_sim_spark.sources.tables import load_table
from polars_sim_spark.queries._registry import register
from polars_sim_spark.queries._registry import DUCK_HASH


def _duck_ann_rerank(k: int) -> str:
    """Shared exact-rerank tail over a ``cand(q_id, n_id)`` CTE."""
    cos = (
        "round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), "
        "CAST(n.embedding AS DOUBLE[])), 6)"
    )
    return f"""
SELECT q_id, n_id, sim_r FROM (
  SELECT c.q_id, c.n_id, {cos} AS sim_r,
         row_number() OVER (PARTITION BY c.q_id ORDER BY {cos} DESC, c.n_id) AS rn
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.q_id
  JOIN embeddings n ON n.vec_id = c.n_id
) WHERE rn <= {k}
"""


def duck_ann_ivf_sql(num_centroids: int = 16, nprobe: int = 3, k: int = 5) -> str:
    """IVF is deterministic end-to-end (md5-hash-sampled centroids), so the
    whole index+probe+rerank pipeline is plain SQL."""
    h = DUCK_HASH.format(c="CAST(vec_id AS VARCHAR)")
    cos = "round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv), 6)"
    return f"""
WITH cent AS (
  SELECT e.vec_id AS c_id, CAST(e.embedding AS DOUBLE[]) AS cv
  FROM embeddings e
  JOIN (
    SELECT vec_id FROM (SELECT vec_id, {h} AS h FROM embeddings)
    ORDER BY h, vec_id LIMIT {num_centroids}
  ) s USING (vec_id)
),
nearest AS (
  SELECT e.vec_id AS id, c.c_id,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos} DESC, c.c_id) AS rn
  FROM embeddings e CROSS JOIN cent c
),
assign AS (SELECT id AS n_id, c_id FROM nearest WHERE rn <= 1),
probes AS (SELECT id AS q_id, c_id FROM nearest WHERE rn <= {nprobe} AND id < 20),
cand AS (
  SELECT DISTINCT p.q_id, a.n_id
  FROM probes p JOIN assign a USING (c_id)
  WHERE a.n_id != p.q_id
)
{_duck_ann_rerank(k)}
"""


def duck_ann_ivf_kmeans_sql(
    num_centroids: int = 16, nprobe: int = 3, k: int = 5, num_dims: int = 256
) -> str:
    """IVF with ONE Lloyd refinement iteration, unrolled into CTEs: seed
    centroids (hash-sampled) → assign → per-component means: each
    component rounded to 6 decimals, summed as DECIMAL(18,6) (exact and
    order-independent — mirrors refine_centroids_kmeans; a float avg
    would be reduction-order-dependent before rounding), divided by the
    member count, rounded to 6 decimals → re-assign against the refined
    centroids → probe → exact rerank. ``num_dims`` is an upper bound
    (dims past a vector's length are NULL-filtered). A centroid that
    loses every member keeps its seed position (COALESCE)."""
    h = DUCK_HASH.format(c="CAST(vec_id AS VARCHAR)")
    cos0 = "round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv), 6)"
    return f"""
WITH cent AS (
  SELECT e.vec_id AS c_id, CAST(e.embedding AS DOUBLE[]) AS cv
  FROM embeddings e
  JOIN (
    SELECT vec_id FROM (SELECT vec_id, {h} AS h FROM embeddings)
    ORDER BY h, vec_id LIMIT {num_centroids}
  ) s USING (vec_id)
),
n0 AS (
  SELECT e.vec_id AS id, c.c_id,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos0} DESC, c.c_id) AS rn
  FROM embeddings e CROSS JOIN cent c
),
a0 AS (SELECT id, c_id FROM n0 WHERE rn = 1),
m1 AS (
  SELECT a0.c_id, d.dim,
         round(CAST(sum(CAST(round(CAST(e.embedding[d.dim + 1] AS DOUBLE), 6)
                             AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS m
  FROM a0 JOIN embeddings e ON e.vec_id = a0.id
  CROSS JOIN range({num_dims}) d(dim)
  WHERE e.embedding[d.dim + 1] IS NOT NULL
  GROUP BY 1, 2
),
cent1 AS (
  SELECT c.c_id, COALESCE(m.mv, c.cv) AS cv
  FROM cent c LEFT JOIN (
    SELECT c_id, list(m ORDER BY dim) AS mv FROM m1 GROUP BY c_id
  ) m USING (c_id)
),
nearest AS (
  SELECT e.vec_id AS id, c.c_id,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos0} DESC, c.c_id) AS rn
  FROM embeddings e CROSS JOIN cent1 c
),
assign AS (SELECT id AS n_id, c_id FROM nearest WHERE rn <= 1),
probes AS (SELECT id AS q_id, c_id FROM nearest WHERE rn <= {nprobe} AND id < 20),
cand AS (
  SELECT DISTINCT p.q_id, a.n_id
  FROM probes p JOIN assign a USING (c_id)
  WHERE a.n_id != p.q_id
)
{_duck_ann_rerank(k)}
"""


def duck_ann_lsh_sql(num_planes: int = 16, bands: int = 4, k: int = 5, num_dims: int = 256) -> str:
    """Sign-LSH is deterministic too (md5-derived ±1 hyperplanes): plane
    weights, signed sums, band buckets, collisions, rerank — all SQL.

    ``num_dims`` here is an UPPER BOUND: dims past a vector's length are
    NULL-filtered out of ``comps``, so any value ≥ the true dimension
    yields identical buckets to the Spark side's derived-dim plane table.
    """
    rpb = num_planes // bands
    hw = DUCK_HASH.format(c="CAST(p.plane * 1000003 + d.dim AS VARCHAR)")
    return f"""
WITH planes AS (
  SELECT p.plane, d.dim,
         CASE WHEN ({hw}) % 2 = 0 THEN 1.0 ELSE -1.0 END AS w
  FROM range({num_planes}) p(plane) CROSS JOIN range({num_dims}) d(dim)
),
comps AS (
  SELECT e.vec_id AS id, d.dim, CAST(e.embedding[d.dim + 1] AS DOUBLE) AS val
  FROM embeddings e CROSS JOIN range({num_dims}) d(dim)
  WHERE e.embedding[d.dim + 1] IS NOT NULL
),
dots AS (
  SELECT c.id, p.plane, sum(c.val * p.w) AS dot
  FROM comps c JOIN planes p USING (dim)
  GROUP BY 1, 2
),
buckets AS (
  SELECT id, plane // {rpb} AS band,
         CAST(sum((CASE WHEN dot >= 0 THEN 1 ELSE 0 END)
                  * CAST(pow(2.0, plane % {rpb}) AS BIGINT)) AS BIGINT) AS bucket
  FROM dots GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT q.id AS q_id, c.id AS n_id
  FROM buckets q JOIN buckets c ON q.band = c.band AND q.bucket = c.bucket
  WHERE q.id < 20 AND c.id != q.id
)
{_duck_ann_rerank(k)}
"""


@register("ann_topk_ivf", duck_ann_ivf_sql())
def ann_topk_ivf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: md5-hash-sampled centroids, nprobe=3 of 16 lists,
    exact re-rank. Deterministic across engines, so the full pipeline is
    oracle-checked in DuckDB; tests/test_similarity.py additionally pins
    candidate sims to brute-force values and full-probe == exact."""
    from polars_sim_spark.operators.similarity import ann_topk_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    out = ann_topk_ivf(emb, queries, k=5, num_centroids=16, nprobe=3)
    return out.select("q_id", "n_id", F.col("sim").alias("sim_r"))


@register("ann_topk_ivf_kmeans", duck_ann_ivf_kmeans_sql())
def ann_topk_ivf_kmeans_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a k-means-refined coarse quantizer (one Lloyd iteration,
    similarity.refine_centroids_kmeans): tighter inverted lists than the
    hash-sampled baseline at the same nprobe. The refinement is engine-
    portable (6-decimal-rounded means), so even the TRAINED index gets a
    full value-hash oracle — the iteration is unrolled into SQL CTEs."""
    from polars_sim_spark.operators.similarity import ann_topk_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    out = ann_topk_ivf(emb, queries, k=5, num_centroids=16, nprobe=3, kmeans_iters=1)
    return out.select("q_id", "n_id", F.col("sim").alias("sim_r"))


@register("ann_topk_lsh", duck_ann_lsh_sql())
def ann_topk_lsh_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN (16 md5-derived hyperplanes, 4 bands) with
    exact re-rank — bucket layout reproducible in DuckDB, so this
    approximate op still gets a full value-hash oracle check."""
    from polars_sim_spark.operators.similarity import ann_topk_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    out = ann_topk_lsh(emb, queries, k=5)
    return out.select("q_id", "n_id", F.col("sim").alias("sim_r"))


@register(
    "ann_topk_bruteforce",
    """
SELECT q_id, n_id, sim_r FROM (
  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS sim_r,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) DESC,
                    b.vec_id
         ) AS rn
  FROM embeddings a CROSS JOIN embeddings b
  WHERE a.vec_id < 20 AND b.vec_id != a.vec_id
) WHERE rn <= 5
""",
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embedding column — the exact
    baseline every ANN variant is measured against. The query set is
    broadcast; the corpus streams (scales to any corpus size)."""
    from polars_sim_spark.operators.similarity import ann_topk_bruteforce as ann_bf

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    out = ann_bf(emb, queries, k=5)
    return out.select("q_id", "n_id", F.col("sim").alias("sim_r"))


@register(
    "ann_topk_sq8",
    """
WITH comps AS (
  SELECT vec_id AS n_id,
         generate_subscripts(embedding, 1) - 1 AS idx,
         CAST(round(round(CAST(unnest(embedding) AS DOUBLE), 6) * 1000000, 0) AS BIGINT) AS xi
  FROM embeddings
),
stats AS (SELECT idx, min(xi) AS mn, max(xi) AS mx FROM comps GROUP BY 1),
codes AS (
  SELECT c.n_id, c.idx, s.mn, s.mx,
         CASE WHEN s.mx = s.mn THEN 0 ELSE ((c.xi - s.mn) * 255) // (s.mx - s.mn) END AS code
  FROM comps c JOIN stats s USING (idx)
),
q AS (
  SELECT vec_id AS q_id,
         generate_subscripts(embedding, 1) - 1 AS idx,
         CAST(round(round(CAST(unnest(embedding) AS DOUBLE), 6) * 1000000, 0) AS BIGINT) AS qi
  FROM embeddings WHERE vec_id < 20
),
scores AS (
  SELECT q.q_id, codes.n_id,
         sum(q.qi * (codes.mn * 255 + codes.code * (codes.mx - codes.mn))) AS score_sq
  FROM codes JOIN q USING (idx)
  WHERE codes.n_id != q.q_id
  GROUP BY 1, 2
)
SELECT q_id, n_id, CAST(score_sq AS BIGINT) AS score_sq FROM (
  SELECT q_id, n_id, score_sq,
         row_number() OVER (PARTITION BY q_id ORDER BY score_sq DESC, n_id) AS rn
  FROM scores
) WHERE rn <= 5
""",
)
def ann_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) top-k — the 4×-memory vector-serving path
    (operators/similarity.py sq8_quantize/ann_topk_sq8, FAISS-standard
    SQ8, public): per-dim min/max stats broadcast, int8 codes by a
    zero-shuffle transform() projection, and an exact-integer
    asymmetric dot product via one aggregate() HOF per scored pair —
    no posexplode, no per-component shuffle (the oracle's relational
    unnest form computes the same integers). Recall vs exact cosine
    pinned in tests/test_similarity.py."""
    from polars_sim_spark.operators.similarity import ann_topk_sq8 as sq8

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return sq8(emb, queries, k=5)


@register(
    "embedding_label_centroids",
    """
WITH comps AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS idx,
         unnest(embedding) AS c
  FROM embeddings
)
SELECT label, CAST(idx AS BIGINT) AS idx,
       round(CAST(sum(CAST(round(CAST(c AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 6) AS centroid_val,
       count(*) AS n_vecs
FROM comps GROUP BY 1, 2
""",
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (class centroids), flattened to one row
    per (label, dimension).  posexplode → hash aggregate with map-side
    combine; each component is rounded and summed as DECIMAL(18,6) so the
    reduction is exact and order-independent — float sums would differ
    between engines (and between runs!) by reduction order.  One shuffle
    keyed on (label, idx); at 100 TB, |labels|·dim cells, each a running
    decimal sum — constant state per cell."""
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select("label", F.posexplode("embedding").alias("idx", "c"))
    comp6 = F.round(F.col("c").cast("double"), 6).cast("decimal(18,6)")
    return (
        comps.groupBy("label", F.col("idx").cast("long").alias("idx"))
        .agg(
            F.round(
                F.sum(comp6).cast("double") / F.count(F.lit(1)), 6
            ).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
        .select("label", "idx", "centroid_val", "n_vecs")
    )


@register(
    "embedding_cluster_medoids",
    f"""
WITH cent AS (
  SELECT e.vec_id AS c_id, CAST(e.embedding AS DOUBLE[]) AS cv
  FROM embeddings e
  JOIN (
    SELECT vec_id FROM (SELECT vec_id,
           {DUCK_HASH.format(c="CAST(vec_id AS VARCHAR)")} AS h FROM embeddings)
    ORDER BY h, vec_id LIMIT 16
  ) s USING (vec_id)
),
scored AS (
  SELECT e.vec_id AS id, c.c_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv), 6)
           AS sim,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                 c.cv), 6) DESC, c.c_id) AS rn
  FROM embeddings e CROSS JOIN cent c
),
assign AS (SELECT id, c_id, sim FROM scored WHERE rn = 1),
med AS (
  SELECT c_id, id, sim,
         row_number() OVER (PARTITION BY c_id ORDER BY sim DESC, id) AS mrn,
         count(*) OVER (PARTITION BY c_id) AS cluster_size
  FROM assign
)
SELECT c_id, id AS medoid_id, sim, CAST(cluster_size AS BIGINT) AS cluster_size
FROM med WHERE mrn = 1
""",
)
def embedding_cluster_medoids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster medoids (similarity.cluster_medoids): one representative
    vector per hash-sampled centroid cell plus the cell population —
    corpus triage and cluster-balanced seed selection. Assignment is the
    zero-shuffle IVF score projection; the single exchange serves both
    the medoid rank and the cluster-size window."""
    from polars_sim_spark.operators.similarity import cluster_medoids

    emb = load_table(spark, sf_dir, "embeddings")
    return cluster_medoids(emb, num_centroids=16)


@register(
    "embedding_cluster_balanced_sample",
    f"""
WITH cent AS (
  SELECT e.vec_id AS c_id, CAST(e.embedding AS DOUBLE[]) AS cv
  FROM embeddings e
  JOIN (
    SELECT vec_id FROM (SELECT vec_id,
           {DUCK_HASH.format(c="CAST(vec_id AS VARCHAR)")} AS h FROM embeddings)
    ORDER BY h, vec_id LIMIT 16
  ) s USING (vec_id)
),
scored AS (
  SELECT e.vec_id AS id, c.c_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                 c.cv), 6) DESC, c.c_id) AS rn
  FROM embeddings e CROSS JOIN cent c
),
assign AS (SELECT id, c_id FROM scored WHERE rn = 1),
keyed AS (
  SELECT id, c_id,
         round(-ln(({DUCK_HASH.format(c="CAST(id AS VARCHAR)")} + 1)
                   / 4294967296.0), 9) AS es_key
  FROM assign
)
SELECT c_id, id AS vec_id FROM (
  SELECT c_id, id,
         row_number() OVER (PARTITION BY c_id ORDER BY es_key, id) AS srn
  FROM keyed
) WHERE srn <= 5
""",
)
def embedding_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced subsampling: exactly 5 vectors per centroid cell
    (fewer in smaller cells), drawn by the deterministic
    Efraimidis-Spirakis keys — the diversity-preserving downsample
    behind cluster-balanced data mixtures (keep every mode of the
    distribution, cap each mode's mass). Composition of two existing
    pieces: the zero-shuffle IVF assignment
    (similarity.nearest_centroid_assignments) and uniform-weight
    curation.weighted_sample_k over the cell id."""
    from polars_sim_spark.operators.curation import weighted_sample_k
    from polars_sim_spark.operators.similarity import nearest_centroid_assignments

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = nearest_centroid_assignments(emb, num_centroids=16).withColumn(
        "__w", F.lit(1.0)
    )
    return weighted_sample_k(
        assigned, group_col="c_id", weight_col="__w", id_col="id", k=5
    ).select("c_id", F.col("id").alias("vec_id"))



# ---------------------------------------------------------------------------
# Prebuilt-index serving rows (round 7, VERDICT r6 "Next round" #1)
# ---------------------------------------------------------------------------
#
# The fit-in-query ANN rows (ann_topk_pq, ann_topk_ivf_kmeans) time
# index BUILD + serve as one query — correct, but the bench then
# misrepresents serving cost (58% of ann_topk_pq's 6.5 s was the Lloyd
# fit production would amortize). These twins materialize the index
# ONCE into the committed ``indexes/<sf>/`` layout (build-if-missing,
# outside bench timing via bench.py's prepare step) and serve from the
# stored artifact — the actual 100 TB shape: partition-pruned probed
# cells, column-pruned ADC scan, exact rerank. Because every stored
# artifact is deterministic (md5 centroid picks, decimal-exact Lloyd
# means, 6-decimal int-scaled ADC), the SERVING rows get full value-hash
# DuckDB oracles that read the same committed index files.

import os as _os

from polars_sim_spark.fsutil import hadoop_exists as _hadoop_exists

_REPO_ROOT = _os.path.dirname(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
)


def _index_dir(sf_dir: str, name: str) -> str:
    sf_name = _os.path.basename(sf_dir.rstrip("/"))
    return _os.path.join(_REPO_ROOT, "indexes", sf_name, name)


def ensure_ivfpq_index(spark: SparkSession, sf_dir: str) -> str:
    """Build the contract IVF-PQ index for ``sf_dir`` if absent; returns
    its path. Completion keys on the LAST artifact the builder writes
    (``_pq/_SUCCESS``) so a partially-built layout never serves."""
    from polars_sim_spark.operators import pq

    path = _index_dir(sf_dir, "ivfpq")
    if not _hadoop_exists(spark, _os.path.join(path, "_pq", "_SUCCESS")):
        emb = load_table(spark, sf_dir, "embeddings")
        pq.materialize_ivfpq_index(
            emb, path, num_centroids=16, m=8, k_codes=16, pq_iters=3
        )
    return path


def ensure_ivf_kmeans_index(spark: SparkSession, sf_dir: str) -> str:
    """Build the contract k-means-refined IVF index (16 centroids, so
    scored by Column expression — oracle-exact; 1 Lloyd iteration) for
    ``sf_dir`` if absent."""
    from polars_sim_spark.operators.similarity import materialize_ivf_index

    path = _index_dir(sf_dir, "ivf_k1")
    if not _hadoop_exists(spark, _os.path.join(path, "_centroids", "_SUCCESS")):
        emb = load_table(spark, sf_dir, "embeddings")
        materialize_ivf_index(emb, path, num_centroids=16, kmeans_iters=1)
    return path


def ensure_sq8_index(spark: SparkSession, sf_dir: str) -> str:
    """Build the committed SQ8 index for ``sf_dir`` if absent; returns
    its path. Completion keys on ``_stats/_SUCCESS`` (written last)."""
    from polars_sim_spark.operators.similarity import materialize_sq8_index

    path = _index_dir(sf_dir, "sq8")
    if not _hadoop_exists(spark, _os.path.join(path, "_stats", "_SUCCESS")):
        emb = load_table(spark, sf_dir, "embeddings")
        materialize_sq8_index(emb, path)
    return path


def duck_ann_sq8_prebuilt_sql(k: int = 5) -> str:
    """Oracle for SQ8 stored serving: codes and quantizer stats come
    from the COMMITTED index files (read_parquet); queries recompute
    their micro-int components from embeddings — exactly what
    ann_topk_sq8_prebuilt evaluates, integer for integer."""
    idx = _index_dir("sf0.01", "sq8")
    return f"""
WITH st AS (
  SELECT generate_subscripts(mn, 1) - 1 AS idx, unnest(mn) AS mn, unnest(mx) AS mx
  FROM read_parquet('{idx}/_stats/*.parquet')
),
cd AS (
  SELECT vec_id AS n_id, generate_subscripts(codes, 1) - 1 AS idx,
         CAST(unnest(codes) AS BIGINT) AS code
  FROM read_parquet('{idx}/_codes/*.parquet')
),
q AS (
  SELECT vec_id AS q_id,
         generate_subscripts(embedding, 1) - 1 AS idx,
         CAST(round(round(CAST(unnest(embedding) AS DOUBLE), 6) * 1000000, 0) AS BIGINT) AS qi
  FROM embeddings WHERE vec_id < 20
),
scores AS (
  SELECT q.q_id, cd.n_id,
         sum(q.qi * (st.mn * 255 + cd.code * (st.mx - st.mn))) AS score_sq
  FROM cd JOIN st USING (idx) JOIN q USING (idx)
  WHERE cd.n_id != q.q_id
  GROUP BY 1, 2
)
SELECT q_id, n_id, CAST(score_sq AS BIGINT) AS score_sq FROM (
  SELECT q_id, n_id, score_sq,
         row_number() OVER (PARTITION BY q_id ORDER BY score_sq DESC, n_id) AS rn
  FROM scores
) WHERE rn <= {k}
"""


@register("ann_topk_sq8_prebuilt", duck_ann_sq8_prebuilt_sql())
def ann_topk_sq8_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 STORED serving (operators/similarity.py
    materialize_sq8_index / ann_topk_sq8_prebuilt): top-k from the
    committed int8 codes + frozen quantizer stats — the corpus float
    vectors are never read (4× smaller scan), and the oracle
    recomputes every integer score from the SAME committed files, so
    a drifted code, stat, or ranking anywhere in the store→serve
    chain is a driver hash mismatch. Serving equals the fit-in-query
    twin row-for-row because the min/max quantizer is deterministic
    (pinned in tests/test_similarity.py)."""
    from polars_sim_spark.operators.similarity import ann_topk_sq8_prebuilt as serve

    path = ensure_sq8_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return serve(spark, path, queries, k=5)


def duck_ann_ivf_kmeans_prebuilt_sql(nprobe: int = 3, k: int = 5) -> str:
    """Oracle for the stored-IVF serving path: assignments and centroids
    come from the COMMITTED index files (read_parquet), probes and exact
    rerank are recomputed — exactly what ann_topk_ivf_prebuilt does."""
    idx = _index_dir("sf0.01", "ivf_k1")
    cos = "round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv), 6)"
    return f"""
WITH assign AS (
  SELECT vec_id AS n_id, CAST(c_id AS BIGINT) AS c_id
  FROM read_parquet('{idx}/c_id=*/*.parquet', hive_partitioning=1)
),
cent AS (
  SELECT c_id, CAST(centroid AS DOUBLE[]) AS cv
  FROM read_parquet('{idx}/_centroids/*.parquet')
),
probes AS (
  SELECT q_id, c_id FROM (
    SELECT e.vec_id AS q_id, c.c_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos} DESC, c.c_id) AS rn
    FROM embeddings e CROSS JOIN cent c
    WHERE e.vec_id < 20
  ) WHERE rn <= {nprobe}
),
cand AS (
  SELECT DISTINCT p.q_id, a.n_id
  FROM probes p JOIN assign a USING (c_id)
  WHERE a.n_id != p.q_id
)
{_duck_ann_rerank(k)}
"""


def duck_ann_pq_prebuilt_sql(
    nprobe: int = 3, k: int = 5, rerank: int = 10, m: int = 8, dim: int = 64
) -> str:
    """Oracle for the stored-IVF-PQ serving path, reproducing the WHOLE
    pipeline from the committed index files: probe the stored coarse
    centroids, build the per-query ADC lookup tables from the stored
    codebooks (entries rounded to 6 decimals and scaled to BIGINT
    micro-units — the exact order-independent accumulation the Spark
    kernel uses), score the stored codes of the probed cells, shortlist
    rerank×k per query, exact-cosine rerank. Value-hash identical to
    ann_topk_ivfpq_prebuilt because every stage is on a deterministic
    grid."""
    idx = _index_dir("sf0.01", "ivfpq")
    dsub = dim // m
    cos = "round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv), 6)"
    return f"""
WITH cent AS (
  SELECT c_id, CAST(centroid AS DOUBLE[]) AS cv
  FROM read_parquet('{idx}/_centroids/*.parquet')
),
probes AS (
  SELECT q_id, c_id FROM (
    SELECT e.vec_id AS q_id, c.c_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos} DESC, c.c_id) AS rn
    FROM embeddings e CROSS JOIN cent c
    WHERE e.vec_id < 10
  ) WHERE rn <= {nprobe}
),
qn AS (
  SELECT vec_id AS q_id,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
  FROM embeddings WHERE vec_id < 10
),
qcomp AS (
  SELECT e.vec_id AS q_id, d.dim,
         CASE WHEN q.nrm > 0 THEN CAST(e.embedding[d.dim + 1] AS DOUBLE) / q.nrm
              ELSE 0.0 END AS qv
  FROM embeddings e JOIN qn q ON q.q_id = e.vec_id
  CROSS JOIN range({dim}) d(dim)
  WHERE e.vec_id < 10
),
lut AS (
  SELECT c.q_id, p.j, p.code,
         CAST(round(round(sum(c.qv * p.codeword[(c.dim % {dsub}) + 1]), 6) * 1000000, 0) AS BIGINT) AS l
  FROM qcomp c JOIN read_parquet('{idx}/_pq/*.parquet') p ON p.j = c.dim // {dsub}
  GROUP BY 1, 2, 3
),
codeu AS (
  SELECT vec_id AS n_id, CAST(c_id AS BIGINT) AS c_id,
         generate_subscripts(codes, 1) - 1 AS j, unnest(codes) AS code
  FROM read_parquet('{idx}/c_id=*/*.parquet', hive_partitioning=1)
),
adc AS (
  SELECT p.q_id, u.n_id, sum(l.l) AS s
  FROM probes p JOIN codeu u USING (c_id)
  JOIN lut l ON l.q_id = p.q_id AND l.j = u.j AND l.code = u.code
  WHERE u.n_id != p.q_id
  GROUP BY 1, 2
),
cand AS (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY s DESC, n_id) AS rn
    FROM adc
  ) WHERE rn <= {rerank * k}
)
{_duck_ann_rerank(k)}
"""


@register("ann_topk_pq_prebuilt", duck_ann_pq_prebuilt_sql())
def ann_topk_pq_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ SERVING from the committed lake index (build amortized —
    materialized once by ensure_ivfpq_index / bench prepare): probes
    prune to nprobe=3 of 16 cells at the FILE level, the ADC pass scans
    only (id, codes) of those cells (column pruning — raw vectors stay
    on disk), the exact rerank touches rerank×k rows per query. Returned
    sims are exact cosines. Fully value-hash oracle-checked: the stored
    codes/codebooks/centroids are deterministic and the ADC accumulates
    6-decimal micro-units as exact int64 — DuckDB reproduces the
    identical shortlist from the same index files."""
    from polars_sim_spark.operators import pq

    path = ensure_ivfpq_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    out = pq.ann_topk_ivfpq_prebuilt(spark, path, qs, k=5, nprobe=3, rerank=10)
    return out.select("q_id", "n_id", F.col("sim").alias("sim_r"))


@register("ann_topk_ivf_kmeans_prebuilt", duck_ann_ivf_kmeans_prebuilt_sql())
def ann_topk_ivf_kmeans_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat SERVING from the committed k-means-refined index: the
    Lloyd refinement ran once at build time (ensure_ivf_kmeans_index);
    serving reads the stored centroid table (O(16) driver read), prunes
    to the probed cells via hive partition pruning, and exact-reranks
    with the PRE-COMPUTED norms. Same semantics as ann_topk_ivf_kmeans
    minus the per-query fit cost — the bench row now measures serving,
    not training."""
    from polars_sim_spark.operators.similarity import ann_topk_ivf_prebuilt

    path = ensure_ivf_kmeans_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    out = ann_topk_ivf_prebuilt(spark, path, qs, k=5, nprobe=3)
    return out.select("q_id", "n_id", F.col("sim").alias("sim_r"))


def duck_ann_pq_fit_sql(
    m: int = 8,
    kk: int = 16,
    iters: int = 3,
    dim: int = 64,
    rerank: int = 10,
    k: int = 5,
) -> str:
    """Oracle replaying the ENTIRE in-query PQ pipeline — fit, encode,
    ADC, rerank — as unrolled CTEs (round 10; the same fixed-round-
    recurrence unroll that oracle-ized MMR and k-core):

    * init codewords = the md5-deterministic pick_centroids rows,
      normalized components rounded to the 6-decimal grid;
    * each Lloyd iteration: assignment by ``round(Σc² − 2Σv·c, 6)``
      (the kernel's grid-committed argmin; ties → smallest code), then
      per-cell component means as round-6 → DECIMAL(18,6) exact sums →
      divide → round-6 (empty cells keep their codeword via COALESCE);
    * final encode with the iterated codebooks, per-query int64
      micro-unit ADC LUTs, shortlist rerank×k (self excluded AFTER the
      shortlist window, matching pq_ann_topk), exact-cosine rerank.
    """
    dsub = dim // m
    h = DUCK_HASH.format(c="CAST(vec_id AS VARCHAR)")
    parts = [
        f"""
WITH nrm AS (
  SELECT vec_id AS id,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
  FROM embeddings
),
u AS (
  SELECT e.vec_id AS id, d.dim,
         CASE WHEN n.nrm > 0 THEN CAST(e.embedding[d.dim + 1] AS DOUBLE) / n.nrm
              ELSE 0.0 END AS uv
  FROM embeddings e JOIN nrm n ON n.id = e.vec_id
  CROSS JOIN range({dim}) d(dim)
),
picks AS (
  SELECT id, row_number() OVER (ORDER BY id) - 1 AS code
  FROM (
    SELECT vec_id AS id FROM (SELECT vec_id, {h} AS h FROM embeddings)
    ORDER BY h, vec_id LIMIT {kk}
  )
),
cw0 AS (
  SELECT u.dim // {dsub} AS j, p.code, u.dim % {dsub} AS i, round(u.uv, 6) AS c
  FROM picks p JOIN u ON u.id = p.id
)"""
    ]
    # iters Lloyd rounds + one final encode assignment (iters+1 passes)
    for r in range(1, iters + 2):
        prev = f"cw{r - 1}"
        parts.append(
            f""",
d{r} AS (
  SELECT uu.id, cw.j, cw.code,
         round(sum(cw.c * cw.c) - 2.0 * sum(uu.uv * cw.c), 6) AS d2
  FROM u uu JOIN {prev} cw ON cw.j = uu.dim // {dsub} AND cw.i = uu.dim % {dsub}
  GROUP BY 1, 2, 3
),
a{r} AS (
  SELECT id, j, code FROM (
    SELECT id, j, code,
           row_number() OVER (PARTITION BY id, j ORDER BY d2, code) AS rn
    FROM d{r}
  ) WHERE rn = 1
)"""
        )
        if r <= iters:
            parts.append(
                f""",
m{r} AS (
  SELECT a.j, a.code, uu.dim % {dsub} AS i,
         round(CAST(sum(CAST(round(uu.uv, 6) AS DECIMAL(18,6))) AS DOUBLE)
               / count(*), 6) AS c
  FROM a{r} a JOIN u uu ON uu.id = a.id AND uu.dim // {dsub} = a.j
  GROUP BY 1, 2, 3
),
cw{r} AS (
  SELECT p.j, p.code, p.i, COALESCE(m.c, p.c) AS c
  FROM {prev} p LEFT JOIN m{r} m ON m.j = p.j AND m.code = p.code AND m.i = p.i
)"""
            )
    final_assign = f"a{iters + 1}"
    parts.append(
        f""",
lut AS (
  SELECT uu.id AS q_id, cw.j, cw.code,
         CAST(round(round(sum(uu.uv * cw.c), 6) * 1000000, 0) AS BIGINT) AS l
  FROM u uu JOIN cw{iters} cw ON cw.j = uu.dim // {dsub} AND cw.i = uu.dim % {dsub}
  WHERE uu.id < 10
  GROUP BY 1, 2, 3
),
adc AS (
  SELECT l.q_id, a.id AS n_id, sum(l.l) AS s
  FROM {final_assign} a JOIN lut l ON l.j = a.j AND l.code = a.code
  GROUP BY 1, 2
),
cand AS (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id ORDER BY s DESC, n_id) AS rn
    FROM adc
  ) WHERE rn <= {rerank * k} AND n_id != q_id
)
{_duck_ann_rerank(k)}"""
    )
    return "".join(parts)


@register("ann_topk_pq", duck_ann_pq_fit_sql())
# full value-hash oracle since round 10 (unrolled Lloyd CTEs); encode/ADC
# semantics additionally pinned vs numpy + the exact brute-force baseline
# in tests/test_pq.py
def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN: 8×16 product-quantization codebooks fit on the
    corpus (fused per-subspace Lloyd — one Arrow einsum pass per
    iteration for ALL subspaces), vectors stored as 8 one-byte codes
    (32× smaller than 64 floats), queries scored via broadcast ADC
    lookup tables, exact-cosine rerank on a 10×k shortlist. Returned
    sims are EXACT cosines (recall-only approximation; measured
    recall@5 0.6-0.7 on testdata — operators/pq.py)."""
    from polars_sim_spark.operators import pq

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cb = pq.pq_fit(emb, "vec_id", "embedding", m=8, k=16, iters=3)
    out = pq.pq_ann_topk(emb, qs, cb, k=5, rerank=10)
    return out.select("q_id", "n_id", F.col("sim").alias("sim_r")).orderBy("q_id", "n_id")


def duck_ann_ivf_filtered_sql(nprobe: int = 3, k: int = 5) -> str:
    """Oracle for FILTERED serving: same committed-index probe pipeline
    as duck_ann_ivf_kmeans_prebuilt_sql, with the metadata predicate
    (label < 3) applied to candidates before the exact rerank — the
    post-filter semantics of ann_topk_ivf_prebuilt(allowed=...)."""
    idx = _index_dir("sf0.01", "ivf_k1")
    cos = "round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv), 6)"
    return f"""
WITH assign AS (
  SELECT vec_id AS n_id, CAST(c_id AS BIGINT) AS c_id
  FROM read_parquet('{idx}/c_id=*/*.parquet', hive_partitioning=1)
),
cent AS (
  SELECT c_id, CAST(centroid AS DOUBLE[]) AS cv
  FROM read_parquet('{idx}/_centroids/*.parquet')
),
probes AS (
  SELECT q_id, c_id FROM (
    SELECT e.vec_id AS q_id, c.c_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos} DESC, c.c_id) AS rn
    FROM embeddings e CROSS JOIN cent c
    WHERE e.vec_id < 20
  ) WHERE rn <= {nprobe}
),
cand AS (
  SELECT DISTINCT p.q_id, a.n_id
  FROM probes p
  JOIN assign a USING (c_id)
  JOIN embeddings em ON em.vec_id = a.n_id AND em.label < 3
  WHERE a.n_id != p.q_id
)
{_duck_ann_rerank(k)}
"""


@register("ann_topk_ivf_filtered", duck_ann_ivf_filtered_sql())
def ann_topk_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search over the committed IVF index (round 8):
    top-k among corpus rows whose metadata satisfies a predicate
    (label < 3 — any engine-expressible predicate on any joinable
    table works the same way), served by semi-joining the allowed-id
    set into the probed lists before scoring
    (similarity.py:ann_topk_ivf_prebuilt(allowed=...)). Same committed
    files, deterministic probes, exact rerank — the oracle applies the
    identical predicate to the candidate set, so the driver hash-checks
    the filtered semantics end to end."""
    from polars_sim_spark.operators.similarity import ann_topk_ivf_prebuilt

    path = ensure_ivf_kmeans_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    allowed = emb.where(F.col("label") < 3).select("vec_id")
    out = ann_topk_ivf_prebuilt(spark, path, qs, k=5, nprobe=3, allowed=allowed)
    return out.select("q_id", "n_id", F.col("sim").alias("sim_r"))


def _ann_recall_sql(nprobe: int = 3, k: int = 5) -> str:
    """Oracle for the recall REPORT: recompute the committed-IVF serving
    top-k and the exact brute-force top-k in SQL and count the overlap —
    recall as data, on the same deterministic grid as everything else."""
    idx = _index_dir("sf0.01", "ivf_k1")
    cos_c = "round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv), 6)"
    cos_q = (
        "round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), "
        "CAST(n.embedding AS DOUBLE[])), 6)"
    )
    cos_bf = (
        "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
        "CAST(b.embedding AS DOUBLE[])), 6)"
    )
    return f"""
WITH assign AS (
  SELECT vec_id AS n_id, CAST(c_id AS BIGINT) AS c_id
  FROM read_parquet('{idx}/c_id=*/*.parquet', hive_partitioning=1)
),
cent AS (
  SELECT c_id, CAST(centroid AS DOUBLE[]) AS cv
  FROM read_parquet('{idx}/_centroids/*.parquet')
),
probes AS (
  SELECT q_id, c_id FROM (
    SELECT e.vec_id AS q_id, c.c_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos_c} DESC, c.c_id) AS rn
    FROM embeddings e CROSS JOIN cent c
    WHERE e.vec_id < 20
  ) WHERE rn <= {nprobe}
),
cand AS (
  SELECT DISTINCT p.q_id, a.n_id
  FROM probes p JOIN assign a USING (c_id)
  WHERE a.n_id != p.q_id
),
ivf AS (
  SELECT q_id, n_id FROM (
    SELECT c.q_id, c.n_id,
           row_number() OVER (PARTITION BY c.q_id ORDER BY {cos_q} DESC, c.n_id) AS rn
    FROM cand c
    JOIN embeddings q ON q.vec_id = c.q_id
    JOIN embeddings n ON n.vec_id = c.n_id
  ) WHERE rn <= {k}
),
bf AS (
  SELECT q_id, n_id FROM (
    SELECT a.vec_id AS q_id, b.vec_id AS n_id,
           row_number() OVER (PARTITION BY a.vec_id ORDER BY {cos_bf} DESC, b.vec_id) AS rn
    FROM embeddings a CROSS JOIN embeddings b
    WHERE a.vec_id < 20 AND b.vec_id != a.vec_id
  ) WHERE rn <= {k}
)
SELECT bf.q_id,
       CAST(sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       CAST(sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END) * 100 // {k} AS BIGINT) AS recall_pct
FROM bf LEFT JOIN ivf i ON i.q_id = bf.q_id AND i.n_id = bf.n_id
GROUP BY bf.q_id
"""


@register("ann_recall_ivf", _ann_recall_sql())
def ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall REPORT for the committed IVF serving path — the engine
    measuring its own approximation quality as a first-class query (the
    monitoring row a production vector store runs after every index
    rebuild): per query, how many of the exact brute-force top-5 the
    nprobe=3 stored-index serve returned (hits, recall_pct — exact
    integers, so the oracle recomputes BOTH retrievers and the overlap
    digit-for-digit). Composes two already-proven plans; the recall
    trade it quantifies is the one ann_topk_ivf_prebuilt's docstring
    states qualitatively."""
    from polars_sim_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_ivf_prebuilt,
    )

    path = ensure_ivf_kmeans_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    ivf = ann_topk_ivf_prebuilt(spark, path, qs, k=5, nprobe=3).select(
        "q_id", "n_id", F.lit(1).alias("__hit")
    )
    bf = ann_topk_bruteforce(emb, qs, k=5).select("q_id", "n_id")
    return (
        bf.join(ivf, ["q_id", "n_id"], "left")
        .groupBy("q_id")
        .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long").alias("hits"))
        .select(
            "q_id", "hits", F.expr("hits * 100 div 5").cast("long").alias("recall_pct")
        )
    )


def _entity_resolve_embeddings_sql(
    k: int = 5, nprobe: int = 3, tau: str = "0.3", index_name: str = "ivf_k1"
) -> str:
    """ONE oracle for the whole ANN→edges→CC composition (the embedding
    twin of entity_resolve_customers' levenshtein+closure oracle): the
    committed IVF probe pipeline (same CTEs as
    duck_ann_ivf_filtered_sql), per-query exact top-k, the mutual-kNN +
    threshold edge gate, then a recursive-CTE reachability closure with
    min-label canonicalization. ``index_name`` selects which committed
    index layout the probes replay — the pinned 16-cell contract
    geometry (``ivf_k1``) or the ⌈√n⌉ scale geometry (``ivf_sqrt``,
    resolve_entities_scale)."""
    idx = _index_dir("sf0.01", index_name)
    cos_c = "round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv), 6)"
    cos_n = (
        "round(list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]), "
        "CAST(en.embedding AS DOUBLE[])), 6)"
    )
    return f"""
WITH RECURSIVE cent AS (
  SELECT c_id, CAST(centroid AS DOUBLE[]) AS cv
  FROM read_parquet('{idx}/_centroids/*.parquet')
),
assign AS (
  SELECT vec_id, CAST(c_id AS BIGINT) AS c_id
  FROM read_parquet('{idx}/c_id=*/*.parquet', hive_partitioning=1)
),
probes AS (
  SELECT q_id, c_id FROM (
    SELECT e.vec_id AS q_id, c.c_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos_c} DESC, c.c_id) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn <= {nprobe}
),
knn AS MATERIALIZED (
  SELECT q_id, n_id, sim FROM (
    SELECT p.q_id, a.vec_id AS n_id, {cos_n} AS sim,
           row_number() OVER (PARTITION BY p.q_id ORDER BY {cos_n} DESC, a.vec_id) AS rn
    FROM probes p
    JOIN assign a USING (c_id)
    JOIN embeddings eq ON eq.vec_id = p.q_id
    JOIN embeddings en ON en.vec_id = a.vec_id
    WHERE a.vec_id != p.q_id
  ) WHERE rn <= {k}
),
mutual AS (
  SELECT k1.q_id AS l_id, k1.n_id AS r_id
  FROM knn k1 JOIN knn k2 ON k2.q_id = k1.n_id AND k2.n_id = k1.q_id
  WHERE k1.q_id < k1.n_id AND k1.sim >= CAST({tau} AS DOUBLE)
),
e AS (SELECT l_id AS src, r_id AS dst FROM mutual
      UNION ALL SELECT r_id AS src, l_id AS dst FROM mutual),
reach AS (
  SELECT vec_id AS id, vec_id AS lab FROM embeddings
  UNION
  SELECT e.dst AS id, reach.lab FROM e JOIN reach ON reach.id = e.src
)
SELECT id AS vec_id, min(lab) AS entity_id FROM reach GROUP BY id
"""


@register("entity_resolve_embeddings", _entity_resolve_embeddings_sql())
def entity_resolve_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC entity resolution over embeddings — the kNN-graph
    clustering every large corpus pipeline runs, composed entirely from
    proven pieces the way entity_resolve_customers composed
    edit-join→CC: the committed IVF index serves a corpus-wide
    mutual-5-NN graph (operators/similarity.knn_graph_ivf_prebuilt —
    centroid-table broadcast + c_id shuffle join, nothing driver-sized
    scales with the corpus), edges gate on mutuality + cosine ≥ 0.3,
    connected components (pointer jumping, operators/dedup.py) collapse
    transitive chains, and every vector gets the canonical smallest
    member id. ONE recursive-CTE oracle checks the whole composition
    from the same committed index files."""
    from polars_sim_spark.operators.dedup import connected_components
    from polars_sim_spark.operators.similarity import knn_graph_ivf_prebuilt

    path = ensure_ivf_kmeans_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    edges = knn_graph_ivf_prebuilt(
        spark, path, k=5, nprobe=3, mutual=True, min_cosine=0.3
    )
    out = connected_components(
        emb.select(F.col("vec_id").alias("id")),
        edges,
        id_col="id",
        src_col="l_id",
        dst_col="r_id",
    )
    return out.select(
        F.col("id").alias("vec_id"), F.col("cluster_id").alias("entity_id")
    )


def ensure_ivf_sqrt_index(spark: SparkSession, sf_dir: str) -> str:
    """Build the committed ⌈√n⌉-centroid IVF index for ``sf_dir`` if
    absent — the geometry :func:`knn_graph` builds by default (at sf0.01:
    500 vectors → 23 centroids), so the scale-path contract row serves
    from the same layout a pipeline's own build-if-missing call would
    produce."""
    import math

    from polars_sim_spark.operators.similarity import materialize_ivf_index

    path = _index_dir(sf_dir, "ivf_sqrt")
    if not _hadoop_exists(spark, _os.path.join(path, "_centroids", "_SUCCESS")):
        emb = load_table(spark, sf_dir, "embeddings")
        n = emb.count()
        materialize_ivf_index(
            emb,
            path,
            num_centroids=math.isqrt(max(n, 1) - 1) + 1,
            kmeans_iters=1,
        )
    return path


@register(
    "resolve_entities_scale",
    _entity_resolve_embeddings_sql(index_name="ivf_sqrt"),
)
def resolve_entities_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-call scale path DRIVER-VERIFIED end-to-end (VERDICT r10
    #1): ``similarity.resolve_entities`` with its REAL defaults — ⌈√n⌉
    centroids (the committed ivf_sqrt layout), mutual-5-NN + cosine ≥
    0.3, connected components. The probe scorer follows the centroid
    count: at sf0.1 (45 cells) probes score by broadcast GEMM (zero plan
    literals), so this row hash-checks the GEMM probe path against an
    independent oracle; at sf0.01 (23 cells) they score by Column
    expression, and tests/test_similarity.py
    ``test_resolve_entities_scale_gemm_probe_matches_oracle`` forces the
    GEMM there. The oracle replays the √n-geometry probes + exact rerank
    + mutual gate + reachability closure from the same committed index
    files, so a hash match verifies the exact pipeline users are told
    to run at scale."""
    from polars_sim_spark.operators.similarity import resolve_entities

    path = ensure_ivf_sqrt_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return resolve_entities(emb, path)


def _entity_resolve_incremental_sql(k: int = 5, nprobe: int = 3, tau: str = "0.3") -> str:
    """Oracle for INCREMENTAL entity resolution — and simultaneously its
    rebuild-equivalence proof: the Spark side resolves the historical
    80% (vec_id % 5 != 0) to stored labels, then folds the 20% batch in
    via quotient-graph CC (operators/dedup.py update_entity_labels);
    the oracle computes the ONE-SHOT reachability closure over the
    union edge set (historical mutual-kNN edges + batch top-k edges),
    so a hash match proves incremental ≡ full recompute on every run."""
    idx = _index_dir("sf0.01", "ivf_k1")
    cos_c = "round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv), 6)"
    cos_n = (
        "round(list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]), "
        "CAST(en.embedding AS DOUBLE[])), 6)"
    )
    return f"""
WITH RECURSIVE cent AS (
  SELECT c_id, CAST(centroid AS DOUBLE[]) AS cv
  FROM read_parquet('{idx}/_centroids/*.parquet')
),
assign AS (
  SELECT vec_id, CAST(c_id AS BIGINT) AS c_id
  FROM read_parquet('{idx}/c_id=*/*.parquet', hive_partitioning=1)
),
hprobes AS (
  SELECT q_id, c_id FROM (
    SELECT e.vec_id AS q_id, c.c_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos_c} DESC, c.c_id) AS rn
    FROM embeddings e CROSS JOIN cent c
    WHERE e.vec_id % 5 != 0
  ) WHERE rn <= {nprobe}
),
hknn AS MATERIALIZED (
  SELECT q_id, n_id, sim FROM (
    SELECT p.q_id, a.vec_id AS n_id, {cos_n} AS sim,
           row_number() OVER (PARTITION BY p.q_id ORDER BY {cos_n} DESC, a.vec_id) AS rn
    FROM hprobes p
    JOIN assign a USING (c_id)
    JOIN embeddings eq ON eq.vec_id = p.q_id
    JOIN embeddings en ON en.vec_id = a.vec_id
    WHERE a.vec_id != p.q_id AND a.vec_id % 5 != 0
  ) WHERE rn <= {k}
),
hmutual AS (
  SELECT k1.q_id AS l_id, k1.n_id AS r_id
  FROM hknn k1 JOIN hknn k2 ON k2.q_id = k1.n_id AND k2.n_id = k1.q_id
  WHERE k1.q_id < k1.n_id AND k1.sim >= CAST({tau} AS DOUBLE)
),
bprobes AS (
  SELECT q_id, c_id FROM (
    SELECT e.vec_id AS q_id, c.c_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos_c} DESC, c.c_id) AS rn
    FROM embeddings e CROSS JOIN cent c
    WHERE e.vec_id % 5 = 0
  ) WHERE rn <= {nprobe}
),
bedges AS MATERIALIZED (
  SELECT q_id AS l_id, n_id AS r_id FROM (
    SELECT p.q_id, a.vec_id AS n_id, {cos_n} AS sim,
           row_number() OVER (PARTITION BY p.q_id ORDER BY {cos_n} DESC, a.vec_id) AS rn
    FROM bprobes p
    JOIN assign a USING (c_id)
    JOIN embeddings eq ON eq.vec_id = p.q_id
    JOIN embeddings en ON en.vec_id = a.vec_id
    WHERE a.vec_id != p.q_id
  ) WHERE rn <= {k} AND sim >= CAST({tau} AS DOUBLE)
),
alle AS (
  SELECT l_id AS src, r_id AS dst FROM hmutual
  UNION ALL SELECT r_id, l_id FROM hmutual
  UNION ALL SELECT l_id, r_id FROM bedges
  UNION ALL SELECT r_id, l_id FROM bedges
),
reach AS (
  SELECT vec_id AS id, vec_id AS lab FROM embeddings
  UNION
  SELECT alle.dst AS id, reach.lab FROM alle JOIN reach ON reach.id = alle.src
)
SELECT id AS vec_id, min(lab) AS entity_id FROM reach GROUP BY id
"""


def build_historical_entity_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The historical 80%'s CC labels from scratch — filtered mutual-kNN
    over the committed index (the ``allowed`` subgraph primitive) +
    connected components. Shared by the label-store builder and the
    rebuild-equivalence test."""
    from polars_sim_spark.operators.dedup import connected_components
    from polars_sim_spark.operators.similarity import knn_graph_ivf_prebuilt

    path = ensure_ivf_kmeans_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    hist = emb.where(F.col("vec_id") % 5 != 0)
    edges_h = knn_graph_ivf_prebuilt(
        spark, path, k=5, nprobe=3, mutual=True, min_cosine=0.3,
        allowed=hist.select("vec_id"),
    )
    return connected_components(
        hist.select(F.col("vec_id").alias("id")),
        edges_h,
        id_col="id", src_col="l_id", dst_col="r_id",
    ).withColumnRenamed("cluster_id", "entity_id")


def ensure_entity_labels(spark: SparkSession, sf_dir: str) -> str:
    """Build the COMMITTED entity-label store for ``sf_dir`` if absent
    (VERDICT r10 #3): the CC output over the historical 80%, persisted
    as ``indexes/<sf>/entity_labels`` — the ``*_prebuilt`` pattern every
    other index family follows. The contract row and the streaming fold
    twin READ this store; the in-query rebuild moved to a test
    (tests/test_similarity.py label-store rebuild equivalence)."""
    path = _index_dir(sf_dir, "entity_labels")
    if not _hadoop_exists(spark, _os.path.join(path, "_SUCCESS")):
        build_historical_entity_labels(spark, sf_dir).write.mode(
            "overwrite"
        ).parquet(path)
    return path


@register("entity_resolve_incremental", _entity_resolve_incremental_sql())
def entity_resolve_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode semantic entity resolution (round 10, VERDICT r9 #5;
    label store committed in round 11, VERDICT r10 #3): the historical
    80%'s CC labels are READ from the committed ``entity_labels`` store
    (built once by :func:`ensure_entity_labels` — the real pipeline
    shape, where labels persist between batches), then the 20% batch
    joins via its top-k edges against the FULL corpus and
    operators/dedup.update_entity_labels folds them in by quotient-graph
    CC — only touched clusters move. The oracle deliberately does NOT
    read the store: it recomputes the one-shot closure over the union
    edge set from the committed index files alone, so the driver's hash
    check proves stored-labels + incremental fold ≡ full rebuild on
    every run."""
    from polars_sim_spark.operators.dedup import update_entity_labels
    from polars_sim_spark.operators.similarity import ann_topk_ivf_prebuilt

    path = ensure_ivf_kmeans_index(spark, sf_dir)
    lab = ensure_entity_labels(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.where(F.col("vec_id") % 5 == 0)
    stored = spark.read.parquet(lab)
    qb = batch.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    eb = (
        ann_topk_ivf_prebuilt(spark, path, qb, k=5, nprobe=3)
        .where(F.col("sim") >= 0.3)
        .select(F.col("q_id").alias("l_id"), F.col("n_id").alias("r_id"))
    )
    out = update_entity_labels(
        stored, batch.select(F.col("vec_id").alias("id")), eb, id_col="id"
    )
    return out.select(F.col("id").alias("vec_id"), "entity_id")


def _mmr_unrolled_sql(k: int = 10, n_cands: int = 50, lam: int = 70) -> str:
    """Unrolled-CTE oracle for MMR's greedy selection — the same trick
    the fixed-round PageRank/LPA oracles use (queries/graph.py): a
    fixed-k greedy over exact int64 micro-units is a k-round integer
    recurrence, so each round is one CTE pair (argmax pick + state
    update) and the whole selection is plain SQL. ``MATERIALIZED``
    pins each state CTE (referenced twice per round) so DuckDB doesn't
    inline the chain exponentially. Floor division is spelled
    ``floor(x / 100.0)`` because DuckDB's integer ``//`` truncates
    toward zero while numpy's ``//`` floors — exact for these
    magnitudes (|numerator| ≤ 1e8, quotient ≥ 0.01 from any integer
    unless exact)."""
    mu = 100 - lam
    score = f"CAST(floor(({lam} * rel - {mu} * maxsim) / 100.0) AS BIGINT)"
    parts = [
        f"""
WITH cand AS MATERIALIZED (
  SELECT q_id, n_id, CAST(round(sim6 * 1000000, 0) AS BIGINT) AS rel
  FROM (
    SELECT a.vec_id AS q_id, b.vec_id AS n_id,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS sim6,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) DESC,
                      b.vec_id
           ) AS rn
    FROM embeddings a CROSS JOIN embeddings b
    WHERE a.vec_id < 20 AND b.vec_id != a.vec_id
  ) WHERE rn <= {n_cands}
),
pair AS MATERIALIZED (
  SELECT c1.q_id, c1.n_id AS i_id, c2.n_id AS j_id,
         CAST(round(round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) * 1000000, 0) AS BIGINT) AS s
  FROM cand c1 JOIN cand c2 ON c1.q_id = c2.q_id
  JOIN embeddings a ON a.vec_id = c1.n_id
  JOIN embeddings b ON b.vec_id = c2.n_id
),
st0 AS MATERIALIZED (SELECT q_id, n_id, rel, CAST(0 AS BIGINT) AS maxsim FROM cand)"""
    ]
    for r in range(1, k + 1):
        parts.append(
            f""",
sel{r} AS MATERIALIZED (
  SELECT q_id, n_id, score FROM (
    SELECT q_id, n_id, {score} AS score,
           row_number() OVER (PARTITION BY q_id ORDER BY {score} DESC, n_id) AS rn
    FROM st{r - 1}
  ) WHERE rn = 1
)"""
        )
        if r < k:
            parts.append(
                f""",
st{r} AS MATERIALIZED (
  SELECT s.q_id, s.n_id, s.rel, greatest(s.maxsim, p.s) AS maxsim
  FROM st{r - 1} s
  JOIN sel{r} x ON x.q_id = s.q_id AND s.n_id != x.n_id
  JOIN pair p ON p.q_id = s.q_id AND p.i_id = s.n_id AND p.j_id = x.n_id
)"""
            )
    union = "\nUNION ALL\n".join(
        f"SELECT q_id, CAST({r} AS INT) AS rank, n_id, score AS mmr_micro FROM sel{r}"
        for r in range(1, k + 1)
    )
    return "".join(parts) + "\n" + union


@register("ann_mmr_rerank", _mmr_unrolled_sql())
def ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity re-rank of the brute-force ANN candidates: top-50 cosine
    candidates per query, MMR-selected down to 10 (lambda=0.70) in exact
    int64 micro-units (operators/similarity.mmr_rerank). FULLY
    oracle-checked since round 9: greedy selection at fixed k is a
    k-round integer recurrence, so the DuckDB oracle unrolls the 10
    picks as a CTE chain (argmax + maxsim update per round) — the same
    trick as the PageRank/LPA oracles — and reproduces every (rank, id,
    score) cell; the numpy bit-pin in tests/test_mmr.py stays as the
    second, independent reference."""
    from polars_sim_spark.operators.similarity import ann_topk_bruteforce as ann_bf
    from polars_sim_spark.operators.similarity import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cands = ann_bf(emb, queries, k=50).join(
        emb.select(F.col("vec_id").alias("n_id"), "embedding"), "n_id"
    )
    return mmr_rerank(
        cands,
        group_col="q_id",
        id_col="n_id",
        vec_col="embedding",
        rel_col="sim",
        k=10,
        lambda_pct=70,
    )


@register(
    "ann_rrf_hybrid",
    """
WITH bf AS (
  SELECT q_id, n_id, rn FROM (
    SELECT a.vec_id AS q_id, b.vec_id AS n_id,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) DESC,
                      b.vec_id
           ) AS rn
    FROM embeddings a CROSS JOIN embeddings b
    WHERE a.vec_id < 20 AND b.vec_id != a.vec_id
  ) WHERE rn <= 20
),
comps AS (
  SELECT vec_id AS n_id,
         generate_subscripts(embedding, 1) - 1 AS idx,
         CAST(round(round(CAST(unnest(embedding) AS DOUBLE), 6) * 1000000, 0) AS BIGINT) AS xi
  FROM embeddings
),
stats AS (SELECT idx, min(xi) AS mn, max(xi) AS mx FROM comps GROUP BY 1),
codes AS (
  SELECT c.n_id, c.idx, s.mn, s.mx,
         CASE WHEN s.mx = s.mn THEN 0 ELSE ((c.xi - s.mn) * 255) // (s.mx - s.mn) END AS code
  FROM comps c JOIN stats s USING (idx)
),
qv AS (
  SELECT vec_id AS q_id,
         generate_subscripts(embedding, 1) - 1 AS idx,
         CAST(round(round(CAST(unnest(embedding) AS DOUBLE), 6) * 1000000, 0) AS BIGINT) AS qi
  FROM embeddings WHERE vec_id < 20
),
s8 AS (
  SELECT q_id, n_id, rn FROM (
    SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id ORDER BY score_sq DESC, n_id) AS rn
    FROM (
      SELECT qv.q_id, codes.n_id,
             sum(qv.qi * (codes.mn * 255 + codes.code * (codes.mx - codes.mn))) AS score_sq
      FROM codes JOIN qv USING (idx)
      WHERE codes.n_id != qv.q_id
      GROUP BY 1, 2
    )
  ) WHERE rn <= 20
),
u AS (SELECT * FROM bf UNION ALL SELECT * FROM s8),
f AS (
  SELECT q_id, n_id,
         CAST(sum(1000000000 // (60 + rn)) AS BIGINT) AS rrf_nano,
         count(*) AS n_lists
  FROM u GROUP BY 1, 2
)
SELECT q_id, n_id, rrf_nano, n_lists, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rrf_nano DESC, n_id) AS rank
  FROM f
) WHERE rank <= 10
""",
)
def ann_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion: merge the EXACT cosine
    top-20 with the SQ8-quantized top-20 per query into a fused top-10
    (operators/similarity.rrf_fuse).  RRF consumes only ranks, so no
    score calibration across retrievers is needed; exact integer
    nano-unit scores make the merged ranking hash-checkable end to end —
    the oracle recomputes BOTH retrievers and the fusion in one SQL
    statement."""
    from polars_sim_spark.operators.similarity import (
        ann_topk_bruteforce as ann_bf,
        ann_topk_sq8 as sq8,
        rrf_fuse,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    w = Window.partitionBy("q_id")
    bf = (
        ann_bf(emb, queries, k=20)
        .withColumn(
            "rank",
            F.row_number().over(w.orderBy(F.round("sim", 6).desc(), "n_id")),
        )
        .select("q_id", "n_id", "rank")
    )
    s8 = (
        sq8(emb, queries, k=20)
        .withColumn(
            "rank",
            F.row_number().over(w.orderBy(F.col("score_sq").desc(), "n_id")),
        )
        .select("q_id", "n_id", "rank")
    )
    return rrf_fuse([bf, s8], top_k=10)
