"""Deduplication contract queries: exact/Jaccard/MinHash-LSH/SimHash, passage + substring spans, embedding near-dup, incremental forms, clustering/removal.

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
from polars_sim_spark.operators import dedup
from polars_sim_spark.sources.tables import load_table
from polars_sim_spark.queries._registry import register
from polars_sim_spark.queries._registry import DUCK_HASH


@register(
    "dedup_exact_docs",
    """
SELECT text, min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents
GROUP BY text
""",
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical (min-id) representative per distinct text."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


def duck_shingles_cte(table: str, id_col: str, text_col: str, n: int = 3) -> str:
    """Distinct n-word shingle postings (id, sh) — twin of
    dedup.shingle_postings / functions.text.word_shingles."""
    terms = ", ".join(f"w[CAST(i AS INT)+{j}]" if j else "w[CAST(i AS INT)]" for j in range(n))
    return f"""
  SELECT id, unnest(shs) AS sh FROM (
    SELECT {id_col} AS id,
           list_distinct([concat_ws(' ', {terms})
                          FOR i IN range(1, greatest(len(w)-{n - 1}, 0)+1)]) AS shs
    FROM (SELECT {id_col}, string_split_regex(trim(lower({text_col})), '\\s+') AS w FROM {table})
  )"""


def duck_lsh_cand_ctes(max_bucket_size: int | None = None) -> str:
    """MinHash-LSH candidate-pair CTEs over an in-scope ``sh`` postings
    CTE — the oracle twin of the per-row band builder
    (dedup._banded_doc_side: minhash_signature_array → _band_keys) →
    lsh_candidate_pairs, computed here as a per-document min aggregate
    and a band UNION ALL, including the hot-bucket cap: with
    ``max_bucket_size`` buckets holding more than that many documents are
    dropped BEFORE the bucket self-join, exactly like the Spark side."""
    sig_exprs = ",\n         ".join(
        f"min(({a} * h + {b}) % {dedup.MINHASH_PRIME}) AS s{i}"
        for i, (a, b) in enumerate(dedup.MINHASH_PARAMS)
    )
    band_selects = "\n  UNION ALL ".join(
        f"SELECT id, {b} AS band, concat_ws(',', s{b*4}, s{b*4+1}, s{b*4+2}, s{b*4+3}) AS band_key FROM sigs"
        for b in range(dedup.LSH_BANDS)
    )
    if max_bucket_size is not None:
        bucket_cte = f""",
bkeep AS (
  SELECT band, band_key FROM bands GROUP BY band, band_key
  HAVING count(*) <= {max_bucket_size}
),
cbands AS (SELECT bands.* FROM bands JOIN bkeep USING (band, band_key))"""
    else:
        bucket_cte = """,
cbands AS (SELECT * FROM bands)"""
    return f""",
hashed AS (SELECT id, {DUCK_HASH.format(c='sh')} AS h FROM sh),
sigs AS (SELECT id, {sig_exprs} FROM hashed GROUP BY id),
bands AS ({band_selects}){bucket_cte},
cands AS (
  SELECT DISTINCT a.id AS l_id, b.id AS r_id
  FROM cbands a JOIN cbands b ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
)"""


def duck_jaccard_sql(min_jac: float, lsh: bool) -> str:
    lsh_ctes = duck_lsh_cand_ctes()
    cand_join = "JOIN cands ON cands.l_id = inter.l_id AND cands.r_id = inter.r_id" if lsh else ""
    return f"""
WITH sh AS ({duck_shingles_cte('documents', 'doc_id', 'text')}){lsh_ctes if lsh else ''},
n AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS l_id, b.id AS r_id, count(*) AS k
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
  GROUP BY 1, 2
),
jac AS (
  SELECT inter.l_id, inter.r_id, CAST(k AS DOUBLE) / (na.n + nb.n - k) AS jac
  FROM inter
  JOIN n na ON na.id = inter.l_id
  JOIN n nb ON nb.id = inter.r_id
  {cand_join}
)
SELECT l_id AS l_doc, r_id AS r_doc, round(jac, 6) AS jac_r
FROM jac WHERE round(jac, 6) >= {min_jac}
"""


def duck_simhash_sql(bits: int = 32) -> str:
    sums = ",\n         ".join(
        f"sum(CASE WHEN ((h >> {j}) & 1) = 1 THEN 1 ELSE -1 END) AS b{j}" for j in range(bits)
    )
    sig = " + ".join(f"(CASE WHEN b{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(bits))
    return f"""
WITH words AS (
  SELECT doc_id AS id, unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS w
  FROM documents
),
hashed AS (SELECT id, {DUCK_HASH.format(c='w')} AS h FROM words WHERE w != ''),
sums AS (SELECT id, {sums} FROM hashed GROUP BY id)
SELECT id AS doc_id, CAST({sig} AS BIGINT) AS simhash FROM sums
"""


@register("dedup_jaccard_docs", duck_jaccard_sql(0.5, lsh=False))
def dedup_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (all pairs sharing a shingle)."""
    docs = load_table(spark, sf_dir, "documents")
    # jaccard_pairs makes three passes over the postings (pair join ×2,
    # set sizes) — persist so shingling runs once.
    postings = cache_registry.track(dedup.shingle_postings(docs, "doc_id", "text"))
    jac = dedup.jaccard_pairs(postings, min_jaccard=0.5)
    return jac.select(
        F.col("l_id").alias("l_doc"),
        F.col("r_id").alias("r_doc"),
        F.round("jac", 6).alias("jac_r"),
    )


@register("dedup_jaccard_prefix_docs", duck_jaccard_sql(0.7, lsh=False))
def dedup_jaccard_prefix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard at t=0.7 via ppjoin PREFIX FILTERING (forced):
    candidates come from each document's short rare-shingle prefix with
    the length filter applied in-join, then are verified exactly. Same
    results as the all-pairs plan; the oracle is threshold-parameterized
    plain SQL. Forced rather than auto because this corpus is low-df
    (Σdf²/Σdf ≈ 11), where auto correctly prefers the plain join — this
    query pins the hot-shingle-corpus plan's correctness."""
    docs = load_table(spark, sf_dir, "documents")
    postings = cache_registry.track(dedup.shingle_postings(docs, "doc_id", "text"))
    jac = dedup.jaccard_pairs(postings, min_jaccard=0.7, use_prefix_filter=True)
    return jac.select(
        F.col("l_id").alias("l_doc"),
        F.col("r_id").alias("r_doc"),
        F.round("jac", 6).alias("jac_r"),
    )


@register("dedup_minhash_lsh_docs", duck_jaccard_sql(0.5, lsh=True))
def dedup_minhash_lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup: banded-signature candidates, exact-Jaccard
    verified. The scale path — pair generation touches only bucket
    collisions, never n²."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_dedup_pairs(docs, "doc_id", "text", min_jaccard=0.5)
    return pairs.select(
        F.col("l_id").alias("l_doc"),
        F.col("r_id").alias("r_doc"),
        F.round("jac", 6).alias("jac_r"),
    )


@register("dedup_simhash_docs", duck_simhash_sql())
def dedup_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signature per document (near-dup clustering key)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs, "doc_id", "text").withColumnRenamed("id", "doc_id")


@register(
    "dedup_embedding_cosine",
    """
SELECT l_vec, r_vec, sim_r FROM (
  SELECT a.vec_id AS l_vec, b.vec_id AS r_vec,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS sim_r
  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
) WHERE sim_r >= 0.35
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label.

    Semantic blocking is Σ block² — quadratic in block size when the
    block vocabulary is fixed (measured 26× at 10× corpus, BASELINE.md);
    kept as the oracle-simple twin. ``dedup_embedding_lsh`` is the
    scale path."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_near_dup_pairs(
        emb, "vec_id", "embedding", block_col="label", min_cosine=0.35
    )
    return pairs.select(
        F.col("l_id").alias("l_vec"),
        F.col("r_id").alias("r_vec"),
        F.round("sim", 6).alias("sim_r"),
    )


def duck_embedding_lsh_dedup_sql(
    num_planes: int = 16, bands: int = 4, num_dims: int = 256, min_cosine: float = 0.35
) -> str:
    """Sign-LSH bucketed embedding dedup, fully unrolled to SQL: the
    md5-derived ±1 hyperplanes make bucket layout engine-portable, so
    even the approximate candidate set is value-checkable. ``num_dims``
    is an upper bound (dims past a vector's length NULL-filter out of
    ``comps``), matching the Spark side's derived-dim plane table."""
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
  SELECT DISTINCT a.id AS l_id, b.id AS r_id
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.id < b.id
)
SELECT l_vec, r_vec, sim_r FROM (
  SELECT c.l_id AS l_vec, c.r_id AS r_vec,
         round(list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
                                      CAST(e2.embedding AS DOUBLE[])), 6) AS sim_r
  FROM cand c
  JOIN embeddings e1 ON e1.vec_id = c.l_id
  JOIN embeddings e2 ON e2.vec_id = c.r_id
) WHERE sim_r >= {min_cosine}
"""


def duck_embedding_ivf_dedup_sql(
    num_centroids: int = 16, nprobe: int = 2, min_cosine: float = 0.35
) -> str:
    """IVF-blocked embedding dedup unrolled to SQL: hash-sampled
    centroids → every vector's top-nprobe centroid assignments →
    same-centroid candidate pairs → exact-cosine verification."""
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
assign AS (SELECT id, c_id FROM nearest WHERE rn <= {nprobe}),
cand AS (
  SELECT DISTINCT a.id AS l_id, b.id AS r_id
  FROM assign a JOIN assign b USING (c_id)
  WHERE a.id < b.id
)
SELECT l_vec, r_vec, sim_r FROM (
  SELECT c.l_id AS l_vec, c.r_id AS r_vec,
         round(list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
                                      CAST(e2.embedding AS DOUBLE[])), 6) AS sim_r
  FROM cand c
  JOIN embeddings e1 ON e1.vec_id = c.l_id
  JOIN embeddings e2 ON e2.vec_id = c.r_id
) WHERE sim_r >= {min_cosine}
"""


def duck_embedding_ivf_capped_sql(
    num_centroids: int = 16,
    nprobe: int = 2,
    min_cosine: float = 0.35,
    cap: int = 25,
    subprobe: int = 2,
) -> str:
    """The hot-cell-capped IVF dedup unrolled to SQL: same centroid
    pick/assignment as the uncapped oracle, then cells above ``cap``
    members are re-quantized in place — md5-ranked sub-centroid pick
    (⌈size/cap⌉ per hot cell), per-member top-``subprobe`` sub-cell
    assignment, pair generation within cold cells and (hot cell,
    sub-cell) blocks — before the exact-cosine verify. ``cap`` must
    equal the operator's max(int(max_cell_fraction·n), 16) at the
    oracle's scale (0.05 × 500 = 25 at sf0.01)."""
    h = DUCK_HASH.format(c="CAST(vec_id AS VARCHAR)")
    h_id = DUCK_HASH.format(c="CAST(id AS VARCHAR)")
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
assign AS (SELECT id, c_id FROM nearest WHERE rn <= {nprobe}),
sizes AS (SELECT c_id, count(*) AS csz FROM assign GROUP BY 1),
asg AS (SELECT a.id, a.c_id, s.csz FROM assign a JOIN sizes s USING (c_id)),
cold AS (
  SELECT 'c|' || CAST(c_id AS VARCHAR) AS blk, id FROM asg WHERE csz <= {cap}
),
hotm AS (
  SELECT a.c_id, a.csz, a.id, CAST(e.embedding AS DOUBLE[]) AS v
  FROM asg a JOIN embeddings e ON e.vec_id = a.id
  WHERE a.csz > {cap}
),
ranked AS (
  SELECT c_id, csz, id, v,
         row_number() OVER (PARTITION BY c_id ORDER BY {h_id}, id) AS srk
  FROM hotm
),
subc AS (
  SELECT c_id, srk, v AS sv FROM ranked
  WHERE srk <= CAST(ceil(csz / {cap}.0) AS BIGINT)
),
scored AS (
  SELECT m.c_id, m.id, s.srk,
         round(list_cosine_similarity(m.v, s.sv), 6) AS ssim
  FROM hotm m JOIN subc s USING (c_id)
),
subasg AS (
  SELECT c_id, id, srk FROM (
    SELECT c_id, id, srk,
           row_number() OVER (PARTITION BY c_id, id ORDER BY ssim DESC, srk) AS rn2
    FROM scored
  ) WHERE rn2 <= {subprobe}
),
blocks AS (
  SELECT blk, id FROM cold
  UNION ALL
  SELECT 's|' || CAST(c_id AS VARCHAR) || '|' || CAST(srk AS VARCHAR) AS blk, id
  FROM subasg
),
cand AS (
  SELECT DISTINCT a.id AS l_id, b.id AS r_id
  FROM blocks a JOIN blocks b USING (blk)
  WHERE a.id < b.id
)
SELECT l_vec, r_vec, sim_r FROM (
  SELECT c.l_id AS l_vec, c.r_id AS r_vec,
         round(list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
                                      CAST(e2.embedding AS DOUBLE[])), 6) AS sim_r
  FROM cand c
  JOIN embeddings e1 ON e1.vec_id = c.l_id
  JOIN embeddings e2 ON e2.vec_id = c.r_id
) WHERE sim_r >= {min_cosine}
"""


@register("dedup_embedding_ivf_capped", duck_embedding_ivf_capped_sql())
def dedup_embedding_ivf_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-7 hot-cell-capped IVF scale path under the FULL oracle
    gate: cells past max_cell_fraction·n are re-quantized with in-cell
    md5-picked secondary centroids before pair generation (the fix for
    the 72.9×-per-10×-step quantizer-skew slope, BASELINE.md). The
    whole pipeline — pick, assign, hot/cold split, sub-centroid rank,
    sub-assignment, block pairs, exact verify — is deterministic, so
    DuckDB reproduces the identical pair set, not just a superset
    bound. At 0.05 × 500 = cap 25, most sf0.01 cells are hot: the
    oracle exercises the sub-split on real data."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_ivf_near_dup_pairs(
        emb, "vec_id", "embedding", min_cosine=0.35, num_centroids=16,
        nprobe=2, max_cell_fraction=0.05,
    )
    return pairs.select(
        F.col("l_id").alias("l_vec"),
        F.col("r_id").alias("r_vec"),
        F.round("sim", 6).alias("sim_r"),
    )


@register("dedup_embedding_ivf", duck_embedding_ivf_dedup_sql())
def dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via IVF blocking (√n-scaled centroid
    count is the operator default; the contract pins 16 centroids /
    nprobe=2 so the oracle SQL is a fixed unrolling) — the O(n^1.5)
    scale path for moderate cosine thresholds."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_ivf_near_dup_pairs(
        emb, "vec_id", "embedding", min_cosine=0.35, num_centroids=16, nprobe=2
    )
    return pairs.select(
        F.col("l_id").alias("l_vec"),
        F.col("r_id").alias("r_vec"),
        F.round("sim", 6).alias("sim_r"),
    )


@register("dedup_embedding_lsh", duck_embedding_lsh_dedup_sql())
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via sign-LSH buckets + exact-cosine
    verification — the 100 TB path: candidates come only from bucket
    collisions (population self-scales with the corpus), never from a
    fixed semantic block vocabulary, and the deterministic hyperplanes
    keep the approximate pipeline fully oracle-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_lsh_near_dup_pairs(
        emb, "vec_id", "embedding", min_cosine=0.35
    )
    return pairs.select(
        F.col("l_id").alias("l_vec"),
        F.col("r_id").alias("r_vec"),
        F.round("sim", 6).alias("sim_r"),
    )


@register(
    "dedup_cluster_docs",
    f"""
WITH RECURSIVE sh AS ({duck_shingles_cte('documents', 'doc_id', 'text')}),
n AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS l_id, b.id AS r_id, count(*) AS k
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
  GROUP BY 1, 2
),
jac AS (
  SELECT inter.l_id, inter.r_id, CAST(k AS DOUBLE) / (na.n + nb.n - k) AS jac
  FROM inter JOIN n na ON na.id = inter.l_id JOIN n nb ON nb.id = inter.r_id
),
pairs AS (SELECT l_id, r_id FROM jac WHERE round(jac, 6) >= 0.5),
e AS (SELECT l_id AS src, r_id AS dst FROM pairs
      UNION ALL SELECT r_id AS src, l_id AS dst FROM pairs),
nodes AS (SELECT doc_id AS id FROM documents),
reach AS (
  SELECT id, id AS lab FROM nodes
  UNION
  SELECT e.dst AS id, reach.lab FROM e JOIN reach ON reach.id = e.src
)
SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id
""",
)
def dedup_cluster_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: Jaccard pairs → connected components (min-label
    propagation). cluster_id = smallest doc_id in the component = the
    canonical keeper; everything else in the cluster is a drop candidate."""
    docs = load_table(spark, sf_dir, "documents")
    postings = cache_registry.track(dedup.shingle_postings(docs, "doc_id", "text"))
    pairs = dedup.jaccard_pairs(postings, min_jaccard=0.5).select("l_id", "r_id")
    nodes = docs.select(F.col("doc_id").alias("id"))
    cc = dedup.connected_components(nodes, pairs)
    return cc.select(F.col("id").alias("doc_id"), "cluster_id")


@register(
    "dedup_remove_docs",
    f"""
WITH RECURSIVE sh AS ({duck_shingles_cte('documents', 'doc_id', 'text')}),
n AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS l_id, b.id AS r_id, count(*) AS k
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
  GROUP BY 1, 2
),
jac AS (
  SELECT inter.l_id, inter.r_id, CAST(k AS DOUBLE) / (na.n + nb.n - k) AS jac
  FROM inter JOIN n na ON na.id = inter.l_id JOIN n nb ON nb.id = inter.r_id
),
pairs AS (SELECT l_id, r_id FROM jac WHERE round(jac, 6) >= 0.5),
e AS (SELECT l_id AS src, r_id AS dst FROM pairs
      UNION ALL SELECT r_id AS src, l_id AS dst FROM pairs),
nodes AS (SELECT doc_id AS id FROM documents),
reach AS (
  SELECT id, id AS lab FROM nodes
  UNION
  SELECT e.dst AS id, reach.lab FROM e JOIN reach ON reach.id = e.src
),
cc AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d JOIN cc ON d.doc_id = cc.doc_id
WHERE cc.doc_id = cc.cluster_id
""",
)
def dedup_remove_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup REMOVAL end-to-end (dedup.remove_near_dups): the corpus
    that SURVIVES dedup — one canonical (smallest-id) document per
    Jaccard-0.5 cluster. EXACT candidate generation (all pairs sharing a
    shingle) — the oracle-checkable small-corpus twin; the composition a
    100 TB pipeline ships is ``dedup_remove_docs_lsh`` below."""
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.remove_near_dups(docs, "doc_id", "text", min_jaccard=0.5)
    return out.select("doc_id", "lang", "n_chars")


@register(
    "dedup_remove_docs_lsh",
    f"""
WITH RECURSIVE sh AS ({duck_shingles_cte('documents', 'doc_id', 'text')}){duck_lsh_cand_ctes(20)},
n AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS l_id, b.id AS r_id, count(*) AS k
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
  GROUP BY 1, 2
),
jac AS (
  SELECT inter.l_id, inter.r_id, CAST(k AS DOUBLE) / (na.n + nb.n - k) AS jac
  FROM inter
  JOIN n na ON na.id = inter.l_id
  JOIN n nb ON nb.id = inter.r_id
  JOIN cands ON cands.l_id = inter.l_id AND cands.r_id = inter.r_id
),
pairs AS (SELECT l_id, r_id FROM jac WHERE round(jac, 6) >= 0.5),
e AS (SELECT l_id AS src, r_id AS dst FROM pairs
      UNION ALL SELECT r_id AS src, l_id AS dst FROM pairs),
nodes AS (SELECT doc_id AS id FROM documents),
reach AS (
  SELECT id, id AS lab FROM nodes
  UNION
  SELECT e.dst AS id, reach.lab FROM e JOIN reach ON reach.id = e.src
),
cc AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d JOIN cc ON d.doc_id = cc.doc_id
WHERE cc.doc_id = cc.cluster_id
""",
)
def dedup_remove_docs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup REMOVAL via the SCALE path: MinHash-LSH candidate
    generation (banded bucket self-join with the max_bucket_size=20
    hot-bucket cap) → exact-Jaccard verification of candidates only →
    connected components → keep the canonical (smallest-id) doc per
    cluster. Every stage is bucketed/bounded — this is the plan a
    1000-executor 100 TB dedup job runs, oracle-pinned end-to-end
    (the DuckDB twin mirrors signatures, banding, the bucket cap, and
    the recursive-CTE component closure)."""
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.remove_near_dups(
        docs, "doc_id", "text", min_jaccard=0.5, use_lsh=True, max_bucket_size=20
    )
    return out.select("doc_id", "lang", "n_chars")


@register(
    "dedup_incremental_docs",
    """
WITH fp AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
  FROM documents
),
hist AS (SELECT DISTINCT f FROM fp WHERE doc_id < 100)
SELECT fp.doc_id AS doc_id, fp.f AS fingerprint
FROM fp
WHERE fp.doc_id >= 100 AND fp.f NOT IN (SELECT f FROM hist)
""",
)
def dedup_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (new-crawl-vs-corpus) dedup: keep only new documents
    whose content fingerprint is absent from the historical set — a LEFT
    ANTI join on the whitespace-normalized md5.  At 100 TB the historical
    side is a fingerprint-only table (one narrow column), bucketable by
    fingerprint so nightly increments join exchange-free; the anti join
    is the streaming-ingest primitive every growing corpus needs."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    fp = docs.select("doc_id", F.md5(norm).alias("fingerprint"))
    hist = fp.where(F.col("doc_id") < 100).select("fingerprint").distinct()
    return fp.where(F.col("doc_id") >= 100).join(hist, "fingerprint", "left_anti").select(
        "doc_id", "fingerprint"
    )


def duck_incremental_near_sql(min_jac: float, split_id: int) -> str:
    """Oracle twin of dedup.incremental_near_dups on the documents table
    split at ``doc_id < split_id`` (historical) vs ``>= split_id`` (new):
    cross-corpus MinHash-LSH candidates, exact-Jaccard verified, NOT-IN
    survivors."""
    sig_exprs = ",\n         ".join(
        f"min(({a} * h + {b}) % {dedup.MINHASH_PRIME}) AS s{i}"
        for i, (a, b) in enumerate(dedup.MINHASH_PARAMS)
    )
    band_selects = "\n  UNION ALL ".join(
        f"SELECT id, {b} AS band, concat_ws(',', s{b*4}, s{b*4+1}, s{b*4+2}, s{b*4+3}) AS band_key FROM sigs"
        for b in range(dedup.LSH_BANDS)
    )
    return f"""
WITH sh AS ({duck_shingles_cte('documents', 'doc_id', 'text')}),
hashed AS (SELECT id, {DUCK_HASH.format(c='sh')} AS h FROM sh),
sigs AS (SELECT id, {sig_exprs} FROM hashed GROUP BY id),
bands AS ({band_selects}),
cpairs AS (
  SELECT DISTINCT a.id AS n_id, b.id AS h_id
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.id >= {split_id} AND b.id < {split_id}
),
n AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT cp.n_id, cp.h_id, count(*) AS k
  FROM cpairs cp
  JOIN sh a ON a.id = cp.n_id
  JOIN sh b ON b.id = cp.h_id AND b.sh = a.sh
  GROUP BY 1, 2
),
dropped AS (
  SELECT DISTINCT i.n_id
  FROM inter i JOIN n na ON na.id = i.n_id JOIN n nb ON nb.id = i.h_id
  WHERE round(CAST(i.k AS DOUBLE) / (na.n + nb.n - i.k), 6) >= {min_jac}
)
SELECT doc_id, lang FROM documents
WHERE doc_id >= {split_id} AND doc_id NOT IN (SELECT n_id FROM dropped)
"""


@register("dedup_incremental_near_docs", duck_incremental_near_sql(0.5, 100))
def dedup_incremental_near_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup dedup (new-crawl-vs-corpus at Jaccard ≥ 0.5):
    the near-dup generalization of ``dedup_incremental_docs``. Per-row
    MinHash signatures (zero shuffle) → banded cross-corpus candidates →
    in-expression exact verify → anti join. The historical band table is
    the precompute a 100 TB corpus maintains for ingest-time dedup; the
    streaming face is stream_ops.stream_incremental_near_dedup (same
    plan through a stream-static join, equivalence-tested)."""
    docs = load_table(spark, sf_dir, "documents")
    surv = dedup.incremental_near_dups(
        docs.where(F.col("doc_id") >= 100),
        docs.where(F.col("doc_id") < 100),
        "doc_id",
        "text",
        min_jaccard=0.5,
    )
    return surv.select("doc_id", "lang")


@register(
    "dedup_passages_docs",
    """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
p AS (
  SELECT doc_id, CAST(k AS INT) AS pidx,
         array_to_string(w[(k*16+1):(k*16+16)], ' ') AS ptext
  FROM (SELECT doc_id, w, unnest(range(CAST(ceil(len(w)/16.0) AS BIGINT))) AS k
        FROM w)
),
r AS (
  SELECT doc_id, pidx, ptext,
         row_number() OVER (PARTITION BY ptext ORDER BY doc_id, pidx) AS rn
  FROM p
),
kept AS (
  SELECT doc_id, string_agg(ptext, ' ' ORDER BY pidx) AS cleaned_text,
         count(*) AS n_kept
  FROM r WHERE rn = 1 GROUP BY doc_id
),
tot AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) > 0
              THEN CAST(ceil(len(string_split_regex(trim(text), '\\s+'))/16.0)
                        AS BIGINT)
              ELSE 0 END AS n_passages
  FROM documents
)
SELECT t.doc_id AS doc_id, coalesce(cleaned_text, '') AS cleaned_text,
       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
       CAST(t.n_passages - coalesce(n_kept, 0) AS BIGINT) AS n_dropped
FROM tot t LEFT JOIN kept ON t.doc_id = kept.doc_id
""",
)
def dedup_passages_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup (dedup.remove_duplicate_passages): C4's
    duplicated-span removal re-expressed at 16-word passage granularity
    — keep the corpus-wide first occurrence of every distinct passage,
    rebuild documents from survivors. Complements whole-document dedup:
    boilerplate spans shared across otherwise-distinct pages are exactly
    what document-level near-dup keeps. Two narrow shuffles: the passage
    md5 window (WindowGroupLimit rank-1 filter) and the per-document
    re-aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.remove_duplicate_passages(docs, "doc_id", "text", passage_words=16)


@register(
    "dedup_substring_spans",
    r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
wins AS (
  SELECT doc_id, i, array_to_string(w[(i+1):(i+8)], ' ') AS g
  FROM (SELECT doc_id, w, unnest(range(len(w) - 7)) AS i
        FROM w WHERE len(w) >= 8)
),
ranked AS (
  SELECT doc_id, i,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, i) AS rn,
         count(*) OVER (PARTITION BY g) AS c
  FROM wins
),
dups AS (SELECT doc_id, i FROM ranked WHERE c > 1 AND rn > 1),
isl AS (
  SELECT doc_id, i,
         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM dups
)
SELECT doc_id,
       CAST(min(i) AS BIGINT) AS span_start,
       CAST(max(i) + 7 AS BIGINT) AS span_end,
       CAST(max(i) + 7 - min(i) + 1 AS BIGINT) AS span_words,
       CAST(count(*) AS BIGINT) AS n_windows
FROM isl
GROUP BY doc_id, grp
""",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal exact-repeat substring spans at arbitrary word offsets
    (dedup.duplicate_substring_spans, 8-word windows): the stride-1
    generalization of passage dedup — the ExactSubstr treatment of Lee
    et al. 2022 re-expressed as sliding hashed windows + gaps-and-
    islands run merging. First-occurrence detection is a map-side-
    combining groupBy on the window md5 (skew-safe for 10⁹×-repeated
    boilerplate), not a window rank; the oracle says the same thing
    with two window functions and a gaps-and-islands group."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicate_substring_spans(docs, "doc_id", "text", window_words=8)


@register(
    "dedup_remove_substrings",
    r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
wins AS (
  SELECT doc_id, i, array_to_string(w[(i+1):(i+8)], ' ') AS g
  FROM (SELECT doc_id, w, unnest(range(len(w) - 7)) AS i
        FROM w WHERE len(w) >= 8)
),
ranked AS (
  SELECT doc_id, i,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, i) AS rn,
         count(*) OVER (PARTITION BY g) AS c
  FROM wins
),
dups AS (SELECT doc_id, i FROM ranked WHERE c > 1 AND rn > 1),
isl AS (
  SELECT doc_id, i,
         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM dups
),
spans AS (
  SELECT doc_id, min(i) AS s, max(i) + 7 AS e
  FROM isl GROUP BY doc_id, grp
),
docw AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) > 0
              THEN string_split_regex(trim(text), '\s+')
              ELSE CAST([] AS VARCHAR[]) END AS w
  FROM documents
),
pos AS (
  SELECT doc_id, j, w[j+1] AS word
  FROM (SELECT doc_id, w, unnest(range(len(w))) AS j
        FROM docw WHERE len(w) > 0)
),
kept AS (
  SELECT p.doc_id, p.j, p.word
  FROM pos p
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = p.doc_id AND p.j BETWEEN s.s AND s.e)
),
agg AS (
  SELECT doc_id, string_agg(word, ' ' ORDER BY j) AS cleaned_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id AS doc_id,
       coalesce(a.cleaned_text, '') AS cleaned_text,
       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(len(d.w) - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
FROM docw d LEFT JOIN agg a ON d.doc_id = a.doc_id
""",
)
def dedup_remove_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first substring removal (dedup.remove_duplicate_substrings):
    cut every duplicated ≥8-word span out of its document and rebuild
    the text from surviving words — the removal face of
    dedup_substring_spans, mirroring dedup_passages_docs' output
    contract (one row per document, word-counted n_kept/n_dropped).
    The cut is a per-row filter HOF over the word array after one join
    against the per-document span arrays — the corpus words never
    explode through a shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.remove_duplicate_substrings(docs, "doc_id", "text", window_words=8)


@register(
    "dedup_remove_embeddings",
    f"""
WITH RECURSIVE cent AS (
  SELECT e.vec_id AS c_id, CAST(e.embedding AS DOUBLE[]) AS cv
  FROM embeddings e
  JOIN (
    SELECT vec_id FROM (SELECT vec_id,
           {DUCK_HASH.format(c="CAST(vec_id AS VARCHAR)")} AS h FROM embeddings)
    ORDER BY h, vec_id LIMIT 16
  ) s USING (vec_id)
),
nearest AS (
  SELECT e.vec_id AS id, c.c_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                 c.cv), 6) DESC, c.c_id) AS rn
  FROM embeddings e CROSS JOIN cent c
),
assign AS (SELECT id, c_id FROM nearest WHERE rn <= 2),
cand AS (
  SELECT DISTINCT a.id AS l_id, b.id AS r_id
  FROM assign a JOIN assign b USING (c_id)
  WHERE a.id < b.id
),
pairs AS (
  SELECT l_id, r_id FROM (
    SELECT c.l_id, c.r_id,
           round(list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
                                        CAST(e2.embedding AS DOUBLE[])), 6) AS sim
    FROM cand c
    JOIN embeddings e1 ON e1.vec_id = c.l_id
    JOIN embeddings e2 ON e2.vec_id = c.r_id
  ) WHERE sim >= 0.35
),
e AS (SELECT l_id AS src, r_id AS dst FROM pairs
      UNION ALL SELECT r_id AS src, l_id AS dst FROM pairs),
nodes AS (SELECT vec_id AS id FROM embeddings),
reach AS (
  SELECT id, id AS lab FROM nodes
  UNION
  SELECT e.dst AS id, reach.lab FROM e JOIN reach ON reach.id = e.src
),
cc AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id)
SELECT emb.vec_id AS vec_id, emb.label AS label
FROM embeddings emb JOIN cc ON emb.vec_id = cc.id
WHERE cc.id = cc.cluster_id
""",
)
def dedup_remove_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic removal end-to-end
    (dedup.remove_embedding_near_dups): IVF-blocked cosine pairs (16
    centroids, nprobe=2, t=0.35 — the dedup_embedding_ivf contract
    settings) → connected components → one canonical vector per
    semantic cluster. The embedding-space twin of dedup_remove_docs:
    paraphrases and re-renders that text dedup can't see collapse
    here. Oracle mirrors blocking, verification, and the
    recursive-CTE component closure."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = dedup.remove_embedding_near_dups(
        emb,
        "vec_id",
        "embedding",
        min_cosine=0.35,
        num_centroids=16,
        nprobe=2,
    )
    return out.select("vec_id", "label")



@register(
    "dedup_containment_docs",
    f"""
WITH sh AS ({duck_shingles_cte('documents', 'doc_id', 'text', 5)}),
sz AS (SELECT id, count(*) AS src_size FROM sh GROUP BY id),
ov AS (
  SELECT a.id AS src_id, b.id AS dst_id, count(*) AS overlap
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id <> b.id
  GROUP BY 1, 2
)
SELECT src_id, dst_id, overlap, sz.src_size,
       CAST((overlap * 1000000) // sz.src_size AS BIGINT) AS contain_micro
FROM ov JOIN sz ON sz.id = ov.src_id
WHERE overlap * 100 >= 80 * sz.src_size
""",
)
def dedup_containment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment near-dups (>=80% of the source's 5-gram
    shingles inside the target) — the asymmetric dedup Jaccard misses
    when an excerpt lives inside a superset document.  Source-side-only
    prefix filtering + map-side array_intersect verification
    (operators/dedup.py:containment_pairs); the oracle runs the full
    postings self-join the prefix filter exists to avoid."""
    from polars_sim_spark.operators import dedup as dedup_ops

    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.containment_pairs(
        docs, "doc_id", "text", n=5, threshold_pct=80
    ).select("src_id", "dst_id", "overlap", "src_size", "contain_micro")
