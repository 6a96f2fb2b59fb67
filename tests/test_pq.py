"""Product quantization: codebook determinism, encode correctness vs a
numpy reference, and recall against the exact brute-force baseline."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from polars_sim_spark.operators import pq
from polars_sim_spark.operators.similarity import ann_topk_bruteforce


def test_fit_deterministic_and_shaped(spark, sf_small):
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    cb1 = pq.pq_fit(emb, "vec_id", "embedding", m=8, k=16, iters=2)
    cb2 = pq.pq_fit(emb, "vec_id", "embedding", m=8, k=16, iters=2)
    assert cb1.shape == (8, 16, 8)
    assert np.array_equal(cb1, cb2)


def test_dim_not_divisible_raises(spark, sf_small):
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    with pytest.raises(ValueError, match="not divisible"):
        pq.pq_fit(emb, "vec_id", "embedding", m=7)


def test_empty_corpus_raises(spark, sf_small):
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet").where(F.lit(False))
    with pytest.raises(ValueError, match="empty corpus"):
        pq.pq_fit(emb, "vec_id", "embedding", m=8)


def test_encode_matches_numpy_reference(spark, sf_small):
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet").limit(50)
    cb = pq.pq_fit(emb, "vec_id", "embedding", m=8, k=16, iters=1)
    got = {r["id"]: list(r["codes"]) for r in pq.pq_encode(emb, "vec_id", "embedding", cb).collect()}
    rows = emb.select("vec_id", "embedding").collect()
    m, k, dsub = cb.shape
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        n = np.linalg.norm(v)
        if n > 0:
            v = v / n
        ref = []
        for j in range(m):
            sv = v[j * dsub : (j + 1) * dsub]
            # the kernel's grid-committed form: round(||c||² − 2 v·c, 6)
            d2 = np.round((cb[j] * cb[j]).sum(axis=1) - 2.0 * (cb[j] @ sv), 6)
            ref.append(int(d2.argmin()))
        assert got[r["vec_id"]] == ref, r["vec_id"]


def test_pq_recall_vs_bruteforce(spark, sf_small):
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    exact = ann_topk_bruteforce(emb, qs, k=5)
    truth = {(r["q_id"], r["n_id"]) for r in exact.collect()}
    cb = pq.pq_fit(emb, "vec_id", "embedding", m=8, k=16, iters=3)
    got = {
        (r["q_id"], r["n_id"])
        for r in pq.pq_ann_topk(emb, qs, cb, k=5, rerank=10).collect()
    }
    recall = len(truth & got) / len(truth)
    # 8x16 codebooks on 64-dim embeddings with a 10x rerank shortlist;
    # measured ~0.8+ on the testdata — pin a floor with margin.
    assert recall >= 0.5, recall
    # returned sims are EXACT cosines: every overlapping pair agrees
    exact_sims = {(r["q_id"], r["n_id"]): r["sim"] for r in exact.collect()}
    for r in pq.pq_ann_topk(emb, qs, cb, k=5, rerank=10).collect():
        key = (r["q_id"], r["n_id"])
        if key in exact_sims:
            assert r["sim"] == exact_sims[key]


def test_pq_serving_from_stored_codes(spark, sf_small):
    """The serving path: codes materialized once (32x smaller than the
    vectors), reread, and passed to pq_ann_topk — identical results to
    encoding on the fly."""
    import shutil
    import tempfile

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cb = pq.pq_fit(emb, "vec_id", "embedding", m=8, k=16, iters=2)
    d = tempfile.mkdtemp(prefix="pss_pq_")
    try:
        pq.pq_encode(emb, "vec_id", "embedding", cb).write.mode("overwrite").parquet(d)
        stored = spark.read.parquet(d)
        live = pq.pq_ann_topk(emb, qs, cb, k=5, rerank=4)
        served = pq.pq_ann_topk(emb, qs, cb, k=5, rerank=4, codes=stored)
        assert sorted(map(tuple, live.collect())) == sorted(map(tuple, served.collect()))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_ivfpq_index_serving(spark, sf_small):
    """IVF-PQ lake layout: partition pruning to probed cells + COLUMN
    pruning for the ADC pass (raw vectors stay on disk until rerank),
    with a recall floor against the exact-IVF serving path on the same
    probes."""
    import shutil
    import tempfile

    from polars_sim_spark.operators.similarity import (
        ann_topk_ivf_prebuilt,
        materialize_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    d1 = tempfile.mkdtemp(prefix="pss_ivfpq_")
    d2 = tempfile.mkdtemp(prefix="pss_ivfref_")
    try:
        pq.materialize_ivfpq_index(
            emb, d1, num_centroids=8, m=8, k_codes=16, pq_iters=2
        )
        out = pq.ann_topk_ivfpq_prebuilt(
            spark, d1, qs, k=5, nprobe=3, rerank=10
        )
        rows = out.collect()
        assert len(rows) > 0
        got = {(r["q_id"], r["n_id"]) for r in rows}

        materialize_ivf_index(emb, d2, num_centroids=8)
        exact = ann_topk_ivf_prebuilt(spark, d2, qs, k=5, nprobe=3)
        truth = {(r["q_id"], r["n_id"]) for r in exact.collect()}
        recall = len(truth & got) / len(truth)
        assert recall >= 0.5, recall
        # overlapping pairs carry identical EXACT sims
        tsims = {(r["q_id"], r["n_id"]): r["sim"] for r in exact.collect()}
        for r in rows:
            if (r["q_id"], r["n_id"]) in tsims:
                assert r["sim"] == tsims[(r["q_id"], r["n_id"])]
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(d2, ignore_errors=True)


def test_ivfpq_adc_scan_prunes_vector_column(spark, sf_small):
    """The ADC pass's parquet scan must NOT read the embedding column —
    the whole point of storing codes next to vectors is that scoring
    touches ~3% of the bytes. Asserted on the physical plan's
    ReadSchema."""
    import shutil
    import tempfile

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    d = tempfile.mkdtemp(prefix="pss_ivfpq_plan_")
    try:
        pq.materialize_ivfpq_index(emb, d, num_centroids=4, m=8, k_codes=16, pq_iters=1)
        out = pq.ann_topk_ivfpq_prebuilt(spark, d, qs, k=3, nprobe=2, rerank=4)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # two scans of the index: the ADC scan (codes, no embedding) and
        # the rerank scan (embedding). Find all ReadSchemas of the index
        # path and assert at least one excludes the vector column.
        import re
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        index_scans = [s for s in schemas if "codes" in s or "embedding" in s]
        assert any("codes" in s and "embedding" not in s for s in index_scans), schemas
        assert any("embedding" in s and "codes" not in s for s in index_scans), schemas
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_prebuilt_contract_rows_serve_from_committed_index(spark, sf_small):
    """The round-7 serving contract rows (ann_topk_pq_prebuilt /
    ann_topk_ivf_kmeans_prebuilt) build-if-missing into the committed
    indexes/<sf>/ layout and return k rows per query with exact rounded
    cosines. Cross-engine value equality is pinned by the DuckDB oracle
    (tools/crosscheck.py, CROSSCHECK_r07.json); here: shape, bounds,
    and idempotent reuse of the stored index (second call must not
    rebuild — same rows back)."""
    from polars_sim_spark import queries as q

    out1 = q.QUERIES["ann_topk_pq_prebuilt"](spark, sf_small).collect()
    assert len(out1) == 10 * 5  # 10 queries x k=5 (500-row corpus: always full)
    assert all(-1.0 <= r["sim_r"] <= 1.0 for r in out1)
    out2 = q.QUERIES["ann_topk_pq_prebuilt"](spark, sf_small).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    out3 = q.QUERIES["ann_topk_ivf_kmeans_prebuilt"](spark, sf_small).collect()
    assert len(out3) == 20 * 5
    per_q = {}
    for r in out3:
        per_q.setdefault(r["q_id"], []).append(r["n_id"])
    assert all(len(set(v)) == 5 for v in per_q.values())


def test_ivfpq_distributed_query_mode_equivalence(spark, sf_small):
    """query_mode='distributed' (grouped Arrow kernel, no driver collect
    of query vectors) must return EXACTLY the driver-LUT path's rows —
    same int64 micro-unit ADC grid, same tiebreaks — and the auto mode
    must flip to it past max_driver_queries instead of raising."""
    import shutil
    import tempfile

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    d = tempfile.mkdtemp(prefix="pss_ivfpq_dist_")
    try:
        pq.materialize_ivfpq_index(emb, d, num_centroids=8, m=8, k_codes=16, pq_iters=2)
        drv = sorted(map(tuple, pq.ann_topk_ivfpq_prebuilt(
            spark, d, qs, k=5, nprobe=3, rerank=6, query_mode="driver"
        ).collect()))
        dist = sorted(map(tuple, pq.ann_topk_ivfpq_prebuilt(
            spark, d, qs, k=5, nprobe=3, rerank=6, query_mode="distributed"
        ).collect()))
        assert drv == dist and len(drv) > 0
        # auto past the ceiling routes to distributed (not an error)
        auto = sorted(map(tuple, pq.ann_topk_ivfpq_prebuilt(
            spark, d, qs, k=5, nprobe=3, rerank=6,
            query_mode="auto", max_driver_queries=3,
        ).collect()))
        assert auto == drv
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_ivfpq_residual_distributed_equivalence(spark, sf_small):
    """Residual layouts add the per-(query, cell) centroid offset inside
    the grouped kernel — both modes must still agree exactly."""
    import shutil
    import tempfile

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    d = tempfile.mkdtemp(prefix="pss_respq_dist_")
    try:
        pq.materialize_ivfpq_index(
            emb, d, num_centroids=8, m=8, k_codes=16, pq_iters=1, residual=True
        )
        drv = sorted(map(tuple, pq.ann_topk_ivfpq_prebuilt(
            spark, d, qs, k=5, nprobe=4, rerank=6, query_mode="driver"
        ).collect()))
        dist = sorted(map(tuple, pq.ann_topk_ivfpq_prebuilt(
            spark, d, qs, k=5, nprobe=4, rerank=6, query_mode="distributed"
        ).collect()))
        assert drv == dist and len(drv) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_pq_ann_topk_driver_query_guard(spark, sf_small):
    """pq_ann_topk collects the query batch for its LUT broadcast; past
    max_driver_queries it must refuse with a pointer to the distributed
    serving path instead of silently OOMing the driver."""
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    cb = pq.pq_fit(emb, "vec_id", "embedding", m=8, k=16, iters=1)
    with pytest.raises(ValueError, match="distributed"):
        pq.pq_ann_topk(emb, qs, cb, k=3, max_driver_queries=4)


def test_ivfpq_residual_layout(spark, sf_small):
    """residual=True round-trips through _meta, serves exact sims on
    overlap with the exact-IVF path, and is deterministic. (Recall on
    the synthetic testdata is WORSE than plain — an honest measured
    property of unclustered data, recorded in BASELINE.md — so the
    floor here is loose and the real pins are exactness + mode
    detection.)"""
    import shutil
    import tempfile

    from polars_sim_spark.operators.similarity import (
        ann_topk_ivf_prebuilt,
        materialize_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    d1 = tempfile.mkdtemp(prefix="pss_respq_")
    d2 = tempfile.mkdtemp(prefix="pss_resref_")
    try:
        pq.materialize_ivfpq_index(
            emb, d1, num_centroids=8, m=8, k_codes=16, pq_iters=2, residual=True
        )
        meta = spark.read.parquet(d1 + "/_meta").collect()
        assert meta[0]["residual"] is True
        out1 = sorted(map(tuple, pq.ann_topk_ivfpq_prebuilt(
            spark, d1, qs, k=5, nprobe=4, rerank=10
        ).collect()))
        out2 = sorted(map(tuple, pq.ann_topk_ivfpq_prebuilt(
            spark, d1, qs, k=5, nprobe=4, rerank=10
        ).collect()))
        assert out1 == out2  # deterministic serving
        assert len(out1) > 0

        materialize_ivf_index(emb, d2, num_centroids=8)
        exact = {
            (r["q_id"], r["n_id"]): r["sim"]
            for r in ann_topk_ivf_prebuilt(spark, d2, qs, k=5, nprobe=4).collect()
        }
        for q_id, n_id, sim in out1:
            if (q_id, n_id) in exact:
                assert sim == exact[(q_id, n_id)]  # rerank sims are exact
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(d2, ignore_errors=True)


def test_load_index_artifacts_missing_vs_broken_meta(spark, sf_small, tmp_path):
    """A layout without ``_meta`` is a pre-residual layout and loads with
    residual=False; a ``_meta`` that exists but cannot be read is a
    broken layout and must raise instead of silently reading as
    residual=False."""
    import shutil

    from pyspark.errors import AnalysisException

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    root = str(tmp_path / "idx")
    pq.materialize_ivfpq_index(
        emb, root, num_centroids=8, m=8, k_codes=16, pq_iters=2, residual=True
    )
    assert pq._load_index_artifacts(spark, root)[2] is True

    shutil.rmtree(root + "/_meta")
    cent_rows, cb, residual = pq._load_index_artifacts(spark, root)
    assert residual is False
    assert len(cent_rows) == 8 and cb.shape[:2] == (8, 16)

    (tmp_path / "idx" / "_meta").mkdir()
    with pytest.raises(AnalysisException):
        pq._load_index_artifacts(spark, root)


def test_ivfpq_append_equals_pinned_rebuild(spark, sf_small, tmp_path):
    """Incremental maintenance contract (VERDICT r7 #3): build on 90% of
    the corpus, append the held-out 10% with the STORED quantizers, and
    the layout must be row-identical (ids, cells, codes, vnorm) to a
    full materialize over the union pinned to the same index's
    artifacts — and serving from the appended index equals serving from
    the pinned rebuild. Also pins the maintenance-cost claim: the append
    never rewrites pre-existing cell files (same name+size+mtime after),
    and its job plan reads only the new rows + metadata sidecars."""
    import os

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    old = emb.where(F.col("vec_id") % 10 != 0)
    new = emb.where(F.col("vec_id") % 10 == 0)
    inc, reb = str(tmp_path / "inc"), str(tmp_path / "reb")
    pq.materialize_ivfpq_index(old, inc, num_centroids=8, m=8, k_codes=16, pq_iters=2)

    def cell_files(root):
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            if "/c_id=" not in dirpath.replace(root, ""):
                continue
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    st = os.stat(p)
                    out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = cell_files(inc)

    # plan hygiene: the rows the append writes scan ONLY the new batch —
    # no c_id= data path from the stored index appears in the scan
    cent_rows, cb, residual = pq._load_index_artifacts(spark, inc)
    plan = pq._index_rows(
        new, cent_rows, cb, residual, "vec_id", "embedding"
    )._jdf.queryExecution().executedPlan().toString()
    assert "c_id=" not in plan

    pq.append_to_ivfpq_index(new, inc)
    after = cell_files(inc)
    for p, sig in before.items():
        assert after[p] == sig, f"pre-existing cell file rewritten: {p}"
    assert len(after) > len(before)

    # full rebuild over the union under the SAME stored quantizers
    pq.materialize_ivfpq_index(emb, reb, from_index=inc)
    read = lambda p: sorted(  # noqa: E731
        (r["vec_id"], r["c_id"], tuple(r["codes"]), round(r["vnorm"], 9))
        for r in spark.read.parquet(p).select("vec_id", "c_id", "codes", "vnorm").collect()
    )
    assert read(inc) == read(reb)

    qs = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    serve = lambda p: sorted(  # noqa: E731
        map(tuple, pq.ann_topk_ivfpq_prebuilt(spark, p, qs, k=5, nprobe=3).collect())
    )
    assert serve(inc) == serve(reb)


def test_ivfpq_compaction_preserves_content(spark, sf_small, tmp_path):
    """OPTIMIZE after appends: multi-file cells collapse to one file
    each, index content and serving results are unchanged."""
    import os

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    path = str(tmp_path / "idx")
    pq.materialize_ivfpq_index(
        emb.where(F.col("vec_id") % 3 == 0), path, num_centroids=8, m=8, k_codes=16,
        pq_iters=1,
    )
    pq.append_to_ivfpq_index(emb.where(F.col("vec_id") % 3 == 1), path)
    pq.append_to_ivfpq_index(emb.where(F.col("vec_id") % 3 == 2), path)

    read = lambda: sorted(  # noqa: E731
        (r["vec_id"], r["c_id"], tuple(r["codes"]))
        for r in spark.read.parquet(path).select("vec_id", "c_id", "codes").collect()
    )
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    serve = lambda: sorted(  # noqa: E731
        map(tuple, pq.ann_topk_ivfpq_prebuilt(spark, path, qs, k=3, nprobe=3).collect())
    )
    before_rows, before_serve = read(), serve()
    stats = pq.compact_ivfpq_cells(spark, path)
    assert stats["cells_compacted"] > 0
    assert stats["files_after"] == stats["cells_compacted"]
    assert stats["files_before"] > stats["files_after"]
    # every multi-file cell is now a single file
    for d in os.listdir(path):
        if d.startswith("c_id="):
            n = len([f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")])
            assert n == 1, (d, n)
    assert read() == before_rows
    assert serve() == before_serve


def test_ivfpq_compaction_crash_recovery(spark, sf_small, tmp_path):
    """Directory-rename crash safety: simulate both interruption points
    of the per-cell swap and assert the next compact() restores the cell
    to a complete copy (old or new), never empty or half."""
    import os
    import shutil

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    path = str(tmp_path / "idx")
    pq.materialize_ivfpq_index(
        emb.where(F.col("vec_id") % 2 == 0), path, num_centroids=4, m=8, k_codes=16,
        pq_iters=1,
    )
    pq.append_to_ivfpq_index(emb.where(F.col("vec_id") % 2 == 1), path)
    read = lambda: sorted(  # noqa: E731
        (r["vec_id"], r["c_id"], tuple(r["codes"]))
        for r in spark.read.parquet(path).select("vec_id", "c_id", "codes").collect()
    )
    before = read()
    cells = sorted(d for d in os.listdir(path) if d.startswith("c_id="))
    assert len(cells) >= 2

    # Crash point 1: old renamed aside, complete replacement staged but
    # not yet moved in (the cell dir is missing).
    victim = cells[0]
    os.makedirs(os.path.join(path, "_compact_old"), exist_ok=True)
    spark.read.parquet(os.path.join(path, victim)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "_compact_tmp", victim))
    os.rename(os.path.join(path, victim), os.path.join(path, "_compact_old", victim))
    assert not os.path.isdir(os.path.join(path, victim))

    # Crash point 2: replacement staging was interrupted (no _SUCCESS),
    # old copy moved aside — recovery must roll BACK.
    victim2 = cells[1]
    tmp2 = os.path.join(path, "_compact_tmp", victim2)
    os.makedirs(tmp2)
    with open(os.path.join(tmp2, "part-borked.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    os.makedirs(os.path.join(path, "_compact_old"), exist_ok=True)
    shutil.move(os.path.join(path, victim2), os.path.join(path, "_compact_old", victim2))

    stats = pq.compact_ivfpq_cells(spark, path)
    assert read() == before  # content identical after recovery + compact
    assert not os.path.isdir(os.path.join(path, "_compact_tmp"))
    assert not os.path.isdir(os.path.join(path, "_compact_old"))
    for d in os.listdir(path):
        if d.startswith("c_id="):
            files = [
                f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")
            ]
            assert files, f"cell {d} lost its inverted list"
    assert stats["cells_compacted"] >= 0
