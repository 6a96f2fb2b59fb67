"""Property-based invariants tying the BUCKETED scale paths to their
exact twins (VERDICT.md round 3, task #6): BASELINE.md measures recall
on one corpus; these tests make the containment relations hold on
hypothesis-generated corpora.

Invariants (both follow from "bucketing can only DROP candidate pairs,
verification is exact"):

* MinHash-LSH pair recall: every LSH-surfaced pair is an exact-Jaccard
  pair at the same threshold, with the identical jac value — and the
  LSH REMOVAL therefore keeps a SUPERSET of the exact removal's
  survivors (subgraph components refine exact components; each exact
  component's canonical min-id survives either way).
* IVF embedding pair recall: every IVF-surfaced pair is an exact
  all-pairs cosine pair with the identical sim; probing EVERY centroid
  list (nprobe = num_centroids) recovers the exact pair set in full.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from polars_sim_spark.operators import dedup

# Round 15: this module is the heavyweight hypothesis tier (~240 s of
# suite wall — dozens of full operator pipelines per example); it runs
# in the `slow` lane (`pytest tests/ -m slow`) so the driver's default
# verification lane completes inside its capture window (pytest.ini).
pytestmark = pytest.mark.slow

VOCAB = ["alpha", "beta", "gamma", "delta"]

docs_strategy = st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=0, max_size=8).map(" ".join),
    min_size=2,
    max_size=10,
)


def _pairs(df):
    return {
        (r["l_id"], r["r_id"]): round(r["jac"] if "jac" in df.columns else r["sim"], 9)
        for r in df.collect()
    }


@given(docs=docs_strategy, min_jaccard=st.sampled_from([0.3, 0.6]))
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_lsh_pairs_subset_of_exact_and_removal_superset(spark, docs, min_jaccard):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(docs)], "doc_id long, text string"
    )
    postings = dedup.shingle_postings(df, "doc_id", "text")
    exact = _pairs(dedup.jaccard_pairs(postings, min_jaccard=min_jaccard))
    lsh = _pairs(
        dedup.minhash_lsh_dedup_pairs(
            df, "doc_id", "text", min_jaccard=min_jaccard
        )
    )
    # Pair containment with identical verified values.
    assert set(lsh) <= set(exact), (docs, min_jaccard)
    for p, jac in lsh.items():
        assert jac == pytest.approx(exact[p], abs=1e-9)

    exact_keep = {
        r["doc_id"]
        for r in dedup.remove_near_dups(
            df, "doc_id", "text", min_jaccard=min_jaccard
        ).collect()
    }
    lsh_keep = {
        r["doc_id"]
        for r in dedup.remove_near_dups(
            df, "doc_id", "text", min_jaccard=min_jaccard, use_lsh=True
        ).collect()
    }
    assert exact_keep <= lsh_keep, (docs, min_jaccard)


vectors_strategy = st.lists(
    st.lists(
        st.integers(min_value=-2, max_value=2).map(float), min_size=3, max_size=3
    ),
    min_size=2,
    max_size=10,
)


@given(vecs=vectors_strategy, nprobe=st.sampled_from([1, 2]))
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_ivf_pairs_subset_of_exact_and_full_probe_equality(spark, vecs, nprobe):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    num_centroids = min(4, len(vecs))
    exact = _pairs(
        dedup.embedding_near_dup_pairs(df, "vec_id", "embedding", min_cosine=0.35)
    )
    ivf = _pairs(
        dedup.embedding_ivf_near_dup_pairs(
            df,
            "vec_id",
            "embedding",
            min_cosine=0.35,
            num_centroids=num_centroids,
            nprobe=nprobe,
        )
    )
    assert set(ivf) <= set(exact), (vecs, nprobe)
    for p, sim in ivf.items():
        assert sim == pytest.approx(exact[p], abs=1e-9)

    # Probing every list makes candidate generation total: IVF == exact.
    full = _pairs(
        dedup.embedding_ivf_near_dup_pairs(
            df,
            "vec_id",
            "embedding",
            min_cosine=0.35,
            num_centroids=num_centroids,
            nprobe=num_centroids,
        )
    )
    assert set(full) == set(exact), (vecs,)


def test_ivf_hot_cell_cap_containment(spark, sf_small):
    """The hot-cell cap (max_cell_fraction) re-quantizes oversized cells
    with in-cell secondary centroids before pair generation. Invariants:
    capped candidates ⊆ uncapped candidates at the same threshold with
    identical verified sims (the cap can only DROP candidates — exact
    verification is untouched), the cap actually engages on this corpus
    (hot cells exist; candidate volume shrinks), and the capped path is
    deterministic."""
    df = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    kw = dict(min_cosine=0.35, num_centroids=16, nprobe=2)
    uncapped = _pairs(
        dedup.embedding_ivf_near_dup_pairs(df, "vec_id", "embedding", **kw)
    )
    capped = _pairs(
        dedup.embedding_ivf_near_dup_pairs(
            df, "vec_id", "embedding", max_cell_fraction=0.05, **kw
        )
    )
    # cap = 0.05 * 500 = 25 < the ~62-member average cell, so the split
    # path must actually engage — assert hot cells exist rather than
    # that verified pairs shrink (on this corpus recall is measured
    # 1.0: every dropped candidate was below threshold anyway).
    from polars_sim_spark.operators.similarity import (
        nearest_centroid_assignments,
        pick_centroids,
    )

    cents = pick_centroids(df, "vec_id", "embedding", 16).collect()
    cents.sort(key=lambda r: r["c_id"])
    sizes = (
        nearest_centroid_assignments(
            df, id_col="vec_id", vec_col="embedding", cent_rows=cents,
        )
        .groupBy("c_id")
        .count()
        .collect()
    )
    assert max(r["count"] for r in sizes) > 25, sizes
    assert set(capped) <= set(uncapped)
    assert len(capped) > 0
    for p, sim in capped.items():
        assert sim == pytest.approx(uncapped[p], abs=1e-9)
    capped2 = _pairs(
        dedup.embedding_ivf_near_dup_pairs(
            df, "vec_id", "embedding", max_cell_fraction=0.05, **kw
        )
    )
    assert capped == capped2


@given(
    docs=st.lists(
        st.lists(st.sampled_from(VOCAB), min_size=0, max_size=9).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    w=st.sampled_from([2, 3]),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_passage_dedup_conservation_and_idempotence(spark, docs, w):
    """remove_duplicate_passages invariants on arbitrary corpora:

    * cardinality preserved (one output row per input doc);
    * passage conservation: kept-passage multiset == distinct passage
      set of the corpus (each distinct passage survives exactly once);
    * idempotence: a second pass over the cleaned corpus drops nothing.
    """
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(docs)], "doc_id long, text string"
    )
    out = dedup.remove_duplicate_passages(df, "doc_id", "text", passage_words=w)
    rows = out.collect()
    assert len(rows) == len(docs)

    def passages(text):
        ws = text.split()
        return [" ".join(ws[i : i + w]) for i in range(0, len(ws), w)]

    distinct_in = {p for s in docs for p in passages(s)}
    kept = [p for r in rows for p in passages(r["cleaned_text"])]
    assert sorted(kept) == sorted(distinct_in)

    again = dedup.remove_duplicate_passages(
        out.select("doc_id", F.col("cleaned_text").alias("text")),
        "doc_id",
        "text",
        passage_words=w,
    ).collect()
    assert all(r["n_dropped"] == 0 for r in again)
    assert {r["doc_id"]: r["cleaned_text"] for r in again} == {
        r["doc_id"]: r["cleaned_text"] for r in rows
    }


@given(
    docs=st.lists(
        st.lists(st.sampled_from(VOCAB), min_size=0, max_size=12).map(" ".join),
        min_size=2,
        max_size=8,
    ),
    k=st.sampled_from([2, 3]),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_substring_spans_exactsubstr_invariant(spark, docs, k):
    """ExactSubstr guarantee on hypothesis corpora (tiny vocab, so
    k-gram repeats are dense): for every k-gram with >= 2 occurrences,
    at most ONE occurrence is uncovered by the emitted spans, and every
    span position is a genuinely duplicated window start."""
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(docs)], "doc_id long, text string"
    )
    spans = dedup.duplicate_substring_spans(
        df, "doc_id", "text", window_words=k
    ).collect()
    by_doc: dict = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"])
        )
    occ: dict = {}
    for i, s in enumerate(docs):
        ws = s.split()
        for j in range(len(ws) - k + 1):
            occ.setdefault(" ".join(ws[j : j + k]), []).append((i, j))

    def covered(d, j):
        return any(a <= j and j + k - 1 <= b for a, b in by_doc.get(d, []))

    for g, places in occ.items():
        if len(places) < 2:
            continue
        uncovered = [p for p in places if not covered(*p)]
        assert len(uncovered) <= 1, (g, places, uncovered)
    dup_positions = {
        p for g, places in occ.items() if len(places) > 1 for p in places
    }
    for d, ranges in by_doc.items():
        for a, b in ranges:
            for j in range(a, b - k + 2):
                assert (d, j) in dup_positions
