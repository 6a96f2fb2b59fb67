"""Dedup operator unit tests on hand-computable synthetic frames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_sim_spark.functions.text import word_shingles
from polars_sim_spark.operators import dedup

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
    (3, "completely different words appear here only today"),
    (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_shingles_and_jaccard(spark, docs):
    postings = dedup.shingle_postings(docs, "doc_id", "text")
    # doc 1: 9 words → 7 distinct 3-shingles; doc 3: 7 words → 5
    sizes = {r["id"]: r["n"] for r in postings.groupBy("id").agg(F.count("*").alias("n")).collect()}
    assert sizes[1] == 7 and sizes[3] == 5
    jac = {(r["l_id"], r["r_id"]): r["jac"] for r in dedup.jaccard_pairs(postings).collect()}
    assert jac[(1, 4)] == pytest.approx(1.0)
    # docs 1,2 differ in last word → share 6 of 7 shingles; 6/(7+7-6)=0.75
    assert jac[(1, 2)] == pytest.approx(0.75)
    assert (1, 3) not in jac


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = dedup.minhash_lsh_dedup_pairs(docs, "doc_id", "text", min_jaccard=0.5)
    got = {(r["l_id"], r["r_id"]) for r in pairs.collect()}
    assert (1, 4) in got  # exact dup always collides
    assert (1, 2) in got  # jac 0.56 with 4x4 bands: collides on identical bands
    assert all(3 not in p for p in got)


def test_minhash_identical_signatures(spark, docs):
    sig = dedup.minhash_signature_array(word_shingles(F.col("text")))
    sigs = {r["doc_id"]: tuple(r["sig"]) for r in docs.select("doc_id", sig.alias("sig")).collect()}
    assert sigs[1] == sigs[4]
    assert sigs[1] != sigs[3]


def test_simhash_properties(spark, docs):
    sh = {r["id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id", "text").collect()}
    assert sh[1] == sh[4]  # identical text → identical signature
    assert 0 <= sh[1] < 2**32
    ham_near = bin(sh[1] ^ sh[2]).count("1")
    ham_far = bin(sh[1] ^ sh[3]).count("1")
    assert ham_near < ham_far  # near-dup closer in hamming space


def test_embedding_near_dup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.999, 0.01, 0.0], 0),  # near-dup of 1
        (3, [0.0, 1.0, 0.0], 0),
        (4, [1.0, 0.0, 0.0], 1),  # same vector, different block → never paired
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = dedup.embedding_near_dup_pairs(df, "vec_id", "embedding", block_col="label", min_cosine=0.9)
    got = {(r["l_id"], r["r_id"]): r["sim"] for r in out.collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] > 0.99


def test_lsh_hot_bucket_cap(spark):
    docs = spark.createDataFrame(
        [(i, "same exact boilerplate text repeated everywhere online") for i in range(10)],
        "doc_id long, text string",
    )
    bands = dedup._banded_doc_side(docs, "doc_id", "text", 3, "")
    uncapped = dedup.lsh_candidate_pairs(bands).count()
    capped = dedup.lsh_candidate_pairs(bands, max_bucket_size=5).count()
    assert uncapped == 45  # 10 choose 2
    assert capped == 0  # hot bucket dropped entirely

    # Boundary: a bucket of exactly ``cap`` ids is kept, one of cap + 1 is
    # dropped; a bucket is (band, band_key), so the same key in another
    # band is a different bucket. The pairs match a Python reference.
    cap = 3
    rows = (
        [(i, 0, "k") for i in (1, 2, 3)]  # exactly cap: kept
        + [(i, 0, "hot") for i in (10, 11, 12, 13)]  # cap + 1: dropped
        + [(i, 1, "hot") for i in (10, 11)]  # same key, other band: kept
        + [(i, 1, "k") for i in (1, 2)]  # (1, 2) again: one pair
        + [(20, 2, "solo")]
    )
    hand = spark.createDataFrame(rows, "id long, band int, band_key string")
    buckets: dict = {}
    for i, band, key in rows:
        buckets.setdefault((band, key), []).append(i)
    ref = {
        (lo, hi)
        for ids in buckets.values()
        if len(ids) <= cap
        for lo in ids
        for hi in ids
        if lo < hi
    }
    assert ref == {(1, 2), (1, 3), (2, 3), (10, 11)}
    plain = dedup.lsh_candidate_pairs(hand, max_bucket_size=cap)
    assert sorted(map(tuple, plain.collect())) == sorted(ref)


def test_connected_components(spark):
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    # components: {1,2,3} via chain, {4,5}, singletons {6},{7}
    edges = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "l_id long, r_id long")
    cc = dedup.connected_components(nodes, edges)
    got = {r["id"]: r["cluster_id"] for r in cc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 7}


def test_connected_components_evaluates_edges_once(spark):
    """CC reads its edge lineage ONCE: the mirrored edge set is built in
    one pass, so a Python UDF in the edge lineage runs once per edge
    (a union of the edges with their mirror evaluated it twice)."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 10)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (5, 6), (7, 8)], "l_id long, r_id long"
    )
    calls = spark.sparkContext.accumulator(0)

    def tick(v):
        calls.add(1)
        return v

    tick_udf = F.udf(tick, "long")
    edges = edges.distinct().withColumn("l_id", tick_udf("l_id"))
    got = {r["id"]: r["cluster_id"] for r in dedup.connected_components(nodes, edges).collect()}
    assert calls.value == 5
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4, 7: 7, 8: 7, 9: 9}


def test_connected_components_long_chain(spark):
    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "l_id long, r_id long")
    cc = dedup.connected_components(nodes, edges)
    assert {r["cluster_id"] for r in cc.collect()} == {0}


def test_prefix_filter_path_exact(spark, docs):
    """Forced prefix filtering must give exactly the all-pairs result."""
    postings = dedup.shingle_postings(docs, "doc_id", "text")
    plain = {
        (r["l_id"], r["r_id"]): round(r["jac"], 9)
        for r in dedup.jaccard_pairs(postings, 0.5, use_prefix_filter=False).collect()
    }
    pref = {
        (r["l_id"], r["r_id"]): round(r["jac"], 9)
        for r in dedup.jaccard_pairs(postings, 0.5, use_prefix_filter=True).collect()
    }
    assert plain == pref and (1, 4) in pref


def test_lsh_hot_bucket_cap_preserves_recall_on_skewed_corpus(spark):
    """Web-scale skew shape: one boilerplate cluster dominating the corpus
    next to genuine near-dup pairs. The cap must (a) collapse the
    quadratic boilerplate pair count and (b) keep every genuine pair —
    this is the knob that decides whether MinHash-LSH survives
    boilerplate at scale."""
    hot = [(i, "same exact boilerplate legal disclaimer text repeated on every single page") for i in range(100)]
    pairs_truth = []
    legit = []
    for j in range(8):
        a, b = 1000 + 2 * j, 1001 + 2 * j
        base = f"unique article number {j} with distinctive wording about topic {j} alpha beta gamma delta epsilon"
        legit += [(a, base + " one"), (b, base + " two")]
        pairs_truth.append((a, b))
    docs = spark.createDataFrame(hot + legit, "doc_id long, text string")
    bands = dedup._banded_doc_side(docs, "doc_id", "text", 3, "")
    uncapped = dedup.lsh_candidate_pairs(bands)
    capped = dedup.lsh_candidate_pairs(bands, max_bucket_size=10)
    n_uncapped, n_capped = uncapped.count(), capped.count()
    assert n_uncapped >= 100 * 99 // 2  # boilerplate alone is quadratic
    # cap bound: each surviving bucket contributes <= C(cap,2) pairs
    assert n_capped < 100
    got = {(r["l_id"], r["r_id"]) for r in capped.collect()}
    for p in pairs_truth:  # genuine near-dups all survive the cap
        assert p in got


def test_band_rows_match_oracle(spark, sf_small):
    """The one MinHash band builder (``_banded_doc_side``) yields exactly
    the oracle's ``bands`` CTE — per-document signatures, band keys and
    the zero-shingle exclusion — as a set of (id, band, band_key) rows."""
    import duckdb

    from polars_sim_spark.queries.dedup import duck_lsh_cand_ctes, duck_shingles_cte
    from polars_sim_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    got = {
        tuple(r)
        for r in dedup._banded_doc_side(docs, "doc_id", "text", 3, "")
        .select("id", "band", "band_key")
        .collect()
    }
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_small}/documents.parquet'")
    sql = (
        f"WITH sh AS ({duck_shingles_cte('documents', 'doc_id', 'text')}){duck_lsh_cand_ctes()}\n"
        "SELECT id, band, band_key FROM bands"
    )
    expected = set(con.sql(sql).fetchall())
    assert expected and len(expected) % dedup.LSH_BANDS == 0
    assert got == expected


def test_df_skew_scout_dispatch(spark, sf_small):
    """Auto prefix-filter dispatch is DATA-dependent: the testdata corpus
    is low-df (near-linear plain join) so the scout must say plain; a
    boilerplate-dominated corpus is quadratic so it must say prefix."""
    from polars_sim_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    low = dedup._df_skew_ratio(dedup.shingle_postings(docs, "doc_id", "text"))
    assert 0 < low < dedup.PREFIX_BLOWUP_MIN_RATIO

    hot_docs = spark.createDataFrame(
        [(i, "identical boilerplate disclaimer repeated verbatim on every page of the site") for i in range(3000)],
        "doc_id long, text string",
    )
    hot = dedup._df_skew_ratio(dedup.shingle_postings(hot_docs, "doc_id", "text"))
    assert hot >= dedup.PREFIX_BLOWUP_MIN_RATIO


def test_embedding_ivf_near_dup_recall(spark, sf_small):
    """IVF blocking with nprobe=2 must recover the high-sim pairs the
    unblocked exact cross-join finds (near-dups concentrate inside a
    centroid's cell; boundary pairs are caught by multi-assignment)."""
    from polars_sim_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    exact = {
        (r["l_id"], r["r_id"])
        for r in dedup.embedding_near_dup_pairs(
            emb, "vec_id", "embedding", min_cosine=0.6
        ).collect()
    }
    ivf = {
        (r["l_id"], r["r_id"])
        for r in dedup.embedding_ivf_near_dup_pairs(
            emb, "vec_id", "embedding", min_cosine=0.6, num_centroids=8, nprobe=2
        ).collect()
    }
    assert ivf <= exact  # verification is exact -> no false positives
    if exact:
        assert len(ivf) / len(exact) >= 0.8  # high-sim recall


def test_incremental_near_dups_unit(spark):
    """Hand-computable new-vs-historical near-dedup: exact dup and
    near-dup (jac=0.75 via LSH band collision) of history are dropped,
    novel/short/empty docs survive with all columns."""
    hist = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (101, "the quick brown fox jumps over the lazy dog", "dup"),
            (102, "the quick brown fox jumps over the lazy cat", "near"),
            (103, "completely different words appear here only today", "novel"),
            (104, "too short", "short"),  # < 3 words: zero shingles
            (105, "", "empty"),
        ],
        "doc_id long, text string, tag string",
    )
    surv = dedup.incremental_near_dups(new, hist, "doc_id", "text", min_jaccard=0.5)
    rows = {r["doc_id"]: r["tag"] for r in surv.collect()}
    # 101 exact (jac 1.0) always dropped; 102 at jac 0.75 — identical
    # minhash on 6/7 shared shingles makes a band collision overwhelmingly
    # likely, and with these fixed constants it does collide.
    assert set(rows) == {103, 104, 105}
    assert rows[103] == "novel"  # payload columns intact
    # Threshold above the near-dup's jac keeps it:
    surv9 = dedup.incremental_near_dups(new, hist, "doc_id", "text", min_jaccard=0.9)
    assert set(r["doc_id"] for r in surv9.collect()) == {102, 103, 104, 105}


def test_incremental_near_dups_rejects_nonpositive_threshold(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="min_jaccard"):
        dedup.incremental_near_dups(df, df, "doc_id", "text", min_jaccard=0.0)


def test_remove_duplicate_passages_unit(spark):
    # 4-word passages; doc 1 owns both passages of doc 2's text, doc 2 is
    # pure boilerplate, doc 3 repeats a passage INSIDE itself, doc 4 is
    # whitespace-only and must survive as an empty row.
    rows = [
        (1, "a b c d e f g h"),          # passages: "a b c d", "e f g h"
        (2, "a b c d x y z w"),          # first passage already seen in doc 1
        (3, "p q r s p q r s"),          # intra-doc duplicate passage
        (4, "   "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["cleaned_text"], r["n_kept"], r["n_dropped"])
        for r in dedup.remove_duplicate_passages(
            docs, "doc_id", "text", passage_words=4
        ).collect()
    }
    assert len(out) == 4  # cardinality preserved
    assert out[1] == ("a b c d e f g h", 2, 0)
    assert out[2] == ("x y z w", 1, 1)  # shared boilerplate removed
    assert out[3] == ("p q r s", 1, 1)  # second intra-doc occurrence removed
    assert out[4] == ("", 0, 0)


def test_remove_duplicate_passages_short_tail(spark):
    # A trailing passage shorter than the window is still a passage, and
    # identical short tails dedup across documents.
    rows = [(1, "a b c d e"), (2, "z z z z e")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["cleaned_text"], r["n_kept"], r["n_dropped"])
        for r in dedup.remove_duplicate_passages(
            docs, "doc_id", "text", passage_words=4
        ).collect()
    }
    assert out[1] == ("a b c d e", 2, 0)
    assert out[2] == ("z z z z", 1, 1)  # its "e" tail was doc 1's tail first


def test_remove_duplicate_passages_null_text(spark):
    rows = [(1, "a b c d"), (2, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["cleaned_text"], r["n_kept"], r["n_dropped"])
        for r in dedup.remove_duplicate_passages(
            docs, "doc_id", "text", passage_words=4
        ).collect()
    }
    assert out[1] == ("a b c d", 1, 0)
    assert out[2] == ("", 0, 0)  # null text survives as an empty row


def test_remove_embedding_near_dups_unit(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.0]),   # exact semantic dup of 1
        (3, [0.9, 0.1]),   # near 1 (cos ~0.994)
        (4, [0.0, 1.0]),   # distinct
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]
        for r in dedup.remove_embedding_near_dups(
            emb, "vec_id", "embedding",
            min_cosine=0.9, num_centroids=4, nprobe=2,
        ).collect()
    }
    assert out == {1, 4}  # the 1-2-3 semantic cluster keeps its min id


def test_remove_duplicate_substrings_unit(spark):
    # 8-word windows; doc 2 carries doc 1's boilerplate at a DIFFERENT
    # word offset than any passage grid would align to.
    boiler = "b0 b1 b2 b3 b4 b5 b6 b7"
    rows = [
        (1, "alpha " + boiler + " omega"),
        (2, "start " + boiler + " end tail words"),
        (3, "   "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = dedup.duplicate_substring_spans(
        docs, "doc_id", "text", window_words=8
    ).collect()
    assert [(r["doc_id"], r["span_start"], r["span_end"]) for r in spans] == [
        (2, 1, 8)
    ]
    out = {
        r["doc_id"]: (r["cleaned_text"], r["n_kept"], r["n_dropped"])
        for r in dedup.remove_duplicate_substrings(
            docs, "doc_id", "text", window_words=8
        ).collect()
    }
    assert len(out) == 3  # cardinality preserved
    assert out[1] == ("alpha " + boiler + " omega", 10, 0)
    assert out[2] == ("start end tail words", 4, 8)
    assert out[3] == ("", 0, 0)


def test_substring_spans_cover_all_but_first():
    """ExactSubstr guarantee, property-tested on a seeded random corpus:
    for every k-gram occurring c >= 2 times, at most ONE occurrence
    survives uncovered by the emitted spans (keep-first), and every span
    covers only genuinely duplicated windows."""
    import random

    from polars_sim_spark.session import get_spark

    spark = get_spark("polars_sim_spark-tests", shuffle_partitions=8)
    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(30)]
    boiler = [rng.choice(vocab) for _ in range(12)]
    rows = []
    for d in range(12):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 40))]
        if d % 3 == 0:
            pos = rng.randint(0, len(words))
            words = words[:pos] + boiler + words[pos:]
        rows.append((d, " ".join(words)))
    k = 6
    spans = dedup.duplicate_substring_spans(
        spark.createDataFrame(rows, "doc_id long, text string"),
        "doc_id",
        "text",
        window_words=k,
    ).collect()
    by_doc: dict = {}
    for r in spans:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"])
        )

    def covered(doc_id, i):
        return any(
            s <= i and i + k - 1 <= e for s, e in by_doc.get(doc_id, [])
        )

    occ: dict = {}
    for doc_id, text in rows:
        words = text.split()
        for i in range(len(words) - k + 1):
            occ.setdefault(" ".join(words[i : i + k]), []).append((doc_id, i))
    assert spans  # the spliced boilerplate guarantees duplicates exist
    n_dup_grams = 0
    for g, places in occ.items():
        if len(places) < 2:
            continue
        n_dup_grams += 1
        uncovered = [p for p in places if not covered(*p)]
        assert len(uncovered) <= 1, (g, places, uncovered)
    assert n_dup_grams > 0
    # Soundness: every position inside a span belongs to at least one
    # window whose k-gram text occurs more than once in the corpus.
    dup_positions = {
        (doc_id, i)
        for g, places in occ.items()
        if len(places) > 1
        for (doc_id, i) in places
    }
    for doc_id, ranges in by_doc.items():
        for s, e in ranges:
            for i in range(s, e - k + 2):
                assert (doc_id, i) in dup_positions


def test_remove_duplicate_substrings_null_and_short_text(spark):
    # null text, whitespace-only, and docs shorter than the window all
    # survive untouched (cardinality preserved, whitespace normalized);
    # a doc exactly window-length dedups against an identical doc.
    rows = [
        (1, "a b c d"),
        (2, None),
        (3, "  "),
        (4, "x y"),          # shorter than the 4-word window
        (5, "a b c d"),      # exact duplicate of doc 1 at window length
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.duplicate_substring_spans(
            docs, "doc_id", "text", window_words=4
        ).collect()
    }
    assert spans == {(5, 0, 3)}
    out = {
        r["doc_id"]: (r["cleaned_text"], r["n_kept"], r["n_dropped"])
        for r in dedup.remove_duplicate_substrings(
            docs, "doc_id", "text", window_words=4
        ).collect()
    }
    assert len(out) == 5
    assert out[1] == ("a b c d", 4, 0)
    assert out[2] == ("", 0, 0)
    assert out[3] == ("", 0, 0)
    assert out[4] == ("x y", 2, 0)
    assert out[5] == ("", 0, 4)


def test_connected_components_deep_chain_graph(spark):
    """Round-9 regression: long-chain graphs (many label-propagation
    rounds) must (a) stay CORRECT vs a python reachability reference —
    the old silent max_iter truncation returned wrong labels — and (b)
    complete without the per-round checkpoint stats blowup (estimated
    sizeInBytes tripling in bit length per round; sanitized through the
    SQL cache every 6th round)."""
    import collections

    from polars_sim_spark.operators.dedup import connected_components

    # one 400-node path (deep), a few medium components, singletons
    edges = [(i, i + 1) for i in range(399)]
    edges += [(1000 + 10 * c + i, 1000 + 10 * c + i + 1) for c in range(5) for i in range(9)]
    nodes = list(range(400)) + [1000 + 10 * c + i for c in range(5) for i in range(10)] + list(range(2000, 2050))
    ndf = spark.createDataFrame([(n,) for n in nodes], "id long")
    edf = spark.createDataFrame(edges, "l_id long, r_id long")
    out = connected_components(ndf, edf, id_col="id", src_col="l_id", dst_col="r_id")
    got = {r["id"]: r["cluster_id"] for r in out.collect()}

    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = {}
    for n in nodes:
        if n in want:
            continue
        comp, q = {n}, [n]
        while q:
            u = q.pop()
            for v in adj.get(u, ()):
                if v not in comp:
                    comp.add(v)
                    q.append(v)
        m = min(comp)
        for v in comp:
            want[v] = m
    assert got == want


def test_connected_components_seed_multipartition_matches_reference(spark, monkeypatch):
    """Round-14 seed pass, multi-partition path: with the seed's
    edges-per-partition budget pinned tiny, the partition-local
    union-find runs on many partitions, the (id, min root) combine
    shuffle actually merges conflicting local roots, and the loop still
    has cross-partition propagation to do — the result must equal the
    python reachability reference exactly (labels = component min)."""
    import collections

    from polars_sim_spark.operators import dedup as dedup_mod
    from polars_sim_spark.operators.dedup import connected_components

    monkeypatch.setattr(dedup_mod, "_SEED_EDGES_PER_PART", 8)
    # one 60-node path, two rings, singletons — shuffled so partition
    # subsets are non-contiguous chain fragments
    edges = [(i, i + 1) for i in range(59)]
    edges += [(100 + i, 100 + (i + 1) % 10) for i in range(10)]
    edges += [(200 + i, 200 + (i + 1) % 7) for i in range(7)]
    import random

    random.Random(14).shuffle(edges)
    nodes = list(range(60)) + list(range(100, 110)) + list(range(200, 207)) + [900, 901]
    ndf = spark.createDataFrame([(n,) for n in nodes], "id long")
    edf = spark.createDataFrame(edges, "l_id long, r_id long").repartition(16)
    out = connected_components(ndf, edf, id_col="id", src_col="l_id", dst_col="r_id")
    got = {r["id"]: r["cluster_id"] for r in out.collect()}

    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = {}
    for n in nodes:
        if n in want:
            continue
        comp, q = {n}, [n]
        while q:
            u = q.pop()
            for v in adj.get(u, ()):
                if v not in comp:
                    comp.add(v)
                    q.append(v)
        m = min(comp)
        for v in comp:
            want[v] = m
    assert got == want


def test_connected_components_raises_on_round_exhaustion(spark, monkeypatch):
    """Unconverged labels are never returned: a path needing more rounds
    than max_iter raises instead of silently mis-clustering. The round-14
    seed pass would contract this tiny chain in one task, so the test
    pins the seed's edges-per-partition budget to 1 and spreads the edge
    frame one edge per partition — the loop itself must walk the chain,
    and with max_iter=2 it cannot."""
    import pytest as _pytest

    from polars_sim_spark.operators import dedup as dedup_mod
    from polars_sim_spark.operators.dedup import connected_components

    monkeypatch.setattr(dedup_mod, "_SEED_EDGES_PER_PART", 1)
    ndf = spark.createDataFrame([(i,) for i in range(64)], "id long")
    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "l_id long, r_id long"
    ).repartition(63)
    with _pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(ndf, edf, id_col="id", src_col="l_id", dst_col="r_id", max_iter=2)


@pytest.mark.parametrize("small_max", [100_000, 0])
def test_update_entity_labels_equals_full_recompute(spark, small_max, monkeypatch):
    """Incremental resolution (round 10): folding a batch of new nodes +
    edges into stored CC labels via the quotient graph must equal a full
    CC recompute over the union edge set — including cross-historical
    merges (a new edge bridging two old clusters relabels EVERY member
    of the losing cluster), new-node-becomes-min cases, and isolated
    new nodes. Parametrized over BOTH mapping paths (round 11): the
    driver union-find (quotient under the threshold) and the forced
    distributed CC loop (threshold 0) must agree exactly."""
    import collections
    import random

    from polars_sim_spark.operators.dedup import (
        connected_components,
        update_entity_labels,
    )

    monkeypatch.setattr(dedup, "_SMALL_QUOTIENT_MAX_EDGES", small_max)
    rng = random.Random(42)
    hist_nodes = list(range(10, 110))  # ids 10..109
    hist_edges = [(a, a + 1) for a in range(10, 30)]  # one chain
    hist_edges += [
        (rng.choice(hist_nodes), rng.choice(hist_nodes)) for _ in range(25)
    ]
    hist_edges = [(a, b) for a, b in hist_edges if a != b]
    new_nodes = [1, 2, 3] + list(range(200, 220))  # 1..3 are below all mins
    new_edges = [
        (1, 15),          # new node becomes the min of an old cluster
        (200, 201), (201, 202),  # new-only chain
        (205, 40), (205, 80),    # new node bridges two old clusters
        (210, 210),              # degenerate self edge
    ]
    new_edges += [
        (rng.choice(new_nodes), rng.choice(hist_nodes + new_nodes))
        for _ in range(15)
    ]

    ndf = spark.createDataFrame([(n,) for n in hist_nodes], "id long")
    edf = spark.createDataFrame(hist_edges, "l_id long, r_id long")
    stored = connected_components(
        ndf, edf, id_col="id", src_col="l_id", dst_col="r_id"
    ).withColumnRenamed("cluster_id", "entity_id")

    got = {
        r["id"]: r["entity_id"]
        for r in update_entity_labels(
            stored,
            spark.createDataFrame([(n,) for n in new_nodes], "id long"),
            spark.createDataFrame(new_edges, "l_id long, r_id long"),
            id_col="id",
        ).collect()
    }

    # full recompute reference in python
    adj = collections.defaultdict(set)
    for a, b in hist_edges + new_edges:
        adj[a].add(b)
        adj[b].add(a)
    want = {}
    for n in hist_nodes + new_nodes:
        if n in want:
            continue
        comp, q = {n}, [n]
        while q:
            u = q.pop()
            for v in adj.get(u, ()):
                if v not in comp:
                    comp.add(v)
                    q.append(v)
        m = min(comp)
        for v in comp:
            want[v] = m
    assert got == want
    # the bridge case really merged two previously-distinct clusters
    stored_labels = {r["id"]: r["entity_id"] for r in stored.collect()}
    assert stored_labels[40] != stored_labels[80]
    assert got[40] == got[80] == got[205]
    assert got[15] == 1  # new min propagated into the old cluster


def test_update_entity_labels_empty_edge_batch(spark):
    """A batch with NO matching edges (all-novel vectors) must label
    every new node as itself and leave stored labels untouched —
    exercises connected_components on an empty edge set."""
    from polars_sim_spark.operators.dedup import update_entity_labels

    stored = spark.createDataFrame([(10, 10), (11, 10)], "id long, entity_id long")
    new_nodes = spark.createDataFrame([(20,), (21,)], "id long")
    edges = spark.createDataFrame([], "l_id long, r_id long")
    got = {
        r["id"]: r["entity_id"]
        for r in update_entity_labels(stored, new_nodes, edges, id_col="id").collect()
    }
    assert got == {10: 10, 11: 10, 20: 20, 21: 21}


def test_connected_components_fixpoint_exactly_at_max_iter(spark):
    """Round-10 ADVICE regression: labels that reach their fixpoint ON
    round max_iter must be RETURNED, not rejected — the changed-check
    compares against the start of the block, so the final verification
    probe (one extra neighbor-min pass) is what certifies convergence."""
    from polars_sim_spark.operators.dedup import connected_components

    # a single edge converges in exactly 1 productive round
    ndf = spark.createDataFrame([(0,), (1,)], "id long")
    edf = spark.createDataFrame([(0, 1)], "l_id long, r_id long")
    out = connected_components(
        ndf, edf, id_col="id", src_col="l_id", dst_col="r_id", max_iter=1
    )
    got = {r["id"]: r["cluster_id"] for r in out.collect()}
    assert got == {0: 0, 1: 0}


def test_lsh_removal_multipartition_cc_matches_single(spark, sf_small, monkeypatch):
    """The LSH removal path feeds its verified pairs, clique-shaped band
    collisions included, straight into connected components. With the
    seed's edges-per-partition budget pinned tiny, the seed union-find
    runs on many partitions and the loop must finish the contraction;
    the surviving ids must equal the single-partition run's."""
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")

    def kept_ids():
        out = dedup.remove_near_dups(docs, "doc_id", "text", use_lsh=True)
        return sorted(r["doc_id"] for r in out.select("doc_id").collect())

    single = kept_ids()
    monkeypatch.setattr(dedup, "_SEED_EDGES_PER_PART", 8)
    multi = kept_ids()
    assert multi == single
    assert len(single) < docs.count()  # a non-trivial cluster was removed
