"""Distributed BPE fit pinned against a pure-Python Sennrich reference."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from polars_sim_spark.operators.bpe import WORD_PATTERN, bpe_fit, bpe_token_counts


# --- reference implementation (Sennrich-style, greedy left-to-right) ---

def _ref_apply(syms: list[str], a: str, b: str) -> list[str]:
    out: list[str] = []
    for s in syms:
        if out and out[-1] == a and s == b:
            out[-1] = a + b
        else:
            out.append(s)
    return out


def _ref_bpe(word_freq: dict[str, int], num_merges: int):
    vocab = {w: list(w) for w in word_freq}
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for w, f in word_freq.items():
            syms = vocab[w]
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        best = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        merges.append(best)
        vocab = {w: _ref_apply(s, *best) for w, s in vocab.items()}
    return merges, vocab


def _ref_words(text: str) -> list[str]:
    import re

    return re.findall(WORD_PATTERN, text.lower())


def _ref_counts(rows, num_merges: int):
    freq: Counter = Counter()
    for _, text in rows:
        freq.update(_ref_words(text))
    merges, vocab = _ref_bpe(dict(freq), num_merges)
    counts = {
        doc_id: sum(len(vocab[w]) for w in _ref_words(text)) for doc_id, text in rows
    }
    return merges, counts


def test_bpe_fit_matches_reference_toy(spark):
    rows = [
        (1, "low low low low low"),
        (2, "lower lower newest newest"),
        (3, "newest newest newest newest widest widest"),
        (4, "the quick brown fox jumps over the lazy dog the the"),
        (5, ""),  # zero-word doc keeps a 0 count
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges, vocab = bpe_fit(docs, num_merges=12)
    ref_merges, ref_counts = _ref_counts(rows, 12)
    assert merges == ref_merges
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_token_counts(docs, vocab).collect()
    }
    assert got == ref_counts


def test_bpe_fit_matches_reference_testdata(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(200)
    rows = [(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()]
    merges, vocab = bpe_fit(docs, num_merges=10)
    ref_merges, ref_counts = _ref_counts(rows, 10)
    assert merges == ref_merges
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_token_counts(docs, vocab).collect()
    }
    assert got == ref_counts


def test_bpe_batched_equals_sequential_with_fewer_rounds(spark, sf_small):
    """Batched selection (default batch_size=8) must yield the IDENTICAL
    merge list to one-merge-per-round iteration (batch_size=1) — the
    _select_merge_batch dominance rule is a faithfulness guarantee, not
    a heuristic — while spending measurably fewer driver rounds."""
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(200)
    st_b, st_s = {}, {}
    merges_b, _ = bpe_fit(docs, num_merges=20, stats=st_b)
    merges_s, _ = bpe_fit(docs, num_merges=20, batch_size=1, stats=st_s)
    assert merges_b == merges_s
    assert st_s["rounds"] == 20
    assert st_b["rounds"] < 20, st_b
    assert st_b["merges"] == st_s["merges"] == 20


def test_bpe_fit_releases_superseded_vocab_checkpoints(spark, sf_small):
    """Each vocab checkpoint frees the one it supersedes: a 20-merge fit
    (several mid-fit checkpoints) leaves at most the final one persistent.
    JVM GC can only lower the count, never raise it."""
    from polars_sim_spark import cache as cache_registry

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(200)
    cache_registry.sweep_persistent_rdds(spark)
    bpe_fit(docs, num_merges=20)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= 1


def test_bpe_merge_overlap_semantics(spark):
    """'aaa' under merge (a,a) → [aa, a]: greedy left-to-right,
    non-overlapping — the exact reference behavior."""
    docs = spark.createDataFrame([(1, "aaa aaa")], "doc_id long, text string")
    merges, vocab = bpe_fit(docs, num_merges=2)
    assert merges[0] == ("a", "a")
    syms = {r["word"]: r["syms"] for r in vocab.collect()}
    # second merge is ('aa','a') → whole word becomes one token
    assert merges[1] == ("aa", "a")
    assert syms["aaa"] == ["aaa"]


def test_bpe_vocab_prebuilt_serving(spark, sf_small):
    """Persisted tokenizer: counts from the stored vocab equal the live
    fit+tokenize on the SAME corpus; unseen words (corpus drift) cost
    their character count."""
    import shutil
    import tempfile

    from polars_sim_spark.operators.bpe import (
        bpe_token_counts_prebuilt,
        materialize_bpe_vocab,
    )

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(150)
    d = tempfile.mkdtemp(prefix="pss_bpe_")
    try:
        merges = materialize_bpe_vocab(docs, d, num_merges=10)
        assert len(merges) == 10
        live_merges, vocab = bpe_fit(docs, num_merges=10)
        assert merges == live_merges
        live = {
            r["doc_id"]: r["n_bpe_tokens"]
            for r in bpe_token_counts(docs, vocab).collect()
        }
        served = {
            r["doc_id"]: r["n_bpe_tokens"]
            for r in bpe_token_counts_prebuilt(docs, d).collect()
        }
        assert live == served
        # drift: a doc with an unseen word pays its char count
        drift = spark.createDataFrame(
            [(999, "zzzqqqxxx")], "doc_id long, text string"
        )
        got = bpe_token_counts_prebuilt(drift, d).collect()[0]["n_bpe_tokens"]
        assert got == 9
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_bpe_certificate_oracle_accepts_true_fit_and_rejects_tampered(spark, sf_small):
    """Round 12 (VERDICT r11 #2): the committed-merge certificate oracle
    must (a) certify a genuine materialize_bpe_vocab artifact — every
    round's committed merge IS the sequential pair-count argmax — and
    reproduce bpe_token_counts_prebuilt integer for integer, and (b)
    yield ZERO rows (a driver rows mismatch, not silence) when any
    committed merge is tampered with."""
    import shutil
    import tempfile

    import duckdb

    from polars_sim_spark.operators.bpe import (
        bpe_token_counts_prebuilt,
        materialize_bpe_vocab,
    )
    from polars_sim_spark.queries.text import _duck_bpe_cert_sql

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(150)
    d = tempfile.mkdtemp(prefix="pss_bpe_cert_")
    try:
        merges = materialize_bpe_vocab(docs, d, num_merges=10)
        assert len(merges) == 10
        served = {
            r["doc_id"]: r["n_bpe_tokens"]
            for r in bpe_token_counts_prebuilt(docs, d).collect()
        }
        docs.toPandas().to_parquet(f"{d}/_docs.parquet")
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW documents AS SELECT * FROM '{d}/_docs.parquet'"
        )
        got = con.sql(_duck_bpe_cert_sql(10, idx=d)).fetchall()
        assert {int(r[0]): int(r[1]) for r in got} == served

        # tamper: swap the last committed merge for a non-argmax pair
        bad_idx = f"{d}/_bad"
        import os

        os.makedirs(f"{bad_idx}/_merges", exist_ok=True)
        con.sql(
            f"""
            CREATE TABLE tm AS SELECT * FROM read_parquet('{d}/_merges/*.parquet');
            UPDATE tm SET a = 'zz', b = 'qq' WHERE i = 9;
            COPY tm TO '{bad_idx}/_merges/part.parquet' (FORMAT PARQUET);
            """
        )
        assert con.sql(_duck_bpe_cert_sql(10, idx=bad_idx)).fetchall() == []
    finally:
        shutil.rmtree(d, ignore_errors=True)
