"""Edge-case semantics pinned by SURVEY.md §1.4 / FIXTURES.md §F2.

The reference panics on null keys (src/cossim.rs:42) and silently
zero-vectorizes short/out-of-vocab strings; our defined behavior: any key
with no in-vocab trigram produces no match and its row is absent.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_sim_spark import join_sim
from polars_sim_spark.functions.text import trigram_tokens


@pytest.fixture(scope="module")
def edge_left(spark):
    rows = [
        (0, ""),           # empty
        (1, "ab"),          # <3 chars → zero vector
        (2, "AAA"),         # uppercase → out of vocab
        (3, "a b c"),       # spaces break runs
        (4, "abc123xyz"),   # digit-containing trigrams dropped, abc/xyz kept
        (5, "Alice!"),      # matches 'alice' only with word normalization
        (6, None),          # null
        (7, "abc"),
        (8, "abc"),         # duplicate string
    ]
    return spark.createDataFrame(rows, "id long, s string")


@pytest.fixture(scope="module")
def edge_right(spark):
    return spark.createDataFrame(
        [(100, "abc"), (101, "xyz"), (102, "alice")], "id long, s string"
    )


def test_tokenizer_edge_semantics(spark, edge_left):
    toks = {
        r["id"]: sorted(r["t"])
        for r in edge_left.select("id", trigram_tokens("s").alias("t")).collect()
        if r["t"] is not None
    }
    assert toks[0] == [] and toks[1] == [] and toks[2] == [] and toks[3] == []
    assert toks[4] == ["abc", "xyz"]  # 'bc1','c12','123',... dropped
    assert toks[5] == ["ice", "lic"]  # 'Ali' (uppercase) and 'ce!' dropped
    assert toks[6] == []  # null → empty (deviation: reference panics)


def test_no_match_rows_absent(spark, edge_left, edge_right):
    out = join_sim(
        edge_left, edge_right, on="s", top_n=3, left_id="id", right_id="id",
        add_mapping=True,
    ).collect()
    matched_left = {r["id"] for r in out}
    assert matched_left == {4, 5, 7, 8}  # 0,1,2,3,6 vectorize to ∅ → absent


def test_word_normalization_unlocks_match(spark, edge_left, edge_right):
    out = join_sim(
        edge_left, edge_right, on="s", top_n=1, left_id="id", right_id="id",
        add_mapping=True, apply_word_normalization=True,
    )
    alice = [r for r in out.collect() if r["id"] == 5]
    assert len(alice) == 1 and alice[0]["id_right"] == 102
    assert alice[0]["sim"] == pytest.approx(1.0)  # 'Alice!'→'alice' exact


def test_duplicate_strings_same_matches(spark, edge_left, edge_right):
    out = join_sim(
        edge_left, edge_right, on="s", top_n=3, left_id="id", right_id="id",
        add_mapping=True,
    )
    rows7 = sorted((r["id_right"], round(r["sim"], 9)) for r in out.collect() if r["id"] == 7)
    rows8 = sorted((r["id_right"], round(r["sim"], 9)) for r in out.collect() if r["id"] == 8)
    assert rows7 == rows8 and len(rows7) > 0


def test_output_bounded_by_topn(spark, edge_left, edge_right):
    out = join_sim(edge_left, edge_right, on="s", top_n=2, left_id="id", right_id="id")
    n_left = edge_left.count()
    assert out.count() <= n_left * 2


def test_repetition_signals_hand_values(spark):
    from polars_sim_spark.functions.text import repetition_signals

    rows = [
        (1, "a b a b a b"),   # top word a×3/6, top bigram "a b"×3/5
        (2, "x x x y z"),     # run of 3 x's
        (3, "  "),            # whitespace-only
        (4, None),            # null text
        (5, "solo"),          # single word: no bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (
            r["n_words"], r["distinct_word_frac"], r["top_word_frac"],
            r["top_bigram_frac"], r["max_word_run"],
        )
        for r in df.select(
            "doc_id", repetition_signals("text").alias("r")
        ).select("doc_id", "r.*").collect()
    }
    assert out[1] == (6, 0.333333, 0.5, 0.6, 1)
    assert out[2] == (5, 0.6, 0.6, 0.5, 3)
    assert out[3] == (0, 0.0, 0.0, 0.0, 0)
    assert out[4] == (0, 0.0, 0.0, 0.0, 0)
    assert out[5] == (1, 1.0, 1.0, 0.0, 1)


# -- multimodal payload readers ------------------------------------------

_BANDS = "band0 int, band1 int, band2 int, band3 int, phash_hex string"
_HASHERS = {
    "ppm_phash": _BANDS,
    "wav_phash": _BANDS,
    "mp4_vhash": _BANDS,
    "mp4_frame_phash": "frame_idx long, " + _BANDS,
    "video_pixel_vhash": _BANDS,
    "video_frame_pixel_phash": "frame_idx long, " + _BANDS,
}


def _payload_readers():
    from polars_sim_spark.operators import multimodal as mm

    readers = {
        f"media_stats:{name}": (
            lambda df, name=name: mm.media_stats(df, name),
            codec.schema,
        )
        for name, codec in mm.CODECS.items()
        if codec.stats is not None
    }
    readers.update(
        {name: (getattr(mm, name), schema) for name, schema in _HASHERS.items()}
    )
    return readers


@pytest.mark.parametrize("reader", sorted(_payload_readers()))
def test_payload_reader_empty_and_foreign_inputs(spark, reader):
    """Every stats codec and every perceptual hasher returns zero rows
    with its declared schema on a zero-row input and on an input of only
    foreign (raw utf-8 text) payloads."""
    fn, schema = _payload_readers()[reader]
    want = spark.createDataFrame([], f"doc_id long, {schema}").schema
    texts = ["", "a", "hello world", "naïve café ünïcödé " * 9, "x" * 700]
    foreign = spark.createDataFrame(
        [(i, bytearray(t.encode("utf-8"))) for i, t in enumerate(texts)],
        "doc_id long, payload binary",
    )
    for df in (foreign.limit(0), foreign):
        out = fn(df)
        assert out.schema == want
        assert out.collect() == []
