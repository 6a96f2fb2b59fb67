"""TF-IDF-weighted join_sim — the reference's own declared roadmap (the
``// TODO: eventually we could use tfidf`` comment above the binary-weight
choice, reference ``src/cossim.rs:45-48``).

Pins the Spark implementation bit-for-bit against a pure-python reference
replicating the exact integer arithmetic (micro-unit smoothed IDF, int64
dot/norm sums), across both physical strategies and both normalizations,
plus the semantic property the weighting exists for: pairs sharing RARE
trigrams outrank pairs sharing COMMON ones.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import pytest

from polars_sim_spark.operators.join_sim import (
    IDF_MICRO,
    build_idf_weights,
    idf_micro_weight,
    join_sim,
    similarity_mapping,
)

STRATEGIES = ["broadcast", "shuffle"]


def _trigrams(s: str | None) -> set[str]:
    if s is None or len(s) < 3:
        return set()
    return {
        s[i : i + 3]
        for i in range(len(s) - 2)
        if re.fullmatch("[a-z]{3}", s[i : i + 3])
    }


def _ref_tfidf(
    left: list[str],
    right: list[str],
    top_n: int,
    normalization: str,
) -> dict[int, list[tuple[int, float]]]:
    """Pure-python twin of the tfidf mapping (corpus = right distinct
    strings), replicating the exact micro-unit integer arithmetic."""
    docs = {s for s in set(right) if s is not None and _trigrams(s)}
    n = len(docs)
    df = Counter(t for s in docs for t in _trigrams(s))

    def w2(t: str) -> int:
        wt = idf_micro_weight(n, df.get(t, 0))
        return wt * wt

    out: dict[int, list[tuple[int, float]]] = {}
    for li, ls in enumerate(left):
        tl = _trigrams(ls)
        if not tl:
            continue
        nl2 = sum(w2(t) for t in tl)
        cands = []
        for ri, rs in enumerate(right):
            tr = _trigrams(rs)
            inter = tl & tr
            if not inter:
                continue
            dot = sum(w2(t) for t in inter)
            nr2 = sum(w2(t) for t in tr)
            if normalization == "l2":
                sim = dot / (math.sqrt(nl2) * math.sqrt(nr2))
            else:
                sim = dot / float(IDF_MICRO) ** 2
            cands.append((ri, sim))
        cands.sort(key=lambda p: (-p[1], p[0]))
        if cands:
            out[li] = cands[:top_n]
    return out


LEFT = [
    "greenapple",
    "greenbanana",
    "redapple",
    "redbanana",
    "bluecherry",
    "uvwkk",  # trigrams absent from the right corpus → default-w0 path
]
RIGHT = [
    "greenapple",
    "greenbanana",
    "redapple",
    "redbanana",
    "bluecherry",
    "greenish",
]


def _frame(spark, strings, id_name):
    return spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], schema=f"{id_name} long, s string"
    )


@pytest.mark.parametrize("strategy", STRATEGIES)
@pytest.mark.parametrize("normalization", ["l2", "count"])
def test_tfidf_matches_python_reference(spark, strategy, normalization):
    got_rows = similarity_mapping(
        _frame(spark, LEFT, "l_id"),
        _frame(spark, RIGHT, "r_id"),
        left_on="s",
        right_on="s",
        top_n=3,
        normalization=normalization,
        strategy=strategy,
        left_id="l_id",
        right_id="r_id",
        weighting="tfidf",
    ).collect()
    got: dict[int, list[tuple[int, float]]] = {}
    for r in sorted(got_rows, key=lambda r: (r["l_id"], -r["sim"], r["r_id"])):
        got.setdefault(r["l_id"], []).append((r["r_id"], r["sim"]))
    want = _ref_tfidf(LEFT, RIGHT, top_n=3, normalization=normalization)
    assert set(got) == set(want)
    for li in want:
        assert [p[0] for p in got[li]] == [p[0] for p in want[li]], (li, got[li], want[li])
        for (gr, gs), (wr, ws) in zip(got[li], want[li]):
            assert gs == pytest.approx(ws, rel=1e-12), (li, gr, gs, ws)


def test_tfidf_dedup_keys_equivalence(spark):
    """The distinct-key pre-pass must be exact under tfidf too: duplicate
    key strings expand back to identical per-row results."""
    left_dup = LEFT + LEFT[:3]  # repeated strings, fresh ids
    kw = dict(
        left_on="s",
        right_on="s",
        top_n=3,
        normalization="l2",
        left_id="l_id",
        right_id="r_id",
        weighting="tfidf",
    )
    a = similarity_mapping(
        _frame(spark, left_dup, "l_id"), _frame(spark, RIGHT, "r_id"),
        dedup_keys=True, **kw,
    )
    b = similarity_mapping(
        _frame(spark, left_dup, "l_id"), _frame(spark, RIGHT, "r_id"),
        dedup_keys=False, **kw,
    )
    ra = sorted((r["l_id"], r["r_id"], round(r["sim"], 9)) for r in a.collect())
    rb = sorted((r["l_id"], r["r_id"], round(r["sim"], 9)) for r in b.collect())
    assert ra == rb


def test_rare_token_outranks_common_token(spark):
    """The point of the weighting: a pair sharing only a RARE trigram
    scores strictly higher than one sharing only a COMMON trigram of the
    same set sizes (binary weighting scores them identically)."""
    # each filler contributes "the" plus two df=1 trigrams (he<c>, e<c><c>)
    # so every "the"-sharer has an IDENTICAL norm — ties break by r_id
    fillers = [f"the{c}{c}" for c in "bcdfjlmnopqrsuv"]  # "the" df=17
    corpus = ["thekk", "thegg", "xyzkk", "xyzgg"] + fillers  # "xyz" df=2
    left = _frame(spark, ["thekk", "xyzkk"], "l_id")
    right = _frame(spark, corpus, "r_id")
    kw = dict(
        left_on="s", right_on="s", top_n=5, normalization="l2",
        left_id="l_id", right_id="r_id",
    )
    tf = {
        (r["l_id"], r["r_id"]): r["sim"]
        for r in similarity_mapping(left, right, weighting="tfidf", **kw).collect()
    }
    bn = {
        (r["l_id"], r["r_id"]): r["sim"]
        for r in similarity_mapping(left, right, weighting="binary", **kw).collect()
    }
    # (thekk, thegg) share only "the"; (xyzkk, xyzgg) share only "xyz".
    assert bn[(0, 1)] == pytest.approx(bn[(1, 3)], abs=1e-12)  # binary: equal
    assert tf[(1, 3)] > tf[(0, 1)] * 1.5  # tfidf: rare-token pair well ahead


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_binary_param_identical_to_default(spark, strategy):
    """weighting='binary' must be the EXISTING path bit-for-bit."""
    kw = dict(
        left_on="s", right_on="s", top_n=3, normalization="l2",
        strategy=strategy, left_id="l_id", right_id="r_id",
    )
    a = similarity_mapping(
        _frame(spark, LEFT, "l_id"), _frame(spark, RIGHT, "r_id"), **kw
    )
    b = similarity_mapping(
        _frame(spark, LEFT, "l_id"), _frame(spark, RIGHT, "r_id"),
        weighting="binary", **kw,
    )
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb  # exact equality: same code path, same floats


def test_join_sim_tfidf_end_to_end(spark):
    """Public join_sim API carries the weighting through re-assembly."""
    left = _frame(spark, ["greenapple", "redbanana"], "lk")
    right = _frame(spark, RIGHT, "rk")
    out = join_sim(
        left, right, on="s", top_n=2, weighting="tfidf",
        left_id="lk", right_id="rk", add_mapping=True,
    )
    rows = out.collect()
    assert len(rows) == 4  # 2 left rows × top-2 each (corpus has matches)
    assert {"lk", "rk", "sim"} <= set(out.columns)
    best = {r["lk"]: r for r in rows if r["sim"] == max(x["sim"] for x in rows if x["lk"] == r["lk"])}
    assert best[0]["rk"] == 0 and best[0]["sim"] == pytest.approx(1.0)
    assert best[1]["rk"] == 3 and best[1]["sim"] == pytest.approx(1.0)


def test_tfidf_explicit_corpus_and_validation(spark):
    corpus = _frame(spark, RIGHT + ["thequickbrownfox"], "cid")
    out = similarity_mapping(
        _frame(spark, LEFT[:2], "l_id"),
        _frame(spark, RIGHT, "r_id"),
        left_on="s", right_on="s", top_n=2, left_id="l_id", right_id="r_id",
        weighting="tfidf", idf_corpus=corpus, idf_on="s",
    )
    assert out.count() > 0
    with pytest.raises(ValueError, match="strategy"):
        similarity_mapping(
            _frame(spark, LEFT[:2], "l_id"), _frame(spark, RIGHT, "r_id"),
            left_on="s", right_on="s", left_id="l_id", right_id="r_id",
            weighting="tfidf", strategy="kernel",
        )
    with pytest.raises(ValueError, match="idf_on"):
        similarity_mapping(
            _frame(spark, LEFT[:2], "l_id"), _frame(spark, RIGHT, "r_id"),
            left_on="s", right_on="s", left_id="l_id", right_id="r_id",
            weighting="tfidf", idf_on="no_such_col",
        )
    with pytest.raises(ValueError, match="weighting"):
        similarity_mapping(
            _frame(spark, LEFT[:2], "l_id"), _frame(spark, RIGHT, "r_id"),
            left_on="s", right_on="s", left_id="l_id", right_id="r_id",
            weighting="idf",
        )
    with pytest.raises(ValueError, match="idf_corpus"):
        similarity_mapping(
            _frame(spark, LEFT[:2], "l_id"), _frame(spark, RIGHT, "r_id"),
            left_on="s", right_on="s", left_id="l_id", right_id="r_id",
            weighting="binary", idf_corpus=corpus,
        )


def test_tfidf_with_word_normalization(spark):
    """apply_word_normalization × tfidf: the IDF fit must count df over
    DISTINCT NORMALIZED strings (two raw spellings of one normalized
    form are one document), and matching must agree with a python
    reference that normalizes the same way."""
    raw = ["Green-Apple!", "green apple", "RED.apple", "blue cherry", "bluecherry"]
    # normalized: greenapple ×2 (one distinct doc), redapple, bluecherry ×2
    left = _frame(spark, ["greenapple", "redapple"], "l_id")
    right = _frame(spark, raw, "r_id")
    got = {
        (r["l_id"], r["r_id"]): r["sim"]
        for r in similarity_mapping(
            left, right, left_on="s", right_on="s", top_n=5,
            normalization="l2", left_id="l_id", right_id="r_id",
            weighting="tfidf", apply_word_normalization=True,
        ).collect()
    }

    def norm(s):
        return "".join(c for c in s if c.isalnum()).lower()

    docs = {norm(s) for s in raw if _trigrams(norm(s))}
    n = len(docs)
    from collections import Counter

    df = Counter(t for s in docs for t in _trigrams(s))

    def w2(t):
        wt = idf_micro_weight(n, df.get(t, 0))
        return wt * wt

    for (li, ri), sim in got.items():
        tl = _trigrams(norm(["greenapple", "redapple"][li]))
        tr = _trigrams(norm(raw[ri]))
        inter = tl & tr
        assert inter, (li, ri)
        want = sum(w2(t) for t in inter) / (
            math.sqrt(sum(w2(t) for t in tl)) * math.sqrt(sum(w2(t) for t in tr))
        )
        assert sim == pytest.approx(want, rel=1e-12), (li, ri)
    # the two raw spellings of "greenapple" both match the left row at 1.0
    assert got[(0, 0)] == pytest.approx(1.0) and got[(0, 1)] == pytest.approx(1.0)


def test_build_idf_weights_values(spark):
    """Weight table pins: df over DISTINCT strings; squared micro units."""
    corpus = _frame(spark, ["abcd", "abcd", "abce", "xyz"], "cid")
    weights, n_docs, w0_sq = build_idf_weights(corpus, "s")
    assert n_docs == 3  # distinct: abcd, abce, xyz
    got = {r["__token"]: r["__w2"] for r in weights.collect()}
    # abc: df=2 (abcd+abce); bcd/bce: df=1; xyz: df=1
    for tok, df in [("abc", 2), ("bcd", 1), ("bce", 1), ("xyz", 1)]:
        w = idf_micro_weight(3, df)
        assert got[tok] == w * w, (tok, got[tok], w * w)
    w0 = idf_micro_weight(3, 0)
    assert w0_sq == w0 * w0


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_tfidf_max_token_df_prunes_overlap_not_norms(spark, strategy):
    """max_token_df × tfidf (ADVICE r10): pruning a hot token removes it
    from the OVERLAP only — both sides keep their full-corpus norms,
    mirroring the binary path's convention (``__nr`` counted before the
    prune). Sims for docs containing the pruned token therefore SHRINK
    relative to unpruned, never inflate, and the exact values match a
    python reference that prunes the intersection but not the norms."""
    # "app" appears in 4 of 6 right rows → pruned at max_token_df=3;
    # rarer trigrams survive.
    left = ["greenapple", "redapple"]
    right = ["greenapple", "redapple", "blueapple", "pinkapple", "bluecherry", "greenish"]
    cutoff = 3

    docs = {s for s in set(right) if _trigrams(s)}
    n = len(docs)
    df = Counter(t for s in docs for t in _trigrams(s))
    row_df = Counter(t for s in right for t in _trigrams(s))  # posting-row df
    hot = {t for t, c in row_df.items() if c > cutoff}

    def w2(t):
        wt = idf_micro_weight(n, df.get(t, 0))
        return wt * wt

    got = {
        (r["l_id"], r["r_id"]): r["sim"]
        for r in similarity_mapping(
            _frame(spark, left, "l_id"),
            _frame(spark, right, "r_id"),
            left_on="s", right_on="s", top_n=6,
            left_id="l_id", right_id="r_id",
            weighting="tfidf", strategy=strategy, max_token_df=cutoff,
        ).collect()
    }
    want = {}
    for li, ls in enumerate(left):
        tl = _trigrams(ls)
        nl2 = sum(w2(t) for t in tl)  # full norm, unpruned
        for ri, rs in enumerate(right):
            tr = _trigrams(rs)
            inter = (tl & tr) - hot  # pruned overlap
            if not inter:
                continue
            nr2 = sum(w2(t) for t in tr)  # full norm, unpruned
            want[(li, ri)] = sum(w2(t) for t in inter) / (
                math.sqrt(nl2) * math.sqrt(nr2)
            )
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12), k
    # self-pairs no longer reach 1.0: the pruned hot token is missing
    # from the dot but still in both norms.
    assert got[(0, 0)] < 1.0 and got[(1, 1)] < 1.0
