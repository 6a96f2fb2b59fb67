"""Option-surface tests (FIXTURES.md §F3): left_on/right_on, top_n cutoff,
count mode, suffix collision renaming, add_mapping/add_similarity column
sets — reference join.py:15-149 behaviors."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from polars_sim_spark import join_sim
from polars_sim_spark.operators.join_sim import similarity_mapping


@pytest.fixture(scope="module")
def part(spark, sf_small):
    return spark.read.parquet(f"{sf_small}/part.parquet").select("p_partkey", "p_name")


@pytest.fixture(scope="module")
def left(spark):
    rows = [(i, f"name{i:02d} widget", i * 10) for i in range(10)]
    return spark.createDataFrame(rows, "lid long, name string, payload_l long")


@pytest.fixture(scope="module")
def right(spark):
    rows = [(i, f"name{i:02d} widgets", f"r{i}") for i in range(20)]
    return spark.createDataFrame(rows, "rid long, name string, payload_r string")


def test_left_on_right_on(spark, left, right):
    l2 = left.withColumnRenamed("name", "lname")
    r2 = right.withColumnRenamed("name", "rname")
    out = join_sim(
        l2, r2, left_on="lname", right_on="rname", top_n=1, left_id="lid", right_id="rid"
    )
    assert out.count() == 10


@pytest.mark.parametrize("top_n", [1, 3, 10])
def test_topn_cutoff(spark, left, right, top_n):
    out = join_sim(left, right, on="name", top_n=top_n, left_id="lid", right_id="rid")
    counts = out.groupBy("lid").count().collect()
    assert all(r["count"] <= top_n for r in counts)
    assert out.count() <= 10 * top_n


def test_count_mode_integer_sims(spark, left, right):
    out = join_sim(
        left, right, on="name", top_n=3, normalization="count",
        left_id="lid", right_id="rid",
    )
    sims = [r["sim"] for r in out.collect()]
    assert all(s == int(s) and s >= 1 for s in sims)


def test_suffix_collision(spark, left, right):
    out = join_sim(left, right, on="name", top_n=1, left_id="lid", right_id="rid")
    assert "name" in out.columns and "name_right" in out.columns
    out2 = join_sim(
        left, right, on="name", top_n=1, left_id="lid", right_id="rid", suffix="_r"
    )
    assert "name_r" in out2.columns


def test_add_mapping_and_similarity_column_sets(spark, left, right):
    base = dict(on="name", top_n=1, left_id="lid", right_id="rid")
    both = join_sim(left, right, **base, add_mapping=True, add_similarity=True)
    assert {"lid", "rid", "sim"} <= set(both.columns)
    no_sim = join_sim(left, right, **base, add_similarity=False)
    assert "sim" not in no_sim.columns
    payload_kept = join_sim(left, right, **base)
    assert {"payload_l", "payload_r"} <= set(payload_kept.columns)


def test_payloads_carried_untouched(spark, left, right):
    out = join_sim(left, right, on="name", top_n=1, left_id="lid", right_id="rid")
    row = out.where("lid = 3").collect()[0]
    assert row["payload_l"] == 30
    assert row["payload_r"] == f"r{row['rid']}"


def test_threads_repartitions_probe_side(spark, left, right):
    """`threads` maps to repartition(threads) of the probe side (the
    reference sizes its rayon pool with it; round-1 parsed-then-ignored)."""
    out = join_sim(
        left, right, on="name", top_n=1, left_id="lid", right_id="rid", threads=4
    )
    plan = out._jdf.queryExecution().toString()
    assert "RoundRobinPartitioning(4)" in plan
    # and the hint must not change results
    base = join_sim(left, right, on="name", top_n=1, left_id="lid", right_id="rid")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, base.collect()))


def test_threads_validation(spark, left, right):
    with pytest.raises(ValueError, match="threads"):
        join_sim(left, right, on="name", left_id="lid", right_id="rid", threads=0)


def test_right_payload_named_sim_gets_suffixed(spark, left, right):
    """A payload column literally named 'sim' must not collide with the
    computed similarity column (round-1: ambiguous-select AnalysisException)."""
    r2 = right.withColumnRenamed("payload_r", "sim")
    out = join_sim(left, r2, on="name", top_n=1, left_id="lid", right_id="rid")
    assert "sim" in out.columns and "sim_right" in out.columns
    row = out.where("lid = 3").collect()[0]
    assert row["sim_right"] == f"r{row['rid']}"  # payload rides with its row
    assert 0.0 < row["sim"] <= 1.0  # computed similarity


def test_left_payload_named_sim_gets_suffixed(spark, left, right):
    l2 = left.withColumnRenamed("payload_l", "sim")
    out = join_sim(l2, right, on="name", top_n=1, left_id="lid", right_id="rid")
    assert "sim" in out.columns and "sim_right" in out.columns
    row = out.where("lid = 3").collect()[0]
    assert row["sim_right"] == 30  # left payload value
    assert 0.0 < row["sim"] <= 1.0


def test_collision_rename_target_already_exists(spark, left, right):
    """left has both 'extra' and 'extra_right'; right's 'extra' must not
    land on the occupied 'extra_right' name."""
    l2 = left.withColumn("extra", left.payload_l).withColumn(
        "extra_right", left.payload_l
    )
    r2 = right.withColumnRenamed("payload_r", "extra")
    out = join_sim(l2, r2, on="name", top_n=1, left_id="lid", right_id="rid")
    assert "extra" in out.columns and "extra_right" in out.columns
    assert "extra_right_right" in out.columns
    assert len(out.columns) == len(set(out.columns))


def test_max_token_df_prunes_hot_tokens(spark):
    """max_token_df (the documented skew/recall knob): pairs whose ONLY
    shared trigram exceeds the right-side document-frequency cap vanish;
    pairs sharing a rare trigram survive untouched."""
    lt = spark.createDataFrame(
        [(1, "abc"), (2, "xyz")], "lid long, name string"
    )
    rt = spark.createDataFrame(
        [(10, "abcqrs"), (11, "abctuv"), (12, "abcxyz")],
        "rid long, name string",
    )
    kwargs = dict(
        on="name", top_n=5, strategy="shuffle",
        left_id="lid", right_id="rid", add_mapping=True,
    )
    full = join_sim(lt, rt, **kwargs)
    assert {(r["lid"], r["rid"]) for r in full.collect()} == {
        (1, 10), (1, 11), (1, 12), (2, 12)
    }
    # df("abc") = 3 on the right; cap at 2 removes it from the postings,
    # so left "abc" (whose only token is the hot one) matches nothing,
    # while "xyz" still reaches rid=12 via its rare trigram.
    pruned = join_sim(lt, rt, **kwargs, max_token_df=2)
    assert {(r["lid"], r["rid"]) for r in pruned.collect()} == {(2, 12)}


def test_threading_dimension_compat(spark, part):
    """Reference keyword `threading_dimension` maps onto the strategy."""
    left = part.select(F.col("p_partkey").alias("l_id"), F.col("p_name").alias("s"))
    a = join_sim(
        left, left, on="s", top_n=2, left_id="l_id", right_id="l_id",
        threading_dimension="left", threads=8,
    )
    b = join_sim(
        left, left, on="s", top_n=2, left_id="l_id", right_id="l_id",
        threading_dimension="right",
    )
    sa = sorted((r["l_id"], r["sim"]) for r in a.select("l_id", "sim").collect())
    sb = sorted((r["l_id"], r["sim"]) for r in b.select("l_id", "sim").collect())
    assert [x[0] for x in sa] == [x[0] for x in sb]


# A side COLLAPSES when several of its strings share a trigram set: they
# differ only in digits/punctuation, which the [a-z]{3} vocabulary drops.
# Every string of a UNIQUE side has its own trigram set.
_COLLAPSING = {
    "l": ["acme 1", "acme-2", "acme.3", "globex 10", "globex#11", "initech 5",
          "initech", "umbrella co", "hooli 9", None, "ab"],
    "r": ["acme 7", "acme_8", "globex 4", "globex:5", "initech labs 1",
          "initech labs 2", "umbrella", "hooli inc", "hooli"],
}
_UNIQUE = {
    "l": ["acme corp", "globex inc", "initech llc", "umbrella corp", "hooli",
          "acme", None],
    "r": ["acme co", "globex", "initech", "umbrella co", "hooli xyz", "acmes",
          "globe"],
}


def _side(spark, side, collapses):
    names = (_COLLAPSING if collapses else _UNIQUE)[side]
    return spark.createDataFrame(
        list(enumerate(names)), f"{side}id long, {side}name string"
    )


def _keyed_sides(mapping) -> int:
    """Sides the distinct path grouped by token-set key (one
    ``Deduplicate [__key]`` each in the analyzed plan)."""
    return mapping._jdf.queryExecution().analyzed().toString().count("Deduplicate [__key")


@pytest.mark.parametrize("l_collapses", [False, True], ids=["l_unique", "l_collapses"])
@pytest.mark.parametrize("r_collapses", [False, True], ids=["r_unique", "r_collapses"])
def test_distinct_keys_exact_for_every_keying_branch(spark, l_collapses, r_collapses):
    """``dedup_keys=True`` keys each side by token set only when its
    strings collapse; every (left keyed, right keyed) combination must
    return exactly the per-row mapping of ``dedup_keys=False``."""
    left, right = _side(spark, "l", l_collapses), _side(spark, "r", r_collapses)
    for normalization in ("l2", "count"):
        for strategy in ("broadcast", "shuffle"):
            kw = dict(
                left_on="lname", right_on="rname", left_id="lid", right_id="rid",
                top_n=2, normalization=normalization, strategy=strategy,
            )
            fast = similarity_mapping(left, right, dedup_keys=True, **kw)
            assert _keyed_sides(fast) == l_collapses + r_collapses
            got = sorted(tuple(r) for r in fast.collect())
            want = sorted(tuple(r) for r in similarity_mapping(left, right, dedup_keys=False, **kw).collect())
            assert got and got == want, (normalization, strategy)
