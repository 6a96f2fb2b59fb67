"""Text vectorization primitives — pure Column expressions (JVM-side,
whole-stage-codegen'd; no Python UDFs in the hot path).

Semantics pinned to the reference (see SURVEY.md §1.4):

* character 3-grams over the raw string (reference ``src/cossim.rs:43``);
* deduplicated → binary presence weights (``src/cossim.rs:49``);
* only trigrams matching ``[a-z]{3}`` survive — the reference keeps only
  tokens present in its fixed lowercase 26³ vocabulary
  (``src/cossim.rs:14-25,50``), so any trigram containing an uppercase
  letter, digit, space or punctuation is dropped entirely;
* strings with < 3 chars (or no in-vocab trigram) vectorize to the empty
  set and can never match;
* null strings → empty set (deliberate deviation: the reference panics on
  null keys, ``src/cossim.rs:42``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def let_col(value: Column, body) -> Column:
    """Bind ``value`` to a lambda variable and return ``body(var)`` — a
    let-binding for Column expressions.

    Spark's higher-order functions INLINE captured expressions into the
    lambda body, so a lambda over ``sequence(...)`` that references a
    computed expression (a ``split``, a ``regexp_replace``) re-evaluates
    it for EVERY array element — measured 5-6× on shingle vectorization
    at sf0.1. Wrapping the expression in a 1-element array and going
    through ``transform`` forces one evaluation into a
    ``NamedLambdaVariable``; every use inside ``body`` then reads the
    bound value. Same semantics for null/deterministic expressions
    (``body(NULL)`` ≡ inlined-on-NULL), one array allocation of overhead.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def normalize_string_col(s: Column | str) -> Column:
    """Reference P2 (``join.py:6-12``): strip non-alphanumerics, lowercase."""
    return F.lower(F.regexp_replace(_as_col(s), "[^a-zA-Z0-9]", ""))


def trigram_tokens(s: Column | str) -> Column:
    """Distinct in-vocab character trigrams of ``s`` as ``array<string>``.

    Reference ``transform`` (``src/cossim.rs:27-60``) re-expressed as a
    declarative expression: sliding ``substring`` windows → regex vocab
    filter → ``array_distinct``. Null / short strings yield an empty array.
    """
    def body(sv: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(1), F.length(sv) - F.lit(2)),
            lambda i: F.substring(sv, i, F.lit(3)),
        )
        toks = F.array_distinct(F.filter(grams, lambda g: g.rlike("^[a-z]{3}$")))
        empty = F.array().cast("array<string>")
        return F.when(F.length(sv) >= F.lit(3), toks).otherwise(empty)

    # let-bound: callers pass computed strings (the word-normalized path
    # lower+regexp_replace's the key) and inlining would re-run that per
    # character position.
    return let_col(_as_col(s), body)


def _max_run(arr: Column) -> Column:
    """Length of the longest run of consecutive equal elements in ``arr``
    (0 for an empty array) — a single ``aggregate`` HOF pass carrying
    ``(prev, run, best)``, so it stays a scan-stage expression."""
    return F.aggregate(
        arr,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: let_col(
            F.when(x.eqNullSafe(acc.prev), acc.run + 1).otherwise(F.lit(1)),
            lambda run: F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.greatest(acc.best, run).alias("best"),
            ),
        ),
        lambda acc: acc.best,
    )


def repetition_signals(s: Column | str) -> Column:
    """Gopher-style repetition signals of a text column as one struct:
    ``n_words``, ``distinct_word_frac``, ``top_word_frac`` (fraction of
    words taken by the single most frequent word), ``top_bigram_frac``
    (same for word bigrams; 0 when fewer than 2 words), and
    ``max_word_run`` (longest consecutive repeat of one word).

    The repetition filters of Rae et al. (Gopher) / Penedo et al.
    (RefinedWeb): machine-generated and boilerplate text shows up as a
    high top-n-gram share or long single-word runs long before a
    perplexity model sees it. Everything here is a zero-shuffle scan
    projection — mode counts come from ``array_sort`` + a longest-run
    ``aggregate`` pass instead of an explode + groupBy, so the operator
    costs one map stage at any corpus size. Fractions round to 6 dp;
    whitespace-only/null text yields ``(0, 0.0, 0.0, 0.0, 0)``.
    """
    def over_words(words: Column) -> Column:
        n = F.size(words)
        nd = F.size(F.array_distinct(words)).cast("double")
        bigrams = F.zip_with(
            F.slice(words, 1, n - 1),
            F.slice(words, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        return F.struct(
            n.cast("long").alias("n_words"),
            F.round(nd / n, 6).alias("distinct_word_frac"),
            F.round(_max_run(F.array_sort(words)) / n, 6).alias("top_word_frac"),
            F.when(
                n >= 2,
                F.round(_max_run(F.array_sort(bigrams)) / (n - 1).cast("double"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("top_bigram_frac"),
            _max_run(words).cast("long").alias("max_word_run"),
        )

    empty = F.struct(
        F.lit(0).cast("long").alias("n_words"),
        F.lit(0.0).alias("distinct_word_frac"),
        F.lit(0.0).alias("top_word_frac"),
        F.lit(0.0).alias("top_bigram_frac"),
        F.lit(0).cast("long").alias("max_word_run"),
    )
    st = F.trim(F.lower(_as_col(s)))
    return let_col(st, lambda t: F.when(
        F.length(t) > 0,
        let_col(F.split(t, r"\s+"), over_words),
    ).otherwise(empty))


def word_shingles(s: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of ``s`` as ``array<string>``.

    Not in the reference (its unit is the character trigram); used by the
    document-level dedup operators (MinHash / Jaccard) where word shingles
    are the standard unit. Lowercases and splits on whitespace.
    """
    def body(words: Column) -> Column:
        k = F.size(words) - F.lit(n - 1)
        sh = F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        )
        empty = F.array().cast("array<string>")
        return F.when(k >= F.lit(1), F.array_distinct(sh)).otherwise(empty)

    # let-bound: inlined, the split+trim+lower re-runs once PER SHINGLE
    # POSITION (measured 5-6× slower on the documents corpus at sf0.1).
    return let_col(F.split(F.trim(F.lower(_as_col(s))), r"\s+"), body)


def hash_embed(
    df, id_col: str, text_col: str, *, dim: int = 16
):
    """Model-free text embeddings by feature hashing (public: Weinberger
    et al.'s hashing trick + signed random projection — the SimHash
    construction kept CONTINUOUS instead of binarized): dimension j of
    a document's vector is Σ over tokens of ±weight, the sign drawn
    from bit j of the token's md5 and the weight the exact micro-unit
    token frequency ``(c·1e6) div n``. Closes the text→vector loop with
    no external model: the output plugs straight into the ANN/dedup
    operators, and every component is an exact integer the contract
    oracle reproduces.

    Returns ``(id, emb_micro array<long>, embedding array<double>)``
    (the double view is micro/1e6, for cosine math downstream).

    Scale: one shuffle to count (id, token), a same-key window for the
    per-doc total (the counts table is already hash-clustered by id
    component), then the per-dim signed sums aggregate WITHOUT a new
    exchange — ``dim`` conditional-sum columns, the simhash trick, no
    vocabulary table and no explode over dimensions.
    """
    from pyspark.sql import Window

    from polars_sim_spark.operators.dedup import md5_hash64

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("w"),
    ).where(F.col("w") != "")
    counts = toks.groupBy("id", "w").agg(F.count(F.lit(1)).alias("c"))
    n = Window.partitionBy("id")
    weighted = counts.withColumn("n", F.sum("c").over(n)).select(
        "id", "w", F.expr("(c * 1000000) div n").alias("wt")
    )
    if dim > 64:
        raise ValueError(
            f"hash_embed supports dim <= 64 (two independent 32-bit md5 "
            f"slices of sign bits); got dim={dim}"
        )
    # md5_hash64 is a 32-bit value (first 8 hex chars of md5), so bits
    # j >= 32 of it are all zero — dims past 32 draw their sign bit from
    # the SECOND 8-hex-char slice of the same md5 instead, keeping every
    # dimension an independent coin and the whole thing oracle-exact.
    h_lo = md5_hash64(F.col("w"))
    h_hi = F.conv(F.substring(F.md5(F.col("w")), 9, 8), 16, 10).cast("long")
    aggs = [
        F.sum(
            F.when(
                F.shiftright(h_lo if j < 32 else h_hi, j % 32).bitwiseAND(F.lit(1))
                == 1,
                F.col("wt"),
            ).otherwise(-F.col("wt"))
        ).alias(f"__v{j}")
        for j in range(dim)
    ]
    out = weighted.groupBy("id").agg(*aggs)
    emb_micro = F.array(*[F.col(f"__v{j}") for j in range(dim)])
    return out.select(
        "id",
        emb_micro.alias("emb_micro"),
        F.transform(emb_micro, lambda v: v.cast("double") / 1000000).alias("embedding"),
    )
