"""Graph analytics over relational co-occurrence graphs — triangle counting
and exact-arithmetic PageRank.

The reference ships no graph operators (its one operator is the string
similarity join, reference ``python/polars_sim/dataframe/join.py:15-30``);
this module generalizes the engine the same way ``operators/dedup.py``'s
connected components did: graphs ARISE from similarity/co-occurrence
output (near-dup pairs, co-purchase baskets), and clustering/centrality
over them is the natural next query.

Scale design:

* **Edge derivation** (:func:`cooccurrence_edges`) is a self-equi-join on
  the group key — per-group pair count is quadratic in basket size, so a
  ``max_group_size`` guard drops pathological baskets map-side (standard
  market-basket hygiene; the groups-too-big set is computed with one
  narrow agg).
* **Triangle counting** (:func:`triangle_counts`) uses the classic
  degree-ordered node-iterator (Schank & Wagner 2005): orient every edge
  from its (degree, id)-smaller endpoint to the larger, enumerate wedges
  under the orientation (per-node work bounded by oriented out-degree,
  which is O(sqrt(m)) on any graph), then close each wedge with a
  semi-join back to the oriented edge set.  Three narrow shuffles total;
  no node ever materializes its full neighborhood in one task beyond the
  sqrt(m) bound.
* **PageRank** (:func:`pagerank`) runs a FIXED iteration count in exact
  int64 micro-units: rank mass starts at ``SCALE // n`` per node, each
  step moves ``rank // degree`` along every edge (integer division —
  deterministic), and damping applies as ``(d_pct * inflow) // 100``.
  Every operation is exact integer arithmetic, identical in Spark and
  ANSI SQL — which is what makes a 5-iteration PageRank *hash-checkable
  against DuckDB* (the oracle unrolls the iterations as a CTE chain).
  Total mass stays <= SCALE = 10^12, so ``85 * inflow`` stays far below
  2^63 (no ANSI overflow).  Per-iteration ``localCheckpoint`` caps plan
  growth exactly as ``connected_components`` does (measured there:
  un-checkpointed iterative plans re-evaluate prior rounds superlinearly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_sim_spark import cache as cache_registry

#: PageRank mass scale: 10^12 micro-micro-units. n * SCALE fits int64 for
#: any realistic node count, and 100 * SCALE < 2^63.
PR_SCALE = 1_000_000_000_000

#: Unrolled-iteration plan-depth bound for the linear iterative loops
#: (pagerank, label_propagation): checkpoint only every k-th round.
#: Each un-checkpointed round saves a blocking job + a full |V|-row
#: block-storage materialization; 4 rounds of join+agg keep the
#: Catalyst plan (and Spark 4's LogicalRDD size-estimate growth, see
#: connected_components) comfortably bounded.
_PR_CHECKPOINT_EVERY = 4


def cooccurrence_edges(
    df: DataFrame,
    *,
    group_col: str,
    item_col: str,
    max_group_size: int | None = None,
    min_support: int = 1,
) -> DataFrame:
    """Distinct undirected co-occurrence edges ``(a, b)`` with ``a < b``:
    two items are connected iff they appear together in at least
    ``min_support`` groups (order, basket, session, document).
    ``min_support >= 2`` is the standard market-basket noise filter —
    single co-occurrences in a large corpus are mostly chance."""
    # One shuffle (groupBy group), then the per-group pair set explodes
    # MAP-SIDE from the sorted item array — a self-equi-join would
    # shuffle the items twice more and re-shuffle the pair stream
    # (measured 15s vs 6s for the sf0.1 co-purchase graph).
    baskets = (
        df.select(F.col(group_col).alias("g"), F.col(item_col).alias("i"))
        .groupBy("g")
        .agg(F.sort_array(F.collect_set("i")).alias("arr"))
    )
    if max_group_size is not None:
        baskets = baskets.where(F.size("arr") <= max_group_size)
    pairs = F.explode(
        F.flatten(
            F.expr(
                "transform(arr, (x, ix) -> "
                "transform(slice(arr, ix + 2, size(arr)), y -> struct(x AS a, y AS b)))"
            )
        )
    ).alias("p")
    flat = baskets.select(pairs).select(
        F.col("p.a").alias("a"), F.col("p.b").alias("b")
    )
    if min_support <= 1:
        return flat.distinct()
    return (
        flat.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("__sup"))
        .where(F.col("__sup") >= int(min_support))
        .select("a", "b")
    )


def _degrees(edges: DataFrame) -> DataFrame:
    ends = edges.select(F.col("a").alias("n")).unionByName(
        edges.select(F.col("b").alias("n"))
    )
    return ends.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(node, n_triangles): how many triangles each node participates in.

    ``edges`` must be distinct undirected pairs with ``a < b`` (the
    :func:`cooccurrence_edges` contract).  Degree-ordered orientation
    bounds the wedge enumeration per node by the oriented out-degree.
    """
    # The edge set feeds degree counting, orientation, and the closing
    # probe — materialize it once (no ReusedExchange fires across
    # aggregate subtrees; unchecked, the derivation re-runs three times).
    edges = edges.localCheckpoint()
    deg = _degrees(edges)

    # Orient each edge from the (deg, id)-smaller endpoint to the larger.
    # Degree tables are |V| rows — broadcast them onto the |E|-row edge
    # set (at 100 TB |V| can outgrow the driver: drop the hint and these
    # become shuffle joins, same plan shape).
    e = (
        edges.join(F.broadcast(deg.withColumnsRenamed({"n": "a", "deg": "da"})), "a")
        .join(F.broadcast(deg.withColumnsRenamed({"n": "b", "deg": "db"})), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("o")
        )
        .select(F.col("o.u").alias("u"), F.col("o.v").alias("v"))
        .localCheckpoint()  # reused by the in-adjacency agg AND the closing probe
    )

    # Under the orientation every triangle has one source u with edges
    # u->v, u->w and the closing edge v->w — so each oriented edge (v, w)
    # closes exactly |N_in(v) ∩ N_in(w)| triangles.  Intersecting
    # in-neighbor ARRAYS per edge keeps the quadratic wedge work inside
    # whole-stage codegen instead of shuffling the wedge stream (measured
    # at sf0.1: 3.7s vs 11.7s for the wedge-join formulation on 41M
    # wedges / 1.9M triangles).  Exploding the intersection recovers u,
    # so per-node attribution stays exact.
    in_adj = e.groupBy("v").agg(F.collect_list("u").alias("ins"))
    in_v = in_adj.select("v", F.col("ins").alias("ins_v"))
    in_w = in_adj.select(F.col("v").alias("w"), F.col("ins").alias("ins_w"))
    tri = (
        e.select(F.col("u").alias("v"), F.col("v").alias("w"))
        .join(in_v, "v")
        .join(in_w, "w")
        .select(
            "v", "w", F.explode(F.array_intersect("ins_v", "ins_w")).alias("u")
        )
    )

    member = tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
    return member.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def pagerank(
    edges: DataFrame,
    *,
    iterations: int = 5,
    damping_pct: int = 85,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """(node, rank_micro): PageRank after a FIXED number of iterations in
    exact int64 arithmetic (micro-units of PR_SCALE; see module doc).

    ``edges`` are distinct undirected pairs (a < b); each becomes two
    directed edges, so every node has out-degree >= 1 and there are no
    dangling-mass corrections.  ``rank_micro`` is engine-portable: the
    DuckDB oracle reproduces every value exactly by unrolling the same
    integer recurrence.

    ``seeds`` (one column ``n``) switches to PERSONALIZED PageRank: the
    teleport mass (and the initial mass) is split over the seed set
    instead of all nodes — "relevance to these items" propagation, the
    related-items/recommendation shape.  Seeds not present in the edge
    set are ignored (they have no adjacency to propagate through).
    """
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"pagerank: damping_pct must be in [0, 100], got {damping_pct}")
    if iterations < 0:
        raise ValueError(f"pagerank: iterations must be >= 0, got {iterations}")
    edges = edges.localCheckpoint()  # feeds both the degree agg and the adjacency
    deg = _degrees(edges)  # undirected degree == directed out-degree
    n_nodes = deg.count()
    if n_nodes == 0:
        raise ValueError("pagerank: empty edge set")

    directed = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    # One shuffle-stable copy of the adjacency + degrees, reused every
    # iteration (re-deriving it per round would rescan the fact table).
    adj = directed.join(deg.withColumnRenamed("n", "src"), "src").localCheckpoint()

    if seeds is not None:
        seedset = deg.join(seeds.select("n"), "n", "left_semi").localCheckpoint(eager=False)
        n_seeds = cache_registry.materialize_count(seedset)
        if n_seeds == 0:
            raise ValueError("pagerank: no seed is present in the edge set")
        base = int(PR_SCALE) // n_seeds
        tele_val = (int(PR_SCALE) * (100 - damping_pct)) // (100 * n_seeds)
        flags = deg.select("n").join(
            F.broadcast(seedset.select("n", F.lit(True).alias("__seed"))), "n", "left"
        )
        # ranks-init is referenced exactly once (round 1's neighbor join),
        # so it needs no checkpoint of its own — one less blocking job
        # (optimization round 14, guide §1.2/§2.4: remove materializations
        # that don't cut recomputation). tele_table IS referenced every
        # round, so its checkpoint stays.
        ranks = flags.select(
            "n",
            F.when(F.col("__seed"), F.lit(base)).otherwise(F.lit(0))
            .cast("long")
            .alias("rank_micro"),
        )
        tele_col = F.when(F.col("__seed"), F.lit(tele_val)).otherwise(F.lit(0)).cast("long")
        tele_table = flags.select("n", tele_col.alias("__tele")).localCheckpoint()
    else:
        base = int(PR_SCALE) // n_nodes  # teleport-free initial mass per node
        teleport = (int(PR_SCALE) * (100 - damping_pct)) // (100 * n_nodes)
        ranks = deg.select("n", F.lit(base).cast("long").alias("rank_micro"))
        tele_table = deg.select("n", F.lit(teleport).cast("long").alias("__tele")).localCheckpoint()
    # The rank table is |V| rows vs the |E|-row adjacency: broadcast it so
    # each iteration is one map-side join + one partial-agg shuffle of |V|
    # rows, never a sort-merge of the adjacency (checkpointed RDD scans
    # carry no stats, so Catalyst would pick SMJ otherwise).  Past driver
    # memory (~hundreds of millions of nodes) drop the hint — plan shape
    # survives, with an extra exchange.
    bcast = n_nodes <= 5_000_000
    # The per-iteration chain is LINEAR — each ranks frame is referenced
    # exactly once (by the next iteration's neighbor join) — so unlike
    # connected_components (whose label frame is referenced twice per
    # round and measurably regressed when batched) the iterations can be
    # unrolled into ONE plan with no recomputation: each intermediate
    # ranks is evaluated exactly once (as its broadcast/shuffle subtree)
    # inside the single final action. Dropping the per-iteration
    # localCheckpoint removes one blocking job + one full |V|-row
    # materialization to block storage PER ROUND (at 100 TB that
    # materialization is real I/O, not just job latency). A checkpoint
    # every ``_PR_CHECKPOINT_EVERY`` rounds still bounds plan depth and
    # the Spark-4 stats-estimate growth for large iteration counts
    # (optimization round 14, guide §1.2 + §2.4).
    rounds = cache_registry.Slot()
    for i in range(int(iterations)):
        rsrc = ranks.withColumnRenamed("n", "src")
        inflow = (
            adj.join(F.broadcast(rsrc) if bcast else rsrc, "src")
            .select(
                F.col("dst").alias("n"),
                # `div` = exact integer division (DuckDB `//` twin); a
                # double `/` + cast can land one off at representation
                # boundaries and break the cross-engine hash.
                F.expr("rank_micro div deg").alias("__c"),
            )
            .groupBy("n")
            .agg(F.sum("__c").alias("__in"))
        )
        # Every node has inflow (symmetric edges), but keep the join left
        # + coalesce so a future directed-graph caller degrades safely.
        ranks = tele_table.join(inflow, "n", "left").select(
            "n",
            (
                F.col("__tele")
                + F.expr(f"({int(damping_pct)}L * coalesce(__in, 0L)) div 100")
            ).alias("rank_micro"),
        )
        if (i + 1) % _PR_CHECKPOINT_EVERY == 0 and (i + 1) < int(iterations):
            # Superseded plan-depth checkpoints release their
            # predecessor's blocks inline (optimization round 14) —
            # the new checkpoint truncates all lineage to them.
            ranks = rounds.checkpoint(ranks)
    return ranks.withColumnRenamed("n", "node")


#: Edge-count threshold where incident-only k-core degree maintenance
#: starts winning over the full per-round recompute (round-12 A/B,
#: BASELINE.md: recompute wins at 1.2M edges, incident at 119.6M; the
#: crossover is between — set an order of magnitude above the measured
#: small-scale loss so the default never pessimizes a bench-sized graph).
_KCORE_INCIDENT_MIN_EDGES = 10_000_000


def k_core(
    edges: DataFrame,
    k: int,
    *,
    max_iter: int = 50,
    incident_only: bool | None = None,
) -> DataFrame:
    """(node, core_deg): the k-core — the maximal subgraph where every
    node keeps degree >= k — by iterative peeling: drop all nodes below
    degree k, update degrees, repeat to fixpoint.  The classic density
    filter between raw co-occurrence graphs and clustering (peripheral
    one-off items never survive).

    Peeling converges in O(peel depth) rounds, with a
    ``localCheckpoint`` per round — the connected-components loop
    contract (un-checkpointed iterative plans re-evaluate prior rounds
    superlinearly; measured in operators/dedup.py).  The convergence
    probe is a short-circuiting isEmpty over the just-checkpointed
    low-degree frame, not a count job.

    ``incident_only=True`` (round 12, VERDICT r11 #5 — the same shape
    that fixed the CC loop's round cost): instead of re-AGGREGATING
    degrees over the FULL remaining edge set every round (the r9 probe
    measured that at 8.9×/step across 1×→100×, the worst graph slope),
    the degree frame is maintained INCREMENTALLY — each round touches
    only the edges INCIDENT to the just-dropped nodes: surviving
    endpoints of removed edges get a decrement (one small groupBy over
    the removed-edge set, ∝ peel activity, not |E|), and the dropped
    nodes leave the degree frame via an anti join.  The edge-set update
    is the same two-sided null filter either way.  The peel SEQUENCE is
    identical (degree-after-removal is a pure function of the edge
    set), so the fixpoint — unique, order-independent — is unchanged;
    equivalence to the recompute path and to a plain Python peeling
    reference is pinned in tests/test_graph.py.

    Default ``None`` = adaptive: the round-12 A/B (BASELINE.md) showed
    the incident path's extra per-round jobs (decrement agg + degree
    checkpoint) COST at small scale (8.7 vs 3.2 s on the 1.2M-edge sf0.1
    graph, where a full degree agg is one cheap shuffle) and pay at
    100TB shapes, so the switch keys on the checkpointed edge count
    (≥ ``_KCORE_INCIDENT_MIN_EDGES``). Pass True/False to pin a path.
    """
    if k < 1:
        raise ValueError(f"k_core: k must be >= 1, got {k}")
    # Lazy checkpoint fused with the path-selection count (round 15):
    # one job materializes the edge blocks AND yields |E|, where the
    # eager checkpoint + Dataset.count() chain cost three (checkpoint,
    # count's AQE stage, count's final stage). Superseded rounds release
    # their predecessor's blocks inline (optimization round 14): once
    # round r+1's frame materializes, round r's is unreachable (lineage
    # truncated). The initial edge checkpoint is round 0's cur — on the
    # recompute path it is chained like the rest (at scale it is the
    # largest block set in the loop); on the incident path it stays
    # resident by design (fixed edge frame, scanned every round).
    curs, lows = cache_registry.Slot(), cache_registry.Slot()
    cur = curs.checkpoint(edges.select("a", "b"), eager=False)
    n_edges = cache_registry.materialize_count(cur)
    if incident_only is None:
        incident_only = n_edges >= _KCORE_INCIDENT_MIN_EDGES
    if not incident_only:
        for _ in range(int(max_iter)):
            deg = _degrees(cur)
            # LAZY checkpoint + shuffle-free count: the convergence
            # probe doubles as the checkpoint materialization — one job
            # per peel round instead of two (eager-checkpoint job +
            # isEmpty job). materialize_count scans via the JVM RDD (a
            # Dataset.count() would pay a second AQE stage job for its
            # global agg), persisting every partition as it goes; both
            # anti-joins below then read resident blocks. Round 15,
            # VERDICT r14 #6 — the probe-cost cut without batched
            # peels' wasted rounds.
            low = lows.checkpoint(deg.where(F.col("deg") < k).select("n"), eager=False)
            if cache_registry.materialize_count(low) == 0:
                return deg.select(
                    F.col("n").alias("node"), F.col("deg").alias("core_deg")
                )
            cur = curs.checkpoint(
                cur.join(low.withColumnRenamed("n", "a"), "a", "left_anti")
                .join(low.withColumnRenamed("n", "b"), "b", "left_anti")
                .select("a", "b")
            )
        raise RuntimeError(f"k_core: no fixpoint within max_iter={max_iter} rounds")

    # The edge frame stays FIXED (checkpointed once): an edge (a, b)
    # decrements the alive endpoint exactly in the round its other
    # endpoint drops — a node is in `low` at most once (it leaves the
    # degree frame), and endpoints that dropped EARLIER cannot be in
    # `low` now, so filtering on just-dropped marks alone is exact with
    # no cumulative dropped-set bookkeeping. Per round: one scan of the
    # resident edge set with two broadcast-sized joins + a peel-
    # activity-sized agg + a |V|-row degree update — no per-round |E|
    # checkpoint and no per-round |E| shuffle (the first incident
    # implementation still re-checkpointed the shrinking edge set each
    # round and measured SLOWER than the recompute at ×100 — 325 vs
    # 291 s; this shape removes that cost).
    degs = cache_registry.Slot()
    deg = degs.checkpoint(_degrees(cur))
    for _ in range(int(max_iter)):
        # Lazy checkpoint + shuffle-free count probe — one job per
        # round, as in the recompute path above.
        low = lows.checkpoint(deg.where(F.col("deg") < k).select("n"), eager=False)
        if cache_registry.materialize_count(low) == 0:
            return deg.select(F.col("n").alias("node"), F.col("deg").alias("core_deg"))
        marked = cur.join(
            low.select(F.col("n").alias("a"), F.lit(1).alias("__da")), "a", "left"
        ).join(
            low.select(F.col("n").alias("b"), F.lit(1).alias("__db")), "b", "left"
        )
        # decrements accrue only to the NOT-just-dropped endpoint of an
        # edge whose other endpoint just dropped (both-dropped edges
        # decrement nobody who remains; previously-dead endpoints are
        # not in the degree frame, so their rows join away below)
        dec = (
            marked.where(F.col("__da").isNotNull() & F.col("__db").isNull())
            .select(F.col("b").alias("n"))
            .unionAll(
                marked.where(
                    F.col("__db").isNotNull() & F.col("__da").isNull()
                ).select(F.col("a").alias("n"))
            )
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("__dec"))
        )
        deg = degs.checkpoint(
            deg.join(low, "n", "left_anti")
            .join(dec, "n", "left")
            .select(
                "n",
                (F.col("deg") - F.coalesce(F.col("__dec"), F.lit(0))).alias("deg"),
            )
        )
    raise RuntimeError(f"k_core: no fixpoint within max_iter={max_iter} rounds")


def label_propagation(
    edges: DataFrame,
    *,
    iterations: int = 3,
) -> DataFrame:
    """(node, community): synchronous label propagation after a FIXED
    number of iterations — each round every node adopts its neighbors'
    most frequent label, ties to the smallest label (Raghavan et al.
    2007, made deterministic).  Fixing the round count and the tie rule
    makes the whole algorithm a pure function of the edge set, so —
    like :func:`pagerank` — it is HASH-CHECKABLE against a DuckDB
    oracle that unrolls the rounds as a CTE chain (exact counting, no
    floats anywhere).

    Per round: one |E|-row join label->neighbor, one (node, label)
    count agg (map-side combined), one per-node argmax AGGREGATE
    (``min_by(lbl, struct(-c, lbl))`` — most frequent label, ties to the
    smallest; replaced the row_number window in optimization round 14:
    identical output element-wise, and the agg partially combines
    map-side so the argmax exchange shrinks to one row per (map
    partition, node)).  ``localCheckpoint`` per round caps plan growth
    (the connected-components contract).
    """
    if iterations < 0:
        raise ValueError(
            f"label_propagation: iterations must be >= 0, got {iterations}"
        )
    # One slot holds the operator's OWN edge checkpoint (a new RDD even
    # when the caller passes an already-checkpointed frame), then each
    # label round: a superseded round's blocks are unreachable once the
    # next is checkpointed (optimization round 14), and the slot can only
    # ever free blocks this operator created — never the caller's
    # (round-15, VERDICT r14 "What's wrong" #2; pinned by
    # tests/test_graph.py::test_label_propagation_preserves_caller_checkpoint).
    # `edges` is read by `directed` and the initial labels, both
    # materialized before the first label checkpoint releases it.
    rounds = cache_registry.Slot()
    edges = rounds.checkpoint(edges)
    directed = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    directed = directed.localCheckpoint()

    # NOTE (optimization round 14): unrolling these rounds into one plan
    # the way :func:`pagerank` now does was MEASURED SLOWER here (warm
    # ~10.6 s -> ~20 s on the sf0.1 co-purchase graph, 3 reps) despite
    # the same linear reference structure — the per-round
    # row_number window (a full sort per round, no partial agg) chains
    # badly inside a single AQE execution, while the checkpointed
    # per-round plan lets each round's window run against a
    # materialized, accurately-sized input.  Kept per-round.
    labels = rounds.checkpoint(_degrees(edges).select("n", F.col("n").alias("lbl")))
    # NOT broadcast-joined per round: an interleaved A/B (10 reps each,
    # same session, optimization round 14) measured broadcast-labels ==
    # shuffle-labels at the median (1.33 vs 1.32 s/round) — the per-round
    # driver collect+broadcast buys nothing the 40 MB adjacency shuffle
    # wasn't already giving, unlike pagerank's case where the rank join
    # feeds a wide agg. Kept shuffle (one less driver round-trip/round).
    pending = 0
    for i in range(int(iterations)):
        freq = (
            directed.join(labels.withColumnRenamed("n", "src"), "src")
            .groupBy(F.col("dst").alias("n"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # Per-node argmax as a SECOND AGGREGATE instead of a row_number
        # window (optimization round 14, guide §2.3 "aggregate before
        # you shuffle"): min_by(lbl, struct(-c, lbl)) picks the most
        # frequent label with ties to the smallest — EXACTLY the old
        # window's (c DESC, lbl ASC) first row (c >= 1 so -c never
        # overflows; lexicographic struct order == the window's two-key
        # sort order; verified element-wise identical on the sf0.1
        # graph). Plan reality check (plans/r14/graph_part_communities
        # _round_{before,after}.txt): the struct-buffered min_by
        # compiles to SortAggregate, so per-partition sorts REMAIN —
        # the win is that the aggregate partially combines MAP-SIDE,
        # so the second exchange carries one row per (map partition,
        # node) instead of one per (node, label), and the
        # WindowGroupLimit pipeline drops out. Measured 0.32 vs 0.36
        # s/round interleaved.
        stepped = freq.groupBy("n").agg(
            F.expr("min_by(lbl, struct(-c, lbl))").alias("lbl")
        )
        labels = stepped
        # Checkpoint every OTHER round (round 15, VERDICT r14 #3): each
        # skipped checkpoint saves a blocking job plus a full |V|-row
        # block-storage materialization. Round 14's FULL unroll of this
        # loop measured 2× slower — but that was the row_number-window
        # round body; with the min_by agg (map-side partial combine) a
        # 2-round plan chains fine (measured at sf0.1: jobs 21 → 18 on
        # graph_part_communities, fresh-session walls flat-or-better).
        # The final round never checkpoints — the caller's action
        # evaluates it once directly (the linear-chain argument of
        # pagerank's unroll, bounded to depth 2).
        if pending == 1 and (i + 1) < int(iterations):
            labels = rounds.checkpoint(stepped)
            pending = 0
        else:
            pending += 1
    return labels.select(F.col("n").alias("node"), F.col("lbl").alias("community"))


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """(node, deg, n_triangles, coef_micro): local clustering coefficient
    ``2*T / (deg*(deg-1))`` in exact integer micro-units — the standard
    graph-health statistic (how clique-like each node's neighborhood is;
    a dedup-pair graph whose coefficients collapse is banding noise, not
    clusters).  Pure composition: triangle_counts x degrees, one
    broadcast join; only nodes with deg >= 2 (the coefficient is
    undefined below)."""
    deg = _degrees(edges)
    tri = triangle_counts(edges)
    return (
        deg.where(F.col("deg") >= 2)
        .join(tri, deg["n"] == tri["node"], "left")
        .select(
            F.col("n").alias("node"),
            "deg",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.expr(
                "(2 * coalesce(n_triangles, 0) * 1000000) div (deg * (deg - 1))"
            ).alias("coef_micro"),
        )
    )


def link_prediction_topk(
    edges: DataFrame,
    *,
    k: int = 5,
) -> DataFrame:
    """(node, candidate, common): top-k link predictions per node by
    COMMON-NEIGHBOR count — "items frequently co-bought with your item's
    neighbors but never with the item itself", the classic
    recommendation primitive over a co-occurrence graph.

    Candidates are 2-hop pairs (they share >= 1 neighbor), scored by one
    wedge-count aggregation, existing edges removed with a left-anti
    join, ranked per node under WindowGroupLimit.  Wedge enumeration is
    quadratic in degree — run this on a SUPPORT-THRESHOLDED graph
    (repeat co-occurrence), which is both the statistically honest
    signal for recommendations and the thing that bounds per-center
    fan-out; for dense graphs add a deterministic per-center neighbor
    cap (the IVF hot-cell-cap move, operators/dedup.py)."""
    if k < 1:
        raise ValueError(f"link_prediction_topk: k must be >= 1, got {k}")
    edges = edges.localCheckpoint()
    directed = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    d2 = directed.withColumnsRenamed({"v": "w"})
    cand = (
        directed.join(d2, "u")
        .where(F.col("v") != F.col("w"))
        .groupBy(F.col("v").alias("node"), F.col("w").alias("candidate"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    existing = edges.select(
        F.col("a").alias("node"), F.col("b").alias("candidate")
    ).unionByName(edges.select(F.col("b").alias("node"), F.col("a").alias("candidate")))
    nonedge = cand.join(existing, ["node", "candidate"], "left_anti")
    w = Window.partitionBy("node").orderBy(F.col("common").desc(), "candidate")
    return (
        nonedge.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select("node", "candidate", "common")
    )
