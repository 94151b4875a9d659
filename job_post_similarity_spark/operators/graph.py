"""Iterative graph analytics over edge DataFrames.

Connected components (the dedup-cluster labeler) lives in
``operators/dedup.py`` (min-label propagation + the large-star/
small-star O(log n)-round tier); this module adds PageRank — the
classic iterative-join workload — in INTEGER arithmetic so every
iteration is bit-exact across engines (parts-per-million rank units,
floor division; integer sums are order-independent, so no
float-summation drift between Spark's partial aggregates and any
oracle).

Scale shape per iteration: one equi-join of the (src, dst, outdeg)
edge table against the rank table on ``src`` and one hash aggregate
on ``dst`` — two Exchanges, both keyed on node ids, no driver-side
state. The edge+degree table is computed once and cached across
iterations; at 100 TB you'd pre-partition edges and ranks on the
node key so the join side of every iteration reuses one Exchange
(same pattern GraphX/Pregel uses for its routing table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from ..caching import cache_auto

RANK_UNIT = 1_000_000  # one "probability" in ppm units


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_ppm: int = 850_000,
    every_node_receives: bool = False,
) -> DataFrame:
    """PageRank in integer ppm units: every node starts at
    ``RANK_UNIT``; each iteration a node emits ``pr div outdeg`` along
    each out-edge and collects ``(1 - d) + d * sum(in-contribs)``
    with damping ``d`` applied as ``(damping_ppm * s) div RANK_UNIT``.

    Returns ``(node, pr)``. Deterministic to the bit at any
    parallelism: the only non-associative op is floor division, which
    happens OUTSIDE the distributed sums.

    Dangling nodes (no out-edges) leak their mass — the standard
    simplification; feed symmetric edge pairs (as the bipartite
    builders do) when you need none.

    Edges with a null ``src`` or ``dst`` are dropped.

    ``every_node_receives=True`` (safe exactly when every node has at
    least one IN-edge, e.g. any symmetric graph): skips the
    per-iteration left join against the node list — the contribution
    aggregate already yields one row per node — removing one join
    stage per iteration.
    """
    if iterations < 1:
        raise ValueError("pagerank needs iterations >= 1")
    e_src = F.col(src).alias("src")
    e_dst = F.col(dst).alias("dst")
    # a null endpoint is not a node: keeping it would invent a NULL
    # node and leak rank out of real nodes through its edges
    ed = edges.select(e_src, e_dst).filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    # The node list is only needed off the fast path: for the initial
    # constant ranks (iteration 1 specializes them away below) and the
    # per-iteration dangling rebuild. On the fast path skipping it
    # removes a union + distinct + persist from the plan entirely.
    nodes = None
    if not every_node_receives:
        nodes = (
            ed.select(F.col("src").alias("node"))
            .union(ed.select(F.col("dst").alias("node")))
            .distinct()
            .transform(cache_auto)  # referenced in every iteration's rebuild join
        )
    # out-degree via ONE window over the src-keyed exchange instead of
    # groupBy + self-join (two exchanges of the full edge table + the
    # join compute; the count over the partition is the same exact
    # integer) — and the persisted layout comes out hash(src), which
    # is the key every iteration's rank join reuses. Measured at
    # sf0.1: 2.77 s → 1.95 s for the full 3-iteration query.
    e = ed.withColumn(
        "outdeg", F.count(F.lit(1)).over(Window.partitionBy("src"))
    ).transform(cache_auto)
    try:
        base = RANK_UNIT - damping_ppm
        ranks = None
        for it in range(iterations):
            if it == 0:
                # Iteration-1 specialization: initial ranks are the
                # constant RANK_UNIT on every node, so the first
                # contribution pass needs NO rank join at all —
                # pr div outdeg is a map-side constant expression
                # over the edge table.
                contribs = e.select(
                    F.col("dst").alias("node"),
                    F.expr(f"{RANK_UNIT}L div outdeg").alias("__c"),
                )
            else:
                contribs = e.join(
                    ranks.withColumnRenamed("node", "src"), "src"
                ).select(
                    F.col("dst").alias("node"),
                    F.expr("pr div outdeg").alias("__c"),
                )
            sums = contribs.groupBy("node").agg(F.sum("__c").alias("__s"))
            if not every_node_receives:
                sums = nodes.join(sums, "node", "left")
            ranks = sums.select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.expr(
                        f"({damping_ppm}L * coalesce(__s, 0L))"
                        f" div {RANK_UNIT}L"
                    )
                ).alias("pr"),
            )
        # materialize before unpersisting the edge table the lineage
        # still references
        ranks = ranks.localCheckpoint(eager=True)
    finally:
        e.unpersist()
        if nodes is not None:
            nodes.unpersist()
    return ranks


def bipartite_edges(
    df: DataFrame, left_key: str, right_key: str, prefixes: tuple[str, str]
) -> DataFrame:
    """Symmetric (src, dst) edge list from a relation table: each
    distinct ``(left_key, right_key)`` pair becomes two directed
    edges, node ids prefixed so the two key spaces cannot collide."""
    lp, rp = prefixes
    # distinct on the RAW key pair (narrow fixed-width shuffle), then
    # build the prefixed string ids map-side — same output, cheaper
    # exchange than shuffling concatenated strings.
    raw = df.select(left_key, right_key).distinct()
    pairs = raw.select(
        F.concat(F.lit(lp), F.col(left_key).cast("string")).alias("a"),
        F.concat(F.lit(rp), F.col(right_key).cast("string")).alias("b"),
    )
    fwd = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    rev = pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    return fwd.union(rev)


def bipartite_edges_packed(
    df: DataFrame, left_key: str, right_key: str
) -> DataFrame:
    """``bipartite_edges`` with LONG node ids: ``key << 1 | side``
    (side 0 = left key space, 1 = right).  Same graph, same degrees,
    same ranks — but every shuffle in the downstream iterations moves
    fixed-width 8-byte keys instead of variable-length strings, which
    is the difference that compounds over PageRank's two exchanges
    per iteration.  Decode back to display ids with
    ``unpack_node_expr`` AFTER the iterative part."""
    raw = df.select(left_key, right_key).distinct()
    pairs = raw.select(
        F.shiftleft(F.col(left_key).cast("long"), 1).alias("a"),
        (F.shiftleft(F.col(right_key).cast("long"), 1) + 1).alias("b"),
    )
    fwd = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    rev = pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    return fwd.union(rev)


def unpack_node_expr(col, prefixes: tuple[str, str]):
    """Rebuild the prefixed string id from a packed long node id."""
    lp, rp = prefixes
    c = F.col(col) if isinstance(col, str) else col
    key = F.shiftright(c, 1).cast("string")
    return F.when(
        c.bitwiseAND(F.lit(1)) == 1, F.concat(F.lit(rp), key)
    ).otherwise(F.concat(F.lit(lp), key))


def group_pair_counts(gn: DataFrame) -> DataFrame:
    """Pair-count core shared by the co-occurrence graph builder and
    market-basket mining: from a ``(__g, __n)`` DataFrame ALREADY at
    distinct grain, count how many groups each canonical node pair
    (src < dst) shares. One per-group self-join keyed on the group
    (pair mass bounded by group size², never corpus size) + one pair
    aggregate. Output: ``(src, dst, weight)``.
    """
    left = gn.select("__g", F.col("__n").alias("src"))
    right = gn.select("__g", F.col("__n").alias("dst"))
    return (
        left.join(right, "__g")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    node_col: str,
    top_edges: int = 2000,
) -> DataFrame:
    """Build a sparse unipartite co-occurrence graph: connect nodes
    that share a group (e.g. suppliers sharing a part), weighted by
    the number of shared groups, keeping only the ``top_edges``
    strongest edges (weight desc, then (src, dst) asc — a total
    order, so the cut is deterministic at every scale factor).

    The top-E cut is the graph-sparsification step: co-occurrence
    graphs densify quadratically with group size, and downstream
    triangle/clustering analytics only want the strong backbone.
    Scale shape: DISTINCT (group, node) grain, then the shared
    ``group_pair_counts`` core, one TakeOrdered.
    """
    gn = (
        df.select(
            F.col(group_col).alias("__g"), F.col(node_col).alias("__n")
        )
        .filter(F.col("__g").isNotNull() & F.col("__n").isNotNull())
        .distinct()
        # group-key layout: the pair join's two children plan the
        # SAME exchange and AQE's ReusedExchange materializes it once
        .repartition("__g")
    )
    return (
        group_pair_counts(gn)
        .orderBy(F.desc("weight"), F.asc("src"), F.asc("dst"))
        .limit(top_edges)
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected edge list with
    ``src < dst`` canonical orientation. Output: ``(node, n_tri)``
    for nodes in at least one triangle, node asc.

    Shape: the id-orientation (a < b < c throughout) means each
    triangle is enumerated exactly once by one wedge join
    (a→b, b→c) closed by the (a, c) edge — two equi-joins, no
    cartesian. At web scale you'd re-orient edges by (degree, id)
    instead of raw id so the wedge count per node is bounded by
    arboricity (the Schank–Wagner ordering); the join shape is
    identical, only the orientation key changes — with the top-E
    sparsified input from ``cooccurrence_edges`` the id orientation
    is already bounded.
    """
    e = edges.select("src", "dst")
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = (
        ab.join(bc, "b")
        .join(ac, ["a", "c"])
        .select("a", "b", "c")
    )
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return per_node.orderBy("node")


def transitive_closure(
    edges: DataFrame,
    max_depth: int = 20,
) -> DataFrame:
    """Depth-bounded transitive closure of a DAG edge list
    ``(src, dst)`` — the recursive-CTE surface Spark lacks natively
    (org charts, BOM explosions, category trees): emits
    ``(src, dst, depth)`` for every path with ``depth`` = path
    length, depth ≤ ``max_depth``, keeping the SHORTEST depth per
    (src, dst) pair.

    Iterative frontier expansion: frontier_{d+1} = frontier_d ⋈
    edges, anti-joined against everything already reached (so each
    pair is emitted once at its first depth — this also terminates
    cycles: a revisited node is never re-expanded). Each round is
    one equi-join + one anti-join shuffling only the FRONTIER, and
    the frontier is localCheckpoint-truncated (the connected-
    components lineage lesson). Rounds = graph depth, bounded by
    ``max_depth``; an early-exit count stops at the fixpoint.

    At 100 TB the frontier join shuffles on dst — the same shape as
    one PageRank round; deep skinny hierarchies iterate cheaply,
    and the anti-join keeps dense DAGs from exponential re-expansion.
    """
    base = (
        edges.select(F.col("src"), F.col("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .transform(cache_auto)
    )
    # distinct column names on the edge side: a same-named self join
    # through localCheckpointed lineage trips Catalyst attribute
    # resolution (key-not-found on the checkpointed attrs)
    hop = base.select(
        F.col("src").alias("__hs"), F.col("dst").alias("__hd")
    )
    reached = base.withColumn("depth", F.lit(1)).localCheckpoint()
    frontier = reached
    for _ in range(1, max_depth):
        nxt = (
            frontier.join(hop, frontier["dst"] == hop["__hs"])
            .select(
                "src",
                F.col("__hd").alias("dst"),
                (F.col("depth") + 1).alias("depth"),
            )
            .filter(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.min("depth").alias("depth"))
            .join(reached.select("src", "dst"), ["src", "dst"], "left_anti")
            .localCheckpoint()
        )
        if nxt.limit(1).count() == 0:
            break
        reached = reached.unionByName(nxt).localCheckpoint()
        frontier = nxt
    base.unpersist()
    return reached.orderBy("src", "dst")


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """Semi-supervised label propagation over an undirected edge list:
    seed nodes carry fixed labels; each round every node adopts the
    majority label among its already-labeled neighbors (ties → the
    lexicographically smallest label; seeds never change). The
    graph-side twin of ``knn.knn_classify`` — labels flow through
    co-occurrence structure instead of embedding space.

    Determinism: the majority vote orders by (votes desc, label asc)
    — a total order — and rounds are a fixed count, so the result is
    engine-exact and an oracle can replay it with ``rounds`` unrolled
    CTE rounds (the PageRank oracle pattern).

    Scale shape: per round one join (edges ⋈ labels, shuffling the
    labeled frontier) + one (node, label) vote aggregate + one
    window pick; labels localCheckpointed per round (the CC lineage
    lesson). Output: ``(id, label, hops)`` — hops = round the node
    first acquired its label (0 for seeds); unlabeled (unreachable)
    nodes are absent.
    """
    from pyspark.sql.window import Window

    sym = (
        edges.select("src", "dst")
        .unionByName(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(cache_auto)
    )
    labels = seeds.select(
        F.col("id"), F.col("label"), F.lit(0).alias("hops")
    ).localCheckpoint()
    for r in range(1, rounds + 1):
        votes = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy(F.col("src").alias("nid"), "label")
            .agg(F.count(F.lit(1)).alias("__v"))
        )
        w = Window.partitionBy("nid").orderBy(
            F.desc("__v"), F.asc("label")
        )
        picked = (
            votes.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select(
                F.col("nid").alias("id"),
                "label",
                F.lit(r).alias("hops"),
            )
        )
        # already-labeled nodes keep their label (seeds immutable,
        # earlier hops win)
        new = picked.join(labels.select("id"), "id", "left_anti")
        labels = labels.unionByName(new).localCheckpoint()
    sym.unpersist()
    return labels.orderBy("id")


def tree_rollup(
    edges: DataFrame,
    values: DataFrame,
    value_col: str = "value",
    id_col: str = "id",
    max_depth: int = 20,
    include_self: bool = True,
) -> DataFrame:
    """Hierarchical rollup: for every node, aggregate ``value_col``
    over ALL its descendants (the BOM-explosion / org-chart-totals
    query) — ``transitive_closure`` composed with one join + one
    aggregate. ``include_self=True`` counts the node's own value too
    (nodes absent from ``values`` contribute nothing).

    Exactness: values accumulate as integer cents
    (``floor(v·100)`` per row BEFORE the sum — order-independent).
    Output: ``(node, n_desc, total_cents)`` where ``n_desc`` counts
    descendants (excluding self), ordered by node.
    """
    tc = transitive_closure(edges, max_depth).select("src", "dst")
    v = values.select(
        F.col(id_col).alias("dst"),
        F.floor(F.col(value_col).cast("double") * 100)
        .cast("long")
        .alias("__cents"),
    )
    desc = (
        tc.join(v, "dst", "left")
        .groupBy(F.col("src").alias("node"))
        .agg(
            F.count(F.lit(1)).alias("n_desc"),
            F.sum("__cents").alias("__dc"),
        )
    )
    if include_self:
        own = v.select(
            F.col("dst").alias("node"), F.col("__cents").alias("__oc")
        )
        out = desc.join(own, "node", "left").select(
            "node",
            "n_desc",
            (
                F.coalesce("__dc", F.lit(0))
                + F.coalesce("__oc", F.lit(0))
            ).alias("total_cents"),
        )
    else:
        out = desc.select(
            "node", "n_desc",
            F.coalesce("__dc", F.lit(0)).alias("total_cents"),
        )
    return out.orderBy("node")


def shortest_paths(
    edges: DataFrame,
    source: int,
    rounds: int = 10,
) -> DataFrame:
    """Single-source shortest paths over a weighted edge list
    ``(src, dst, weight)`` — bounded Bellman-Ford: ``rounds``
    relaxation sweeps of ``dist[dst] = min(dist[dst], dist[src] +
    w)``. Weights are integers (cost units — floor your floats
    upstream), so every relaxation is exact int64 min-plus and the
    result is engine-exact; an oracle replays it with the rounds
    unrolled (the PageRank/label-propagation oracle pattern).

    ``rounds`` ≥ graph diameter gives exact distances (classic BF
    bound: |V|−1); fewer rounds give the ≤-rounds-hop approximation
    — both deterministic. Negative edges are rejected (min-plus over
    unbounded negatives needs cycle detection this operator does not
    do).

    Scale shape per round: one equi-join (edges ⋈ frontier dists on
    src) + one min aggregate on dst + a min-merge with the standing
    table; dists localCheckpointed per round (the CC lineage lesson).
    Output: ``(id, dist)`` for reached nodes, ordered by id.
    """
    e = (
        edges.select("src", "dst", F.col("weight").cast("long"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .transform(cache_auto)
    )
    if e.filter(F.col("weight") < 0).limit(1).count() > 0:
        e.unpersist()
        raise ValueError("negative edge weights not supported")
    spark = edges.sparkSession
    dists = spark.createDataFrame(
        [(source, 0)], "id long, dist long"
    ).localCheckpoint()
    for _ in range(rounds):
        relaxed = (
            e.join(dists, e["src"] == dists["id"])
            .select(
                F.col("dst").alias("id"),
                (F.col("dist") + F.col("weight")).alias("dist"),
            )
        )
        merged = (
            dists.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
        # converged when no distance improved
        changed = (
            merged.alias("m")
            .join(dists.alias("d"), "id", "left")
            .filter(
                F.col("d.dist").isNull()
                | (F.col("m.dist") < F.col("d.dist"))
            )
            .limit(1)
            .count()
        )
        dists = merged
        if changed == 0:
            break
    e.unpersist()
    return dists.orderBy("id")
