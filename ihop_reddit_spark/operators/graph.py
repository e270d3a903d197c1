"""Graph operators beyond connected components: fixed-iteration PageRank
as a Pregel-style DataFrame loop.

Arithmetic is EXACT-INTEGER throughout: ranks live in integer "units"
(``unit`` per node initially), per-edge contributions are ``rank div
out_degree``, and the damping update is ``(15·unit) div 100 + (85·recv)
div 100``. Integer division is identical in Spark and DuckDB (truncation
on non-negatives), and integer sums are order-independent — so a K-step
PageRank is bit-for-bit reproducible across engines, partitionings, and
reruns, unlike a floating-point implementation whose shuffle-order sums
drift. (Same engine-wide determinism rule as the decimal-cast float
aggregation in plans/query_catalog.py.)

Scale notes: each iteration is one shuffle join of edges×ranks on the
source key plus one aggregation shuffle on the destination key — the
standard message-passing plan. Edges and the node/degree frames are
multi-consumer (reused every iteration) and carried as scoped persists;
the per-iteration ``localCheckpoint(eager=False)`` bounds the logical
plan to constant size so iteration K doesn't replan K nested joins
(the same lineage rule as dedup.duplicate_components' star rounds).

Truncation loses up to (out_degree-1) + 1 units per node per iteration —
at unit=10^12 that is a relative error < 1e-8 per step, far below any
ranking-relevant signal; mass is not exactly conserved and that is fine
for ranking (this mirrors how integer-quantized embedding math trades
exact IEEE parity for exact integer parity, functions/vectors.py).

Companion to connected components (datapipe/dedup.py:duplicate_components);
the reference has no graph tier at all — this is part of the engine's
extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import register_scoped_persists

DEFAULT_UNIT = 1_000_000_000_000


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 5,
    unit: int = DEFAULT_UNIT,
) -> DataFrame:
    """K-iteration PageRank (damping 0.85) over the DISTINCT directed
    edge set. Returns ``(node, rank_units)`` with rank_units LONG.

    Nodes are sources ∪ destinations; a node with no out-edges (dangling)
    contributes nothing (its mass evaporates — the usual simplification;
    a symmetric co-occurrence graph has none).

    Overflow contract: total mass is ``n_nodes · unit`` and a maximal hub
    can receive nearly all of it, so pick ``unit`` such that
    ``n_nodes · unit · 85 < 2^63`` (the default 10^12 is safe to ~10^5
    nodes; drop to 10^9 for ~10^8-node graphs — 9 decimal digits of rank
    resolution is far beyond ranking noise). Spark's non-ANSI arithmetic
    would wrap silently past that.
    """
    e = edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst"))
    # one up-front hash partition on the message key: every iteration's
    # edges⋈contrib join then reuses the persisted partitioning instead
    # of re-exchanging the (large) edge side K times (measured 16% at
    # sf0.1; at cluster scale it is the difference between K and 1 edge
    # shuffles whenever contrib outgrows the broadcast threshold)
    # repartition FIRST, then dedup: hash partitioning on __src already
    # satisfies the (__src, __dst) clustering dropDuplicates needs, so the
    # dedup runs in the same stage with NO second exchange (the old
    # distinct().repartition() shape exchanged the edge set twice — once
    # on the pair, once on the key)
    e = e.repartition("__src").dropDuplicates(["__src", "__dst"]).persist()
    deg = e.groupBy("__src").agg(F.count(F.lit(1)).alias("__deg"))
    nodes = (
        e.select(F.col("__src").alias("node"))
        .union(e.select(F.col("__dst").alias("node")))
        .distinct()
        .join(deg.withColumnRenamed("__src", "node"), "node", "left")
        .persist()
    )
    base = F.lit((15 * unit) // 100).cast("long")
    # carry the out-degree INSIDE ranks: the contribution step is then a
    # pure projection instead of a per-iteration ranks⋈nodes join (r14 —
    # K fewer joins; the rebuild join against the node universe remains,
    # it is what re-materializes rank rows for message-less nodes)
    ranks = nodes.select(
        "node", "__deg", F.lit(unit).cast("long").alias("rank_units")
    )
    for _ in range(iterations):
        contrib = ranks.where(F.col("__deg").isNotNull()).select(
            F.col("node").alias("__src"),
            F.expr("rank_units div __deg").alias("__c"),
        )
        recv = (
            e.join(contrib, "__src")
            .groupBy("__dst")
            .agg(F.sum("__c").alias("__m"))
            .withColumnRenamed("__dst", "node")
        )
        ranks = (
            nodes.select("node", "__deg")
            .join(recv, "node", "left")
            .select(
                "node",
                "__deg",
                (
                    base
                    + F.expr("(85 * coalesce(__m, 0L)) div 100")
                ).cast("long").alias("rank_units"),
            )
            .localCheckpoint(eager=False)
        )
    return register_scoped_persists(
        ranks.select("node", "rank_units"), e, nodes
    )


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    per_node: bool = True,
) -> DataFrame:
    """Exact triangle counting via the degree-ordered wedge join (the
    classic MapReduce formulation — Suri & Vassilvitskii's "last
    reducer" fix, public algorithm).

    Input edges may be directed/duplicated either way; they are first
    symmetrized to the canonical undirected set. Each edge is then
    ORIENTED from its lower-(degree, id) endpoint to the higher, so:

    * every triangle is enumerated exactly once (by its lowest-ordered
      vertex), and
    * the wedge join's fan-out per vertex is its OUT-degree under the
      orientation, which is O(√m) on any graph — a power-law hub with
      raw degree d no longer produces d² wedge candidates. That bound,
      not the raw-degree one, is what survives a 100 TB co-occurrence
      graph (per-order part cliques make raw degrees quadratic-prone
      here exactly as in the real web/social cases).

    Plan: two shuffles to build degrees + orientation, one self-join on
    the wedge pivot, one semi-join back to edges to close the wedge —
    all AQE-decided equi-joins, no driver participation.

    Returns per-node triangle counts (``node``, ``triangles``) by
    default, or the single global count with ``per_node=False``.
    """
    und = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .union(
            edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v"))
        )
        .where(F.col("u") < F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    withdeg = (
        und.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("d", "du")
        .join(
            deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v"
        )
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = withdeg.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(e2, F.col("e1.hi") == F.col("e2.lo")).select(
        F.col("e1.lo").alias("a"),
        F.col("e1.hi").alias("b"),
        F.col("e2.hi").alias("c"),
    )
    # a wedge a→b→c implies a precedes c in the (degree, id) total
    # order, so the closing edge — if present — is oriented a→c: one
    # directed probe suffices, no symmetric union needed
    closing = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tris = wedges.join(closing, ["a", "c"], "left_semi")
    if not per_node:
        return tris.agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    return (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    rounds: int = 3,
    with_stability: bool = False,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan
    et al. 2007) with a total deterministic tie-break — ``rounds`` fixed
    sweeps where every node simultaneously adopts the label most
    frequent among its neighbors, ties to the SMALLEST label.

    Determinism is the design choice: the classic asynchronous LPA is
    visit-order-dependent (different runs, different communities); the
    synchronous variant with a total tie-break is a pure function of the
    edge set, so results are bit-identical across engines, partitionings
    and reruns — same engine rule as integer PageRank above. The known
    cost is two-coloring oscillation on bipartite-ish regions, bounded
    here by the fixed round count callers control (communities are a
    curation signal, not a fixpoint contract).

    Scale shape per round: one join of the symmetrized edge set against
    the label frame on the neighbor key, one (node, label) count
    aggregation, one ``max_by`` argmax per node — all AQE-decided
    equi-joins keyed like PageRank's message pass, with the edge side
    hash-partitioned once up front and reused every round.
    ``localCheckpoint(eager=False)`` bounds lineage per round.

    Nodes are edge endpoints (an isolated node has no edges to vote
    with); labels start as the node id. Returns ``(node, label)``; with
    ``with_stability=True`` a boolean ``changed`` column is added —
    whether the node's label moved in the FINAL round. ``changed`` is
    the caller's oscillation instrument: on a converged graph it is all
    false, while on the documented two-coloring pathology (bipartite
    regions under synchronous sweeps) it stays true forever — exposing
    it lets pipelines gate on "fraction still moving" instead of
    trusting a fixed round count blindly.
    """
    und = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .union(
            edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v"))
        )
        .where(F.col("u") != F.col("v"))
        .repartition("v")  # the per-round join key (neighbor side)
        # dedup AFTER the repartition: v-partitioning satisfies the
        # (u, v) clustering, so this adds no second edge exchange
        .dropDuplicates(["u", "v"])
        .persist()
    )
    labels = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    prev = labels
    for _ in range(rounds):
        prev = labels
        votes = (
            und.join(labels, und["v"] == labels["node"])
            .groupBy(F.col("u"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.groupBy(F.col("u").alias("node"))
            .agg(
                # min_by over (−count, label): highest count first, ties
                # to the SMALLEST label. Only the count is negated (it is
                # always numeric), so the tie-break works for ANY
                # orderable label type — string node ids included, where
                # a −label negation would fail to resolve.
                F.min_by(
                    "label", F.struct((-F.col("c")).alias("nc"), F.col("label"))
                ).alias("label")
            )
            .localCheckpoint(eager=False)
        )
    if with_stability:
        labels = labels.join(
            prev.select(
                F.col("node"), F.col("label").alias("__prev_label")
            ),
            "node",
        ).select(
            "node",
            "label",
            (F.col("label") != F.col("__prev_label")).alias("changed"),
        )
    return register_scoped_persists(labels, und)


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """EXACT Newman modularity of a node partition:
    ``Q = Σ_c [ e_c/m − (d_c / 2m)² ]`` over communities c, with m the
    undirected edge count, e_c the within-community edge count and d_c
    the community degree sum.

    Emitted as the exact integer numerator over the common denominator
    4m²: ``q_num = Σ_c (4·m·e_c − d_c²)`` — integer sums are
    order-independent, so the score is bit-reproducible cross-engine
    (the same engine rule as integer PageRank), with the IEEE-double
    ``q = q_num / (4m²)`` alongside for human consumption. Squares and
    products run in DECIMAL(38,0), exact to ~10^19 edges.

    One row: (m_edges, n_communities, q_num decimal, q double).
    ``labels`` is (node, label) as produced by ``label_propagation``.
    """
    und = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .union(
            edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v"))
        )
        .where(F.col("u") < F.col("v"))
        .distinct()
        .persist()
    )
    lab = labels.select("node", "label")
    both = und.join(
        lab.select(F.col("node").alias("u"), F.col("label").alias("lu")), "u"
    ).join(
        lab.select(F.col("node").alias("v"), F.col("label").alias("lv")), "v"
    )
    e_c = (
        both.where(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("label"))
        .agg(F.count(F.lit(1)).alias("ec"))
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    d_c = (
        deg.join(lab, "node")
        .groupBy("label")
        .agg(F.sum("d").alias("dc"))
    )
    m_df = und.agg(F.count(F.lit(1)).alias("m"))
    dec = "decimal(38,0)"
    per_c = (
        d_c.join(e_c, "label", "left")
        .crossJoin(F.broadcast(m_df))
        .select(
            (
                F.lit(4).cast(dec)
                * F.col("m").cast(dec)
                * F.coalesce(F.col("ec"), F.lit(0)).cast(dec)
                - F.col("dc").cast(dec) * F.col("dc").cast(dec)
            ).alias("term")
        )
    )
    out = per_c.agg(
        F.sum("term").cast(dec).alias("q_num"),
        F.count(F.lit(1)).cast("long").alias("n_communities"),
    ).crossJoin(F.broadcast(m_df.select(F.col("m").cast("long"))))
    return register_scoped_persists(
        out.select(
            F.col("m").alias("m_edges"),
            "n_communities",
            "q_num",
            (
                F.col("q_num").cast("double")
                / (F.lit(4.0) * F.col("m").cast("double") * F.col("m").cast("double"))
            ).alias("q"),
        ),
        und,
    )


def kcore(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    max_rounds: int = 16,
) -> DataFrame:
    """The k-CORE of an undirected graph — the maximal subgraph where
    every node keeps degree ≥ k — by iterative peeling to the FIXPOINT
    (Matula & Beck's classic algorithm, distributed form): each round
    drops every node whose CURRENT degree is below k and restricts the
    edge set to survivors; deleting one node can push neighbors below
    k, so the loop runs until a round removes nothing.

    Determinism: the k-core is a unique subgraph (no tie-breaks exist
    to take), so the result is a pure function of the edge set —
    bit-identical across engines, which is what lets the oracle unroll
    the same peel as chained SQL CTEs (extra unrolled rounds past the
    fixpoint are no-ops, so a generous fixed unroll matches the exact
    fixpoint).

    Scale shape per round (r12 rewrite — the BFS one-action-per-round
    discipline of 1d8b807 applied here): degrees update INCREMENTALLY
    instead of being re-aggregated from the edge set. Each round drops
    the ``bad`` nodes (current degree < k) and subtracts, per surviving
    neighbor, the edges lost to them: ``bad`` shrinks to a handful of
    nodes after the first peel, so every join against it is an
    AQE-broadcast and the EDGE SET IS NEVER RESHUFFLED after the
    initial dedup — the old shape exchanged the full edge set three
    times per round (union-regroup degree + two semi-joins), which
    made the peel scheduling-overhead-bound at bench scale and
    shuffle-bound at cluster scale. ``localCheckpoint(eager=False)``
    bounds lineage; rounds are O(peel depth) — the degeneracy
    ordering's layer count, single digits on co-occurrence graphs. The
    convergence probe is ONE count per round (nodes still below k).
    ``max_rounds`` is a loud guard, not a truncation: exceeding it
    raises rather than returning a half-peeled set.

    Returns ``(node, core_degree)`` — survivors with their degree
    INSIDE the core subgraph. Empty frame when no k-core exists.
    """
    # canonicalize in ONE pass: (least, greatest) per input row equals
    # the both-directions-union + u<v filter but feeds the dedup half
    # the rows (self-loops drop via u<v; instrumented r12: the edge
    # build, not the peel, dominated this operator's wall clock)
    live = (
        edges.select(
            F.least(src_col, dst_col).alias("u"),
            F.greatest(src_col, dst_col).alias("v"),
        )
        .where(F.col("u") < F.col("v"))
        .distinct()
        .persist()
    )
    deg = (
        live.select(F.col("u").alias("node"))
        .union(live.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .persist()
    )
    scoped = [live, deg]
    for _ in range(max_rounds):
        bad = deg.where(F.col("d") < k)
        # FULL count, not limit(1): the probe doubles as the round's
        # materialization barrier — it fills deg's cache (and live's
        # lazy checkpoint) completely, so the next round's plan reads
        # InMemoryRelations instead of re-deriving the whole join chain
        if bad.count() == 0:
            return register_scoped_persists(
                deg.select(
                    "node", F.col("d").cast("long").alias("core_degree")
                ),
                *scoped,
            )
        bu = bad.select(F.col("node").alias("u"))
        bv = bad.select(F.col("node").alias("v"))
        # per-survivor count of edges lost to this round's drops: only
        # the (bad, survivor) mixed edges matter — (bad, bad) edges
        # vanish with both endpoints
        loss = (
            live.join(bu, "u", "left_semi")
            .join(bv, "v", "left_anti")
            .select(F.col("v").alias("node"))
            .union(
                live.join(bv, "v", "left_semi")
                .join(bu, "u", "left_anti")
                .select(F.col("u").alias("node"))
            )
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("loss"))
        )
        deg = (
            deg.join(bad.select("node"), "node", "left_anti")
            .join(loss, "node", "left")
            .select(
                "node",
                (
                    F.col("d") - F.coalesce(F.col("loss"), F.lit(0))
                ).alias("d"),
            )
            # localCheckpoint, NOT persist: deg references deg AND live
            # references deg (via bad), so without plan truncation the
            # logical tree quadruples per round and the explain string
            # alone OOMs the driver by round ~10; the checkpoint both
            # caches the rows and resets the plan to a LogicalRDD leaf
            .localCheckpoint(eager=False)
        )
        live = (
            live.join(bu, "u", "left_anti")
            .join(bv, "v", "left_anti")
            .localCheckpoint(eager=False)
        )
    raise ValueError(
        f"k-core peel did not converge within max_rounds={max_rounds};"
        " raise the bound (the oracle unroll must grow with it)"
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    *,
    directed: bool = False,
) -> DataFrame:
    """Multi-source BFS hop distances — frontier-at-a-time message
    passing (the distributed single-source/multi-source shortest-path
    primitive for unweighted graphs; GraphFrames' ``shortestPaths``
    grain, re-expressed as DataFrame joins).

    Determinism: hop distance is MIN over path lengths — no tie-breaks
    — so like pagerank/kcore the result is a pure function of
    (edge set, seed set) and is hash-gated cross-engine; the oracle
    unrolls levels as chained CTEs and takes ``MIN(dist)`` per node.

    Scale shape per level: one equi-join frontier✕edges on the source
    key plus one anti-join against the visited set (both AQE-decided;
    the frontier is usually the small side and broadcasts). The visited
    set carries distances and grows monotonically — each level is
    ``localCheckpoint(eager=False)``-bounded so level K never replans K
    nested joins. Levels run exactly ``max_hops`` times or until the
    frontier empties, whichever is first — a bounded-hop contract
    (unreached nodes are simply absent; callers wanting ∞ semantics
    left-join the node universe).

    Returns ``(node, dist)`` with ``dist`` in [0, max_hops].
    """
    ed = edges.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
    )
    if not directed:
        ed = ed.union(
            edges.select(
                F.col(dst_col).alias("s"), F.col(src_col).alias("d")
            )
        )
    # one up-front hash partition on the join key (the pagerank
    # discipline): every hop's frontier⋈edges join reuses the persisted
    # partitioning instead of re-exchanging the (large) edge side per
    # level — measured 25.1s → ~4s at sf0.1 on the co-purchase graph
    # repartition first, dedup second: partitioning on s satisfies the
    # (s, d) clustering, so dropDuplicates adds no second exchange (the
    # pagerank discipline, one edge shuffle instead of two)
    ed = (
        ed.where(F.col("s") != F.col("d"))
        .repartition("s")
        .dropDuplicates(["s", "d"])
        .persist()
    )
    scoped = [ed]

    visited = (
        sources.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=False)
    )
    frontier = visited.select("node")
    for hop in range(1, max_hops + 1):
        reached = (
            frontier.join(ed, frontier["node"] == ed["s"])
            .select(F.col("d").alias("node"))
            .distinct()
        )
        fresh = (
            reached.join(visited, "node", "left_anti")
            .withColumn("dist", F.lit(hop).cast("long"))
            .localCheckpoint(eager=False)
        )
        # ONE action per level: the count both materializes the level's
        # checkpoint and decides termination
        if fresh.count() == 0:
            break
        visited = visited.unionByName(fresh).localCheckpoint(
            eager=False
        )
        frontier = fresh.select("node")
    return register_scoped_persists(visited, *scoped)
