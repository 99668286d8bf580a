"""Graph operators — connected components without GraphFrames.

Ref: boiler-generator unit inference builds a bipartite multigraph per
plant and labels units by connected component
(src/pudl/transform/eia.py:701-1065, networkx at :945-985). The
components there are tiny (per-plant) but numerous, so the Spark-first
form is iterative min-label propagation over the edges DataFrame:
each round every node adopts the smallest label among itself and its
neighbors; converges in O(component diameter) rounds (diameters in the
reference data are <= ~5). Large-scale safe: every round is one
self-join + groupBy-min on the same key — AQE reuses the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", max_iter: int = 20) -> DataFrame:
    """Label propagation + pointer jumping: returns (node, component)
    where component is the minimum node id reachable from node. Node
    ids must be orderable (int/string); labels are checkpointed every
    round (constant-depth lineage at any graph size). The round pins
    are executor-local blocks: on a preemptible cluster use
    ``checkpoint()`` with a reliable checkpoint dir instead.
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )
    # Self-loops make the per-round neighbor-min aggregation subsume
    # the node's own label, collapsing the old join-then-least step
    # into the single groupBy — one join fewer per round. They also
    # keep isolated-from-now-on nodes in the frame.
    sym = sym.union(
        sym.select(F.col("a"), F.col("a").alias("b")).distinct())
    # Reuse pin: every round joins the adjacency (event_sessions_cc
    # 4.74 s unpinned vs 2.09 s pinned at sf0.1, 4 cores).
    sym = sym.localCheckpoint(eager=False)
    # Round 1 needs no label table at all: propagating the identity
    # labeling through the neighbor-min is just min(neighbor id), and
    # the self-loops guarantee every node appears. This removes the
    # init-distinct shuffle AND the first join — two fewer jobs,
    # which on small/mid graphs is a large share of the wall time.
    # Lineage pin: the labels the rounds iterate from.
    labels = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("component"))
        .localCheckpoint(eager=False)
    )
    numeric = labels.schema["component"].dataType.typeName() in (
        "long", "integer", "short", "byte")
    # Fixpoint detection sums labels as DECIMAL(38,0): a plain long
    # sum can wrap modulo 2^64 (non-ANSI sessions wrap silently), so
    # two DIFFERENT labelings whose sums differ by a multiple of 2^64
    # could alias as "converged". Decimal sums cannot wrap — overflow
    # surfaces as null/error, never a false equality — and the headroom
    # (10^38 vs n * 2^63) covers any graph below ~10^19 nodes.
    _dsum = F.sum(F.col("component").cast("decimal(38,0)"))
    prev_sum = None
    if numeric:
        prev_sum = labels.agg(_dsum).collect()[0][0]
    for _ in range(1, max_iter):
        # min label over neighbors-plus-self (self-loop included)
        new = (
            sym.join(labels, on=sym["b"] == labels["node"])
            .select(F.col("a").alias("node"),
                    F.col("component").alias("nbr_component"))
            .groupBy("node")
            .agg(F.min("nbr_component").alias("component"))
        )
        # Pointer jumping (path halving): component <- label of the
        # component node itself. Turns per-round progress from one hop
        # into doubling, so convergence is O(log diameter) — the
        # difference between 40 and 6 shuffle rounds on a
        # 10^12-edge graph with long chains. The self-join consumes
        # `new` twice; recomputing its (join+agg) subtree inside ONE
        # job is cheaper than materializing it first (an extra
        # checkpoint write + job per round — measured 2x wall on
        # small/mid graphs, and at scale an exchange reuse serves the
        # second read anyway).
        jumped = new.alias("l").join(
            new.select(F.col("node").alias("component"),
                       F.col("component").alias("grand")).alias("g"),
            on="component", how="left")
        # Lineage pin, lazy: the convergence sum below is the round's
        # one action and materializes the blocks the next round reads.
        new = jumped.select(
            "node",
            F.least(F.col("component"),
                    F.coalesce(F.col("grand"), F.col("component")))
            .alias("component")).localCheckpoint(eager=False)
        if numeric:
            # Labels only ever decrease, so sum(component) is a strict
            # monotone; fixpoint <=> the sum stops moving. One cheap
            # aggregation on the materialized frame instead of a
            # label-to-label join per round. prev_sum is seeded from
            # round 1 before the loop, so None==None here means an
            # EMPTY edge set — converged by definition, not a skip.
            new_sum = new.agg(_dsum).collect()[0][0]
            done = new_sum == prev_sum
            prev_sum = new_sum
        else:
            done = (
                new.alias("n").join(labels.alias("o"), on="node")
                .filter(F.col("n.component") != F.col("o.component"))
                .limit(1).count() == 0
            )
        labels = new
        if done:
            break
    return labels


def triangle_stats(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Per-node triangle counts + local clustering coefficient via
    degree-oriented wedge closing (Schank & Wagner 2005; Suri &
    Vassilvitskii 2011 "curse of the last reducer").

    Input: undirected edge list (any orientation, duplicates OK).
    Output: (node, degree, n_triangles, clustering_coeff).

    The scale argument: enumerating wedges from the RAW adjacency
    costs sum(d_i^2) — quadratic in the max degree, and power-law
    graphs put that on one reducer. Directing every edge from its
    lower-(degree, id) endpoint to the higher caps the out-degree at
    O(sqrt(E)), so wedge enumeration is sum(dout_i^2) <= E^1.5 total
    and no single key dominates. Each triangle closes exactly once
    (at its lowest-ordered corner); the 3-corner credit is one
    explode + groupBy.
    """
    canon = (
        edges.select(F.least(F.col(src), F.col(dst)).alias("u"),
                     F.greatest(F.col(src), F.col(dst)).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # Reuse pin: deg, the orientation join and the output read canon
    # (part_copurchase_triangles 6.85 s unpinned vs 5.34 s at sf0.1).
    canon = canon.localCheckpoint(eager=True)
    # Degrees straight off the canonical (halved) edge list — each
    # edge contributes once per endpoint; the doubled frame the naive
    # form builds first is never needed.
    # Reuse pin: both orientation joins and the output read deg
    # (18.69 s unpinned vs 9.00 s at sf1, 4 cores).
    deg = (canon.select(F.col("u").alias("node"))
           .union(canon.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
           .localCheckpoint(eager=False))
    # Orient each CANONICAL edge from the endpoint that is smaller
    # under (degree, id) ordering — the classic total order that
    # bounds out-degree at O(sqrt(E)). One pass over E edges (not
    # 2E), flipping the pair when the higher-degree end came first.
    dd = canon.join(deg.withColumnRenamed("node", "u")
                    .withColumnRenamed("degree", "du"), "u") \
              .join(deg.select(F.col("node").alias("v"),
                               F.col("degree").alias("dv")), "v")
    keep = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    # Reuse pin: the closure join and both adjacency builds read it
    # (within noise on one unpinned process; kept until re-measured).
    oriented = dd.select(
        F.when(keep, F.col("u")).otherwise(F.col("v")).alias("ou"),
        F.when(keep, F.col("v")).otherwise(F.col("u")).alias("ov")
    ).select(F.col("ou").alias("u"), F.col("ov").alias("v")) \
     .localCheckpoint(eager=False)
    # Compact-forward closing (Latapy 2008): instead of materializing
    # every wedge (x -> y, x -> z) and shuffling that O(sum dout^2)
    # frame to a closure join, build each node's out-neighbor ARRAY
    # (bounded by the O(sqrt(E)) orientation cap, so collect_list is
    # safe) and close triangles per oriented edge with one codegen
    # array_intersect — same asymptotic work, zero wedge shuffle.
    # A triangle a<b<c (orientation order) closes exactly once, at
    # edge (a, b), with c in adj(a) ∩ adj(b).
    adj = oriented.groupBy("u").agg(F.collect_list("v").alias("nbrs"))
    e2 = (oriented
          .join(adj.select(F.col("u").alias("__au"),
                           F.col("nbrs").alias("u_nbrs")),
                F.col("u") == F.col("__au"))
          .join(adj.select(F.col("u").alias("__av"),
                           F.col("nbrs").alias("v_nbrs")),
                F.col("v") == F.col("__av"))
          .select("u", "v",
                  F.array_intersect("u_nbrs", "v_nbrs").alias("common"))
          .filter(F.size("common") > 0))
    # Per-corner credit: u and v each get |common|, every w in common
    # gets 1. ONE explode pass over e2 (r15, guide §2.1): the earlier
    # cu/cv/cw three-branch union consumed e2 three times, and each
    # branch replayed the whole closure-join tree — the r15
    # before-plan's dominant replication. Emitting all three credit
    # kinds as one concatenated struct array keeps the aggregate input
    # rows identical while evaluating e2 exactly once.
    credits = e2.select(F.explode(F.concat(
        F.array(
            F.struct(F.col("u").alias("node"),
                     F.size("common").cast("long").alias("c")),
            F.struct(F.col("v").alias("node"),
                     F.size("common").cast("long").alias("c"))),
        F.transform("common",
                    lambda w: F.struct(w.alias("node"),
                                       F.lit(1).cast("long")
                                       .alias("c"))))).alias("nc"))
    tri = (credits.select(F.col("nc.node").alias("node"),
                          F.col("nc.c").alias("c"))
           .groupBy("node").agg(F.sum("c").alias("n_tri")))
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            F.col("degree").cast("bigint").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint")
            .alias("n_triangles"),
            F.round(
                F.when(F.col("degree") >= 2,
                       F.lit(2.0)
                       * F.coalesce(F.col("n_tri"), F.lit(0))
                       / (F.col("degree") * (F.col("degree") - 1)))
                .otherwise(F.lit(0.0)), 6)
            .alias("clustering_coeff"))
    )
