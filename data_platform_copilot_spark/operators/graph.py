"""Connected components over near-duplicate pair lists.

Pair generation (jaccard/minhash/embedding) yields EDGES; dedup
pipelines need CLUSTERS — every document labeled with its component's
representative (min id) so one keeper per cluster survives. Two
methods, same (id, cluster) contract:

``method="propagation"`` — min-label propagation::

    label(v) <- min(label(v), min over neighbors(label(u)))

iterated to fixpoint. Convergence takes O(component diameter) rounds;
near-dup components are small and dense (dupes of one source), so a
handful of rounds suffice. Each round is one join (labels x edges) +
one groupBy(min) — shuffle keyed on vertex id.

``method="star"`` — the alternating large-star/small-star contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14). Each round rewires edges toward per-neighborhood minima:

    large-star(u): m = min(N(u) + {u}); emit (v, m) for v in N(u), v > u
    small-star(u): over edges directed large->small, m = min(N(u) + {u});
                   emit (v, m) for v in N(u), v != m, plus (u, m)

which converges in O(log n) rounds regardless of component DIAMETER —
the web-scale path when dup chains are long (propagation needs
O(diameter) rounds). Equivalence of the two methods is pinned in
tests/test_operators.py.

Both loops ``localCheckpoint`` their iteration state every few rounds:
without lineage truncation each round's plan nests the previous
round's, and by round ~20 plan analysis + task serialization dominate
the actual shuffles (an O(rounds^2) driver-side cost at cluster
scale). ``localCheckpoint`` (executor-local materialization, no HDFS
checkpoint dir needed) resets the plan to a leaf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.registry import _is_local, materialize_auto, truncate_lineage

_CHECKPOINT_EVERY = 4


class ConvergenceError(RuntimeError):
    """Raised when an iterative operator exhausts max_iters unconverged
    (returning partial labels would silently merge/split clusters)."""


def connected_components(pairs: DataFrame,
                         src: str = "id_a", dst: str = "id_b",
                         max_iters: int = 20,
                         method: str = "propagation") -> DataFrame:
    """(id, cluster): cluster = min id reachable from ``id``.

    Only vertices that appear in ``pairs`` are returned (isolated
    docs are their own cluster by definition — no need to carry
    them through the propagation).
    """
    if method not in ("propagation", "star"):
        raise ValueError(f"unknown method {method!r}")
    edges = (pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
             .unionAll(pairs.select(F.col(dst).alias("u"),
                                    F.col(src).alias("v")))
             .where(F.col("u") != F.col("v"))
             .distinct()
             .persist())
    try:
        if method == "star":
            return _star_components(edges, max_iters)
        return _propagation_components(edges, max_iters)
    finally:
        edges.unpersist()


def _propagation_components(edges: DataFrame, max_iters: int,
                            check_every: int = 2) -> DataFrame:
    # Convergence is probed every ``check_every`` rounds, not every
    # round: the probe (`count()`) is a driver-synchronized job, and
    # a fixed point stays fixed, so a cadence-k probe detects
    # convergence at most k-1 cheap no-op rounds late while cutting
    # the barrier count by k on long propagation chains.
    labels = (edges.select(F.col("u").alias("id"))
              .distinct()
              .withColumn("cluster", F.col("id")))
    pending: list[DataFrame] = []
    changed = -1
    for it in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges["v"] == labels["id"])
            .groupBy("u").agg(F.min("cluster").alias("nmin")))
        updated = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["u"],
                        "left")
            .select(labels["id"],
                    F.least("cluster", "nmin").alias("cluster"),
                    (F.col("nmin") < F.col("cluster")).alias("changed")))
        if (it + 1) % _CHECKPOINT_EVERY == 0:
            # checkpoint + stats rebase: inherited size estimates
            # compound exponentially across rounds otherwise
            # (sources/registry.truncate_lineage)
            updated = truncate_lineage(updated, eager=False)
        updated = updated.persist()
        pending.append(updated)
        labels = updated.select("id", "cluster")
        if (it + 1) % check_every == 0 or it == max_iters - 1:
            changed = updated.where("changed").count()
            # the probe materialized `updated`; earlier persists are
            # now safe to drop without re-triggering their lineage
            for p in pending[:-1]:
                p.unpersist()
            pending = pending[-1:]
            if changed == 0:
                return labels
    raise ConvergenceError(
        f"min-label propagation did not converge in {max_iters} rounds "
        f"({changed} labels still changing); raise max_iters or use "
        f"method='star' (O(log n) rounds)")


def _star_components(edges: DataFrame, max_iters: int) -> DataFrame:
    """Alternating large-star/small-star; ``edges`` arrives symmetrized."""
    cur = edges
    prev = None
    for it in range(max_iters):
        # large-star over the symmetrized neighborhood
        sym = (cur.unionAll(cur.select(F.col("v").alias("u"),
                                       F.col("u").alias("v")))
               .distinct())
        mins = (sym.groupBy("u").agg(F.min("v").alias("mv"))
                .select("u", F.least("mv", "u").alias("m")))
        large = (sym.join(mins, "u")
                 .where(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .where(F.col("u") != F.col("v"))
                 .distinct())
        # small-star over edges directed large -> small
        directed = (large.select(F.greatest("u", "v").alias("u"),
                                 F.least("u", "v").alias("v"))
                    .where(F.col("u") != F.col("v"))
                    .distinct())
        smins = directed.groupBy("u").agg(F.min("v").alias("m"))
        small = (directed.join(smins, "u")
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .unionAll(smins.select(F.col("u"), F.col("m").alias("v")))
                 .where(F.col("u") != F.col("v"))
                 .distinct())
        # Each round references `cur` ~8x (sym twice in the join, then
        # large/directed/small reuse), so a lazy plan grows 8^rounds —
        # an EAGER per-round localCheckpoint is mandatory here, not an
        # optimization (deferring to every 4th round OOMs the driver on
        # plan-tree bookkeeping alone).
        small = truncate_lineage(small)
        # converged when every edge already points at its component min:
        # one more large-star pass would change nothing <=> small == cur.
        # Unlike propagation, the probe runs EVERY round: star converges
        # in O(log n) rounds and each round costs ~8 shuffles, so a
        # skipped probe risks one full heavy round to save two small
        # jobs over checkpointed (already-materialized) inputs.
        delta = (small.unionAll(cur).distinct().count()
                 - small.intersect(cur).count())
        if prev is not None:
            prev.unpersist()
        prev = small
        cur = small
        if delta == 0:
            roots = cur.select(F.col("v").alias("id")).distinct()
            return (cur.select(F.col("u").alias("id"),
                               F.col("v").alias("cluster"))
                    .unionAll(roots.withColumn("cluster", F.col("id")))
                    .distinct())
    raise ConvergenceError(
        f"star contraction did not converge in {max_iters} rounds")


def pagerank(pairs: DataFrame, src: str = "id_a", dst: str = "id_b",
             iters: int = 3, damping: float = 0.85) -> DataFrame:
    """Fixed-iteration PageRank over an undirected pair list
    (symmetrized internally, so every node has out-degree >= 1 and no
    dangling-mass term is needed): (id, rank) after ``iters`` rounds
    of r' = (1-d)/N + d * sum(r_in / deg_in).

    Centrality over the near-dup graph ranks the most-connected
    representatives (which doc anchors a template family); fixed
    iteration count keeps it deterministic and lets any engine replay
    it exactly — convergence-driven variants just loop this operator.

    Shape per round: one edge-keyed join (ranks are |V|-sized, edges
    |E|-sized; the join keys on the edge's source) + one dst-keyed
    combine. The rank frame is localCheckpointed per round in local
    mode (plan growth is linear in iters otherwise); damping and the
    teleport term are scalar expressions.
    """
    edges = (pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
             .unionAll(pairs.select(F.col(dst).alias("u"),
                                    F.col(src).alias("v")))
             .where(F.col("u") != F.col("v"))
             .distinct()
             .persist())
    try:
        nodes = edges.select(F.col("u").alias("id")).distinct()
        n = nodes.count()
        if n == 0:  # empty graph: no vertices, no ranks
            return edges.sparkSession.createDataFrame(
                [], "id long, rank double")
        deg = edges.groupBy("u").agg(F.count("*").alias("deg"))
        ranks = nodes.withColumn("rank", F.lit(1.0 / n))
        for _ in range(iters):
            contrib = (edges
                       .join(ranks, edges["u"] == ranks["id"])
                       .join(deg, "u")
                       .select(F.col("v").alias("id"),
                               (F.col("rank") / F.col("deg"))
                               .alias("c")))
            ranks = (nodes
                     .join(contrib.groupBy("id")
                           .agg(F.sum("c").alias("s")), "id", "left")
                     .select("id",
                             (F.lit((1.0 - damping) / n)
                              + F.lit(damping)
                              * F.coalesce("s", F.lit(0.0)))
                             .alias("rank")))
            if _is_local(edges.sparkSession):
                ranks = truncate_lineage(ranks, eager=False)
        return ranks
    finally:
        edges.unpersist()


def triangle_stats(pairs: DataFrame, src: str = "id_a",
                   dst: str = "id_b") -> DataFrame:
    """Distributed triangle counting by degree-ordered edge
    orientation (Suri & Vassilvitskii 2011's MapReduce algorithm;
    the sequential ancestor is Chiba-Nishizeki compact-forward):
    canonicalize to undirected simple edges, orient every edge from
    its lower-(degree, id) endpoint to the higher, then a triangle
    is exactly one wedge u->v, u->w (v < w in the same order) whose
    closing edge v->w exists — each triangle counted ONCE from its
    lowest-ordered vertex.

    Why this is THE scale shape: the wedge join fans out on the
    ORIENTED out-degree, which the degree ordering bounds by
    O(sqrt(m)) per vertex (arboricity bound) — a hub with degree d
    contributes d^2 wedges if you join on the raw graph but only
    O(m) total after orientation. Two keyed self-joins, no
    broadcast, no per-vertex state.

    Returns ONE row: (n_vertices, n_edges, n_triangles, n_wedges,
    transitivity) where n_wedges counts unordered connected triples
    (sum over v of C(deg(v), 2)) and transitivity =
    3 * triangles / wedges (the global clustering coefficient).
    """
    e = (pairs.select(F.least(src, dst).alias("a"),
                      F.greatest(src, dst).alias("b"))
         .where(F.col("a") != F.col("b")).distinct())
    # e feeds three subtrees (degrees, orientation join, closing-edge
    # probe); materialize once so an expensive upstream (e.g. a kNN
    # join) isn't re-executed per subtree.
    e = materialize_auto(e)
    deg = (e.select(F.col("a").alias("v"))
           .unionAll(e.select(F.col("b").alias("v")))
           .groupBy("v").agg(F.count(F.lit(1)).alias("deg")))
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    ed = e.join(da, "a").join(db, "b")
    lo_first = ((F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b"))
                   & (F.col("a") < F.col("b"))))
    oriented = ed.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("w"))
    w1 = oriented.select(F.col("u").alias("u"), F.col("w").alias("v1"))
    w2 = oriented.select(F.col("u").alias("u"), F.col("w").alias("v2"))
    wedges = (w1.join(w2, "u")
              .where(F.col("v1") < F.col("v2")))
    closing = oriented.select(
        F.least("u", "w").alias("c1"), F.greatest("u", "w").alias("c2"))
    tri = (wedges.select(F.least("v1", "v2").alias("c1"),
                         F.greatest("v1", "v2").alias("c2"))
           .join(closing, ["c1", "c2"])
           .agg(F.count(F.lit(1)).cast("long").alias("n_triangles")))
    summary = (deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices"),
        (F.sum("deg") / 2).cast("long").alias("n_edges"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("long")
        .alias("n_wedges")))
    out = summary.crossJoin(F.broadcast(tri))
    transitivity = F.when(
        F.col("n_wedges") > 0,
        F.round(3.0 * F.col("n_triangles") / F.col("n_wedges")
                * 10000.0, 0) / 10000.0).otherwise(F.lit(0.0))
    return out.select("n_vertices", "n_edges", "n_triangles",
                      "n_wedges", transitivity.alias("transitivity"))


def label_propagation(edges: DataFrame, seeds: DataFrame,
                      rounds: int = 2) -> DataFrame:
    """Semi-supervised label propagation over a directed neighbor
    graph (Zhu & Ghahramani 2002's hard-label variant, the
    graph-based classifier behind kNN pseudo-labeling): seed nodes
    keep their label; each round, every still-unlabeled node takes
    the MAJORITY label of its already-labeled out-neighbors
    (ties -> lowest label; no labeled neighbors -> stays unlabeled
    until a later round).

    ``edges``: (query_id, neighbor_id) directed "I consult my k
    nearest" adjacency. ``seeds``: (vec_id, label). Returns
    (vec_id, label, round_assigned) with round_assigned = 0 for
    seeds.

    Deterministic by construction (count desc, label asc window), so
    a SQL replay value-gates every assignment. Scale: each round is
    one edge-keyed join against the current label frame + one
    (node, label) combine — the same join-per-superstep shape as
    ``pagerank``/``connected_components``; the label frame is
    lineage-truncated per round so iterative plans stay flat.
    """
    from pyspark.sql import Window as W

    labels = seeds.select("vec_id", "label",
                          F.lit(0).alias("round_assigned"))
    for r in range(1, rounds + 1):
        labels = truncate_lineage(labels)
        nbr = edges.join(
            labels.select(F.col("vec_id").alias("neighbor_id"), "label"),
            "neighbor_id")
        unl = nbr.join(labels.select(F.col("vec_id").alias("query_id")),
                       "query_id", "left_anti")
        votes = (unl.groupBy("query_id", "label")
                 .agg(F.count(F.lit(1)).alias("c")))
        win = W.partitionBy("query_id").orderBy(F.desc("c"), "label")
        newly = (votes.select("query_id", "label",
                              F.row_number().over(win).alias("rn"))
                 .where(F.col("rn") == 1)
                 .select(F.col("query_id").alias("vec_id"), "label",
                         F.lit(r).alias("round_assigned")))
        labels = labels.unionAll(newly)
    return labels


def kcore_peel(pairs: DataFrame, k: int = 3, rounds: int = 6,
               src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """k-core peeling profile (Matula & Beck 1983's degeneracy peel,
    the distributed variant used for community seeds and graph
    sparsification): repeatedly delete every vertex whose CURRENT
    degree is below k; the fixpoint is the k-core. Rather than only
    the fixpoint, this returns the CASCADE TRAJECTORY — one row per
    superstep with the surviving vertex/edge counts — because on
    sparse graphs (kNN graphs especially) the interesting fact is
    how the removal wave propagates: a 3-NN graph has min degree 3
    by construction (k=3 removes nothing), while k=4 usually
    cascades to empty in a few waves, and the wave shape is the
    degeneracy evidence.

    Runs a FIXED ``rounds`` supersteps so the computation is
    deterministic and SQL-replayable regardless of input (peeling is
    monotone, so equal counts in consecutive rounds IS the
    fixpoint). Each round is one degree combine + two semi joins,
    lineage-truncated — the same join-per-superstep shape as the
    other iterative operators.

    Returns rounds+1 rows: (round, n_vertices, n_edges), round 0 =
    the input graph.
    """
    e = (pairs.select(F.least(src, dst).alias("a"),
                      F.greatest(src, dst).alias("b"))
         .where(F.col("a") != F.col("b")).distinct())
    e = truncate_lineage(e)

    def snap(edges: DataFrame, i: int) -> DataFrame:
        verts = (edges.select(F.col("a").alias("v"))
                 .unionAll(edges.select(F.col("b").alias("v")))
                 .distinct())
        return (verts.agg(F.count(F.lit(1)).cast("long")
                          .alias("n_vertices"))
                .crossJoin(F.broadcast(
                    edges.agg(F.count(F.lit(1)).cast("long")
                              .alias("n_edges"))))
                .select(F.lit(i).cast("long").alias("round"),
                        "n_vertices", "n_edges"))

    out = snap(e, 0)
    cur = e
    for i in range(1, rounds + 1):
        deg = (cur.select(F.col("a").alias("v"))
               .unionAll(cur.select(F.col("b").alias("v")))
               .groupBy("v").agg(F.count(F.lit(1)).alias("d")))
        keep = deg.where(F.col("d") >= k).select("v")
        cur = (cur.join(keep.withColumnRenamed("v", "a"), "a", "left_semi")
               .join(keep.withColumnRenamed("v", "b"), "b", "left_semi"))
        cur = truncate_lineage(cur)
        out = out.unionAll(snap(cur, i))
    return out
