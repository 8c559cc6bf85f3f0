"""Distributed connected components — the clustering step of near-dup
deduplication (pairs → clusters → one survivor per cluster).

Algorithm: iterative minimum-label propagation. Every node starts
labeled with itself; each round, a node adopts the smallest label among
itself and its neighbors; stop when a round changes nothing. Rounds
needed = graph diameter — near-dup graphs are unions of small dense
cliques (diameter 1-3), so this converges in 2-4 rounds.

Scale posture (100 TB):

- Each round is ONE shuffle: an edge-labels join keyed on the node id,
  then a min-aggregation on the neighbor — both hash-partitioned on
  high-cardinality node ids.
- ``ckpt`` (operators/checkpoint.py: localCheckpoint by default, a
  reliable ``checkpoint`` under the session's reliability switch)
  after every round truncates lineage, so the plan
  does not grow with iterations (the classic iterative-algorithm trap).
- The convergence test moves a single count to the driver — control
  flow only, never data.
- For adversarial graphs (long chains, web-crawl link graphs) the
  round count becomes O(diameter); the published fix is the
  large-star/small-star algorithm (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14), which contracts paths
  and converges in O(log²) rounds regardless of diameter —
  implemented below as :func:`connected_components_contracting` and
  oracle-checked against the same recursive-CTE reachability contract
  (x2_neardup_clusters_contracting). Shallow duplicate cliques favor
  the simpler propagation form; deep components favor contraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoint import ckpt, ckpt_fused, count_rows


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst",
                         max_iter: int = 20) -> DataFrame:
    """Label every node of an undirected graph with the minimum node id
    reachable from it. ``edges`` may list each pair once in either
    direction. Returns ``(node, component)``.
    """
    # Checkpoint the undirected edge relation ONCE: it is re-joined in
    # every round, and without the barrier each round would recompute
    # the caller's whole edge-producing plan (for near-dup clustering
    # that is the full inverted-index pair join — measured 6× the total
    # runtime at sf0.1 before this barrier).
    und = ckpt(edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
               .union(edges.select(F.col(dst).alias("u"),
                                   F.col(src).alias("v")))
               .distinct())
    # The seed labels derive from the checkpointed ``und``, and round
    # 1's ckpt_fused truncates below them, so they need no barrier.
    labels = (und.select(F.col("u").alias("node"))
                 .distinct()
                 .withColumn("component", F.col("node")))
    converged = False
    for _ in range(max_iter):
        nbr_min = (und.join(labels,
                            und.v == labels.node)
                      .groupBy(F.col("u").alias("node"))
                      .agg(F.min("component").alias("nbr_component")))
        new_component = F.least(
            "component", F.coalesce("nbr_component", "component"))
        # Carry the per-node changed flag through the checkpoint so the
        # convergence test is a filter-count over already-materialized
        # rows — no extra new-vs-old join job per round. r16: the
        # checkpoint is LAZY (ckpt_fused) — the count below is the
        # materializing job, and an RDD-level one (count_rows), so each
        # round runs ONE job where r15 ran an eager materialization
        # plus a two-job DataFrame count. The count scans the full
        # relation (no limit/take), so every block lands exactly as the
        # eager form left it.
        stepped = ckpt_fused(
            labels.join(nbr_min, "node", "left")
                  .select("node",
                          new_component.alias("component"),
                          (new_component != F.col("component"))
                           .alias("_changed")))
        changed = count_rows(stepped.filter("_changed"))  # control flow
        labels = stepped.drop("_changed")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "rounds — the graph has components deeper than the round "
            "budget; raise max_iter or switch to "
            "connected_components_contracting (large-star/small-star) "
            "for deep graphs")
    return labels


def connected_components_contracting(edges: DataFrame, src: str = "src",
                                     dst: str = "dst",
                                     max_iter: int = 25) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the deep-graph form of
    :func:`connected_components`. Label propagation needs O(diameter)
    rounds; star contraction converges in O(log² n) rounds regardless
    of diameter, which is what a web-crawl link graph or a long
    duplicate *chain* (A~B~C~…~Z where only adjacent pairs are
    near-dups) needs at 100 TB.

    One round = two operations over the current edge multiset, each a
    single groupBy-shuffle keyed on a node id:

    - **large-star**: for every node u, connect each *strictly larger*
      neighbor v to m(u) = min(N(u) ∪ {u}); this hangs big nodes off
      their neighborhood minimum without ever increasing edge count.
    - **small-star**: for every node u, connect each neighbor v ≤ u
      (and u itself) to m(u); this contracts the small side.

    Both rewrites preserve connectivity (each replaced edge stays in
    the same component) and monotonically pull every component toward
    its minimum id; the fixed point is a star centered on that minimum.
    Returns ``(node, component)`` exactly like the propagation form —
    the two are interchangeable (self-loop-only nodes are re-added as
    singleton components, matching propagation's labeling — ADVICE
    r3), and the near-dup cluster query checks them against the same
    recursive-CTE oracle.

    Convergence is detected from ONE aggregation job per round over
    the already-checkpointed edge set: (count, xor-of-hash ×2 seeds) —
    an order-independent set signature, vs the previous
    count+count+anti-join (3 jobs, one with a shuffle). A signature
    collision between different edge sets needs two independent 64-bit
    xor-hash collisions at once (~2⁻¹²⁸, and the oracle would still
    catch a wrong fixed point).
    """
    def canon(df: DataFrame) -> DataFrame:
        """Canonical undirected form: (max, min), no self-loops."""
        return (df.select(F.greatest("u", "v").alias("u"),
                          F.least("u", "v").alias("v"))
                  .filter(F.col("u") != F.col("v"))
                  .distinct())

    e = ckpt(canon(edges.select(F.col(src).alias("u"),
                                F.col(dst).alias("v"))))
    prev_sig = None
    for _ in range(max_iter):
        # -- large-star: reduce over the SYMMETRIC neighbor view.
        # For every node u with m(u) = min(N(u) ∪ {u}): connect each
        # strictly larger neighbor v to m(u). Smaller-side connectivity
        # is preserved by the reduces of u's smaller neighbors (u is a
        # ">" neighbor there), so no extra keep-edges are needed.
        s = e.union(e.select(F.col("v").alias("u"),
                             F.col("u").alias("v")))
        nbr = s.groupBy("u").agg(F.min("v").alias("mv"))
        m_u = F.least(F.col("u"), F.col("mv"))
        e = canon(s.join(nbr, "u")
                   .filter(F.col("v") > F.col("u"))
                   .select(F.col("v").alias("u"), m_u.alias("v")))
        # -- small-star: orient every edge to its larger endpoint, so
        # N(u) holds only smaller neighbors; connect them all (and u)
        # to m(u) = min(N(u)).
        nbr2 = e.groupBy("u").agg(F.min("v").alias("mv"))
        joined = e.join(nbr2, "u")
        # r16: lazy truncation (ckpt_fused) — the signature aggregate
        # below is the materializing job, one job per round where r15
        # ran an eager materialization plus the aggregate.
        e = ckpt_fused(canon(
            joined.select(F.col("v").alias("u"),
                          F.col("mv").alias("v"))
                  .union(nbr2.select("u", F.col("mv").alias("v")))
        ))
        # Converged when a full large+small round leaves the canonical
        # edge set unchanged — the paper's fixed point, which is the
        # min-rooted-star state. (A per-node fan-out==1 test is NOT
        # sufficient: transient chains u→v→w also have fan-out 1.)
        # One job: canon() guarantees set semantics, so (count,
        # xor-hash, xor-hash·seeded) is an order-independent signature
        # of the edge set — no cross-round join needed.
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h1"),
            F.bit_xor(F.xxhash64(F.lit(7), "u", "v")).alias("h2")
        ).first()
        sig = (row["n"], row["h1"], row["h2"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_iter} rounds")
    # e is now (non-min node → component min) for every non-singleton
    # node; add the centers labeling themselves.
    centers = e.select(F.col("v").alias("node"),
                       F.col("v").alias("component")).distinct()
    members = e.select(F.col("u").alias("node"),
                       F.col("v").alias("component"))
    labeled = members.union(centers).distinct()
    # canon() drops self-loops, so a node whose ONLY edges are
    # self-loops would vanish here while the propagation form labels
    # it a singleton — re-add those as their own component so the two
    # operators stay interchangeable (ADVICE r3).
    loop_nodes = (edges.select(F.col(src).alias("node"),
                               F.col(dst).alias("_d"))
                       .filter(F.col("node") == F.col("_d"))
                       .select("node").distinct())
    singletons = (loop_nodes.join(labeled.select("node"),
                                  "node", "left_anti")
                            .select("node",
                                    F.col("node").alias("component")))
    return labeled.union(singletons)
