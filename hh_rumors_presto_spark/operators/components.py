"""Connected components of an undirected graph, each node labelled with
the smallest node id in its component.

Two phases compute the same labelling, so which one finishes the work
never changes a result:

- Min-label propagation. One hop sets each node's label to the minimum
  over itself and its neighbours: one join and one min aggregate over a
  fixed edge list that carries a self-loop per node. Hops run four at a
  time between checkpoints, for at most ``_QUAD_STEPS`` steps (a 12-hop
  horizon). Dense graphs, such as near-duplicate clusters and trading
  clusters, converge inside it.
- Star contraction. A graph still changing after the horizon has long
  chain-shaped components, which propagation resolves only in
  O(diameter) hops. :func:`star_contract` resolves them in O(log^2 n)
  alternations instead.

Every step is a keyed shuffle over edge or node rows; the driver holds
only the convergence probes' scalars. ``localCheckpoint`` per step keeps
the plan from growing with the number of steps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Quad steps of min-label propagation before star contraction takes over.
_QUAD_STEPS = 3


def connected_components(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """``(node, component)`` for each row of ``nodes``, where ``component``
    is the smallest node id connected to it through ``edges``.

    ``edges`` has two columns, the two endpoints of an undirected edge, in
    either orientation; repeated edges and self-loops are harmless.
    ``nodes`` has one column and lists every node once, every edge
    endpoint included. Both are read more than once, so pass checkpointed
    or cheap frames."""
    edges = edges.toDF("a", "b")
    nodes = nodes.toDF("node")
    hops = (
        edges.unionAll(edges.select("b", "a"))
        .unionAll(nodes.select(F.col("node").alias("a"), F.col("node").alias("b")))
        .localCheckpoint()
    )
    labels = nodes.select(
        "node", F.col("node").alias("component")
    ).localCheckpoint()

    def hop(lbl: DataFrame) -> DataFrame:
        return (
            hops.join(lbl, hops.b == lbl.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("component"))
        )

    # Propagation is monotone (labels only fall), so four hops per
    # checkpoint and probe reach the same fixpoint as one.
    for _ in range(_QUAD_STEPS):
        merged = (
            labels.select("node", F.col("component").alias("old_label"))
            .join(hop(hop(hop(hop(labels)))), "node")
            .localCheckpoint()
        )
        labels = merged.select("node", "component")
        if (
            merged.filter(F.col("component") != F.col("old_label"))
            .limit(1)
            .count()
            == 0
        ):
            return labels

    stars = star_contract(
        edges.select(
            F.greatest("a", "b").alias("big"), F.least("a", "b").alias("small")
        ).filter(F.col("big") != F.col("small"))
    )
    # star forest: every non-center member has exactly one (big=member,
    # small=center) edge; centers and singletons label themselves
    return nodes.join(
        stars.select(F.col("big").alias("node"), F.col("small").alias("center")),
        "node",
        "left",
    ).select("node", F.coalesce("center", "node").alias("component"))


def star_contract(edges: DataFrame, max_rounds: int = 1024) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) to the
    star-forest fixpoint.

    Input: canonical undirected edges as columns (big, small) with
    big > small, no self-loops. Output: the star forest, one
    (member, component_min) row per non-center node; centers and
    singletons carry no row. Each alternation is two keyed
    shuffle-aggregations over the edge list, which shrinks toward the
    star forest.

    - large-star(u): m = min(neighbors(u) + u); every neighbor v > u
      re-hooks to (v, m).
    - small-star(u): over (big=u -> smaller neighbors N): m = min(N);
      emit (v, m) for v in N - m, plus (u, m).

    Both preserve connectivity and the component minimum (paper Lemmas
    1-2), and the alternation reaches the fixpoint in O(log^2 n) rounds
    (Theorem 1). The loop runs until a probe sees the edge set stop
    changing. ``max_rounds`` is only a safety net, far above that bound
    (log2(1e9)^2 ≈ 900); exhausting it raises rather than returning a
    partial edge list, which would label components wrongly."""
    edges = edges.select("big", "small").localCheckpoint()
    n_edges = edges.count()
    converged = n_edges == 0

    for _ in range(max_rounds):
        if n_edges == 0:
            converged = True
            break
        # LARGE-STAR over the bidirectional view: for each u, hook every
        # LARGER neighbor v to m = min(neighbors + u). Output (v, m) is
        # already canonical: v > u >= m.
        bidir = edges.unionAll(
            edges.select(
                F.col("small").alias("big"), F.col("big").alias("small")
            )
        ).toDF("u", "v")
        mins = bidir.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        ls = (
            bidir.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("big"), F.col("m").alias("small"))
            .filter(F.col("big") != F.col("small"))
            .dropDuplicates(["big", "small"])
        )
        # SMALL-STAR over the canonical (big -> smaller neighbor) view:
        # for each big, m = min(smaller neighbors); re-hook the other
        # smaller neighbors and big itself to m. small > m in out1 and
        # big > m in out2, so the output stays canonical.
        sm = ls.groupBy("big").agg(F.min("small").alias("m"))
        out1 = (
            ls.join(sm, "big")
            .filter(F.col("small") != F.col("m"))
            .select(F.col("small").alias("big"), F.col("m").alias("small"))
        )
        out2 = sm.select("big", F.col("m").alias("small"))
        # localCheckpoint (eager) truncates the iterative lineage each
        # alternation — without it round N replans rounds 1..N-1 and the
        # fixpoint loop goes quadratic in plan size.
        new_edges = (
            out1.unionAll(out2)
            .dropDuplicates(["big", "small"])
            .localCheckpoint()
        )
        new_count = new_edges.count()
        converged = new_count == n_edges and (
            new_edges.join(edges, ["big", "small"], "left_anti")
            .limit(1)
            .count()
            == 0
        )
        edges, n_edges = new_edges, new_count
        if converged:
            break
    if not converged:
        raise RuntimeError(
            "star_contract exhausted max_rounds=%d without reaching the "
            "star-forest fixpoint (%d edges remain) — refusing to return "
            "a partial edge list, which would yield silently wrong "
            "component ids. This indicates an implementation bug: the "
            "alternation provably converges in O(log^2 n) rounds."
            % (max_rounds, n_edges)
        )
    return edges
