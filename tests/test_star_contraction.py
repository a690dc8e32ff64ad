"""Connected components (operators.components) on adversarial graph
shapes the parquet fixtures never produce — in particular CHAINS far past
the propagation horizon, which is exactly the 100 TB failure mode the
star-contraction phase exists for (templated/boilerplate near-dup runs
whose dup graph is near-linear). Ground truth: union-find in Python."""

from __future__ import annotations

import pytest

from hh_rumors_presto_spark.operators import components
from hh_rumors_presto_spark.operators.components import (
    connected_components,
    star_contract,
)


def _components(edge_list):
    """Union-find ground truth: node -> min node id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _run(spark, edge_list, max_rounds=None):
    canon = sorted({(max(a, b), min(a, b)) for a, b in edge_list if a != b})
    df = spark.createDataFrame(canon, "big long, small long")
    result = (
        star_contract(df)
        if max_rounds is None
        else star_contract(df, max_rounds)
    )
    got = {r.big: r.small for r in result.collect()}
    want = _components(edge_list)
    # star forest: every non-minimum member points at the component min;
    # centers (component minima) carry no row
    for node, comp_min in want.items():
        if node == comp_min:
            assert node not in got, f"center {node} has an outgoing edge"
        else:
            assert got.get(node) == comp_min, (
                f"node {node}: got {got.get(node)}, want {comp_min}"
            )
    assert len(got) == sum(1 for n, m in want.items() if n != m)


@pytest.mark.parametrize("n", [64, 257])
def test_long_chain(spark, n):
    """A single path graph of n nodes — diameter n-1, the propagation
    killer. Star contraction must resolve it in <= 12 alternations
    (O(log^2 n))."""
    _run(spark, [(i, i + 1) for i in range(n)])


def test_chain_reversed_ids(spark):
    """Chain whose min sits at the FAR end (worst hooking direction)."""
    n = 100
    _run(spark, [(n - i, n - i - 1) for i in range(n)])


def test_star_already_fixpoint(spark):
    """An existing star forest must pass through unchanged (fixpoint)."""
    _run(spark, [(0, i) for i in range(1, 20)] + [(100, 100 + i) for i in range(1, 5)])


def test_forest_of_mixed_shapes(spark):
    """Multiple components: a chain, a clique, a binary tree, singleton
    pair — all resolved to their own minima, no cross-linking."""
    chain = [(1000 + i, 1001 + i) for i in range(40)]
    clique = [(a, b) for a in range(200, 210) for b in range(200, a)]
    tree = [(i, 2 * i) for i in range(1, 32)] + [(i, 2 * i + 1) for i in range(1, 32)]
    pair = [(99991, 99990)]
    _run(spark, chain + clique + tree + pair)


def test_duplicate_and_both_direction_input(spark):
    """Input robustness: duplicated edges collapse to one canonical row."""
    edges = [(5, 9), (9, 5), (5, 9), (9, 12), (12, 5)]
    _run(spark, edges)


def test_deep_chain_past_old_cap(spark):
    """The round-7 silent-truncation case (ADVICE r7, high): a 5000-node
    chain needs more than 12 alternations; the old fixed cap of 12 made
    star_contract return a PARTIAL edge list — 904 nodes pointing at
    non-minimum centers — which dedup_clusters/graph_wcc then read as a
    star forest, silently mislabeling components. The round-8 contract:
    the loop runs to the probed fixpoint, so the full chain resolves to
    its single component minimum."""
    n = 5000
    _run(spark, [(i, i + 1) for i in range(n)])


def test_exhausted_cap_raises_not_partial(spark):
    """Safety-net semantics: if max_rounds IS exhausted unconverged (here
    forced with an absurdly low cap on a deep chain), star_contract must
    RAISE — matching graph_wcc's pre-round-7 explicit-error behavior —
    never return the partial (silently wrong) edge list."""
    edges = [(i, i + 1) for i in range(600)]
    canon = sorted({(max(a, b), min(a, b)) for a, b in edges})
    df = spark.createDataFrame(canon, "big long, small long")
    with pytest.raises(RuntimeError, match="star-forest fixpoint"):
        star_contract(df, max_rounds=2)


def test_random_graphs_property(spark):
    """Property sweep: random sparse graphs across densities and id
    distributions (including sparse 64-bit ids, which would overflow any
    dense-array shortcut) always contract to the union-find components.
    Seeded stdlib RNG — deterministic, no flaky reruns."""
    import random

    rng = random.Random(0x5CA1E)
    for trial in range(8):
        n = rng.randrange(2, 120)
        m = rng.randrange(1, 3 * n)
        # half the trials use huge sparse ids
        ids = (
            list(range(n))
            if trial % 2 == 0
            else [rng.randrange(1, 2**62) for _ in range(n)]
        )
        edges = [
            (rng.choice(ids), rng.choice(ids)) for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        _run(spark, edges)


@pytest.fixture()
def star_spy(monkeypatch):
    """Record calls of components.star_contract."""
    calls = []
    real = components.star_contract

    def spy(edges, *args, **kwargs):
        calls.append(1)
        return real(edges, *args, **kwargs)

    monkeypatch.setattr(components, "star_contract", spy)
    return calls


def _cc(spark, edge_list, nodes):
    edges = spark.createDataFrame(edge_list, "a long, b long")
    node_df = spark.createDataFrame([(n,) for n in nodes], "node long")
    out = connected_components(edges, node_df)
    assert out.columns == ["node", "component"]
    return {r.node: r.component for r in out.collect()}


def test_components_empty_edge_list(spark, star_spy):
    assert _cc(spark, [], [3, 1, 2]) == {1: 1, 2: 2, 3: 3}
    assert not star_spy


def test_components_isolated_nodes(spark, star_spy):
    """Nodes without an edge label themselves."""
    got = _cc(spark, [(9, 5)], [5, 7, 9, 11])
    assert got == {5: 5, 7: 7, 9: 5, 11: 11}
    assert not star_spy


def test_components_two_components(spark, star_spy):
    """A triangle and a pair, given in both orientations, with a repeated
    edge and a self-loop; both resolve inside the propagation horizon."""
    edges = [(4, 2), (2, 8), (8, 4), (30, 20), (20, 30), (30, 20), (20, 20)]
    got = _cc(spark, edges, [2, 4, 8, 20, 30])
    assert got == {2: 2, 4: 2, 8: 2, 20: 20, 30: 20}
    assert not star_spy


def test_components_chain_past_horizon(spark, star_spy):
    """A 41-node path whose minimum sits at one end is 40 hops deep, past
    the 12-hop propagation horizon: star contraction finishes it."""
    n = 40
    edges = [(i + 1, i) for i in range(n)]
    got = _cc(spark, edges + [(100, 101)], list(range(n + 1)) + [100, 101, 102])
    assert star_spy
    assert got == {**{i: 0 for i in range(n + 1)}, 100: 100, 101: 100, 102: 102}
