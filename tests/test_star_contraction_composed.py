"""End-to-end drive of the star-contraction phase THROUGH the composed
registered queries (`dedup_clusters`, `graph_wcc`). The canonical
parquet fixtures converge in propagation, so these tests synthesize
CHAIN-SHAPED adversarial fixtures in a temp sf_dir — documents whose
bigram-Jaccard near-dup pairs form a >50-hop path, and a
customer↔supplier trading chain of the same depth — so that the 12-hop
propagation horizon provably cannot converge and the composed query
MUST enter star contraction. A spy wrapper around `star_contract`
asserts the phase actually ran; results are asserted against union-find
ground truth (every node labels to the component minimum).
"""

from __future__ import annotations

import os

import pytest

from hh_rumors_presto_spark.operators import components
from hh_rumors_presto_spark.queries.extensions_dedup import dedup_clusters
from hh_rumors_presto_spark.queries.graph import graph_wcc


@pytest.fixture()
def star_spy(monkeypatch):
    """Wrap components.star_contract with a call recorder. Both composed
    queries reach it through operators.components.connected_components,
    which resolves the name in its module at call time, so one patch
    point covers both."""
    calls = []
    real = components.star_contract

    def spy(edges, *args, **kwargs):
        calls.append(1)
        return real(edges, *args, **kwargs)

    monkeypatch.setattr(components, "star_contract", spy)
    return calls


def _write(spark, rows, schema, path):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def test_dedup_clusters_enters_star_phase_on_deep_chain(
    spark, tmp_path, star_spy
):
    """60 admitted docs (doc_id % 5 == 0) whose texts chain: doc i shares
    one 3-token vocabulary block with doc i+1 and NOTHING with any other
    doc, so the Jaccard pair graph is a single 59-hop path — far past the
    12-hop phase-1 horizon. Expected: phase 2 runs (spy fires) and every
    doc clusters to the chain minimum, doc_id 0.

    Depth is overridable: HH_STAR_CHAIN_N=201 gives a 200-hop chain."""
    n = int(os.environ.get("HH_STAR_CHAIN_N", "60"))
    docs = []
    for i in range(n):
        # doc i = vocab block i + block i+1; blocks are disjoint 3-token
        # groups, so consecutive docs share exactly the 2 interior bigrams
        # of the common block (Jaccard 2/8 = 0.25 >= 0.05) and
        # non-consecutive docs share zero bigrams.
        blk = lambda k: f"g{k}a g{k}b g{k}c"
        docs.append((i * 5, f"{blk(i)} {blk(i + 1)}", "en", "chainfix", 24))
        # an inadmissible neighbor (doc_id % 5 != 0) that must be ignored
        docs.append((i * 5 + 1, blk(i), "en", "chainfix", 12))
    sf = str(tmp_path / "chain_sf")
    os.makedirs(sf, exist_ok=True)
    _write(
        spark,
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
        os.path.join(sf, "documents.parquet"),
    )

    out = {r.doc_id: r.cluster_id for r in dedup_clusters(spark, sf).collect()}

    assert star_spy, (
        "phase 2 (star contraction) never ran — the chain fixture was "
        "expected to defeat the 12-hop propagation horizon"
    )
    assert set(out) == {i * 5 for i in range(n)}
    assert all(c == 0 for c in out.values()), {
        k: v for k, v in out.items() if v != 0
    }


def test_graph_wcc_enters_star_phase_on_deep_chain(spark, tmp_path, star_spy):
    """A customer↔supplier trading chain: edges (c_i, s_i) and
    (c_{i+1}, s_i), every pair trading exactly 2 line items in one shared
    nation — a single path of 60 nodes (diameter 59). Expected: phase 2
    runs and the census reports ONE component of 30 customers + 30
    suppliers (plus a detached 2-node pair as a control).

    Depth is overridable: HH_STAR_CHAIN_K=100 gives a 200-node, 199-hop
    path."""
    k = int(os.environ.get("HH_STAR_CHAIN_K", "30"))
    customers = [(c, f"Customer#{c}", 7, 0.0, "BUILDING") for c in range(1, k + 1)]
    suppliers = [(s, f"Supplier#{s}", 7, 0.0) for s in range(1, k + 1)]
    # control component: a detached pair in another nation (id safely
    # past the chain for any battery-overridden k)
    ctl_id = k + 70
    customers.append((ctl_id, f"Customer#{ctl_id}", 3, 0.0, "BUILDING"))
    suppliers.append((ctl_id, f"Supplier#{ctl_id}", 3, 0.0))

    orders, lineitems, okey = [], [], 0
    def trade(c, s):
        nonlocal okey
        for _ in range(2):  # >= 2 line items per (c, s) edge
            okey += 1
            orders.append((okey, c, "O", 1.0, None, "1-URGENT"))
            lineitems.append((okey, 1, s, 1, 1.0, 1.0, 0.0, 0.0))

    for i in range(1, k + 1):
        trade(i, i)          # edge c_i - s_i
        if i < k:
            trade(i + 1, i)  # edge c_{i+1} - s_i  -> the chain
    trade(ctl_id, ctl_id)

    sf = str(tmp_path / "wcc_sf")
    os.makedirs(sf, exist_ok=True)
    _write(spark, customers,
           "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
           " c_mktsegment string", os.path.join(sf, "customer.parquet"))
    _write(spark, suppliers,
           "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
           os.path.join(sf, "supplier.parquet"))
    _write(spark, orders,
           "o_orderkey long, o_custkey long, o_orderstatus string,"
           " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
           os.path.join(sf, "orders.parquet"))
    _write(spark, lineitems,
           "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
           " l_quantity double, l_extendedprice double, l_discount double,"
           " l_tax double", os.path.join(sf, "lineitem.parquet"))

    rows = {r.component: r for r in graph_wcc(spark, sf).collect()}

    assert star_spy, (
        "phase 2 (star contraction) never ran — the trading-chain fixture "
        "was expected to defeat the 12-hop propagation horizon"
    )
    # chain component: min node id = 2*1 (customer 1); control: 2*ctl_id
    assert set(rows) == {2, 2 * ctl_id}
    chain = rows[2]
    assert (chain.n_nodes, chain.n_customers, chain.n_suppliers) == (
        2 * k, k, k,
    )
    ctl = rows[2 * ctl_id]
    assert (ctl.n_nodes, ctl.n_customers, ctl.n_suppliers) == (2, 1, 1)
