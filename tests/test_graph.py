"""The graph operators (`operators/graph.py`): edge builders, PageRank,
triangles, link prediction, the empty-graph and NULL-key edges, and
the loops k-core, HITS, BFS, diameter and label propagation."""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark.operators import graph
from banking_data_etl_pipeline_spark.sources import tables
from conftest import SF_DIR, lineitem_of


def test_copurchase_edges_symmetric_and_distinct(spark):
    li = lineitem_of(spark, [(1, [10, 20, 30]), (2, [10, 20])])  # dup pair 10-20
    edges = {(r.src, r.dst) for r in graph.copurchase_edges(li).collect()}
    assert edges == {
        (10, 20), (20, 10), (10, 30), (30, 10), (20, 30), (30, 20),
    }


def test_pagerank_one_iteration_hand_checked(spark):
    # triangle A(1)-B(2)-C(3) plus pendant D(4) on A
    li = lineitem_of(spark, [(1, [1, 2, 3]), (2, [1, 4])])
    r = {row.node: row.r for row in graph.pagerank(li, iters=1).collect()}
    # n=4, r0=0.25; deg: A=3, B=C=2, D=1
    assert r[1] == pytest.approx(0.15 / 4 + 0.85 * (0.125 + 0.125 + 0.25), abs=1e-9)
    assert r[2] == pytest.approx(0.15 / 4 + 0.85 * (0.25 / 3 + 0.125), abs=1e-9)
    assert r[2] == r[3]
    assert r[4] == pytest.approx(0.15 / 4 + 0.85 * (0.25 / 3), abs=1e-9)


def test_pagerank_mass_is_conserved(spark):
    li = lineitem_of(spark, [(1, [1, 2, 3]), (2, [1, 4]), (3, [2, 5]), (4, [5, 6])])
    out = graph.pagerank(li, iters=3)
    total = out.agg(F.sum("r").alias("t")).collect()[0].t
    # symmetric graph, no dangling nodes: total rank stays ~1
    assert total == pytest.approx(1.0, abs=1e-6)
    assert all(row.r > 0 for row in out.collect())


def test_triangle_counts_hand_checked(spark):
    # K3 {1,2,3} plus K3 {2,3,4} sharing edge 2-3: each triangle gives
    # every member one count; 2 and 3 sit in both
    li = lineitem_of(spark, [(1, [1, 2, 3]), (2, [2, 3, 4])])
    out = {r.node: r.n_tri for r in graph.triangle_counts(li).collect()}
    assert out == {1: 1, 2: 2, 3: 2, 4: 1}


def test_triangle_counts_no_triangles(spark):
    # a path 1-2-3-4 has no triangles: nodes with zero triangles are
    # simply absent from the per-node output
    li = lineitem_of(spark, [(1, [1, 2]), (2, [2, 3]), (3, [3, 4])])
    assert graph.triangle_counts(li).count() == 0


def test_triangle_counts_k4_complete(spark):
    # K4: C(4,3)=4 triangles, every node in exactly 3 of them
    li = lineitem_of(spark, [(1, [1, 2, 3, 4])])
    out = {r.node: r.n_tri for r in graph.triangle_counts(li).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    # total count = 3 * number of triangles
    assert sum(out.values()) == 3 * 4


def test_triangle_counts_shuffle_fallback_matches_broadcast(spark):
    # forcing the non-broadcast paths (gates at 0) must not change
    # the result
    li = lineitem_of(spark, [(1, [1, 2, 3]), (2, [2, 3, 4]), (3, [1, 4, 5])])
    bcast = {(r.node, r.n_tri) for r in graph.triangle_counts(li).collect()}
    shuf = {
        (r.node, r.n_tri)
        for r in graph.triangle_counts(
            li, broadcast_nodes=0, broadcast_edges=0
        ).collect()
    }
    assert bcast == shuf


def test_link_prediction_on_a_known_wedge(spark):
    # orders: (1,2,3) together and (3,4) together -> wedge 1-3-4 and
    # 2-3-4: pairs (1,4),(2,4) are predicted; (1,2) already connected
    from banking_data_etl_pipeline_spark.operators import graph
    from pyspark.sql import functions as F

    rows = [(100, p) for p in (1, 2, 3)] + [(200, p) for p in (3, 4)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    # targets_mod=1: every node is a prediction target on this fixture
    out = {(r.a, r.b): r
           for r in graph.link_prediction(li, targets_mod=1).collect()}
    # anchored form reports both directions
    assert set(out) == {(1, 4), (2, 4), (4, 1), (4, 2)}
    # deg: 1->2, 2->2, 3->3, 4->1; common(1,4)=1 (via 3)
    r = out[(1, 4)]
    assert r.common == 1 and abs(r.jaccard - 1 / (2 + 1 - 1)) < 1e-9


def test_null_order_keys_form_no_edges(spark):
    # a NULL l_orderkey is no order: its rows pair with nothing, as in
    # the SQL twins' equi-join (grouping them would make a clique)
    li = lineitem_of(spark, [(None, [1, 2]), (7, [3, 4])])
    edges = {(r.src, r.dst) for r in graph.copurchase_edges(li).collect()}
    assert edges == {(3, 4), (4, 3)}
    assert {r.node for r in graph.pagerank(li).collect()} == {3, 4}
    # one edge closes no triangle: add a third part to each key group
    li3 = lineitem_of(spark, [(None, [1, 2, 5]), (7, [3, 4, 6])])
    assert {r.node for r in graph.triangle_counts(li3).collect()} == {3, 4, 6}


_EMPTY_GRAPH_OPS = {
    "pagerank": graph.pagerank,
    "ppr": graph.ppr,
    "triangle_counts": graph.triangle_counts,
    "clustering_coeff": graph.clustering_coeff,
    "link_prediction": graph.link_prediction,
    "kcore": graph.kcore,
    "bfs_depths": graph.bfs_depths,
    "graph_diameter": graph.graph_diameter,
    "label_prop": graph.label_prop,
}


@pytest.mark.parametrize("op", sorted(_EMPTY_GRAPH_OPS) + ["assortativity"])
def test_empty_graph_gives_empty_result(spark, op):
    # zero rows in, zero rows out — never an ANSI divide-by-zero or a
    # "no seed" error; assortativity keeps its one summary row
    li = tables.load(spark, SF_DIR, "lineitem").limit(0)
    if op == "assortativity":
        assert graph.assortativity(li).collect()[0].m_edges == 0
    else:
        assert _EMPTY_GRAPH_OPS[op](li).count() == 0


def test_copurchase_edges_min_weight_is_one_pass_pair_count(spark):
    baskets = [[1, 2, 3], [1, 2], [2, 3, 4], [2, 3], [4, 5], [4, 5, 1]]
    li = lineitem_of(spark, enumerate(baskets))
    count = Counter(
        (a, b) for bk in baskets for a in bk for b in bk if a < b
    )
    want = {(a, b) for (a, b), w in count.items() if w >= 2}
    assert count[(1, 3)] == 1  # a pair of one order only: dropped
    want |= {(b, a) for a, b in want}
    edges = graph.copurchase_edges(li, min_weight=2)
    assert {(r.src, r.dst) for r in edges.collect()} == want
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_ppr_hand_computed_on_a_star(spark):
    """Star hub 50 (the only seed) with leaves 1, 2: after 3
    iterations r(50) = 0.15 + 0.85·(2·0.85·0.15/2) = 0.258375 and
    each leaf r = 0.85·(0.8725/2) = 0.3708125 (trunc-12 exact at
    these values)."""
    li = lineitem_of(spark, enumerate([[50, 1], [50, 2]]))
    got = {r["node"]: r["r"] for r in graph.ppr(li, seed_mod=50).collect()}
    assert got[50] == pytest.approx(0.258375, abs=1e-9)
    assert got[1] == pytest.approx(0.3708125, abs=1e-9)
    assert got[2] == pytest.approx(0.3708125, abs=1e-9)


def test_ppr_no_seed_raises(spark):
    li = lineitem_of(spark, enumerate([[1, 2]]))
    with pytest.raises(ValueError, match="no seed"):
        graph.ppr(li, seed_mod=50)


def test_ppr_mass_concentrates_near_seeds(spark):
    """On the fixture graph the total PPR mass is ~1 (truncation only
    loses ulps) and seeds hold more mass than the uniform share."""
    li = tables.load(spark, SF_DIR, "lineitem")
    rows = graph.ppr(li, iters=2).collect()
    total = sum(r["r"] for r in rows)
    assert total == pytest.approx(1.0, abs=0.01)
    n = len(rows)
    seed_mass = sum(r["r"] for r in rows if r["node"] % 50 == 0)
    n_seeds = sum(1 for r in rows if r["node"] % 50 == 0)
    assert seed_mass > n_seeds / n  # above the uniform share


def test_clustering_coeff_triangle_is_one_path_is_zero(spark):
    """K3 {1,2,3}: every node coeff 1; pendant path node 4 (edges
    3-4 only) has degree 1 → dropped; adding 4-5 and 4-3 makes 4 a
    degree-2 node with no closed triangle → coeff 0."""
    li = lineitem_of(spark, enumerate([[1, 2, 3], [3, 4], [4, 5]]))
    got = {r["node"]: r for r in graph.clustering_coeff(li).collect()}
    assert got[1]["coeff"] == pytest.approx(1.0)
    assert got[2]["coeff"] == pytest.approx(1.0)
    assert got[1]["n_tri"] == 1 and got[1]["degree"] == 2
    # node 3 has degree 3 (2 in the clique + node 4): 1 triangle of
    # 3 possible neighbor pairs
    assert got[3]["degree"] == 3
    assert got[3]["coeff"] == pytest.approx(round(2 / 6, 6))
    # node 4: neighbors {3, 5}, not adjacent -> 0
    assert got[4]["n_tri"] == 0 and got[4]["coeff"] == 0.0
    # degree-1 node 5 has no defined coefficient
    assert 5 not in got


def test_assortativity_star_is_minus_one(spark):
    """A star (hub 1 to leaves 2,3,4, each pair co-purchased twice):
    every edge joins degree 3 to degree 1 → r = −1 exactly."""
    li = lineitem_of(
        spark, enumerate([[1, 2]] * 2 + [[1, 3]] * 2 + [[1, 4]] * 2)
    )
    row = graph.assortativity(li).collect()[0]
    assert row["m_edges"] == 6
    assert row["s_x"] == 12 and row["s_xy"] == 18
    assert row["assortativity"] == pytest.approx(-1.0)


def test_assortativity_symmetric_sums_match(spark):
    """On the symmetric edge list Σx = Σy by construction — the
    operator emits s_x and computes s_y independently; equality on a
    non-trivial graph guards the double degree-join wiring."""
    li = lineitem_of(
        spark,
        enumerate([[1, 2]] * 2 + [[2, 3]] * 2 + [[3, 4]] * 2 + [[1, 3]] * 2),
    )
    row = graph.assortativity(li).collect()[0]
    # hand check: edges {12,23,34,13} symmetric → deg 1:2 2:2 3:3 4:1,
    # and Σ dx over directed edges = Σ_v deg(v)² = 4 + 4 + 9 + 1
    assert row["m_edges"] == 8
    assert row["s_x"] == 18


# ----------------------------------------------------------- k-core


def test_kcore_peels_pendant_keeps_triangle(spark):
    # triangle {1,2,3} with every pair in 2 orders; pendant 4 hangs off
    # node 1 (weight 2); pair (5,6) occurs once -> below min_weight
    li = lineitem_of(
        spark,
        [(1, [1, 2, 3]), (2, [1, 2, 3]), (3, [1, 4]), (4, [1, 4]),
         (5, [5, 6])],
    )
    out = graph.kcore(li, k=2, min_weight=2).collect()
    assert [(r.part, r.degree) for r in out] == [(1, 2), (2, 2), (3, 2)]


def test_kcore_cascade_empties_a_path(spark):
    # path 1-2-3-4 (each edge in 2 orders): peeling ends cascades
    # inward over multiple rounds until nothing has degree >= 2
    li = lineitem_of(
        spark,
        [(1, [1, 2]), (2, [1, 2]), (3, [2, 3]), (4, [2, 3]),
         (5, [3, 4]), (6, [3, 4])],
    )
    assert graph.kcore(li, k=2, min_weight=2).count() == 0


def test_kcore_is_idempotent_fixpoint(spark):
    # running kcore on a frame whose graph IS already a k-core changes
    # nothing: the cycle 1-2-3-4-1 is exactly its own 2-core
    li = lineitem_of(
        spark,
        [(1, [1, 2]), (2, [1, 2]), (3, [2, 3]), (4, [2, 3]),
         (5, [3, 4]), (6, [3, 4]), (7, [1, 4]), (8, [1, 4])],
    )
    out = graph.kcore(li, k=2, min_weight=2).collect()
    assert [(r.part, r.degree) for r in out] == [
        (1, 2), (2, 2), (3, 2), (4, 2)
    ]


# ------------------------------------------------------------ HITS


def _hits_frames(spark, pairs):
    orders = spark.createDataFrame(
        [(i, c) for i, (c, _p) in enumerate(pairs)],
        "o_orderkey bigint, o_custkey bigint",
    )
    lineitem = spark.createDataFrame(
        [(i, p) for i, (_c, p) in enumerate(pairs)],
        "l_orderkey bigint, l_partkey bigint",
    )
    return orders, lineitem


def test_hits_hand_computed_first_iteration(spark):
    # edges c1->p1, c1->p2, c2->p1 ; h0 = 1
    # a1_raw: p1=2, p2=1, norm sqrt(5) -> a(p1)=2/sqrt5, a(p2)=1/sqrt5
    orders, lineitem = _hits_frames(spark, [(1, 11), (1, 12), (2, 11)])
    rows = graph.hits(
        edges=graph.purchase_edges(orders, lineitem), iters=1
    ).collect()
    auth = {r.node: r.score for r in rows if r.role == "authority"}
    hub = {r.node: r.score for r in rows if r.role == "hub"}
    t12 = lambda x: math.floor(x * 1e12) / 1e12
    assert auth[11] == t12(2.0 / math.sqrt(5.0))
    assert auth[12] == t12(1.0 / math.sqrt(5.0))
    # h1_raw: c1 = a(p1)+a(p2), c2 = a(p1); c1 hub > c2 hub
    assert hub[1] > hub[2] > 0.0


@pytest.mark.slowtier
def test_hits_l2_normalized_and_partition_invariant(spark):
    pairs = [(c, 10 + (c * j) % 5) for c in range(1, 8) for j in range(1, 4)]
    orders, lineitem = _hits_frames(spark, pairs)
    rows = graph.hits(
        edges=graph.purchase_edges(orders, lineitem), iters=2
    ).collect()
    for role in ("authority", "hub"):
        norm = math.sqrt(
            sum(r.score**2 for r in rows if r.role == role)
        )
        assert abs(norm - 1.0) < 1e-6
    rows2 = graph.hits(
        edges=graph.purchase_edges(
            orders.repartition(5), lineitem.repartition(3)
        ),
        iters=2,
    ).collect()
    assert sorted(map(tuple, rows2)) == sorted(map(tuple, rows))


# ----------------------------------------------- BFS and diameter


def test_bfs_depths_on_a_known_chain(spark):
    """Parts 1-2, 2-3 each co-purchased twice form the chain 1-2-3;
    part 9 pairs with 1 only once (pruned by min_weight=2) → depths
    {1:0, 2:1, 3:2}, 9 unreachable and absent."""
    li = lineitem_of(
        spark,
        enumerate([[1, 2], [1, 2], [2, 3], [2, 3], [1, 9]]),
    )
    got = {r["part"]: r["depth"] for r in graph.bfs_depths(li).collect()}
    assert got == {1: 0, 2: 1, 3: 2}


def test_bfs_depths_respects_max_depth_cap(spark):
    """A 4-hop chain explored with max_depth=2 stops at depth 2."""
    li = lineitem_of(
        spark,
        enumerate([[1, 2]] * 2 + [[2, 3]] * 2 + [[3, 4]] * 2 + [[4, 5]] * 2),
    )
    got = {
        r["part"]: r["depth"]
        for r in graph.bfs_depths(li, max_depth=2).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2}


def test_bfs_depths_empty_graph(spark):
    """No repeated pair at min_weight=2 → empty result, no crash."""
    li = lineitem_of(spark, enumerate([[1, 2], [3, 4]]))
    assert graph.bfs_depths(li).count() == 0


def test_graph_diameter_hand_graph(spark):
    """A path 1-2-3-4 (each edge doubled for min_weight): sweep 1
    from node 1 reaches 4 at depth 3; sweep 2 from 4 also spans 3 —
    the lower bound equals the true diameter on a tree."""
    rows = []
    oid = 0
    for a, b in [(1, 2), (2, 3), (3, 4)]:
        for _ in range(2):
            oid += 1
            rows += [(oid, a), (oid, b)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = graph.graph_diameter(li).collect()[0]
    assert (out.seed, out.ecc_seed, out.far_node, out.diameter_lb) == (
        1, 3, 4, 3,
    )


@pytest.mark.slowtier
def test_graph_diameter_bounds_bfs(spark):
    li = tables.load(spark, SF_DIR, "lineitem")
    out = graph.graph_diameter(li).collect()[0]
    ecc1 = (
        graph.bfs_depths(li).agg(F.max("depth").alias("m")).collect()[0].m
    )
    # the second sweep's eccentricity is >= the first's
    assert out.ecc_seed == ecc1
    assert out.diameter_lb >= out.ecc_seed


# ------------------------------------------------ label propagation


def test_label_prop_hand_graph(spark):
    """Two components: {1,2,3} a path, {10,11} an edge — with 4 rounds
    every node adopts its component's min id. Edge weights >= 2 are
    required, so each pair co-occurs in two orders."""
    rows = []
    oid = 0
    for a, b in [(1, 2), (2, 3), (10, 11)]:
        for _ in range(2):  # repeated co-purchase (min_weight=2)
            oid += 1
            rows += [(oid, a), (oid, b)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = {
        r.part: r.community for r in graph.label_prop(li, iters=4).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_label_prop_monotone_and_partition(spark):
    li = tables.load(spark, SF_DIR, "lineitem")
    rows = graph.label_prop(li, iters=4).collect()
    parts = {r.part for r in rows}
    for r in rows:
        # min-label can only shrink below the own id
        assert r.community <= r.part
        # every community label is itself a node
        assert r.community in parts
    # label of the community representative is itself (a min-label
    # fixpoint property that holds at every round count)
    comm = {r.part: r.community for r in rows}
    for c in set(comm.values()):
        assert comm[c] == c
