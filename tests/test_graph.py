"""Graph analytics over the near-dup pair graph: the scale-adaptive
PageRank's two paths must agree, and the triangle census must match
hand-computed values on known shapes."""

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from etl_jlp_spark.operators import components, graph

import __spark_entry__ as ent

QS = ent.queries()


def test_driver_pagerank_two_cliques_hand_values():
    """A 3-clique and an isolated edge: within a connected regular
    component every node has identical rank; total mass == 1 per
    convention only when the graph is one component, so check the
    invariant that holds generally: ranks sum to #nodes * teleport +
    damped mass == 1.0 (mass conservation, undirected ⇒ no dangling
    leakage)."""
    tri = [(1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 2), (8, 9), (9, 8)]
    weighted = [(s, d, 1) for s, d in tri]
    out = dict(graph._driver_pagerank(weighted, graph.PR_DAMPING, graph.PR_ITERS))
    assert set(out) == {1, 2, 3, 8, 9}
    # symmetry within each regular component
    assert out[1] == out[2] == out[3]
    assert out[8] == out[9]
    assert math.isclose(sum(out.values()), 1.0, abs_tol=1e-5)
    # the clique nodes got their mass from a 3-way split, the pair from
    # a 2-way: a regular graph's stationary rank is degree-proportional,
    # but 5 nodes share teleport equally, so clique ≈ pair here
    assert out[1] > 0 and out[8] > 0


def test_pagerank_distributed_path_matches_driver(spark, monkeypatch):
    """Force the distributed loop (threshold 0) and compare against the
    driver union of the same corpus — identical rounded ranks."""
    want = {
        r["node"]: r["pagerank"] for r in graph.graph_pagerank(spark, SF_SMALL).collect()
    }
    assert want, "sf0.001 near-dup graph should not be empty"
    monkeypatch.setattr(components, "DRIVER_MAX_EDGES", 0)
    got = {
        r["node"]: r["pagerank"] for r in graph.graph_pagerank(spark, SF_SMALL).collect()
    }
    assert got == want


def test_triangle_stats_invariants(spark):
    row = graph.graph_triangle_stats(spark, SF_SMALL).first()
    assert row["n_nodes"] > 0 and row["n_edges"] > 0
    # each triangle uses 3 distinct edges; wedge bound: C(n,3) is the cap
    assert 0 <= row["n_triangles"] <= row["n_edges"] ** 3
    if row["clustering_coeff"] is not None:
        assert 0.0 <= row["clustering_coeff"] <= 1.0


def test_triangle_stats_counts_a_known_clique(spark):
    """4-clique + pendant edge: C(4,3)=4 triangles, wedges=13,
    coefficient 12/13 — computed through the same Spark joins by
    substituting the pair source."""
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)],
        "doc_a long, doc_b long",
    )
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.doc_b") == F.col("e2.doc_a"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .count()
    )
    assert tri == 4


def test_driver_lpa_two_cliques_hand_values():
    """Two disjoint triangles: after any number of rounds each clique
    converges to its min node id as the community label."""
    edges = []
    for a, b in [(1, 2), (1, 3), (2, 3), (7, 8), (7, 9), (8, 9)]:
        edges += [(a, b), (b, a)]
    out = dict(graph._driver_lpa(edges))
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7}


def test_lpa_distributed_path_matches_driver(spark, monkeypatch):
    """Force the distributed loop (threshold 0): identical communities
    to the driver shortcut on the same corpus."""
    want = {
        r["node"]: (r["community"], r["community_size"])
        for r in graph.graph_label_propagation(spark, SF_SMALL).collect()
    }
    assert want, "sf0.001 near-dup graph should not be empty"
    monkeypatch.setattr(components, "DRIVER_MAX_EDGES", 0)
    got = {
        r["node"]: (r["community"], r["community_size"])
        for r in graph.graph_label_propagation(spark, SF_SMALL).collect()
    }
    assert got == want


def test_lpa_communities_refine_or_match_components(spark):
    """Every LPA community must sit inside one connected component
    (propagation can't cross components)."""
    comp = {
        r["node"]: r["component"]
        for r in QS["dedup_connected_components"](spark, SF_SMALL).collect()
    }
    seen = {}
    for r in graph.graph_label_propagation(spark, SF_SMALL).collect():
        lab = r["community"]
        if lab in seen:
            assert seen[lab] == comp.get(r["node"]), r
        else:
            seen[lab] = comp.get(r["node"])


def test_driver_khop_path_graph_hand_values():
    """Path 1-2-3-4-5-6: the end node's reach grows by one per hop
    (capped at KHOP_ITERS); the middle sees both directions."""
    path = [(a, b) for a, b in [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]]
    und = path + [(b, a) for a, b in path]
    out = {r[0]: r[1:] for r in graph._driver_khop(und)}
    assert out[1] == (1, 2, 3, 4)
    assert out[3] == (2, 4, 5, 5)
    assert out[6] == (1, 2, 3, 4)


def test_khop_distributed_path_matches_driver(spark, monkeypatch):
    """Force the distributed loop (threshold 0) and compare against
    the driver BFS on the same corpus — identical reach profiles."""
    want = {r["node"]: tuple(r)[1:] for r in graph.graph_khop_reach(spark, SF_SMALL).collect()}
    assert want, "sf0.001 near-dup graph should not be empty"
    monkeypatch.setattr(graph, "DRIVER_KHOP_MAX_EDGES", 0)
    got = {r["node"]: tuple(r)[1:] for r in graph.graph_khop_reach(spark, SF_SMALL).collect()}
    assert got == want


def test_link_prediction_open_wedge(spark, monkeypatch):
    """Constructed graph: an open wedge 1-2-3 must predict exactly
    (1,3) with cn=1 and Jaccard 1.0; the 5-6-7 clique predicts
    nothing (no non-edge with a common neighbor). The sf0.001/sf0.01
    dup graphs are pure cliques, so this is the non-degenerate proof
    the oracle rows can't give."""
    pair_rows = [(1, 2), (2, 3), (5, 6), (5, 7), (6, 7)]

    def fake_pairs(spark_, sf_dir_):
        return spark.createDataFrame(pair_rows, "doc_a long, doc_b long")

    monkeypatch.setattr(graph, "dedup_minhash_lsh", fake_pairs)
    rows = graph.graph_link_prediction(spark, SF_SMALL).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"], r["common_neighbors"]) == (1, 3, 1)
    assert r["jaccard"] == 1.0


def test_khop_reach_monotone_and_bounded(spark):
    """reach_k is non-decreasing in k and bounded by the component
    size implied by the final hop."""
    for r in graph.graph_khop_reach(spark, SF_SMALL).collect():
        reaches = [r[f"reach_{k}"] for k in range(1, graph.KHOP_ITERS + 1)]
        assert all(a <= b for a, b in zip(reaches, reaches[1:]))
        assert reaches[0] >= 1  # every node in the pair graph has a neighbor


def test_kcore_distributed_path_matches_driver(spark, monkeypatch):
    """Force the distributed peel loop (threshold 0): identical
    (round, n_nodes, n_pairs) rows to the driver shortcut."""
    want = sorted(map(tuple, graph.graph_kcore_peel(spark, SF_SMALL).collect()))
    assert len(want) == graph.KCORE_ROUNDS
    monkeypatch.setattr(components, "DRIVER_MAX_EDGES", 0)
    got = sorted(map(tuple, graph.graph_kcore_peel(spark, SF_SMALL).collect()))
    assert got == want


@pytest.mark.parametrize("forced", [False, True], ids=["driver", "distributed"])
def test_graph_operators_release_their_caches(spark, monkeypatch, forced):
    """Every graph operator unpersists what it persisted, on both paths:
    a CacheManager entry left behind is substituted into every later
    plan containing the same subtree."""
    pair_rows = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (7, 8)]

    def fake_pairs(spark_, sf_dir_):
        return spark.createDataFrame(pair_rows, "doc_a long, doc_b long")

    monkeypatch.setattr(graph, "dedup_minhash_lsh", fake_pairs)
    if forced:
        monkeypatch.setattr(components, "DRIVER_MAX_EDGES", 0)
        monkeypatch.setattr(graph, "DRIVER_KHOP_MAX_EDGES", 0)
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    for op in (
        lambda s, d: components.connected_components(fake_pairs(s, d)),
        graph.graph_pagerank,
        graph.graph_label_propagation,
        graph.graph_khop_reach,
        graph.graph_kcore_peel,
        graph.graph_modularity,
        graph.graph_triangle_stats,
    ):
        op(spark, SF_SMALL).write.mode("overwrite").format("noop").save()
    assert cache.numCachedEntries() == before
