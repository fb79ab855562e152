"""Connected-components semantics on known graph topologies."""

from etl_jlp_spark.operators.components import connected_components


def test_chain_triangle_and_pair(spark):
    # chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_long_chain_converges(spark):
    # diameter 8 chain — needs several propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "doc_a long, doc_b long"
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 9


def test_distributed_path_long_chain(spark, monkeypatch):
    """Force the distributed label-propagation path (threshold 0) on a
    chain of 40 nodes — diameter exceeds the old 10-round cap, so this
    also guards the converge-or-raise fix."""
    from etl_jlp_spark.operators import components as C

    monkeypatch.setattr(C, "DRIVER_MAX_EDGES", 0)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long"
    )
    got = {r["node"]: r["component"] for r in C.connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(41)}


def test_driver_and_distributed_paths_agree(spark, monkeypatch):
    from etl_jlp_spark.operators import components as C

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 1)],
        "doc_a long, doc_b long",
    )
    small = sorted(map(tuple, C.connected_components(pairs).collect()))
    monkeypatch.setattr(C, "DRIVER_MAX_EDGES", 0)
    big = sorted(map(tuple, C.connected_components(pairs).collect()))
    assert small == big == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20), (21, 20), (22, 20)]


def test_cluster_representative_is_longest_member(spark):
    from tests.conftest import SF_MEDIUM

    import __spark_entry__ as ent

    qs = ent.queries()
    comps = {
        (r["node"], r["component"])
        for r in qs["dedup_connected_components"](spark, SF_MEDIUM).collect()
    }
    chars = {
        r["doc_id"]: r["n_chars"]
        for r in spark.read.parquet(f"{SF_MEDIUM}/documents.parquet").collect()
    }
    reps = qs["dedup_cluster_representative"](spark, SF_MEDIUM).collect()
    by_comp = {}
    for node, comp in comps:
        by_comp.setdefault(comp, []).append(node)
    assert reps and len(reps) == len(by_comp)
    for r in reps:
        members = by_comp[r["component"]]
        assert r["n_docs"] == len(members)
        assert r["rep_doc"] in members
        best = max(members, key=lambda n: (chars[n], -n))
        assert r["rep_doc"] == best and r["rep_chars"] == chars[best]


def test_cc_incremental_equals_full_rebuild_and_reuses_store(spark, tmp_path):
    """The incremental merge must be row-identical to the full-corpus
    rebuild, and at least one stored component must pass through
    untouched (proving the anti-join path carries state, not a
    recompute in disguise)."""
    from etl_jlp_spark.operators.components import (
        dedup_cc_incremental,
        dedup_connected_components,
        ensure_cc_store,
    )
    from tests.conftest import SF_SMALL

    inc = {(r["node"], r["component"]) for r in dedup_cc_incremental(spark, SF_SMALL).collect()}
    full = {
        (r["node"], r["component"])
        for r in dedup_connected_components(spark, SF_SMALL).collect()
    }
    assert inc == full and inc
    # the store exists and holds the old-slice graph
    import os

    edges_path, labels_path = ensure_cc_store(spark, SF_SMALL)
    assert os.path.exists(os.path.join(edges_path, "_SUCCESS"))
    stored = {r["node"] for r in spark.read.parquet(labels_path).collect()}
    assert stored <= {n for n, _ in full}
