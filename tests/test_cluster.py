"""connected_components / resolve_clusters: multi-hop closure the harness
corpus can't exercise (its dup clusters have diameter <= 2)."""

from __future__ import annotations

import pytest

from gcp_serverless_etl_pipeline_lab_spark.operators.cluster import (
    connected_components,
    resolve_clusters,
    symmetrize_edges,
)


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


def test_path_graph_collapses_to_min_label(spark):
    # 0-1-2-...-29: one component, diameter 29 — pointer jumping must
    # converge well inside the iteration cap.
    cc = connected_components(_pairs(spark, [(i, i + 1) for i in range(29)]))
    rows = {r.doc_id: r.cluster_id for r in cc.collect()}
    assert rows == {i: 0 for i in range(30)}


def test_two_components_and_reversed_edges(spark):
    # Component {10,11,12} given backwards, component {5,7} forwards,
    # duplicate edge both ways.
    edges = [(12, 11), (11, 10), (5, 7), (7, 5)]
    cc = connected_components(_pairs(spark, edges))
    rows = {r.doc_id: r.cluster_id for r in cc.collect()}
    assert rows == {10: 10, 11: 10, 12: 10, 5: 5, 7: 5}


def test_ring_and_star(spark):
    ring = [(i, (i + 1) % 6) for i in range(6)]  # 0..5
    star = [(100, m) for m in (101, 102, 103)]
    cc = connected_components(_pairs(spark, ring + star))
    rows = {r.doc_id: r.cluster_id for r in cc.collect()}
    assert all(rows[i] == 0 for i in range(6))
    assert all(rows[m] == 100 for m in (100, 101, 102, 103))


def test_resolve_clusters_sizes_and_order(spark):
    out = resolve_clusters(_pairs(spark, [(3, 1), (1, 2), (9, 8)])).collect()
    assert [(r.cluster_id, r.doc_id, r.n_members) for r in out] == [
        (1, 1, 3),
        (1, 2, 3),
        (1, 3, 3),
        (8, 8, 2),
        (8, 9, 2),
    ]


def test_symmetrize_drops_self_loops(spark):
    edges = symmetrize_edges(_pairs(spark, [(4, 4), (4, 5)])).collect()
    assert sorted((r.src, r.dst) for r in edges) == [(4, 5), (5, 4)]


def test_nonconvergence_raises(spark):
    with pytest.raises(RuntimeError):
        connected_components(_pairs(spark, [(i, i + 1) for i in range(20)]), max_iter=1)


# ---------------------------------------------------------------------------
# Property: connected_components == a pure-Python union-find, on random
# edge lists (the join-based propagation + pointer jumping must agree
# with the textbook algorithm for ANY graph shape, not just the
# handcrafted cases above).
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

_EDGES = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)),
    min_size=1,
    max_size=60,
)


def _union_find_labels(edges):
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = {n for e in edges for n in e if e[0] != e[1]}
    for n in nodes:
        parent[n] = n
    for a, b in edges:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-label per component
    comp: dict[int, int] = {}
    for n in nodes:
        r = find(n)
        comp[r] = min(comp.get(r, n), n)
    return {n: comp[find(n)] for n in nodes}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(edges=_EDGES)
def test_cc_matches_union_find(spark, edges):
    expected = _union_find_labels(edges)
    if not expected:  # all edges were self-loops
        return
    cc = connected_components(_pairs(spark, edges))
    got = {r.doc_id: r.cluster_id for r in cc.collect()}
    assert got == expected


def test_loop_session_resyncs_caller_conf(spark):
    """The CC loop's cached clone session re-reads the mirrored confs
    from the caller on every call: a conf changed on the caller after
    the first connected_components run reaches the next loop instead of
    the clone keeping its first-use snapshot."""
    from gcp_serverless_etl_pipeline_lab_spark.operators.cluster import (
        _loop_session,
    )

    connected_components(_pairs(spark, [(1, 2)])).collect()
    tz, parts = "spark.sql.session.timeZone", "spark.sql.shuffle.partitions"
    old = {k: spark.conf.get(k) for k in (tz, parts)}
    new_parts = str(int(old[parts]) + 3)
    try:
        spark.conf.set(tz, "America/New_York")
        spark.conf.set(parts, new_parts)
        iso = _loop_session(spark)
        assert iso is not spark
        assert iso.conf.get(tz) == "America/New_York"
        assert iso.conf.get(parts) == new_parts
        assert iso.conf.get("spark.sql.adaptive.enabled") == "false"
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
        _loop_session(spark)
