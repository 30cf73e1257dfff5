"""Connected-components & bounded label propagation vs a pure-Python
union-find oracle (SURVEY.md §6.2 item 5): random graphs via hypothesis,
plus hand-built hop-semantics cases (max_hops parity, SURVEY §8 R2).
"""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from zentity_spark.operators.cluster import (
    _star_components,
    bounded_label_propagation,
)


def _uf_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = {}
    for i in range(n_nodes):
        comps.setdefault(find(i), set()).add(i)
    return {frozenset(f"n{j:03d}" for j in c) for c in comps.values() if len(c) > 1}


def _spark_components(spark, edges):
    df = spark.createDataFrame(
        [(f"n{a:03d}", f"n{b:03d}") for a, b in edges],
        "doc_id_a string, doc_id_b string")
    labels = _star_components(df)
    comps = {}
    for r in labels.collect():
        comps.setdefault(r["entity_id"], set()).add(r["doc_id"])
    return {frozenset(c) for c in comps.values()}


edges_strategy = st.lists(
    st.tuples(st.integers(0, 29), st.integers(0, 29)),
    min_size=1, max_size=60)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=edges_strategy)
def test_cc_matches_union_find(spark, edges):
    expect = _uf_components(30, edges)
    got = _spark_components(spark, [e for e in edges if e[0] != e[1]])
    # CC omits isolated nodes; oracle omits singletons — compare multi-node sets
    assert got == expect


def test_cc_empty(spark):
    df = spark.createDataFrame([], "doc_id_a string, doc_id_b string")
    assert _star_components(df).count() == 0


def test_cc_label_is_component_min(spark):
    df = spark.createDataFrame(
        [("c", "b"), ("b", "a"), ("z", "y")],
        "doc_id_a string, doc_id_b string")
    rows = {r["doc_id"]: r["entity_id"]
            for r in _star_components(df).collect()}
    assert rows == {"a": "a", "b": "a", "c": "a", "y": "y", "z": "y"}


def test_cc_long_chain(spark):
    # path graph of 40 nodes → single component, exercises multiple
    # large/small-star rounds (O(log n) convergence)
    edges = [(i, i + 1) for i in range(39)]
    got = _spark_components(spark, edges)
    assert got == {frozenset(f"n{i:03d}" for i in range(40))}


def test_bounded_label_propagation_hops(spark):
    # chain d1-d2-d3-d4 plus isolated d9 (scenario S4 shape, FIXTURES §6)
    edges = spark.createDataFrame(
        [("d1", "d2"), ("d2", "d3"), ("d3", "d4")],
        "doc_id_a string, doc_id_b string")
    seeds = spark.createDataFrame([("d1",)], "doc_id string")

    full = {r["doc_id"]: r["hop"] for r in
            bounded_label_propagation(edges, seeds, max_hops=10).collect()}
    assert full == {"d1": 0, "d2": 1, "d3": 2, "d4": 3}

    one = {r["doc_id"]: r["hop"] for r in
           bounded_label_propagation(edges, seeds, max_hops=1).collect()}
    assert one == {"d1": 0, "d2": 1}


def test_bounded_label_propagation_zero_hops(spark):
    edges = spark.createDataFrame(
        [("d1", "d2")], "doc_id_a string, doc_id_b string")
    seeds = spark.createDataFrame([("d1",)], "doc_id string")
    got = {r["doc_id"]: r["hop"] for r in
           bounded_label_propagation(edges, seeds, max_hops=0).collect()}
    assert got == {"d1": 0}


# ---------------------------------------------------------------------------
# connected_components_by_hash: driver union-find vs the Spark star loop
# ---------------------------------------------------------------------------

# node names whose code-point (= UTF-8 byte) order differs from a
# case-folded or UTF-16 order: "Z" < "a" < "ab" < "é" < "￿" < astral
_IDS = ["Z", "a", "ab", "é", "￿", "\U0001F600", "\U0001F600a",
        "n-0", "n-00", "n-1", "0", "éa"]
# int64 ids (the dedup and td_* graphs), negatives and both extremes
# included: their value order differs from their decimal-string order
_LONG_IDS = [-(1 << 63), -10, -9, -1, 0, 1, 9, 10, 100, 1 << 32,
             (1 << 63) - 2, (1 << 63) - 1]

_ids_edges = st.lists(
    st.tuples(st.one_of(st.integers(0, len(_IDS) - 1), st.none()),
              st.integers(0, len(_IDS) - 1)),
    min_size=0, max_size=20)


def _labels_by_hash(session, pairs, id_type="string"):
    from zentity_spark.operators.cluster import connected_components_by_hash
    df = session.createDataFrame(
        pairs, f"doc_id_a {id_type}, doc_id_b {id_type}")
    return {r["doc_id"]: r["entity_id"] for r in
            connected_components_by_hash(df).collect()}


def _uf_labels(idx_edges, ids=_IDS):
    """expected labels: each member of a multi-node component → its
    minimum id (null ends dropped, as _canon does)."""
    kept = [(a, b) for a, b in idx_edges if a is not None]
    comps = _uf_components(len(ids), kept)
    out = {}
    for c in comps:
        names = [ids[int(n[1:])] for n in c]
        out.update({x: min(names) for x in names})
    return out


@pytest.fixture(scope="module")
def no_broadcast(spark):
    s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    return s


@pytest.mark.parametrize("long_ids", [False, True])
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(idx_edges=_ids_edges)
def test_cc_by_hash_local_equals_spark(spark, no_broadcast, spark_cc_calls,
                                       long_ids, idx_edges):
    """both paths give the union-find labels, on string ids and on int64
    ids (the dedup and td_* graphs), each compared in its own type."""
    ids, id_type = (_LONG_IDS, "long") if long_ids else (_IDS, "string")
    # duplicate and reversed copies of every edge, plus a self-loop
    idx = idx_edges + [(b, a) for a, b in idx_edges if a is not None]
    idx = idx + idx[:3] + [(1, 1)]
    pairs = [(None if a is None else ids[a], ids[b]) for a, b in idx]
    expect = _uf_labels(idx, ids)
    spark_cc_calls.clear()
    assert _labels_by_hash(spark, pairs, id_type) == expect
    assert spark_cc_calls == [], "default session left the driver path"
    assert _labels_by_hash(no_broadcast, pairs, id_type) == expect
    assert spark_cc_calls == [1], "disabled auto-broadcast kept the driver path"


def test_cc_by_hash_over_budget_runs_spark_loop(spark, spark_cc_calls):
    """a graph with more edge rows than the byte budget admits falls back
    to the Spark loop, with the same labels."""
    from zentity_spark.operators import cluster
    s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "1000")
    chain = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(39)]
    assert cluster.broadcast_row_budget(s, cluster._LABEL_ID_BYTES) \
        < len(chain)
    local = _labels_by_hash(spark, chain)
    assert spark_cc_calls == []
    assert _labels_by_hash(s, chain) == local
    assert spark_cc_calls == [1]
    assert set(local.values()) == {"n000"} and len(local) == 40


def test_cc_local_plans_local_relation(spark):
    """the driver path's labels are an Arrow-built LocalRelation: a
    DataFrame from Python rows would plan a LogicalRDD over a PythonRDD,
    whose actions start pyspark.worker processes."""
    from zentity_spark.operators.cluster import connected_components_by_hash
    df = spark.createDataFrame([("b", "a"), ("c", "b")],
                               "doc_id_a string, doc_id_b string")
    plan = connected_components_by_hash(df)._jdf.queryExecution() \
        .analyzed().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
