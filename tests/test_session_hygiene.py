"""Session hygiene of the iterative operators (VERDICT r2 wrong #1-2):

  * the CC star loop (``_star_components``) must not mutate the caller
    session's conf — its loop-local partition sizing / AQE toggle live in
    a dedicated child session, so concurrent jobs on the shared session
    keep their plans;
  * ``bounded_label_propagation`` must broadcast a small frontier into the
    hop join (BroadcastHashJoin in the hop plan, no per-hop edge shuffle).
"""

import threading
import time

from pyspark.sql import functions as F

from zentity_spark.operators import cluster
from zentity_spark.operators.cluster import (
    _star_components,
    bounded_label_propagation,
)


def _chain_edges(spark, n=4000):
    return spark.range(n - 1).select(
        F.format_string("n-%07d", "id").alias("doc_id_a"),
        F.format_string("n-%07d", F.col("id") + 1).alias("doc_id_b"))


def test_cc_does_not_mutate_session_conf(spark):
    """poll the shared session's conf from a concurrent thread for the
    whole duration of a CC run — it must never change."""
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    before = {k: spark.conf.get(k) for k in keys}
    seen = []
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            seen.append({k: spark.conf.get(k) for k in keys})
            time.sleep(0.02)

    t = threading.Thread(target=poll)
    t.start()
    try:
        labels = _star_components(_chain_edges(spark))
        assert labels.count() == 4000
    finally:
        stop.set()
        t.join()
    assert seen, "poller never sampled"
    assert all(s == before for s in seen), \
        f"session conf mutated during CC: {[s for s in seen if s != before][:3]}"
    assert {k: spark.conf.get(k) for k in keys} == before


def test_cc_result_composes_with_caller_session(spark):
    """the labels DataFrame must join cleanly with caller-session frames."""
    labels = _star_components(_chain_edges(spark, 50))
    docs = spark.range(50).select(
        F.format_string("n-%07d", "id").alias("doc_id"))
    joined = docs.join(labels, "doc_id", "left")
    assert joined.count() == 50
    assert joined.where(F.col("entity_id") == "n-0000000").count() == 50


def _hop_plans(monkeypatch):
    """spy on ``cluster._checkpoint_id_stats``: the executed plan of every
    hop frame it checkpoints (the first call is the seeds, not a hop)."""
    plans, calls = [], []
    real = cluster._checkpoint_id_stats

    def spy(df, *a, **k):
        calls.append(1)
        if len(calls) > 1:
            plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, *a, **k)
    monkeypatch.setattr(cluster, "_checkpoint_id_stats", spy)
    return plans


def test_lp_broadcasts_small_frontier(spark, monkeypatch):
    """every hop of a seeded propagation with a tiny frontier runs as a
    broadcast join of the frontier against the checkpointed edge list."""
    edges = _chain_edges(spark, 64)
    seeds = spark.createDataFrame([("n-0000000",)], "doc_id string")
    plans = _hop_plans(monkeypatch)
    out = bounded_label_propagation(edges, seeds, max_hops=3)
    assert out.count() == 4  # seed + 3 hops down the chain
    assert plans, "no hop plans captured"
    for p in plans:
        assert "BroadcastHashJoin" in p, f"hop not broadcast:\n{p[:2000]}"


def test_broadcast_row_budget_is_byte_based(spark):
    """the gate derives rows from the session's own
    autoBroadcastJoinThreshold and the measured id width (VERDICT r3
    wrong #3): wider ids → fewer rows; disabled auto-broadcast → 0."""
    s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    narrow = cluster.broadcast_row_budget(s, 8.0)
    wide = cluster.broadcast_row_budget(s, 512.0)
    assert narrow > wide > 0
    assert narrow <= (10 << 20) // (2 * 8 + cluster._BROADCAST_ROW_OVERHEAD) + 1
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "20MB")
    assert cluster.broadcast_row_budget(s, 8.0) == 2 * narrow
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    assert cluster.broadcast_row_budget(s, 8.0) == 0


def test_lp_oversized_frontier_falls_back_to_shuffle(spark, monkeypatch):
    """with auto-broadcast disabled the budget is 0, so every hop must run
    WITHOUT a frontier broadcast (the shuffle-join fallback path)."""
    s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    edges = _chain_edges(s, 64)
    seeds = s.createDataFrame([("n-0000000",)], "doc_id string")
    plans = _hop_plans(monkeypatch)
    out = bounded_label_propagation(edges, seeds, max_hops=3)
    assert out.count() == 4
    assert plans, "no hop plans captured"
    for p in plans:
        assert "BroadcastHashJoin" not in p, \
            f"hop broadcast despite disabled threshold:\n{p[:2000]}"
