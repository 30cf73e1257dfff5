"""Fixed-cost (Amdahl) decomposition of the e2e resolution run.

BENCH/BASELINE.md's scaling numbers fit T(p) = F + W/p almost exactly
(r2: W ~= 1253 s, F ~= 89 s at sf1 — F is ~70% of the local[32] wall).
This script attributes F to phases: it runs one instrumented e2e at a
given parallelism (after a JIT warmup run) and prints per-phase wall
times as one JSON line.  Run at two parallelism levels, the per-phase
F/W split falls out of the two-point fit:

    W_phase = (T_p1 - T_p2) / (1/p1 - 1/p2);  F_phase = T_p1 - W_phase/p1

Usage (pin the whole JVM, like scripts/scaling.py):
    taskset -c 0-31 python scripts/fixed_cost.py --cpus 32 --shuffle 64
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--shuffle", type=int, default=None)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--warmup", type=int, default=1)
    args = ap.parse_args()
    shuffle = args.shuffle or 4 * args.cpus

    from zentity_spark.model import Model
    from zentity_spark.pipeline import ResolutionJob
    from zentity_spark.session import get_spark
    from zentity_spark.synth import corpus_dir_for_sf_dir

    corpus = corpus_dir_for_sf_dir(args.sf_dir)
    spark = get_spark(master=f"local[{args.cpus}]", app="zentity_fixedcost",
                      shuffle_partitions=shuffle,
                      extra={"spark.driver.memory": "32g"})
    docs = spark.read.parquet(os.path.join(corpus, "docs_spans.parquet"))
    n_docs = docs.count()
    with open(os.path.join(REPO, "fixtures", "model_person.json")) as f:
        model = Model.parse(f.read())

    for _ in range(args.warmup):
        job = ResolutionJob(spark, docs, model)
        job.clusters().count()
        job.unpersist()

    t: dict[str, float] = {}
    steal: dict[str, float] = {}
    busy: dict[str, float] = {}

    def _cpu():
        with open("/proc/stat") as f:
            vals = list(map(int, f.readline().split()[1:]))
        # (steal, busy = user+nice+sys+irq+softirq, total)
        busy_t = vals[0] + vals[1] + vals[2] + vals[5] + vals[6]
        return vals[7], busy_t, sum(vals)

    def clk(name, fn):
        c0 = _cpu()
        t0 = time.time()
        out = fn()
        wall = time.time() - t0
        t[name] = round(wall, 3)
        c1 = _cpu()
        dt = c1[2] - c0[2]
        steal[name] = round(100.0 * (c1[0] - c0[0]) / dt, 1) if dt else 0.0
        # average busy CORES over the phase (ticks are 100 Hz, host-wide —
        # nothing else runs, so this is the job's effective parallelism)
        busy[name] = round((c1[1] - c0[1]) / 100.0 / wall, 1) if wall else 0.0
        return out

    t_all0 = time.time()
    job = clk("init_compile", lambda: ResolutionJob(spark, docs, model))

    # --- materialization, level by level (mirrors materialize(None)) ---
    clk("mat_base", lambda: job.materialize(job.BASE_LEVELS))
    clk("skew_policy", job._compute_skew_policy)
    ck = job._ck_level()
    if ck:
        clk("mat_ck", lambda: job.materialize((ck,)))

    # --- edges: split Catalyst planning (driver-serial) from execution ---
    sql_edges = job.plan.sql(
        __import__("zentity_spark.dialect", fromlist=["SPARK"]).SPARK,
        job._view,
        "SELECT doc_id_a, doc_id_b, resolver FROM match_edges_x",
        upto="match_edges_x", replace=dict(job._replace))
    t["edges_sql_chars"] = len(sql_edges)
    edges = clk("edges_analyze", lambda: spark.sql(sql_edges))
    # checkpoint ONCE, exactly like clusters() (pipeline.py): every
    # downstream consumer scans the materialized partitions instead of
    # re-executing the pairs+verify plan
    edges = clk("edges_exec", lambda: edges
                .select("doc_id_a", "doc_id_b").localCheckpoint())

    # --- clustering, decomposed ---
    from zentity_spark.operators import cluster as C
    ie = edges.selectExpr("xxhash64(doc_id_a) AS doc_id_a",
                          "xxhash64(doc_id_b) AS doc_id_b")
    e0 = clk("cc_canon", lambda: C._canon(ie).localCheckpoint())
    n_e = e0.count()
    cc = spark.newSession()
    cc_parts = max(8, min(shuffle, n_e // 100_000 + 1))
    cc.conf.set("spark.sql.shuffle.partitions", str(cc_parts))
    cc.conf.set("spark.sql.adaptive.enabled", "false")
    e = C._rebind(e0, cc)
    prev, rounds = None, 0
    c0r = _cpu()
    t0r = time.time()
    for _ in range(50):
        e = C._small_star(C._large_star(e)).localCheckpoint()
        cur = C._checksum(e)
        rounds += 1
        if cur == prev:
            break
        prev = cur
    t["cc_rounds"] = round(time.time() - t0r, 3)
    c1r = _cpu()
    steal["cc_rounds"] = round(
        100.0 * (c1r[0] - c0r[0]) / max(c1r[2] - c0r[2], 1), 1)
    busy["cc_rounds"] = round(
        (c1r[1] - c0r[1]) / 100.0 / max(t["cc_rounds"], 1e-9), 1)
    t["cc_n_rounds"] = rounds
    e = C._rebind(e, spark)

    # label restore + final span-passthrough join (clusters())
    import pyspark.sql.functions as F
    labels_h = (e.select(F.col("v").alias("doc_id"),
                         F.col("u").alias("entity_id"))
                .union(e.select(F.col("u").alias("doc_id"),
                                F.col("u").alias("entity_id")))
                .groupBy("doc_id").agg(F.min("entity_id").alias("entity_id")))
    nodes = (edges.select(F.col("doc_id_a").alias("doc_id"))
             .union(edges.select("doc_id_b")).distinct()
             .withColumn("hid", F.expr("xxhash64(doc_id)")))
    member = labels_h.join(nodes, labels_h.doc_id == nodes.hid).select(
        nodes.doc_id, F.col("entity_id").alias("comp"))
    canon = member.groupBy("comp").agg(F.min("doc_id").alias("entity_id"))
    labels = member.join(canon, "comp").select("doc_id", "entity_id")
    labels = clk("cc_label_restore", lambda: labels.localCheckpoint())
    out = docs.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("entity_id", "doc_id").alias("entity_id"), "spans")
    clk("final_span_join", lambda: out.write.mode("overwrite")
        .format("noop").save())
    t["total"] = round(time.time() - t_all0, 3)
    job.unpersist()

    print(json.dumps({
        "cpus": args.cpus, "shuffle": shuffle, "docs": n_docs,
        "edges": n_e, "phases": t, "steal_pct": steal, "busy_cores": busy}))


if __name__ == "__main__":
    main()
