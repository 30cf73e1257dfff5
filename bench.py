"""Benchmark harness: runs the headline ER queries on the sf-equivalent
interleaved corpus and prints ONE JSON line for the driver
(BENCH_r{N}.json).

Env:
  SPARK_GRAFT_SF_DIR  driver sf dir (default /root/testdata/sf0.1) — mapped
                      to the same-tier fixture corpus (FIXTURES.md §5)
  SPARK_GRAFT_CPUS    local[N] parallelism (default 32)
  BENCH_SHUFFLE       shuffle partitions (default 4*cpus)

The flagship metric is end-to-end resolution wall time (extract → block →
pair → verify → cluster → count) and derived docs/sec; per-stage timings in
"queries".  The two-parallelism scaling protocol (BASELINE.md) runs this
script at SPARK_GRAFT_CPUS=8 and 32 via scripts/scaling.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _cpu_sample() -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from /proc/stat — the sandbox is a VM
    with an intermittently noisy co-tenant (observed steal bursts of up to
    ~26% of total CPU); per-run steal%% makes polluted runs identifiable."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = list(map(int, parts))
        return vals[7] if len(vals) > 7 else 0, sum(vals)
    except OSError:
        return None


def _steal_pct(before, after) -> float | None:
    if before is None or after is None:
        return None
    ds, dt = after[0] - before[0], after[1] - before[1]
    return round(100.0 * ds / dt, 1) if dt > 0 else None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = int(os.environ.get("BENCH_SHUFFLE",
                                 os.environ.get("SPARK_GRAFT_SHUFFLE",
                                                str(4 * cpus))))

    from zentity_spark.model import Model
    from zentity_spark.pipeline import ResolutionJob
    from zentity_spark.session import get_spark
    from zentity_spark.synth import corpus_dir_for_sf_dir

    corpus = corpus_dir_for_sf_dir(sf_dir)  # generates on first call (cached)
    extra = {"spark.driver.memory":
             os.environ.get("ZENTITY_DRIVER_MEM", "32g")}
    spark = get_spark(master=f"local[{cpus}]", app="zentity_bench",
                      shuffle_partitions=shuffle, extra=extra)

    docs = spark.read.parquet(os.path.join(corpus, "docs_spans.parquet"))
    n_docs = docs.count()
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "fixtures", "model_person.json")) as f:
        model = Model.parse(f.read())

    timings: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        return out

    # flagship: end-to-end extract→block→pair→verify→cluster, nothing
    # cached between repeats (each repeat builds a fresh job and unpersists
    # its stage materializations).  BENCH_REPEAT>1 repeats in-process so
    # later runs measure warm-JIT steady state (the scaling protocol uses
    # repeat=4 and drops run 0 — JIT is identical serial cost at any
    # parallelism and would mask scaling).
    repeat = int(os.environ.get("BENCH_REPEAT", "3"))
    runs, steals = [], []
    for _ in range(max(1, repeat)):
        job = ResolutionJob(spark, docs, model)
        c0 = _cpu_sample()
        t0 = time.time()
        n_out = job.clusters().count()
        runs.append(round(time.time() - t0, 3))
        steals.append(_steal_pct(c0, _cpu_sample()))
        job.unpersist()
        assert n_out == n_docs, f"output rows {n_out} != input docs {n_docs}"
    tail = runs[1:] if len(runs) > 1 else runs
    e2e = sorted(tail)[len(tail) // 2]
    # best-of-tail: co-tenant CPU steal only ever ADDS wall time, so under
    # a noisy host the minimum is the least-polluted estimate of the
    # engine's true cost (median stays the headline for protocol parity)
    timings["e2e_resolution"] = e2e
    timings["e2e_resolution_min"] = min(tail)

    if os.environ.get("BENCH_DIAG", "1") == "1":
        # per-stage diagnostics (each recomputes its full prefix —
        # cumulative, not additive)
        job2 = ResolutionJob(spark, docs, model)
        timed("extract_attributes", lambda: job2.attrs().count())
        timed("blocking_keys", lambda: job2.keys().count())
        timed("candidate_pairs", lambda: job2.candidate_pairs().count())
        # match_edges writes the edge stage, clusters() then runs CC over it
        timed("match_edges", lambda: job2.match_edges().count())
        timed("connected_components", lambda: job2.clusters().count())
        job2.unpersist()

    assert n_out == n_docs, f"output rows {n_out} != input docs {n_docs}"

    print(json.dumps({
        "metric": "e2e_resolution_sec",
        "value": round(e2e, 3),
        "unit": "sec",
        "runs": runs,
        "value_min": min(tail),
        "steal_pct": steals,
        "queries": timings,
        "sf": os.path.basename(os.path.normpath(sf_dir)),
        "docs": n_docs,
        "docs_per_sec": round(n_docs / e2e, 1),
        "cpus": cpus,
        "shuffle_partitions": shuffle,
    }))


if __name__ == "__main__":
    main()
