"""Entity-resolution benchmark for zentity_spark: one closed-loop client
(the next op starts when the previous one returns) drives the public API
of the checkout's own ``zentity_spark`` on seeded synthetic corpora, in one
process with ``local[N]``, N = min(4, nproc).

    python3 erbench/run.py --workload batch_account --seed 1 --seconds 10 --trace 0

A run:

1. generate the inputs (cached under erbench/.data, not timed);
2. set up: start the session (launching the JVM), then SETUPS times
   register the corpus and do the per-session preparation (restore the
   fold snapshot, open the stage cache).  The first time also does the
   workload's one-time preparation (fold bootstrap, stage-cache warm),
   which a run affords only once.  ``setup_s`` = session start + one-time
   preparation + median of the repeated part.  One session serves the
   whole run: a restart would also restart the Python workers, and the
   first op after it would pay their start-up;
3. one warm-up op for the batch workloads (the others are warmed by their
   set-ups);
4. ops until ``--seconds`` have passed, at least MIN_OPS, each followed by
   its correctness check.  ``--trace 1`` then repeats the loop with span
   wrappers installed on the program's layer functions (layers.py), and
   reports the per-layer metrics instead; both of its loops make at least
   TRACE_MIN_OPS ops.

The last stdout line is the result JSON; the line before it (prefixed
``# ``) carries diagnostics.  Exit status 2 when the program under test is
missing.  See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

from spans import UNTIMED, NullTracer  # noqa: E402

SETUPS = 3
MIN_OPS = 2
# a traced run measures twice (untraced baseline, then traced) and reports
# only per-layer metrics, which have no regression bound: one op per loop
# keeps it well inside the 180 s a run may take on a loaded box
TRACE_MIN_OPS = 1
HEAP = "2g"
# span layers with <layer>.cpu_s and .self_s; all but the compiler also get
# .spark_jobs, .spark_stages and .spark_tasks (match_edges only builds a
# plan: the Spark jobs under it are its materialize call's)
LAYERS = ("pipeline", "compiler", "cluster", "incremental", "input")

# per-layer metric → (span name, span field) — "dur" is the span duration;
# the per-op value sums that op's spans of that name, the metric is the
# median over traced ops
SPAN_METRICS = {
    "pipeline.materialize_s": ("pipeline.materialize", "dur"),
    "pipeline.stage_bytes": ("pipeline.materialize", "stage_bytes"),
    "compiler.keys_rows": ("compiler.edges", "keys_rows"),
    "compiler.pairs_s": ("compiler.edges", "pairs_s"),
    "compiler.pairs_rows": ("compiler.edges", "pairs_rows"),
    "compiler.edges_s": ("compiler.edges", "dur"),
    "compiler.edges_rows": ("compiler.edges", "rows"),
    "cluster.cc_s": ("cluster.cc", "dur"),
    "cluster.components": ("cluster.cc", "components"),
    "cluster.lp_s": ("cluster.lp", "dur"),
    "cluster.lp_hops": ("cluster.lp", "hops"),
    "incremental.add_s": ("incremental.add", "dur"),
    "incremental.read_s": ("incremental.read", "dur"),
    "incremental.delta_edges": ("incremental.add", "delta_edges"),
    "incremental.bytes_written": ("incremental.add", "bytes_written"),
    "input.seed_docs_s": ("input.seed_docs", "dur"),
    "input.seed_rows": ("input.seed_docs", "rows"),
    "similarity.jw_s": ("similarity.jw", "dur"),
}


E2E_UNITS = {"op_p50_s": "s", "op_tail_s": "s", "docs_per_s": "1/s",
             "setup_s": "s", "peak_rss_mb": "MB", "cpu_s_per_op": "s",
             "success_rate": "ratio", "pairwise_f1": "ratio"}


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"erbench: {msg}", file=sys.stderr, flush=True)


class Ctx:
    """the run's session, seed and scratch directory."""

    def __init__(self, seed: int, work: str):
        self.root = ROOT
        self.seed = seed
        self.work = work
        self.cores = max(1, min(4, os.cpu_count() or 1))
        self.shuffle = self.cores
        self.spark = None
        self.jvm_pid = None
        self.tracer = NullTracer()

    def start_session(self):
        """(re)start the SparkSession; the JVM launches on the first call."""
        from zentity_spark.session import get_spark
        if self.spark is not None:
            self.spark.stop()
        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            master=f"local[{self.cores}]", app="erbench",
            shuffle_partitions=self.shuffle,
            extra={
                "spark.driver.memory": HEAP,
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.enabled": "false",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                # get_spark's GC choice; a heap fixed at its maximum, so
                # heap resizing does not vary from run to run; no JVM
                # perf-data file in /tmp
                "spark.driver.extraJavaOptions":
                    f"-XX:+UseParallelGC -XX:-UsePerfData -Xms{HEAP} "
                    f"-Djava.io.tmpdir={tmp}",
                "spark.executorEnv.PYTHONPATH": ROOT,
            })
        self.jvm_pid = int(
            self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def shutdown(self) -> None:
        """stop Spark, end the JVM and wait for it."""
        from pyspark import SparkContext
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception as e:  # the JVM may already be gone
                log(f"session stop failed: {e}")
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            # the gateway JVM exits on EOF of its stdin
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def pin_environment(work: str) -> None:
    """keep every file the run writes inside ``work``, make the package
    importable by Python workers, and drop program tuning knobs."""
    for k in [k for k in os.environ if k.startswith("ZENTITY_")]:
        del os.environ[k]
    for d in ("stages", "tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["ZENTITY_LOCAL_DIR"] = os.path.join(work, "stages")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")


def program_present() -> str | None:
    for rel in ("zentity_spark/__init__.py", "fixtures/model_person.json",
                "fixtures/model_account.json"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return rel
    return None


def measure(wl, run_op, seconds: float, min_ops: int = MIN_OPS):
    """closed loop: ops until ``seconds`` have passed (at least ``min_ops``),
    each checked after it returns → (times, docs, cpus, failed).  An op
    that raises ends the loop; an op or a check that raises counts as one
    failed op."""
    from spans import cpu_seconds, process_tree
    times, docs, cpus, failed = [], [], [], 0
    t_start = time.perf_counter()
    i = 0
    while i < min_ops or time.perf_counter() - t_start < seconds:
        c0 = cpu_seconds(process_tree(os.getpid()))
        t0 = time.perf_counter()
        try:
            res = run_op(i)
        except Exception as e:
            times.append(time.perf_counter() - t0)
            failed += 1
            log(f"op {i} raised {type(e).__name__}: {e}; stopping")
            break
        times.append(time.perf_counter() - t0)
        cpus.append(cpu_seconds(process_tree(os.getpid())) - c0)
        docs.append(wl.docs_per_op)
        try:
            problems = wl.check(i, res)
        except Exception as e:
            problems = [f"check raised {type(e).__name__}: {e}"]
        if problems:
            failed += 1
            log(f"op {i} failed: {problems}")
        i += 1
    return times, docs, cpus, failed


def layer_metrics(spans, ops: list) -> dict:
    """per-layer metric → median over traced ops."""
    from spans import self_cpu, self_times
    from stats import median
    st = self_times(spans)
    sc = self_cpu(spans)
    per_op = {o: [s for s in spans if s.op == o] for o in ops}

    def total(op, pred, field):
        return sum((s.dur if field == "dur" else s.counters.get(field, 0))
                   for s in per_op[op] if pred(s))

    out = {}
    for m, (name, field) in SPAN_METRICS.items():
        out[m] = median([total(o, lambda s: s.name == name, field)
                         for o in ops])
    yields, jw_rates = [], []
    for o in ops:
        pairs = total(o, lambda s: s.name == "compiler.edges", "pairs_rows")
        edges = total(o, lambda s: s.name == "compiler.edges", "rows")
        yields.append(edges / pairs if pairs else 0.0)
        jw_s = total(o, lambda s: s.name == "similarity.jw", "dur")
        jw_n = total(o, lambda s: s.name == "similarity.jw", "pairs")
        jw_rates.append(jw_n / jw_s if jw_s else 0.0)
    out["compiler.edge_yield"] = median(yields)
    out["similarity.jw_pairs_per_s"] = median(jw_rates)
    # the response minus the resolve_input call inside it
    out["pipeline.response_s"] = median(
        [total(o, lambda s: s.name == "pipeline.response", "dur")
         - total(o, lambda s: s.name == "pipeline.resolve_input", "dur")
         for o in ops])
    for layer in LAYERS:
        mine = lambda s, layer=layer: s.layer == layer
        if layer != "compiler":
            for field in ("spark_jobs", "spark_stages", "spark_tasks"):
                out[f"{layer}.{field}"] = median([total(o, mine, field)
                                                  for o in ops])
        for field, per_span in (("cpu_s", sc), ("self_s", st)):
            out[f"{layer}.{field}"] = median(
                [sum(per_span[s.sid] for s in per_op[o] if mine(s))
                 for o in ops])
    return out


UNITS = {"_s": "s", "_rows": "count", "_bytes": "B", "bytes_written": "B",
         "_per_s": "1/s", "edge_yield": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in sorted(UNITS.items(), key=lambda kv: -len(kv[0])):
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    args = parse(argv)
    missing = program_present()
    if missing:
        log(f"program under test not found: {missing} is missing under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    import layers
    import workloads
    from spans import Tracer, cpu_ticks, peak_rss_mb, process_tree, steal_pct
    from stats import median, tail
    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
            f"one of {sorted(workloads.WORKLOADS)}")
        return 2

    work = os.path.join(HERE, ".work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    pin_environment(work)
    ctx = Ctx(args.seed, work)
    wl = workloads.WORKLOADS[args.workload](ctx)
    diag: dict = {"workload": args.workload, "seed": args.seed,
                  "nproc": os.cpu_count(), "cores": ctx.cores,
                  "shuffle_partitions": ctx.shuffle}
    try:
        t = time.perf_counter()
        wl.inputs()
        diag["inputs_s"] = time.perf_counter() - t
        ticks0 = cpu_ticks()

        t = time.perf_counter()
        ctx.start_session()
        diag["session_s"] = time.perf_counter() - t
        setups = []
        for k in range(SETUPS):
            t0 = time.perf_counter()
            wl.register()
            if k == 0:
                t1 = time.perf_counter()
                wl.once()
                diag["once_s"] = time.perf_counter() - t1
            wl.prepare()
            setups.append(time.perf_counter() - t0
                          - (diag["once_s"] if k == 0 else 0.0))
        diag["setups_s"] = setups
        if wl.warm_op:
            t = time.perf_counter()
            problems = wl.check(-1, wl.op(-1))
            diag["warmup_s"] = time.perf_counter() - t
            if problems:
                raise RuntimeError(f"warm-up op failed: {problems}")

        min_ops = TRACE_MIN_OPS if args.trace else MIN_OPS
        times, docs, cpus, failed = measure(wl, wl.op, args.seconds, min_ops)
        p50 = median(times)
        if args.trace:
            # collected before the traced ops, timed after them: neither
            # is part of a traced op
            wl.similarity_inputs()
            tracer = Tracer(ctx.spark, ctx.jvm_pid)

            def traced_op(i):
                with tracer.span("op", op=i):
                    out = wl.op(i)
                    tracer.settle()
                return out

            uninstall = layers.install(tracer)
            ctx.tracer = tracer
            try:
                t_times, _d, _c, t_failed = measure(wl, traced_op,
                                                    args.seconds, min_ops)
            finally:
                uninstall()
                ctx.tracer = NullTracer()
            failed += t_failed
            times += t_times
            for i in range(len(t_times)):
                wl.trace_similarity(i, tracer)
        t = time.perf_counter()
        try:
            problems = wl.finish()
        except Exception as e:
            problems = [f"{type(e).__name__}: {e}"]
        diag["finish_s"] = time.perf_counter() - t
        if problems:
            log(f"end-of-run check failed: {problems}")
            failed = len(times)
        rss = peak_rss_mb(process_tree(os.getpid()))
        diag["steal_pct"] = steal_pct(ticks0, cpu_ticks())
    finally:
        try:
            ctx.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    attempted = len(times)
    tail_v, tail_pct = tail(times)
    diag.update({"ops": attempted, "op_times_s": times,
                 "tail_pct": tail_pct, "error_rate": failed / attempted})
    if args.trace:
        ops = list(range(len(t_times)))
        metrics = layer_metrics(tracer.spans, ops)
        # the op spans leave out the tracer's untimed probes
        op_p50 = median([s.dur for s in tracer.spans if s.name == "op"])
        metrics["trace.op_p50_s"] = op_p50
        metrics["trace.overhead_s"] = op_p50 - p50
        diag["trace_untimed_s"] = sum(
            s.end - s.start for s in tracer.spans if s.name == UNTIMED)
        out_dir = os.path.join(HERE, ".out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(
            out_dir, f"spans-{args.workload}-s{args.seed}.jsonl"))
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in metrics.items()}
    else:
        metrics = {
            "op_p50_s": p50,
            "op_tail_s": tail_v,
            "docs_per_s": median(docs) / p50,
            "setup_s": diag["session_s"] + diag["once_s"] + median(setups),
            "peak_rss_mb": rss,
            "cpu_s_per_op": median(cpus),
            "success_rate": 1.0 - failed / attempted,
            "pairwise_f1": wl.f1,
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in metrics.items()}
    print("# " + json.dumps(diag))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
