"""Tests for the benchmark's own helpers: tail-percentile selection, span
self time and untimed sections, the op loop, the layer span wrappers, the
input generator's fold split and the correctness checkers — the
Spark-backed ones on the committed fixtures/sf0.001 corpus.

    python3 -m pytest erbench -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
from spans import UNTIMED, Span, Tracer, self_times  # noqa: E402
from stats import spread, tail  # noqa: E402

SF = os.path.join(ROOT, "fixtures", "sf0.001")


# ---------- tail percentile ----------

def test_tail_is_max_without_ten_samples_beyond():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    assert tail(list(range(10))) == (9.0, 100.0)


def test_tail_leaves_exactly_ten_samples_beyond():
    xs = [float(i) for i in range(100)]
    v, pct = tail(xs)
    assert v == 89.0 and pct == 90.0
    assert sum(x > v for x in xs) == 10
    v, pct = tail([float(i) for i in range(11)])
    assert v == 0.0 and pct == pytest.approx(100 / 11)


def test_spread_is_iqr_over_median():
    assert spread([1.0, 1.0, 1.0, 1.0]) == 0.0
    assert spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(3.0 / 3.0)


# ---------- spans ----------

def _span(sid, parent, start, end):
    return Span(sid, f"layer{sid}.call", 0, parent, start, end)


def test_self_time_subtracts_union_of_clipped_children():
    spans = [_span(0, None, 0.0, 10.0),
             _span(1, 0, 1.0, 3.0),
             _span(2, 0, 2.0, 5.0),     # overlaps span 1
             _span(3, 0, 8.0, 12.0),    # runs past the parent's end
             _span(4, 2, 2.5, 3.5)]     # grandchild: only its parent sees it
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_nests_spans_and_inherits_op():
    tr = Tracer()
    with tr.span("op", op=7):
        with tr.span("compiler.edges") as s:
            s.counters["rows"] = 3
    with tr.span("similarity.jw", op=7):
        pass
    root, child, jw = tr.spans
    assert (root.parent, child.parent, jw.parent) == (None, root.sid, None)
    assert child.op == jw.op == 7
    assert child.layer == "compiler" and child.counters["rows"] == 3
    assert root.start <= child.start <= child.end <= root.end


def test_untimed_sections_are_left_out_of_enclosing_spans():
    tr = Tracer()
    ran = []
    with tr.span("op", op=1) as op:
        with tr.span("compiler.edges") as e:
            tr.defer(lambda: ran.append(tr.suspended), key="job")
        tr.defer(lambda: ran.append("free"))
        tr.settle(key="job")
        assert ran == [True]
        tr.settle()
    assert ran == [True, "free"] and not tr.suspended
    untimed = [s for s in tr.spans if s.name == UNTIMED]
    assert [u.parent for u in untimed] == [op.sid, op.sid]
    assert all(u.op == 1 for u in untimed)
    assert op.paused == pytest.approx(sum(u.end - u.start for u in untimed))
    assert op.dur == pytest.approx(op.end - op.start - op.paused)
    assert e.paused == 0.0
    assert self_times(tr.spans)[op.sid] == pytest.approx(
        op.end - op.start - (e.end - e.start) - op.paused)


# ---------- op loop ----------

class _Loop:
    docs_per_op = 5

    def __init__(self, bad_op=None, bad_check=None):
        self.bad_op, self.bad_check = bad_op, bad_check

    def op(self, i):
        if i == self.bad_op:
            raise RuntimeError("op")
        return i

    def check(self, i, res):
        if i == self.bad_check:
            raise RuntimeError("check")
        return [] if res == i else ["wrong"]


def test_measure_counts_an_op_whose_check_raises_once():
    import run
    wl = _Loop(bad_check=1)
    times, docs, cpus, failed = run.measure(wl, wl.op, 0.0, min_ops=3)
    assert len(times) == len(docs) == len(cpus) == 3
    assert failed == 1 and docs == [5, 5, 5]


def test_measure_stops_at_an_op_that_raises():
    import run
    wl = _Loop(bad_op=1)
    times, docs, cpus, failed = run.measure(wl, wl.op, 0.0, min_ops=3)
    assert len(times) == 2 and len(docs) == len(cpus) == 1
    assert failed == 1


# ---------- generator ----------

def _truth():
    return gen.truth_rows({"truth": os.path.join(SF, "doc_truth.parquet")})


def test_fold_split_keeps_anchors_in_base_and_partitions_docs():
    truth = _truth()
    base, slices = gen.fold_split(truth, seed=5)
    assert gen.anchors(truth) <= base
    per = max(1, round(len(truth) * gen.FOLD_SHARE))
    assert [len(s) for s in slices] == [per] * gen.FOLD_SLICES
    every = [base, *slices]
    assert sum(map(len, every)) == len(truth)
    assert set().union(*every) == {r["doc_id"] for r in truth}
    assert gen.fold_split(truth, seed=5) == (base, slices)
    assert gen.fold_split(truth, seed=6)[1] != slices


def test_requests_cycle_the_input_mix():
    truth = _truth()
    persons = pq.read_table(os.path.join(SF, "persons.parquet")).to_pylist()
    reqs = gen.requests(persons, truth, seed=1, n=10)
    assert [(r["kind"], r["include_explanation"]) for r in reqs[:5]] == \
        list(gen.REQUEST_MIX)
    assert reqs == gen.requests(persons, truth, seed=1, n=10)
    by_doc = {r["doc_id"]: r["person_id"] for r in truth}
    ids_req = next(r for r in reqs if r["kind"] == "ids")
    assert by_doc[ids_req["ids"][0]] == ids_req["person_id"]


# ---------- checkers (pure) ----------

def test_truth_labels_use_min_doc_of_each_person_among_ingested():
    truth = [{"doc_id": "b-1", "person_id": "p1"},
             {"doc_id": "a-1", "person_id": "p1"},
             {"doc_id": "c-1", "person_id": "p2"}]
    assert checks.truth_labels(truth, {"b-1", "a-1", "c-1"}) == \
        {"b-1": "a-1", "a-1": "a-1", "c-1": "c-1"}
    assert checks.truth_labels(truth, {"b-1", "c-1"}) == \
        {"b-1": "b-1", "c-1": "c-1"}


def test_labels_check_reports_differences():
    exp = {"a": "a", "b": "a"}
    assert checks.labels_check(dict(exp), exp) == []
    assert checks.labels_check({"a": "a", "b": "b"}, exp)
    assert checks.labels_check({"a": "a"}, exp)


def test_hits_check_and_pair_f1():
    assert checks.hits_check(["a", "b"], ["b", "a"]) == []
    assert checks.hits_check(["a"], ["a", "b"])
    assert checks.hit_pair_counts(["a", "b", "c"], ["a", "b", "c"]) == (3, 0, 0)
    tp, fp, fn = checks.hit_pair_counts(["a", "b", "x"], ["a", "b", "c"])
    assert (tp, fp, fn) == (1, 2, 2)
    assert checks.f1_of(1, 2, 2) == pytest.approx(1 / 3)
    assert checks.f1_of(0, 0, 0) == 1.0


# ---------- checkers against the program (Spark) ----------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    scratch = str(tmp_path_factory.mktemp("erbench_spark"))
    from zentity_spark.session import get_spark
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("ZENTITY_LOCAL_DIR", scratch)
        yield get_spark(master="local[2]", app="erbench_tests",
                        shuffle_partitions=4,
                        extra={"spark.local.dir": scratch,
                               "spark.driver.memory": "1g",
                               "spark.ui.showConsoleProgress": "false"})


def _model(kind):
    from zentity_spark.model import Model
    with open(os.path.join(ROOT, "fixtures", f"model_{kind}.json")) as f:
        return Model.parse(f.read())


def test_batch_check_passes_on_fixture_and_catches_a_merge(spark):
    from pyspark.sql import functions as F
    from zentity_spark.pipeline import ResolutionJob
    model = _model("person")
    docs = spark.read.parquet(os.path.join(SF, "docs_spans.parquet"))
    labeled = spark.read.parquet(os.path.join(SF, "labeled_pairs.parquet"))
    truth = spark.read.parquet(os.path.join(SF, "doc_truth.parquet"))
    job = ResolutionJob(spark, docs, model)
    out = job.clusters().localCheckpoint()
    problems, f1 = checks.batch_check(out, docs.count(), labeled, truth)
    assert problems == [] and f1 == 1.0
    merged = out.withColumn("entity_id", F.lit("one"))
    problems, f1 = checks.batch_check(merged, docs.count(), labeled, truth)
    # few labeled negatives: F1 barely moves, the partition check catches it
    assert f1 < 1.0 and any("partition" in p for p in problems)
    job.unpersist()


@pytest.mark.parametrize("kind,docs,truth", [
    ("person", "docs_spans", "doc_truth"),
    ("account", "docs2_spans", "docs2_truth")])
def test_batch_labels_on_an_anchor_keeping_subset_equal_truth_labels(
        spark, kind, docs, truth):
    """the premise of the fold and seeded checks: with every anchor kept,
    batch resolution of any doc subset labels it like the truth."""
    from pyspark.sql import functions as F
    from zentity_spark.pipeline import ResolutionJob
    from zentity_spark.plans.compiler import Scope
    rows = gen.truth_rows({"truth": os.path.join(SF, truth + ".parquet")})
    base, _slices = gen.fold_split(rows, seed=3)
    df = (spark.read.parquet(os.path.join(SF, docs + ".parquet"))
          .where(F.col("doc_id").isin(sorted(base))))
    job = ResolutionJob(spark, df, _model(kind),
                        Scope() if kind == "account" else None)
    got = {r["doc_id"]: r["entity_id"]
           for r in job.clusters().select("doc_id", "entity_id").collect()}
    job.unpersist()
    assert checks.labels_check(got, checks.truth_labels(rows, base)) == []


def test_layer_spans_wrap_the_programs_own_calls(spark):
    """a seeded response run with the wrappers installed: every layer call
    gets a span, the probes fill in the sizes, the answer is unchanged and
    uninstalling restores the program."""
    import layers
    from zentity_spark.operators import cluster
    from zentity_spark.pipeline import ResolutionJob
    truth = _truth()
    persons = pq.read_table(os.path.join(SF, "persons.parquet")).to_pylist()
    r = gen.requests(persons, truth, seed=1, n=1)[0]
    assert r["attributes"]
    docs = spark.read.parquet(os.path.join(SF, "docs_spans.parquet"))
    before = (ResolutionJob.materialize, ResolutionJob.match_edges,
              cluster.bounded_label_propagation)
    tr = Tracer(spark)
    uninstall = layers.install(tr)
    try:
        job = ResolutionJob(spark, docs, _model("person"))
        with tr.span("op", op=0):
            rows = job.response(attributes=r["attributes"], terms=r["terms"],
                                ids=r["ids"]).collect()
            tr.settle()
        job.unpersist()
    finally:
        uninstall()
    assert (ResolutionJob.materialize, ResolutionJob.match_edges,
            cluster.bounded_label_propagation) == before
    expected = [t["doc_id"] for t in truth
                if t["person_id"] == r["person_id"]]
    assert checks.hits_check([x["doc_id"] for x in rows], expected) == []
    by: dict = {}
    for s in tr.spans:
        by.setdefault(s.name, []).append(s)
    (edges,) = by["compiler.edges"]
    (resolve,) = by["pipeline.resolve_input"]
    (seeds,) = by["input.seed_docs"]
    (lp,) = by["cluster.lp"]
    assert seeds.parent == lp.parent == resolve.sid
    assert all(s.op == 0 for s in tr.spans)
    assert 0 < edges.counters["rows"] <= edges.counters["pairs_rows"]
    assert edges.counters["keys_rows"] > 0 and edges.counters["pairs_s"] > 0
    assert seeds.counters["rows"] >= 1
    assert lp.counters["hops"] >= 1 and lp.counters["spark_jobs"] > 0
    # the first materialize writes the stages; nested re-entry folds in
    mats = by["pipeline.materialize"]
    assert mats[0].parent == edges.sid and mats[0].counters["stage_bytes"] > 0
    assert not {m.parent for m in mats} & {m.sid for m in mats}


# ---------- command contract ----------

def test_run_fails_without_the_program(tmp_path):
    """in a tree holding only the benchmark, the command exits non-zero and
    prints no result."""
    shutil.copytree(HERE, tmp_path / "erbench",
                    ignore=shutil.ignore_patterns(".data", ".work", ".out",
                                                  "__pycache__"))
    p = subprocess.run(
        [sys.executable, "erbench/run.py", "--workload", "seeded_request",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_reported_metrics_match_benchmark_json():
    import json
    import run
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == \
        run.E2E_UNITS
    names = set(run.layer_metrics([], [0])) | {"trace.op_p50_s",
                                               "trace.overhead_s"}
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        {n: run.unit_of(n) for n in names}
