"""Incremental resolution (operators/incremental.py): the fold contract
bootstrap(D); add(Δ) == batch(D ∪ Δ), touched-component-only re-clustering,
Δ-side broadcast, and the Structured Streaming wrapper.

The reference has no increment notion (per-request resolution); the batch
equivalence oracle is our own pipeline (itself oracle-checked against
DuckDB in CORRECTNESS_r*.json) — so these tests pin incremental == batch,
and the driver query ``er_increment_clusters`` pins incremental == DuckDB
recursive-CTE clustering directly.
"""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from zentity_spark.operators.incremental import IncrementalResolver
from zentity_spark.pipeline import ResolutionJob

from tests.conftest import make_docs


def _labels(df):
    return sorted((r["doc_id"], r["entity_id"])
                  for r in df.select("doc_id", "entity_id").collect())


@pytest.fixture(scope="module")
def split(spark, docs_sf0001):
    base = docs_sf0001.where("pmod(xxhash64(doc_id), 5) < 4")
    delta = docs_sf0001.where("pmod(xxhash64(doc_id), 5) >= 4")
    assert delta.count() > 10
    return base, delta


@pytest.fixture(scope="module")
def folded(spark, model, split, tmp_path_factory):
    """bootstrap(base) then add(delta), plus the batch reference run."""
    base, delta = split
    state = str(tmp_path_factory.mktemp("inc_state"))
    r = IncrementalResolver(spark, model, state)
    r.add(base)
    base_labels = _labels(r.clusters())
    r.add(delta)
    job = ResolutionJob(spark, base.unionByName(delta), model)
    batch = _labels(job.clusters())
    inc = _labels(r.clusters())
    job.unpersist()
    return r, base_labels, inc, batch


def test_incremental_equals_batch(folded):
    _r, _base, inc, batch = folded
    assert inc == batch


def test_delta_pairs_broadcast_and_nonempty(folded):
    r, _base, _inc, _batch = folded
    # the Δ key probe must be a broadcast hash join (no reshuffle of the
    # combined key table for a small increment)
    assert "BroadcastHashJoin" in (r.last_pairs_plan or "")
    # the increment actually linked documents (the fixture interleaves
    # persons across sources, so a 20% slice has cross-slice matches)
    assert r.last_delta_edges > 0


def test_untouched_components_preserved(folded):
    r, base_labels, inc, _batch = folded
    touched_entities = set()
    base_map = dict(base_labels)
    inc_map = dict(inc)
    # docs whose label changed between folds belong to touched components;
    # every doc whose OLD component got no new member keeps its exact label
    changed = {d for d, e in base_map.items() if inc_map.get(d) != e}
    untouched = {d for d in base_map if d not in changed}
    assert len(untouched) > 0
    for d in sorted(untouched)[:50]:
        assert inc_map[d] == base_map[d]


def test_fold_writes_state_once(spark, model, split, tmp_path, monkeypatch):
    """a fold writes each Δ stage straight into the state: it never runs
    the batch stage materialization, builds one job, persists no vals_x
    stage (nothing reads it back), counts its Δ edges from the edge
    partition it wrote, and still serves the batch labels."""
    base, delta = split
    jobs = []
    init = ResolutionJob.__init__

    def counting_init(self, *a, **kw):
        jobs.append(self)
        init(self, *a, **kw)

    def no_materialize(self, stages=None):
        raise AssertionError("the fold must not call materialize()")

    monkeypatch.setattr(ResolutionJob, "materialize", no_materialize)
    monkeypatch.setattr(ResolutionJob, "__init__", counting_init)
    r = IncrementalResolver(spark, model, str(tmp_path / "st"))
    r.add(base)
    jobs.clear()
    r.add(delta)
    assert len(jobs) == 1
    inc = _labels(r.clusters())
    monkeypatch.undo()
    assert not os.path.exists(r._path("vals_x"))
    fold = r.committed_fold_id()
    assert r.last_delta_edges == r.storage.read(
        r._part("explain_x", fold)).select(
            "doc_id_a", "doc_id_b", "resolver").distinct().count() > 0
    job = ResolutionJob(spark, base.unionByName(delta), model)
    assert inc == _labels(job.clusters())
    job.unpersist()


def test_state_refuses_another_identity(spark, model, folded):
    """a folded state opened under another block_cap refuses: Δ rows of
    the new identity would join the committed rows of the old one.  The
    compaction ratio is a policy, not part of the identity."""
    r = folded[0]
    with pytest.raises(ValueError, match="identity"):
        IncrementalResolver(spark, model, r.state_dir, block_cap=7)
    IncrementalResolver(spark, model, r.state_dir, auto_compact_ratio=2.0)
    with open(os.path.join(r.state_dir, "CURRENT")) as f:
        assert json.load(f)["identity"] == r.identity


def test_three_way_fold(spark, model, docs_sf0001, tmp_path):
    parts = [docs_sf0001.where(f"pmod(xxhash64(doc_id), 3) = {i}")
             for i in range(3)]
    r = IncrementalResolver(spark, model, str(tmp_path / "st"))
    for p in parts:
        r.add(p)
    job = ResolutionJob(spark, docs_sf0001, model)
    assert _labels(r.clusters()) == _labels(job.clusters())
    job.unpersist()


def _inc_dirs(r):
    root = r._path("labels")
    return sorted((d for d in os.listdir(root) if d.startswith("inc=")),
                  key=lambda d: int(d.split("=")[1]))


def _chain_corpus(spark):
    """bootstrap: an Alicia pair + an untouched Carol pair; two one-doc
    increments that each extend the Alicia component."""
    base = make_docs(spark, [
        ("a-000001", [("full_name", "Alicia Keys"),
                      ("birth_date", "1981-01-25")]),
        ("b-000001", [("full_name", "Alicia Keys"),
                      ("birth_date", "1981-01-25")]),
        ("a-000007", [("full_name", "Carol Chan"),
                      ("birth_date", "1970-02-02")]),
        ("a-000008", [("full_name", "Carol Chan"),
                      ("birth_date", "1970-02-02")]),
    ])
    d1 = make_docs(spark, [
        ("a-000002", [("full_name", "Alicia Keys"),
                      ("birth_date", "1981-01-25")])])
    d2 = make_docs(spark, [
        ("a-000003", [("full_name", "Alicia Keys"),
                      ("birth_date", "1981-01-25")])])
    return base, d1, d2


def test_fold_commits_only_relabeled_components(spark, model, tmp_path):
    """the labels table is delta-partitioned: a fold WRITES only the
    touched components (O(Δ), not O(N)); untouched components are served
    from older incs by the latest-wins view."""
    base, d1, d2 = _chain_corpus(spark)
    r = IncrementalResolver(spark, model, str(tmp_path / "st"),
                            auto_compact_ratio=None)
    r.add(base)
    r.add(d1)
    r.add(d2)
    assert _inc_dirs(r) == ["inc=0", "inc=1", "inc=2"]
    ids = lambda fold: {x["doc_id"] for x in r.storage.read(
        r._part("labels", fold)).select("doc_id").collect()}
    # each fold rewrote ONLY the Alicia component, never Carol's
    assert ids(1) == {"a-000001", "b-000001", "a-000002"}
    assert ids(2) == {"a-000001", "b-000001", "a-000002", "a-000003"}
    lab = dict(_labels(r.labels()))
    assert lab["a-000007"] == lab["a-000008"]  # served from inc=0
    job = ResolutionJob(spark, base.unionByName(d1).unionByName(d2), model)
    assert _labels(r.clusters()) == _labels(job.clusters())
    job.unpersist()


def test_single_inc_label_read_has_no_shuffle(spark, model, tmp_path):
    """right after compaction (bootstrap included) the labels table is a
    single inc, so the latest-wins aggregate is a no-op — labels() must
    be a plain scan with NO Exchange/HashAggregate (at sf1 the needless
    aggregate added ~O(N) shuffle to every fold's old-label read)."""
    base, d1, _d2 = _chain_corpus(spark)
    r = IncrementalResolver(spark, model, str(tmp_path / "st"),
                            auto_compact_ratio=None)
    r.add(base)
    plan = r.labels()._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "HashAggregate" not in plan
    # two incs, small delta: base must stream through an ANTI-JOIN against
    # the broadcast delta ids — never a full-table latest-wins shuffle
    r.add(d1)
    plan2 = r.labels()._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan2 and "Broadcast" in plan2


def test_multi_inc_label_read_falls_back_when_delta_large(
        spark, model, tmp_path):
    """with auto-broadcast disabled the delta-broadcast budget is 0, so
    the multi-inc read must fall back to the full latest-wins aggregate
    (and still serve the same labels)."""
    base, d1, _d2 = _chain_corpus(spark)
    r = IncrementalResolver(spark, model, str(tmp_path / "st"),
                            auto_compact_ratio=None)
    r.add(base)
    r.add(d1)
    fast = _labels(r.labels())
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = r.labels()._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" not in plan
        assert "max_by" in plan or "HashAggregate" in plan
        assert _labels(r.labels()) == fast
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_label_auto_compaction(spark, model, tmp_path):
    """ratio-gated compaction folds the view into one inc and drops the
    older partitions, with the served labels unchanged."""
    base, d1, d2 = _chain_corpus(spark)
    r = IncrementalResolver(spark, model, str(tmp_path / "st"),
                            auto_compact_ratio=0.5)
    r.add(base)          # bootstrap compacts by definition: base_rows=4
    r.add(d1)            # delta 3 rows > 0.5×4 → compact into inc=1
    assert _inc_dirs(r) == ["inc=1"]
    r.add(d2)            # delta 4 rows > 0.5×5 → compact into inc=2
    assert _inc_dirs(r) == ["inc=2"]
    job = ResolutionJob(spark, base.unionByName(d1).unionByName(d2), model)
    assert _labels(r.clusters()) == _labels(job.clusters())
    job.unpersist()


def _edgeless_corpus(spark):
    """an edge-less bootstrap (two unrelated docs), then two one-doc
    increments that each link one of them."""
    base = make_docs(spark, [
        ("a-000001", [("full_name", "Alicia Keys"),
                      ("birth_date", "1981-01-25")]),
        ("a-000007", [("full_name", "Carol Chan"),
                      ("birth_date", "1970-02-02")]),
    ])
    d1 = make_docs(spark, [
        ("b-000001", [("full_name", "Alicia Keys"),
                      ("birth_date", "1981-01-25")])])
    d2 = make_docs(spark, [
        ("a-000008", [("full_name", "Carol Chan"),
                      ("birth_date", "1970-02-02")])])
    return base, [d1, d2]


@pytest.mark.parametrize("killed_after", ["docs", "explain_x"])
def test_orphaned_fold_is_absorbed(spark, model, tmp_path, monkeypatch,
                                   killed_after):
    """a fold killed after its docs write, or after its explain_x write,
    is absorbed by the next add() without a fold_id: its docs are not
    overwritten and its partial stage rows never join the state."""
    from zentity_spark.operators import incremental

    def killed(*_a, **_k):
        raise RuntimeError("killed")
    base, d1, d2 = _chain_corpus(spark)
    r = IncrementalResolver(spark, model, str(tmp_path / "st"))
    r.add(base)
    if killed_after == "docs":
        monkeypatch.setattr(r, "_fold", killed)
    else:
        monkeypatch.setattr(incremental, "connected_components_by_hash",
                            killed)
    with pytest.raises(RuntimeError, match="killed"):
        r.add(d1)
    monkeypatch.undo()
    assert os.path.exists(r._part(killed_after, 1))
    r.add(d2)
    all_docs = base.unionByName(d1).unionByName(d2)
    job = ResolutionJob(spark, all_docs, model)
    assert _labels(r.clusters()) == _labels(job.clusters())
    job.unpersist()
    ids = [x["doc_id"] for x in r.docs().collect()]
    assert sorted(ids) == sorted(set(ids)) == sorted(
        x["doc_id"] for x in all_docs.collect())
    ex = (r.storage.read(r._path("explain_x"))
          .where(F.col("inc") <= r.committed_fold_id()).drop("inc"))
    assert ex.count() == ex.distinct().count() > 0


@pytest.mark.parametrize("case", ["edgeless_bootstrap", "legacy_pointer"])
def test_label_base_without_rows_compacts(spark, model, tmp_path, case):
    """a labels base with no rows to take a ratio of (an edge-less
    bootstrap, or a CURRENT written before row accounting) compacts at
    the first non-empty delta instead of never."""
    if case == "edgeless_bootstrap":
        base, deltas = _edgeless_corpus(spark)
        ratio = 0.5
    else:
        base, d1, _d2 = _chain_corpus(spark)
        deltas, ratio = [d1], 4.0
    state = str(tmp_path / "st")
    IncrementalResolver(spark, model, state,
                        auto_compact_ratio=ratio).add(base)
    if case == "legacy_pointer":
        with open(os.path.join(state, "CURRENT"), "w") as f:
            json.dump({"fold_id": 0, "n_batches": 1}, f)
    r = IncrementalResolver(spark, model, state, auto_compact_ratio=ratio)
    for d in deltas:
        r.add(d)
    assert _inc_dirs(r) == [f"inc={len(deltas)}"]
    all_docs = base
    for d in deltas:
        all_docs = all_docs.unionByName(d)
    job = ResolutionJob(spark, all_docs, model)
    assert _labels(r.clusters()) == _labels(job.clusters())
    job.unpersist()


def test_stream_resolve_folds_backlog(spark, model, tmp_path):
    """two landing files drained with availableNow == one batch resolve."""
    from zentity_spark.streaming.resolve import stream_resolve
    spec1 = [
        ("a-000001", [("full_name", "Alicia Keys"),
                      ("birth_date", "1981-01-25")]),
        ("b-000001", [("full_name", "Alicia Keys"),
                      ("birth_date", "1981-01-25")]),
    ]
    spec2 = [
        ("a-000002", [("full_name", "Alicia Keys"),
                      ("birth_date", "1981-01-27")]),
        ("c-000009", [("full_name", "Nobody Here"),
                      ("birth_date", "1999-09-09")]),
    ]
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    for i, spec in enumerate((spec1, spec2)):
        (make_docs(spark, spec)
         .withColumn("event_ts", F.current_timestamp())
         .write.parquet(os.path.join(landing, f"drop{i}")))
    q, resolver = stream_resolve(
        spark, os.path.join(landing, "*"), str(tmp_path / "state"),
        model, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    q.awaitTermination(120)
    all_docs = make_docs(spark, spec1 + spec2)
    job = ResolutionJob(spark, all_docs, model)
    assert _labels(resolver.clusters()) == _labels(job.clusters())
    job.unpersist()


# --- requests over a folded state ---

def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _stages_read(df):
    """the stage dirs a DataFrame's plan reads (state or stage dir)."""
    return {re.search(r"/([^/]+)/(?:inc=\d+/)?[^/]+$", f).group(1)
            for f in df.inputFiles()}


@pytest.fixture(scope="module")
def served(spark, model, split, folded):
    """the folded state's request job, a batch job over base ∪ Δ with its
    edge stage written, and request inputs built from a Δ doc that links
    to a base doc."""
    r = folded[0]
    base, delta = split
    batch = ResolutionJob(spark, base.unionByName(delta), model)
    edges = batch.match_edges().collect()
    d_ids = {x["doc_id"] for x in delta.select("doc_id").collect()}
    doc = min(a if a in d_ids else b for a, b, _r in edges
              if (a in d_ids) != (b in d_ids))
    attrs = batch.attributes_map(
        batch.docs.where(F.col("doc_id") == doc)).first()["attributes"]
    inputs = {"ids": {"ids": [doc]},
              "attributes": {"attributes": {a: list(v)
                                            for a, v in attrs.items()}},
              "terms": {"terms": sorted({x for v in attrs.values()
                                         for x in v})}}
    job = r.job()
    yield job, batch, inputs
    job.unpersist()
    batch.unpersist()


def test_folded_state_serves_batch_relations(served):
    """the folded state's edges, explanations and scores equal the batch
    over all folded docs, and read only the edge stage's committed incs."""
    job, batch, _inputs = served
    for rel in ("match_edges", "explanations", "pair_scores", "doc_scores"):
        got = getattr(job, rel)()
        assert _stages_read(got) == {"explain_x"}, rel
        assert _sorted_rows(got) == _sorted_rows(getattr(batch, rel)()), rel


@pytest.mark.parametrize("kind", ["attributes", "ids", "terms"])
def test_folded_state_response_equals_batch(served, kind, tmp_path,
                                            monkeypatch):
    """response() over the folded state equals the batch response on every
    column, runs no pair derivation (no keys_x scan) and opens no scratch
    stage dir."""
    job, batch, inputs = served
    args = dict(inputs[kind], include_explanation=True)
    want = sorted((x.asDict(recursive=True)
                   for x in batch.response(**args).collect()),
                  key=lambda x: x["doc_id"])
    scratch = tmp_path / "scratch"
    monkeypatch.setenv("ZENTITY_LOCAL_DIR", str(scratch))
    out = job.response(**args)
    got = sorted((x.asDict(recursive=True) for x in out.collect()),
                 key=lambda x: x["doc_id"])
    assert len(got) > 1 and got == want
    read = _stages_read(out)
    assert "explain_x" in read and "keys_x" not in read
    assert not scratch.exists()


def test_folds_leave_no_views_or_checkpoints(spark, model, tmp_path):
    """a fold drops the temp views it registers and frees its
    localCheckpoints when it ends: a long-running stream_resolve must not
    grow the catalog or the block store fold by fold."""
    def views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    def cached():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    v0, n0 = views(), cached()
    r = IncrementalResolver(spark, model, str(tmp_path / "st"))
    for d in _chain_corpus(spark)[:2]:
        r.add(d)
        assert views() <= v0
        assert cached() <= n0
