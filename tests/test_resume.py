"""Resume/lineage (BASELINE.md resumability row): a run under
``cache_stages_under`` writes per-stage parquet + metrics; killing after
stage k and re-running reproduces identical clusters while skipping
completed stages.
"""

import json
import os
import shutil

import pytest

from tests.conftest import make_docs
from zentity_spark.pipeline import ResolutionJob


@pytest.fixture
def ckpt(tmp_path):
    return str(tmp_path / "ckpt")


def _cached(spark, docs, model, base, **kw):
    return ResolutionJob(spark, docs, model, **kw).cache_stages_under(base)


def _labels(df):
    return sorted((r["doc_id"], r["entity_id"])
                  for r in df.select("doc_id", "entity_id").collect())


def test_checkpointed_matches_direct(spark, docs_sf0001, model, ckpt):
    job = _cached(spark, docs_sf0001, model, ckpt)
    got = _labels(job.clusters())
    direct = _labels(ResolutionJob(spark, docs_sf0001, model).clusters())
    assert got == direct


def test_resume_skips_completed_stages(spark, docs_sf0001, model, ckpt):
    job = _cached(spark, docs_sf0001, model, ckpt)
    first = _labels(job.clusters())
    stages = job._ckpt_dir

    # "kill after edges": drop the final stage output, keep the rest
    shutil.rmtree(os.path.join(stages, "labels"))
    attrs_mtime = os.path.getmtime(os.path.join(stages, "attrs_x", "_SUCCESS"))
    edges_mtime = os.path.getmtime(
        os.path.join(stages, "explain_x", "_SUCCESS"))

    job2 = _cached(spark, docs_sf0001, model, ckpt)
    second = _labels(job2.clusters())
    assert second == first
    # completed stages untouched (skipped, not recomputed)
    assert os.path.getmtime(
        os.path.join(stages, "attrs_x", "_SUCCESS")) == attrs_mtime
    assert os.path.getmtime(
        os.path.join(stages, "explain_x", "_SUCCESS")) == edges_mtime


def test_warm_stage_dir_serves_labels(spark, docs_sf0001, model, tmp_path,
                                      monkeypatch):
    """a job opening a warm stage dir reads the labels stage the first
    job wrote: no connected components run, the stage is not rewritten."""
    import zentity_spark.pipeline as pl
    base = str(tmp_path / "stages")
    job = ResolutionJob(spark, docs_sf0001, model).cache_stages_under(base)
    first = _labels(job.clusters())
    done = os.path.join(job._ckpt_dir, "labels", "_SUCCESS")
    mtime = os.path.getmtime(done)

    def no_cc(*a, **k):
        raise AssertionError("connected components ran on a warm dir")
    monkeypatch.setattr(pl, "connected_components_by_hash", no_cc)
    job2 = ResolutionJob(spark, docs_sf0001, model).cache_stages_under(base)
    assert _labels(job2.clusters()) == first
    assert os.path.getmtime(done) == mtime


def test_metrics_lineage_written(spark, docs_sf0001, model, ckpt):
    job = _cached(spark, docs_sf0001, model, ckpt)
    job.clusters()
    with open(os.path.join(job._ckpt_dir, "metrics.jsonl")) as f:
        rows = [json.loads(line) for line in f]
    stages = [r["stage"] for r in rows]
    # keys_x / vals_wide_x materialize concurrently → order varies;
    # ck_* stages appear only when the skew policy keeps a resolver's
    # cap/salt machinery (the fixture corpus is provably under-threshold)
    assert {"attrs_x", "keys_x", "vals_wide_x",
            "explain_x", "labels"} <= set(stages)
    assert stages[0] == "attrs_x" and stages[-1] == "labels"
    assert all(r["rows_out"] > 0 and r["wall_ms"] > 0 for r in rows)


def test_stale_checkpoint_refused(spark, docs_sf0001, model, ckpt):
    """a job whose identity changed (model / scope / block_cap / input
    files) must never read the stages of another identity, not silently
    join stale stage parquet against the new inputs (ADVICE round 1):
    over the same base it opens a different dir, its labels equal a
    direct run's, and the first dir is left untouched."""
    job = _cached(spark, docs_sf0001, model, ckpt)
    job.clusters()
    first = job._ckpt_dir
    marks = {st: os.path.getmtime(os.path.join(first, st, "_SUCCESS"))
             for st in os.listdir(first)
             if os.path.isdir(os.path.join(first, st))}
    job2 = _cached(spark, docs_sf0001, model, ckpt, block_cap=7)
    got = _labels(job2.clusters())
    assert job2._ckpt_dir != first
    direct = ResolutionJob(spark, docs_sf0001, model, block_cap=7)
    assert got == _labels(direct.clusters())
    direct.unpersist()
    assert {st: os.path.getmtime(os.path.join(first, st, "_SUCCESS"))
            for st in marks} == marks


def test_one_writer_per_stage(spark, docs_sf0001, model, ckpt):
    """every stage of the dir, ``labels`` included, is written once by
    materialize(): two jobs over one base leave one lineage row per
    stage, the second job's clusters() writes nothing, and the dir holds
    no sidecar beyond the stages, ``key_blocks.json`` and the lineage."""
    job = _cached(spark, docs_sf0001, model, ckpt)
    first = _labels(job.clusters())
    lineage = os.path.join(job._ckpt_dir, "metrics.jsonl")
    with open(lineage) as f:
        rows = f.read().splitlines()
    stages = [json.loads(r)["stage"] for r in rows]
    assert len(stages) == len(set(stages)) and "labels" in stages
    job2 = _cached(spark, docs_sf0001, model, ckpt)
    assert _labels(job2.clusters()) == first
    with open(lineage) as f:
        assert f.read().splitlines() == rows
    assert os.listdir(ckpt) == [os.path.basename(job._ckpt_dir)]
    assert not os.path.exists(os.path.join(job._ckpt_dir, "fingerprint.txt"))
    assert sorted(f for f in os.listdir(job._ckpt_dir)
                  if not os.path.isdir(os.path.join(job._ckpt_dir, f))) \
        == ["key_blocks.json", "metrics.jsonl"]


def test_unpersist_removes_owned_scratch_dir(spark, docs_sf0001, model):
    """jobs without a stage cache own their scratch dir and must remove
    it on unpersist (bench loops were leaking stage parquet into /tmp)."""
    job = ResolutionJob(spark, docs_sf0001, model)
    job.materialize()
    scratch = job._ckpt_dir
    assert scratch is not None and os.path.exists(scratch)
    job.unpersist()
    assert not os.path.exists(scratch)


def test_unpersist_keeps_user_checkpoint_dir(spark, docs_sf0001, model, ckpt):
    job = _cached(spark, docs_sf0001, model, ckpt)
    job.clusters()
    stages = job._ckpt_dir
    job.unpersist()
    assert os.path.exists(os.path.join(stages, "labels"))


def test_in_memory_docs_open_their_own_dir(spark, model, tmp_path):
    """in-memory docs have no input files; their plan identifies them, so
    two different one-doc frames over one base open different dirs and
    each job reads only its own doc, while one frame opened twice keeps
    one dir."""
    base = str(tmp_path / "stages")
    a = make_docs(spark, [("a-000001", [("full_name", "Alicia Keys")])])
    b = make_docs(spark, [("b-000001", [("full_name", "Carol Chan")])])
    assert a.inputFiles() == b.inputFiles() == []
    ja, jb = (_cached(spark, d, model, base) for d in (a, b))
    assert ja._ckpt_dir != jb._ckpt_dir
    assert _cached(spark, a, model, base)._ckpt_dir == ja._ckpt_dir
    for job, doc in ((ja, "a-000001"), (jb, "b-000001")):
        assert _labels(job.clusters()) == [(doc, doc)]
        assert [r[0] for r in job.stage(
            "SELECT DISTINCT doc_id FROM attrs_x",
            upto="attrs_x").collect()] == [doc]
