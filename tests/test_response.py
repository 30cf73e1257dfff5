"""Response assembly (SURVEY rows 5/33): hit payload toggles
`_attributes` / `_score` / `_explanation` / `_source` on a seeded
resolution — ≙ the REST response options of the reference
(`ResolutionAction.java::prepareRequest` URL params, row 31).
"""

import os

import pytest

from tests.conftest import make_docs
from zentity_spark.pipeline import ResolutionJob

SPEC = [
    ("a-000001", [("full_name", "vera lund"), ("tel", "15551230009"),
                  ("email", "vl@x.example")]),
    ("b-000001", [("full_name", "vera lund"), ("tel", "1-555-123-0009")]),
    ("c-000001", [("email", "VL@x.example")]),
    ("a-000002", [("full_name", "someone else"), ("tel", "15550000000")]),
]


@pytest.fixture(scope="module")
def job(spark, model):
    return ResolutionJob(spark, make_docs(spark, SPEC), model)


def test_full_response(job):
    rows = {r["doc_id"]: r for r in job.response(
        attributes={"name": ["Vera Lund"], "phone": ["15551230009"]},
        max_hops=5, include_explanation=True).collect()}
    assert set(rows) == {"a-000001", "b-000001", "c-000001"}
    assert rows["a-000001"]["hop"] == 0
    assert rows["b-000001"]["hop"] == 0
    assert rows["c-000001"]["hop"] == 1          # via shared email
    # _attributes: harvested multi-valued, normalized
    attrs = rows["a-000001"]["attributes"]
    assert attrs["name"] == ["vera lund"]
    assert attrs["phone"] == ["15551230009"]
    # _score present and in (0.5, 1]
    assert 0.5 < rows["a-000001"]["score"] <= 1.0
    # _explanation rows and _source spans present
    assert len(rows["a-000001"]["explanation"]) > 0
    assert rows["a-000001"]["spans"][0]["text"] == "full_name=vera lund"


def test_response_toggles(job):
    df = job.response(ids=["a-000002"], include_attributes=False,
                      include_score=False, include_source=False)
    assert set(df.columns) == {"doc_id", "hop", "q"}
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["hop"] == 0 and rows[0]["q"] == 0


# --- the edge-and-explanation stage under a shared stage dir ---

INPUTS = {
    "attributes": {"attributes": {"name": ["Vera Lund"],
                                  "phone": ["15551230009"]}},
    "terms": {"terms": ["Vera Lund", "15551230009"]},
    "ids": {"ids": ["b-000001"]},
}


def _rows(df):
    return sorted((r.asDict(recursive=True) for r in df.collect()),
                  key=lambda r: r["doc_id"])


def _scanned(df):
    """the stage dirs a DataFrame's plan reads."""
    return {os.path.basename(os.path.dirname(f)) for f in df.inputFiles()}


@pytest.mark.parametrize("explain", [False, True])
@pytest.mark.parametrize("kind", sorted(INPUTS))
def test_warm_stage_dir_response_equals_fresh(spark, model, tmp_path,
                                             kind, explain):
    """a job opening a stage dir that already holds the edge stage answers
    exactly like the job that wrote it (every column), never rewrites the
    stage, and runs no pair derivation (no keys_x scan behind its edges,
    scores or explanations)."""
    docs = make_docs(spark, SPEC)
    base = str(tmp_path / "stages")
    args = dict(INPUTS[kind], max_hops=5, include_explanation=explain)

    fresh = ResolutionJob(spark, docs, model).cache_stages_under(base)
    want = _rows(fresh.response(**args))
    marker = os.path.join(fresh._ckpt_dir, ResolutionJob.EDGE_STAGE,
                          "_SUCCESS")
    mtime = os.path.getmtime(marker)

    warm = ResolutionJob(spark, docs, model).cache_stages_under(base)
    out = warm.response(**args)
    got = _rows(out)
    assert got == want
    assert {r["doc_id"] for r in got} >= {"a-000001", "b-000001", "c-000001"}
    assert set(got[0]) == ({"doc_id", "hop", "q", "attributes", "score",
                            "spans"} | ({"explanation"} if explain else set()))
    assert os.path.getmtime(marker) == mtime
    for df in (out, warm.match_edges()):
        dirs = _scanned(df)
        assert ResolutionJob.EDGE_STAGE in dirs and "keys_x" not in dirs


def test_edge_stage_edges_equal_compiled_edges(spark, docs_sf0001, model):
    """the distinct (pair, resolver) projection of the edge stage is the
    compiled match-edge relation, row for row."""
    job = ResolutionJob(spark, docs_sf0001, model)
    staged = job.match_edges()
    compiled = job.stage(
        "SELECT doc_id_a, doc_id_b, resolver FROM match_edges_x",
        upto="match_edges_x")
    assert _scanned(staged) == {ResolutionJob.EDGE_STAGE}
    assert sorted(map(tuple, staged.collect())) == \
        sorted(map(tuple, compiled.collect()))
    job.unpersist()


def test_ids_seeds_plan_local_relation(job, monkeypatch):
    """explicit ids seed the BFS from an Arrow-built LocalRelation: a
    frame of Python rows would plan a LogicalRDD over a PythonRDD whose
    first action starts pyspark.worker processes."""
    from zentity_spark import pipeline
    seen = []
    real = pipeline.bounded_label_propagation

    def spy(edges, seeds, **kw):
        seen.append(seeds)
        return real(edges, seeds, **kw)
    monkeypatch.setattr(pipeline, "bounded_label_propagation", spy)
    assert job.resolve_input(ids=["a-000002"]).count() == 1
    plan = seen[0]._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
