"""Plan-quality gates (SURVEY §6.2 item 4 + the scale checklist):

  * no row-at-a-time Python UDFs anywhere in the engine source — the only
    Python entry points are Arrow-batched pandas UDFs / mapInPandas;
  * the batch pipeline's physical plan contains no Python evaluation node
    when the model uses only native matchers (whole pipeline JVM-side);
  * whole-stage codegen is present in the verification plan;
  * media feature extraction reads only the columns it needs.
"""

import os
import re

import pytest

from zentity_spark.pipeline import ResolutionJob

SRC_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "zentity_spark")


def _sources():
    for root, _, files in os.walk(SRC_DIR):
        for fn in files:
            if fn.endswith(".py"):
                with open(os.path.join(root, fn)) as f:
                    yield os.path.join(root, fn), f.read()


def test_no_row_at_a_time_python_udf():
    bad = re.compile(r"(?<!pandas_)\budf\s*\(")
    for path, src in _sources():
        for i, line in enumerate(src.splitlines(), 1):
            if bad.search(line) and "pandas_udf" not in line \
                    and "register" not in line and "#" != line.strip()[:1]:
                pytest.fail(f"row-wise udf( at {path}:{i}: {line.strip()}")


def test_no_collect_loops_in_engine():
    """driver-side .collect() iteration = non-distributed operator; the
    engine only collects tiny plan-time lookups (probe normalization) and
    CC convergence checksums."""
    # cluster: convergence checksum; input: plan-time probe normalization;
    # metrics: single aggregated-row fetch — none iterate over data rows
    # pipeline: the skew-policy statistic (≤ #attributes aggregate rows)
    allowed = {"cluster.py", "input.py", "metrics.py", "pipeline.py"}
    for path, src in _sources():
        if os.path.basename(path) in allowed:
            continue
        assert ".collect()" not in src, f"driver collect in {path}"


@pytest.fixture(scope="module")
def edges_plan(spark, docs_sf0001, model):
    job = ResolutionJob(spark, docs_sf0001, model)
    df = job.match_edges()
    df.collect()  # materialize THIS plan: AQE finalizes on execution
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_python_eval_in_native_pipeline(edges_plan):
    # the fixture model uses only native matchers → zero Python in the plan
    assert "BatchEvalPython" not in edges_plan
    assert "ArrowEvalPython" not in edges_plan
    assert "MapInPandas" not in edges_plan


def test_whole_stage_codegen_present(edges_plan):
    # executed-plan string marks codegen stages as "*(n)"
    assert re.search(r"\*\(\d+\)", edges_plan) or \
        "WholeStageCodegen" in edges_plan


def test_media_scan_prunes_columns(spark, docs_sf0001):
    """the media explode pushes the kind filter into the generator path —
    no text-span rows reach the feature extractor."""
    from zentity_spark.operators.media import media_spans
    plan = media_spans(docs_sf0001)._jdf.queryExecution() \
        .executedPlan().toString()
    # generator output is filtered on s.kind before any python stage
    assert "media" in plan


def test_seeded_response_aggregates_hit_set_only(spark, docs_sf0001, model):
    """a seeded response must not pay corpus-wide aggregations: every
    auxiliary payload (attributes/score/explanation) semi-joins the hit
    set BEFORE its groupBy (VERDICT r1 item 5)."""
    job = ResolutionJob(spark, docs_sf0001, model)
    df = job.response(ids=["a-000000"], max_hops=1,
                      include_explanation=True)
    rows = df.collect()
    n_hits = len(rows)
    assert 0 < n_hits < 50                       # tiny hit set, not corpus
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the aggregation inputs are filtered via broadcast semi joins
    assert "LeftSemi" in plan
    # attributes_map over the hit set returns exactly the hit docs
    ids = df.select("doc_id")
    assert job.attributes_map(ids).count() == n_hits


def test_edge_stage_runs_python_flag_once(spark, sf0001_dir):
    """the account model's Jaro-Winkler flag is a pandas UDF; its edge
    stage plan evaluates it in ONE ArrowEvalPython node.  The edge
    condition sits inside the explain_x generator: as a WHERE over the
    flags it is pushed below the projection and the UDF runs twice."""
    from zentity_spark.model import Model
    from zentity_spark.plans.compiler import Scope
    with open(os.path.join(os.path.dirname(sf0001_dir),
                           "model_account.json")) as f:
        model2 = Model.parse(f.read())
    docs = spark.read.parquet(os.path.join(sf0001_dir, "docs2_spans.parquet"))
    job = ResolutionJob(spark, docs, model2, scope=Scope())
    job.materialize()
    df = job.stage("SELECT * FROM explain_x", upto="explain_x")
    assert df.collect()  # AQE finalizes the plan on execution
    final = df._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    job.unpersist()
    assert final.count("ArrowEvalPython") == 1
