"""Hot-block skew handling (SURVEY §5.3 axis A / VERDICT round-1 item 2):

  * two-phase cap: no single task ever sorts a whole hot block;
  * triangular salted pair generation: a hot block's pairs are produced
    across salt_cells² cell-pair join partitions, not one task;
  * results are IDENTICAL to the naive single-window cap + plain self-join
    (the DuckDB oracle keeps that formulation).
"""

import duckdb
import pytest

from tests.conftest import make_docs
from zentity_spark import dialect as D
from zentity_spark.model import Model
from zentity_spark.pipeline import ResolutionJob
from zentity_spark.plans.compiler import Scope

HOT_MODEL = """
{
  "attributes": {"acct": {"type": "string"}},
  "resolvers": {"r": {"attributes": ["acct"]}},
  "matchers": {"x": {"clause": {"term": {"{{ field }}": "{{ value }}"}}}},
  "indices": {"a": {"fields": {"acct": {"attribute": "acct", "matcher": "x"}}}}
}
"""

N_HOT = 300       # docs sharing one blocking key
N_COLD_PAIRS = 5  # cold 2-doc blocks


def _skew_docs(spark):
    spec = [(f"a-{i:06d}", [("acct", "HOT")]) for i in range(N_HOT)]
    for i in range(N_COLD_PAIRS):
        for half in "xy":
            spec.append((f"a-9{i:05d}{half}", [("acct", f"cold{i}")]))
    return make_docs(spark, spec)


def _job(spark, block_cap=100000, salt_min=16, docs=None):
    if docs is None:
        docs = _skew_docs(spark)
    job = ResolutionJob(spark, docs, Model.parse(HOT_MODEL),
                        scope=Scope(), block_cap=block_cap)
    job.plan.salt_min = salt_min       # force the hot path at test scale
    job.plan.salt_cells = 4
    job.plan.presalt_cells = 8
    return job


def _pairs(job):
    return sorted((r["doc_id_a"], r["doc_id_b"])
                  for r in job.candidate_pairs().collect())


def test_salted_pairs_match_naive(spark):
    """salted triangular pair generation emits exactly the naive pair set:
    every unordered intra-block pair once, ordered doc_id_a < doc_id_b."""
    got = _pairs(_job(spark))
    hot_ids = [f"a-{i:06d}" for i in range(N_HOT)]
    expect = [(hot_ids[i], hot_ids[j])
              for i in range(N_HOT) for j in range(i + 1, N_HOT)]
    for i in range(N_COLD_PAIRS):
        expect.append((f"a-9{i:05d}x", f"a-9{i:05d}y"))
    assert got == sorted(expect)


def test_two_phase_cap_matches_naive_cap(spark):
    """with a cap below the hot-block size, the two-phase top-N keeps the
    same (lexicographically first) docs as a single global window."""
    cap = 37
    got = _pairs(_job(spark, block_cap=cap))
    kept = [f"a-{i:06d}" for i in range(cap)]  # doc ids sort lexicographically
    expect = [(kept[i], kept[j]) for i in range(cap) for j in range(i + 1, cap)]
    for i in range(N_COLD_PAIRS):
        expect.append((f"a-9{i:05d}x", f"a-9{i:05d}y"))
    assert got == sorted(expect)


def test_hot_path_in_plan(spark):
    """the physical plan of the pair stage contains the triangular explode
    (generator over salt cells) — the hot block is NOT produced by a plain
    single-key self-join."""
    job = _job(spark)
    df = job.candidate_pairs()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" in plan and "sequence" in plan


def test_matches_duckdb_oracle_formulation(spark, tmp_path):
    """Spark's skew-aware plan and DuckDB's naive single-window plan agree
    row-for-row on the same parquet input (the driver's oracle contract)."""
    job = _job(spark, block_cap=50)
    path = str(tmp_path / "docs.parquet")
    job.docs.write.mode("overwrite").parquet(path)
    plan = job.plan
    sql = plan.sql(D.DUCKDB, f"read_parquet('{path}/*.parquet')",
                   "SELECT doc_id_a, doc_id_b, resolver FROM pairs_x",
                   upto="pairs_x")
    want = sorted((a, b) for a, b, _ in duckdb.connect().execute(sql).fetchall())
    assert _pairs(job) == want


def test_skew_policy_decisions(spark, model):
    """the plan-time skew policy: benign corpora (composite-block upper
    bound ≤ hot threshold) compile every resolver to the plain join; a
    forced-low threshold keeps the machinery on."""
    job = _job(spark, salt_min=16)
    job.materialize()
    assert job.plan.skew_policy == {"r": True}      # 300-doc hot block
    job2 = _job(spark, salt_min=100000)             # threshold above block
    job2.materialize()
    assert job2.plan.skew_policy == {"r": False}
    # the skew-free render has no window/salt machinery in the SQL
    sql = job2.plan.sql(D.SPARK, "docs", 
                        "SELECT * FROM pairs_x", upto="pairs_x")
    assert "row_number" not in sql and "explode(sequence" not in sql
    # ...while the hot render keeps it
    sql_hot = job.plan.sql(D.SPARK, "docs",
                           "SELECT * FROM pairs_x", upto="pairs_x")
    assert "row_number" in sql_hot and "explode(sequence" in sql_hot


FUZZY_CAP_MODEL = """
{
  "attributes": {
    "name": {"type": "string", "params": {"normalizer": "name"}},
    "dob":  {"type": "date", "score": 0.9}
  },
  "resolvers": {"r_nd": {"attributes": ["name", "dob"]}},
  "matchers": {
    "fz": {"clause": {"match": {"{{ field }}": {"query": "{{ value }}", "fuzziness": "auto"}}}},
    "dw": {"clause": {"range": {"{{ field }}": {"gte": "{{ value }}||-{{ params.window }}", "lte": "{{ value }}||+{{ params.window }}"}}}, "params": {"window": "2d"}}
  },
  "indices": {"a": {"fields": {
    "nm": {"attribute": "name", "matcher": "fz"},
    "bd": {"attribute": "dob", "matcher": "dw"}
  }}}
}
"""


def test_cap_recall_interaction_on_hot_fuzzy_block(spark):
    """VERDICT r3 next #8: when a hot fuzzy composite block exceeds
    ``block_cap``, the cap trims it to the ``block_cap``
    lexicographically-first doc_ids PER COMPOSITE KEY — exactly the
    reference's ``max_docs_per_query`` semantics (``Job.java``
    DEFAULT_MAX_DOCS_PER_QUERY): docs beyond the cap in a hot block are
    silently not resolved through that block, even though the fuzzy key
    scheme generated complete candidates.  This pins exactly WHAT is
    dropped: the trimmed docs pair with nobody (no other block reaches
    them here) and come out as singletons.

    Consistency property making the drop deterministic: the cap orders by
    doc_id within every composite key, so all of a block's (many) shared
    fuzzy keys keep the SAME survivor set — a doc is either fully in or
    fully out, never half-paired."""
    n, cap = 15, 8
    spec = [(f"a-{i:06d}", [("nm", "john smith"), ("bd", "1980-01-05")])
            for i in range(n)]
    # a cold control pair far from the hot block, unaffected by the cap
    # (doc_id prefix 'a-' = the model's only source index; sorts after the
    # hot block so it never competes for cap slots)
    spec += [("a-900000", [("nm", "maria lopez"), ("bd", "1990-02-02")]),
             ("a-900001", [("nm", "maria lopez"), ("bd", "1990-02-03")])]
    job = ResolutionJob(spark, make_docs(spark, spec),
                        Model.parse(FUZZY_CAP_MODEL), scope=Scope(),
                        block_cap=cap)
    job.plan.salt_min = 4
    job.plan.salt_cells = 4
    job.plan.presalt_cells = 8
    survivors = [f"a-{i:06d}" for i in range(cap)]
    expect = [(survivors[i], survivors[j])
              for i in range(cap) for j in range(i + 1, cap)]
    expect.append(("a-900000", "a-900001"))
    assert _pairs(job) == sorted(expect)
    # trimmed docs are singletons in the final clusters (the documented
    # recall loss at the cap — README "Hot blocks and the per-block cap")
    labels = {r["doc_id"]: r["entity_id"]
              for r in job.clusters().select("doc_id", "entity_id").collect()}
    for i in range(cap, n):
        assert labels[f"a-{i:06d}"] == f"a-{i:06d}"
    for i in range(cap):
        assert labels[f"a-{i:06d}"] == "a-000000"


def test_skew_statistic_persisted_in_stage_dir(spark, tmp_path):
    """the keys aggregate behind the policy runs once per stage dir: a
    later job opening the dir reads the persisted statistic (a planted
    value proves it is read, not recomputed), and each plan still derives
    its policy from its own hot threshold."""
    import json
    import os
    base = str(tmp_path / "stages")
    # one docs frame: an in-memory frame's plan is its stage-dir identity
    docs = _skew_docs(spark)
    job = _job(spark, salt_min=16, docs=docs).cache_stages_under(base)
    job.materialize()
    path = os.path.join(job._ckpt_dir, "key_blocks.json")
    with open(path) as f:
        assert json.load(f) == {"acct": N_HOT}
    with open(path, "w") as f:
        json.dump({"acct": 1}, f)
    cold = _job(spark, salt_min=16, docs=docs).cache_stages_under(base)
    cold.materialize()
    assert cold.plan.skew_policy == {"r": False}
    with open(path, "w") as f:
        json.dump({"acct": N_HOT}, f)
    high = _job(spark, salt_min=100000, docs=docs).cache_stages_under(base)
    high.materialize()
    assert high.plan.skew_policy == {"r": False}
