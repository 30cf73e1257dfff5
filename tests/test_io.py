"""Storage abstraction (io.Storage — SURVEY §8 R1, VERDICT r3 missing #1):
every engine read/write routes through one format-agnostic API, so the
lakehouse swap (parquet → Iceberg) is a config flag, not a code rewrite.

The Iceberg jars are absent from this sandbox (SURVEY Appendix D), so the
swap is proven with another built-in format: the resume and incremental
flows run under ``orc`` with ZERO engine-code changes.

Also pins the replay idempotency of incremental folds (ADVICE r3 medium):
a fold that crashed midway re-runs with the same fold_id and replaces its
partial per-increment output instead of appending duplicates.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import make_docs
from zentity_spark.io import Storage
from zentity_spark.operators.incremental import IncrementalResolver
from zentity_spark.pipeline import ResolutionJob


def _labels(df):
    return sorted((r["doc_id"], r["entity_id"])
                  for r in df.select("doc_id", "entity_id").collect())


# ---------------------------------------------------------------------------
# unit behavior
# ---------------------------------------------------------------------------

def test_scan_sql_and_complete(spark, tmp_path):
    st = Storage(spark)  # default parquet
    loc = str(tmp_path / "t")
    assert not st.exists(loc) and not st.complete(loc)
    st.write(spark.range(5).selectExpr("CAST(id AS STRING) AS doc_id"), loc)
    assert st.exists(loc) and st.complete(loc)
    assert st.scan_sql(loc) == f"parquet.`{loc}`"
    assert spark.sql(f"SELECT count(*) AS n FROM {st.scan_sql(loc)}") \
        .collect()[0]["n"] == 5
    # a dir without the committer marker is present but NOT complete
    os.remove(os.path.join(loc, "_SUCCESS"))
    assert st.exists(loc) and not st.complete(loc)


def test_catalog_format_scan_sql(spark):
    st = Storage(spark, fmt="iceberg")
    assert not st.file_based
    assert st.scan_sql("cat.db.tbl") == "cat.db.tbl"


# ---------------------------------------------------------------------------
# format swap: the SAME engine code under orc (config only)
# ---------------------------------------------------------------------------

@pytest.fixture()
def duo(spark):
    spec = [
        ("a-000001", [("name", "Alicia Keys"), ("dob", "1981-01-25")]),
        ("b-000001", [("full_name", "Alicia Keys"), ("birth_date", "1981-01-25")]),
        ("a-000002", [("name", "Alicia Keyes"), ("dob", "1981-01-25")]),
        ("c-000009", [("name", "Nobody Here"), ("dob", "1999-09-09")]),
    ]
    return make_docs(spark, spec)


def test_format_swap_resolution_resume_orc(spark, model, duo, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    st = Storage(spark, fmt="orc")
    job = ResolutionJob(spark, duo, model, storage=st).cache_stages_under(ckpt)
    out1 = _labels(job.clusters())
    # stage substitutions must scan the configured format
    assert job._replace and all(v.startswith("orc.`")
                                for v in job._replace.values())
    # resume: a fresh job over the same checkpoint skips completed stages
    # (orc _SUCCESS markers) and reproduces identical labels
    job2 = ResolutionJob(spark, duo, model,
                         storage=st).cache_stages_under(ckpt)
    out2 = _labels(job2.clusters())
    assert out1 == out2
    # format-independent result: identical to a plain (parquet) batch run
    ref = ResolutionJob(spark, duo, model)
    assert out1 == _labels(ref.clusters())
    ref.unpersist()


def test_format_swap_incremental_orc(spark, model, duo, tmp_path):
    st = Storage(spark, fmt="orc")
    r = IncrementalResolver(spark, model, str(tmp_path / "state"), storage=st)
    base = duo.where("doc_id LIKE 'a-%'")
    delta = duo.where("doc_id NOT LIKE 'a-%'")
    r.add(base)
    r.add(delta)
    job = ResolutionJob(spark, duo, model)
    assert _labels(r.clusters()) == _labels(job.clusters())
    job.unpersist()
    # the state dirs really are orc
    assert not any(f.endswith(".parquet")
                   for _, _, fs in os.walk(str(tmp_path / "state"))
                   for f in fs)


# ---------------------------------------------------------------------------
# replay idempotency (ADVICE r3 medium)
# ---------------------------------------------------------------------------

def test_fold_replay_overwrites_partial_state(spark, model, duo, tmp_path):
    """simulate a fold that crashed after writing PARTIAL per-increment
    state (docs + attrs of a strict subset), then replay it with the same
    fold_id: the retry must replace the partial output and converge to the
    batch result — no duplicate rows, no phantom docs."""
    r = IncrementalResolver(spark, model, str(tmp_path / "state"))
    base = duo.where("doc_id LIKE 'a-%'")
    delta = duo.where("doc_id NOT LIKE 'a-%'")
    r.add(base)
    committed = r.committed_fold_id()
    fold = committed + 1
    # partial crash artifacts: half the delta's docs, plus its stage rows
    partial = delta.limit(1)
    r.storage.write(partial.select("doc_id", "spans"), r._part("docs", fold))
    pj = ResolutionJob(spark, partial, model)
    r.storage.write(pj.stage("SELECT * FROM attrs_x", upto="attrs_x"),
                    r._part("attrs_x", fold))
    pj.unpersist()
    # replay of the full micro-batch with the same fold_id
    r.add(delta, fold_id=fold)
    job = ResolutionJob(spark, duo, model)
    assert _labels(r.clusters()) == _labels(job.clusters())
    job.unpersist()
    # exactly-once state: no duplicate doc rows
    n = r.docs().count()
    assert n == r.docs().select("doc_id").distinct().count() == duo.count()
    # an already-committed fold must refuse to re-fold
    assert r.committed_fold_id() == fold
    with pytest.raises(ValueError, match="already committed"):
        r.add(delta, fold_id=fold)


def test_stream_replay_of_committed_batch_is_skipped(spark, model, tmp_path):
    """foreachBatch guard: a batch_id at or below the committed fold_id is
    a no-op (the crash window between fold commit and stream-checkpoint
    commit replays the batch)."""
    from zentity_spark.streaming.resolve import stream_resolve
    spec = [
        ("a-000001", [("name", "Alicia Keys"), ("dob", "1981-01-25")]),
        ("b-000001", [("full_name", "Alicia Keys"), ("birth_date", "1981-01-25")]),
    ]
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    (make_docs(spark, spec)
     .withColumn("event_ts", F.current_timestamp())
     .write.parquet(os.path.join(landing, "drop0")))
    q, resolver = stream_resolve(
        spark, os.path.join(landing, "*"), str(tmp_path / "state"),
        model, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    committed = resolver.committed_fold_id()
    assert committed >= 0
    before = _labels(resolver.clusters())
    docs_n = resolver.docs().count()
    # replay the committed batch through the PRODUCTION foreachBatch body
    from zentity_spark.streaming.resolve import make_fold
    make_fold(resolver)(make_docs(spark, spec), committed)
    assert resolver.committed_fold_id() == committed
    assert _labels(resolver.clusters()) == before
    assert resolver.docs().count() == docs_n
