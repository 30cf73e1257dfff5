"""Shared fixtures: one SparkSession per test session, fixture corpora,
helpers to build interleaved (doc_id, spans) DataFrames from compact specs.

Mirrors the reference's integration-test setup (`ResolutionActionIT` creates
test indices + bulk-loads a labeled corpus — SURVEY.md §6.1); here the corpus
is built deterministically per FIXTURES.md (seed=42).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import types as T

from zentity_spark.model import Model
from zentity_spark.session import get_spark
from zentity_spark.synth import corpus_dir

SPAN_SCHEMA = T.ArrayType(T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
]))

DOCS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("spans", SPAN_SCHEMA),
])


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running test (deselect with -m 'not slow')")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master=os.environ.get("ZENTITY_TEST_MASTER", "local[4]"),
                  app="zentity_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def model():
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "fixtures", "model_person.json")
    with open(path) as f:
        return Model.parse(f.read())


@pytest.fixture(scope="session")
def sf0001_dir():
    return corpus_dir("sf0.001")


@pytest.fixture(scope="session")
def docs_sf0001(spark, sf0001_dir):
    return spark.read.parquet(os.path.join(sf0001_dir, "docs_spans.parquet"))


@pytest.fixture()
def spark_cc_calls(monkeypatch):
    """one entry per call of the Spark star loop
    (``cluster._star_components``) made during the test."""
    from zentity_spark.operators import cluster
    calls = []
    real = cluster._star_components

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)
    monkeypatch.setattr(cluster, "_star_components", spy)
    return calls


def make_docs(spark, spec):
    """spec: [(doc_id, [(field, value), ...])] → interleaved docs DataFrame.

    Text spans are `field=value`; a field of '@media' emits a media span
    with the value as media_ref.
    """
    rows = []
    for doc_id, fields in spec:
        spans = []
        for i, (fld, val) in enumerate(fields):
            if fld == "@media":
                spans.append(("media", "", val, i))
            else:
                spans.append(("text", f"{fld}={val}", "", i))
        rows.append((doc_id, spans))
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def clusters_of(df):
    """(doc_id, entity_id) DataFrame → frozenset of frozensets of doc_ids."""
    by = {}
    for r in df.select("doc_id", "entity_id").collect():
        by.setdefault(r["entity_id"], set()).add(r["doc_id"])
    return frozenset(frozenset(v) for v in by.values())
