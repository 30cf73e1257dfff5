"""The benchmark workloads.  Each drives the public zentity_spark API the way
its user would.  A traced run runs the same ops with span wrappers installed
on the program's layer functions (layers.py); the ops themselves only span
the calls whose lazy result they consume.

  batch_person    ResolutionJob(...).clusters() over the person corpus
  batch_account   the same over the account corpus (Jaro-Winkler verify)
  fold_increment  IncrementalResolver.add(0.5% slice) + clusters().count()
                  over the account corpus
  seeded_request  ResolutionJob.response(...) over a warm stage cache,
                  person corpus
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

import checks
import gen


class Workload:
    """one workload over one generated corpus (``person`` or ``account``)."""

    warm_op = False     # run one untimed op before measuring

    def __init__(self, ctx, corpus: str):
        from zentity_spark.model import Model
        self.ctx = ctx
        self.corpus = corpus
        self.scope = None
        if corpus == "account":
            from zentity_spark.plans.compiler import Scope
            self.scope = Scope()
        with open(os.path.join(ctx.root, "fixtures",
                               f"model_{corpus}.json")) as f:
            self.model = Model.parse(f.read())
        self.f1 = 1.0
        self.jw_inputs = []

    def job(self, docs=None):
        from zentity_spark.pipeline import ResolutionJob
        return ResolutionJob(self.ctx.spark,
                             self.docs if docs is None else docs,
                             self.model, self.scope)

    def inputs(self) -> None:
        """generate (or reuse) the seeded inputs — not part of set-up."""
        self.paths = gen.corpus(self.corpus, self.ctx.seed)

    def register(self) -> None:
        """read the corpus into the current session."""
        self.docs = self.ctx.spark.read.parquet(self.paths["docs"])
        self.n_docs = self.docs_per_op = self.docs.count()

    def once(self) -> None:
        """one-time preparation after the first registration."""

    def prepare(self) -> None:
        """per-session preparation, part of every set-up."""

    def finish(self) -> list:
        """end-of-run checks."""
        return []

    # ---- functions.similarity, measured on the workload's own strings ----

    def similarity_inputs(self) -> None:
        """collect, once, the holder values of every candidate pair for each
        attribute a Jaro-Winkler matcher verifies:
        [(a value lists, b value lists, threshold)]."""
        from pyspark.sql import functions as F
        job = self.job()
        jw = [(a, m.params["threshold"])
              for a in job.plan.model.attributes
              for _n, m, _q in job.plan.attr_matchers(a)
              if m.kind == "jaro_winkler"]
        self.jw_inputs = []
        if jw:
            am = job.attributes_map()
            sides = (job.candidate_pairs().select("doc_id_a", "doc_id_b")
                     .distinct()
                     .join(am.select(F.col("doc_id").alias("doc_id_a"),
                                     F.col("attributes").alias("am_a")),
                           "doc_id_a")
                     .join(am.select(F.col("doc_id").alias("doc_id_b"),
                                     F.col("attributes").alias("am_b")),
                           "doc_id_b"))
            for attr, thr in jw:
                rows = (sides.select(F.col("am_a")[attr].alias("a"),
                                     F.col("am_b")[attr].alias("b"))
                        .where("a IS NOT NULL AND b IS NOT NULL").collect())
                self.jw_inputs.append(([r["a"] for r in rows],
                                       [r["b"] for r in rows], thr))
        job.unpersist()

    def trace_similarity(self, i, tr) -> None:
        """time the driver-side Jaro-Winkler kernel on the collected
        strings, one span per attribute, attributed to op ``i``."""
        from zentity_spark.functions.similarity import jaro_winkler_any_ge_np
        for a, b, thr in self.jw_inputs:
            with tr.span("similarity.jw", op=i) as s:
                jaro_winkler_any_ge_np(a, b, thr)
            s.counters["pairs"] = sum(len(x) * len(y) for x, y in zip(a, b))


class Batch(Workload):
    """one fresh job per op, no stage cache: the nightly batch."""

    warm_op = True

    def register(self):
        from pyspark.sql import functions as F
        super().register()
        spark = self.ctx.spark
        self.labeled = spark.read.parquet(self.paths["labeled"])
        t = spark.read.parquet(self.paths["truth"])
        self.truth = t.select("doc_id", F.col(t.columns[1]).alias("person_id"))

    def op(self, i):
        job = self.job()
        out = job.clusters().localCheckpoint()
        job.unpersist()
        return out

    def check(self, i, out):
        problems, f1 = checks.batch_check(out, self.n_docs, self.labeled,
                                          self.truth)
        out.unpersist()
        self.f1 = min(self.f1, f1)
        return problems


class Fold(Workload):
    """daily increments folded into a bootstrapped incremental state."""

    def inputs(self):
        super().inputs()
        d = gen.fold_inputs(self.corpus, self.ctx.seed)
        self.base_path = os.path.join(d, "base.parquet")
        self.slice_paths = [os.path.join(d, f"slice-{k:02d}.parquet")
                            for k in range(gen.FOLD_SLICES)]
        self.truth = gen.truth_rows(self.paths)

        def ids(p):
            return pq.read_table(p, columns=["doc_id"])["doc_id"].to_pylist()
        self.base_ids = set(ids(self.base_path))
        self.slice_ids = [ids(p) for p in self.slice_paths]
        self.snapshot = os.path.join(self.ctx.work, "fold-snapshot")
        self.state = os.path.join(self.ctx.work, "fold-state")

    def register(self):
        self.docs = self.ctx.spark.read.parquet(self.base_path)
        self.docs.count()

    def once(self):
        """bootstrap the state on the base slice; it becomes the snapshot."""
        from zentity_spark.operators.incremental import IncrementalResolver
        IncrementalResolver(self.ctx.spark, self.model, self.snapshot,
                            self.scope).add(self.docs)

    def prepare(self):
        """restore the bootstrapped snapshot."""
        from zentity_spark.operators.incremental import IncrementalResolver
        shutil.rmtree(self.state, ignore_errors=True)
        shutil.copytree(self.snapshot, self.state)
        self.resolver = IncrementalResolver(self.ctx.spark, self.model,
                                            self.state, self.scope)
        self.ingested = set(self.base_ids)
        self.next = 0

    def _slice(self):
        if self.next == len(self.slice_paths):
            self.prepare()
        k = self.next
        self.next += 1
        self.ingested |= set(self.slice_ids[k])
        self.docs_per_op = len(self.slice_ids[k])
        return self.ctx.spark.read.parquet(self.slice_paths[k])

    def op(self, i):
        sl = self._slice()
        self.resolver.add(sl)
        with self.ctx.tracer.span("incremental.read"):
            return self.resolver.clusters().count()

    def check(self, i, n):
        if n != len(self.ingested):
            return [f"fold read {n} rows != {len(self.ingested)} ingested"]
        return []

    def finish(self):
        """labels after the run's last fold must equal the batch labels of
        the same docs (the truth partition, see checks.py)."""
        from zentity_spark.metrics import pairwise_f1
        clusters = self.resolver.clusters()
        got = {r["doc_id"]: r["entity_id"]
               for r in clusters.select("doc_id", "entity_id").collect()}
        problems = checks.labels_check(
            got, checks.truth_labels(self.truth, self.ingested))
        labeled = self.ctx.spark.read.parquet(self.paths["labeled"])
        self.f1 = pairwise_f1(clusters, labeled)["f1"]
        return problems


class Seeded(Workload):
    """one resolution request per op over a warm per-fingerprint stage
    cache: zentity's own operating mode."""

    def __init__(self, ctx, corpus: str):
        super().__init__(ctx, corpus)
        self.counts = [0, 0, 0]

    def inputs(self):
        super().inputs()
        truth = gen.truth_rows(self.paths)
        persons = pq.read_table(os.path.join(self.paths["dir"],
                                             "persons.parquet")).to_pylist()
        self.entity: dict = {}
        for r in truth:
            self.entity.setdefault(r["person_id"], []).append(r["doc_id"])
        self.requests = gen.requests(persons, truth, self.ctx.seed)

    def once(self):
        """warm the stage cache: materialize every shared stage."""
        self.cache = os.path.join(self.ctx.work, "stage-cache")
        self.job().cache_stages_under(self.cache).materialize()

    def prepare(self):
        """open the warm stage cache in this session."""
        self.job().cache_stages_under(self.cache).materialize()

    def _req(self, i):
        return self.requests[i % len(self.requests)]

    def op(self, i):
        r = self._req(i)
        job = self.job().cache_stages_under(self.cache)
        with self.ctx.tracer.span("pipeline.response"):
            return job.response(
                attributes=r["attributes"], terms=r["terms"], ids=r["ids"],
                include_explanation=r["include_explanation"]).collect()

    def check(self, i, rows):
        hits = [r["doc_id"] for r in rows]
        expected = self.entity[self._req(i)["person_id"]]
        for k, v in enumerate(checks.hit_pair_counts(hits, expected)):
            self.counts[k] += v
        self.f1 = checks.f1_of(*self.counts)
        return checks.hits_check(hits, expected)


WORKLOADS = {
    "batch_person": lambda ctx: Batch(ctx, "person"),
    "batch_account": lambda ctx: Batch(ctx, "account"),
    "fold_increment": lambda ctx: Fold(ctx, "account"),
    "seeded_request": lambda ctx: Seeded(ctx, "person"),
}
