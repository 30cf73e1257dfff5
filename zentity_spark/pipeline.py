"""End-to-end resolution pipeline (the batch analog of
``POST _zentity/resolution/{entity_type}`` — SURVEY.md §4.1).

Stages (§3c): extract → blocking keys → composite candidate pairs → verified
match edges (all compiled SQL from plans/compiler.py, pure JVM codegen) →
connected components (operators/cluster.py) → cluster output with span
passthrough.

One batch path: ``ResolutionJob.clusters()``.  ``materialize()`` is the
only writer of a stage: every stage, ``explain_x`` and ``labels``
included, lands in the job's stage dir with a ``_SUCCESS`` marker and a
``metrics.jsonl`` lineage row.  One stage-dir convention:
``cache_stages_under(base)`` names the dir ``base/<fingerprint>``, so a
job opens only stages written under its own (model, scope, block_cap,
input files) and the same call over a warm ``base`` is the resumable run
(SURVEY §5.3).  Without it a job writes into a scratch dir it owns.
"""

from __future__ import annotations

import os
import tempfile
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from zentity_spark import dialect as D
from zentity_spark.io import Storage
from zentity_spark.model import Model
from zentity_spark.operators.cluster import (
    bounded_label_propagation,
    connected_components_by_hash,
)
from zentity_spark.plans.compiler import CompiledPlan, Scope, compile_model

# the fixture's default job scope: r_name_city_weak participates only in
# explicit scope tests (FIXTURES.md §3)
DEFAULT_SCOPE = Scope(exclude_resolvers=("r_name_city_weak",))


class ResolutionJob:
    """≙ ``resolution/Job.java`` (state + knobs, ≈L60-150) — but stateless
    between stages: every stage is a DataFrame the driver can materialize."""

    def __init__(self, spark: SparkSession, docs: DataFrame, model: Model,
                 scope: Scope | None = None, block_cap: int = 1000,
                 storage: "Storage | None" = None):
        self.spark = spark
        self.docs = docs
        self.storage = storage if storage is not None else Storage(spark)
        self._ckpt_dir: str | None = None
        self._owns_ckpt_dir = False
        self.plan: CompiledPlan = compile_model(
            model, scope or DEFAULT_SCOPE, block_cap)
        if any(m.kind == "jaro_winkler" for m in model.matchers.values()):
            from zentity_spark.functions.similarity import register_similarity_udfs
            register_similarity_udfs(spark)
        # an under-partitioned source (e.g. a single-row-group parquet)
        # would serialize the whole extract stage; one cheap shuffle up
        # front keeps every downstream stage at full parallelism
        target = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if docs.rdd.getNumPartitions() < min(8, target):
            docs = docs.repartition(target)
            self.docs = docs
        self._view = "docs_" + uuid.uuid4().hex[:12]
        docs.createOrReplaceTempView(self._view)
        self._replace: dict = {}

    def stage(self, select: str, upto: str | None = None,
              extra: list | None = None) -> DataFrame:
        # snapshot: materialize() worker threads mutate self._replace under
        # their lock; rendering must not iterate the live dict
        return self.spark.sql(
            self.plan.sql(D.SPARK, self._view, select, upto=upto,
                          extra=extra, replace=dict(self._replace)))

    # attrs first (everything derives from it), then keys and wide-vals as
    # CONCURRENT Spark jobs, then the per-resolver composite-key tables
    # (referenced 3× each by the skew-aware cap/pair plan: hot-key stats,
    # cold anti-join, hot semi-join — materializing avoids recomputing the
    # key joins per reference).  vals_x stays a CTE (only attributes_map
    # reads it — a separate materialization is a wasted barrier).
    BASE_LEVELS = (("attrs_x",), ("keys_x", "vals_wide_x"))

    # the verified edges WITH the explanation rows they carry: one row per
    # matched (pair, resolver, attribute, field, matcher) binding.  Every
    # edge has at least one matched binding per resolver attribute, so the
    # distinct (pair, resolver) projection IS the match-edge set — edges,
    # scores and explanations all read this one stage.  Written by the
    # first reader (_edge_stage), never by the default levels (a
    # stage-cache warm reads no edges); the incremental fold writes it
    # per increment (``explain_x/inc=<fold_id>``) instead.
    EDGE_STAGE = "explain_x"

    # the connected-component labels (doc_id, entity_id) of edge-bearing
    # docs — the fold state's ``labels`` schema.  Not a CTE: materialize()
    # builds it by connected components over match_edges_x, on top of
    # EDGE_STAGE, when clusters() first asks for it.
    LABEL_STAGE = "labels"

    def _ck_level(self):
        # only resolvers whose pair plan keeps the skew machinery
        # reference their ck 3× (stats/anti/semi) and benefit from
        # materialization; skew-free resolvers reference ck once
        return tuple(f"ck_{r.name}"
                     for r in self.plan.active_resolvers()
                     if self.plan.resolver_needs_skew(r))

    def _compute_skew_policy(self) -> None:
        """fill plan.skew_policy from the materialized keys stage: ONE
        aggregate (max per-key block size per attribute) bounds every
        resolver's composite block size from above — min over the
        resolver's attributes, since a composite block shares every
        per-attribute key.  Resolvers whose bound stays at or under the
        hot threshold compile to plain self-joins (no window, no hot
        stats, no salting).  The collect is a ≤#attributes-row plan-time
        statistic, the same adaptive-planning category as AQE's runtime
        stats.

        The statistic is a pure function of keys_x, so a job with a stage
        dir persists it there (``key_blocks.json``) and later jobs opening
        the dir read it back instead of re-running the aggregate; the
        policy is re-derived against each plan's own hot threshold."""
        import json
        if self.plan.skew_policy is not None:
            return
        path = (os.path.join(self._ckpt_dir, "key_blocks.json")
                if self._ckpt_dir is not None else None)
        if path is not None and os.path.exists(path):
            with open(path) as f:
                mx = json.load(f)
        else:
            rows = self.stage(
                "SELECT attr, max(c) AS mx FROM ("
                "SELECT attr, key, count(*) AS c FROM keys_x "
                "GROUP BY attr, key) GROUP BY attr",
                upto="keys_x").collect()
            mx = {r["attr"]: r["mx"] for r in rows}
            if path is not None:
                # write-aside + rename: a concurrent job sharing the dir
                # never reads a half-written file
                tmp = f"{path}.{uuid.uuid4().hex[:8]}"
                with open(tmp, "w") as f:
                    json.dump(mx, f)
                os.replace(tmp, path)
        thr = self.plan.hot_threshold
        self.plan.skew_policy = {
            r.name: min((mx.get(a, 0) for a in r.attributes), default=0) > thr
            for r in self.plan.active_resolvers()}

    def materialize(self, stages=None) -> None:
        """write the fan-out stages to parquet once and substitute file
        scans for their CTEs (idempotent); independent stages within one
        dependency level run as concurrent Spark jobs from threads.  The
        only stage writer: ``stages`` may name ``LABEL_STAGE``, which is
        connected components over ``match_edges_x`` rather than a CTE.
        A stage already complete in the dir (``_SUCCESS``) is only
        substituted, never rewritten.

        Two reasons files, not cached temp views: (1) Spark recomputes CTE
        subtrees per reference, so attrs/keys would re-run once per
        resolver branch; (2) cached-view re-references inside the
        self-joining chain trip Spark 4 attribute-resolution bugs
        (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND), while a parquet relation is
        a clean leaf.  At cluster scale this is exactly the per-stage
        materialization the resume/lineage design wants (SURVEY §5.3).
        """
        import threading
        if stages is None:
            # base stages first; the keys statistics then decide which
            # resolvers keep the skew machinery (and need ck materialized)
            self.materialize(self.BASE_LEVELS)
            if all(f"ck_{r.name}" in self._replace
                   for r in self.plan.active_resolvers()):
                return  # every stage the policy could pick is substituted
            self._compute_skew_policy()
            ck = self._ck_level()
            if ck:
                self.materialize((ck,))
            return
        if all(st in self._replace for level in stages for st in level):
            return  # nothing to write: no stage dir to open
        if self._ckpt_dir is None:
            # same safe-scratch base as spark.local.dir (session.py): the
            # sandbox /tmp sweeper that killed blockmgr dirs would equally
            # eat stage parquet mid-read on a long run
            base = os.environ.get(
                "ZENTITY_LOCAL_DIR", os.path.expanduser("~/.zentity_spark_local"))
            os.makedirs(base, exist_ok=True)
            self._ckpt_dir = tempfile.mkdtemp(prefix="zentity_stage_", dir=base)
            self._owns_ckpt_dir = True
        os.makedirs(self._ckpt_dir, exist_ok=True)

        for level in stages:
            todo = [st for st in level if st not in self._replace]
            # pre-render every stage's SQL BEFORE starting threads: worker
            # threads must not call stage() (which reads self._replace)
            # while the level's fast-path updates land
            jobs = [(st, self._stage_frame(st))
                    for st in todo if not self.storage.complete(
                        os.path.join(self._ckpt_dir, st))]
            if len(jobs) == 1:
                self._write_stage(*jobs[0])
            elif jobs:
                threads = [threading.Thread(target=self._write_stage, args=j)
                           for j in jobs]
                for t in threads:
                    t.start()
                for t in threads:
                    t.join()
            for st in todo:
                # LABEL_STAGE is no CTE: substituting the word ``labels``
                # would rewrite it inside every compiled query
                if st != self.LABEL_STAGE:
                    self._replace[st] = self.storage.scan_sql(
                        os.path.join(self._ckpt_dir, st))

    def _stage_frame(self, st: str) -> DataFrame:
        """the rows stage ``st`` writes: its compiled CTE, or for
        ``LABEL_STAGE`` the components of the verified edges."""
        if st == self.LABEL_STAGE:
            return connected_components_by_hash(
                self.stage("SELECT doc_id_a, doc_id_b FROM match_edges_x",
                           upto="match_edges_x"))
        return self.stage(f"SELECT * FROM {st}", upto=st)

    def _edge_stage(self) -> None:
        """materialize ``EDGE_STAGE`` on top of the default levels — the
        first reader writes it, every later reader (this job or any job
        opening the same stage dir) only substitutes the scan."""
        self.materialize()
        self.materialize(((self.EDGE_STAGE,),))

    def cache_stages_under(self, base: str) -> "ResolutionJob":
        """persist and share stages: the stage dir becomes
        ``base/<fingerprint>``, so any job with the same (model, scope,
        block_cap, input files) reuses already-written stages (per-stage
        ``_SUCCESS`` markers) — a re-run resumes from the last completed
        stage — and a job with another identity opens another dir, so
        stale stages never join new docs.  Besides the default levels and
        the persisted skew statistic, the dir holds the
        edge-and-explanation stage (``EDGE_STAGE``), written by the first
        job that reads edges, scores or explanations — later jobs run no
        pair or verify plan — and the component labels (``LABEL_STAGE``),
        written by the first clusters() call — later jobs run no
        connected components.  The dir is NOT owned (never removed by
        unpersist) — callers manage ``base``'s lifetime."""
        os.makedirs(base, exist_ok=True)
        self._ckpt_dir = os.path.join(base, self.fingerprint())
        self._owns_ckpt_dir = False
        return self

    def unpersist(self) -> None:
        """drop stage substitutions and the docs view, and remove the
        job-owned scratch dir (a ``cache_stages_under`` dir is never
        deleted)."""
        self._replace.clear()
        self.spark.catalog.dropTempView(self._view)
        if self._owns_ckpt_dir and self._ckpt_dir is not None:
            import shutil
            shutil.rmtree(self._ckpt_dir, ignore_errors=True)
            self._ckpt_dir = None

    def fingerprint(self) -> str:
        """identity of (model, scope, block_cap, input files): it names the
        ``cache_stages_under`` dir, so stages written under one identity
        are never read under another.  A docs frame with no input files
        (built in memory) is identified by its plan's ``semanticHash()``
        instead: two in-memory corpora never share a dir, and since such
        a frame cannot be reopened by another process, an identity that
        holds within this process loses nothing."""
        import hashlib
        files = self.docs.inputFiles()
        docs_id = (";".join(sorted(files)) if files
                   else f"plan:{self.docs.semanticHash()}")
        body = "|".join([
            self.plan.model.to_json(), repr(self.plan.scope),
            str(self.plan.block_cap), docs_id])
        return hashlib.md5(body.encode()).hexdigest()

    # ---------- stage writes (SURVEY §5.3 resume/lineage, M7) ----------

    def _write_stage(self, name: str, df: DataFrame) -> None:
        """write one stage under the stage dir and append its lineage row
        to ``metrics.jsonl``.  The row count piggybacks on the write job
        (Observation) — no post-write re-read pass."""
        import json
        import time as _t
        from pyspark.sql import Observation
        t0 = _t.time()
        obs = Observation()
        self.storage.write(df.observe(obs, F.count(F.lit(1)).alias("n")),
                           os.path.join(self._ckpt_dir, name))
        with open(os.path.join(self._ckpt_dir, "metrics.jsonl"), "a") as f:
            f.write(json.dumps({
                "stage": name, "rows_out": obs.get["n"],
                "wall_ms": round((_t.time() - t0) * 1000, 1),
                "ts": _t.time()}) + "\n")

    def attrs(self) -> DataFrame:
        return self.stage(
            "SELECT doc_id, source, attr, field, value_norm FROM attrs_x",
            upto="attrs_x")

    def keys(self) -> DataFrame:
        return self.stage("SELECT doc_id, attr, key FROM keys_x", upto="keys_x")

    def candidate_pairs(self) -> DataFrame:
        self.materialize()
        return self.stage(
            "SELECT doc_id_a, doc_id_b, resolver FROM pairs_x", upto="pairs_x")

    def match_edges(self) -> DataFrame:
        """verified edges (doc_id_a, doc_id_b, resolver): the distinct
        pairs of the edge-and-explanation stage."""
        self._edge_stage()
        return self.stage(
            "SELECT doc_id_a, doc_id_b, resolver FROM match_edges_x",
            upto="match_edges_x")

    def explanations(self) -> DataFrame:
        """exploded match lineage (pair, resolver, attribute, matcher,
        s_a, s_b) — ≙ the `_explanation` matches array (SURVEY row 32);
        s_a/s_b are the identity scores with each side's own source's
        declared field quality (per-index granularity)."""
        self._edge_stage()
        return self.stage(
            "SELECT doc_id_a, doc_id_b, resolver, attr, field, matcher, "
            "s_a, s_b FROM explain_x", upto="explain_x")

    def pair_scores(self) -> DataFrame:
        self._edge_stage()
        return self.stage(
            "SELECT doc_id_a, doc_id_b, score FROM pair_scores_x",
            upto="pair_scores_x")

    def doc_scores(self) -> DataFrame:
        self._edge_stage()
        return self.stage(
            "SELECT doc_id, score FROM doc_scores_x", upto="doc_scores_x")

    def explanation_structs(self, doc_ids: DataFrame | None = None) -> DataFrame:
        """per-doc nested explanation (≙ response `_explanation` payload,
        Job.java response assembly ≈L1200-1500): array of
        (resolver, attribute, field, matcher, other_doc, s) structs.
        ``doc_ids`` restricts aggregation to the hit set."""
        ex = self.explanations()
        both = ex.selectExpr(
            "doc_id_a AS doc_id", "doc_id_b AS other_doc",
            "resolver", "attr", "field", "matcher", "s_a AS s",
        ).unionByName(ex.selectExpr(
            "doc_id_b AS doc_id", "doc_id_a AS other_doc",
            "resolver", "attr", "field", "matcher", "s_b AS s"))
        if doc_ids is not None:
            both = both.join(F.broadcast(doc_ids.select("doc_id")),
                             "doc_id", "semi")
        return both.groupBy("doc_id").agg(
            F.sort_array(F.collect_list(F.struct(
                "resolver", "attr", "field", "matcher", "other_doc", "s"
            ))).alias("explanation"))

    def clusters(self) -> DataFrame:
        """(doc_id, entity_id, spans): every input doc labeled; docs in no
        component become singletons (entity_id = own doc_id); spans pass
        through untouched (per-row span-sequence invariant).

        The component labels of edge-bearing docs are ``LABEL_STAGE``,
        materialized on top of the edge stage — so under
        ``cache_stages_under`` this IS the resumable batch run, and a job
        opening a warm dir runs no connected components."""
        self.match_edges()  # the edge stage the labels are built from
        self.materialize(((self.LABEL_STAGE,),))
        labels = self.storage.read(
            os.path.join(self._ckpt_dir, self.LABEL_STAGE))
        return (
            self.docs.join(labels, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("entity_id", "doc_id").alias("entity_id"),
                "spans",
            )
        )

    def seed_docs(self, attributes=None, terms=None) -> DataFrame:
        """docs matched by the FIRST hop of a reference resolution request
        with these input attributes/terms (SURVEY rows 13/24)."""
        from zentity_spark.input import build_probe
        probe, in_params = build_probe(self.spark, self.plan, attributes, terms)
        extra = self.plan.seed_ctes(probe, D.SPARK, input_params=in_params)
        # materialized-stage substitution keeps the rendered plan small —
        # without it the full keys/vals derivation SQL inlines per CTE
        # reference and Catalyst analysis dominates the seeded query
        self.materialize()
        df = self.stage("SELECT doc_id FROM seed_docs_x", extra=extra)
        # localCheckpoint: truncate the union-heavy seed plan NOW — letting
        # it flow into the label-propagation loop trips a Spark 4 constraint
        # rewrite bug (UnionBase.rewriteConstraints NoSuchElementException)
        return df.localCheckpoint()

    def _edges_q(self, edges: DataFrame) -> DataFrame:
        """attach the per-resolver query ordinal (≙ the `_query` ordinal the
        reference records per hit — our hop's "queries" are the per-resolver
        edge streams, ordered by resolver name)."""
        names = sorted(r.name for r in self.plan.active_resolvers())
        branches = " ".join(
            f"WHEN resolver = '{n}' THEN {i}" for i, n in enumerate(names))
        return edges.select(
            "doc_id_a", "doc_id_b",
            F.expr(f"CASE {branches} ELSE 0 END").alias("q"))

    def resolve_input(self, attributes=None, terms=None, ids=None,
                      max_hops: int = 100,
                      max_time_per_query: float | None = None) -> DataFrame:
        """full analog of ``POST _zentity/resolution/{type}`` input handling:
        seeds from attributes+terms (first-hop matching) and/or explicit
        ids, then bounded snowball → (doc_id, hop, q)."""
        if not (attributes or terms or ids):
            raise ValueError("resolution input needs attributes, terms or ids")
        # the edge stage before the seed probe: a cold dir's stage writes
        # land under match_edges (the request's pair/verify cost)
        edges = self._edges_q(self.match_edges())
        seeds = None
        if attributes or terms:
            seeds = self.seed_docs(attributes, terms)
        if ids:
            # Arrow-built: plans as a LocalRelation; Python rows would plan
            # a PythonRDD whose first action starts pyspark.worker processes
            ids_df = self.spark.createDataFrame(
                pa.table({"doc_id": pa.array(list(ids), pa.string())}))
            seeds = ids_df if seeds is None else seeds.union(ids_df).distinct()
        return bounded_label_propagation(
            edges, seeds, max_hops=max_hops, max_time_s=max_time_per_query)

    def attributes_map(self, doc_ids: DataFrame | None = None) -> DataFrame:
        """(doc_id, attributes map<attr, array<value>>) — the harvested
        attribute set per doc (≙ `_attributes` hit payload, row 33).
        ``doc_ids`` (broadcast) restricts aggregation to the hit set —
        a seeded request must not pay a corpus-wide groupBy."""
        vals = self.stage("SELECT doc_id, attr, vlist FROM vals_x",
                          upto="vals_x")
        if doc_ids is not None:
            vals = vals.join(F.broadcast(doc_ids.select("doc_id")),
                             "doc_id", "semi")
        return (vals.groupBy("doc_id")
                .agg(F.map_from_entries(
                    F.sort_array(F.collect_list(F.struct("attr", "vlist")))
                ).alias("attributes")))

    def doc_scores_for(self, doc_ids: DataFrame) -> DataFrame:
        """doc scores aggregated over the hit set only (semi-join BEFORE the
        pivot/groupBy — the full-corpus ``doc_scores()`` stays for the batch
        mode)."""
        ex = self.explanations()
        both = ex.selectExpr("doc_id_a AS doc_id", "attr", "s_a AS s").unionByName(
            ex.selectExpr("doc_id_b AS doc_id", "attr", "s_b AS s"))
        both = both.join(F.broadcast(doc_ids.select("doc_id")),
                         "doc_id", "semi")
        attrs = self.plan.scored_attrs()
        pivots = [F.max(F.when(F.col("attr") == a, F.col("s"))).alias(f"s_{i}")
                  for i, a in enumerate(attrs)]
        conf = self.plan._conflation([f"s_{i}" for i in range(len(attrs))])
        return (both.groupBy("doc_id").agg(*pivots)
                .selectExpr("doc_id", f"{conf} AS score"))

    def response(self, attributes=None, terms=None, ids=None,
                 max_hops: int = 100, max_time_per_query: float | None = None,
                 include_attributes: bool = True,
                 include_score: bool = True, include_explanation: bool = False,
                 include_source: bool = True) -> DataFrame:
        """assembled resolution response for one input — the batch analog of
        the REST hit payload (`Job.java::run` response block ≈L1200-1500,
        SURVEY rows 5/31/33): (doc_id, hop, q [, attributes][, score]
        [, explanation][, spans]).

        Every auxiliary payload aggregates over the HIT SET only (broadcast
        semi-joins before the groupBys) — a seeded request never pays a
        corpus-wide aggregation (round-1 ADVICE/VERDICT fix).  The hop BFS,
        ``score`` and ``explanation`` all read the edge-and-explanation
        stage (``EDGE_STAGE``): the first request against a stage dir
        writes it, every later one (under ``cache_stages_under``) runs no
        pair or verify plan."""
        hits = self.resolve_input(attributes=attributes, terms=terms,
                                  ids=ids, max_hops=max_hops,
                                  max_time_per_query=max_time_per_query
                                  ).localCheckpoint()
        ids_df = hits.select("doc_id")
        out = hits.select("doc_id", F.col("hop").cast("int").alias("hop"),
                          F.col("q").cast("int").alias("q"))
        if include_attributes:
            out = out.join(self.attributes_map(ids_df), "doc_id", "left")
        if include_score:
            out = out.join(self.doc_scores_for(ids_df), "doc_id", "left")
        if include_explanation:
            out = out.join(self.explanation_structs(ids_df), "doc_id", "left")
        if include_source:
            out = out.join(self.docs.select("doc_id", "spans"), "doc_id",
                           "left")
        return out
