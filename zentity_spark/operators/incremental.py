"""Incremental entity resolution: fold document increments into an
existing resolution WITHOUT recomputing old×old candidate pairs.

The reference resolves per REQUEST (``resolution/Job.java`` hop loop) and
has no batch-increment notion; at 10^12-doc scale a corpus can never
re-resolve from scratch on every arrival, so this is the additive scale
path the streaming ingest module (streaming/ingest.py) was designed to
feed.  Correctness contract (tested in tests/test_incremental.py):

    bootstrap(D); add(Δ1); …; add(Δk)   ==   batch resolve(D ∪ Δ1 ∪ … ∪ Δk)

exactly (same labels), provided no composite block exceeds ``block_cap``
— the per-block cap trims blocks in doc_id order over whatever corpus the
job sees, so a capped hot block may admit different survivors
incrementally than in one batch (the cap is an approximation in the
reference too: ``max_docs_per_query``).

Why increments are cheap:
  * every pre-pair stage (attrs/keys/vals_wide/composite keys) is
    PER-DOCUMENT — stage(D ∪ Δ) = stage(D) ∪ stage(Δ) — so a fold writes
    each stage's Δ rows ONCE, straight into the state, each stage reading
    the Δ partitions its predecessors just wrote;
  * Δ candidate pairs probe the combined key table with only the new
    docs' composite keys (compiler.sql_pairs_delta), broadcast when the
    increment is small: no shuffle of the old keys, no old×old join;
  * verification reuses the compiled edge-stage plan (``explain_x``) of
    the same Δ job, its per-doc stages re-pointed at the combined state
    and ``pairs_x`` at the Δ pair relation; the verified edges, with
    their explanation rows, are written once and read back;
  * only components TOUCHED by a Δ edge re-cluster: old labels restricted
    to touched entities re-enter connected components as star edges
    (label forest ≡ old connectivity), untouched labels pass through
    byte-identical.  That graph is a few components, so it is labelled on
    the driver (one Arrow collect + union-find); only one past the
    session's broadcast budget runs the Spark star loop.

The bootstrap is the same fold against an empty committed state: Δ is
every doc, the batch pair plan (with its skew salting) stands in for the
Δ probe, and there are no old labels to star in.

State layout under ``state_dir`` (the ``inc=<fold_id>`` overwrite
partitions, the ``CURRENT`` commit and the compaction gate are
``io.FoldState``'s; only ``labels`` compacts, and the gate counts label
rows):
    docs/inc=<fold_id>/   ingested documents, ONE subdir per increment
    attrs_x/ keys_x/ vals_wide_x/ ck_<resolver>/  (same inc= layout)
                   per-doc stage rows per increment, each written once
    explain_x/inc=<fold_id>/  the batch edge stage's rows for the pairs
                   verified by that fold: one row per matched (pair,
                   resolver, attribute, field, matcher) binding; the
                   edges are its distinct (pair, resolver) projection
                   (full edge log ⇒ the labels can always be rebuilt)
    labels/inc=<fold_id>/ ONLY the components relabeled by that fold
                   (a compacting fold writes the full label set); the
                   current label of a doc is its row at the HIGHEST
                   committed inc — latest-writer-wins per doc_id

A pair is verified in exactly one fold, so the committed incs of
``explain_x`` are the batch edge stage over the committed docs (under
the same ``block_cap`` caveat).  ``IncrementalResolver.job()`` serves
requests from them: a ``ResolutionJob`` whose stages read the committed
incs, so ``response()`` over a folded state runs no pair or verify plan.

Every state table is delta-partitioned, so a fold WRITES O(Δ + touched
components), never O(N) — the labels/seen-ids full rewrite that used to
dominate fold cost at large N (BENCH/incremental_bench.json r4) is gone.
Docs not yet visible in any committed label inc (``inc > CURRENT.fold_id``)
ARE the next fold's Δ, which both removes the separate seen-id table and
self-heals increments orphaned by a crash: ``add()`` without a
``fold_id`` takes one above both the commit and every ``docs/inc=`` on
disk, so it never overwrites an orphan's docs, and the fold first drops
every other inc above the commit (the orphan's partial stage,
``explain_x`` and ``labels`` rows; file formats) before it reads the
state.  A fold that already committed is refused here and skipped by
the stream caller via ``committed_fold_id()`` (streaming/resolve.py).
The ``CURRENT`` pointer records the fold identity (model, scope,
``block_cap``): reopening a state under another one raises.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from zentity_spark import dialect as D
from zentity_spark.io import FoldState, Storage
from zentity_spark.model import Model
from zentity_spark.operators.cluster import (_LABEL_ID_BYTES,
                                             _checkpoint_id_stats,
                                             broadcast_row_budget,
                                             connected_components_by_hash)
from zentity_spark.pipeline import DEFAULT_SCOPE, ResolutionJob
from zentity_spark.plans.compiler import Scope

# per-document stages whose union across increments equals the batch stage
PER_DOC_STAGES = ("attrs_x", "keys_x", "vals_wide_x")


def _latest(labels: DataFrame) -> DataFrame:
    """each doc's label at its highest inc (latest-writer-wins)."""
    return (labels.groupBy("doc_id")
            .agg(F.max_by("entity_id", "inc").alias("entity_id")))


class IncrementalResolver(FoldState):
    """Stateful incremental resolution over a model (SURVEY §3 operators,
    re-expressed as a fold).  Not thread-safe; one writer per state_dir."""

    COMPACTED = ("labels",)

    def __init__(self, spark: SparkSession, model: Model, state_dir: str,
                 scope: Scope | None = None, block_cap: int = 1000,
                 storage: Storage | None = None,
                 auto_compact_ratio: float = 4.0):
        scope = scope if scope is not None else DEFAULT_SCOPE
        super().__init__(
            spark, state_dir,
            "|".join([model.to_json(), repr(scope), str(block_cap)]),
            storage, auto_compact_ratio)
        self.model = model
        self.scope = scope
        self.block_cap = block_cap
        # observability for tests/operators: executed plan of the last Δ
        # pair job (asserts the broadcast), the last fold run
        self.last_pairs_plan: str | None = None
        self._last_fold: int | None = None

    @property
    def last_delta_edges(self) -> int:
        """verified edges of the last fold run: the distinct (pair,
        resolver) rows of its edge-stage inc, counted on read so the fold
        itself does not pay for the counter."""
        if self._last_fold is None:
            return 0
        return (self.storage.read(
                    self._part(ResolutionJob.EDGE_STAGE, self._last_fold))
                .select("doc_id_a", "doc_id_b", "resolver")
                .distinct().count())

    # ---------- state helpers ----------

    def _stages(self, job: ResolutionJob) -> tuple:
        """the per-doc stages and composite keys a fold writes per inc."""
        return PER_DOC_STAGES + tuple(
            f"ck_{r.name}" for r in job.plan.active_resolvers())

    def _point(self, job: ResolutionJob, stages, hi: int) -> None:
        """re-point ``job``'s ``stages`` at the state's rows of every inc
        up to ``hi``: none of them compacts, so the union of those incs IS
        the stage over the docs folded so far."""
        for st in stages:
            job._replace[st] = (
                f"(SELECT * EXCEPT (inc) FROM "
                f"{self.storage.scan_sql(self._path(st))} WHERE inc <= {hi})")

    def docs(self) -> DataFrame:
        return self.storage.read(self._path("docs")).select("doc_id", "spans")

    def job(self) -> ResolutionJob:
        """a ``ResolutionJob`` over the committed docs whose per-doc
        stages, composite keys and edge stage (``explain_x``) read the
        state's committed incs: ``response()``, ``match_edges()``,
        ``explanations()``, ``pair_scores()`` and ``doc_scores()`` on it
        run no pair or verify plan and write nothing.  Labels come from
        ``clusters()``.  ``unpersist()`` the job when done (it drops the
        job's docs view)."""
        cur = self._current()
        if cur is None:
            raise ValueError("no increments folded yet")
        hi = cur["fold_id"]
        job = ResolutionJob(self.spark,
                            self._read_range("docs", 0, hi)
                            .select("doc_id", "spans"),
                            self.model, self.scope, self.block_cap)
        self._point(job, self._stages(job) + (ResolutionJob.EDGE_STAGE,), hi)
        return job

    def labels(self) -> DataFrame:
        """current (doc_id, entity_id) for edge-bearing docs (singletons are
        implicit, as in ResolutionJob.clusters).  The table is
        delta-partitioned by fold: a doc's live label is its row at the
        highest COMMITTED inc (relabeled components re-emit every member,
        so latest-writer-wins per doc_id is exact), and rows at
        uncommitted incs — a fold that crashed before its CURRENT rename —
        are filtered out."""
        cur = self._current()
        if cur is None:
            raise ValueError("no increments folded yet")
        # The latest-wins view never needs to shuffle all N rows:
        #   * no deltas since the last compaction (bootstrap included) ⇒
        #     the base inc IS the view — plain scan, no shuffle (measured
        #     ~O(N) fold overhead at sf1 before this fast path);
        #   * small deltas (cumulative delta_rows under the session's own
        #     broadcast budget) ⇒ aggregate ONLY the delta incs, then
        #     base ANTI-JOIN broadcast(delta doc_ids) ∪ deltas — the base
        #     streams through unshuffled, so the steady-state fold between
        #     compactions stays O(Δ)-shuffle;
        #   * otherwise (deltas near the compaction threshold, or a
        #     pointer without row accounting) fall back to the full
        #     latest-wins aggregate.
        # Every committed fold writes its labels inc, so the pointer alone
        # says which incs exist in the committed range.
        fold_id, base_inc = cur["fold_id"], cur.get("base_inc") or 0
        if fold_id == base_inc:
            return (self.storage.read(self._part("labels", base_inc))
                    .select("doc_id", "entity_id"))
        d_rows = cur.get("delta_rows") or 0
        if 0 < d_rows <= broadcast_row_budget(self.spark, _LABEL_ID_BYTES):
            base = (self.storage.read(self._part("labels", base_inc))
                    .select("doc_id", "entity_id"))
            d_latest = _latest(
                self._read_range("labels", base_inc + 1, fold_id))
            return (base.join(F.broadcast(d_latest.select("doc_id")),
                              "doc_id", "left_anti")
                    .unionByName(d_latest))
        return _latest(self._read_range("labels", base_inc, fold_id))

    def clusters(self) -> DataFrame:
        """(doc_id, entity_id, spans) for every ingested doc — singletons
        labeled by their own doc_id; spans pass through untouched."""
        docs = self.docs()
        return (docs.join(self.labels(), "doc_id", "left")
                .select("doc_id",
                        F.coalesce("entity_id", "doc_id").alias("entity_id"),
                        "spans"))

    # ---------- the fold ----------

    def add(self, new_docs: DataFrame, fold_id: int | None = None) -> DataFrame:
        """fold one increment; returns the updated labels DataFrame.

        Contract: doc_ids globally unique across increments (the streaming
        ingest dedups on doc_id before the sink).  ``fold_id`` identifies
        the increment for replay idempotency — a stream passes its
        micro-batch id (stable across retries); direct callers default to
        the next batch ordinal."""
        committed = self.committed_fold_id()
        if fold_id is None:
            # strictly above every committed fold — stream batch_ids can
            # skip ordinals (empty batches), so a fold count could collide
            # with (and overwrite) an existing inc= dir — and above every
            # landed docs inc: a fold that died after its docs write left
            # them above the commit, for this fold to absorb
            fold_id = 1 + max([committed, *self._incs("docs")])
        elif fold_id <= committed:
            raise ValueError(
                f"fold_id {fold_id} already committed (last = {committed}) "
                f"— replaying a committed fold would overwrite its state")
        new_docs = new_docs.select("doc_id", "spans")
        self.storage.write(new_docs, self._part("docs", fold_id))
        return self._fold(fold_id)

    def _write_stage_rows(self, job: ResolutionJob, fold_id: int) -> None:
        """write the increment's per-doc stage rows + composite keys
        straight into their ``inc=<fold_id>`` partitions, each stage once
        (job is over the Δ docs ONLY; its stages ARE the Δ rows of the
        combined stages).  Each stage reads the partitions its
        predecessors just wrote; overwrite mode makes a replayed fold
        replace its own partial output.  The composite keys do not depend
        on the skew policy, so no keys aggregate runs here."""
        for st in self._stages(job):
            part = self._part(st, fold_id)
            self.storage.write(job.stage(f"SELECT * FROM {st}", upto=st),
                               part)
            job._replace[st] = self.storage.scan_sql(part)

    def _fold(self, fold_id: int) -> DataFrame:
        """fold every doc landed since the last committed fold — the
        bootstrap included (``cur is None``; see the module doc)."""
        spark = self.spark
        cur = self._current()
        committed = self.committed_fold_id()
        # a fold that died before its commit left incs above it beside its
        # docs; this fold absorbs those docs, so drop the rest (partial
        # stage, explain_x and labels rows) before they join this fold's
        # reads.  File formats only, as for the compaction prune.
        for st in os.listdir(self.state_dir):
            if st != "docs":
                for i in self._incs(st):
                    if i > committed:
                        self.storage.remove(self._part(st, i))
        # Δ = every doc landed SINCE the last committed fold: the docs
        # table is inc-partitioned, so ``inc > committed`` is exactly the
        # set no committed label state has seen — the current increment
        # plus any increment a crashed fold orphaned (self-healing; the
        # old seen-id table tracked the same set with an O(N) rewrite per
        # fold).  doc_ids are globally unique across increments (streaming
        # ingest dedups on doc_id before the sink).
        new_docs = (self.storage.read(self._path("docs"))
                    .where(F.col("inc") > committed)
                    .select("doc_id", "spans"))
        job = ResolutionJob(spark, new_docs, self.model, self.scope,
                            self.block_cap)
        v_new, v_pairs = f"{job._view}_newids", f"{job._view}_dpairs"
        held = []  # this fold's localCheckpoints, freed when it ends
        try:
            # 1. Δ per-doc stage rows written once, into the state
            self._write_stage_rows(job, fold_id)

            # 2. the same job re-pointed at the combined state — nothing
            # per-doc recomputes for old docs; the skew policy comes from
            # the combined keys
            self._point(job, self._stages(job), fold_id)
            job._compute_skew_policy()

            # 3. Δ candidate pairs: probe combined keys with the new ids
            # only.  The Δ-side broadcast is BYTE-gated against the
            # session's own autoBroadcastJoinThreshold (rows × measured id
            # width — ADVICE r3: a fixed 1M-row cap hinted wide-id
            # relations past the planner's size check); a too-large Δ
            # falls back to a shuffle join.
            if cur is not None:
                new_ids, n_new, id_w = _checkpoint_id_stats(
                    new_docs.select("doc_id"))
                held.append(new_ids)
                new_ids.createOrReplaceTempView(v_new)
                bcast = n_new <= broadcast_row_budget(spark, id_w)
                plan = job.plan
                delta_select = " UNION ALL ".join(
                    plan.sql_pairs_delta(r, D.SPARK, v_new,
                                         broadcast_new=bcast)
                    for r in plan.active_resolvers())
                pairs = spark.sql(plan.sql(
                    D.SPARK, job._view, delta_select,
                    upto=plan.last_key_cte(D.SPARK),
                    replace=dict(job._replace)))
                held.append(pairs.localCheckpoint())
                held[-1].createOrReplaceTempView(v_pairs)
                self.last_pairs_plan = \
                    pairs._jdf.queryExecution().executedPlan().toString()
                job._replace["pairs_x"] = v_pairs

            # 4. verify the Δ pairs into this fold's inc of the edge stage
            # — the stage the batch persists — and read it back: the
            # verify plan executes once
            part = self._part(ResolutionJob.EDGE_STAGE, fold_id)
            self.storage.write(job.stage("SELECT * FROM explain_x",
                                         upto="explain_x"), part)
            self._last_fold = fold_id
            d_edges = self.storage.read(part).select("doc_id_a", "doc_id_b")

            # 5. merge: re-cluster touched components only.  The fold
            # COMMITS only the relabeled components (every member of a
            # touched component re-appears in the CC output, star edges ≡
            # old connectivity); untouched labels survive at their older
            # incs — no O(N) label rewrite.
            if cur is not None:
                old = self.labels().localCheckpoint()
                d_nodes = (d_edges.select(F.col("doc_id_a").alias("doc_id"))
                           .union(d_edges.select("doc_id_b")).distinct())
                touched = (old.join(F.broadcast(d_nodes), "doc_id", "semi")
                           .select("entity_id").distinct().localCheckpoint())
                held += [old, touched]
                star = (old.join(F.broadcast(touched), "entity_id", "semi")
                        .where(F.col("doc_id") != F.col("entity_id"))
                        .select(F.col("doc_id").alias("doc_id_a"),
                                F.col("entity_id").alias("doc_id_b")))
                d_edges = star.union(d_edges)
            relabeled = connected_components_by_hash(d_edges).select(
                "doc_id", "entity_id").localCheckpoint()
            held.append(relabeled)
            return self._commit_labels(relabeled, fold_id)
        finally:
            job.unpersist()
            spark.catalog.dropTempView(v_new)
            spark.catalog.dropTempView(v_pairs)
            for df in held:
                # the checkpoint's blocks, now rather than at a JVM GC
                df._jdf.logicalPlan().rdd().unpersist(False)

    def _commit_labels(self, delta_labels: DataFrame,
                       fold_id: int) -> DataFrame:
        """commit one fold's label delta at ``labels/inc=<fold_id>``.

        Deterministic under replay: the delta is a pure function of the
        committed state + the increment's rows, and the partition write is
        an overwrite — a crashed-then-replayed fold converges to the same
        bytes.  A compacting fold writes the full current view (older
        committed incs ⊕ this delta) into THIS inc instead."""
        cur = self._current()
        d_rows = delta_labels.count()
        compact = self._compact_due(cur, d_rows)
        if compact and cur:
            delta_labels = (self.labels()
                            .join(delta_labels, "doc_id", "left_anti")
                            .unionByName(delta_labels))
        self.storage.write(delta_labels, self._part("labels", fold_id))
        self._commit(cur, fold_id, d_rows, compact)
        return self.labels()
