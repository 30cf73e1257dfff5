"""Correctness checks behind ``correct`` / ``failed``.  Each returns a list
of problems (empty = pass).

The generator guarantees (synth.py) that distinct persons never match and
that every doc matches its person's anchor doc directly, so on any doc set
that keeps all anchors the batch labels ARE the truth partition, labeled by
the minimum doc_id per person.  The batch check verifies that guarantee on
every batch op; the fold and seeded checks compare against it.
"""

from __future__ import annotations


def batch_check(out, n_docs: int, labeled, truth) -> tuple:
    """(problems, f1) for one batch op's (doc_id, entity_id, spans) output;
    ``truth`` is (doc_id, person_id)."""
    from zentity_spark.metrics import pairwise_f1, partition_quality
    problems = []
    n = out.count()
    if n != n_docs:
        problems.append(f"output rows {n} != input docs {n_docs}")
    f1 = pairwise_f1(out, labeled)
    if f1["f1"] < 0.99:
        problems.append(f"pairwise F1 {f1['f1']:.4f} < 0.99 ({f1})")
    pq = partition_quality(out, truth)
    if pq["split_persons"] or pq["merged_entities"]:
        problems.append(f"partition differs from truth: {pq}")
    return problems, f1["f1"]


def truth_labels(truth: list, doc_ids) -> dict:
    """doc_id → min doc_id of its person among ``doc_ids``."""
    keep = set(doc_ids)
    lo: dict = {}
    for r in truth:
        if r["doc_id"] in keep:
            p = r["person_id"]
            lo[p] = min(lo.get(p, r["doc_id"]), r["doc_id"])
    return {r["doc_id"]: lo[r["person_id"]] for r in truth
            if r["doc_id"] in keep}


def labels_check(got: dict, expected: dict) -> list:
    """(doc_id → entity_id) maps must be equal."""
    if got == expected:
        return []
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    wrong = [d for d in expected.keys() & got.keys() if got[d] != expected[d]]
    return [f"labels differ from batch: {len(missing)} missing, "
            f"{len(extra)} extra, {len(wrong)} relabeled "
            f"(e.g. {sorted(wrong)[:3]})"]


def hits_check(hits, expected) -> list:
    """a seeded response must return exactly the seed's entity."""
    hits, expected = set(hits), set(expected)
    if hits == expected:
        return []
    return [f"hits differ from the seed's batch entity: "
            f"{len(hits - expected)} foreign, {len(expected - hits)} missing"]


def hit_pair_counts(hits, expected) -> tuple:
    """(tp, fp, fn) over the doc pairs inside one response's hit set versus
    inside the seed's true entity."""
    h, t = set(hits), set(expected)

    def c2(k):
        return k * (k - 1) // 2
    tp = c2(len(h & t))
    return tp, c2(len(h)) - tp, c2(len(t)) - tp


def f1_of(tp: int, fp: int, fn: int) -> float:
    p = tp / (tp + fp) if tp + fp else 1.0
    r = tp / (tp + fn) if tp + fn else 1.0
    return 2 * p * r / (p + r) if p + r else 0.0
