"""Seeded workload inputs: corpora, fold slices and the seeded request list.

Everything is a pure function of (size, seed) and is cached on disk under
``erbench/.data/<name>`` (written to a temp dir, then renamed, so a killed
run never leaves a half-written input behind).  The program under test only
ever sees the parquet files written here.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, ".data")

# corpus sizes: per-op cost on a 4-core box is dominated by per-job fixed
# cost at these sizes (see README.md "Sizing"), so they are kept small
# enough for several ops per run
PERSONS = 200      # ~800 person docs
ACCOUNTS = 250     # ~750 account docs

# fold layout: FOLD_SLICES increments of FOLD_SHARE of the corpus each; the
# rest (~96%) is the bootstrap base
FOLD_SHARE = 0.005
FOLD_SLICES = 8

# the fixed seeded-request input mix (kind, include_explanation), cycled in
# this order from op 0 — so the first two ops of every run cover attribute
# input with and without an explanation
REQUEST_MIX = (
    ("name_dob", False),
    ("email", True),
    ("terms", False),
    ("ids", True),
    ("name_phone", False),
)


def _cached(name: str, build) -> str:
    """directory ``DATA/name``, built by ``build(tmp_dir)`` on first use."""
    out = os.path.join(DATA, name)
    if os.path.isdir(out):
        return out
    tmp = os.path.join(DATA, f".tmp-{name}-{uuid.uuid4().hex[:8]}")
    os.makedirs(tmp)
    try:
        build(tmp)
        os.rename(tmp, out)
    except OSError:
        # a concurrent run renamed its copy first
        if not os.path.isdir(out):
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def person_corpus(seed: int, persons: int = PERSONS) -> str:
    """docs_spans / persons / doc_truth / labeled_pairs parquet."""
    from zentity_spark import synth
    return _cached(f"person-{persons}-s{seed}",
                   lambda d: synth.write_corpus(d, persons, seed=seed))


def account_labeled_pairs(truth: list, accounts: list) -> list:
    """labeled pairs for the account corpus (which ships only doc truth):
    every intra-account pair is a positive; the first docs of accounts
    sharing a company string are hard negatives (they share ngram blocks)."""
    by_acct: dict = {}
    for r in truth:
        by_acct.setdefault(r["account_id"], []).append(r["doc_id"])
    pairs = []
    for ids in by_acct.values():
        ids = sorted(ids)
        pairs += [{"doc_id_a": a, "doc_id_b": b, "label": 1}
                  for i, a in enumerate(ids) for b in ids[i + 1:]]
    by_company: dict = {}
    for a in accounts:
        by_company.setdefault(a["company"], []).append(a["account_id"])
    for ids in by_company.values():
        for x, y in zip(ids, ids[1:]):
            a, b = sorted((min(by_acct[x]), min(by_acct[y])))
            pairs.append({"doc_id_a": a, "doc_id_b": b, "label": 0})
    return pairs


def account_corpus(seed: int, accounts: int = ACCOUNTS) -> str:
    """docs2_spans / docs2_truth / labeled_pairs parquet."""
    from zentity_spark import synth

    def build(d):
        synth.write_corpus2(d, accounts, seed=seed)
        truth = pq.read_table(os.path.join(d, "docs2_truth.parquet")).to_pylist()
        accts, _docs = synth.generate2(accounts, seed)
        pq.write_table(pa.Table.from_pylist(account_labeled_pairs(truth, accts)),
                       os.path.join(d, "labeled_pairs.parquet"))
    return _cached(f"account-{accounts}-s{seed}", build)


def anchors(truth: list) -> set:
    """each person's anchor doc: the first doc the generator wrote for it
    (full attribute set; every other doc of the person matches it
    directly — synth.py's correctness-by-construction guarantee)."""
    seen, out = set(), set()
    for r in truth:
        if r["person_id"] not in seen:
            seen.add(r["person_id"])
            out.add(r["doc_id"])
    return out


def fold_split(truth: list, seed: int) -> tuple:
    """(base ids, [slice ids] * FOLD_SLICES): non-anchor docs ordered by a
    seed-salted doc_id hash fill the slices, FOLD_SHARE of the corpus each;
    every other doc is in the base.  Anchors always stay in the base, so
    every ingested doc set keeps each entity connected and the batch labels
    of any fold state equal the truth partition."""
    keep = anchors(truth)

    def salted(doc_id):
        return hashlib.sha1(f"{seed}:{doc_id}".encode()).digest()
    movable = sorted((r["doc_id"] for r in truth if r["doc_id"] not in keep),
                     key=salted)
    per = max(1, round(len(truth) * FOLD_SHARE))
    slices = [set(movable[k * per:(k + 1) * per]) for k in range(FOLD_SLICES)]
    base = {r["doc_id"] for r in truth} - set().union(*slices)
    return base, slices


def corpus(kind: str, seed: int) -> dict:
    """paths of the generated corpus: docs, truth and labeled pairs."""
    if kind == "person":
        d, docs, truth = person_corpus(seed), "docs_spans", "doc_truth"
    else:
        d, docs, truth = account_corpus(seed), "docs2_spans", "docs2_truth"
    return {"dir": d, "docs": os.path.join(d, docs + ".parquet"),
            "truth": os.path.join(d, truth + ".parquet"),
            "labeled": os.path.join(d, "labeled_pairs.parquet")}


def truth_rows(paths: dict) -> list:
    """[{doc_id, person_id}] in generation order; an account corpus's
    account_id is its entity id."""
    t = pq.read_table(paths["truth"])
    return [{"doc_id": d, "person_id": p} for d, p in
            zip(t["doc_id"].to_pylist(), t[t.column_names[1]].to_pylist())]


def fold_inputs(kind: str, seed: int) -> str:
    """base.parquet + slice-NN.parquet cut from a corpus."""
    src = corpus(kind, seed)

    def build(d):
        docs = pq.read_table(src["docs"])
        base, slices = fold_split(truth_rows(src), seed)
        for name, ids in [("base", base)] + [
                (f"slice-{k:02d}", s) for k, s in enumerate(slices)]:
            mask = pc.is_in(docs["doc_id"], value_set=pa.array(sorted(ids), pa.string()))
            pq.write_table(docs.filter(mask),
                           os.path.join(d, f"{name}.parquet"))
    return _cached(f"fold-{os.path.basename(src['dir'])}", build)


def requests(persons_rows: list, truth: list, seed: int,
             n: int = 40) -> list:
    """seeded resolution requests for persons drawn by seed; the input kind
    and the explanation flag cycle through REQUEST_MIX."""
    rng = random.Random(f"requests:{seed}")
    anchor_of = {}
    for r in truth:
        anchor_of.setdefault(r["person_id"], r["doc_id"])
    picks = rng.sample(persons_rows, min(n, len(persons_rows)))
    out = []
    for i, p in enumerate(picks):
        kind, expl = REQUEST_MIX[i % len(REQUEST_MIX)]
        req = {"person_id": p["person_id"], "kind": kind,
               "include_explanation": expl,
               "attributes": None, "terms": None, "ids": None}
        if kind == "name_dob":
            req["attributes"] = {"name": [p["name"]], "dob": [p["dob"]]}
        elif kind == "name_phone":
            req["attributes"] = {"name": [p["name"]], "phone": [p["phone"]]}
        elif kind == "email":
            req["attributes"] = {"email": [p["email"]]}
        elif kind == "terms":
            req["terms"] = [p["name"], p["dob"]]
        else:
            req["ids"] = [anchor_of[p["person_id"]]]
        out.append(req)
    return out
