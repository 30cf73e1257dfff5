"""Golden-cluster scenario tests (FIXTURES.md §6, ≙ the shapes of the
reference's `ResolutionActionIT` — SURVEY.md §6.1): hand-built docs with
hand-verified expected clusters.
"""

import pytest
from pyspark.sql import functions as F

from tests.conftest import clusters_of, make_docs
from zentity_spark.pipeline import ResolutionJob
from zentity_spark.plans.compiler import Scope


def resolve(spark, model, spec, scope=None, block_cap=1000):
    docs = make_docs(spark, spec)
    job = ResolutionJob(spark, docs, model, scope=scope, block_cap=block_cap)
    return clusters_of(job.clusters()), job


# --- S1: exact multi-attribute resolver; hard negative on one attribute

def test_s1_exact_multi_attribute(spark, model):
    spec = [
        ("a-000001", [("full_name", "Maria Garcia"), ("tel", "+1 (555) 000-1111")]),
        ("b-000001", [("full_name", "maria garcia"), ("tel", "15550001111")]),
        # same name, different phone+dob → must NOT merge (hard negative)
        ("a-000002", [("full_name", "Maria Garcia"), ("tel", "15559998888")]),
    ]
    got, _ = resolve(spark, model, spec)
    assert got == {frozenset({"a-000001", "b-000001"}), frozenset({"a-000002"})}


# --- S2: fuzzy + phonetic name variants via r_name_dob

def test_s2_fuzzy_and_phonetic(spark, model):
    spec = [
        ("a-000001", [("full_name", "john smith"), ("birth_date", "1984-03-02")]),
        # phonetic variant (same soundex: smith→smyth), same dob
        ("b-000001", [("full_name", "john smyth"), ("birth_date", "1984-03-02")]),
        # typo within fuzzy reach on the alt field, dob inside window
        ("c-000001", [("full_name_alt", "john smitt"), ("birth_date", "1984-03-03")]),
        # beyond edit distance and different phonetic code → stays out
        ("a-000002", [("full_name", "joan smizzle"), ("birth_date", "1984-03-02")]),
    ]
    got, _ = resolve(spark, model, spec)
    assert got == {frozenset({"a-000001", "b-000001", "c-000001"}),
                   frozenset({"a-000002"})}


# --- S3: date window ±2d merges, ±5d does not

def test_s3_date_window(spark, model):
    spec = [
        ("a-000001", [("full_name", "elsa kinberg"), ("birth_date", "1984-03-02")]),
        ("b-000001", [("full_name", "elsa kinberg"), ("birth_date", "1984-03-04")]),
        ("c-000001", [("full_name", "elsa kinberg"), ("birth_date", "1984-03-09")]),
    ]
    got, _ = resolve(spark, model, spec)
    assert got == {frozenset({"a-000001", "b-000001"}), frozenset({"c-000001"})}


# --- S4: multi-hop snowball chain + max_hops parity

S4_SPEC = [
    # d1 —(name,phone)— d2 —(name,dob)— d3 —(email)— d4 ; d5 unrelated
    ("a-000001", [("full_name", "kara wright"), ("tel", "15551230001")]),
    ("b-000001", [("full_name", "kara wright"), ("tel", "1-555-123-0001"),
                  ("birth_date", "1990-06-15")]),
    ("c-000001", [("full_name", "kara wright"), ("birth_date", "1990-06-16"),
                  ("email", "KW@example.com")]),
    ("d-000001", [("email", "kw@example.com")]),
    ("a-000002", [("full_name", "zoe unrelated"), ("tel", "15550009999")]),
]


def test_s4_batch_cluster(spark, model):
    got, _ = resolve(spark, model, S4_SPEC)
    assert got == {
        frozenset({"a-000001", "b-000001", "c-000001", "d-000001"}),
        frozenset({"a-000002"}),
    }


def test_s4_seeded_max_hops(spark, model):
    docs = make_docs(spark, S4_SPEC)
    job = ResolutionJob(spark, docs, model)

    full = {r["doc_id"]: r["hop"] for r in
            job.resolve_input(ids=["a-000001"], max_hops=10).collect()}
    assert full == {"a-000001": 0, "b-000001": 1, "c-000001": 2, "d-000001": 3}

    h1 = {r["doc_id"]: r["hop"] for r in
          job.resolve_input(ids=["a-000001"], max_hops=1).collect()}
    assert h1 == {"a-000001": 0, "b-000001": 1}


# --- S5: scope — weak resolver excluded by default, included on request

def test_s5_scope_resolver_toggle(spark, model):
    spec = [
        ("a-000001", [("full_name", "omar velez"), ("city", "Springfield")]),
        ("b-000001", [("full_name", "omar velez"), ("city", "springfield")]),
    ]
    # default scope excludes r_name_city_weak → no merge evidence
    got_default, _ = resolve(spark, model, spec)
    assert got_default == {frozenset({"a-000001"}), frozenset({"b-000001"})}
    # explicitly empty scope activates it → merge
    got_weak, _ = resolve(spark, model, spec, scope=Scope())
    assert got_weak == {frozenset({"a-000001", "b-000001"})}


def test_s5_scope_exclude_value(spark, model):
    """excluded attribute values are dropped at extraction (≙ scope
    attribute-value filters, Input.java::parseScope)."""
    spec = [
        ("a-000001", [("full_name", "ivy poole"), ("tel", "15557770001")]),
        ("b-000001", [("full_name", "ivy poole"), ("tel", "15557770001")]),
    ]
    scope = Scope(exclude_resolvers=("r_name_city_weak",),
                  exclude_values=(("phone", "15557770001"),))
    got, job = resolve(spark, model, spec, scope=scope)
    assert got == {frozenset({"a-000001"}), frozenset({"b-000001"})}
    assert job.attrs().where(F.col("attr") == "phone").count() == 0


# --- S6: block cap (≙ max_docs_per_query) caps hot blocks, clusters survive
#         via other resolvers

def test_s6_block_cap(spark, model):
    # 6 docs, all phonetic-identical names; pairs via (name,phone)
    spec = []
    for i in range(3):
        phone = f"155500022{i:02d}"
        spec.append((f"a-0000{i:02d}",
                     [("full_name", "lee chan"), ("tel", phone)]))
        spec.append((f"b-0000{i:02d}",
                     [("full_name", "lee chan"), ("tel", phone)]))
    got, job = resolve(spark, model, spec, block_cap=2)
    # the capped hot name-block alone can't bridge; phone keys (distinct
    # per person) stay under the cap → per-person clusters remain exact
    assert got == {
        frozenset({f"a-0000{i:02d}", f"b-0000{i:02d}"}) for i in range(3)
    }


# --- S9: media passthrough (every scenario's rows preserve span sequences)

def test_s9_media_passthrough(spark, model):
    spec = [
        ("a-000001", [("@media", "media://0001"), ("full_name", "nia drake"),
                      ("@media", "media://0002"), ("tel", "15553330001")]),
        ("b-000001", [("full_name", "nia drake"), ("tel", "15553330001"),
                      ("@media", "media://0003")]),
    ]
    docs = make_docs(spark, spec)
    job = ResolutionJob(spark, docs, model)
    out = job.clusters()
    rows = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"])
                          for s in r["spans"]] for r in out.collect()}
    assert rows["a-000001"] == [("media", "", "media://0001"),
                                ("text", "full_name=nia drake", ""),
                                ("media", "", "media://0002"),
                                ("text", "tel=15553330001", "")]
    assert rows["b-000001"][2] == ("media", "", "media://0003")
    assert clusters_of(out) == {frozenset({"a-000001", "b-000001"})}


FIELD_SCOPE_MODEL = """
{
  "attributes": {"name": {"type": "string", "params": {"normalizer": "name"}},
                 "acct": {"type": "string"}},
  "resolvers": {"r_name_acct": {"attributes": ["name", "acct"]}},
  "matchers": {"exact": {"clause": {"term": {"{{ field }}": "{{ value }}"}}},
               "phon": {"type": "phonetic", "params": {"operator": "and"}}},
  "indices": {"a": {"fields": {
    "legal_name": {"attribute": "name", "matcher": "exact"},
    "nickname":   {"attribute": "name", "matcher": "phon"},
    "acct":       {"attribute": "acct", "matcher": "exact"}}}}
}
"""


def test_field_scoped_matcher_binding(spark):
    """matchers bind to concrete index fields (IndexField.java): a value
    extracted via legal_name (matcher=exact) must NOT phonetic-match — the
    phonetic leaf targets the nickname field, and a doc holding no nickname
    value cannot satisfy it.  A doc that DOES hold a nickname value matches
    any harvested name value phonetically (query side is field-less)."""
    from zentity_spark.model import Model
    m = Model.parse(FIELD_SCOPE_MODEL)
    docs = make_docs(spark, [
        # phonetic-equal, not exact-equal legal names; no nicknames →
        # the reference would NOT merge these (only exact targets legal_name)
        ("a-000001", [("legal_name", "jon smith"), ("acct", "K1")]),
        ("a-000002", [("legal_name", "john smith"), ("acct", "K1")]),
        # positive control: a doc holding a nickname value — the phonetic
        # leaf on ITS nickname field fires against the other doc's
        # harvested legal value (query side is field-less)
        ("a-000003", [("nickname", "jon smyth"), ("acct", "K2")]),
        ("a-000004", [("legal_name", "jon smith"), ("acct", "K2")]),
    ])
    got = clusters_of(ResolutionJob(spark, docs, m, scope=Scope()).clusters())
    assert got == {frozenset({"a-000001"}),
                   frozenset({"a-000002"}),
                   frozenset({"a-000003", "a-000004"})}


def test_s5_scope_attribute_exclude(spark, model):
    """an excluded attribute is not extracted, and resolvers requiring it
    become unusable (Input.java::parseScope attribute scoping)."""
    spec = [
        ("a-000001", [("full_name", "omar velez"), ("city", "springfield"),
                      ("tel", "15550009999")]),
        ("b-000001", [("full_name", "omar velez"), ("city", "springfield"),
                      ("tel", "15550009999")]),
    ]
    # city excluded → r_name_city_weak unusable even though it's in scope;
    # merge still happens via r_name_phone
    scope = Scope(exclude_attributes=("city",))
    got, job = resolve(spark, model, spec, scope=scope)
    assert got == {frozenset({"a-000001", "b-000001"})}
    assert job.attrs().where(F.col("attr") == "city").count() == 0
    active = {r.name for r in job.plan.active_resolvers()}
    assert "r_name_city_weak" not in active and "r_name_phone" in active
    # excluding phone too removes the only remaining multi-evidence path
    scope2 = Scope(exclude_attributes=("city", "phone", "email", "dob"))
    got2, _ = resolve(spark, model, spec, scope=scope2)
    assert got2 == {frozenset({"a-000001"}), frozenset({"b-000001"})}


def test_s5_scope_include_values(spark, model):
    """include-values keeps ONLY the listed values of that attribute
    (Input.java::parseScope include.attributes)."""
    spec = [
        ("a-000001", [("full_name", "ada quinn"), ("email", "q@x.example")]),
        ("b-000001", [("full_name", "ada quinn"), ("email", "q@x.example")]),
        ("a-000002", [("full_name", "joy marsh"), ("email", "j@x.example")]),
        ("b-000002", [("full_name", "joy marsh"), ("email", "j@x.example")]),
    ]
    scope = Scope(exclude_resolvers=("r_name_city_weak",),
                  include_values=(("email", "q@x.example"),))
    got, job = resolve(spark, model, spec, scope=scope)
    # j@x.example is dropped at extraction → the second pair cannot merge
    assert got == {frozenset({"a-000001", "b-000001"}),
                   frozenset({"a-000002"}), frozenset({"b-000002"})}
    kept = {r["value_norm"] for r in
            job.attrs().where(F.col("attr") == "email").collect()}
    assert kept == {"q@x.example"}


def test_input_params_override_verification(spark, model):
    """input-level fuzziness=0 disables edit tolerance for THIS request:
    a 1-edit name that the model-level fuzzy (auto) seed WOULD match stops
    seeding, without touching the model."""
    spec = [
        ("a-000001", [("full_name_alt", "tessa brook"), ("tel", "15553330001")]),
    ]
    docs = make_docs(spark, spec)
    job = ResolutionJob(spark, docs, model)
    loose = {r["doc_id"] for r in job.seed_docs(
        attributes={"name": ["tessa brooks"],
                    "phone": ["15553330001"]}).collect()}
    assert loose == {"a-000001"}          # fuzziness auto: 1 edit tolerated
    strict = {r["doc_id"] for r in job.seed_docs(
        attributes={"name": {"values": ["tessa brooks"],
                             "params": {"fuzziness": "0"}},
                    "phone": ["15553330001"]}).collect()}
    assert strict == set()                # fuzziness 0: exact only


def test_max_time_per_query_budget(spark, model):
    """max_time_per_query parity: a zero budget stops snowball expansion
    after the seeds (hop 0), like the reference timing out a hop."""
    spec = [
        ("a-000001", [("email", "chain0@x.example"),
                      ("tel", "15554440001"), ("full_name", "lena ford")]),
        ("b-000001", [("email", "chain0@x.example"),
                      ("email", "chain1@x.example")]),
        ("c-000001", [("email", "chain1@x.example")]),
    ]
    docs = make_docs(spark, spec)
    job = ResolutionJob(spark, docs, model)
    full = {r["doc_id"]: r["hop"] for r in
            job.resolve_input(ids=["a-000001"], max_hops=5).collect()}
    assert full == {"a-000001": 0, "b-000001": 1, "c-000001": 2}
    cut = {r["doc_id"]: r["hop"] for r in
           job.resolve_input(ids=["a-000001"], max_hops=5,
                             max_time_per_query=0.0).collect()}
    assert cut == {"a-000001": 0}


# --- S-time: time-bearing date format through the full pipeline
# (VERDICT r2 next-round #6: an er2-class variant whose date attribute
# carries 'T'HH:mm:ss — parse honors the full pattern, identity + the
# range matcher operate on the canonical DAY)

def test_s_time_bearing_date_format(spark):
    import json
    from zentity_spark.model import Model
    spec = {
        "attributes": {
            "who":  {"type": "string", "params": {"normalizer": "name"}},
            "seen": {"type": "date", "score": 0.9,
                     "params": {"format": "yyyy-MM-dd'T'HH:mm:ss",
                                "normalizer": "date"}},
        },
        "resolvers": {"r_who_seen": {"attributes": ["who", "seen"]}},
        "matchers": {
            "exact": {"clause": {"term": {"{{ field }}": "{{ value }}"}},
                      "quality": 1.0},
            "win": {"clause": {"range": {"{{ field }}": {
                        "gte": "{{ value }}||-{{ params.window }}",
                        "lte": "{{ value }}||+{{ params.window }}",
                        "format": "yyyy-MM-dd"}}},
                    "params": {"window": "2d"}, "quality": 0.9},
        },
        "indices": {
            "a": {"fields": {
                "who_name": {"attribute": "who", "matcher": "exact"},
                "seen_at": {"attribute": "seen", "matcher": "win"}}},
            "b": {"fields": {
                "who_name": {"attribute": "who", "matcher": "exact"},
                "seen_at": {"attribute": "seen", "matcher": "win"}}},
            "c": {"fields": {
                "who_name": {"attribute": "who", "matcher": "exact"},
                "seen_at": {"attribute": "seen", "matcher": "win"}}},
        },
    }
    model = Model.parse(json.dumps(spec))
    docs = [
        ("a-000001", [("who_name", "ed yang"),
                      ("seen_at", "1984-03-02T23:59:59")]),
        # 2 days later by canonical day (seconds apart from midnight) → in
        ("b-000001", [("who_name", "ed yang"),
                      ("seen_at", "1984-03-04T00:00:01")]),
        # 5 days later → out of the ±2d window
        ("c-000001", [("who_name", "ed yang"),
                      ("seen_at", "1984-03-09T12:00:00")]),
    ]
    got, _ = resolve(spark, model, docs)
    assert got == {frozenset({"a-000001", "b-000001"}),
                   frozenset({"c-000001"})}
