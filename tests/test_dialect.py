"""Dual-dialect expression agreement: every builder in zentity_spark.dialect
must produce identical results in Spark SQL and DuckDB on the same inputs —
this is what makes the DuckDB oracles (`__spark_entry__.oracle_sql`) a real
correctness gate rather than a parallel reimplementation.
"""

import duckdb
import pytest

from zentity_spark import dialect as D

SAMPLES = [
    "john smith",
    "jon smith",
    "jhon  SMITH!!",
    "maria garcia-lopez",
    "x",
    "",
    "ab",
    "anna",
]

DATES = ["1984-03-02", "1984-03-04", "1984-03-09", "1970-01-01", "2024-12-31"]

PHONES = ["+1 (555) 123-4567", "1-555-123-4567", "15551234567", "555.123"]


def _spark_eval(spark, expr_sql, values):
    rows = ", ".join("('" + v.replace("'", "''") + "')" for v in values)
    df = spark.sql(f"SELECT {expr_sql} AS v FROM (VALUES {rows}) AS t(c)")
    return [r["v"] for r in df.collect()]


def _duck_eval(expr_sql, values):
    con = duckdb.connect()
    rows = ", ".join("('" + v.replace("'", "''") + "')" for v in values)
    return [r[0] for r in con.execute(
        f"SELECT {expr_sql} AS v FROM (VALUES {rows}) AS t(c)").fetchall()]


def _agree(spark, build, values, unary=True):
    s_expr = build("c", D.SPARK)
    d_expr = build("c", D.DUCKDB)
    sv = _spark_eval(spark, s_expr, values)
    dv = _duck_eval(d_expr, values)
    assert sv == dv, f"\nspark={sv}\nduck ={dv}\nexpr_s={s_expr}\nexpr_d={d_expr}"
    return sv


@pytest.mark.parametrize("norm", sorted(D.NORMALIZERS))
def test_normalizers_agree(spark, norm):
    vals = DATES if norm == "date" else SAMPLES + PHONES
    _agree(spark, D.NORMALIZERS[norm], vals)


def test_norm_name_semantics(spark):
    got = _spark_eval(spark, D.norm_name("c", D.SPARK), ["  Jhon  SMITH!! ", "A-b_c"])
    assert got == ["jhon smith", "abc"]


def test_norm_phone_semantics(spark):
    got = _spark_eval(spark, D.norm_phone("c", D.SPARK), PHONES)
    assert got == ["15551234567", "15551234567", "15551234567", "555123"]


def test_phonetic_code_agree_and_semantics(spark):
    got = _agree(spark, D.phonetic_code, ["smith", "smyth", "smithe", "jon",
                                          "john", "robert", "rupert", "x", "aeiou"])
    # smith/smyth/smithe share a code; classic soundex R163 for robert/rupert
    assert got[0] == got[1] == got[2] == "S530"
    assert got[3] == got[4] == "J500"
    assert got[5] == got[6] == "R163"


def test_tokens_agree(spark):
    got = _agree(spark, D.tokens, SAMPLES)
    assert got[0] == ["john", "smith"]
    assert got[5] == []  # empty string → no tokens


@pytest.mark.parametrize("n", [2, 3])
def test_char_ngrams_agree(spark, n):
    got = _agree(spark, lambda c, d: D.char_ngrams(c, n, d),
                 ["abcde", "ab", "a", ""])
    assert got[0] == ["abcde"[i:i + n] for i in range(5 - n + 1)]
    # shorter than n → empty list in both dialects
    assert got[-1] == []


def test_epoch_day_agree(spark):
    got = _agree(spark, D.epoch_day, DATES)
    assert got[3] == 0
    assert got[1] - got[0] == 2


def test_md5_int64_agree(spark):
    _agree(spark, D.md5_int64, SAMPLES)


def _pair_eval(spark, build_pair, pairs):
    s_rows = ", ".join(
        "('" + a.replace("'", "''") + "', '" + b.replace("'", "''") + "')"
        for a, b in pairs)
    s = [r["v"] for r in spark.sql(
        f"SELECT {build_pair('a', 'b', D.SPARK)} AS v "
        f"FROM (VALUES {s_rows}) AS t(a, b)").collect()]
    con = duckdb.connect()
    d = [r[0] for r in con.execute(
        f"SELECT {build_pair('a', 'b', D.DUCKDB)} AS v "
        f"FROM (VALUES {s_rows}) AS t(a, b)").fetchall()]
    assert s == d, f"spark={s} duck={d}"
    return s


def test_lev_within_auto(spark):
    # ES auto parity: <3 chars → 0 edits, 3-5 → 1, ≥6 → 2 (SURVEY §3 row 9)
    got = _pair_eval(spark, D.lev_within_auto, [
        ("john smith", "jon smith"),   # 1 edit, len≥6 → True
        ("john smith", "jan smyth"),   # 3 edits → False
        ("anna", "ana"),               # 1 edit, len 3-5 → True
        ("anna", "aa"),                # shorter side <3 → 0 edits → False
        ("ab", "ab"),                  # equal → True
    ])
    assert got == [True, False, True, False, True]


def _matcher_pair(model, kind, **params):
    """pair builder for the match flag the compiler emits for one matcher
    over two one-element value lists (CompiledPlan._derive → _cmp) — the
    predicate the pipeline's verify stage runs."""
    from zentity_spark.model import Matcher
    from zentity_spark.plans.compiler import compile_model
    plan = compile_model(model)
    m = Matcher("m", kind, params=params)

    def build(a, b, dialect):
        arr = "list_value" if dialect == D.DUCKDB else "array"
        la = plan._derive(m, f"{arr}({a})", dialect)
        lb = plan._derive(m, f"{arr}({b})", dialect)
        return plan._cmp(m, la, lb, dialect)
    return build


def test_token_overlap(spark, model):
    got = _pair_eval(spark, _matcher_pair(model, "tokens"), [
        ("john smith", "smith house"),
        ("john smith", "maria garcia"),
    ])
    assert got == [True, False]


def test_phonetic_token_eq(spark, model):
    got = _pair_eval(spark, _matcher_pair(model, "phonetic", operator="or"), [
        ("john smith", "jon smyth"),
        ("john smith", "maria garcia"),
    ])
    assert got == [True, False]


def test_date_within(spark, model):
    got = _pair_eval(spark, _matcher_pair(model, "date_window", window="2d"), [
        ("1984-03-02", "1984-03-04"),
        ("1984-03-02", "1984-03-09"),
        ("1984-03-02", "1984-03-02"),
    ])
    assert got == [True, False, True]


# --- extended Java date-format coverage (VERDICT r2 "what's missing" #3) ---

_FMT_CASES = {
    "yyyy-MM-dd'T'HH:mm:ss": ["2021-03-04T05:06:07", "1999-12-31T23:59:59",
                              "2021-03-04 05:06:07", "garbage"],
    "yyyy-MM-dd HH:mm:ss.SSS": ["2021-03-04 05:06:07.123",
                                "2021-03-04 05:06:07", "x"],
    "dd/MM/yyyy hh:mm a": ["04/03/2021 05:06 PM", "31/12/1999 11:59 AM",
                           "bad"],
    "M/d/yyyy": ["3/4/2021", "12/31/1999", "nope"],
    "epoch_millis": ["1614816000000", "0", "-86400000", "notanum"],
    "epoch_second": ["1614816000", "0", "-86400", ""],
    # zone offsets (VERDICT r3 missing #3): UTC-normalized in both
    # engines, incl. the date FLIP across midnight and the literal 'Z'
    # an X token admits
    "yyyy-MM-dd'T'HH:mm:ssXXX": ["2020-01-01T22:00:00-05:00",
                                 "2020-01-01T03:00:00+05:00",
                                 "2020-06-07T12:00:00Z",
                                 "2020-01-01T22:00:00", "junk"],
    "yyyy-MM-dd'T'HH:mm:ssX": ["2020-01-01T22:00:00-05",
                               "2020-12-31T23:30:00+02",
                               "2020-06-07T12:00:00Z", "junk"],
    "yyyy-MM-dd HH:mm:ss Z": ["2020-01-01 22:00:00 -0500",
                              "2020-01-01 03:00:00 +0500", "junk"],
    # Java reduced year (round 5): base 2000, ALL of 00-99 → 2000-2099;
    # values straddle the C %y 69-pivot the DuckDB render corrects for
    "dd/MM/yy": ["31/12/69", "01/01/00", "15/06/68", "29/02/96",
                 "05/11/99", "31/12/1969", "junk"],
    "yy-MM-dd": ["69-12-31", "00-01-01", "99-11-05", "bad"],
}


@pytest.mark.parametrize("fmt", sorted(_FMT_CASES))
def test_norm_date_formats_agree(spark, fmt):
    """every supported format token parses identically in both engines and
    canonicalizes to yyyy-MM-dd (unparseable → NULL in both)."""
    build = lambda c, dialect: D.norm_date(c, dialect, fmt)
    vals = _spark_eval(spark, build("c", D.SPARK), _FMT_CASES[fmt])
    dvals = _duck_eval(build("c", D.DUCKDB), _FMT_CASES[fmt])
    assert vals == dvals, f"{fmt}: spark={vals} duck={dvals}"
    assert any(v is not None for v in vals), f"{fmt}: all values dropped"


def test_date_format_validation():
    for ok in list(_FMT_CASES) + ["yyyy-MM-dd", "dd/MM/yyyy",
                                  "'on' yyyy-MM-dd 'it''s' HH:mm"]:
        D.validate_date_format(ok)
    # zone NAMES (z/VV), era, week-year stay rejected; offsets
    # (X/XX/XXX/Z) supported since round 4, reduced year (yy) since
    # round 5
    for bad in ["yyyy-MM-dd z", "yyyy-MM-dd VV", "epoch_micros",
                "yyyy-'MM-dd", "GGGG-MM-dd", "yyyy-MM-dd HH:mm:ss.SS",
                "YYYY-ww",
                # reduced year + offset: the pivot needs the parsed LOCAL
                # year, which %z parsing collapses away — rejected
                "dd/MM/yy X", "yy-MM-dd HH:mm Z"]:
        with pytest.raises(ValueError):
            D.validate_date_format(bad)


def test_model_rejects_untranslatable_date_format():
    import json
    from zentity_spark.model import Model, ValidationError
    spec = {
        "attributes": {"dob": {"type": "date",
                               "params": {"format": "yyyy-MM-dd'T'HH:mm:ss z"}}},
        "resolvers": {"r": {"attributes": ["dob"]}},
        "matchers": {"x": {"clause": {"term": {"{{ field }}": "{{ value }}"}}}},
        "indices": {"i": {"fields": {"dob_f": {"attribute": "dob",
                                               "matcher": "x"}}}},
    }
    with pytest.raises(ValidationError, match="'z'"):
        Model.parse(json.dumps(spec))
    for ok in ("epoch_millis", "yyyy-MM-dd'T'HH:mm:ssXXX"):
        spec["attributes"]["dob"]["params"]["format"] = ok
        Model.parse(json.dumps(spec))
