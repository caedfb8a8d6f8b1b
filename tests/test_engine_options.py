"""Round-2 API options + regex-vetting coverage:

* PCRE→Java-regex vetting with kernel fallback (SURVEY §4.2; reference
  caveat `/root/reference/README.md:241-251`)
* draft3 ``enum`` exact numeric equality on the Catalyst path
  (`jesse_validator_draft3.erl:785-795`)
* ``schema_unsupported`` rejection (`jesse_schema_validator.erl:86-87`,
  mirrored from `test/jesse_schema_validator_tests.erl:180-191`)
* ``parser_fun`` hook (`jesse.erl:63,183-192`)
* error handler / violation sink (`jesse.erl:140`,
  `jesse_state.erl:103-107`, `jesse_error.erl:75-79`)
* row-gate vs violations drift guard
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sparkjesse import errors as E
from sparkjesse.compiler import compile_plan, is_vetted_pattern
from sparkjesse.engine import ValidationEngine
from sparkjesse.pyvalidator import (
    ViolationsAborted, jesse_error_handler, validate_value,
)


# ---------------------------------------------------------------------------
# pattern vetting
# ---------------------------------------------------------------------------

VETTED = [
    "^src[0-9]$", "a{2,4}b?", "(?:ab|cd)+x*", r"\d+\.\w\s", "^[a-z ]+$",
    r"foo\.bar", "[^0-9A-F-]", "a|b|", r"colou?r", r"\bword\b",
    "x{3}", "x{3,}?", "[]a]b",
]
NON_VETTED = [
    r"ab\Z",          # Python: absolute end; Java: before final terminator
    r"\Aab",          # one-sided anchor family — keep off rlike wholesale
    "(?i)abc",        # inline flags: scoping diverges mid-pattern
    "a*+b",           # possessive quantifier (Java; Python only >=3.11)
    "a{2,4}+",        # possessive interval
    "[[:alpha:]]+",   # POSIX class: Java has none
    "[a[b]]",         # nested class: Java union vs Python literal
    "[a&&[b]]",       # Java-only class intersection
    "a{b}",           # bare brace: Python literal, Java syntax error
    "ab(?=c)",        # lookahead — conservative reject
    r"(a)\1",         # backreference
    r"\p{Alpha}",     # property names differ
    "[abc",           # unbalanced class
    "trailing\\",     # dangling escape
]


@pytest.mark.parametrize("p", VETTED)
def test_vetted_patterns(p):
    assert is_vetted_pattern(p), p


@pytest.mark.parametrize("p", NON_VETTED)
def test_non_vetted_patterns(p):
    assert not is_vetted_pattern(p), p


def test_scalar_nonvetted_pattern_routes_to_kernel_udf(spark):
    r"""``ab\Z`` on a string column: Java rlike and Python re genuinely
    disagree on 'xab\n' — the engine must produce Python-``re``
    (= PCRE kernel) semantics on the Catalyst leg too, via the pattern
    pandas UDF."""
    # prove the divergence is real in this Spark version
    div = spark.range(1).select(
        F.lit("xab\n").rlike("ab\\Z").alias("java")).collect()[0]["java"]
    assert div is True, "Java \\Z matches before a final newline"

    df = spark.createDataFrame(
        [(1, "xab"), (2, "xab\n"), (3, "zz")], "doc_id long, s string")
    schema = {"type": "object", "properties": {"s": {"pattern": r"ab\Z"}}}
    res = ValidationEngine().validate(df, schema)
    got = {r["doc_id"]: r["valid"]
           for r in res.annotated.select("doc_id", "valid").collect()}
    assert got == {1: True, 2: False, 3: False}
    # kernel agreement, row by row
    for sval, expect in [("xab", True), ("xab\n", False), ("zz", False)]:
        assert (not validate_value(schema, {"s": sval},
                                   default_draft=E.DRAFT4)) == expect
    # and the plan really does carry the Arrow-batched UDF
    plan = res.annotated._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan


def test_inline_flag_pattern_agrees_with_kernel(spark):
    df = spark.createDataFrame(
        [(1, "ABC"), (2, "abc"), (3, "zzz")], "doc_id long, s string")
    schema = {"type": "object", "properties": {"s": {"pattern": "(?i)abc"}}}
    res = ValidationEngine().validate(df, schema)
    got = {r["doc_id"]: r["valid"]
           for r in res.annotated.select("doc_id", "valid").collect()}
    assert got == {1: True, 2: True, 3: False}


def test_lambda_nonvetted_pattern_falls_back_to_kernel_plan(spark):
    """A non-vetted pattern INSIDE an array-items schema cannot use a
    pandas UDF (lambda variables) — the engine transparently validates
    the whole row through the kernel over to_json, same verdicts."""
    df = spark.createDataFrame(
        [Row(doc_id=1, spans=[Row(kind="text"), Row(kind="TEXT")]),
         Row(doc_id=2, spans=[Row(kind="audio")])])
    schema = {
        "type": "object",
        "properties": {
            "spans": {"items": {"type": "object",
                                "properties": {
                                    "kind": {"pattern": "(?i)^text$"}}}},
        },
    }
    res = ValidationEngine().validate(df, schema)
    got = {r["doc_id"]: r["valid"]
           for r in res.annotated.select("doc_id", "valid").collect()}
    assert got == {1: True, 2: False}
    plan = res.annotated._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan  # kernel fallback engaged
    # violation path still carries the per-element pointer
    v = res.violations.collect()
    assert [(r["doc_id"], r["path"]) for r in v] == [(2, "/spans/0/kind")]


def test_vetted_pattern_stays_jvm_side(spark):
    df = spark.createDataFrame([(1, "src1")], "doc_id long, s string")
    res = ValidationEngine().validate(
        df, {"type": "object",
             "properties": {"s": {"pattern": "^src[0-9]$"}}})
    plan = res.annotated._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_vetted_metachars_align_with_python_on_cr_text(spark):
    r"""Bare `.` and `$` in a VETTED pattern must carry Python-re
    semantics on \r-bearing text (common in crawled corpora): Java
    alone treats \r/U+0085/U+2028 as line terminators, so rlike('a.c')
    misses 'a\rc' and rlike('foo$') accepts 'foo\r' — the (?dU) prefix
    (compiler.java_vetted_pattern) restores PCRE behavior while staying
    JVM-side."""
    import re as _re

    from sparkjesse.compiler import java_vetted_pattern
    cases = [  # (pattern, value)
        ("a.c", "a\rc"), ("a.c", "a c"), ("a.c", "a\nc"),
        ("foo$", "foo\r"), ("foo$", "foo\r\n"), ("foo$", "foo\n"),
        ("^x.", "x"), ("x.$", "xe\r"),
        (r"\d+", "١٢"), (r"\s", "a b"),
        (r"\s", "a c"),
    ]
    rows = [(i, p, v) for i, (p, v) in enumerate(cases)]
    df = spark.createDataFrame(rows, "i long, p string, v string")
    got = {}
    for i, (p, v) in enumerate(cases):
        schema = {"type": "object", "properties": {"v": {"pattern": p}}}
        res = ValidationEngine().validate(
            df.where(F.col("i") == i).select("i", "v"), schema,
            doc_id_col="i")
        plan = res.annotated._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, f"{p!r} left the JVM"
        got[i] = res.annotated.select("valid").collect()[0]["valid"]
    for i, (p, v) in enumerate(cases):
        assert got[i] == bool(_re.search(p, v)), (p, ascii(v))
        # and the raw Java pattern really would diverge without the fix
        # for the core '.'/'$' cases
    raw = spark.range(1).select(
        F.lit("a\rc").rlike("a.c").alias("dot"),
        F.lit("foo\r").rlike("foo$").alias("dollar"),
        F.lit("a\rc").rlike(java_vetted_pattern("a.c")).alias("dot_fixed"),
        F.lit("foo\r").rlike(java_vetted_pattern("foo$")).alias(
            "dollar_fixed")).collect()[0]
    assert raw["dot"] is False and raw["dot_fixed"] is True
    assert raw["dollar"] is True and raw["dollar_fixed"] is False


def test_known_residual_divergences(spark):
    r"""The two DOCUMENTED residual gaps of the (?dU) alignment
    (compiler.JAVA_VETTED_PREFIX): Python \w includes No/Nl
    alphanumerics ('²') and Python \s includes U+001C..U+001F, which
    Java excludes even under (?U). Pinned so a Spark/JDK upgrade that
    closes (or widens) the gap is noticed."""
    import re as _re

    from sparkjesse.compiler import java_vetted_pattern
    row = spark.range(1).select(
        F.lit("²").rlike(java_vetted_pattern(r"\w")).alias("w_no"),
        F.lit("\x1c").rlike(java_vetted_pattern(r"\s")).alias("s_sep"),
    ).collect()[0]
    assert bool(_re.search(r"\w", "²")) is True and row["w_no"] is False
    assert bool(_re.search(r"\s", "\x1c")) is True and row["s_sep"] is False


# ---------------------------------------------------------------------------
# draft3 enum exact numeric equality (Erlang =:=)
# ---------------------------------------------------------------------------

def test_draft3_enum_exact_numeric_on_double_column(spark):
    """A double column holding 1.0 must FAIL ``enum: [1]`` under draft3
    (1 =:= 1.0 is false) — and the kernel agrees."""
    df = spark.createDataFrame([(1, 1.0), (2, 2.5)], "doc_id long, x double")
    res3 = ValidationEngine().validate(
        df, {"type": "object", "properties": {"x": {"enum": [1, 2.5]}}},
        draft=E.DRAFT3)
    got = {r["doc_id"]: r["valid"]
           for r in res3.annotated.select("doc_id", "valid").collect()}
    assert got == {1: False, 2: True}
    # kernel parity (json 1.0 is a Python float)
    assert validate_value({"enum": [1, 2.5]}, 1.0,
                          default_draft=E.DRAFT3) != []
    assert validate_value({"enum": [1, 2.5]}, 2.5,
                          default_draft=E.DRAFT3) == []
    # draft4 keeps JSON numeric equality: 1.0 == 1
    res4 = ValidationEngine().validate(
        df, {"type": "object", "properties": {"x": {"enum": [1, 2.5]}}},
        draft=E.DRAFT4)
    got4 = {r["doc_id"]: r["valid"]
            for r in res4.annotated.select("doc_id", "valid").collect()}
    assert got4 == {1: True, 2: True}


def test_draft3_enum_int_column_vs_float_member(spark):
    df = spark.createDataFrame([(1, 1), (2, 3)], "doc_id long, x long")
    res = ValidationEngine().validate(
        df, {"type": "object", "properties": {"x": {"enum": [1.0, 3]}}},
        draft=E.DRAFT3)
    got = {r["doc_id"]: r["valid"]
           for r in res.annotated.select("doc_id", "valid").collect()}
    # 1 (int) =:= 1.0 (float) is false; 3 matches the int member
    assert got == {1: False, 2: True}


# ---------------------------------------------------------------------------
# schema_unsupported
# ---------------------------------------------------------------------------

def test_unknown_schema_uri_is_rejected(spark):
    """Mirror of test/jesse_schema_validator_tests.erl:180-191: an
    unrecognized $schema must refuse, not silently validate with the
    default draft."""
    df = spark.createDataFrame([(1, "x")], "doc_id long, s string")
    schema = {"$schema": "http://json-schema.org/draft-06/schema#",
              "type": "object", "properties": {"s": {"minLength": 1}}}
    with pytest.raises(E.SchemaUnsupported):
        ValidationEngine().validate(df, schema)
    # kernel surface: schema_invalid violation with the atom
    viols = validate_value(schema, {"s": "x"}, default_draft=E.DRAFT3)
    assert [(v.error_kind, v.error_type) for v in viols] == \
        [(E.SCHEMA_INVALID, E.SCHEMA_UNSUPPORTED)]
    # an explicit draft override still works (caller takes responsibility)
    res = ValidationEngine().validate(df, schema, draft=E.DRAFT4)
    assert res.totals()["pass"] == 1


# ---------------------------------------------------------------------------
# parser_fun
# ---------------------------------------------------------------------------

def _kv_parser(raw: str) -> dict:
    out = {}
    for part in raw.split(","):
        k, _, v = part.partition("=")
        if not _:
            raise ValueError(f"bad pair {part!r}")
        out[k] = int(v) if v.lstrip("-").isdigit() else v
    return out


def test_parser_fun_custom_and_parse_error(spark):
    df = spark.createDataFrame(
        [("d1", "k=3"), ("d2", "k=99"), ("d3", "garbage")],
        "doc_id string, doc string")
    schema = {"type": "object", "required": ["k"],
              "properties": {"k": {"type": "integer", "maximum": 50}}}
    res = ValidationEngine().validate_json(df, "doc", schema,
                                           parser=_kv_parser)
    rows = {r["doc_id"]: (r["valid"],
                          [v["error_type"] for v in r["violations"]])
            for r in res.annotated.select("doc_id", "valid",
                                          "violations").collect()}
    assert rows["d1"] == (True, [])
    assert rows["d2"] == (False, [E.NOT_IN_RANGE])
    assert rows["d3"] == (False, ["parse_error"])


# ---------------------------------------------------------------------------
# error handler / violation sink
# ---------------------------------------------------------------------------

def test_jesse_error_handler_fail_fast_and_budget():
    schema = {"type": "object",
              "properties": {"a": {"type": "integer"},
                             "b": {"type": "integer"},
                             "c": {"type": "integer"}}}
    bad = {"a": "x", "b": "y", "c": "z"}
    # budget 0 (jesse default): first violation aborts and is reported
    v0 = validate_value(schema, bad, default_draft=E.DRAFT3,
                        max_errors=0, error_handler=jesse_error_handler)
    assert len(v0) == 1
    # budget 2: accumulate 2, abort with the 3rd appended (jesse
    # appends the offending error to the thrown list)
    v2 = validate_value(schema, bad, default_draft=E.DRAFT3,
                        max_errors=2, error_handler=jesse_error_handler)
    assert len(v2) == 3
    # infinity: collect all
    vi = validate_value(schema, bad, default_draft=E.DRAFT3,
                        max_errors="infinity",
                        error_handler=jesse_error_handler)
    assert len(vi) == 3


def test_custom_error_handler_transforms_accumulation():
    seen = []

    def keep_only_paths(violation, acc, allowed):
        seen.append(violation.error_type)
        return acc + [violation]

    schema = {"type": "object", "properties": {"a": {"minimum": 5}}}
    out = validate_value(schema, {"a": 1}, default_draft=E.DRAFT3,
                         error_handler=keep_only_paths)
    assert seen == [E.NOT_IN_RANGE]
    assert len(out) == 1


def test_custom_error_handler_can_abort():
    def abort_immediately(violation, acc, allowed):
        raise ViolationsAborted([violation])

    schema = {"type": "object",
              "properties": {"a": {"minimum": 5}, "b": {"minimum": 5}}}
    out = validate_value(schema, {"a": 1, "b": 1}, default_draft=E.DRAFT3,
                         error_handler=abort_immediately)
    assert len(out) == 1


def test_violation_sink_receives_relation(spark):
    df = spark.createDataFrame([(1, "en"), (2, "xx")],
                               "doc_id long, lang string")
    captured = []
    res = ValidationEngine().validate(
        df, {"type": "object",
             "properties": {"lang": {"enum": ["en"]}}},
        violation_sink=lambda v: captured.append(v))
    assert len(captured) == 1
    assert captured[0].count() == 1
    assert res.totals()["fail"] == 1
    # single evaluation: the engine persists the annotated frame so the
    # sink's consumption and the caller's later use share one run
    assert res.annotated.storageLevel.useMemory
    res.annotated.unpersist()


def test_max_violations_budget_zero_keeps_valid_flag(spark):
    df = spark.createDataFrame([(1, "xx")], "doc_id long, lang string")
    res = ValidationEngine().validate(
        df, {"type": "object", "properties": {"lang": {"enum": ["en"]}}},
        max_violations_per_doc=0)
    row = res.annotated.select("valid", F.size("violations").alias("n")) \
                       .collect()[0]
    assert row["valid"] is False and row["n"] == 0


# ---------------------------------------------------------------------------
# registry validate_fn
# ---------------------------------------------------------------------------

def test_load_dir_validation_fun(tmp_path):
    from sparkjesse.registry import SchemaRegistry
    (tmp_path / "good.json").write_text('{"id": "g", "type": "object"}')
    (tmp_path / "bad.json").write_text('{"id": "b", "type": "bogus"}')
    reg = SchemaRegistry()
    failures = reg.load_dir(
        str(tmp_path),
        validate_fn=lambda s: s.get("type") in ("object", "array"))
    assert "g" in reg and "b" not in reg
    assert len(failures) == 1 and failures[0][0].endswith("bad.json")


# ---------------------------------------------------------------------------
# row-gate drift guard (fast path must agree with the violation path)
# ---------------------------------------------------------------------------

def test_row_gate_equals_no_violations(spark):
    """For every typed scenario: the short-circuit gate's truth must
    equal size(violations)==0 computed WITHOUT the gate — predicate/
    checks drift fails here instead of silently suppressing
    violations."""
    from sparkjesse.generator import INTERLEAVED_SCHEMA, \
        interleaved_documents

    docs = interleaved_documents(spark, 300, seed=7)
    broken = docs.withColumn(
        "spans",
        F.transform("spans", lambda s: F.struct(
            F.when(F.lit(True), F.lit("blob")).alias("kind"),
            s.getField("text").alias("text"),
            s.getField("media_ref").alias("media_ref"),
            F.lit(-5).alias("offset"))))
    mixed = spark.createDataFrame(
        [Row(doc_id=1, lang="en", n=4, tags=["a", "b"]),
         Row(doc_id=2, lang="zz", n=-1, tags=["a", "a"]),
         Row(doc_id=3, lang=None, n=None, tags=None)])
    mixed_schema = {
        "type": "object",
        "properties": {
            "lang": {"enum": ["en", "de"], "required": True},
            "n": {"minimum": 0, "divisibleBy": 2},
            "tags": {"minItems": 1, "uniqueItems": True,
                     "items": {"type": "string", "pattern": "^[a-z]$"}},
        },
    }
    cases = [
        (INTERLEAVED_SCHEMA, docs, E.DRAFT4),
        (INTERLEAVED_SCHEMA, broken, E.DRAFT4),
        (mixed_schema, mixed, E.DRAFT3),
    ]
    for schema, df, draft in cases:
        plan = compile_plan(schema, df.schema, draft=draft)
        assert plan.row_gate is not None, "gate should compile here"
        gate = F.coalesce(plan.row_gate, F.lit(True))
        plan.row_gate = None  # violations WITHOUT the short circuit
        out = df.select(gate.alias("g"),
                        (F.size(plan.violations_column()) == 0).alias("v"))
        drift = out.where(F.col("g") != F.col("v")).count()
        assert drift == 0, (schema, draft)


# ---------------------------------------------------------------------------
# default_draft accepts jesse-style $schema URIs
# ---------------------------------------------------------------------------

def test_default_draft_accepts_schema_uri():
    """jesse's ``default_schema_ver`` option is the $schema URI binary
    (`jesse.erl:63`); passing that URI as ``default_draft`` must select
    the matching semantics — before normalization it silently compared
    unequal to the internal atom and fell through to draft-4, dropping
    draft-3-only keywords like ``extends``."""
    schema = {"type": "object",
              "extends": {"properties": {"b": {"minLength": 2}}}}
    uri = E.DRAFT3_URI + "#"
    errs = validate_value(schema, {"b": "x"}, default_draft=uri)
    assert [(e.error_type, e.path) for e in errs] == [("wrong_length", "/b")]
    eng = ValidationEngine(default_draft=uri)
    assert eng.default_draft == E.DRAFT3
    assert E.normalize_draft(E.DRAFT4_URI) == E.DRAFT4
    with pytest.raises(ValueError):
        E.normalize_draft("http://json-schema.org/draft-06/schema#")


def test_plan_cache_reuses_and_invalidates(spark, monkeypatch):
    """Repeat validations with an unchanged (schema, struct, draft,
    registry) reuse the compiled Column tree (thousands of py4j round
    trips saved per micro-batch / per table); mutating the registry
    invalidates, since $ref targets may have changed."""
    from sparkjesse import engine as engmod

    calls = {"n": 0}
    real = engmod.compile_plan

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(engmod, "compile_plan", counting)
    df = spark.createDataFrame([(1, 5)], "doc_id long, n long")
    schema = {"$schema": "http://json-schema.org/draft-04/schema#",
              "type": "object",
              "properties": {"n": {"minimum": 3}}}
    eng = engmod.ValidationEngine()
    assert eng.validate(df, schema).annotated.count() == 1
    n_first = calls["n"]
    assert eng.validate(df, schema).annotated.count() == 1
    assert calls["n"] == n_first  # cache hit: no recompile
    eng.add_schema("unrelated", {"type": "object"})  # registry rev bump
    assert eng.validate(df, schema).annotated.count() == 1
    assert calls["n"] == n_first + 1  # invalidated, recompiled once


def test_plan_cache_keyed_on_registry_content(spark, monkeypatch):
    """The cache key holds the registry's content, not its identity: a
    fresh engine over an equal registry reuses the plan, and a registry
    whose $ref target differs never gets it — an ``id()`` key would
    serve it whenever the address was recycled."""
    from sparkjesse import engine as engmod
    from sparkjesse.registry import SchemaRegistry

    calls = {"n": 0}
    real = engmod.compile_plan

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(engmod, "compile_plan", counting)
    df = spark.createDataFrame([(1, 5)], "doc_id long, n long")
    schema = {"$schema": "http://json-schema.org/draft-04/schema#",
              "type": "object",
              "properties": {"n": {"$ref": "limits#/floor"}}}

    def valid(minimum: int) -> bool:
        reg = SchemaRegistry()
        reg.add("limits", {"floor": {"minimum": minimum}})
        res = engmod.ValidationEngine(registry=reg).validate(df, schema)
        return res.annotated.first()["valid"]

    assert valid(3) is True
    n_first = calls["n"]
    assert valid(3) is True
    assert calls["n"] == n_first  # equal registry: cache hit
    assert valid(9) is False
    assert calls["n"] == n_first + 1  # other $ref target: miss


def test_validate_multi_one_scan_no_joins(spark):
    """N schemas over one table = N verdict columns on ONE projection:
    correct verdicts, and the physical plan has no Join/Exchange."""
    from sparkjesse.engine import ValidationEngine
    df = spark.createDataFrame(
        [(1, 6, "ok"), (2, 7, "no")], "doc_id long, n long, s string")
    out = ValidationEngine().validate_multi(
        df,
        {"even": {"$schema": "http://json-schema.org/draft-04/schema#",
                  "type": "object",
                  "properties": {"n": {"multipleOf": 2}}},
         "pat": {"$schema": "http://json-schema.org/draft-04/schema#",
                 "type": "object",
                 "properties": {"s": {"pattern": "^o"}}}})
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["even_valid"] is True and rows[1]["pat_valid"] is True
    assert rows[2]["even_valid"] is False and rows[2]["pat_valid"] is False
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan[:2000]
