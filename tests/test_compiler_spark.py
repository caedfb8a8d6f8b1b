"""Catalyst compiler: typed-column validation parity with the pure-Python
kernel, plan-shape assertions (no Python in the hot path), and pointer-path
checks for array elements."""

from __future__ import annotations

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, StringType, StructField, StructType,
)

from sparkjesse import errors as E
from sparkjesse.engine import ValidationEngine


DOC_SCHEMA = {
    "type": "object",
    "properties": {
        "lang": {"type": "string", "enum": ["en", "de", "fr"],
                 "required": True},
        "n_chars": {"type": "integer", "minimum": 1, "maximum": 100000},
        "text": {"type": "string", "minLength": 3, "pattern": "[A-Za-z]"},
    },
}


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        Row(doc_id=1, lang="en", n_chars=42, text="hello world"),
        Row(doc_id=2, lang="xx", n_chars=0, text="!!"),       # 3 violations
        Row(doc_id=3, lang=None, n_chars=7, text="ok text"),  # missing lang
        Row(doc_id=4, lang="de", n_chars=None, text=None),    # nulls pass
    ]
    return spark.createDataFrame(rows)


def test_typed_column_validation(docs_df):
    eng = ValidationEngine(default_draft=E.DRAFT3)
    res = eng.validate(docs_df, DOC_SCHEMA, draft=E.DRAFT3)
    got = {r["doc_id"]: r["valid"]
           for r in res.annotated.select("doc_id", "valid").collect()}
    assert got == {1: True, 2: False, 3: False, 4: True}

    viols = res.violations.collect()
    by_doc = {}
    for r in viols:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["error_type"], r["path"], r["detail"]))
    assert sorted(by_doc[2]) == [
        (E.NO_MATCH, "/text", ""),           # pattern
        (E.NOT_IN_RANGE, "/lang", ""),       # enum
        (E.NOT_IN_RANGE, "/n_chars", ""),    # minimum
        (E.WRONG_LENGTH, "/text", ""),       # minLength
    ]
    assert by_doc[3] == [(E.MISSING_REQUIRED_PROPERTY, "", "lang")]


def test_matches_pyvalidator_verdicts(docs_df):
    """Cross-check the Catalyst path against the pure-Python kernel on the
    same rows — one engine, two execution strategies, same answers."""
    eng = ValidationEngine(default_draft=E.DRAFT3)
    res = eng.validate(docs_df, DOC_SCHEMA, draft=E.DRAFT3)
    spark_verdicts = {r["doc_id"]: r["valid"]
                      for r in res.annotated.select("doc_id", "valid").collect()}
    for row in docs_df.collect():
        doc = {k: v for k, v in row.asDict().items()
               if k != "doc_id" and v is not None}
        local = not eng.validate_value(DOC_SCHEMA, doc)
        assert local == spark_verdicts[row["doc_id"]], row


def test_no_python_in_plan(docs_df):
    """The typed path must stay JVM-side: no BatchEvalPython / ArrowEval
    nodes, and the scan must prune to the referenced columns."""
    eng = ValidationEngine(default_draft=E.DRAFT3)
    res = eng.validate(docs_df, DOC_SCHEMA, draft=E.DRAFT3)
    plan = res.annotated._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_array_element_paths(spark):
    schema = {
        "type": "object",
        "properties": {
            "spans": {
                "type": "array",
                "minItems": 1,
                "items": {
                    "type": "object",
                    "properties": {
                        "kind": {"type": "string",
                                 "enum": ["text", "image", "audio", "video"],
                                 "required": True},
                        "offset": {"type": "integer", "minimum": 0},
                    },
                },
            },
        },
    }
    stype = StructType([
        StructField("doc_id", LongType()),
        StructField("spans", ArrayType(StructType([
            StructField("kind", StringType()),
            StructField("offset", IntegerType()),
        ]))),
    ])
    df = spark.createDataFrame([
        (1, [("text", 0), ("image", 5)]),
        (2, [("text", 0), ("blob", -3)]),
        (3, []),
    ], stype)
    eng = ValidationEngine(default_draft=E.DRAFT3)
    res = eng.validate(df, schema, draft=E.DRAFT3)
    rows = {r["doc_id"]: r for r in res.annotated.collect()}
    assert rows[1]["valid"] is True
    assert rows[3]["valid"] is False  # minItems
    got = sorted((v["error_type"], v["path"]) for v in rows[2]["violations"])
    assert got == [
        (E.NOT_IN_RANGE, "/spans/1/kind"),
        (E.NOT_IN_RANGE, "/spans/1/offset"),
    ]


def test_draft4_composites(spark):
    schema = {
        "$schema": "http://json-schema.org/draft-04/schema#",
        "properties": {
            "v": {"anyOf": [{"type": "integer", "minimum": 10},
                            {"type": "integer", "maximum": 0}]},
            "w": {"not": {"minimum": 5}},
            "x": {"oneOf": [{"minimum": 3}, {"maximum": 10}]},
            "m": {"multipleOf": 3},
        },
        "required": ["v"],
    }
    df = spark.createDataFrame(
        [(1, 12, 1, 1, 9), (2, 5, 7, 5, 7), (3, None, None, None, None)],
        "doc_id long, v long, w long, x long, m long")
    eng = ValidationEngine()
    res = eng.validate(df, schema)
    rows = {r["doc_id"]: r for r in res.annotated.collect()}
    assert rows[1]["valid"] is True
    # doc2: v=5 fails anyOf, w=7 fails not, x=5 passes both branches of
    # oneOf (fails), m=7 not multiple of 3
    got = sorted((v["error_type"], v["path"]) for v in rows[2]["violations"])
    assert got == [
        (E.ANY_SCHEMAS_NOT_VALID, "/v"),
        (E.NOT_DIVISIBLE, "/m"),
        (E.NOT_ONE_SCHEMA_VALID, "/x"),
        (E.NOT_SCHEMA_VALID, "/w"),
    ]
    # doc3: nulls pass everything except required v
    got3 = sorted((v["error_type"], v["detail"]) for v in rows[3]["violations"])
    assert got3 == [(E.MISSING_REQUIRED_PROPERTY, "v")]


def test_ref_resolution_at_compile_time(spark):
    eng = ValidationEngine()
    eng.add_schema("https://ex/defs.json",
                   {"positive": {"type": "integer", "minimum": 1}})
    schema = {
        "definitions": {"name": {"type": "string", "minLength": 2}},
        "properties": {
            "n": {"$ref": "https://ex/defs.json#/positive"},
            "s": {"$ref": "#/definitions/name"},
        },
    }
    df = spark.createDataFrame([(1, 5, "ok"), (2, 0, "x")],
                               "doc_id long, n long, s string")
    res = eng.validate(df, schema)
    rows = {r["doc_id"]: r for r in res.annotated.collect()}
    assert rows[1]["valid"] is True
    got = sorted((v["error_type"], v["path"]) for v in rows[2]["violations"])
    assert got == [(E.NOT_IN_RANGE, "/n"), (E.WRONG_LENGTH, "/s")]


def test_summary_per_partition(docs_df):
    eng = ValidationEngine(default_draft=E.DRAFT3)
    res = eng.validate(docs_df, DOC_SCHEMA, draft=E.DRAFT3)
    total = res.summary.agg(
        F.sum("docs").alias("d"), F.sum("pass").alias("p"),
        F.sum("fail").alias("f")).collect()[0]
    assert (total["d"], total["p"], total["f"]) == (4, 2, 2)
    assert res.totals() == {"docs": 4, "pass": 2, "fail": 2}


@pytest.mark.parametrize("ch", ["a", "é", "€", "😀"])  # 1-4 UTF-8 bytes
@pytest.mark.parametrize("draft", [E.DRAFT3, E.DRAFT4])
def test_max_length_counts_characters_not_bytes(spark, ch, draft):
    """``maxLength`` compiles to ``octet_length <= n OR length <= n``.
    With multibyte characters a string of n or n+1 characters has more
    than n bytes, so the character count decides; typed-path verdicts
    and violations must equal the kernel's, including NULL and ''."""
    n = 4
    schema = {"type": "object",
              "properties": {"s": {"type": "string", "maxLength": n}}}
    values = {1: ch * n, 2: ch * (n + 1), 3: None, 4: "",
              5: "a" * (n - 1) + ch, 6: ch + "a" * n}
    df = spark.createDataFrame(list(values.items()),
                               "doc_id long, s string")
    eng = ValidationEngine(default_draft=draft)
    res = eng.validate(df, schema, draft=draft)
    got = {r["doc_id"]: (r["valid"], sorted(
        (v["error_type"], v["path"]) for v in r["violations"]))
        for r in res.annotated.collect()}
    for doc_id, s in values.items():
        doc = {} if s is None else {"s": s}
        errs = eng.validate_value(schema, doc, default_draft=draft)
        assert got[doc_id] == (not errs, sorted(
            (e.error_type, e.path) for e in errs)), (doc_id, s)
    assert [d for d, (ok, _) in sorted(got.items()) if not ok] == [2, 6]


@pytest.mark.parametrize("schema,draft", [
    ({"type": "string"}, E.DRAFT4),
    ({"type": "array", "items": {"type": "integer"}, "minItems": 1},
     E.DRAFT4),
    ({"type": ["string", "null"]}, E.DRAFT3),
    ({"type": "object", "properties": {"n_chars": {"type": "integer"}}},
     E.DRAFT4),
], ids=["string", "array", "string-or-null", "object"])
def test_root_type_checked_on_typed_path(docs_df, schema, draft):
    """The root ``type`` applies to the row itself (an object): the
    typed path reports what the JSON kernel reports over the same
    rows, and a root ``"object"`` leaves every row valid."""
    eng = ValidationEngine(default_draft=draft)
    typed = eng.validate(docs_df, schema, draft=draft).annotated
    jdf = docs_df.withColumn(
        "j", F.to_json(F.struct(*[F.col(c) for c in docs_df.columns])))
    kernel = eng.validate_json(jdf, "j", schema, draft=draft).annotated

    def outcome(df):
        return {r["doc_id"]: sorted(
            (v["error_type"], v["path"], v["schema_ptr"])
            for v in r["violations"])
            for r in df.select("doc_id", "violations").collect()}

    got = outcome(typed)
    assert got == outcome(kernel)
    if schema["type"] == "object":
        assert not any(got.values())
    else:
        assert all(v == [(E.WRONG_TYPE, "", "/type")]
                   for v in got.values())
