"""Differential fuzzing of the Catalyst schema compiler against the
Python kernel.

The 388-fixture conformance corpus pins each keyword mostly in
isolation; this suite covers the COMBINATORIAL space: seeded-random
draft3/draft4 schemas (keyword stacks per column type, combinators,
dependencies, tuple items, map patternProperties) over one fixed pool
of typed rows, every case executed through BOTH independent
implementations —

* the Catalyst expression compiler (``compile_plan`` — the typed
  DataFrame path), and
* the pure-Python kernel (``pyvalidator.validate_value`` — jesse's
  re-derived reference semantics, `jesse_validator_draft3.erl`),

asserting per-row verdict parity AND per-row violation-multiset parity
((error_type, path) pairs — `detail` differs by design: the kernel
reports offending values where the column path reports property names).

Schemas that the compiler rejects (CompileError → the engine would
fall back to the kernel, making the comparison vacuous) are skipped
and counted; the generator targets the vetted subset so the skip rate
stays low — asserted < 20%.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from sparkjesse import errors as E
from sparkjesse.compiler import CompileError, compile_plan
from sparkjesse.engine import ValidationEngine
from sparkjesse.pyvalidator import validate_value

SEED = 20260818
# per draft; the default keeps the routine suite fast — set
# SPARKJESSE_FUZZ_CASES=150 for the full sweep (still seeded)
N_CASES = int(os.environ.get("SPARKJESSE_FUZZ_CASES", "40"))

# ---------------------------------------------------------------------------
# fixed typed-row pool (shared by every case — one cached DataFrame)
# ---------------------------------------------------------------------------

ROW_SCHEMA = ("doc_id long, i long, d double, s string, "
              "ls array<long>, ss array<string>, "
              "st struct<a:long, b:string>, m map<string,long>, "
              "sa array<struct<x:long, y:string>>")

I_POOL = [None, 0, 1, -1, 2, 3, 5, 7, 10, 100]
D_POOL = [None, 0.0, 1.0, 1.5, -2.5, 3.0, 10.0, 0.1]
S_POOL = [None, "", "a", "abc", "hello world", "Foo", "123",
          "abcabcabc", "xxxxxxxxxxxx"]
LS_POOL = [None, [], [1], [1, 2, 3], [1, 1, 2], [5, 5], [0, -1, 7],
           [2, 4, 6, 8]]
SS_POOL = [None, [], ["a"], ["a", "b"], ["a", "a"], ["abc", "de"], [""]]
ST_POOL = [None, {"a": 1, "b": "x"}, {"a": None, "b": "y"},
           {"a": 5, "b": None}, {"a": -3, "b": "abc"}]
M_POOL = [None, {}, {"k1": 1}, {"k1": 1, "k2": 2}, {"zz": 9},
          {"k3": -1, "k1": 4}]
SA_POOL = [None, [], [{"x": 1, "y": "a"}], [{"x": 5, "y": None}],
           [{"x": 1, "y": "a"}, {"x": -2, "y": "bb"}],
           [{"x": None, "y": "c"}, {"x": 3, "y": "a"}]]


def _make_rows():
    rng = random.Random(SEED ^ 0x5EED)
    rows = []
    for doc_id in range(48):
        rows.append((
            doc_id,
            rng.choice(I_POOL), rng.choice(D_POOL), rng.choice(S_POOL),
            rng.choice(LS_POOL), rng.choice(SS_POOL),
            rng.choice(ST_POOL), rng.choice(M_POOL),
            rng.choice(SA_POOL),
        ))
    return rows


def _clean(v):
    """Strip SQL NULLs recursively: NULL field/element means ABSENT
    (matches ``to_json``, which omits null fields)."""
    if isinstance(v, dict):
        return {k: _clean(x) for k, x in v.items() if x is not None}
    if isinstance(v, list):
        return [_clean(x) for x in v]
    return v


def _doc_of(row: dict):
    """Typed row → kernel JSON doc under the engine convention."""
    return {k: _clean(v) for k, v in row.items()
            if k != "doc_id" and v is not None}


# ---------------------------------------------------------------------------
# schema generator
# ---------------------------------------------------------------------------

VETTED_PATTERNS = ["a", "^a", "c$", "[a-z]+", "^[A-Z]", "b.c", "^$",
                   "lo wo", "\\d\\d", "[0-9]+$", "ab+c?"]


def _int_constraints(rng, draft):
    out = {}
    if rng.random() < 0.7:
        out["type"] = rng.choice(
            ["integer", "number", "any",
             ["integer", "string"], ["number", "boolean"]]
            if draft == E.DRAFT3 else
            ["integer", "number", ["integer", "string"]])
    if rng.random() < 0.5:
        out["minimum"] = rng.choice([-1, 0, 1, 2, 5, 7])
        if rng.random() < 0.3:
            out["exclusiveMinimum"] = (True if draft == E.DRAFT4
                                       else rng.choice([True, False]))
    if rng.random() < 0.5:
        out["maximum"] = rng.choice([0, 3, 5, 10, 100])
        if rng.random() < 0.3:
            out["exclusiveMaximum"] = (True if draft == E.DRAFT4
                                       else rng.choice([True, False]))
    if rng.random() < 0.3:
        key = "divisibleBy" if draft == E.DRAFT3 else "multipleOf"
        out[key] = rng.choice([1, 2, 3, 0.5, 1.5])
    if rng.random() < 0.2:
        out["enum"] = rng.sample([0, 1, 2, 3, 5, 7, 10], k=rng.randint(2, 4))
    return out


def _num_constraints(rng, draft):
    out = {"type": "number"} if rng.random() < 0.7 else {}
    if rng.random() < 0.5:
        out["minimum"] = rng.choice([-2.5, 0.0, 0.1, 1.0, 1.5])
    if rng.random() < 0.5:
        out["maximum"] = rng.choice([0.0, 1.5, 3.0, 10.0])
    if rng.random() < 0.25:
        key = "divisibleBy" if draft == E.DRAFT3 else "multipleOf"
        out[key] = rng.choice([0.5, 1, 1.5])
    return out


def _str_constraints(rng, draft):
    out = {}
    if rng.random() < 0.7:
        out["type"] = "string"
    if rng.random() < 0.5:
        out["minLength"] = rng.randint(0, 4)
    if rng.random() < 0.5:
        out["maxLength"] = rng.randint(2, 9)
    if rng.random() < 0.5:
        out["pattern"] = rng.choice(VETTED_PATTERNS)
    if rng.random() < 0.2:
        out["enum"] = rng.sample(["a", "abc", "Foo", "123", "hello world"],
                                 k=rng.randint(2, 3))
    return out


def _arr_constraints(rng, draft, elem: str):
    out = {"type": "array"} if rng.random() < 0.8 else {}
    if rng.random() < 0.5:
        out["minItems"] = rng.randint(0, 3)
    if rng.random() < 0.5:
        out["maxItems"] = rng.randint(1, 5)
    if rng.random() < 0.4:
        out["uniqueItems"] = True
    r = rng.random()
    if r < 0.4:
        out["items"] = (_int_constraints(rng, draft) if elem == "long"
                        else _str_constraints(rng, draft))
    elif r < 0.55:
        # tuple form + additionalItems
        mk = (lambda: _int_constraints(rng, draft)) if elem == "long" \
            else (lambda: _str_constraints(rng, draft))
        out["items"] = [mk() for _ in range(rng.randint(1, 2))]
        out["additionalItems"] = rng.choice([True, False, mk()])
    return out


def _struct_constraints(rng, draft):
    props = {}
    if rng.random() < 0.8:
        pa = _int_constraints(rng, draft)
        if draft == E.DRAFT3 and rng.random() < 0.4:
            pa["required"] = True
        props["a"] = pa
    if rng.random() < 0.8:
        props["b"] = _str_constraints(rng, draft)
    out = {"type": "object", "properties": props}
    if draft == E.DRAFT4 and rng.random() < 0.4 and props:
        out["required"] = rng.sample(list(props), k=1)
    # struct-typed patternProperties / additionalProperties resolve
    # key-matching at COMPILE time (static field names)
    if rng.random() < 0.3:
        out["patternProperties"] = {
            rng.choice(["^a", "b", "[ab]"]):
                (_int_constraints(rng, draft) if rng.random() < 0.5
                 else {"type": ["integer", "string"]})}
    if rng.random() < 0.25:
        out["additionalProperties"] = rng.choice(
            [False, {"type": "string", "maxLength": 3}])
        if "properties" in out and rng.random() < 0.5:
            out["properties"].pop(rng.choice(["a", "b"]), None)
    if draft == E.DRAFT3 and rng.random() < 0.25:
        ext = {"properties": {"a": {"maximum": 5}}}
        out["extends"] = ext if rng.random() < 0.5 else \
            [ext, {"properties": {"b": {"minLength": 1}}}]
    return out


def _struct_array_constraints(rng, draft):
    """array<struct> column: object schemas under ``items`` (single and
    tuple form) — per-element pointer paths through array_checks."""
    elem = {"type": "object", "properties": {}}
    if rng.random() < 0.8:
        ex = _int_constraints(rng, draft)
        if draft == E.DRAFT3 and rng.random() < 0.3:
            ex["required"] = True
        elem["properties"]["x"] = ex
    if rng.random() < 0.7:
        elem["properties"]["y"] = _str_constraints(rng, draft)
    if draft == E.DRAFT4 and rng.random() < 0.3 and elem["properties"]:
        elem["required"] = rng.sample(list(elem["properties"]), k=1)
    out = {"type": "array"}
    if rng.random() < 0.6:
        out["items"] = elem
    else:
        out["items"] = [elem]
        out["additionalItems"] = rng.choice([True, False, elem])
    if rng.random() < 0.4:
        out["minItems"] = rng.randint(0, 2)
    return out


def _map_constraints(rng, draft):
    out = {"type": "object"}
    if rng.random() < 0.6:
        out["patternProperties"] = {
            rng.choice(["^k", "k1", "^z", "[a-z]\\d"]):
                _int_constraints(rng, draft)}
    if rng.random() < 0.5:
        out["additionalProperties"] = rng.choice(
            [True, False, {"type": "integer",
                           "maximum": rng.choice([2, 5])}])
    if rng.random() < 0.3:
        out["minProperties" if rng.random() < 0.5
            else "maxProperties"] = rng.randint(0, 3)
    return out


def _combinator(rng, draft, base_gen):
    """Wrap two scalar constraint sets in a draft-appropriate
    combinator."""
    a, b = base_gen(), base_gen()
    if draft == E.DRAFT4:
        kw = rng.choice(["allOf", "anyOf", "oneOf", "not"])
        return {"not": a} if kw == "not" else {kw: [a, b]}
    # draft3: extends (conjunction) / disallow
    if rng.random() < 0.5:
        base = base_gen()
        base["extends"] = a
        return base
    return {"disallow": rng.choice(["string", "number", "array"])}


def gen_schema(rng: random.Random, draft: str) -> dict:
    props = {}
    if rng.random() < 0.9:
        c = _int_constraints(rng, draft)
        if rng.random() < 0.25:
            c = _combinator(rng, draft,
                            lambda: _int_constraints(rng, draft))
        props["i"] = c
    if rng.random() < 0.6:
        props["d"] = _num_constraints(rng, draft)
    if rng.random() < 0.9:
        c = _str_constraints(rng, draft)
        if rng.random() < 0.2:
            c = _combinator(rng, draft,
                            lambda: _str_constraints(rng, draft))
        props["s"] = c
    if rng.random() < 0.6:
        props["ls"] = _arr_constraints(rng, draft, "long")
    if rng.random() < 0.4:
        props["ss"] = _arr_constraints(rng, draft, "string")
    if rng.random() < 0.4:
        props["st"] = _struct_constraints(rng, draft)
    if rng.random() < 0.4:
        props["m"] = _map_constraints(rng, draft)
    if rng.random() < 0.4:
        props["sa"] = _struct_array_constraints(rng, draft)
    schema = {"type": "object", "properties": props}
    if rng.random() < 0.2 and "i" in props:
        # local $ref through definitions (compile-time deref on both
        # paths; draft4 ignores ref siblings)
        schema["definitions"] = {"ic": props["i"]}
        props["i"] = {"$ref": "#/definitions/ic"}
    if draft == E.DRAFT3:
        for p in list(props):
            if rng.random() < 0.2 and isinstance(props[p], dict) \
                    and "disallow" not in props[p]:
                props[p]["required"] = True
    else:
        if rng.random() < 0.3 and props:
            schema["required"] = rng.sample(
                list(props), k=rng.randint(1, min(2, len(props))))
    if rng.random() < 0.25 and "i" in props:
        dep = rng.random()
        if dep < 0.4:
            schema["dependencies"] = {"i": "s"}
        elif dep < 0.7:
            schema["dependencies"] = {"i": ["s", "d"]}
        else:
            schema["dependencies"] = {
                "i": {"properties": {"s": {"minLength": 2}}}}
    return schema


# ---------------------------------------------------------------------------
# the differential run
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("draft", [E.DRAFT3, E.DRAFT4])
def test_fuzz_catalyst_vs_kernel(spark, draft):
    rng = random.Random(SEED if draft == E.DRAFT3 else SEED + 1)
    rows = _make_rows()
    df = spark.createDataFrame(rows, ROW_SCHEMA).persist()
    df.count()
    docs = {r[0]: _doc_of(dict(zip(
        ["doc_id", "i", "d", "s", "ls", "ss", "st", "m", "sa"], r)))
        for r in rows}

    eng = ValidationEngine(default_draft=draft)
    skipped = 0
    mismatches = []
    gate_drift = []
    for case in range(N_CASES):
        schema = gen_schema(rng, draft)
        try:
            plan = compile_plan(schema, df.schema, draft=draft,
                                registry=eng.registry)
        except CompileError:
            skipped += 1  # engine would use the kernel — vacuous here
            continue
        # the row gate must agree with the violations built without it
        gate = F.coalesce(plan.row_gate, F.lit(True))
        plan.row_gate = None
        ungated_ok = F.size(plan.violations_column()) == 0
        res = eng.validate(df, schema, draft=draft)
        got = {}
        for r in res.annotated.select(
                "doc_id", "valid", "violations", gate.alias("gate"),
                ungated_ok.alias("ungated_ok")).collect():
            got[r["doc_id"]] = (
                r["valid"],
                sorted((v["error_type"], v["path"])
                       for v in r["violations"]))
            if r["gate"] != r["ungated_ok"]:
                gate_drift.append((case, r["doc_id"], schema))
        for doc_id, doc in docs.items():
            kv = validate_value(schema, doc, default_draft=draft)
            expect = (len(kv) == 0,
                      sorted((v.error_type, v.path) for v in kv))
            if got[doc_id] != expect:
                mismatches.append(
                    (case, doc_id, schema, doc, got[doc_id], expect))
    df.unpersist()
    assert skipped < N_CASES * 0.2, \
        f"compiler rejected {skipped}/{N_CASES} generated schemas"
    assert not mismatches, (
        f"{len(mismatches)} differential mismatches; first: "
        f"{mismatches[0]}")
    assert not gate_drift, (
        f"{len(gate_drift)} rows where the row gate disagrees with the "
        f"ungated violations; first: {gate_drift[0]}")


# ---------------------------------------------------------------------------
# typed-path output snapshot
# ---------------------------------------------------------------------------
#
# The differential run compares sorted (error_type, path) pairs only;
# ``max_violations_per_doc`` slices the violations array by ORDER, and
# schema_ptr / value_json / detail are typed-path outputs too. The
# snapshot pins all of them on a fixed 40 cases per draft (the first 40
# of the differential run, whatever SPARKJESSE_FUZZ_CASES says): per
# case, a sha256 over every doc's ordered violations array, or
# "CompileError" where the compiler rejects the schema. Regenerate the
# fixture only for an intended output change:
#   json.dump({d: _snapshot_digests(spark, d) for d in (E.DRAFT3,
#              E.DRAFT4)}, open(SNAPSHOT, "w"), indent=1)

SNAPSHOT_CASES = 40
SNAPSHOT = Path(__file__).parent / "fixtures" / \
    "typed_violations_snapshot.json"


def _snapshot_digests(spark, draft: str) -> list:
    rng = random.Random(SEED if draft == E.DRAFT3 else SEED + 1)
    df = spark.createDataFrame(_make_rows(), ROW_SCHEMA).persist()
    eng = ValidationEngine(default_draft=draft)
    out = []
    for _ in range(SNAPSHOT_CASES):
        schema = gen_schema(rng, draft)
        try:
            compile_plan(schema, df.schema, draft=draft,
                         registry=eng.registry)
        except CompileError:
            out.append("CompileError")
            continue
        rows = (eng.validate(df, schema, draft=draft).annotated
                .select("doc_id", "violations").orderBy("doc_id")
                .collect())
        payload = json.dumps([[r["doc_id"], [list(v) for v in
                                             r["violations"]]]
                              for r in rows])
        out.append(hashlib.sha256(payload.encode()).hexdigest())
    df.unpersist()
    return out


@pytest.mark.parametrize("draft", [E.DRAFT3, E.DRAFT4])
def test_typed_violation_snapshot(spark, draft):
    expected = json.loads(SNAPSHOT.read_text())[draft]
    got = _snapshot_digests(spark, draft)
    changed = [i for i, (g, x) in enumerate(zip(got, expected)) if g != x]
    assert len(got) == len(expected) and not changed, \
        f"typed-path violations changed in cases {changed}"
