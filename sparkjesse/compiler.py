"""Schema → Catalyst compiler: the heart of the engine.

The reference walks the schema tree *per document* at run time
(`/root/reference/src/jesse_validator_draft3.erl:39-191`). We invert that:
the schema tree is walked **once, on the driver, at compile time**, emitting
a tree of Catalyst ``Column`` expressions that Spark evaluates column-at-a-
time inside whole-stage codegen — no per-row Python anywhere on this path.

Two products per schema:

* ``compile_predicate(schema, value, dtype)`` → a null-safe boolean Column
  (``true`` = valid), used for composition (``anyOf``/``oneOf``/``not``/
  union types/``disallow``) where only pass/fail escapes — the expression
  analogue of jesse's fresh-state error swallowing
  (`jesse_validator_draft3.erl:283-297`).
* ``compile_checks(...)`` → violation-emitting checks with exact
  jesse-style error atoms and JSON-pointer paths. Array-element paths are
  built dynamically inside ``F.transform`` lambdas (index Column), so
  violations carry ``/spans/3/kind``-style pointers at zero extra shuffle.

Typed-column semantics (documented deviations from dynamic JSON):
  * SQL ``NULL`` means *absent*; ``required`` fails on null. Typed columns
    cannot distinguish JSON ``null`` from a missing key (draft3 can —
    SURVEY.md §1.4); use the pandas-UDF JSON path when that matters.
  * ``type`` is checked statically against the Spark type: a statically
    matching column needs no runtime check at all; a statically impossible
    type yields ``wrong_type`` for every present value.
  * Keyword checks gate on the instance type exactly like the reference
    (``minLength`` on a numeric column is vacuous, etc.) — except here the
    gate is resolved at compile time, so inapplicable checks simply emit
    no expression (free Catalyst win, SURVEY.md §4.1).

Checks are evaluated with null-safe three-valued-logic hygiene: every
predicate is coalesced so NULL inputs read as "vacuous pass", matching the
reference's type gating.
"""

from __future__ import annotations

import json
import re as _re
from dataclasses import dataclass, field
from typing import Any, Optional

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DataType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructType,
)

from . import errors as E
from .types import VIOLATIONS_ARRAY_TYPE

_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)
_NUMERIC = _INTEGRAL + (FloatType, DoubleType, DecimalType)


class CompileError(ValueError):
    """Schema uses a construct the typed-column compiler can't express;
    callers should fall back to the pandas-UDF JSON path."""


@dataclass
class CompileContext:
    draft: str = E.DRAFT4
    registry: Optional[Any] = None  # SchemaRegistry for $ref
    root_schema: Any = None
    ref_depth: int = 0
    # true while compiling inside a higher-order-function lambda
    # (transform/forall/map-entry bodies): pandas UDFs cannot reference
    # lambda variables, so non-vetted patterns there must raise
    # CompileError and let the engine fall back to the kernel
    in_lambda: bool = False


# ---------------------------------------------------------------------------
# PCRE → Java-regex vetting (SURVEY §4.2; reference caveat README.md:241-251)
# ---------------------------------------------------------------------------
#
# jesse evaluates `pattern` with Erlang `re` (PCRE). Our engine has two
# legs: the Catalyst path (`rlike`, Java regex) and the Python kernel
# (`re`, PCRE-descended). The two regex dialects agree on a large,
# verifiable subset but diverge on the edges — `\Z` (absolute end in
# Python, before-final-terminator in Java), possessive quantifiers
# (Java-only), inline-flag scoping `(?i)` mid-pattern, `[[:alpha:]]`
# POSIX classes, `[a[b]]` nested-class parsing, `&&` class
# intersection (Java-only). A schema whose pattern sits outside the
# vetted subset must NOT be silently evaluated with Java semantics:
# the classifier below routes it to the Python-`re` kernel (a
# per-pattern Arrow-batched pandas UDF at column level; whole-plan
# kernel fallback when the pattern sits inside an array lambda).

#   excluded on purpose: \v (char in Python, whitespace CLASS in Java 8+),
#   \e (Java-only), \0 / octal (parsing differs), \A \z \Z \G (anchors
#   with divergent end-of-input semantics), \p \x \u \Q \k (syntax or
#   property tables differ), digits (backreferences), \B (found by the
#   differential fuzz suite: on the EMPTY string Java's \B matches at
#   position 0 while Python re.search(r'\B', '') returns None)
_SAFE_ESCAPES = set("dDwWsSbnrtfa\\.^$*+?()[]{}|/-, '\"<>=!:;#@%&~`_")

# Vetted patterns are handed to Java `rlike` with this flag prefix.
# (?d) UNIX_LINES: Java's bare `.`, `^`, `$` otherwise recognize \r,
#   U+0085, U+2028, U+2029 as line terminators where Python `re`
#   recognizes only \n — verified live: rlike('a.c') is false on
#   'a\rc' and rlike('foo$') is true on 'foo\r', both against Python.
#   UNIX_LINES restricts Java to \n, aligning all three metachars.
# (?U) UNICODE_CHARACTER_CLASS: Java's \d \w \s are ASCII-only by
#   default where Python's are Unicode-aware (\d misses Arabic-Indic
#   digits, \s misses U+00A0/U+2028/U+0085). (?U) switches Java to the
#   Unicode property tables. Residual (documented, pinned in
#   test_engine_options.test_known_residual_divergences): Python \w
#   follows str.isalnum() and so includes No/Nl chars ('²', 'Ⅻ') that
#   Java's \w excludes even under (?U); Python \s follows str.isspace()
#   and so includes U+001C..U+001F which the Unicode White_Space
#   property (Java's (?U)\s) excludes. Both classes are vanishingly
#   rare in real text, and jesse's own Erlang PCRE runs in 8-bit byte
#   mode where ALL of these classes are ASCII-only — Python-re
#   semantics with (?dU) alignment is strictly closer than either
#   engine default.
JAVA_VETTED_PREFIX = "(?dU)"


def java_vetted_pattern(p: str) -> str:
    """The exact pattern string the engine hands to Java ``rlike`` for
    a vetted pattern ``p`` (see ``JAVA_VETTED_PREFIX``). Exposed so the
    differential fuzz suite exercises the true production pattern."""
    return JAVA_VETTED_PREFIX + p


def is_vetted_pattern(p: str) -> bool:
    """True iff ``p`` (as rewritten by ``java_vetted_pattern``) means
    the same thing to PCRE/Python ``re`` and Java ``Pattern``
    (conservative whitelist; residual edge classes documented at
    ``JAVA_VETTED_PREFIX``)."""
    i, n = 0, len(p)
    in_class = False
    while i < n:
        c = p[i]
        if c == "\\":
            if i + 1 >= n:
                return False
            nxt = p[i + 1]
            # \A \z \Z \G \p{...} \x.. \Q..\E \k.. backrefs: divergent
            # or one-sided; digits = backreferences (keep off rlike)
            if nxt not in _SAFE_ESCAPES:
                return False
            i += 2
            continue
        if in_class:
            if p.startswith("[:", i):
                return False  # POSIX class — Java has no support
            if c == "[":
                return False  # nested class: Java union vs Python literal
            if p.startswith("&&", i):
                return False  # Java-only class intersection
            if c == "]":
                in_class = False
            i += 1
            continue
        if c == "[":
            in_class = True
            i += 1
            if i < n and p[i] == "^":
                i += 1
            if i < n and p[i] == "]":
                i += 1  # leading ] is a literal in both dialects
            continue
        if c == "(":
            if p.startswith("(?:", i):
                i += 3
                continue
            if p.startswith("(?", i):
                # inline flags, lookaround, named groups, conditionals:
                # syntax/scoping differs between dialects
                return False
            i += 1
            continue
        if c in "*+?":
            if i + 1 < n and p[i + 1] == "+":
                return False  # possessive quantifier (Java-only)
            i += 1
            if i < n and p[i] == "?":
                i += 1  # lazy quantifier — same semantics both sides
            continue
        if c == "{":
            # only well-formed {m} {m,} {m,n} quantifiers: a bare `{`
            # is a literal in Python but a syntax error in Java
            j = i + 1
            while j < n and p[j].isdigit():
                j += 1
            if j == i + 1:
                return False
            if j < n and p[j] == ",":
                j += 1
                while j < n and p[j].isdigit():
                    j += 1
            if j >= n or p[j] != "}":
                return False
            i = j + 1
            if i < n and p[i] == "+":
                return False  # possessive {m,n}+
            if i < n and p[i] == "?":
                i += 1
            continue
        i += 1
    return not in_class


_KERNEL_PATTERN_UDFS: dict[str, Any] = {}


def _kernel_pattern_col(pattern: str, value: Column) -> Column:
    """Arrow-batched pandas UDF evaluating ``pattern`` with Python
    ``re`` (unanchored search — jesse's `re:run` semantics,
    `jesse_validator_draft3.erl:744-749`). Null in ⇒ null out (the
    caller's ``_ns`` turns that into a vacuous pass)."""
    udf = _KERNEL_PATTERN_UDFS.get(pattern)
    if udf is None:
        import re as _re

        compiled = _re.compile(pattern)

        @F.pandas_udf("boolean")
        def _match(s: pd.Series) -> pd.Series:
            return s.map(lambda v: None if v is None
                         else bool(compiled.search(v)))

        udf = _match
        _KERNEL_PATTERN_UDFS[pattern] = udf
    return udf(value)


def _pattern_predicate(pattern: str, value: Column,
                       ctx: "CompileContext") -> Column:
    if is_vetted_pattern(pattern):
        return _ns(value.rlike(java_vetted_pattern(pattern)))
    if ctx.in_lambda:
        raise CompileError(
            f"pattern {pattern!r} is outside the vetted PCRE/Java-regex "
            "subset and sits inside an array lambda — kernel fallback "
            "required")
    return _ns(_kernel_pattern_col(pattern, value))


def _require_vetted_key_pattern(pattern: str) -> None:
    """Map-key patterns (patternProperties / additionalProperties key
    filters) are evaluated inside map-entry lambdas where no pandas
    UDF can run — non-vetted patterns force the kernel path."""
    if not is_vetted_pattern(pattern):
        raise CompileError(
            f"patternProperties key pattern {pattern!r} is outside the "
            "vetted PCRE/Java-regex subset — kernel fallback required")


def _true() -> Column:
    return F.lit(True)


def _ns(cond: Column) -> Column:
    """Null-safe: NULL ⇒ vacuous pass (matches reference type gating)."""
    return F.coalesce(cond, F.lit(True))


def _is_integral(dtype: DataType) -> bool:
    return isinstance(dtype, _INTEGRAL)


def _is_numeric(dtype: DataType) -> bool:
    return isinstance(dtype, _NUMERIC)


def _static_type_match(type_name: str, dtype: DataType) -> Optional[bool]:
    """Does this Spark type statically satisfy the schema type name?
    Returns None for 'null' (runtime-dependent)."""
    if type_name == "any":
        return True
    if type_name == "string":
        return isinstance(dtype, StringType)
    if type_name == "integer":
        return _is_integral(dtype)
    if type_name == "number":
        return _is_numeric(dtype)
    if type_name == "boolean":
        return isinstance(dtype, BooleanType)
    if type_name == "object":
        return isinstance(dtype, (StructType, MapType))
    if type_name == "array":
        return isinstance(dtype, ArrayType)
    if type_name == "null":
        return None
    return True  # unknown type names accept (jesse parity, :269-273)


def _value_json(value: Column, dtype: DataType) -> Column:
    if isinstance(dtype, (StructType, ArrayType, MapType)):
        return F.to_json(value)
    return F.coalesce(value.cast("string"), F.lit("null"))


def _viol(error_type: str, path: Column, schema_ptr: str,
          value_json: Column, detail: "str | Column" = "",
          kind: str = E.DATA_INVALID) -> Column:
    return F.struct(
        F.lit(kind).alias("error_kind"),
        F.lit(error_type).alias("error_type"),
        path.alias("path"),
        F.lit(schema_ptr).alias("schema_ptr"),
        value_json.alias("value_json"),
        (F.lit(detail) if isinstance(detail, str) else detail)
        .alias("detail"),
    )


def _escape_key_col(key: Column) -> Column:
    """RFC 6901 pointer escaping for a RUNTIME map key (``~``→``~0``,
    ``/``→``~1``) — the expression twin of ``errors.pointer_escape``."""
    return F.replace(F.replace(key, F.lit("~"), F.lit("~0")),
                     F.lit("/"), F.lit("~1"))


def _empty_violations() -> Column:
    return F.array().cast(VIOLATIONS_ARRAY_TYPE)


def _resolve_ref(ctx: CompileContext, ref: str) -> Any:
    base, _, fragment = ref.partition("#")
    if base == "":
        target = ctx.root_schema
    elif ctx.registry is not None and base in ctx.registry:
        target = ctx.registry.read(base)
    else:
        raise CompileError(f"unresolvable $ref {ref!r}")
    for raw in fragment.lstrip("/").split("/") if fragment.strip("/") else []:
        seg = raw.replace("~1", "/").replace("~0", "~")
        if isinstance(target, dict) and seg in target:
            target = target[seg]
        elif isinstance(target, list):
            target = target[int(seg)]
        else:
            raise CompileError(f"unresolvable $ref {ref!r}")
    return target


def _deref(ctx: CompileContext, schema: dict) -> dict:
    """Resolve $ref chains at compile time (draft4: siblings ignored)."""
    depth = 0
    while isinstance(schema, dict) and isinstance(schema.get("$ref"), str) \
            and ctx.draft == E.DRAFT4:
        if depth > 64:
            raise CompileError("$ref cycle (non-structural) in schema")
        schema = _resolve_ref(ctx, schema["$ref"])
        depth += 1
    if not isinstance(schema, dict):
        raise CompileError("$ref target is not an object schema")
    return schema


# ---------------------------------------------------------------------------
# predicate compiler — true ⇒ valid, null-safe
# ---------------------------------------------------------------------------

def compile_predicate(schema: Any, value: Column, dtype: DataType,
                      ctx: CompileContext, _depth: int = 0) -> Column:
    if not isinstance(schema, dict) or not schema:
        return _true()
    if _depth > 48:
        raise CompileError("schema nesting too deep for expression compile")
    schema = _deref(ctx, schema)
    preds: list[Column] = []
    for kw, arg in schema.items():
        p = _keyword_predicate(kw, arg, schema, value, dtype, ctx, _depth)
        if p is not None:
            preds.append(p)
    if not preds:
        return _true()
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def _type_predicate(arg: Any, value: Column, dtype: DataType,
                    ctx: CompileContext, _depth: int) -> Optional[Column]:
    """Membership predicate for a type name / union-with-inline-schemas,
    or None when the dtype statically satisfies a member: an absent
    value passes and a present one matches, so the runtime form would
    be ``isnull(v) OR isnotnull(v)`` — a tautology Catalyst does not
    fold, paid per element inside array lambdas."""
    members = arg if isinstance(arg, list) else [arg]
    # a member that is neither a name nor a schema accepts (jesse parity)
    if any(not isinstance(m, (dict, str))
           or isinstance(m, str) and _static_type_match(m, dtype)
           for m in members):
        return None
    out: Optional[Column] = None
    for member in members:
        if isinstance(member, str):
            # statically impossible, or "null" (runtime-dependent)
            m = value.isNull() if member == "null" else F.lit(False)
        elif ctx.draft == E.DRAFT3:
            m = compile_predicate(member, value, dtype, ctx, _depth + 1)
        else:
            continue  # draft4 type members are names only
        out = m if out is None else (out | m)
    if out is None:
        return None
    # absent values pass the type check (required handles presence)
    return value.isNull() | F.coalesce(out, F.lit(False))


def _keyword_predicate(kw: str, arg: Any, schema: dict, value: Column,
                       dtype: DataType, ctx: CompileContext,
                       _depth: int) -> Optional[Column]:
    """Predicate for one keyword, or None when vacuous for this dtype."""
    draft3 = ctx.draft == E.DRAFT3

    if kw == "type":
        return _type_predicate(arg, value, dtype, ctx, _depth)

    if kw == "enum" and isinstance(arg, list):
        return _enum_predicate(arg, value, dtype, ctx.draft)

    if kw in ("minimum", "maximum") and _is_numeric(dtype):
        exclusive = schema.get("exclusive" + kw.capitalize()) is True
        if kw == "minimum":
            cond = value > F.lit(arg) if exclusive else value >= F.lit(arg)
        else:
            cond = value < F.lit(arg) if exclusive else value <= F.lit(arg)
        return _ns(cond)

    if kw == "divisibleBy" and draft3 and _is_numeric(dtype):
        return _ns(_divisible_exact(value, arg))

    if kw == "multipleOf" and not draft3 and _is_numeric(dtype):
        return _ns(_multiple_of(value, arg))

    if kw == "minLength" and isinstance(dtype, StringType):
        return _ns(F.length(value) >= F.lit(arg))
    if kw == "maxLength" and isinstance(dtype, StringType):
        # exact: a UTF-8 string never has more characters than bytes.
        # The byte count is O(1); length() walks every character, and
        # runs only when the byte count fails
        return _ns((F.octet_length(value) <= F.lit(arg))
                   | (F.length(value) <= F.lit(arg)))
    if kw == "pattern" and isinstance(dtype, StringType):
        return _pattern_predicate(arg, value, ctx)

    if kw == "minItems" and isinstance(dtype, ArrayType):
        return _ns(F.size(value) >= F.lit(arg))
    if kw == "maxItems" and isinstance(dtype, ArrayType):
        return _ns(F.size(value) <= F.lit(arg))
    if kw == "uniqueItems" and arg is True and isinstance(dtype, ArrayType):
        return _ns(F.size(F.array_distinct(value)) == F.size(value))

    if kw == "items" and isinstance(dtype, ArrayType):
        if isinstance(arg, dict):
            return _ns(F.forall(value, lambda x: _rebind_predicate(
                arg, x, dtype.elementType, ctx, _depth)))
        if isinstance(arg, list):
            return _tuple_items_predicate(arg, schema, value, dtype, ctx,
                                          _depth)
        return None

    if kw == "properties" and isinstance(arg, dict):
        return _properties_predicate(arg, schema, value, dtype, ctx, _depth)

    if kw == "required" and not draft3 and isinstance(arg, list):
        return _required_predicate(arg, value, dtype)

    if kw == "dependencies" and isinstance(arg, dict):
        return _dependencies_predicate(arg, value, dtype, ctx, _depth)

    # min/maxProperties are draft4-only; the draft3 reference skips
    # unknown keywords (`jesse_validator_draft3.erl:190-191`)
    if kw == "minProperties" and not draft3 and isinstance(dtype, MapType):
        return _ns(F.size(F.map_keys(value)) >= F.lit(arg))
    if kw == "maxProperties" and not draft3 and isinstance(dtype, MapType):
        return _ns(F.size(F.map_keys(value)) <= F.lit(arg))
    if kw == "minProperties" and not draft3 and isinstance(dtype, StructType):
        return _ns(_present_field_count(value, dtype) >= F.lit(arg))
    if kw == "maxProperties" and not draft3 and isinstance(dtype, StructType):
        return _ns(_present_field_count(value, dtype) <= F.lit(arg))

    if kw in ("patternProperties", "additionalProperties"):
        return _map_properties_predicate(kw, arg, schema, value, dtype,
                                         ctx, _depth)

    # combinators are draft4-only (the draft3 reference skips unknown
    # keywords, `jesse_validator_draft3.erl:190-191`)
    if kw == "allOf" and not draft3 and isinstance(arg, list):
        out = _true()
        for sub in arg:
            out = out & compile_predicate(sub, value, dtype, ctx, _depth + 1)
        return out
    if kw == "anyOf" and not draft3 and isinstance(arg, list):
        out = F.lit(False)
        for sub in arg:
            out = out | compile_predicate(sub, value, dtype, ctx, _depth + 1)
        return value.isNull() | out
    if kw == "oneOf" and not draft3 and isinstance(arg, list):
        n = F.lit(0)
        for sub in arg:
            n = n + F.when(
                compile_predicate(sub, value, dtype, ctx, _depth + 1), 1
            ).otherwise(0)
        return value.isNull() | (n == 1)
    if kw == "not" and not draft3 and isinstance(arg, dict):
        return value.isNull() | \
            ~F.coalesce(compile_predicate(arg, value, dtype, ctx, _depth + 1),
                        F.lit(True))

    if kw == "disallow" and draft3:
        allowed = _type_predicate(arg, value, dtype, ctx, _depth)
        if allowed is None:  # every present value has a disallowed type
            return value.isNull()
        return value.isNull() | ~F.coalesce(allowed, F.lit(True))

    if kw == "extends" and draft3:
        subs = arg if isinstance(arg, list) else [arg]
        out = _true()
        for sub in subs:
            if isinstance(sub, dict):
                out = out & compile_predicate(sub, value, dtype, ctx,
                                              _depth + 1)
        return out

    # format: no-op; unsupported/inapplicable keywords: vacuous
    return None


def _rebind_predicate(schema: Any, x: Column, elem_type: DataType,
                      ctx: CompileContext, _depth: int) -> Column:
    from dataclasses import replace as _replace
    lctx = ctx if ctx.in_lambda else _replace(ctx, in_lambda=True)
    return F.coalesce(
        compile_predicate(schema, x, elem_type, lctx, _depth + 1),
        F.lit(True))


def _tuple_items_predicate(subs: list, schema: dict, value: Column,
                           dtype: ArrayType, ctx: CompileContext,
                           _depth: int) -> Column:
    """Tuple-form ``items`` + ``additionalItems``. Reference semantics
    (`jesse_validator_draft3.erl:511-536`): too-short ⇒ invalid
    (``not_enought_items``); longer with additionalItems absent/true ⇒
    valid *without validating the prefix* (reference quirk, `:524-526`);
    additionalItems false ⇒ invalid; schema ⇒ prefix + extras checked.
    Draft4: prefix always checked, short arrays fine."""
    n = len(subs)
    size = F.size(value)
    additional = schema.get("additionalItems")
    elem_type = dtype.elementType
    base = _true()
    for i, sub in enumerate(subs):
        if isinstance(sub, dict):
            base = base & _rebind_predicate(sub, F.get(value, i), elem_type,
                                            ctx, _depth)
    extras_ok = _true()
    if isinstance(additional, dict):
        extras_ok = F.coalesce(
            F.forall(F.slice(value, n + 1,
                             F.greatest(size - n, F.lit(0))),
                     lambda x: _rebind_predicate(additional, x, elem_type,
                                                 ctx, _depth)),
            F.lit(True))
    if ctx.draft == E.DRAFT3:
        if additional is None or additional is True:
            out = (F.when(size < n, F.lit(False))
                    .when(size == n, base)
                    .otherwise(F.lit(True)))
        elif additional is False:
            out = F.when(size == n, base).otherwise(F.lit(False))
        else:
            out = F.when(size < n, F.lit(False)).otherwise(base & extras_ok)
    else:
        out = base & extras_ok
        if additional is False:
            out = out & (size <= n)
    return value.isNull() | F.coalesce(out, F.lit(False))


def _present_field_count(value: Column, dtype: StructType) -> Column:
    n = F.lit(0)
    for f_ in dtype.fields:
        n = n + F.when(value.getField(f_.name).isNotNull(), 1).otherwise(0)
    return F.when(value.isNull(), F.lit(None)).otherwise(n)


def _enum_predicate(members: list, value: Column, dtype: DataType,
                    draft: str = E.DRAFT4) -> Column:
    """Membership with jesse's equality semantics. Draft3 scalar
    equality is Erlang ``=:=`` — EXACT type equality, ``1 ≠ 1.0``
    (`jesse_validator_draft3.erl:785-795`): an integer enum member can
    only match an integral column, a float member only a fractional
    column (``isin`` would silently numeric-coerce). Draft4 keeps
    JSON-spec numeric equality (``1 == 1.0``), so both int and float
    members apply to any numeric dtype there."""
    scalars = []
    for m in members:
        if isinstance(m, (dict, list)):
            raise CompileError(
                "composite enum members not supported on typed columns")
        if m is None:
            continue
        if isinstance(m, bool):
            if isinstance(dtype, BooleanType):
                scalars.append(m)
        elif isinstance(m, int):
            if draft == E.DRAFT3:
                if _is_integral(dtype):
                    scalars.append(m)
            elif _is_numeric(dtype):
                scalars.append(m)
        elif isinstance(m, float):
            if draft == E.DRAFT3:
                # a fractional dtype holds Erlang floats; an integral
                # dtype can never =:=-equal a float member
                if _is_numeric(dtype) and not _is_integral(dtype):
                    # float members with integral value (2.0) still
                    # match a double column holding 2.0 — same type
                    scalars.append(m)
            elif _is_numeric(dtype):
                scalars.append(m)
        elif isinstance(m, str):
            if isinstance(dtype, StringType):
                scalars.append(m)
    if not scalars:
        # no member is expressible for this dtype — only absent passes
        return value.isNull()
    return value.isNull() | F.coalesce(value.isin(scalars), F.lit(False))


def _properties_predicate(arg: dict, schema: dict, value: Column,
                          dtype: DataType, ctx: CompileContext,
                          _depth: int) -> Optional[Column]:
    draft3 = ctx.draft == E.DRAFT3
    if isinstance(dtype, StructType):
        by_name = {f_.name: f_ for f_ in dtype.fields}
        out = _true()
        for name, sub in arg.items():
            if not isinstance(sub, dict):
                continue
            fld = by_name.get(name)
            if fld is None:
                if draft3 and sub.get("required") is True:
                    out = out & F.lit(False)
                continue
            child = value.getField(name)
            out = out & compile_predicate(sub, child, fld.dataType, ctx,
                                          _depth + 1)
            if draft3 and sub.get("required") is True:
                out = out & child.isNotNull()
        return value.isNull() | F.coalesce(out, F.lit(False))
    if isinstance(dtype, MapType):
        out = _true()
        for name, sub in arg.items():
            if not isinstance(sub, dict):
                continue
            child = F.element_at(value, F.lit(name))
            out = out & compile_predicate(sub, child, dtype.valueType, ctx,
                                          _depth + 1)
            if draft3 and sub.get("required") is True:
                out = out & F.map_contains_key(value, F.lit(name))
        return value.isNull() | F.coalesce(out, F.lit(False))
    return None  # not an object column — vacuous


def _required_predicate(names: list, value: Column,
                        dtype: DataType) -> Optional[Column]:
    if isinstance(dtype, StructType):
        by_name = {f_.name for f_ in dtype.fields}
        out = _true()
        for name in names:
            if name in by_name:
                out = out & value.getField(name).isNotNull()
            else:
                out = out & F.lit(False)
        return value.isNull() | F.coalesce(out, F.lit(False))
    if isinstance(dtype, MapType):
        out = _true()
        for name in names:
            out = out & F.map_contains_key(value, F.lit(name))
        return value.isNull() | F.coalesce(out, F.lit(False))
    return None


def _dependencies_predicate(deps: dict, value: Column, dtype: DataType,
                            ctx: CompileContext,
                            _depth: int) -> Optional[Column]:
    def has(name: str) -> Column:
        if isinstance(dtype, StructType):
            if name in {f_.name for f_ in dtype.fields}:
                return value.getField(name).isNotNull()
            return F.lit(False)
        return F.map_contains_key(value, F.lit(name))

    if not isinstance(dtype, (StructType, MapType)):
        return None
    out = _true()
    for dep_name, dep in deps.items():
        trigger = has(dep_name)
        if isinstance(dep, str):
            req: Column = has(dep)
        elif isinstance(dep, list):
            req = _true()
            for member in dep:
                if isinstance(member, str):
                    req = req & has(member)
                elif isinstance(member, dict) and ctx.draft == E.DRAFT3:
                    # draft3 array members may themselves be schemas
                    # (check_dependency_array → check_dependency_value)
                    req = req & F.coalesce(
                        compile_predicate(member, value, dtype, ctx,
                                          _depth + 1), F.lit(True))
        elif isinstance(dep, dict):
            req = F.coalesce(
                compile_predicate(dep, value, dtype, ctx, _depth + 1),
                F.lit(True))
        else:
            raise CompileError("wrong_type_dependency in schema")
        out = out & (~F.coalesce(trigger, F.lit(False)) | req)
    return value.isNull() | F.coalesce(out, F.lit(False))


def _py_key_search(pattern: str, name: str) -> bool:
    """Compile-time key match with kernel/jesse semantics (unanchored
    ``re.search``; invalid pattern ⇒ no match) for STATIC struct field
    names — exact PCRE, no vetting needed."""
    try:
        return _re.search(pattern, name) is not None
    except _re.error:
        return False


def _struct_extras(schema: dict, dtype: StructType) -> list:
    """Struct fields that are 'additional': not named in ``properties``
    and matching no ``patternProperties`` pattern (static resolution of
    `jesse_validator_draft3.erl` check_additional_properties)."""
    known = set((schema.get("properties") or {}).keys())
    patterns = list((schema.get("patternProperties") or {}).keys())
    return [f_ for f_ in dtype.fields
            if f_.name not in known
            and not any(_py_key_search(p, f_.name) for p in patterns)]


def _map_properties_predicate(kw: str, arg: Any, schema: dict, value: Column,
                              dtype: DataType, ctx: CompileContext,
                              _depth: int) -> Optional[Column]:
    if not isinstance(dtype, MapType):
        if not isinstance(dtype, StructType):
            return None
        if kw == "patternProperties" and isinstance(arg, dict):
            out = _true()
            for pattern, sub in arg.items():
                if not isinstance(sub, dict):
                    continue
                for f_ in dtype.fields:
                    if _py_key_search(pattern, f_.name):
                        out = out & compile_predicate(
                            sub, value.getField(f_.name), f_.dataType,
                            ctx, _depth + 1)
            return value.isNull() | F.coalesce(out, F.lit(False))
        if kw == "additionalProperties" and arg is False:
            out = _true()
            for f_ in _struct_extras(schema, dtype):
                out = out & value.getField(f_.name).isNull()
            return value.isNull() | F.coalesce(out, F.lit(False))
        if kw == "additionalProperties" and isinstance(arg, dict):
            out = _true()
            for f_ in _struct_extras(schema, dtype):
                out = out & compile_predicate(
                    arg, value.getField(f_.name), f_.dataType, ctx,
                    _depth + 1)
            return value.isNull() | F.coalesce(out, F.lit(False))
        return None
    if kw == "patternProperties" and isinstance(arg, dict):
        # single-arg lambda via factory — Spark calls multi-parameter
        # lambdas with (element, index), breaking default-arg closures
        def entry_check(p: str, s: Any):
            return lambda e: ~e.getField("key").rlike(java_vetted_pattern(p)) \
                | _rebind_predicate(s, e.getField("value"),
                                    dtype.valueType, ctx, _depth)

        out = _true()
        for pattern, sub in arg.items():
            _require_vetted_key_pattern(pattern)
            out = out & F.forall(F.map_entries(value),
                                 entry_check(pattern, sub))
        return value.isNull() | F.coalesce(out, F.lit(False))
    if kw == "additionalProperties":
        if arg is True:
            return None
        known = list((schema.get("properties") or {}).keys())
        patterns = list((schema.get("patternProperties") or {}).keys())
        for p in patterns:
            _require_vetted_key_pattern(p)

        def is_extra(e: Column) -> Column:
            k = e.getField("key")
            cond = ~k.isin(known) if known else F.lit(True)
            for p in patterns:
                cond = cond & ~k.rlike(java_vetted_pattern(p))
            return cond

        if arg is False:
            out = F.forall(F.map_entries(value), lambda e: ~is_extra(e))
        elif isinstance(arg, dict):
            out = F.forall(
                F.map_entries(value),
                lambda e: ~is_extra(e) | _rebind_predicate(
                    arg, e.getField("value"), dtype.valueType, ctx, _depth))
        else:
            return None
        return value.isNull() | F.coalesce(out, F.lit(False))
    return None


def _divisible_exact(value: Column, divisor: Any) -> Column:
    """Jesse-exact float modulo: ``(V/D - trunc(V/D)) * D == 0.0``
    (`jesse_validator_draft3.erl:806-815`); divisor 0 ⇒ always invalid."""
    if divisor == 0:
        return F.lit(False)
    q = value.cast("double") / F.lit(float(divisor))
    return (q - q.cast("long").cast("double")) * F.lit(float(divisor)) \
        == F.lit(0.0)


def _multiple_of(value: Column, divisor: Any) -> Column:
    if not isinstance(divisor, (int, float)) or isinstance(divisor, bool) \
            or divisor <= 0:
        raise CompileError("multipleOf must be a positive number")
    q = value.cast("double") / F.lit(float(divisor))
    tol = F.lit(1e-9) * F.greatest(F.lit(1.0), F.abs(q))
    return F.abs(q - F.round(q)) <= tol


# ---------------------------------------------------------------------------
# violation compiler — per-keyword violation rows with pointer paths
# ---------------------------------------------------------------------------

@dataclass
class CompiledPlan:
    """A compiled validator: one Column producing array<violation>."""

    schema: dict
    draft: str
    checks: list[Column] = field(default_factory=list)        # viol-or-null
    array_checks: list[Column] = field(default_factory=list)  # array<viol>
    row_gate: Optional[Column] = None  # true ⇒ row is valid (fast path)

    def violations_column(self) -> Column:
        parts: list[Column] = []
        if self.checks:
            parts.append(F.array_compact(F.array(*self.checks)))
        parts.extend(self.array_checks)
        if not parts:
            return _empty_violations()
        out = parts[0] if len(parts) == 1 else F.concat(*parts)
        out = F.coalesce(out, _empty_violations())
        if self.row_gate is not None:
            # row-level short circuit: valid rows (the overwhelming
            # majority at scale) evaluate only the boolean predicate —
            # zero array/struct allocation on the hot path
            out = F.when(F.coalesce(self.row_gate, F.lit(True)),
                         _empty_violations()).otherwise(out)
        return out


def compile_plan(schema: dict, struct_type: StructType, *,
                 draft: str = E.DRAFT4, registry=None) -> CompiledPlan:
    """Compile an object schema against a DataFrame's StructType. Top-level
    ``properties`` map to columns; everything else composes recursively."""
    draft = E.normalize_draft(draft)
    ctx = CompileContext(draft=draft, registry=registry, root_schema=schema)
    plan = CompiledPlan(schema=schema, draft=draft)
    root = _deref(ctx, schema)
    by_name = {f_.name: f_ for f_ in struct_type.fields}
    draft3 = draft == E.DRAFT3

    handled = ("type", "properties") if draft3 \
        else ("type", "properties", "required")
    for kw, arg in root.items():
        if kw == "properties" and isinstance(arg, dict):
            for name, sub in arg.items():
                if not isinstance(sub, dict):
                    continue
                fld = by_name.get(name)
                sptr = "/properties/" + E.pointer_escape(name)
                if fld is None:
                    if draft3 and sub.get("required") is True:
                        plan.checks.append(_viol(
                            E.MISSING_REQUIRED_PROPERTY, F.lit(""), sptr,
                            F.lit(""), detail=name))
                    continue
                col = F.col(name)
                if draft3 and sub.get("required") is True:
                    plan.checks.append(F.when(col.isNull(), _viol(
                        E.MISSING_REQUIRED_PROPERTY, F.lit(""), sptr,
                        F.lit(""), detail=name)))
                s, a = _compile_checks(
                    sub, col, fld.dataType,
                    F.lit("/" + E.pointer_escape(name)), sptr, ctx, 0)
                plan.checks.extend(s)
                plan.array_checks.extend(a)
        elif kw == "required" and not draft3 and isinstance(arg, list):
            for name in arg:
                sptr = "/required"
                if name in by_name:
                    plan.checks.append(F.when(F.col(name).isNull(), _viol(
                        E.MISSING_REQUIRED_PROPERTY, F.lit(""), sptr,
                        F.lit(""), detail=name)))
                else:
                    plan.checks.append(_viol(
                        E.MISSING_REQUIRED_PROPERTY, F.lit(""), sptr,
                        F.lit(""), detail=name))
    if any(kw not in handled for kw in root):
        # whole-row keywords (dependencies / combinators / pattern- and
        # additionalProperties over the row struct): compile through the
        # full sub-error-propagating checks path with the root schema
        # visible for sibling lookups — per-keyword predicate collapsing
        # here is what the differential fuzz suite caught in round 3
        row = F.struct(*[F.col(f_.name) for f_ in struct_type.fields])
        s, a = _compile_checks(root, row, struct_type, F.lit(""), "",
                               ctx, 0, skip=handled)
        plan.checks.extend(s)
        plan.array_checks.extend(a)
    try:
        plan.row_gate = _row_gate(root, struct_type, ctx)
    except CompileError:
        plan.row_gate = None
    return plan


def _row_gate(root: dict, struct_type: StructType,
              ctx: CompileContext) -> Column:
    """Pure boolean row predicate mirroring ``compile_plan``'s check
    branches — true ⇔ the row produces no violations. Used as the
    row-level short circuit in ``CompiledPlan.violations_column``."""
    by_name = {f_.name: f_ for f_ in struct_type.fields}
    draft3 = ctx.draft == E.DRAFT3
    gate = _true()
    for kw, arg in root.items():
        if kw == "properties" and isinstance(arg, dict):
            for name, sub in arg.items():
                if not isinstance(sub, dict):
                    continue
                fld = by_name.get(name)
                if fld is None:
                    if draft3 and sub.get("required") is True:
                        gate = gate & F.lit(False)
                    continue
                col = F.col(name)
                gate = gate & F.coalesce(
                    compile_predicate(sub, col, fld.dataType, ctx),
                    F.lit(True))
                if draft3 and sub.get("required") is True:
                    gate = gate & col.isNotNull()
        elif kw == "required" and not draft3 and isinstance(arg, list):
            for name in arg:
                gate = gate & (F.col(name).isNotNull()
                               if name in by_name else F.lit(False))
        elif kw == "type":
            continue
        else:
            row = F.struct(*[F.col(f_.name) for f_ in struct_type.fields])
            p = _keyword_predicate(kw, arg, root, row, struct_type, ctx, 0)
            if p is not None:
                gate = gate & F.coalesce(p, F.lit(True))
    return gate


# keywords whose violation is one row when ``_keyword_predicate`` fails
# (the predicate also carries each keyword's dtype/draft applicability)
_SCALAR_ATOMS = {
    "type": E.WRONG_TYPE,
    "enum": E.NOT_IN_RANGE,
    "minimum": E.NOT_IN_RANGE,
    "maximum": E.NOT_IN_RANGE,
    "divisibleBy": E.NOT_DIVISIBLE,
    "multipleOf": E.NOT_DIVISIBLE,
    "minLength": E.WRONG_LENGTH,
    "maxLength": E.WRONG_LENGTH,
    "pattern": E.NO_MATCH,
    "minItems": E.WRONG_SIZE,
    "maxItems": E.WRONG_SIZE,
    "uniqueItems": E.NOT_UNIQUE,
    "minProperties": E.WRONG_SIZE,
    "maxProperties": E.WRONG_SIZE,
    "anyOf": E.ANY_SCHEMAS_NOT_VALID,
    "oneOf": E.NOT_ONE_SCHEMA_VALID,
    "not": E.NOT_SCHEMA_VALID,
    "disallow": E.NOT_ALLOWED,
}


def _compile_checks(schema: dict, value: Column, dtype: DataType,
                    path: Column, sptr: str, ctx: CompileContext,
                    depth: int,
                    skip: tuple = ()) -> tuple[list[Column], list[Column]]:
    """Violation-emitting compile for one value/schema pair. Returns
    (scalar checks, array checks) — scalar = viol-struct-or-null Column.
    ``skip`` names keywords the caller already compiled (root-level
    properties/required in ``compile_plan``) while keeping the full
    schema visible for sibling lookups (additionalProperties extras)."""
    if depth > 48:
        raise CompileError("schema nesting too deep")
    schema = _deref(ctx, schema)
    scalars: list[Column] = []
    arrays: list[Column] = []
    draft3 = ctx.draft == E.DRAFT3
    vj = _value_json(value, dtype)

    def add(kw: str, atom: str, pred: Column, v: Column = None) -> None:
        scalars.append(F.when(~F.coalesce(pred, F.lit(True)),
                              _viol(atom, path, sptr + "/" + kw,
                                    vj if v is None else v)))

    for kw, arg in schema.items():
        if kw in skip:
            continue
        if kw in _SCALAR_ATOMS:
            # one violation when the keyword's predicate fails
            p = _keyword_predicate(kw, arg, schema, value, dtype, ctx, depth)
            if p is not None:
                add(kw, _SCALAR_ATOMS[kw], p)
        elif kw == "items" and isinstance(dtype, ArrayType) \
                and isinstance(arg, dict):
            arrays.append(_items_violations(arg, value, dtype, path,
                                            sptr + "/items", ctx, depth))
        elif kw == "items" and isinstance(dtype, ArrayType) \
                and isinstance(arg, list):
            s2, a2 = _tuple_items_checks(arg, schema, value, dtype, path,
                                         sptr, vj, ctx, depth)
            scalars.extend(s2)
            arrays.extend(a2)
        elif kw == "properties" and isinstance(arg, dict) \
                and isinstance(dtype, StructType):
            for name, sub in arg.items():
                if not isinstance(sub, dict):
                    continue
                fld = next((f_ for f_ in dtype.fields if f_.name == name),
                           None)
                child_sptr = sptr + "/properties/" + E.pointer_escape(name)
                if fld is None:
                    if draft3 and sub.get("required") is True:
                        scalars.append(F.when(value.isNotNull(), _viol(
                            E.MISSING_REQUIRED_PROPERTY, path, child_sptr,
                            vj, detail=name)))
                    continue
                child = value.getField(name)
                child_path = F.concat(
                    path, F.lit("/" + E.pointer_escape(name)))
                if draft3 and sub.get("required") is True:
                    scalars.append(F.when(
                        value.isNotNull() & child.isNull(), _viol(
                            E.MISSING_REQUIRED_PROPERTY, path, child_sptr,
                            vj, detail=name)))
                s, a = _compile_checks(sub, child, fld.dataType, child_path,
                                       child_sptr, ctx, depth + 1)
                scalars.extend(s)
                arrays.extend(a)
        elif kw == "properties" and isinstance(arg, dict) \
                and isinstance(dtype, MapType):
            for name, sub in arg.items():
                if not isinstance(sub, dict):
                    continue
                child = F.element_at(value, F.lit(name))
                child_path = F.concat(
                    path, F.lit("/" + E.pointer_escape(name)))
                child_sptr = sptr + "/properties/" + E.pointer_escape(name)
                if draft3 and sub.get("required") is True:
                    scalars.append(F.when(
                        value.isNotNull() & ~F.coalesce(
                            F.map_contains_key(value, F.lit(name)),
                            F.lit(False)),
                        _viol(E.MISSING_REQUIRED_PROPERTY, path, child_sptr,
                              vj, detail=name)))
                s, a = _compile_checks(sub, child, dtype.valueType,
                                       child_path, child_sptr, ctx,
                                       depth + 1)
                scalars.extend(s)
                arrays.extend(a)
        elif kw == "required" and not draft3 and isinstance(arg, list) \
                and isinstance(dtype, StructType):
            names = {f_.name for f_ in dtype.fields}
            for name in arg:
                if name in names:
                    cond = value.isNotNull() \
                        & value.getField(name).isNull()
                else:
                    cond = value.isNotNull()
                scalars.append(F.when(cond, _viol(
                    E.MISSING_REQUIRED_PROPERTY, path, sptr + "/required",
                    vj, detail=name)))
        elif kw == "required" and not draft3 and isinstance(arg, list) \
                and isinstance(dtype, MapType):
            for name in arg:
                scalars.append(F.when(
                    value.isNotNull() & ~F.coalesce(
                        F.map_contains_key(value, F.lit(name)),
                        F.lit(False)),
                    _viol(E.MISSING_REQUIRED_PROPERTY, path,
                          sptr + "/required", vj, detail=name)))
        elif kw == "patternProperties" and isinstance(arg, dict) \
                and isinstance(dtype, StructType):
            # static field names: compile-time Python-re match — exact
            # kernel/jesse semantics, no vetting needed
            for f_ in dtype.fields:
                for pattern, sub in arg.items():
                    if not isinstance(sub, dict) \
                            or not _py_key_search(pattern, f_.name):
                        continue
                    child_path = F.concat(
                        path, F.lit("/" + E.pointer_escape(f_.name)))
                    psptr = (sptr + "/patternProperties/"
                             + E.pointer_escape(pattern))
                    s, a = _compile_checks(sub, value.getField(f_.name),
                                           f_.dataType, child_path, psptr,
                                           ctx, depth + 1)
                    scalars.extend(s)
                    arrays.extend(a)
        elif kw == "patternProperties" and isinstance(arg, dict) \
                and isinstance(dtype, MapType):
            # runtime keys: per-entry sub-validation with /m/<key> paths
            # (`jesse_validator_draft3.erl` check_pattern_properties) —
            # key match via vetted Java regex inside a map-entry lambda
            for pattern, sub in arg.items():
                if not isinstance(sub, dict):
                    continue
                _require_vetted_key_pattern(pattern)
                jp = java_vetted_pattern(pattern)
                psptr = (sptr + "/patternProperties/"
                         + E.pointer_escape(pattern))
                arrays.append(_map_entry_violations(
                    sub, value, dtype, path, psptr, ctx, depth,
                    key_gate=lambda k, _jp=jp: k.rlike(_jp)))
        elif kw == "additionalProperties" and isinstance(dtype, StructType) \
                and (arg is False or isinstance(arg, dict)):
            ap_sptr = sptr + "/additionalProperties"
            for f_ in _struct_extras(schema, dtype):
                child = value.getField(f_.name)
                child_path = F.concat(
                    path, F.lit("/" + E.pointer_escape(f_.name)))
                if arg is False:
                    # one violation per extra property, property name on
                    # the path (kernel _check_additional_properties)
                    scalars.append(F.when(
                        value.isNotNull() & child.isNotNull(),
                        _viol(E.NO_EXTRA_PROPERTIES_ALLOWED, child_path,
                              ap_sptr, vj, detail=f_.name)))
                else:
                    s, a = _compile_checks(arg, child, f_.dataType,
                                           child_path, ap_sptr, ctx,
                                           depth + 1)
                    scalars.extend(s)
                    arrays.extend(a)
        elif kw == "additionalProperties" and isinstance(dtype, MapType) \
                and (arg is False or isinstance(arg, dict)):
            ap_sptr = sptr + "/additionalProperties"
            known = list((schema.get("properties") or {}).keys())
            patterns = list((schema.get("patternProperties") or {}).keys())
            for p in patterns:
                _require_vetted_key_pattern(p)

            def _is_extra(k: Column) -> Column:
                cond = ~k.isin(known) if known else F.lit(True)
                for p in patterns:
                    cond = cond & ~k.rlike(java_vetted_pattern(p))
                return cond

            if arg is False:
                arrays.append(F.coalesce(F.array_compact(F.transform(
                    F.map_entries(value),
                    lambda e: F.when(_is_extra(e.getField("key")), _viol(
                        E.NO_EXTRA_PROPERTIES_ALLOWED,
                        F.concat(path, F.lit("/"),
                                 _escape_key_col(e.getField("key"))),
                        ap_sptr, vj, detail=e.getField("key"))))),
                    _empty_violations()))
            else:
                arrays.append(_map_entry_violations(
                    arg, value, dtype, path, ap_sptr, ctx, depth,
                    key_gate=_is_extra))
        elif kw == "dependencies" and isinstance(arg, dict) \
                and isinstance(dtype, (StructType, MapType)):
            field_names = {f_.name for f_ in dtype.fields} \
                if isinstance(dtype, StructType) else None

            def _has(name: str) -> Column:
                if field_names is not None:
                    if name in field_names:
                        return F.coalesce(
                            value.getField(name).isNotNull(), F.lit(False))
                    return F.lit(False)
                return F.coalesce(F.map_contains_key(value, F.lit(name)),
                                  F.lit(False))

            def _dep_schema_checks(dep_schema: dict, dep_name: str,
                                   trigger: Column, dep_sptr: str) -> None:
                # draft3 pushes the dependency name on the instance path
                # (check_value(DependencyName, ...), reference :600-605);
                # draft4 validates at the object's own path
                dpath = F.concat(
                    path, F.lit("/" + E.pointer_escape(dep_name))) \
                    if draft3 else path
                s, a = _compile_checks(dep_schema, value, dtype, dpath,
                                       dep_sptr, ctx, depth + 1)
                scalars.extend(F.when(trigger, c) for c in s)
                arrays.extend(
                    F.when(trigger, x).otherwise(_empty_violations())
                    for x in a)

            for dep_name, dep in arg.items():
                trigger = value.isNotNull() & _has(dep_name)
                dep_sptr = (sptr + "/dependencies/"
                            + E.pointer_escape(dep_name))
                members = [dep] if isinstance(dep, str) \
                    else dep if isinstance(dep, list) else None
                if members is not None:
                    # one missing_dependency PER missing name
                    # (check_dependency_array folds per member)
                    for member in members:
                        if isinstance(member, str):
                            scalars.append(F.when(
                                trigger & ~_has(member),
                                _viol(E.MISSING_DEPENDENCY, path, dep_sptr,
                                      vj, detail=member)))
                        elif isinstance(member, dict) and draft3:
                            _dep_schema_checks(member, dep_name, trigger,
                                               dep_sptr)
                elif isinstance(dep, dict):
                    _dep_schema_checks(dep, dep_name, trigger, dep_sptr)
                else:
                    raise CompileError("wrong_type_dependency in schema")
        elif kw == "extends" and draft3:
            # full sub-error propagation at the same instance path
            # (kernel _descend(ctx, None, ["extends"], ...))
            subs = [(None, arg)] if isinstance(arg, dict) else \
                list(enumerate(arg)) if isinstance(arg, list) else []
            for i, sub in subs:
                if not isinstance(sub, dict):
                    continue
                esptr = sptr + "/extends" + ("" if i is None else f"/{i}")
                s, a = _compile_checks(sub, value, dtype, path, esptr, ctx,
                                       depth + 1)
                scalars.extend(s)
                arrays.extend(a)
        elif kw == "allOf" and not draft3 and isinstance(arg, list):
            # allOf propagates each subschema's own violations (kernel
            # _validate_draft4 descends per member, no collapsing)
            for i, sub in enumerate(arg):
                if not isinstance(sub, dict):
                    continue
                s, a = _compile_checks(sub, value, dtype, path,
                                       sptr + f"/allOf/{i}", ctx, depth + 1)
                scalars.extend(s)
                arrays.extend(a)
        # format and unknown keywords: vacuous
    return scalars, arrays


def _map_entry_violations(sub: dict, value: Column, dtype: MapType,
                          path: Column, sptr: str, ctx: CompileContext,
                          depth: int, key_gate=None) -> Column:
    """Per-entry violations for a map column: each entry whose key
    passes ``key_gate`` is validated against ``sub`` at path
    ``<map>/<escaped-key>`` — the expression twin of the kernel's
    per-property descend for patternProperties / schema-valued
    additionalProperties. Fully JVM-side (map_entries + transform)."""
    from dataclasses import replace as _replace
    lctx = ctx if ctx.in_lambda else _replace(ctx, in_lambda=True)

    def per_entry(e: Column) -> Column:
        k = e.getField("key")
        epath = F.concat(path, F.lit("/"), _escape_key_col(k))
        s, a = _compile_checks(sub, e.getField("value"), dtype.valueType,
                               epath, sptr, lctx, depth + 1)
        parts: list[Column] = []
        if s:
            parts.append(F.array_compact(F.array(*s)))
        parts.extend(a)
        if not parts:
            return _empty_violations()
        built = parts[0] if len(parts) == 1 else F.concat(*parts)
        if key_gate is None:
            return built
        return F.when(key_gate(k), built).otherwise(_empty_violations())

    return F.coalesce(
        F.flatten(F.transform(F.map_entries(value), per_entry)),
        _empty_violations())


def _tuple_items_checks(subs: list, schema: dict, value: Column,
                        dtype: ArrayType, path: Column, sptr: str,
                        vj: Column, ctx: CompileContext,
                        depth: int) -> tuple[list[Column], list[Column]]:
    """Violation-emitting tuple-form items — same semantics as
    ``_tuple_items_predicate`` with per-index pointer paths
    (0-based indices, `jesse_schema_validator_tests.erl:107-135`)."""
    n = len(subs)
    size = F.size(value)
    additional = schema.get("additionalItems")
    elem_type = dtype.elementType
    draft3 = ctx.draft == E.DRAFT3
    scalars: list[Column] = []
    arrays: list[Column] = []
    present = value.isNotNull()

    if draft3:
        scalars.append(F.when(present & (size < n), _viol(
            E.NOT_ENOUGHT_ITEMS, path, sptr + "/items", vj)))
        prefix_active = (size == n) | \
            ((size > n) & F.lit(isinstance(additional, dict)))
    else:
        prefix_active = F.lit(True)
    if additional is False:
        scalars.append(F.when(present & (size > n), _viol(
            E.NO_EXTRA_ITEMS_ALLOWED, path, sptr + "/additionalItems", vj)))

    for i, sub in enumerate(subs):
        if not isinstance(sub, dict):
            continue
        child = F.get(value, i)
        child_path = F.concat(path, F.lit(f"/{i}"))
        s, a = _compile_checks(sub, child, elem_type, child_path,
                               sptr + f"/items/{i}", ctx, depth + 1)
        scalars.extend(F.when(prefix_active, chk) for chk in s)
        arrays.extend(
            F.when(prefix_active, arr).otherwise(_empty_violations())
            for arr in a)

    if isinstance(additional, dict):
        extras = F.slice(value, n + 1, F.greatest(size - n, F.lit(0)))
        arrays.append(F.when(
            present & (size > n),
            _items_violations(additional, extras, dtype, path,
                              sptr + "/additionalItems", ctx, depth,
                              index_offset=n)
        ).otherwise(_empty_violations()))
    return scalars, arrays


def _items_violations(item_schema: dict, value: Column, dtype: ArrayType,
                      path: Column, sptr: str, ctx: CompileContext,
                      depth: int, index_offset: int = 0) -> Column:
    """Per-element violations with dynamic 0-based pointer indices —
    jesse pushes the index per element (`jesse_validator_draft3.erl:488-503`);
    we build it inside a transform lambda, still fully JVM-side."""
    from dataclasses import replace as _replace
    elem_type = dtype.elementType
    lctx = ctx if ctx.in_lambda else _replace(ctx, in_lambda=True)

    # short-circuit gate (SURVEY.md §4.2): evaluate the allocation-free
    # boolean predicate first and only build violation structs/arrays
    # for FAILING elements. At ~10 checks/span this removes ~all array
    # allocation from the valid-data hot path — validation becomes
    # compute-bound instead of GC-bound, which is what lets throughput
    # scale with cores.
    def per_element(x: Column, i: Column) -> Column:
        elem_path = F.concat(path, F.lit("/"),
                             (i + F.lit(index_offset)).cast("string"))
        s, a = _compile_checks(item_schema, x, elem_type, elem_path, sptr,
                               lctx, depth + 1)
        parts: list[Column] = []
        if s:
            parts.append(F.array_compact(F.array(*s)))
        parts.extend(a)
        if not parts:
            return _empty_violations()
        built = parts[0] if len(parts) == 1 else F.concat(*parts)
        try:
            ok = F.coalesce(compile_predicate(item_schema, x, elem_type,
                                              lctx, depth + 1), F.lit(True))
        except CompileError:
            return built  # no gate: every element builds its array
        return F.when(ok, _empty_violations()).otherwise(built)

    nested = F.transform(value, per_element)
    return F.coalesce(F.flatten(nested), _empty_violations())
