"""Schema → Catalyst compiler: the heart of the engine.

The reference walks the schema tree *per document* at run time
(`jesse_validator_draft3.erl:39-191`). We invert that: the schema tree
is walked **once, on the driver, at compile time**, emitting a tree of
Catalyst ``Column`` expressions that Spark evaluates column-at-a-time
inside whole-stage codegen — no per-row Python anywhere on this path.

One walk, one keyword table: ``_walk`` visits each schema node once and,
through ``_KEYWORDS`` (each keyword's dtype and draft applicability is
written there once), emits

* the node's null-safe boolean ``ok`` Column (``true`` = valid). The
  root's ``ok`` is the row gate: valid rows, the overwhelming majority
  at scale, evaluate only this predicate;
* when given a location ``(path, sptr)``, the node's violation Columns
  with exact jesse-style error atoms and JSON-pointer paths. Array-element
  paths are built dynamically inside ``F.transform`` lambdas (index
  Column), so violations carry ``/spans/3/kind``-style pointers at zero
  extra shuffle, and an element's violations are built only when its
  ``ok`` fails.

Composition (``anyOf``/``oneOf``/``not``/union types/``disallow``) and
the ``forall`` gate of ``items`` walk their subschemas ok-only: only
pass/fail escapes — the expression analogue of jesse's fresh-state
error swallowing (`jesse_validator_draft3.erl:283-297`).

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

import re as _re
from dataclasses import dataclass, field, replace
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
_OBJECT = (StructType, MapType)


class CompileError(ValueError):
    """Schema uses a construct the typed-column compiler can't express;
    callers should fall back to the pandas-UDF JSON path."""


@dataclass
class CompileContext:
    draft: str = E.DRAFT4
    registry: Optional[Any] = None  # SchemaRegistry for $ref
    root_schema: Any = None
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
        return value.rlike(java_vetted_pattern(pattern))
    if ctx.in_lambda:
        raise CompileError(
            f"pattern {pattern!r} is outside the vetted PCRE/Java-regex "
            "subset and sits inside an array lambda — kernel fallback "
            "required")
    return _kernel_pattern_col(pattern, value)


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
        return isinstance(dtype, _OBJECT)
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
# the compile walk — one keyword table, one pass per schema node
# ---------------------------------------------------------------------------

def _all(parts: list) -> Column:
    """Conjunction of ``parts``; ``true`` when there are none."""
    out = parts[0] if parts else _true()
    for p in parts[1:]:
        out = out & p
    return out


def _child_path(path: "str | Column", seg: str) -> "str | Column":
    """Pointer paths stay Python strings until an array or map lambda
    makes them runtime Columns."""
    return path + seg if isinstance(path, str) else F.concat(path, F.lit(seg))


def _path_col(path: "str | Column") -> Column:
    return F.lit(path) if isinstance(path, str) else path


def _pack(scalars: list, arrays: list) -> Column:
    """One array<violation> Column from viol-or-null Columns and
    array<violation> Columns, in that order."""
    parts = ([F.array_compact(F.array(*scalars))] if scalars else []) + arrays
    if not parts:
        return _empty_violations()
    return parts[0] if len(parts) == 1 else F.concat(*parts)


def _lambda_ctx(ctx: CompileContext) -> CompileContext:
    return ctx if ctx.in_lambda else replace(ctx, in_lambda=True)


class _Node:
    """One schema node compiled over one instance Column.

    ``oks`` collects the node's null-safe keyword predicates (true ⇒
    valid). When the walk has a location ``at = (path, sptr)``,
    ``scalars`` (viol-or-null Columns) and ``arrays`` (array<violation>
    Columns) collect its violation rows in keyword order; without one
    they stay empty.

    The root node is the row itself (``value`` None): its properties
    bind the top-level columns directly and it is never absent.
    Keywords that need the row as one value see it as a struct."""

    def __init__(self, schema: dict, value: Optional[Column],
                 dtype: DataType, ctx: CompileContext, depth: int,
                 at: Optional[tuple]) -> None:
        self.schema, self.dtype, self.ctx, self.depth = \
            schema, dtype, ctx, depth
        self.draft3 = ctx.draft == E.DRAFT3
        self.row = value is None
        self.value = F.struct(*[F.col(f_.name) for f_ in dtype.fields]) \
            if self.row else value
        self.is_object = isinstance(dtype, _OBJECT)
        self.fields = {f_.name: f_.dataType for f_ in dtype.fields} \
            if isinstance(dtype, StructType) else {}
        self.at = at is not None
        self.path, self.sptr = at if self.at else (None, "")
        self.vj = _value_json(self.value, dtype) if self.at else None
        self.oks: list[Column] = []
        self.scalars: list[Column] = []
        self.arrays: list[Column] = []

    def field(self, name: str) -> Column:
        return F.col(name) if self.row else self.value.getField(name)

    def has(self, name: str) -> Column:
        """The object has property ``name`` (SQL NULL means absent)."""
        if isinstance(self.dtype, MapType):
            return F.map_contains_key(self.value, F.lit(name))
        if name in self.fields:
            return self.field(name).isNotNull()
        return F.lit(False)

    def guard(self, ok: Column) -> Column:
        """An absent object passes (``required`` handles presence)."""
        if self.row:
            return ok
        return self.value.isNull() | F.coalesce(ok, F.lit(False))

    def present(self, cond: Column) -> Column:
        return cond if self.row else self.value.isNotNull() & cond

    def fail(self, cond: Column, atom: str, sptr: str,
             seg: Optional[str] = None, detail: "str | Column" = "",
             value_json: Optional[Column] = None) -> None:
        """A violation row where ``cond`` holds (NULL ⇒ none)."""
        if self.at:
            path = self.path if seg is None else _child_path(self.path, seg)
            self.scalars.append(F.when(cond, _viol(
                atom, _path_col(path), sptr,
                self.vj if value_json is None else value_json, detail)))

    def check(self, kw: str, atom: str, pred: Optional[Column]) -> None:
        """A keyword that fails as one row when ``pred`` is false;
        None ⇒ vacuous for this dtype."""
        if pred is not None:
            self.oks.append(pred)
            self.fail(~pred, atom, self.sptr + "/" + kw)

    def missing(self, sptr: str, name: str) -> None:
        """``missing_required_property`` for ``name`` on a present
        object. Row-level ones carry value_json "" — the typed path's
        established output, pinned by the violation snapshot test."""
        self.fail(self.present(~self.has(name)),
                  E.MISSING_REQUIRED_PROPERTY, sptr, detail=name,
                  value_json=F.lit("") if self.row else None)

    def add(self, scalars: list, arrays: list,
            when: Optional[Column] = None) -> None:
        if when is not None:
            scalars = [F.when(when, c) for c in scalars]
            arrays = [F.when(when, a).otherwise(_empty_violations())
                      for a in arrays]
        self.scalars.extend(scalars)
        self.arrays.extend(arrays)

    def sub(self, schema: Any, value: Column, dtype: DataType,
            seg: Optional[str] = None, sptr: str = "",
            when: Optional[Column] = None) -> Column:
        """Walk ``schema`` over a child instance at path segment ``seg``
        (None: this node's own path); its violations join this node's,
        gated by ``when``. Returns its ok."""
        at = None
        if self.at:
            at = (self.path if seg is None else _child_path(self.path, seg),
                  sptr)
        ok, scalars, arrays = _walk(schema, value, dtype, self.ctx,
                                    self.depth + 1, at)
        self.add(scalars, arrays, when)
        return ok

    def test(self, schema: Any) -> Column:
        """ok-only walk of ``schema`` over this node's own instance —
        for combinators, where only pass/fail escapes (the expression
        analogue of jesse's fresh-state error swallowing,
        `jesse_validator_draft3.erl:283-297`)."""
        return _walk(schema, self.value, self.dtype, self.ctx,
                     self.depth + 1)[0]

    def each_item(self, sub: Any, arr: Column, sptr: str, offset: int = 0,
                  when: Optional[Column] = None) -> Column:
        """``sub`` over every element of ``arr``: a ``forall`` ok, and
        per-element violations with dynamic 0-based pointer indices —
        jesse pushes the index per element
        (`jesse_validator_draft3.erl:488-503`); we build it inside a
        transform lambda, still fully JVM-side."""
        et, lctx, depth = self.dtype.elementType, _lambda_ctx(self.ctx), \
            self.depth + 1
        ok = _ns(F.forall(arr, lambda x: _walk(sub, x, et, lctx, depth)[0]))
        if not self.at:
            return ok

        # short-circuit gate (SURVEY.md §4.2): evaluate the allocation-free
        # boolean predicate first and only build violation structs/arrays
        # for FAILING elements. At ~10 checks/span this removes ~all array
        # allocation from the valid-data hot path — validation becomes
        # compute-bound instead of GC-bound, which is what lets throughput
        # scale with cores.
        def per_element(x: Column, i: Column) -> Column:
            path = F.concat(_path_col(self.path), F.lit("/"),
                            (i + F.lit(offset)).cast("string"))
            x_ok, scalars, arrays = _walk(sub, x, et, lctx, depth,
                                          (path, sptr))
            if not (scalars or arrays):
                return _empty_violations()
            return F.when(x_ok, _empty_violations()) \
                .otherwise(_pack(scalars, arrays))

        self.add([], [F.coalesce(F.flatten(F.transform(arr, per_element)),
                                 _empty_violations())], when)
        return ok

    def each_entry(self, sub: Any, sptr: str, key_gate) -> Column:
        """``sub`` over the value of every map entry whose key passes
        ``key_gate``, at path ``<map>/<escaped-key>`` — the kernel's
        per-property descend for patternProperties / schema-valued
        additionalProperties. Fully JVM-side (map_entries + transform)."""
        vt, lctx, depth = self.dtype.valueType, _lambda_ctx(self.ctx), \
            self.depth + 1
        entries = F.map_entries(self.value)
        ok = F.forall(entries, lambda e: ~key_gate(e.getField("key")) | _walk(
            sub, e.getField("value"), vt, lctx, depth)[0])
        if not self.at:
            return ok

        def per_entry(e: Column) -> Column:
            k = e.getField("key")
            path = F.concat(_path_col(self.path), F.lit("/"),
                            _escape_key_col(k))
            _, scalars, arrays = _walk(sub, e.getField("value"), vt, lctx,
                                       depth, (path, sptr))
            if not (scalars or arrays):
                return _empty_violations()
            return F.when(key_gate(k), _pack(scalars, arrays)) \
                .otherwise(_empty_violations())

        self.arrays.append(F.coalesce(
            F.flatten(F.transform(entries, per_entry)), _empty_violations()))
        return ok


def _walk(schema: Any, value: Optional[Column], dtype: DataType,
          ctx: CompileContext, depth: int,
          at: Optional[tuple] = None) -> tuple[Column, list, list]:
    """Compile one schema node over ``value`` (None: the row itself).

    Returns ``(ok, scalars, arrays)``: the node's null-safe predicate
    (true ⇒ valid) and, when ``at = (path, sptr)`` is given, its
    violation Columns — viol-or-null scalars and array<violation>
    Columns, each in keyword order. ``path`` is the instance pointer
    (a str while static), ``sptr`` the schema pointer."""
    if not isinstance(schema, dict) or not schema:
        return _true(), [], []
    if depth > 48:
        raise CompileError("schema nesting too deep for expression compile")
    n = _Node(_deref(ctx, schema), value, dtype, ctx, depth, at)
    for kw, arg in n.schema.items():
        draft, handle = _KEYWORDS.get(kw, (None, None))
        if handle is not None and draft in (None, ctx.draft):
            handle(n, kw, arg)
    return _all(n.oks), n.scalars, n.arrays


def _type_predicate(arg: Any, n: _Node) -> Optional[Column]:
    """Membership predicate for a type name / union-with-inline-schemas,
    or None when the dtype statically satisfies a member: an absent
    value passes and a present one matches, so the runtime form would
    be ``isnull(v) OR isnotnull(v)`` — a tautology Catalyst does not
    fold, paid per element inside array lambdas."""
    members = arg if isinstance(arg, list) else [arg]
    # a member that is neither a name nor a schema accepts (jesse parity)
    if any(not isinstance(m, (dict, str))
           or isinstance(m, str) and _static_type_match(m, n.dtype)
           for m in members):
        return None
    out: Optional[Column] = None
    for member in members:
        if isinstance(member, str):
            # statically impossible, or "null" (runtime-dependent)
            m = n.value.isNull() if member == "null" else F.lit(False)
        elif n.draft3:
            m = n.test(member)
        else:
            continue  # draft4 type members are names only
        out = m if out is None else (out | m)
    if out is None:
        return None
    # absent values pass the type check (required handles presence)
    return n.value.isNull() | F.coalesce(out, F.lit(False))


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
# keyword handlers — each keyword's dtype and draft applicability lives
# in exactly one place, and one call emits its ok and its violations
# ---------------------------------------------------------------------------

def _one_row(atom: str, dtypes, pred):
    """A keyword that applies to ``dtypes`` and fails as one violation
    row when ``pred(n, kw, arg)`` is false (NULL ⇒ vacuous pass; a None
    predicate ⇒ nothing to check)."""
    def handle(n: _Node, kw: str, arg: Any) -> None:
        if isinstance(n.dtype, dtypes):
            cond = pred(n, kw, arg)
            if cond is not None:
                n.check(kw, atom, _ns(cond))
    return handle


def _bound(n: _Node, kw: str, arg: Any) -> Column:
    exclusive = n.schema.get("exclusive" + kw.capitalize()) is True
    v, lim = n.value, F.lit(arg)
    if kw == "minimum":
        return v > lim if exclusive else v >= lim
    return v < lim if exclusive else v <= lim


def _max_length(n: _Node, kw: str, arg: Any) -> Column:
    # exact: a UTF-8 string never has more characters than bytes.
    # The byte count is O(1); length() walks every character, and
    # runs only when the byte count fails
    return (F.octet_length(n.value) <= F.lit(arg)) \
        | (F.length(n.value) <= F.lit(arg))


def _property_count(n: _Node) -> Column:
    if isinstance(n.dtype, MapType):
        return F.size(F.map_keys(n.value))
    count = F.lit(0)
    for f_ in n.dtype.fields:
        count = count + F.when(n.value.getField(f_.name).isNotNull(), 1) \
            .otherwise(0)
    return F.when(n.value.isNull(), F.lit(None)).otherwise(count)


def _type(n: _Node, kw: str, arg: Any) -> None:
    n.check(kw, E.WRONG_TYPE, _type_predicate(arg, n))


def _disallow(n: _Node, kw: str, arg: Any) -> None:
    allowed = _type_predicate(arg, n)
    if allowed is None:  # every present value has a disallowed type
        n.check(kw, E.NOT_ALLOWED, n.value.isNull())
    else:
        n.check(kw, E.NOT_ALLOWED, n.value.isNull() | ~allowed)


def _enum(n: _Node, kw: str, arg: Any) -> None:
    if isinstance(arg, list):
        n.check(kw, E.NOT_IN_RANGE,
                _enum_predicate(arg, n.value, n.dtype, n.ctx.draft))


def _any_of(n: _Node, kw: str, arg: Any) -> None:
    """anyOf / oneOf: one violation row when not exactly the required
    number of subschemas pass."""
    if not isinstance(arg, list):
        return
    oks = [n.test(sub) for sub in arg]
    if kw == "anyOf":
        out = F.lit(False)
        for p in oks:
            out = out | p
        n.check(kw, E.ANY_SCHEMAS_NOT_VALID, n.value.isNull() | out)
    else:
        count = F.lit(0)
        for p in oks:
            count = count + F.when(p, 1).otherwise(0)
        n.check(kw, E.NOT_ONE_SCHEMA_VALID, n.value.isNull() | (count == 1))


def _not(n: _Node, kw: str, arg: Any) -> None:
    if isinstance(arg, dict):
        n.check(kw, E.NOT_SCHEMA_VALID, n.value.isNull() | ~n.test(arg))


def _all_of(n: _Node, kw: str, arg: Any) -> None:
    """allOf (draft4) / extends (draft3): full sub-error propagation at
    the same instance path (kernel ``_descend`` per member, no
    collapsing)."""
    if isinstance(arg, list):
        subs = list(enumerate(arg))
    elif isinstance(arg, dict) and kw == "extends":
        subs = [(None, arg)]
    else:
        return
    oks = [n.sub(sub, n.value, n.dtype, sptr=n.sptr + "/" + kw
                 + ("" if i is None else f"/{i}"))
           for i, sub in subs if isinstance(sub, dict)]
    if oks:
        n.oks.append(_all(oks))


def _items(n: _Node, kw: str, arg: Any) -> None:
    if not isinstance(n.dtype, ArrayType):
        return
    if isinstance(arg, dict):
        n.oks.append(n.each_item(arg, n.value, n.sptr + "/items"))
    elif isinstance(arg, list):
        n.oks.append(_tuple_items(n, arg))


def _tuple_items(n: _Node, subs: list) -> Column:
    """Tuple-form ``items`` + ``additionalItems`` with per-index pointer
    paths (0-based, `jesse_schema_validator_tests.erl:107-135`).
    Reference semantics (`jesse_validator_draft3.erl:511-536`):
    too-short ⇒ invalid (``not_enought_items``); longer with
    additionalItems absent/true ⇒ valid *without validating the prefix*
    (reference quirk, `:524-526`); additionalItems false ⇒ invalid;
    schema ⇒ prefix + extras checked. Draft4: prefix always checked,
    short arrays fine."""
    k, size = len(subs), F.size(n.value)
    additional = n.schema.get("additionalItems")
    prefix_active = None
    if n.draft3:
        n.fail(n.present(size < k), E.NOT_ENOUGHT_ITEMS, n.sptr + "/items")
        prefix_active = (size == k) | \
            ((size > k) & F.lit(isinstance(additional, dict)))
    if additional is False:
        n.fail(n.present(size > k), E.NO_EXTRA_ITEMS_ALLOWED,
               n.sptr + "/additionalItems")
    base = _all([n.sub(sub, F.get(n.value, i), n.dtype.elementType, f"/{i}",
                       n.sptr + f"/items/{i}", when=prefix_active)
                 for i, sub in enumerate(subs) if isinstance(sub, dict)])
    extras_ok = _true()
    if isinstance(additional, dict):
        extras = F.slice(n.value, k + 1, F.greatest(size - k, F.lit(0)))
        extras_ok = n.each_item(additional, extras,
                                n.sptr + "/additionalItems", offset=k,
                                when=n.present(size > k))
    if n.draft3:
        if additional is None or additional is True:
            out = (F.when(size < k, F.lit(False))
                    .when(size == k, base)
                    .otherwise(F.lit(True)))
        elif additional is False:
            out = F.when(size == k, base).otherwise(F.lit(False))
        else:
            out = F.when(size < k, F.lit(False)).otherwise(base & extras_ok)
    else:
        out = base & extras_ok
        if additional is False:
            out = out & (size <= k)
    return n.value.isNull() | F.coalesce(out, F.lit(False))


def _properties(n: _Node, kw: str, arg: Any) -> None:
    if not isinstance(arg, dict) or not n.is_object:
        return
    oks = []
    for name, sub in arg.items():
        if not isinstance(sub, dict):
            continue
        seg = "/" + E.pointer_escape(name)
        sptr = n.sptr + "/properties" + seg
        if n.draft3 and sub.get("required") is True:
            n.missing(sptr, name)
            oks.append(n.has(name))
        if isinstance(n.dtype, MapType):
            oks.append(n.sub(sub, F.element_at(n.value, F.lit(name)),
                             n.dtype.valueType, seg, sptr))
        elif name in n.fields:
            oks.append(n.sub(sub, n.field(name), n.fields[name], seg, sptr))
    n.oks.append(n.guard(_all(oks)))


def _required(n: _Node, kw: str, arg: Any) -> None:
    if isinstance(arg, list) and n.is_object:
        for name in arg:
            n.missing(n.sptr + "/required", name)
        n.oks.append(n.guard(_all([n.has(name) for name in arg])))


def _dependencies(n: _Node, kw: str, arg: Any) -> None:
    if not isinstance(arg, dict) or not n.is_object:
        return
    oks = []
    for name, dep in arg.items():
        if isinstance(dep, dict):
            members = [dep]
        elif isinstance(dep, (str, list)):
            # draft3 array members may themselves be schemas
            # (check_dependency_array → check_dependency_value)
            members = [dep] if isinstance(dep, str) else [
                m for m in dep
                if isinstance(m, str) or n.draft3 and isinstance(m, dict)]
        else:
            raise CompileError("wrong_type_dependency in schema")
        trigger = n.has(name)
        sptr = n.sptr + "/dependencies/" + E.pointer_escape(name)
        reqs = []
        for m in members:
            if isinstance(m, str):
                # one missing_dependency PER missing name
                # (check_dependency_array folds per member)
                reqs.append(n.has(m))
                n.fail(n.present(trigger & ~n.has(m)), E.MISSING_DEPENDENCY,
                       sptr, detail=m)
            else:
                # draft3 pushes the dependency name on the instance path
                # (check_value(DependencyName, ...), reference :600-605);
                # draft4 validates at the object's own path
                seg = "/" + E.pointer_escape(name) if n.draft3 else None
                reqs.append(n.sub(m, n.value, n.dtype, seg, sptr,
                                  when=n.present(trigger)))
        oks.append(~trigger | _all(reqs))
    n.oks.append(n.guard(_all(oks)))


def _pattern_properties(n: _Node, kw: str, arg: Any) -> None:
    if not isinstance(arg, dict) or not n.is_object:
        return
    subs = {p: s for p, s in arg.items() if isinstance(s, dict)}
    if isinstance(n.dtype, StructType):
        # static field names: compile-time Python-re match — exact
        # kernel/jesse semantics, no vetting needed
        oks = [n.sub(s, n.field(f_.name), f_.dataType,
                     "/" + E.pointer_escape(f_.name),
                     n.sptr + "/patternProperties/" + E.pointer_escape(p))
               for f_ in n.dtype.fields for p, s in subs.items()
               if _py_key_search(p, f_.name)]
        n.oks.append(n.guard(_all(oks)))
        return
    # runtime keys: per-entry sub-validation with /m/<key> paths
    # (`jesse_validator_draft3.erl` check_pattern_properties) — key
    # match via vetted Java regex inside a map-entry lambda
    oks = []
    for p, s in subs.items():
        _require_vetted_key_pattern(p)
        jp = java_vetted_pattern(p)
        oks.append(n.each_entry(
            s, n.sptr + "/patternProperties/" + E.pointer_escape(p),
            lambda k, jp=jp: k.rlike(jp)))
    n.oks.append(n.guard(_all(oks)))


def _additional_properties(n: _Node, kw: str, arg: Any) -> None:
    if not (arg is False or isinstance(arg, dict)) or not n.is_object:
        return
    sptr = n.sptr + "/additionalProperties"
    if isinstance(n.dtype, StructType):
        oks = []
        for f_ in _struct_extras(n.schema, n.dtype):
            child, seg = n.field(f_.name), "/" + E.pointer_escape(f_.name)
            if arg is False:
                # one violation per extra property, property name on
                # the path (kernel _check_additional_properties)
                oks.append(child.isNull())
                n.fail(n.present(child.isNotNull()),
                       E.NO_EXTRA_PROPERTIES_ALLOWED, sptr, seg=seg,
                       detail=f_.name)
            else:
                oks.append(n.sub(arg, child, f_.dataType, seg, sptr))
        n.oks.append(n.guard(_all(oks)))
        return
    known = list((n.schema.get("properties") or {}).keys())
    patterns = list((n.schema.get("patternProperties") or {}).keys())
    for p in patterns:
        _require_vetted_key_pattern(p)

    def is_extra(k: Column) -> Column:
        cond = ~k.isin(known) if known else F.lit(True)
        for p in patterns:
            cond = cond & ~k.rlike(java_vetted_pattern(p))
        return cond

    if isinstance(arg, dict):
        n.oks.append(n.guard(n.each_entry(arg, sptr, is_extra)))
        return
    entries = F.map_entries(n.value)
    n.oks.append(n.guard(F.forall(
        entries, lambda e: ~is_extra(e.getField("key")))))
    if n.at:
        n.arrays.append(F.coalesce(F.array_compact(F.transform(
            entries,
            lambda e: F.when(is_extra(e.getField("key")), _viol(
                E.NO_EXTRA_PROPERTIES_ALLOWED,
                F.concat(_path_col(n.path), F.lit("/"),
                         _escape_key_col(e.getField("key"))),
                sptr, n.vj, detail=e.getField("key"))))),
            _empty_violations()))


# keyword → (the one draft it belongs to, or None for both; handler).
# The draft3 reference skips keywords it does not know
# (`jesse_validator_draft3.erl:190-191`), so draft4's combinators and
# min/maxProperties are vacuous there; ``format`` and unknown keywords
# are vacuous everywhere.
_KEYWORDS = {
    "type": (None, _type),
    "disallow": (E.DRAFT3, _disallow),
    "enum": (None, _enum),
    "minimum": (None, _one_row(E.NOT_IN_RANGE, _NUMERIC, _bound)),
    "maximum": (None, _one_row(E.NOT_IN_RANGE, _NUMERIC, _bound)),
    "divisibleBy": (E.DRAFT3, _one_row(
        E.NOT_DIVISIBLE, _NUMERIC,
        lambda n, kw, arg: _divisible_exact(n.value, arg))),
    "multipleOf": (E.DRAFT4, _one_row(
        E.NOT_DIVISIBLE, _NUMERIC,
        lambda n, kw, arg: _multiple_of(n.value, arg))),
    "minLength": (None, _one_row(
        E.WRONG_LENGTH, StringType,
        lambda n, kw, arg: F.length(n.value) >= F.lit(arg))),
    "maxLength": (None, _one_row(E.WRONG_LENGTH, StringType, _max_length)),
    "pattern": (None, _one_row(
        E.NO_MATCH, StringType,
        lambda n, kw, arg: _pattern_predicate(arg, n.value, n.ctx))),
    "minItems": (None, _one_row(
        E.WRONG_SIZE, ArrayType,
        lambda n, kw, arg: F.size(n.value) >= F.lit(arg))),
    "maxItems": (None, _one_row(
        E.WRONG_SIZE, ArrayType,
        lambda n, kw, arg: F.size(n.value) <= F.lit(arg))),
    "uniqueItems": (None, _one_row(
        E.NOT_UNIQUE, ArrayType,
        lambda n, kw, arg: F.size(F.array_distinct(n.value))
        == F.size(n.value) if arg is True else None)),
    "minProperties": (E.DRAFT4, _one_row(
        E.WRONG_SIZE, _OBJECT,
        lambda n, kw, arg: _property_count(n) >= F.lit(arg))),
    "maxProperties": (E.DRAFT4, _one_row(
        E.WRONG_SIZE, _OBJECT,
        lambda n, kw, arg: _property_count(n) <= F.lit(arg))),
    "items": (None, _items),
    "properties": (None, _properties),
    # draft3 marks required properties inside ``properties``
    "required": (E.DRAFT4, _required),
    "dependencies": (None, _dependencies),
    "patternProperties": (None, _pattern_properties),
    "additionalProperties": (None, _additional_properties),
    "allOf": (E.DRAFT4, _all_of),
    "extends": (E.DRAFT3, _all_of),
    "anyOf": (E.DRAFT4, _any_of),
    "oneOf": (E.DRAFT4, _any_of),
    "not": (E.DRAFT4, _not),
}


# ---------------------------------------------------------------------------
# the compiled plan
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
        if not self.checks and not self.array_checks:
            return _empty_violations()
        out = F.coalesce(_pack(self.checks, self.array_checks),
                         _empty_violations())
        if self.row_gate is not None:
            # row-level short circuit: valid rows (the overwhelming
            # majority at scale) evaluate only the boolean predicate —
            # zero array/struct allocation on the hot path
            out = F.when(F.coalesce(self.row_gate, F.lit(True)),
                         _empty_violations()).otherwise(out)
        return out


def compile_plan(schema: dict, struct_type: StructType, *,
                 draft: str = E.DRAFT4, registry=None) -> CompiledPlan:
    """Compile an object schema against a DataFrame's StructType. The
    root node is the row: its ``properties`` bind the top-level
    columns, and its ok predicate is the row gate."""
    draft = E.normalize_draft(draft)
    ctx = CompileContext(draft=draft, registry=registry, root_schema=schema)
    gate, checks, arrays = _walk(schema, None, struct_type, ctx, 0, ("", ""))
    return CompiledPlan(schema=schema, draft=draft, checks=checks,
                        array_checks=arrays, row_gate=gate)
