"""ValidationEngine — DataFrame-scale validation facade.

API surface re-expresses `/root/reference/src/jesse.erl:49-178`
(``validate`` by registry key, ``validate_with_schema`` inline) over Spark:

* **Typed-column path** (the 100 TB hot path): the schema is compiled once
  on the driver into Catalyst Column expressions (``sparkjesse.compiler``);
  evaluation is whole-stage-codegen, zero Python per row.
* **Dynamic-JSON path**: for documents that are genuinely heterogeneous
  (a JSON string column), an Arrow-batched pandas UDF runs the pure-Python
  kernel per batch — the "pandas/Arrow UDF batch validators" leg of the
  north star. Never row-at-a-time Python UDFs.

Outputs, per north rule: an annotated DataFrame (``violations`` array +
``valid`` flag), an exploded violations table (jesse-parity rows), and a
per-partition pass/fail summary.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from functools import cached_property
from typing import Any, Optional, Union

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import errors as E
from .compiler import CompileError, CompiledPlan, compile_plan

# Compiled-plan cache. Building the validator Column tree costs
# thousands of py4j round trips (~2s driver wall for the flagship
# schema — measured round 4); the tree itself is a pure function of
# (schema, input struct, draft, registry content) and its Columns are
# unbound, so it is reusable across DataFrames within one Spark app.
# Keyed by applicationId so a restarted JVM can never serve stale
# gateway objects, and by the registry's content fingerprint so a new
# engine over an equal registry hits while one whose $ref targets
# differ misses. Hot paths that win: streaming micro-batches,
# per-partition resume jobs, and any caller validating many tables
# against one schema. A cached CompileError records the vetted-subset
# rejection so fallback schemas skip straight to the Python kernel on
# every revalidation.
_PLAN_CACHE: dict = {}
_PLAN_CACHE_MAX = 64
from .pyvalidator import validate_value
from .registry import SchemaRegistry
from .types import VIOLATIONS_ARRAY_TYPE


@dataclass
class ValidationResult:
    annotated: DataFrame   # input + violations array<struct> + valid flag
    doc_id_col: str

    @cached_property
    def violations(self) -> DataFrame:
        """Exploded violations table: one row per (doc, violation).
        Cached: re-accessing must not re-run Catalyst analysis of the
        (large) compiled expression tree."""
        return (
            self.annotated
            .where(F.size("violations") > 0)
            .select(F.col(self.doc_id_col).alias("doc_id"),
                    F.explode("violations").alias("v"))
            .select("doc_id", "v.error_kind", "v.error_type", "v.path",
                    "v.schema_ptr", "v.value_json", "v.detail")
        )

    @cached_property
    def summary(self) -> DataFrame:
        """Per-partition pass/fail summary (north rule). Partial aggregation
        happens map-side; one row per Spark partition. Cached like
        ``violations``."""
        return (
            self.annotated
            .select(F.spark_partition_id().alias("partition_id"),
                    F.col("valid"))
            .groupBy("partition_id")
            .agg(F.count(F.lit(1)).alias("docs"),
                 F.sum(F.col("valid").cast("long")).alias("pass"),
                 F.sum((~F.col("valid")).cast("long")).alias("fail"))
        )

    def key_aligned_summary(self, num_partitions: int, *,
                            skew=None, physical: bool = False) -> DataFrame:
        """Pass/fail summary per ``hash(doc_id)`` partition (north
        rule: per-partition passes with explicit repartitioning on
        doc_id hash, salted for skew).

        Default (``physical=False``): the partition id is computed
        *logically* — ``pmod(hash(doc_id, salt), n)``, bit-identical to
        what Spark's HashPartitioning assigns — and aggregated with a
        two-phase groupBy. Partial aggregation collapses each map task
        to at most ``num_partitions`` rows before the exchange, so the
        shuffle moves ~``tasks × n`` counter rows instead of every
        (doc_id, valid) pair: at the 10^12-row design point that is the
        difference between a multi-TB shuffle and a few MB, and hot
        keys cannot skew a shuffle that never carries per-row data.

        ``physical=True`` keeps the explicit ``repartition(n,
        hash(doc_id), salt)`` + per-Spark-partition aggregation — the
        shape you want when per-row work (partitioned sinks, per-key
        passes) must actually follow the exchange. Both modes produce
        identical summaries **when given the same ``skew`` report**
        (asserted in tests); with ``skew=None`` the physical mode
        auto-detects hot keys while the logical mode assumes none, so
        partition assignments (not totals) can differ on skewed input —
        pass an explicit report when the ids must line up. Pass
        ``skew`` from ``partitioning.detect_hot_keys`` run against the
        *source* key column (a column-pruned scan) so detection never
        re-runs validation."""
        from pyspark.sql.types import ArrayType, MapType, StructType

        from .partitioning import (SALT_COL, SkewReport, salt_column,
                                   salted_repartition)
        # the pairs frame is only (doc_id, valid) — at most 2 distinct
        # whole-row tiebreak values per key, which would defeat hot-key
        # salting. Carry per-row entropy from the SOURCE row's scalar
        # columns into the tiebreak instead (same expression in both
        # modes, so their salts — and partition ids — agree).
        scalars = [f.name for f in self.annotated.schema.fields
                   if not isinstance(f.dataType,
                                     (ArrayType, MapType, StructType))
                   and f.name != "valid"]
        tb = F.xxhash64(*[F.col(c) for c in scalars[:5]])
        pairs = self.annotated.select(
            F.col(self.doc_id_col).alias("doc_id"), F.col("valid"),
            tb.alias("__tb__"))
        agg = [F.count(F.lit(1)).alias("docs"),
               F.sum(F.col("valid").cast("long")).alias("pass"),
               F.sum((~F.col("valid")).cast("long")).alias("fail")]
        if physical:
            rep = salted_repartition(pairs, "doc_id", num_partitions,
                                     skew=skew, tiebreak=F.col("__tb__")) \
                .drop(SALT_COL, "__tb__")
            return (rep.select(F.spark_partition_id().alias("partition_id"),
                               F.col("valid"))
                       .groupBy("partition_id").agg(*agg))
        if skew is None:
            skew = SkewReport(0, [], 0.0)
        salt = salt_column(pairs, "doc_id", skew, tiebreak=F.col("__tb__"))
        # pmod(hash(...), n) is exactly HashPartitioning's partition-id
        # expression (Murmur3 + pmod) — logical and physical modes agree
        pid = F.pmod(F.hash(F.col("doc_id"), salt), F.lit(num_partitions))
        return (pairs.select(pid.alias("partition_id"), F.col("valid"))
                     .groupBy("partition_id").agg(*agg))

    def totals(self) -> dict:
        row = (self.annotated
               .agg(F.count(F.lit(1)).alias("docs"),
                    F.sum(F.col("valid").cast("long")).alias("pass"))
               .collect()[0])
        docs = row["docs"] or 0
        ok = row["pass"] or 0
        return {"docs": docs, "pass": ok, "fail": docs - ok}


class ValidationEngine:
    def __init__(self, registry: Optional[SchemaRegistry] = None,
                 default_draft: str = E.DRAFT4) -> None:
        self.registry = registry if registry is not None else SchemaRegistry()
        self.default_draft = E.normalize_draft(default_draft)

    # -- registry passthrough (jesse.erl:49-75 equivalents) ---------------
    def add_schema(self, key: str, schema: Any) -> None:
        self.registry.add(key, schema)

    def del_schema(self, key: str) -> None:
        self.registry.delete(key)

    def load_schemas(self, path: str):
        return self.registry.load_dir(path)

    # -- single-value fast path -------------------------------------------
    def validate_value(self, schema_or_key: Union[str, dict], value: Any,
                       **kw) -> list:
        schema = self._resolve(schema_or_key)
        kw.setdefault("default_draft", self.default_draft)
        return validate_value(schema, value, registry=self.registry, **kw)

    # -- DataFrame paths ----------------------------------------------------
    def validate(self, df: DataFrame, schema_or_key: Union[str, dict], *,
                 doc_id_col: str = "doc_id",
                 draft: Optional[str] = None,
                 max_violations_per_doc: Optional[int] = None,
                 violation_sink=None,
                 ) -> ValidationResult:
        """Typed-column validation via the Catalyst compiler.

        ``max_violations_per_doc`` is jesse's ``allowed_errors`` budget
        (`jesse_state.erl:108-111`): the violations array is truncated
        to the first N entries per doc (``valid`` still reflects the
        untruncated outcome). ``0`` is jesse's fail-fast default —
        the array is emptied but ``valid`` still marks the row. Works
        on batch and streaming DataFrames alike — the plan is pure
        column expressions.

        ``violation_sink`` is the DataFrame-scale re-expression of
        jesse's pluggable error handler (`jesse.erl:140`,
        `jesse_state.erl:103-107`): a callable invoked with the
        exploded violations DataFrame, e.g. ``lambda v:
        v.write.parquet(...)``. At 10^12 rows a per-error callback
        cannot exist (errors live on executors); the sink receives the
        violations *relation* instead.

        Schemas outside the vetted Catalyst subset (e.g. a ``pattern``
        whose PCRE/Java-regex semantics diverge inside an array
        lambda) transparently fall back to the Arrow-batched Python
        kernel over ``to_json`` — same outputs, slower path."""
        schema = self._resolve(schema_or_key)
        draft = E.normalize_draft(draft) if draft else self._draft_of(schema)
        plan = self._plan(df, schema, draft)
        if isinstance(plan, CompileError):
            return self._validate_via_kernel(
                df, schema, doc_id_col=doc_id_col, draft=draft,
                max_violations_per_doc=max_violations_per_doc,
                violation_sink=violation_sink)
        annotated = (
            df.withColumn("violations", plan.violations_column())
              .withColumn("valid", F.size("violations") == 0)
        )
        if max_violations_per_doc is not None:
            annotated = annotated.withColumn(
                "violations",
                F.slice(F.col("violations"), 1, max_violations_per_doc))
        res = ValidationResult(annotated=annotated, doc_id_col=doc_id_col)
        if violation_sink is not None:
            # the sink's consumption runs the validation job; without a
            # persist the caller's later use of the result would run it
            # AGAIN (double evaluation at the 10^12-row design point).
            # The engine leaves the frame cached — callers release it
            # with res.annotated.unpersist() when done.
            res.annotated.persist()
            violation_sink(res.violations)
        return res

    # alias for jesse.erl:154-178 parity
    validate_with_schema = validate

    def validate_multi(self, df: DataFrame,
                       schemas: dict, *,
                       drafts: Optional[dict] = None,
                       keep_violations: bool = False) -> DataFrame:
        """Validate one DataFrame against SEVERAL schemas in ONE scan:
        for each ``name -> schema`` adds ``{name}_valid`` (and, with
        ``keep_violations``, ``{name}_violations``). The alternative —
        one ``validate`` per schema joined back on a key — shuffles
        the corpus once per schema; this composes the compiled
        predicate columns onto a single projection, so the table is
        read once and everything stays map-side (the multi-constraint
        audit shape: N data-contract checks per table per run).
        ``drafts`` optionally overrides draft detection per name.
        Schemas that fall back to the Python kernel are not supported
        here (CompileError propagates) — run those via ``validate``."""
        drafts = drafts or {}
        out = df
        for name, schema_or_key in schemas.items():
            schema = self._resolve(schema_or_key)
            draft = drafts.get(name)
            draft = E.normalize_draft(draft) if draft \
                else self._draft_of(schema)
            plan = self._plan(df, schema, draft)
            if isinstance(plan, CompileError):
                raise CompileError(*plan.args)
            viol = plan.violations_column()
            if keep_violations:
                out = out.withColumn(f"{name}_violations", viol)
                out = out.withColumn(
                    f"{name}_valid",
                    F.size(f"{name}_violations") == 0)
            else:
                out = out.withColumn(f"{name}_valid", F.size(viol) == 0)
        return out

    def _plan(self, df: DataFrame, schema: dict,
              draft: str) -> Union[CompiledPlan, CompileError]:
        """The compiled plan for ``schema`` over ``df``'s columns, or the
        CompileError that routes it to the Python kernel — both cached
        (see ``_PLAN_CACHE``)."""
        key = (df.sparkSession.sparkContext.applicationId, draft,
               json.dumps(schema, sort_keys=True, default=str),
               df.schema.json(), self.registry.fingerprint())
        plan = _PLAN_CACHE.get(key)
        if plan is None:
            try:
                plan = compile_plan(schema, df.schema, draft=draft,
                                    registry=self.registry)
            except CompileError as exc:
                plan = CompileError(*exc.args)  # no traceback to pin
            if len(_PLAN_CACHE) >= _PLAN_CACHE_MAX:
                _PLAN_CACHE.pop(next(iter(_PLAN_CACHE)))
            _PLAN_CACHE[key] = plan
        return plan

    def _validate_via_kernel(self, df: DataFrame, schema: dict, *,
                             doc_id_col: str, draft: str,
                             max_violations_per_doc: Optional[int] = None,
                             violation_sink=None) -> ValidationResult:
        """Typed rows → JSON → Python-kernel pandas UDF. ``to_json``
        omits null fields, matching the typed-column convention that
        SQL NULL means *absent*."""
        helper = "__doc_json__"
        jdf = df.withColumn(
            helper, F.to_json(F.struct(*[F.col(c) for c in df.columns])))
        n = max_violations_per_doc
        # keep >=1 violation in the kernel so `valid` stays correct,
        # then apply the budget slice (0 ⇒ empty array, valid intact)
        res = self.validate_json(jdf, helper, schema,
                                 doc_id_col=doc_id_col, draft=draft,
                                 max_errors=None if n is None
                                 else max(1, n))
        annotated = res.annotated.drop(helper)
        if n is not None:
            annotated = annotated.withColumn(
                "violations", F.slice(F.col("violations"), 1, n))
        res = ValidationResult(annotated=annotated, doc_id_col=doc_id_col)
        if violation_sink is not None:
            res.annotated.persist()  # see validate(): sink + caller use
            violation_sink(res.violations)
        return res

    def validate_json(self, df: DataFrame, json_col: str,
                      schema_or_key: Union[str, dict], *,
                      doc_id_col: str = "doc_id",
                      draft: Optional[str] = None,
                      max_errors: Optional[int] = None,
                      parser=None) -> ValidationResult:
        """Dynamic-JSON validation: Arrow-batched pandas UDF running the
        pure-Python kernel. Schema + registry snapshot travel in the UDF
        closure — one driver→executor crossing, no callbacks (SURVEY §3.4).

        ``parser`` is jesse's ``parser_fun`` (`jesse.erl:63,183-192`):
        a callable ``str -> parsed value``; any exception it raises is
        mapped to a ``parse_error`` violation for that row, exactly as
        jesse maps ``{parse_error, E}``. Default: ``json.loads``. The
        callable must be picklable (it ships in the UDF closure)."""
        schema = self._resolve(schema_or_key)
        draft = E.normalize_draft(draft) if draft else self._draft_of(schema)
        registry_snapshot = {k: self.registry.read(k)
                             for k in self.registry.keys()}
        parse = parser if parser is not None else json.loads

        @F.pandas_udf(VIOLATIONS_ARRAY_TYPE)
        def _validate_batch(docs: pd.Series) -> pd.Series:
            from sparkjesse.pyvalidator import validate_value as vv
            from sparkjesse.registry import SchemaRegistry as Reg
            reg = Reg()
            for k, v in registry_snapshot.items():
                reg.add(k, v)
            out = []
            for raw in docs:
                if raw is None:
                    out.append([(E.DATA_INVALID, "parse_error", "", "",
                                 "null", "")])
                    continue
                try:
                    value = parse(raw)
                except Exception as exc:  # parser_fun contract: any
                    # failure becomes {parse_error, E} (jesse.erl:188-192)
                    out.append([(E.DATA_INVALID, "parse_error", "", "",
                                 E.json_dumps(str(raw)[:200]),
                                 str(exc)[:200])])
                    continue
                viols = vv(schema, value, registry=reg,
                           default_draft=draft, max_errors=max_errors)
                out.append([(v.error_kind, v.error_type, v.path,
                             v.schema_ptr, v.value_json, v.detail)
                            for v in viols])
            return pd.Series(out)

        annotated = (
            df.withColumn("violations", _validate_batch(F.col(json_col)))
              .withColumn("valid", F.size("violations") == 0)
        )
        return ValidationResult(annotated=annotated, doc_id_col=doc_id_col)

    # -- helpers ------------------------------------------------------------
    def _resolve(self, schema_or_key: Union[str, dict]) -> dict:
        if isinstance(schema_or_key, str):
            return self.registry.read(schema_or_key)
        return schema_or_key

    def _draft_of(self, schema: dict) -> str:
        """Resolve the draft from ``$schema`` — unknown URIs raise
        ``SchemaUnsupported`` (jesse refuses rather than validating
        with the wrong semantics, `jesse_schema_validator.erl:86-87`)."""
        from .pyvalidator import draft_of
        d = draft_of(schema, self.default_draft)
        if d.startswith("unsupported:"):
            raise E.SchemaUnsupported(d[len("unsupported:"):])
        return d
