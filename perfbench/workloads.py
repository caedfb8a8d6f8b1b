"""The benchmark's workloads. Each drives a real sparkjesse entry point
on inputs from ``fixtures`` and checks its outputs against oracles that
come from the fixture's plant record, never from the engine.

A workload exposes ``trial(i)`` (one end-to-end call on the whole
input, returning its input docs and the list of oracle failures) and
``check()`` (oracles too costly to run per trial).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import sys
import time
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

import fixtures as fx

# validate_job's batch unit (``sources.input_partitions`` default)
FILES_PER_BATCH = 8


class InjectedFailure(RuntimeError):
    """Raised by the benchmark inside ``sources.read_partition`` to
    interrupt the first ``validate_job`` call."""


def _titled(schema: dict, tag: str) -> dict:
    # ``title`` is an annotation that validation ignores; a per-trial
    # value changes the plan-cache key, so every trial pays the cold
    # compile a fresh spark-submit pays, whatever address the engine's
    # registry happens to get
    return {**schema, "title": tag}


def _counts(table: pa.Table) -> dict[tuple[str, str], int]:
    agg = table.group_by(["error_type", "schema_ptr"]).aggregate(
        [("error_type", "count")])
    return {(r["error_type"], r["schema_ptr"]): r["error_type_count"]
            for r in agg.to_pylist()}


class _Interleaved:
    """Shared by the validation workloads: the interleaved table."""
    name = ""
    files = 4
    dirty_share = 0.0

    def __init__(self, work: str, seed: int, n_docs: int) -> None:
        from sparkjesse.generator import INTERLEAVED_SCHEMA
        self.spark = None   # set once the session is up
        self.work = work
        self.schema = INTERLEAVED_SCHEMA
        self.n_docs = n_docs
        paths = fx.materialize(
            os.path.join(work, "fixtures"), self.name, seed, n_docs,
            self._build)
        self.docs_path = paths["docs"]
        self.planted = pq.read_table(paths["planted"])
        self.expected = _counts(self.planted)

    def _build(self, seed: int, n: int) -> dict:
        docs, planted = fx.interleaved(seed, n, self.dirty_share)
        return {"docs": (docs, self.files), "planted": (planted, 1)}

    def _first_file(self) -> str:
        return os.path.join(self.docs_path,
                            sorted(os.listdir(self.docs_path))[0])

    def check(self) -> list[str]:
        return []

    def pyvalidator_us_per_doc(self, n: int = 2000) -> float:
        """Single-thread ``validate_value`` over a fixed parsed sample of
        the table (SQL NULL fields dropped, as ``to_json`` drops them)."""
        from sparkjesse.pyvalidator import validate_value
        sample = pq.read_table(self._first_file()).slice(0, n).to_pylist()
        for d in sample:
            d["spans"] = [{k: v for k, v in s.items() if v is not None}
                          for s in d["spans"]]
        t0 = time.perf_counter()
        for d in sample:
            validate_value(self.schema, d)
        return (time.perf_counter() - t0) / len(sample) * 1e6


class ValidateClean(_Interleaved):
    """Flagship shape: detect_hot_keys -> validate -> key_aligned_summary
    -> collect, on one large clean table."""
    name = "validate_clean"
    # 32 scan tasks on 4 cores: with 8, each core read two whole files,
    # so one core held up by the host delayed the stage by a whole file
    files = 32

    def __init__(self, work, seed, n_docs, partitions) -> None:
        super().__init__(work, seed, n_docs)
        self.partitions = partitions

    def trial(self, i: int, tracer=None) -> tuple[int, list[str]]:
        from sparkjesse.engine import ValidationEngine
        from sparkjesse.partitioning import detect_hot_keys
        df = self.spark.read.parquet(self.docs_path)
        skew = detect_hot_keys(df, "doc_id")
        res = ValidationEngine().validate(df, _titled(self.schema,
                                                      f"trial-{i}"))
        rows = res.key_aligned_summary(self.partitions, skew=skew).collect()
        docs = sum(r["docs"] for r in rows)
        fail = sum(r["fail"] for r in rows)
        bad = []
        if docs != self.n_docs:
            bad.append(f"summary docs {docs} != {self.n_docs}")
        if fail != 0:
            bad.append(f"clean table reported {fail} failing docs")
        if len(rows) > self.partitions:
            bad.append(f"{len(rows)} summary rows > {self.partitions}")
        if tracer is not None and rows:
            sizes = [r["docs"] for r in rows]
            tracer.current["key_skew"] = \
                max(sizes) / (sum(sizes) / len(sizes))
        return self.n_docs, bad


class ValidateDirty(_Interleaved):
    """The flagship shape on a table with planted violations: the
    annotated frame is persisted, as validate_job does per batch, and
    feeds both key_aligned_summary and a per-(error_type, schema_ptr)
    count of the exploded violations."""
    name = "validate_dirty"
    dirty_share = 0.15
    files = 32

    def __init__(self, work, seed, n_docs, partitions) -> None:
        super().__init__(work, seed, n_docs)
        self.partitions = partitions

    def trial(self, i: int, tracer=None) -> tuple[int, list[str]]:
        from sparkjesse.engine import ValidationEngine
        from sparkjesse.partitioning import detect_hot_keys
        df = self.spark.read.parquet(self.docs_path)
        skew = detect_hot_keys(df, "doc_id")
        res = ValidationEngine().validate(df, _titled(self.schema,
                                                      f"trial-{i}"))
        ann = res.annotated.persist()
        try:
            rows = res.key_aligned_summary(self.partitions,
                                           skew=skew).collect()
            got = {(r["error_type"], r["schema_ptr"]): r["count"]
                   for r in res.violations.groupBy(
                       "error_type", "schema_ptr").count().collect()}
        finally:
            ann.unpersist()
        docs = sum(r["docs"] for r in rows)
        fail = sum(r["fail"] for r in rows)
        bad = []
        if docs != self.n_docs:
            bad.append(f"summary docs {docs} != {self.n_docs}")
        # one planted violation per dirty doc
        if fail != self.planted.num_rows:
            bad.append(f"summary fail {fail} != planted "
                       f"{self.planted.num_rows}")
        if got != self.expected:
            bad.append(f"violation counts {sorted(got.items())} != "
                       f"planted {sorted(self.expected.items())}")
        if tracer is not None and rows:
            sizes = [r["docs"] for r in rows]
            tracer.current["key_skew"] = \
                max(sizes) / (sum(sizes) / len(sizes))
            tracer.current["violations_rows"] = sum(got.values())
        return self.n_docs, bad

    def check(self) -> list[str]:
        """validate_json's per-doc verdicts equal the typed path's on the
        same dirty docs (one file of the table, as multisets of
        ``(doc_id, valid, sorted error types)``). This is the one call
        into the Arrow pandas-UDF path, which runs ``pyvalidator`` in
        the Python workers; each side runs once and is compared here."""
        from pyspark.sql import functions as F
        from sparkjesse.engine import ValidationEngine
        df = self.spark.read.parquet(self._first_file())
        jdf = df.select("doc_id", F.to_json(
            F.struct(*[F.col(c) for c in df.columns])).alias("doc_json"))
        eng = ValidationEngine()

        def verdicts(res) -> Counter:
            return Counter(
                (r["doc_id"], r["valid"], tuple(r["types"]))
                for r in res.annotated.select(
                    "doc_id", "valid",
                    F.array_sort(F.transform(
                        "violations",
                        lambda v: v["error_type"])).alias("types"))
                .collect())
        typed = verdicts(eng.validate(df, self.schema))
        dyn = verdicts(eng.validate_json(jdf, "doc_json", self.schema))
        n = sum(((typed - dyn) + (dyn - typed)).values())
        return [f"{n} verdict rows differ between validate_json and "
                f"validate"] if n else []


class ValidateJobDirty(_Interleaved):
    """tools/validate_job.py main() with --checkpoint over a many-file
    dirty table: the first call is interrupted at the middle batch, the
    second resumes it. One such call is an untimed checked operation of
    the traced validate_dirty run."""
    name = "validate_job_dirty"
    dirty_share = 0.15

    def __init__(self, work, seed, n_docs, partitions, batches) -> None:
        self.files = batches * FILES_PER_BATCH
        super().__init__(work, seed, n_docs)
        self.partitions = partitions
        self.batches = batches
        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools"))
        import validate_job
        self.main = validate_job.main
        self.resume_walls: list[float] = []

    def _call(self, argv: list[str]) -> dict:
        from sparkjesse import engine
        # each call models a fresh spark-submit, so no plan compiled by
        # an earlier call may serve it (the cache key's id(registry)
        # would otherwise hit or miss on GC address reuse)
        getattr(engine, "_PLAN_CACHE", {}).clear()
        out = io.StringIO()
        saved = sys.argv
        sys.argv = ["validate_job.py", *argv]
        try:
            with contextlib.redirect_stdout(out):
                self.main()
        finally:
            sys.argv = saved
        return json.loads(out.getvalue().strip().splitlines()[-1])

    def trial(self, i: int, tracer=None) -> tuple[int, list[str]]:
        from sparkjesse import sources
        base = os.path.join(self.work, "job", f"trial-{i}")
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        schema_file = os.path.join(base, "schema.json")
        with open(schema_file, "w", encoding="utf-8") as fh:
            json.dump(_titled(self.schema, f"trial-{i}"), fh)
        out = os.path.join(base, "out")
        argv = ["--input", self.docs_path, "--output", out,
                "--checkpoint", os.path.join(base, "ledger"),
                "--partitions", str(self.partitions),
                "--schema-json", schema_file]
        victim = self.batches // 2
        real = sources.read_partition
        armed = [True]

        def read_partition(spark, path, pid, **kw):
            if pid == f"batch-{victim:05d}" and armed[0]:
                armed[0] = False
                raise InjectedFailure(f"injected failure at {pid}")
            return real(spark, path, pid, **kw)

        sources.read_partition = read_partition
        try:
            try:
                self._call(argv)
            except InjectedFailure:
                pass
            else:
                raise AssertionError("injected failure did not fire")
            t0 = time.perf_counter()
            result = self._call(argv)
            resume = time.perf_counter() - t0
        finally:
            sources.read_partition = real
        if i >= 0:   # not the warm-up call
            self.resume_walls.append(resume)

        bad = []
        want_ran = [f"batch-{b:05d}" for b in range(victim, self.batches)]
        want_skipped = [f"batch-{b:05d}" for b in range(victim)]
        if result["resume"] != {"ran": want_ran, "skipped": want_skipped}:
            bad.append(f"resume ran/skipped {result['resume']}, "
                       f"want {want_ran}/{want_skipped}")
        want = {"docs": self.n_docs, "fail": self.planted.num_rows}
        if result["metrics"] != want:
            bad.append(f"ledger totals {result['metrics']} != planted {want}")
        viol = pq.read_table(os.path.join(out, "violations"),
                             columns=["error_type", "schema_ptr"])
        got = _counts(viol)
        if got != self.expected:
            bad.append(f"violation counts {sorted(got.items())} != "
                       f"planted {sorted(self.expected.items())}")
        if tracer is not None:
            rec = tracer.current
            rec["resume"] = result["resume"]
            rec["resume_s"] = resume
            rec["violations_rows"] = viol.num_rows
            rec["violations_bytes"] = _du(os.path.join(out, "violations"))
            summ = pq.read_table(os.path.join(out, "summary"),
                                 columns=["docs"])["docs"].to_pylist()
            rec["key_skew"] = max(summ) / (sum(summ) / len(summ))
        shutil.rmtree(base, ignore_errors=True)
        return self.n_docs, bad


class PrepPipeline:
    """tools/pipeline_job.py main() with --benchmark and --lm-keep 0.9
    over a small seeded text corpus, checked against its plant record:
    the stats funnel is monotone; the quality filter, exact dedup and
    decontamination remove exactly the planted low-quality docs, exact
    copies and benchmark copies; near-dup removal drops no more than
    the planted near copies; ``written`` equals the rows in the output;
    no planted PII string reaches the output."""

    FUNNEL = ["input", "after_filter", "after_exact_dedup",
              "after_near_dedup", "after_decontaminate", "after_lm_cut",
              "written"]

    def __init__(self, work: str, seed: int, n_base: int) -> None:
        self.work = work
        paths = fx.materialize(os.path.join(work, "fixtures"), "prep",
                               seed, n_base, self._build)
        self.paths = paths
        self.planted = pq.read_table(paths["planted"]).to_pylist()
        self.n_docs = sum(pq.ParquetFile(os.path.join(paths["docs"], f))
                          .metadata.num_rows
                          for f in os.listdir(paths["docs"]))
        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools"))
        import pipeline_job
        self.main = pipeline_job.main

    @staticmethod
    def _build(seed: int, n: int) -> dict:
        docs, bench, planted = fx.corpus(seed, n)
        return {"docs": (docs, 2), "bench": (bench, 1),
                "planted": (planted, 1)}

    def run(self) -> tuple[dict, list[str]]:
        out = os.path.join(self.work, "prep-out")
        shutil.rmtree(out, ignore_errors=True)
        argv = ["pipeline_job.py", "--input", self.paths["docs"],
                "--output", out, "--benchmark", self.paths["bench"],
                "--lm-keep", "0.9", "--partitions", "4",
                "--vocab-size", "4096"]
        buf = io.StringIO()
        saved = sys.argv
        sys.argv = argv
        try:
            with contextlib.redirect_stdout(buf):
                self.main()
        finally:
            sys.argv = saved
        stats = json.loads(buf.getvalue().strip().splitlines()[-1])
        plants: dict[str, int] = {}
        for p in self.planted:
            plants[p["plant"]] = plants.get(p["plant"], 0) + 1
        funnel = [stats.get(k, -1) for k in self.FUNNEL]
        written = pq.read_table(os.path.join(out, "docs"),
                                columns=["text"])["text"].to_pylist()
        bad = []
        if funnel[0] != self.n_docs or funnel != sorted(funnel,
                                                        reverse=True):
            bad.append(f"funnel {dict(zip(self.FUNNEL, funnel))} is not "
                       f"monotone from {self.n_docs} input docs")
        for plant, hi, lo in (("low_quality", "input", "after_filter"),
                              ("exact_dup", "after_filter",
                               "after_exact_dedup"),
                              ("bench_copy", "after_near_dedup",
                               "after_decontaminate")):
            if stats.get(hi, 0) - stats.get(lo, 0) != plants[plant]:
                bad.append(f"{hi} - {lo} = "
                           f"{stats.get(hi, 0) - stats.get(lo, 0)}, "
                           f"planted {plant} = {plants[plant]}")
        near = stats.get("after_exact_dedup", 0) \
            - stats.get("after_near_dedup", 0)
        if not 0 <= near <= plants["near_dup"]:
            bad.append(f"near-dup stage dropped {near} docs, planted "
                       f"{plants['near_dup']}")
        if stats.get("written") != len(written):
            bad.append(f"written {stats.get('written')} != {len(written)} "
                       f"output rows")
        pii = [p["marker"] for p in self.planted if p["plant"] == "pii"]
        leaked = sum(1 for t in written for m in pii if m in t)
        if leaked:
            bad.append(f"{leaked} planted PII strings in the output")
        shutil.rmtree(out, ignore_errors=True)
        os.remove(out + "_stats.json")   # pipeline_job writes it beside
        return stats, bad


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, files in os.walk(path) for f in files)
