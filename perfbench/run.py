"""sparkjesse benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload validate_clean --seed 1 \
        --seconds 16 --trace 0

Runs from the root of a source checkout: ``sparkjesse`` and ``tools``
are imported from there, inputs are generated from ``--seed`` into the
checkout's ``.perfbench_work`` directory, and Spark runs in-process on
``local[<usable cores>]``. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.

Run shape (a closed loop: one caller, the next call starts when the
previous one returns):

1. Set-up: start the Spark session (which launches the JVM) and make
   ``WARMUP_TRIALS`` warm-up calls on the whole input, each checked
   like a trial. ``setup_s`` is the wall of the whole set-up.
2. Timed region: back-to-back trials, each one full end-to-end call on
   the workload's whole input, until ``--seconds`` have passed. Each
   trial's outputs are checked against the fixture's plant record; a
   trial that raises or disagrees with an oracle counts as failed.
3. Untimed checked operations: the workload's checks too costly to
   repeat per trial (``validate_dirty`` compares ``validate_json``'s
   verdicts with the typed path's) and, in traced runs only, one call
   that measures layers the timed trials do not run: in
   ``validate_clean``, ``tools/pipeline_job.py`` on a small seeded text
   corpus (textops, dedup, scrub, range-sorted writes); in
   ``validate_dirty``, ``tools/validate_job.py --checkpoint`` on a
   16-file dirty table, interrupted at its second batch and resumed
   (checkpoint, sources, the violation and summary writes).

``--trace 0`` reports the end-to-end metrics: ``cpu_s_per_mdoc`` (CPU
of the driver, JVM and Python workers per 10^6 input docs, the median
over the timed trials during which the host took under ``QUIET_STEAL``
of this VM's CPU, or over all of them if none did), ``setup_s`` and
``peak_rss_mb`` (summed RSS high-water marks of that process tree). The
text line before the JSON adds ``docs_per_s``, the same median of
per-trial throughput; it is not in the JSON because host steal moved it
between runs of the same code by more than any bound a regression check
could use.
``--trace 1`` spends half the window untraced and half traced with a
span around every call into the entry point's layers, and reports the
per-layer metrics (medians over traced trials, the untimed operations'
own spans for the Python workers' CPU and the prep stages; 0 where a
workload does not run the layer).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import probe

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SHUFFLE_PARTITIONS = 8
# a fixed-size heap, touched in full at start: with room to grow, or
# with pages touched on first use, the JVM's RSS depended on GC timing
# and made peak RSS swing by 20-40% between runs
DRIVER_MEMORY = "2g"

# docs per workload: sized so one trial is a few seconds on 4 cores
SIZES = {"validate_clean": 1_000_000, "validate_dirty": 500_000}
# the interrupted-and-resumed tools/validate_job.py call that the traced
# validate_dirty run makes once: 16 files in 2 batches
JOB_DOCS = 16_000
JOB_BATCHES = 2
# Warm-up calls. Every call compiles a fresh plan, so the JIT works in
# every call, but after the first, cold call (16-18 s) it still spends
# 8-9 then 5-6 CPU-s per call before settling at 2-3 CPU-s; the call
# after the cold one ran 10-20% slower and used 25-40% more CPU than
# the later ones. A third warm-up call would cost more of the run
# budget than the ramp it removes.
WARMUP_TRIALS = 2
# On a shared 4-vCPU VM the hypervisor gave the VM's CPUs to other
# tenants in episodes lasting minutes: 5-20% of the VM's CPU time
# stolen (under 1% between them), during which trials ran 40-70% slower
# in wall and used 40-70% more CPU alike, so a run caught in one read
# as a regression. A trial with this much steal is left out of the
# medians, unless every trial of the run had it; the text line says
# how many were kept.
QUIET_STEAL = 0.02
# base docs of the text corpus that the traced validate_clean run puts
# through tools/pipeline_job.py once (about 180 Spark jobs whatever the
# size, so it is kept small)
PREP_BASE_DOCS = 200

# pipeline_job stages: a span issued from tools/pipeline_job.py belongs
# to the first stage whose marker appears in the statement that issued
# it (the stats key its count() fills, or the library call it makes)
PREP_STAGES = [
    ("textops.quality_s", ("quality_cols", "drop_report", "after_filter")),
    ("dedup.exact_s", ("after_exact_dedup",)),
    ("dedup.simhash_s", ("simhash_near_pairs", "duplicate_clusters",
                         "after_near_dedup")),
    ("dedup.decontaminate_s", ("decontaminate_report",
                               "after_decontaminate")),
    ("textops.lm_train_s", ("ngram_lm_train",)),
    ("textops.lm_cut_s", ("lm_score_col", "percentile_approx",
                          "after_lm_cut")),
    ("scrub.redact_s", ("redact_cols", "pii_redactions")),
    ("textops.vocab_s", ("build_vocab", "/vocab")),
    ("textops.encode_s", ("encode_documents",)),
    ("sources.write_range_sorted_s", ("write_range_sorted",)),
]

PER_LAYER = [
    ("partitioning.detect_s", "s"), ("partitioning.detect_jobs", "count"),
    ("partitioning.sampled_rows", "count"),
    ("partitioning.hot_keys", "count"), ("partitioning.key_skew", "ratio"),
    ("engine.build_s", "s"), ("compiler.compile_s", "s"),
    ("compiler.plan_nodes", "count"), ("compiler.hof_lambdas", "count"),
    ("engine.plan_s", "s"), ("engine.exec_s", "s"),
    ("engine.jobs", "count"), ("engine.tasks", "count"),
    ("engine.exec_cpu_s", "s"), ("engine.gc_s", "s"),
    ("engine.shuffle_write_bytes", "bytes"),
    ("engine.violations_rows", "count"),
    ("engine.violations_bytes", "bytes"),
    ("engine.violations_write_s", "s"), ("engine.summary_write_s", "s"),
    ("engine.python_worker_cpu_s", "s"),
    ("checkpoint.ledger_s", "s"), ("checkpoint.batches_ran", "count"),
    ("checkpoint.batches_skipped", "count"),
    ("checkpoint.batch_p50_s", "s"), ("checkpoint.resume_s", "s"),
    ("sources.list_s", "s"), ("spark.jobs_per_batch", "count"),
    ("pyvalidator.us_per_doc", "us"),
    *[(name, "s") for name, _ in PREP_STAGES],
    ("textops.lm_model_entries", "count"),
    ("pipeline.jobs", "count"), ("pipeline.count_jobs", "count"),
    ("pipeline.exec_cpu_s", "s"), ("pipeline.shuffle_bytes", "bytes"),
    ("trace.overhead_frac", "ratio"),
]

# the layers only tools/validate_job.py runs; the traced validate_dirty
# run takes them from its one job call
JOB_LAYERS = [
    "engine.violations_bytes", "engine.violations_write_s",
    "engine.summary_write_s", "checkpoint.ledger_s",
    "checkpoint.batches_ran", "checkpoint.batches_skipped",
    "checkpoint.batch_p50_s", "checkpoint.resume_s", "sources.list_s",
    "spark.jobs_per_batch",
]


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_session(cores: int):
    from pyspark.sql import SparkSession
    tmp = os.path.join(WORK, "tmp")
    spark = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{cores}]")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={tmp}")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def make_workload(name: str, seed: int, cores: int):
    import workloads as wl
    cls = wl.ValidateClean if name == "validate_clean" else wl.ValidateDirty
    return cls(WORK, seed, SIZES[name], 4 * cores)


def quiet(samples: list) -> list:
    """The trials the medians are taken over: those during which the
    hypervisor took less than ``QUIET_STEAL`` of this VM's CPU, or all
    of them when none was that quiet."""
    return [x for x in samples if x[2] < QUIET_STEAL] or samples


def timed_trials(workload, tree, seconds: float, start: int,
                 tracer=None):
    """Back-to-back trials for ``seconds``: ([(docs/s, process-tree
    CPU-s per 10^6 docs, host steal share) per completed trial],
    failures, attempted). A trial that raises has no sample; one whose
    output disagrees with an oracle keeps its sample and counts as
    failed."""
    samples, failed, attempted = [], 0, 0
    t_end = time.perf_counter() + seconds
    i = start
    while True:
        t0, cpu0 = time.perf_counter(), tree.cpu()["total"]
        steal0 = probe.host_steal()
        docs = 0
        try:
            if tracer is None:
                docs, bad = workload.trial(i)
            else:
                with tracer.span("trial"):
                    docs, bad = workload.trial(i, tracer)
        except Exception:  # a failed operation is counted, not fatal
            bad = [traceback.format_exc()]
        wall = time.perf_counter() - t0
        cpu = tree.cpu()["total"] - cpu0
        steal = probe.steal_share(steal0, probe.host_steal())
        attempted += 1
        if bad:
            failed += 1
            _log(f"trial {i} failed: {' | '.join(bad)}")
        if docs:
            samples.append((docs / wall, cpu / docs * 1e6, steal))
        i += 1
        if time.perf_counter() >= t_end:
            return samples, failed, attempted


def install_tracing(tracer, spark) -> None:
    """Spans around the entry points' calls into each layer, and around
    every ``count``/``collect``/``DataFrameWriter.parquet`` action. An
    action's query is planned inside its span first, so planning and
    execution time separate (exact for ``collect``; a writer plans its
    query once more inside the write)."""
    from probe import call_site, plan_counts
    from sparkjesse import (checkpoint, dedup, engine, partitioning,
                            scrub, sources, textops)

    def skew(rec, report):
        rec["sampled_rows"] = report.sampled_rows
        rec["hot_keys"] = len(report.hot_keys)

    tracer.wrap(partitioning, "detect_hot_keys",
                "partitioning.detect_hot_keys", skew)
    tracer.wrap(engine.ValidationEngine, "validate", "engine.validate")
    tracer.wrap(engine.ValidationEngine, "validate_json",
                "engine.validate_json")
    tracer.wrap(engine, "compile_plan", "compiler.compile_plan")
    tracer.wrap(sources, "input_partitions", "sources.input_partitions")
    tracer.wrap(sources, "snapshot_id", "sources.snapshot_id")

    def lm_entries(rec, model):
        rec["lm_model_entries"] = len(model["uni"]) + len(model["bi"])

    for owner, attr, on_result in (
            (textops, "quality_cols", None),
            (textops, "ngram_lm_train", lm_entries),
            (textops, "lm_score_col", None), (textops, "build_vocab", None),
            (textops, "encode_documents", None),
            (dedup, "simhash_near_pairs", None),
            (dedup, "duplicate_clusters", None),
            (dedup, "decontaminate_report", None),
            (scrub, "redact_cols", None),
            (sources, "write_range_sorted", None)):
        tracer.wrap(owner, attr, f"{owner.__name__.split('.')[-1]}.{attr}",
                    on_result)

    def ledger(orig):
        def run_with_checkpoints(partitions, process, ledger, **kw):
            def spanned(pid):
                with tracer.span("checkpoint.process", pid=pid):
                    return process(pid)
            with tracer.span("checkpoint.run_with_checkpoints"):
                return orig(partitions, spanned, ledger, **kw)
        return run_with_checkpoints

    tracer.patch(checkpoint, "run_with_checkpoints", ledger)

    def action(name):
        def make(orig):
            def wrapper(self, *args, **kwargs):
                df = getattr(self, "_df", self)  # a writer's frame
                with tracer.span(f"action.{name}", site=call_site(),
                                 target=str(args[:1])) as rec:
                    # count() plans a new query; pipeline_job's plans
                    # are not counted (their walk would dominate it)
                    if name != "count" and tracer.count_plans:
                        qe = df._jdf.queryExecution()
                        with tracer.span("engine.plan"):
                            qe.executedPlan()
                        rec["plan_nodes"] = plan_counts(qe.analyzed())[0]
                        rec["hof_lambdas"] = \
                            plan_counts(qe.executedPlan())[1]
                    return orig(self, *args, **kwargs)
            return wrapper
        return make

    df = spark.range(1)
    for owner, attr in ((type(df), "count"), (type(df), "collect"),
                        (type(df.write), "parquet")):
        tracer.patch(owner, attr, action(attr))


def _statement(path: str, line: int) -> str:
    """Source of the innermost statement of ``path`` that spans
    ``line``."""
    import ast
    with open(path, encoding="utf-8") as fh:
        src = fh.read()
    best = None
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.stmt) \
                and node.lineno <= line <= node.end_lineno \
                and (best is None or node.lineno >= best.lineno
                     and node.end_lineno <= best.end_lineno):
            best = node
    return ast.get_source_segment(src, best) if best else ""


def prep_metrics(tracer) -> dict:
    """Per-stage walls of the one traced pipeline_job call, with its
    job, CPU and shuffle totals. Zero when the run made no such call."""
    out = {name: 0.0 for name, _ in PREP_STAGES}
    out.update({"textops.lm_model_entries": 0, "pipeline.jobs": 0,
                "pipeline.count_jobs": 0, "pipeline.exec_cpu_s": 0.0,
                "pipeline.shuffle_bytes": 0})
    top = [s for s in tracer.spans if s["name"] == "pipeline"]
    if not top:
        return out
    pipe = top[0]
    out.update({"pipeline.jobs": pipe["jobs"],
                "pipeline.exec_cpu_s": pipe["exec_cpu_s"],
                "pipeline.shuffle_bytes": pipe["shuffle_write"]})
    tool = "tools/pipeline_job.py:"
    for s in tracer.spans:
        if s["parent"] != pipe["id"] or not s.get("site", "") \
                .startswith(tool):
            continue
        if s["name"] in ("action.count", "action.collect"):
            out["pipeline.count_jobs"] += s["jobs"]
        out["textops.lm_model_entries"] += s.get("lm_model_entries", 0)
        stmt = _statement(os.path.join(ROOT, "tools", "pipeline_job.py"),
                          int(s["site"][len(tool):]))
        for name, markers in PREP_STAGES:
            if any(m in stmt for m in markers):
                out[name] += s["wall"]
                break
    return out


def layer_metrics(tracer, workload, untraced_rate: float,
                  traced_rate: float) -> dict:
    by_id = {s["id"]: s for s in tracer.spans}
    trials = [s for s in tracer.spans if s["name"] == "trial"]
    per_trial: dict[str, list[float]] = {name: [] for name, _ in PER_LAYER}

    def ancestors(s):
        p = by_id.get(s["parent"])
        while p is not None:
            yield p
            p = by_id.get(p["parent"])

    def root_metrics(t) -> dict:
        spans = [s for s in tracer.spans
                 if any(a is t for a in ancestors(s))]

        def named(*names):
            return [s for s in spans if s["name"] in names]

        def wall(*names):
            return sum(s["wall"] for s in named(*names))

        detect = named("partitioning.detect_hot_keys")
        actions = [s for s in spans if s["name"].startswith("action.")]
        # actions the entry point issued itself, not from inside another
        # action or hot-key detection
        top_actions = [s for s in actions if not any(
            a["name"].startswith("action.")
            or a["name"] == "partitioning.detect_hot_keys"
            for a in ancestors(s))]
        procs = named("checkpoint.process")
        rwc = named("checkpoint.run_with_checkpoints")
        writes = named("action.parquet")
        v = {
            "partitioning.detect_s": wall("partitioning.detect_hot_keys"),
            "partitioning.detect_jobs": sum(s["jobs"] for s in detect),
            "partitioning.sampled_rows":
                sum(s.get("sampled_rows", 0) for s in detect),
            "partitioning.hot_keys": sum(s.get("hot_keys", 0)
                                         for s in detect),
            "partitioning.key_skew": t.get("key_skew", 0.0),
            "engine.build_s": wall("engine.validate",
                                    "engine.validate_json"),
            "compiler.compile_s": wall("compiler.compile_plan"),
            "compiler.plan_nodes": max([s.get("plan_nodes", 0)
                                        for s in actions] or [0]),
            "compiler.hof_lambdas": max([s.get("hof_lambdas", 0)
                                         for s in actions] or [0]),
            "engine.plan_s": sum(
                c["wall"] for s in top_actions for c in spans
                if c["parent"] == s["id"] and c["name"] == "engine.plan"),
            "engine.jobs": t["jobs"], "engine.tasks": t["tasks"],
            "engine.exec_cpu_s": t["exec_cpu_s"], "engine.gc_s": t["gc_s"],
            "engine.shuffle_write_bytes": t["shuffle_write"],
            "engine.violations_rows": t.get("violations_rows", 0),
            "engine.violations_bytes": t.get("violations_bytes", 0),
            "engine.violations_write_s": sum(
                s["wall"] for s in writes if "/violations/" in s["target"]),
            "engine.summary_write_s": sum(
                s["wall"] for s in writes if "/summary/" in s["target"]),
            "checkpoint.ledger_s": sum(s["wall"] for s in rwc)
            - sum(s["wall"] for s in procs),
            "checkpoint.batches_ran": len(t.get("resume", {}).get("ran", [])),
            "checkpoint.batches_skipped":
                len(t.get("resume", {}).get("skipped", [])),
            "checkpoint.batch_p50_s":
                statistics.median([s["wall"] for s in procs
                                   if not s.get("error")] or [0.0]),
            "checkpoint.resume_s": t.get("resume_s", 0.0),
            "sources.list_s": wall("sources.input_partitions",
                                    "sources.snapshot_id"),
            "spark.jobs_per_batch": (sum(s["jobs"] for s in procs)
                                     / len(procs)) if procs else 0,
        }
        v["engine.exec_s"] = sum(s["wall"] for s in top_actions) \
            - v["engine.plan_s"]
        return v

    for t in trials:
        for k, x in root_metrics(t).items():
            per_trial[k].append(float(x))
    out = {k: statistics.median(xs) if xs else 0.0
           for k, xs in per_trial.items()}
    # the layers only validate_job runs: from its one traced call
    for job in (s for s in tracer.spans if s["name"] == "job"):
        v = root_metrics(job)
        out.update({k: float(v[k]) for k in JOB_LAYERS})
    out.update(prep_metrics(tracer))
    # the Python workers run only in the untimed validate_json check
    out["engine.python_worker_cpu_s"] = sum(
        s["cpu"]["python_workers"] for s in tracer.spans
        if s["name"] == "check")
    out["pyvalidator.us_per_doc"] = (
        workload.pyvalidator_us_per_doc()
        if hasattr(workload, "pyvalidator_us_per_doc") else 0.0)
    out["trace.overhead_frac"] = (1.0 - traced_rate / untraced_rate
                                  if untraced_rate and traced_rate else 0.0)
    units = dict(PER_LAYER)
    return {k: {"value": out[k], "unit": units[k]} for k, _ in PER_LAYER}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for need in ("sparkjesse/engine.py", "tools/validate_job.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            _log(f"{need} not found under {ROOT}: run from a source checkout")
            return 2
    # sparkjesse must import on the Python workers whatever the cwd is
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    shutil.rmtree(os.path.join(WORK, "job"), ignore_errors=True)

    cores = len(os.sched_getaffinity(0))
    tree = probe.ProcessTree()
    spark = None
    try:
        workload = make_workload(args.workload, args.seed, cores)
        # untimed checked operations: the workload's own costly oracles,
        # and in the traced validate_clean run one pipeline_job call
        ops = [("check", workload.check)]
        job = None
        if args.trace and args.workload == "validate_clean":
            import workloads
            prep = workloads.PrepPipeline(WORK, args.seed, PREP_BASE_DOCS)
            ops.append(("pipeline", lambda: prep.run()[1]))
        elif args.trace:
            import workloads
            job = workloads.ValidateJobDirty(WORK, args.seed, JOB_DOCS,
                                             4 * cores, JOB_BATCHES)
            ops.append(("job", lambda: job.trial(0, tracer)[1]))
        # writing a new seed's fixture raised this process's peak RSS by
        # ~500 MB that a cached one did not; the program's peak starts here
        tree.reset_peak()
        t0 = time.perf_counter()
        spark = start_session(cores)
        workload.spark = spark
        if job is not None:
            job.spark = spark
        failed = attempted = 0
        for i in range(-WARMUP_TRIALS, 0):
            f, a = timed_trials(workload, tree, 0, i)[1:]
            failed, attempted = failed + f, attempted + a
        setup_s = time.perf_counter() - t0

        tracer = None
        seconds = args.seconds / 2 if args.trace else args.seconds
        samples, t_failed, t_attempted = timed_trials(workload, tree,
                                                      seconds, 0)
        failed += t_failed
        attempted += t_attempted
        kept = quiet(samples)
        n_quiet = sum(st < QUIET_STEAL for _r, _c, st in samples)
        untraced = statistics.median(r for r, _c, _s in kept) \
            if kept else 0.0
        if args.trace:
            tracer = probe.Tracer(spark, tree)
            install_tracing(tracer, spark)
        try:
            if tracer is not None:
                t_samples, t_failed, t_attempted = timed_trials(
                    workload, tree, seconds, 10_000, tracer)
                failed += t_failed
                attempted += t_attempted
            for name, op in ops:
                try:
                    if tracer is None:
                        bad = op()
                    else:
                        tracer.count_plans = name != "pipeline"
                        with tracer.span(name):
                            bad = op()
                except Exception:
                    bad = [traceback.format_exc()]
                attempted += 1
                if bad:
                    failed += 1
                    _log(f"{name} failed: {' | '.join(bad)}")
        finally:
            if tracer is not None:
                tracer.unwrap()
        if tracer is not None:
            tracer.attribute_jobs(probe.SparkCounters(spark))
            with open(os.path.join(
                    WORK, f"trace-{args.workload}-s{args.seed}.json"), "w",
                    encoding="utf-8") as fh:
                json.dump(tracer.spans, fh, indent=1, default=str)
        _log("(docs/s, CPU-s per 10^6 docs, host steal) per timed trial "
             + str([(round(r), round(c, 1), round(st, 3))
                    for r, c, st in samples]))

        if args.trace:
            metrics = layer_metrics(
                tracer, workload, untraced,
                statistics.median(r for r, _c, _s in quiet(t_samples))
                if t_samples else 0.0)
        else:
            metrics = {
                "cpu_s_per_mdoc": {"value": statistics.median(
                    c for _r, c, _s in kept) if kept else 0.0,
                                   "unit": "s"},
                "setup_s": {"value": setup_s, "unit": "s"},
                "peak_rss_mb": {"value": tree.peak_rss() / 2 ** 20,
                                "unit": "MB"},
            }
    finally:
        if spark is not None:
            stop_jvm(spark)
    # human-readable line: every metric by name and unit, then the
    # ungated ones: docs_per_s, the error rate, the sample count, and
    # resume_s where the run made the validate_job call
    extra = [f"docs_per_s={untraced:.6g} docs/s",
             f"error_rate={failed / attempted:.4f} ({failed} of "
             f"{attempted} operations failed)",
             f"timed trials={len(samples)} ({n_quiet} at host steal < "
             f"{QUIET_STEAL:.0%}; medians over "
             f"{'those' if n_quiet else 'all'})"]
    resume = job.resume_walls if job is not None else []
    if resume:
        extra.append(f"resume_s={statistics.median(resume):.3f} s")
    print(f"{args.workload}: " + ", ".join(
        [f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items()]
        + extra))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
