"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the north-star
flagship — full-draft4-constraint validation over a generated
interleaved text+media table — reported as docs/sec.

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "flagship_docs": N, "flagship_docs_per_sec": r}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from sparkjesse.engine import ValidationEngine  # noqa: E402
from sparkjesse.generator import INTERLEAVED_SCHEMA, interleaved_documents  # noqa: E402
from sparkjesse.partitioning import detect_hot_keys  # noqa: E402

# representative subset of the driver-checked queries (full set runs in
# the correctness gate; the bench picks the heavy/interesting ones)
BENCH_QUERIES = [
    "v_summary", "v_violations", "v_span_violations", "kw_draft3",
    "ds_stats", "ds_duplicates", "ds_histogram", "ds_drift",
    "ds_ks_exact", "txt_docstats", "dd_exact", "dd_minhash",
    "dd_simhash", "dd_simhash_pairs", "dd_simhash_wide", "dd_para",
    "sim_topk", "sim_ann", "kvc_agg",
    # round 3 additions: event-time, corpus, and decontamination ops
    "ts_sessions", "ts_asof", "txt_tfidf", "dd_decontaminate",
    # round 4: substring-level dedup (window explode + md5 groupBy)
    "dd_spans",
    # round 3 additions: PII scrub + host-cap (regex scan / bounded top-k)
    # (round 5: txt_redact also carries the folded-in PII signals,
    # web_hostcap the folded-in URL parse + canonicalization)
    "txt_redact", "web_hostcap",
    # round 5: the hash-pinned PQ-encode and bigram-LM parity paths
    "sim_pq_parity", "txt_lm_parity",
    # round 5: data selection (DSIR, SemDeDup) + sequence packing
    "sel_dsir", "dd_semantic", "pack_parity",
]

# flagship interleaved-doc count per sf unit (sf0.1 → 1M docs): sized
# so the timed region is compute-bound — at 100k docs the wall was
# dominated by fixed job overhead and under-reported docs/sec ~20x
# vs the same plan at 32M docs (see BENCH_SCALING.json)
FLAGSHIP_DOCS_PER_SF = 10_000_000


def _consume(df) -> int:
    """Force full evaluation without driver-side materialization."""
    return df.agg(F.count(F.lit(1))).collect()[0][0]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # default: the CPUs this process may run on, not a fixed 32 that
    # oversubscribes a small host
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("sparkjesse-bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # absorb one-time session/executor warmup outside the timed queries
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    timings: dict[str, float] = {}
    qs = entrymod.queries()
    for name in BENCH_QUERIES:
        t0 = time.perf_counter()
        _consume(qs[name](spark, sf_dir))
        timings[name] = round(time.perf_counter() - t0, 3)

    # flagship: full draft4 constraint set over the interleaved table
    # (materialized to parquet once, untimed — production reads storage,
    # generation is fixture prep), salted skew-aware repartition on
    # doc_id hash (north rule)
    n_docs = max(10_000, int(FLAGSHIP_DOCS_PER_SF * sf))
    fixture = f"/tmp/sparkjesse_bench_docs_{n_docs}"
    if not os.path.exists(os.path.join(fixture, "_SUCCESS")):
        interleaved_documents(spark, n_docs, seed=42, partitions=cpus * 4) \
            .write.mode("overwrite").parquet(fixture)
    docs = spark.read.parquet(fixture)
    # untimed warmup: run the same compiled plan over a bounded slice so
    # JIT/codegen happen outside the timed region (steady-state
    # throughput is the design point; see tools/bench_scaling.py)
    warm = spark.read.parquet(fixture).limit(50_000)
    detect_hot_keys(warm, "doc_id", sample_fraction=0.5)
    ValidationEngine().validate(warm, INTERLEAVED_SCHEMA) \
        .key_aligned_summary(cpus * 4).agg(F.sum("docs")).collect()

    # this host's hypervisor intermittently withholds most of the
    # requested cores (BASELINE.md "Measurement validity"), inflating a
    # single wall up to 10x. Run FIVE trials, report the median as the
    # headline plus every wall and a /proc/stat busy-cores covariate so
    # a noisy window is visible instead of silently recorded. (Three
    # trials left the median hostage to one slow delivery window —
    # walls of 3.7/6.5/8.0s put a 2x swing on the headline.)
    def _busy():
        with open("/proc/stat") as f:
            v = list(map(int, f.readline().split()[1:9]))
        return sum(v) - v[3] - v[4], sum(v)

    walls, busies = [], []
    summary = None
    for _ in range(5):
        b0, c0 = _busy()
        t0 = time.perf_counter()
        skew = detect_hot_keys(docs, "doc_id")
        res = ValidationEngine().validate(docs, INTERLEAVED_SCHEMA)
        summary = res.key_aligned_summary(cpus * 4, skew=skew).agg(
            F.sum("docs").alias("docs"),
            F.sum("fail").alias("fail")).collect()[0]
        walls.append(round(time.perf_counter() - t0, 3))
        b1, c1 = _busy()
        busies.append(round((b1 - b0) / max(c1 - c0, 1)
                            * (os.cpu_count() or cpus), 1))
    flagship_sec = sorted(walls)[len(walls) // 2]
    timings["flagship_interleaved_validate"] = flagship_sec

    total = round(sum(timings.values()), 3)
    out = {
        "metric": f"sparkjesse bench: {len(BENCH_QUERIES)} driver "
                  "queries + interleaved draft4 validation",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "flagship_docs": int(summary["docs"]),
        "flagship_fail": int(summary["fail"]),
        "flagship_docs_per_sec": round(summary["docs"] / flagship_sec, 1),
        "flagship_walls_sec": walls,
        "flagship_host_busy_cores": busies,
        "cpus": cpus,
    }
    # steady-state comparison: the flagship region at bench scale is
    # partly fixed-overhead-bound (small fixture, one trial, shared
    # JVM), so report the scaling campaign's clean-median per-core
    # throughput alongside it — that is the steady-state number
    # (32M docs, fresh JVMs, 10 interleaved trials; BASELINE.md
    # explains the gap and the campaign protocol)
    sc_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_SCALING.json")
    # Guarded end-to-end: a malformed/partial BENCH_SCALING.json must
    # never take down the bench output (round-3 postmortem — a missing
    # clean_median_docs_per_sec key crashed the whole run AFTER every
    # query had already been timed).
    try:
        if os.path.exists(sc_path):
            with open(sc_path) as f:
                sc = json.load(f)
            hi = sc["4N"]
            med = (hi.get("clean_median_docs_per_sec")
                   or hi.get("median_docs_per_sec"))
            per_core = med / hi["cores"]
            out["steady_state_docs_per_sec_per_core"] = round(per_core, 1)
            out["steady_state_docs_per_sec_at_bench_cpus"] = round(
                per_core * cpus, 1)
            out["steady_state_source"] = (
                f"BENCH_SCALING.json median at {hi['cores']} cores, "
                f"{sc['n_docs']} docs, fresh-JVM trials")
            out["flagship_vs_steady_state"] = round(
                out["flagship_docs_per_sec"]
                / out["steady_state_docs_per_sec_at_bench_cpus"], 3)
    except Exception as exc:  # pragma: no cover - defensive
        out["steady_state_error"] = f"{type(exc).__name__}: {exc}"
    print(json.dumps(out))


if __name__ == "__main__":
    main()
