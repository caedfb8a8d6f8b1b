"""Per-keyword CPU cost of the flagship span gate.

Spark 4 interprets every node of a higher-order-function lambda body
once per array element (``ArrayForAll`` has no codegen), so each
keyword of ``INTERLEAVED_SCHEMA``'s ``spans.items`` subschema costs CPU
per span. This probe times one aggregate per gate variant over a clean
interleaved table and reports JVM + driver CPU-seconds per 10^6 docs
above a scan-only baseline (``sum(size(spans))``), as the median of
``--reps`` runs.

Variants:

* ``forall_true`` — a bare ``forall`` whose body is ``isnotnull(x)``,
  true on every span, so the walk never stops early;
* ``forall:<kw>`` — one keyword's predicate inside the ``forall``, in
  the form the compiler emits (``type_tautology`` is the per-field
  ``isnull(v) OR isnotnull(v)`` a statically satisfied ``type`` used
  to compile to; ``maxLength_chars`` is the old character-count form);
* ``forall:lean`` / ``forall:tautologies`` — the whole span body as
  compiled now, and with the five type tautologies put back;
* ``free:<form>`` — lambda-free array forms of the same checks.

Usage (the input is parquet with the interleaved-docs columns; the
benchmark's clean fixture fits)::

    python tools/keyword_costs.py --docs DIR [--cores 4] [--reps 3]

Prints one line per variant and a JSON object last.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from pyspark.sql import Column, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

KINDS = ["text", "image", "audio", "video"]
SEP = "\u0001"


def _ns(c: Column) -> Column:
    return F.coalesce(c, F.lit(True))


def _taut(v: Column) -> Column:
    return v.isNull() | F.coalesce(v.isNotNull(), F.lit(False))


def _span_checks(x: Column) -> dict[str, Column]:
    kind, text = x.getField("kind"), x.getField("text")
    ref, off = x.getField("media_ref"), x.getField("offset")
    return {
        "required": _ns(kind.isNotNull() & off.isNotNull()),
        "enum": kind.isNull() | F.coalesce(kind.isin(KINDS), F.lit(False)),
        "maxLength_chars": _ns(F.length(text) <= 4096),
        "maxLength_bytes": _ns((F.octet_length(text) <= 4096)
                               | (F.length(text) <= 4096)),
        "pattern": _ns(ref.rlike("(?dU)^m[0-9]+$")),
        "min_max": _ns(off >= 0) & _ns(off <= 1000000),
        "type_tautology": _taut(kind),
    }


def _lean(x: Column) -> Column:
    c = _span_checks(x)
    return (c["required"] & c["enum"] & c["maxLength_bytes"]
            & c["pattern"] & c["min_max"])


def variants() -> dict[str, Column]:
    spans = F.col("spans")
    out = {"forall_true": F.forall(spans, lambda x: x.isNotNull())}
    def one(kw: str):
        # a factory: Spark passes a two-parameter lambda (x, index)
        return lambda x: _span_checks(x)[kw]

    for kw in _span_checks(F.col("x")):
        out[f"forall:{kw}"] = F.forall(spans, one(kw))
    out["forall:lean"] = F.forall(spans, _lean)
    out["forall:tautologies"] = F.forall(spans, lambda x: _lean(x) & _taut(
        x) & _taut(x.getField("kind")) & _taut(x.getField("text"))
        & _taut(x.getField("media_ref")) & _taut(x.getField("offset")))

    kinds, texts = F.col("spans.kind"), F.col("spans.text")
    refs, offs = F.col("spans.media_ref"), F.col("spans.offset")
    kind_set = F.array(*[F.lit(k) for k in KINDS])
    alt = "(" + "|".join(KINDS) + ")"
    free = {
        "min_max": (F.array_min(offs) >= 0) & (F.array_max(offs) <= 1000000),
        "required_compact": F.size(F.array_compact(offs)) == F.size(spans),
        "enum_except": F.size(F.array_except(kinds, kind_set)) == 0,
        "enum_regex": F.array_join(kinds, SEP).rlike(
            f"^{alt}({SEP}{alt})*$"),
        # total characters <= n implies every element <= n: a
        # sufficient guard, not an exact check
        "maxLength_join": F.length(F.array_join(texts, "")) <= 4096,
        "pattern_join": F.array_join(refs, SEP).rlike(
            f"^(m[0-9]+({SEP}m[0-9]+)*)?$"),
    }
    free["all_fields"] = (free["min_max"] & free["required_compact"]
                        & free["enum_except"] & free["maxLength_join"]
                        & free["pattern_join"])
    out.update({f"free:{k}": v for k, v in free.items()})
    return out


def _cpu_s(pids: list[int]) -> float:
    tick = os.sysconf("SC_CLK_TCK")
    total = 0.0
    for pid in pids:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        total += (int(fields[11]) + int(fields[12])) / tick
    return total


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True,
                    help="parquet dir with doc_id and spans columns")
    ap.add_argument("--cores", type=int,
                    default=len(os.sched_getaffinity(0)))
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    spark = (SparkSession.builder.master(f"local[{args.cores}]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", str(args.cores))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
    df = spark.read.parquet(args.docs).select("spans")
    n_docs = df.count()

    def run(col: Column) -> float:
        q = df.agg(F.sum(F.size("spans")), F.count_if(~F.coalesce(
            col, F.lit(True))))
        c0 = _cpu_s(pids)
        q.collect()
        return _cpu_s(pids) - c0

    cases = {"scan": F.lit(True), **variants()}
    for col in cases.values():  # warm-up: JIT and file cache
        run(col)
    cpu = {name: [] for name in cases}
    for _ in range(args.reps):
        for name, col in cases.items():  # interleaved against drift
            cpu[name].append(run(col))
    scale = 1e6 / n_docs
    med = {k: statistics.median(v) * scale for k, v in cpu.items()}
    out = {"docs": n_docs, "cores": args.cores, "reps": args.reps,
           "scan_cpu_s_per_mdoc": round(med["scan"], 2),
           "extra_cpu_s_per_mdoc": {
               k: round(v - med["scan"], 2) for k, v in med.items()
               if k != "scan"}}
    for k, v in out["extra_cpu_s_per_mdoc"].items():
        print(f"{k:28s} {v:+7.2f} CPU-s / 10^6 docs")
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
