"""Measurement plumbing: process-tree CPU and RSS from /proc, Spark job
and stage counters from the status store, and the span tracer used by
the traced run.

Spans are recorded from the benchmark's own files only: the tracer
wraps the public functions that the entry points import (module
attributes are looked up at call time, so a wrapper installed before
``main()`` sees every call) plus ``DataFrame.count``/``collect`` and
``DataFrameWriter.parquet``. Each span sets its own Spark job group, so
the status store attributes every job, and through it every stage's
executor CPU, GC and shuffle counters, to exactly one span.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, CPU seconds including reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii",
                      errors="replace") as fh:
                raw = fh.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        f = raw[raw.rindex(")") + 2:].split()
        # fields after comm: state ppid ... utime(11) stime(12)
        # cutime(13) cstime(14)
        cpu = sum(int(x) for x in f[11:15]) / _TICK
        out[int(name)] = (int(f[1]), comm, cpu)
    return out


def _tree(table: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def host_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far: the share
    of CPU time the hypervisor took from this VM, a covariate of every
    wall measured on it."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU ticks between two ``host_steal`` readings that
    the hypervisor took."""
    return (after[0] - before[0]) / max(after[1] - before[1], 1)


def _hwm_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class ProcessTree:
    """CPU seconds and peak RSS of this process and all its descendants:
    the driver Python, the JVM it launched and the JVM's Python
    workers."""

    def __init__(self) -> None:
        self.root = os.getpid()

    def reset_peak(self) -> None:
        """Restart this process's RSS high-water mark at its current
        RSS (before any descendant is started)."""
        with open("/proc/self/clear_refs", "w", encoding="ascii") as fh:
            fh.write("5")

    def peak_rss(self) -> int:
        """Sum of each live Python/JVM process's RSS high-water mark
        (kernel-tracked, so no sampling misses a peak). Other
        descendants are skipped: a child the JVM forks to run a shell
        command briefly shares the JVM's pages and would count them
        twice."""
        table = _proc_table()
        return sum(_hwm_bytes(p) for p in _tree(table, self.root)
                   if p in table and (table[p][1] == "java"
                                      or table[p][1].startswith("python")))

    def cpu(self) -> dict[str, float]:
        """CPU seconds by role: ``driver`` (this process), ``jvm`` and
        ``python_workers`` (every other descendant), and ``total``."""
        table = _proc_table()
        out = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0}
        for pid in _tree(table, self.root):
            if pid not in table:
                continue
            _ppid, comm, cpu = table[pid]
            role = ("driver" if pid == self.root else
                    "jvm" if comm == "java" else "python_workers")
            out[role] += cpu
        out["total"] = sum(out.values())
        return out


def _opt(v, default=None):
    return v.get() if v.isDefined() else default


class SparkCounters:
    """Job and stage counters from the application status store (works
    with ``spark.ui.enabled=false``)."""

    def __init__(self, spark) -> None:
        self._store = spark._jsparkSession.sparkContext().statusStore()
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway

    def jobs(self) -> list[dict]:
        seq = self._store.jobsList(None)
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            stages = j.stageIds()
            out.append({"job": j.jobId(), "group": _opt(j.jobGroup()),
                        "tasks": j.numTasks(), "name": j.name(),
                        "stages": [stages.apply(k)
                                   for k in range(stages.size())]})
        return out

    def stages(self) -> dict[int, dict]:
        empty = self._jvm.java.util.ArrayList()
        seq = self._store.stageList(
            None, False, False,
            self._gateway.new_array(self._jvm.double, 0), empty)
        out: dict[int, dict] = {}
        for i in range(seq.size()):
            s = seq.apply(i)
            d = out.setdefault(s.stageId(), {"cpu_s": 0.0, "gc_s": 0.0,
                                             "shuffle_write": 0})
            d["cpu_s"] += s.executorCpuTime() / 1e9
            d["gc_s"] += s.jvmGcTime() / 1e3
            d["shuffle_write"] += s.shuffleWriteBytes()
        return out


def plan_counts(jplan) -> tuple[int, int]:
    """(expression nodes, higher-order-function lambdas) over every
    operator of a Catalyst plan, including the plan behind a cached
    relation. Counted from each expression's tree rendering, which has
    one line per node."""
    nodes = lambdas = 0
    todo = [jplan]
    while todo:
        op = todo.pop()
        if op.nodeName() == "AdaptiveSparkPlan":
            op = op.executedPlan()
        elif op.nodeName() == "InMemoryTableScan":
            todo.append(op.relation().cachedPlan())
        exprs = op.expressions()
        for k in range(exprs.size()):
            for line in exprs.apply(k).treeString().splitlines():
                nodes += 1
                if line.lstrip(":+- ").startswith("lambdafunction"):
                    lambdas += 1
        kids = op.children()
        todo.extend(kids.apply(k) for k in range(kids.size()))
    return nodes, lambdas


class Tracer:
    """Spans with parent links, one Spark job group per span."""

    def __init__(self, spark, tree: ProcessTree) -> None:
        self.sc = spark.sparkContext
        self.tree = tree
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._undo: list = []
        # count nodes and lambdas of each action's plan
        self.count_plans = True

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": f"pb{len(self.spans)}", "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        cpu0 = self.tree.cpu()
        t0 = time.perf_counter()
        try:
            yield rec
        except BaseException:
            rec["error"] = True
            raise
        finally:
            rec["wall"] = time.perf_counter() - t0
            cpu1 = self.tree.cpu()
            rec["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"],
                                    self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @property
    def current(self) -> dict:
        """The innermost open span."""
        return self._stack[-1]

    def patch(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` with ``make(original)`` until
        :meth:`unwrap`."""
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._undo.append((owner, attr, orig))

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Span every call of ``owner.attr``; ``on_result(rec, result)``
        may record counts from the call's result."""
        def make(orig):
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                with self.span(name, site=call_site()) as rec:
                    result = orig(*args, **kwargs)
                    if on_result is not None:
                        on_result(rec, result)
                    return result
            return wrapper
        self.patch(owner, attr, make)

    def unwrap(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def attribute_jobs(self, counters: SparkCounters) -> None:
        """Attach job/stage counters to each span, inclusive of its
        children: ``jobs``, ``tasks``, ``exec_cpu_s``, ``gc_s``,
        ``shuffle_write``. A stage that several jobs list (a reused
        shuffle) counts once, for the first job that ran it."""
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            s.update(jobs=0, tasks=0, exec_cpu_s=0.0, gc_s=0.0,
                     shuffle_write=0)
        stages = counters.stages()
        seen: set[int] = set()
        for job in sorted(counters.jobs(), key=lambda j: j["job"]):
            own = [stages[sid] for sid in job["stages"]
                   if sid in stages and sid not in seen]
            seen.update(job["stages"])
            rec = by_id.get(job["group"])
            while rec is not None:
                rec["jobs"] += 1
                rec["tasks"] += job["tasks"]
                for st in own:
                    rec["exec_cpu_s"] += st["cpu_s"]
                    rec["gc_s"] += st["gc_s"]
                    rec["shuffle_write"] += st["shuffle_write"]
                rec = by_id.get(rec["parent"])


def call_site() -> str:
    """``path:line`` (relative to the checkout) of the nearest caller
    that is neither a tracing wrapper nor pyspark or the standard
    library: the entry-point or library line that issued the call."""
    here = os.path.dirname(os.path.abspath(__file__))
    wrappers = {os.path.join(here, "probe.py"), os.path.join(here, "run.py")}
    frame = sys._getframe(1)
    while frame is not None:
        path = frame.f_code.co_filename
        if path not in wrappers and "pyspark" not in path \
                and not path.startswith(sys.prefix):
            return f"{os.path.relpath(path, os.path.dirname(here))}:" \
                   f"{frame.f_lineno}"
        frame = frame.f_back
    return "?"
