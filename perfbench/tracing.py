"""Tracing for ``--trace 1`` runs, entirely from outside the program.

- ``Tracer`` keeps spans (name, start, end, parent, op) in memory and
  writes them as JSON when the run ends. Program functions get spans by
  wrapping the module attributes they are called through.
- ``SparkCounters`` reads per-job and per-stage metrics from the local
  Spark REST endpoint (the UI's ``/api/v1``) and JVM GC and heap figures
  from the JVM's management beans over py4j.
- ``python_worker_rss_mb`` sums the resident memory of the JVM's Python
  worker processes from /proc.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": self.op}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, label=None) -> None:
        """Replace ``owner.attr`` (a module or class attribute) by a
        span-recording wrapper; ``label(args, kwargs)`` may add a suffix."""
        fn = getattr(owner, attr)
        if getattr(fn, "_perfbench_wrapped", False):
            return
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            full = name + ("." + label(args, kwargs) if label else "")
            with tracer.span(full):
                return fn(*args, **kwargs)

        wrapper._perfbench_wrapped = True
        setattr(owner, attr, wrapper)

    def wrap_everywhere(self, fn, name: str, prefix: str = "post_modern_stack_spark") -> None:
        """Wrap ``fn`` in every loaded module of the program that bound it
        by name (``from x import fn``)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(prefix):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self.wrap(mod, attr, name)

    def write(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [dict(s, start=s["start"] - t0, end=(s["end"] or t0) - t0) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, **(extra or {})}, f)


class SparkCounters:
    """Job, stage and JVM counters of one session."""

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self.url = (sc.uiWebUrl or "").rstrip("/")
        self.app = sc.applicationId
        self.jvm = spark._jvm
        self._gc0 = 0.0

    def _get(self, path: str):
        if not self.url:
            return []
        with urllib.request.urlopen(f"{self.url}/api/v1/applications/{self.app}/{path}",
                                    timeout=30) as r:
            return json.loads(r.read())

    def drain_listener(self) -> None:
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        except Exception:
            time.sleep(0.5)

    def jobs_by_group(self) -> dict[str, list[dict]]:
        self.drain_listener()
        out: dict[str, list[dict]] = {}
        for j in self._get("jobs"):
            out.setdefault(j.get("jobGroup") or "", []).append(j)
        return out

    def stages(self) -> dict[int, dict]:
        """stageId -> metrics of its completed attempts, summed."""
        out: dict[int, dict] = {}
        for s in self._get("stages"):
            if s.get("status") != "COMPLETE":
                continue
            agg = out.setdefault(s["stageId"], {"tasks": 0, "run_ms": 0, "cpu_ns": 0,
                                                "gc_ms": 0, "in_b": 0, "out_b": 0,
                                                "shr_b": 0, "shw_b": 0})
            agg["tasks"] += s.get("numCompleteTasks", 0)
            agg["run_ms"] += s.get("executorRunTime", 0)
            agg["cpu_ns"] += s.get("executorCpuTime", 0)
            agg["gc_ms"] += s.get("jvmGcTime", 0)
            agg["in_b"] += s.get("inputBytes", 0)
            agg["out_b"] += s.get("outputBytes", 0)
            agg["shr_b"] += s.get("shuffleReadBytes", 0)
            agg["shw_b"] += s.get("shuffleWriteBytes", 0)
        return out

    @staticmethod
    def fold(jobs: list[dict], stages: dict[int, dict]) -> dict:
        """Sum jobs, executed stages, tasks and stage metrics of ``jobs``."""
        ids = {sid for j in jobs for sid in j.get("stageIds", []) if sid in stages}
        tot = {"jobs": len(jobs), "stages": len(ids)}
        for k in ("tasks", "run_ms", "cpu_ns", "gc_ms", "in_b", "out_b", "shr_b", "shw_b"):
            tot[k] = sum(stages[i][k] for i in ids)
        return tot

    # JVM beans ------------------------------------------------------------
    def gc_seconds(self) -> float:
        mf = self.jvm.java.lang.management.ManagementFactory
        return sum(max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans()) / 1e3

    def reset_heap_peak(self) -> None:
        mf = self.jvm.java.lang.management.ManagementFactory
        for p in mf.getMemoryPoolMXBeans():
            if str(p.getType().toString()) == "Heap memory":
                p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        mf = self.jvm.java.lang.management.ManagementFactory
        return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
                   if str(p.getType().toString()) == "Heap memory") / 2**20


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def python_worker_rss_mb() -> float:
    """Resident memory of all Python worker processes under the JVM."""
    from harness import descendants

    total = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            total += _rss_kb(pid)
    return total / 1024.0


PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas",
                "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                "AggregateInPandas", "WindowInPandas", "EvalPythonUDTF",
                "FlatMapGroupsInArrow", "PythonDataSource")


def has_python_node(plan_text: str) -> bool:
    return any(n in plan_text for n in PYTHON_NODES)
