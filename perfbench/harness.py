"""Shared harness: session sizing, per-run directories, process cleanup,
metric arithmetic and the result line.

Every run is one fresh process. Its scratch space (Spark local dirs,
warehouse, JVM temp dir, generated inputs, pipeline outputs) lives in
one directory under ``.bench_tmp/`` of the checkout, removed when the
run ends, after every process the run started has exited.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP_CAP_MB = 4096


# ---------------------------------------------------------------- arithmetic

def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    values = list(values)
    if len(values) < 2:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def iqr_share(values) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def median_of_medians(samples: dict[str, list[float]]) -> float:
    """Each key's median over its samples, then the median across keys."""
    return median(median(v) for v in samples.values())


def rate(items: float, seconds: float) -> float:
    if seconds <= 0:
        raise ValueError("rate over a non-positive duration")
    return items / seconds


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    if attempted < 1:
        raise ValueError("a run attempts at least one operation")
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    })


# ---------------------------------------------------------------- environment

def _age_at_import() -> float:
    """Seconds from this process's kernel start time to now."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return max(uptime - start_ticks / os.sysconf("SC_CLK_TCK"), 0.0)
    except (OSError, ValueError, IndexError):
        return 0.0


_AGE0, _T0 = _age_at_import(), time.perf_counter()


def process_age_s() -> float:
    """Seconds since this process started: kernel start time (10 ms
    ticks) up to this module's import, then the high-resolution clock."""
    return _AGE0 + time.perf_counter() - _T0


def host_probe_s() -> float:
    """Wall time of a fixed pure-Python loop: a host-speed reading logged
    beside each run, so a slow host can be told from a slow program."""
    t0 = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return time.perf_counter() - t0


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_mb() -> int:
    """A driver heap that fits this machine: a quarter of RAM, capped."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return max(512, min(HEAP_CAP_MB, total_kb // 1024 // 4))
    except (OSError, StopIteration, ValueError):
        return 2048


class RunDir:
    """Per-run scratch directory under ``<checkout>/.bench_tmp``."""

    def __init__(self, workload: str, seed: int):
        base = os.path.join(ROOT, ".bench_tmp")
        os.makedirs(base, exist_ok=True)
        self.path = os.path.join(base, f"{workload}-s{seed}-p{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))
        except OSError:
            pass


def configure_env(run: RunDir) -> dict:
    """Size the session to this machine and keep every temp file in the
    run directory. Must run before the JVM starts."""
    tmp = run.sub("tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb()}m"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = run.sub("spark-local")
    # the short launcher JVM of spark-submit: no perf-data file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import the program's modules by reference
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    return {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": run.sub("warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.streaming.checkpointLocation": run.sub("checkpoints"),
    }


def start_session(extra_conf: dict):
    from post_modern_stack_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------- processes

def _children(pid: int) -> list[int]:
    out = []
    try:
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            if ppid == pid:
                out.append(int(entry))
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark, timeout_s: float = 30.0) -> None:
    """Stop Spark, then the JVM, and wait until every process this run
    started (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    jvm_pid = proc.pid if proc is not None else None
    started = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            except Exception:
                pass
            try:
                proc.wait(timeout=timeout_s)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + timeout_s
        left = [p for p in started if p != jvm_pid]
        while left and time.monotonic() < deadline:
            left = [p for p in left if _alive(p)]
            if left:
                time.sleep(0.05)
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        for p in descendants(os.getpid()):
            try:
                os.waitpid(p, 0)
            except ChildProcessError:
                pass


def settle(spark) -> None:
    """Full JVM and Python garbage collection between timed rounds, so
    no round inherits a heap the previous one left half full."""
    import gc

    gc.collect()
    spark._jvm.java.lang.System.gc()


def clear_operator_memos() -> None:
    """Drop the in-process operator memos (the embedding corpus broadcast)
    so every timed op pays the same cold-path operator cost."""
    from post_modern_stack_spark.operators import dedup

    memo = getattr(dedup, "_corpus_memo", None)
    while memo:
        _, bc = memo.popitem()
        try:
            bc.unpersist()
        except Exception:
            pass
