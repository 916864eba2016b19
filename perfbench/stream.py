"""``stream_backlog``: a seeded backlog of event parquet files drained by
the file-stream source (``streaming.sessionize_stream.stream_events``,
one file per micro-batch) into ``stateful_session_arrays_bucketed``.

op = one micro-batch that carries input. All timings come from the
query's own progress events, collected by a ``StreamingQueryListener``;
the run waits on them, it never polls the query. After the backlog is
drained the run waits (outside the timed drain) until every user's
session has been flushed, then checks the emitted arrays against the
backlog files with ``streamcheck``.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import threading

import datagen
import harness
import streamcheck
from tracing import python_worker_rss_mb

FILES_PER_SECOND = 0.3  # input micro-batches per drain second on the reference host
WARM_FILES = 1
WARM_ROWS = 2000
DRAIN_TIMEOUT_S = 120
FLUSH_TIMEOUT_S = 60


def files_for(seconds: int) -> int:
    return max(3, math.ceil(seconds * FILES_PER_SECOND))


def _ts(iso: str) -> float:
    return dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


class _Progress:
    """Collects every progress event of every query; wakes waiters."""

    def __init__(self) -> None:
        self.events: dict[str, list[dict]] = {}
        self.cond = threading.Condition()

    def add(self, p: dict) -> None:
        with self.cond:
            self.events.setdefault(p["id"], []).append(p)
            self.cond.notify_all()

    def wait(self, qid: str, pred, timeout: float) -> list[dict]:
        with self.cond:
            ok = self.cond.wait_for(lambda: pred(self.events.get(qid, [])), timeout)
            evs = list(self.events.get(qid, []))
        if not ok:
            raise TimeoutError(f"stream {qid}: condition not reached in {timeout}s")
        return evs


def _listener(progress: _Progress):
    from pyspark.sql.streaming import StreamingQueryListener

    class L(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.add(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return L()


def _rows_in(evs) -> int:
    return sum(p.get("numInputRows", 0) for p in evs)


def _state_rows(p: dict) -> int:
    return sum(so.get("numRowsTotal", 0) for so in p.get("stateOperators") or [])


def failures_for(errs: list[str], n_batches: int) -> list[str]:
    """The memory sink cannot tell which micro-batch emitted a wrong array,
    so any violated property fails every input batch of the drain."""
    return [f"{len(errs)} violations, first: {errs[0]}"] * n_batches if errs else []


def _start(spark, src: str, name: str, ckpt: str):
    from post_modern_stack_spark.streaming.sessionize_stream import (
        stateful_session_arrays_bucketed,
        stream_events,
    )

    df = stateful_session_arrays_bucketed(stream_events(spark, src, max_files_per_trigger=1))
    return (df.writeStream.format("memory").queryName(name)
            .option("checkpointLocation", ckpt).outputMode("append")
            .trigger(processingTime="0 seconds").start())


def _drain_and_flush(spark, progress: _Progress, src: str, name: str, ckpt: str,
                     total_rows: int, flush: bool):
    q = _start(spark, src, name, ckpt)
    qid = str(q.id)
    try:
        evs = progress.wait(qid, lambda e: _rows_in(e) >= total_rows, DRAIN_TIMEOUT_S)
        drained = len(evs)
        if flush:  # every session closed: no state left after the drain
            evs = progress.wait(
                qid, lambda e: len(e) > drained and _state_rows(e[-1]) == 0, FLUSH_TIMEOUT_S)
    finally:
        q.stop()
    return q, evs[:drained]


def setup(spark, run_dir, seed: int, tracer=None) -> dict:
    progress = _Progress()
    spark.streams.addListener(_listener(progress))
    warm_src = run_dir.sub("stream-warm")
    warm_rows = datagen.stream_backlog(seed + 1_000_003, warm_src, WARM_FILES,
                                       rows_per_file=WARM_ROWS,
                                       users_per_file=datagen.STREAM_USERS_PER_FILE)
    _drain_and_flush(spark, progress, warm_src, "perfbench_warm",
                     run_dir.sub("stream-warm-ckpt"), warm_rows, flush=False)
    return {"progress": progress, "seed": seed, "run_dir": run_dir}


def measure(ctx: dict, seconds: int, tracer=None) -> dict:
    spark = ctx["spark"]
    run_dir = ctx["run_dir"]
    src = run_dir.sub("stream-src")
    n_files = files_for(seconds)
    total = datagen.stream_backlog(ctx["seed"], src, n_files)
    if tracer is not None:
        tracer.op = "drain"
    q, drain_evs = _drain_and_flush(
        spark, ctx["progress"], src, "perfbench_stream", run_dir.sub("stream-ckpt"),
        total, flush=True)
    rss = 0.0
    if tracer is not None:
        tracer.op = None
        rss = python_worker_rss_mb()
    batches = [p for p in drain_evs if p.get("numInputRows", 0) > 0]
    start = _ts(batches[0]["timestamp"])
    end = max(_ts(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3 for p in batches)
    emitted = [(r["user_id"], r["n_events"], list(r["interactions"]))
               for r in spark.table("perfbench_stream").collect()]
    errs = streamcheck.check_arrays(emitted, streamcheck.backlog_events(src))
    failures = failures_for(errs, len(batches))
    return {
        "attempted": len(batches),
        "failures": failures,
        "op_p50_s": harness.median(p["durationMs"]["triggerExecution"] / 1e3 for p in batches),
        "items_per_s": harness.rate(_rows_in(batches), end - start),
        "ops": [f"b{p['batchId']}" for p in batches],
        "span_ops": ["drain"],
        "worker_rss_mb": rss,
        "batches": batches,
        "run_id": str(q.runId),
        "drain_events": drain_evs,
        "emitted": len(emitted),
    }
