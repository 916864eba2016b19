"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog_floor --seed 1 --seconds 10 --trace 0

Runs one workload in this (fresh) process and prints, as the last line
of standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics and writes the run's spans to
``.bench_traces/`` in the checkout. Exit code 0 only for a finished run.
"""

from __future__ import annotations

import argparse
import os
import re
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import harness  # noqa: E402

WORKLOADS = ("catalog_floor", "nep_refresh", "stream_backlog")
RUN_TIMEOUT_S = 170

PER_LAYER = (
    ("session.start_s", "s"),
    ("registry.load_table_calls", "count"),
    ("registry.load_table_s", "s"),
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    ("catalyst.plan_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("jvm.gc_s", "s"),
    ("jvm.heap_peak_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.input_mb", "MB"),
    ("spark.output_mb", "MB"),
    ("python.exec_s", "s"),
    ("python.worker_rss_mb", "MB"),
    ("sources.ingest_s", "s"),
    ("sources.ingest_rows", "count"),
    ("pipeline.checkpoint_s.session_events", "s"),
    ("pipeline.checkpoint_s.extracted", "s"),
    ("pipeline.checkpoint_s.dataset", "s"),
    ("pipeline.checkpoint_s.metrics", "s"),
    ("pipeline.rows.session_events", "count"),
    ("pipeline.rows.extracted", "count"),
    ("pipeline.rows.dataset", "count"),
    ("pipeline.rows.metrics", "count"),
    ("pipeline.checks_s", "s"),
)
# moved only by stream_backlog, and reported only by it
PER_LAYER_STREAM = (
    ("streaming.batches", "count"),
    ("streaming.add_batch_s", "s"),
    ("streaming.planning_s", "s"),
    ("streaming.offsets_s", "s"),
    ("streaming.rows_out", "count"),
    ("state.rows_max", "count"),
    ("state.memory_mb_max", "MB"),
    ("state.commit_s", "s"),
    ("state.update_s", "s"),
)
END_TO_END = (("setup_s", "s"), ("op_p50_s", "s"), ("items_per_s", "1/s"))


def layer_metrics(workload: str) -> tuple:
    return PER_LAYER + (PER_LAYER_STREAM if workload == "stream_backlog" else ())


def _module(name: str):
    if name == "catalog_floor":
        import catalog as mod
    elif name == "nep_refresh":
        import nep as mod
    else:
        import stream as mod
    return mod


def _install_spans(tracer) -> None:
    """Spans around the program's public calls, by wrapping the module
    attributes they are reached through. No program file changes."""
    from post_modern_stack_spark import registry
    from post_modern_stack_spark.plans import nep_flow, pipeline
    from post_modern_stack_spark.sources import ingest
    from post_modern_stack_spark.streaming import sessionize_stream

    tracer.wrap_everywhere(registry.load_table, "registry.load_table")
    tracer.wrap(ingest, "ingest_events", "sources.ingest")
    tracer.wrap(nep_flow, "run_nep_flow", "plans.nep_flow")
    tracer.wrap(pipeline.ModelRegistry, "run", "plans.build")
    tracer.wrap(pipeline.PipelineRunner, "checkpoint", "pipeline.checkpoint",
                label=lambda a, kw: a[1] if len(a) > 1 else kw.get("name", "?"))
    tracer.wrap(sessionize_stream, "stream_events", "plans.build.stream_events")
    tracer.wrap(sessionize_stream, "stateful_session_arrays_bucketed",
                "plans.build.sessionizer")


def per_layer(workload: str, res: dict, tracer, counters, session_s: float,
              gc_s: float, heap_mb: float) -> dict:
    ops = res["ops"]
    n = max(len(ops), 1)
    out = {name: 0.0 for name, _ in layer_metrics(workload)}
    out["session.start_s"] = session_s
    out["jvm.gc_s"] = gc_s / n
    out["jvm.heap_peak_mb"] = heap_mb
    out["python.worker_rss_mb"] = res.get("worker_rss_mb", 0.0)
    span_ops = set(res.get("span_ops", ops))
    in_ops = [s for s in tracer.spans if s["op"] in span_ops]

    def per_op(name: str, prefix: bool = False) -> float:
        return sum(s["end"] - s["start"] for s in in_ops
                   if (s["name"].startswith(name) if prefix else s["name"] == name)) / n

    out["registry.load_table_calls"] = sum(
        1 for s in in_ops if s["name"] == "registry.load_table") / n
    out["registry.load_table_s"] = per_op("registry.load_table")
    out["plans.build_s"] = per_op("plans.build", prefix=True)
    out["catalyst.plan_s"] = per_op("catalyst.plan")
    py_ops = set(res.get("python_ops", []))
    if py_ops:
        out["python.exec_s"] = sum(s["end"] - s["start"] for s in in_ops
                                   if s["name"] == "exec" and s["op"] in py_ops) / len(py_ops)
    out["sources.ingest_s"] = per_op("sources.ingest")
    for stage in ("session_events", "extracted", "dataset", "metrics"):
        out[f"pipeline.checkpoint_s.{stage}"] = per_op(f"pipeline.checkpoint.{stage}")
    if workload == "nep_refresh":
        flow = per_op("plans.nep_flow")
        ckpt = per_op("pipeline.checkpoint", prefix=True)
        out["pipeline.checks_s"] = flow - ckpt - per_op("plans.build")
        out["sources.ingest_rows"] = res["ingest_rows"]
        for stage, rows in res["stage_rows"].items():
            out[f"pipeline.rows.{stage}"] = rows

    groups = counters.jobs_by_group()
    stages = counters.stages()
    if workload == "stream_backlog":  # the query's jobs up to its last input batch
        last = res["batches"][-1]["batchId"]
        jobs = [j for j in groups.get(res["run_id"], [])
                if (b := _batch_of(j)) is not None and b <= last]
    else:
        jobs = [j for g, js in groups.items() if g.rsplit(":", 1)[0] in set(ops) for j in js]
        out["plans.build_jobs"] = sum(len(js) for g, js in groups.items()
                                      if g.endswith(":build")
                                      and g.rsplit(":", 1)[0] in set(ops)) / n
    tot = counters.fold(jobs, stages)
    out["spark.jobs"] = tot["jobs"] / n
    out["spark.stages"] = tot["stages"] / n
    out["spark.tasks"] = tot["tasks"] / n
    out["spark.executor_run_s"] = tot["run_ms"] / 1e3 / n
    out["spark.executor_cpu_s"] = tot["cpu_ns"] / 1e9 / n
    out["spark.shuffle_write_mb"] = tot["shw_b"] / 2**20 / n
    out["spark.shuffle_read_mb"] = tot["shr_b"] / 2**20 / n
    out["spark.input_mb"] = tot["in_b"] / 2**20 / n
    out["spark.output_mb"] = tot["out_b"] / 2**20 / n

    if workload == "stream_backlog":
        b = res["batches"]
        ms = lambda p, k: p["durationMs"].get(k, 0) / 1e3  # noqa: E731
        sos = [so for p in res["drain_events"] for so in p.get("stateOperators") or []]
        out["streaming.batches"] = len(b)
        out["streaming.add_batch_s"] = sum(ms(p, "addBatch") for p in b) / n
        out["streaming.planning_s"] = sum(ms(p, "queryPlanning") for p in b) / n
        out["streaming.offsets_s"] = sum(ms(p, "latestOffset") + ms(p, "walCommit")
                                         + ms(p, "commitOffsets") for p in b) / n
        out["streaming.rows_out"] = res["emitted"]
        out["state.rows_max"] = max((so.get("numRowsTotal", 0) for so in sos), default=0)
        out["state.memory_mb_max"] = max((so.get("memoryUsedBytes", 0) for so in sos),
                                         default=0) / 2**20
        bso = [so for p in b for so in p.get("stateOperators") or []]
        out["state.commit_s"] = sum(so.get("commitTimeMs", 0) for so in bso) / 1e3 / n
        out["state.update_s"] = sum(so.get("allUpdatesTimeMs", 0) for so in bso) / 1e3 / n
        out["python.exec_s"] = sum(ms(p, "addBatch") for p in b) / n
        out["python.worker_rss_mb"] = res.get("worker_rss_mb", 0.0)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:  # the program under test must be in this checkout
        import __spark_entry__  # noqa: F401
        import post_modern_stack_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: program not found next to the benchmark: {e}", file=sys.stderr)
        return 2

    def _timeout(signum, frame):
        raise TimeoutError(f"run exceeded {RUN_TIMEOUT_S}s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_TIMEOUT_S)

    host_probe = harness.host_probe_s()
    mod = _module(args.workload)
    run = harness.RunDir(args.workload, args.seed)
    spark = None
    tracer = counters = None
    try:
        conf = harness.configure_env(run)
        if args.trace:
            import tracing

            tracer = tracing.Tracer()
            conf.update({"spark.ui.retainedJobs": "100000",
                         "spark.ui.retainedStages": "100000"})
        t0 = time.perf_counter()
        spark = harness.start_session(conf)
        session_s = time.perf_counter() - t0
        if tracer is not None:
            counters = tracing.SparkCounters(spark)
            _install_spans(tracer)
        ctx = mod.setup(spark, run, args.seed, tracer)
        ctx["spark"] = spark
        setup_s = harness.process_age_s()
        if counters is not None:
            counters.reset_heap_peak()
            gc0 = counters.gc_seconds()
        t_measure = time.perf_counter()
        res = mod.measure(ctx, args.seconds, tracer)
        measure_s = time.perf_counter() - t_measure
        if counters is not None:
            gc_s = counters.gc_seconds() - gc0
            heap = counters.heap_peak_mb()
        failed = len(res["failures"])
        for f in res["failures"][:5]:
            print(f"perfbench: failed op {f}", file=sys.stderr)
        if args.trace:
            layers = per_layer(args.workload, res, tracer, counters, session_s, gc_s, heap)
            metrics = {name: harness.metric(layers[name], unit)
                       for name, unit in layer_metrics(args.workload)}
            tracer.write(os.path.join(harness.ROOT, ".bench_traces",
                                      f"{args.workload}-seed{args.seed}.json"),
                         {"workload": args.workload, "seed": args.seed, "ops": res["ops"],
                          "samples": res.get("samples")})
        else:
            metrics = {
                "setup_s": harness.metric(setup_s, "s"),
                "op_p50_s": harness.metric(res["op_p50_s"], "s"),
                "items_per_s": harness.metric(res["items_per_s"], "1/s"),
            }
        # every op either passed its check or is counted in ``failed``
        correct = True
    finally:
        signal.alarm(0)
        if spark is not None:
            harness.stop_session(spark)
        run.remove()
    print(f"perfbench: {args.workload} seed={args.seed} host_probe={host_probe:.3f}s "
          f"session_start={session_s:.2f}s "
          f"setup={setup_s:.2f}s measure+checks={measure_s:.2f}s "
          f"total={harness.process_age_s():.2f}s", file=sys.stderr)
    print(harness.result_line(correct, res["attempted"], failed, metrics), flush=True)
    return 0


def _batch_of(job: dict):
    """Micro-batch id from a streaming job's description ("... batch = N")."""
    m = re.search(r"batch = (\d+)", job.get("description") or job.get("name") or "")
    return int(m.group(1)) if m else None


if __name__ == "__main__":
    sys.exit(main())
