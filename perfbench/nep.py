"""``nep_refresh``: the reference's own flow on a seeded raw log.

op = one refresh: append one load (tenants A and B, one etl id) to a
copy of a log that already holds an older load (written in set-up in
the same layout), with
``sources.ingest.ingest_events``, then ``plans.nep_flow.run_nep_flow``
under a fresh run id. Every op starts from the same copy, so every op
does the same work. Each op's ``dataset`` stage and run metrics are
compared, outside the timed region, with ``nepmodel``.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import pyarrow.parquet as pq

import datagen
import harness
import nepmodel

REFRESH_SECONDS = 4.0  # one warm refresh on the reference host; sizes the run
NEW_ETL_MS = 1_560_000_000_000
OLD_ETL_MS = NEW_ETL_MS - 86_400_000


def refreshes_for(seconds: int) -> int:
    return max(3, math.ceil(seconds / REFRESH_SECONDS))


def setup(spark, run_dir, seed: int, tracer=None) -> dict:
    from post_modern_stack_spark.plans.nep_flow import run_nep_flow
    from post_modern_stack_spark.sources import ingest

    loads = datagen.nep_loads(seed)
    src = run_dir.sub("nep-src")
    rows = {}
    for key in ("new_a", "new_b"):
        rows[key] = datagen.write_sessions(loads[key], os.path.join(src, f"{key}.parquet"))
    template = os.path.join(run_dir.sub("nep-template"), "raw")
    rows["old_a"] = datagen.write_raw_load(loads["old_a"], template, datagen.API_A,
                                           "etl-old", OLD_ETL_MS)
    want, want_metrics = nepmodel.expected_dataset(
        {datagen.API_A: loads["new_a"], datagen.API_B: loads["new_b"]},
        datagen.API_A, datagen.NEP_START_DATE, datagen.NEP_END_DATE)
    work = run_dir.sub("nep-ops")
    log_rows = rows["old_a"] + rows["new_a"] + rows["new_b"]
    ingest_rows = rows["new_a"] + rows["new_b"]

    def one(op: str):
        raw_path = os.path.join(work, op, "raw")
        shutil.copytree(template, raw_path)
        sess_a = spark.read.parquet(os.path.join(src, "new_a.parquet"))
        sess_b = spark.read.parquet(os.path.join(src, "new_b.parquet"))
        if tracer is not None:
            tracer.op = op
            spark.sparkContext.setJobGroup(f"{op}:exec", "refresh")
        t0 = time.perf_counter()
        ingest.ingest_events(sess_a, raw_path, datagen.API_A,
                             etl_id=f"etl-{op}", etl_timestamp_ms=NEW_ETL_MS)
        ingest.ingest_events(sess_b, raw_path, datagen.API_B,
                             etl_id=f"etl-{op}", etl_timestamp_ms=NEW_ETL_MS)
        out = run_nep_flow(spark, ingest.read_raw_events(spark, raw_path),
                           os.path.join(work, op, "runs"), f"run-{op}",
                           api_key=datagen.API_A, start_date=datagen.NEP_START_DATE,
                           end_date=datagen.NEP_END_DATE)
        wall = time.perf_counter() - t0
        if tracer is not None:
            tracer.op = None
        return wall, out

    def check(op: str, out: dict) -> list[str]:
        got = pq.read_table(os.path.join(out["run_dir"], "dataset")).to_pylist()
        errs = nepmodel.diff_dataset(got, want)
        for k, v in want_metrics.items():
            if out["metrics"].get(k) != v:
                errs.append(f"metric {k}: got {out['metrics'].get(k)} want {v}")
        shutil.rmtree(os.path.join(work, op), ignore_errors=True)
        return errs

    _, out = one("warm")  # untimed warm-up refresh (part of set-up)
    check("warm", out)
    return {"one": one, "check": check, "log_rows": log_rows, "ingest_rows": ingest_rows}


def measure(ctx: dict, seconds: int, tracer=None) -> dict:
    ops, walls, failures = [], [], []
    for i in range(refreshes_for(seconds)):
        op = f"r{i}"
        wall, out = ctx["one"](op)
        stage_rows = out["stage_rows"]
        ops.append(op)
        walls.append(wall)
        errs = ctx["check"](op, out)
        if errs:
            failures.append(f"{op}: {len(errs)} differences, first: {errs[0]}")
    return {
        "attempted": len(ops),
        "failures": failures,
        "op_p50_s": harness.median(walls),
        "items_per_s": harness.rate(ctx["log_rows"] * len(ops), sum(walls)),
        "ops": ops,
        "ingest_rows": ctx["ingest_rows"],
        "stage_rows": stage_rows,
    }
