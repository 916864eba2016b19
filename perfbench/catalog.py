"""``catalog_floor``: a fixed list of catalog queries over generated
sf0.01-shaped tables, one untimed pass, then timed warm passes.

op = one query through ``__spark_entry__.queries()[name]``, materialized
in full with ``toPandas()``. Every op's result is compared, outside the
timed region, with the query's DuckDB twin from
``__spark_entry__.oracle_sql()`` run over the same parquet files.
"""

from __future__ import annotations

import math
import sys
import time

import duckdb
import pandas as pd

import datagen
import harness
from tracing import has_python_node, python_worker_rss_mb

# (query, catalog module, why it is in the list)
QUERY_LIST = [
    ("sessionize", "events", "the flagship: ordered per-user arrays (A7), one job"),
    ("funnel_conversion", "events", "many-job composite: 13 jobs of small aggregates"),
    ("regional_revenue", "relational", "four-table join chain, eager driver jobs"),
    ("props_from_json", "json", "JSON extraction, 10k-row result to the driver"),
    ("holt_forecast", "temporal", "per-series recursive smoothing"),
    ("rolling_median", "windows", "range window, ~9k-row result"),
    ("media_dedup_groups", "multimodal", "content-digest grouping of binary payloads"),
    ("text_stats", "text", "per-document string functions"),
    ("embedding_near_dups", "similarity", "Python/Arrow GEMM pair search, corpus memo"),
    ("kmeans_assign", "similarity", "mapInArrow nearest-centroid on the Python worker"),
]
FLOAT_TOL = 1e-6
PASS_SECONDS = 3.5  # a warm pass on the reference host; sizes the run


def passes_for(seconds: int) -> int:
    """Timed warm passes: at least 3, so each query's median has 3 samples."""
    return max(3, math.ceil(seconds / PASS_SECONDS))


# ------------------------------------------------------------------ checks

def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    if hasattr(v, "item") and not hasattr(v, "__len__"):
        return _norm(v.item())
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm(x) for x in v)
    return v


def canon(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [tuple(_norm(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
    rows.sort(key=repr)
    return cols, rows


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=FLOAT_TOL, abs_tol=FLOAT_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return repr(a) == repr(b)


def diff(got: pd.DataFrame, want: tuple[list[str], list[tuple]]) -> str | None:
    """None when ``got`` matches the oracle's canonical rows, else why not."""
    gcols, grows = canon(got)
    wcols, wrows = want
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    if len(grows) != len(wrows):
        return f"rows {len(grows)} != {len(wrows)}"
    for i, (g, w) in enumerate(zip(grows, wrows)):
        if not _same(g, w):
            return f"row {i}: {g!r} != {w!r}"
    return None


def oracle_rows(data_dir: str, names: list[str]) -> dict:
    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    for t in datagen.CATALOG_ROWS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for n in names:
        want = canon(con.execute(sql[n]).df())
        if not want[1]:
            raise RuntimeError(f"oracle for {n} selects no rows: the check would be vacuous")
        out[n] = want
    con.close()
    return out


# ------------------------------------------------------------------ workload

def setup(spark, run_dir, seed: int, tracer=None) -> dict:
    """Generate the tables, compute the oracle rows, run one untimed pass."""
    import __spark_entry__ as entry

    qs = entry.queries()
    names = [q for q, _, _ in QUERY_LIST]
    data = run_dir.sub("data")
    datagen.catalog_tables(seed, data)
    want = oracle_rows(data, names)

    def one(name: str, op: str):
        harness.clear_operator_memos()
        if tracer is None:
            t0 = time.perf_counter()
            pdf = qs[name](spark, data).toPandas()
            return time.perf_counter() - t0, pdf, False
        sc = spark.sparkContext
        tracer.op = op
        t0 = time.perf_counter()
        with tracer.span("op", query=name):
            sc.setJobGroup(f"{op}:build", name)
            with tracer.span("plans.build"):
                df = qs[name](spark, data)
            sc.setJobGroup(f"{op}:exec", name)
            with tracer.span("catalyst.plan"):
                qe = df._jdf.queryExecution()
                qe.executedPlan()
            with tracer.span("exec"):
                pdf = df.toPandas()
        wall = time.perf_counter() - t0
        tracer.op = None
        return wall, pdf, has_python_node(qe.executedPlan().toString())

    for name in names:
        one(name, f"warm:{name}")
    return {"names": names, "want": want, "one": one,
            "settle": lambda: harness.settle(spark)}


def measure(ctx: dict, seconds: int, tracer=None) -> dict:
    names, want, one = ctx["names"], ctx["want"], ctx["one"]
    samples: dict[str, list[float]] = {n: [] for n in names}
    failures: list[str] = []
    python_ops: list[str] = []
    rss = 0.0
    ops: list[str] = []
    wall_total = 0.0
    for p in range(passes_for(seconds)):
        ctx["settle"]()
        for name in names:
            op = f"p{p}:{name}"
            wall, pdf, py = one(name, op)
            wall_total += wall
            ops.append(op)
            if py:
                python_ops.append(op)
            if tracer is not None:
                rss = max(rss, python_worker_rss_mb())
            bad = diff(pdf, want[name])
            if bad is not None:
                failures.append(f"{op}: {bad}")
            else:
                samples[name].append(wall)
    good = {n: v for n, v in samples.items() if v}
    for n, v in good.items():
        print(f"perfbench: {n} median {harness.median(v):.3f}s over {len(v)}", file=sys.stderr)
    return {
        "attempted": len(ops),
        "failures": failures,
        "op_p50_s": harness.median_of_medians(good) if good else float("nan"),
        "items_per_s": harness.rate(len(ops) - len(failures), wall_total),
        "ops": ops,
        "python_ops": python_ops,
        "worker_rss_mb": rss,
        "samples": samples,
    }
