"""Steadiness check: run a workload over several seeds, one fresh process
per run, and report each metric's median, quartiles and inter-quartile
spread as a share of the median, plus the failed-op share and the wall
time of each run.

    python3 perfbench/steady.py --workload nep_refresh --seeds 1-10 [--trace 0]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    walls, shares = [], []
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", str(args.trace)]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, cwd=harness.ROOT, capture_output=True, text=True)
        walls.append(time.perf_counter() - t0)
        if out.returncode != 0:
            print(out.stderr[-2000:], file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        probe = [w for w in out.stderr.split() if w.startswith("host_probe=")]
        res["host_probe"] = probe[-1].split("=")[1] if probe else None
        shares.append(res["failed"] / res["attempted"])
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(json.dumps({"seed": seed, "wall_s": round(walls[-1], 1), **res}), flush=True)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for k, vs in values.items():
        q1, q2, q3 = harness.quartiles(vs)
        print(json.dumps({"metric": k, "median": q2, "q1": q1, "q3": q3,
                          "iqr_share": harness.iqr_share(vs), "bound": bounds.get(k)}))
    print(json.dumps({"wall_s_median": harness.median(walls), "wall_s_max": max(walls),
                      "failed_shares": sorted(set(shares))}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
