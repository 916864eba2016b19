"""Per-op breakdown of a traced run's spans.

    python3 perfbench/report.py .bench_traces/catalog_floor-seed1.json

For each op: wall time of the ``op`` span and the time of its direct
children (``plans.build``, ``catalyst.plan``, ``exec``), then per query
the medians over the timed passes and the share of the wall time the
three parts account for.
"""

from __future__ import annotations

import json
import statistics
import sys


def breakdown(trace: dict) -> dict[str, dict[str, float]]:
    spans = trace["spans"]
    timed = set(trace["ops"])
    per: dict[str, dict[str, list[float]]] = {}
    for i, s in enumerate(spans):
        if s["name"] != "op" or s["op"] not in timed:
            continue
        parts = {"wall": s["end"] - s["start"]}
        for c in spans:
            if c["parent"] == i:
                parts[c["name"]] = parts.get(c["name"], 0.0) + c["end"] - c["start"]
        q = per.setdefault(s.get("query", s["op"]), {})
        for k, v in parts.items():
            q.setdefault(k, []).append(v)
    return {q: {k: statistics.median(v) for k, v in parts.items()} for q, parts in per.items()}


def main(path: str) -> None:
    with open(path) as f:
        rows = breakdown(json.load(f))
    print(f"{'query':22s} {'wall':>7s} {'build':>7s} {'plan':>7s} {'exec':>7s} {'covered':>8s}")
    for q, r in rows.items():
        parts = r.get("plans.build", 0) + r.get("catalyst.plan", 0) + r.get("exec", 0)
        print(f"{q:22s} {r['wall']:7.3f} {r.get('plans.build', 0):7.3f} "
              f"{r.get('catalyst.plan', 0):7.3f} {r.get('exec', 0):7.3f} "
              f"{parts / r['wall']:8.1%}")


if __name__ == "__main__":
    main(sys.argv[1])
