"""Property check of the streaming sessionizer's emitted arrays, computed
from the backlog files alone (pyarrow + plain Python).

Properties: every input event with a non-null ``k`` appears in exactly
one emitted array, that array belongs to the event's own user, no array
holds anything else, and every array is in (ts_ns, event_id) order.
``n_events`` must equal the array length.
"""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq


def backlog_events(backlog_dir: str) -> dict[str, tuple[int, int, int]]:
    """k -> (user_id, ts_ns, event_id) for every event carrying ``k``."""
    out: dict[str, tuple[int, int, int]] = {}
    for path in sorted(glob.glob(os.path.join(backlog_dir, "*.parquet"))):
        t = pq.read_table(path).to_pydict()
        for eid, ts, uid, props in zip(t["event_id"], t["ts"], t["user_id"], t["props"]):
            k = json.loads(props).get("k")
            if k is not None:
                out[str(k)] = (uid, ts, eid)
    return out


def check_arrays(emitted: list[tuple[int, int, list]], events: dict) -> list[str]:
    """``emitted``: (user_id, n_events, interactions) rows. Returns one line
    per violated property (empty when all hold)."""
    errs = []
    seen: set[str] = set()
    for user, n, arr in emitted:
        arr = list(arr)
        if n != len(arr):
            errs.append(f"user {user}: n_events {n} != {len(arr)} elements")
        keys = []
        for k in arr:
            ev = events.get(k)
            if ev is None:
                errs.append(f"user {user}: element {k!r} is no input event")
                continue
            if k in seen:
                errs.append(f"event {k} emitted twice")
            seen.add(k)
            if ev[0] != user:
                errs.append(f"event {k} of user {ev[0]} emitted for user {user}")
            keys.append((ev[1], ev[2]))
        if any(a >= b for a, b in zip(keys, keys[1:])):
            errs.append(f"user {user}: array not in (ts_ns, event_id) order")
    missing = len(events) - len(seen & events.keys())
    if missing:
        errs.append(f"{missing} input events never emitted")
    return errs
