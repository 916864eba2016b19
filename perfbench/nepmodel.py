"""Pure-Python model of the NEP refresh, written from the reference's
semantics (FIXTURES.md A1-A5), not from the program's code.

Given the session lists of the load that latest-ETL selection must keep
(the older load is never passed in: dropping it IS the selection), it
returns the expected ``dataset`` stage keyed by ``session_id`` plus the
expected run metrics.
"""

from __future__ import annotations

import datetime as dt
from collections import Counter

PRODUCT_ACTIONS = ("detail", "add", "purchase")
MAX_LEN = 20
UNK_ID = 1
FIRST_ID = 2
TRAIN_FRAC = 0.9


def _date(ms: int) -> dt.date:
    return (dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=ms)).date()


def _norm_sku(s: str) -> str:
    return s.replace(" ", "_").lower()


def sessions_table(sessions: list[list[dict]], api_key: str) -> list[dict]:
    """Model 1 + 2: per-session ordered SKU arrays of one tenant's load."""
    rows = []
    for events in sessions:
        by_sid: dict[str, list[dict]] = {}
        for ev in events:
            by_sid.setdefault(ev["session_id"], []).append(ev)
        for sid, evs in by_sid.items():
            ts = [int(e["server_timestamp_epoch_ms"]) for e in evs]
            # the session's date: the UTC date of its earliest event of any type
            session_date = _date(min(ts))
            kept = sorted(
                (int(e["server_timestamp_epoch_ms"]), _norm_sku(e["product_sku"]))
                for e in evs
                if e["event_type"] == "event_product"
                and e["product_action"] in PRODUCT_ACTIONS
            )
            if kept:
                rows.append({
                    "session_id": sid,
                    "api_key": api_key,
                    "session_date": session_date,
                    "interactions": [sku for _, sku in kept],
                })
    return rows


def expected_dataset(loads: dict[str, list[list[dict]]], api_key: str,
                     start_date: str, end_date: str) -> tuple[dict, dict]:
    """``loads`` maps api_key -> sessions of the newest load. Returns
    (rows by session_id, metrics)."""
    lo, hi = dt.date.fromisoformat(start_date), dt.date.fromisoformat(end_date)
    sess = [r for r in sessions_table(loads[api_key], api_key)
            if lo < r["session_date"] <= hi and len(r["interactions"]) >= 3]
    sess.sort(key=lambda r: (r["session_date"], r["session_id"]))
    n = len(sess)
    for i, r in enumerate(sess):
        rank = i / (n - 1) if n > 1 else 0.0
        r["split"] = "train" if rank < TRAIN_FRAC else "test"
        r["x"] = r["interactions"][:-1]
        r["y"] = r["interactions"][-1]
    freq = Counter(t for r in sess if r["split"] == "train" for t in r["x"])
    ranked = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))
    ids = {tok: FIRST_ID + i for i, (tok, _) in enumerate(ranked)}
    for r in sess:
        r["x_enc"] = [ids.get(t, UNK_ID) for t in r["x"]]
        r["y_enc"] = ids.get(r["y"], UNK_ID)
        r["y_label"] = r["y_enc"] - 1
        tail = r["x_enc"][-MAX_LEN:]
        r["x_padded"] = [0] * (MAX_LEN - len(tail)) + tail
    n_train = sum(r["split"] == "train" for r in sess)
    metrics = {
        "n_sessions": float(n),
        "n_train": float(n_train),
        "n_test": float(n - n_train),
        "vocab_size": float(len(ids)),
    }
    return {r["session_id"]: r for r in sess}, metrics


DATASET_COLUMNS = ("api_key", "session_date", "interactions", "split", "x", "y",
                   "x_enc", "y_enc", "y_label", "x_padded")


def diff_dataset(got: list[dict], want: dict[str, dict]) -> list[str]:
    """Every difference between the program's dataset rows and the model,
    as readable lines (empty when they agree)."""
    errs = []
    seen = set()
    for row in got:
        sid = row["session_id"]
        if sid in seen:
            errs.append(f"duplicate session {sid}")
            continue
        seen.add(sid)
        exp = want.get(sid)
        if exp is None:
            errs.append(f"unexpected session {sid}")
            continue
        for c in DATASET_COLUMNS:
            g, w = row.get(c), exp[c]
            if isinstance(g, (list, tuple)) or hasattr(g, "tolist"):
                g = list(g.tolist() if hasattr(g, "tolist") else g)
            if g != w:
                errs.append(f"{sid}.{c}: got {g!r} want {w!r}")
    for sid in want.keys() - seen:
        errs.append(f"missing session {sid}")
    return errs
