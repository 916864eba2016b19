"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed (numpy ``default_rng``),
writes with pyarrow only (no Spark), and returns what the checks need
to know about the inputs. Nothing here imports the program.

- ``catalog_tables``: the ten warehouse tables in the shape, value
  domains and row counts of the sf0.01 catalog layout (uniform TPC-H-ish
  star schema, an event stream, documents and unit embeddings).
- ``nep_loads``: a reference-shaped nested session log (FIXTURES.md A1/A2)
  for two tenants, plus an older load that must lose to the newer one.
- ``stream_backlog``: ordered event parquet files, one per micro-batch,
  each user active for a bounded stretch of event time.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# catalog tables (sf0.01 shape)
# --------------------------------------------------------------------------

CATALOG_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
PART_NOUN = ["ring", "gear", "widget", "gizmo", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["SMALL", "MEDIUM", "PROMO", "ECONOMY", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]  # en ~3/7, as in sf0.01
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DIM = 64
N_LABELS = 10

_EPOCH = dt.datetime(1970, 1, 1)


def _days_us(start: dt.date, days: np.ndarray) -> np.ndarray:
    base = int((dt.datetime.combine(start, dt.time()) - _EPOCH).total_seconds())
    return (base + days.astype(np.int64) * 86400) * 1_000_000


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def catalog_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write the ten catalog tables under ``out_dir``; return row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = CATALOG_ROWS
    ts_us = pa.timestamp("us")

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = n["part"]
    adj, noun = rng.integers(0, 8, npart), rng.integers(0, 8, npart)
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
    })
    no = n["orders"]
    span = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": pa.array(
            _days_us(dt.date(1995, 1, 1), rng.integers(0, span + 1, no)), ts_us
        ),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    ship_span = (dt.date(2001, 11, 4) - dt.date(1995, 1, 2)).days
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(
            _days_us(dt.date(1995, 1, 2), rng.integers(0, ship_span + 1, nl)), ts_us
        ),
    })
    ne = n["events"]
    # 30 days of event time, exponential gaps, event_id in time order
    gaps = rng.exponential(30 * 86400e6 / ne, ne)
    ts = _days_us(dt.date(2024, 1, 1), np.zeros(1))[0] + np.cumsum(gaps).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts, ts_us),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = [
        " ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(10, 100)))
        for _ in range(nd)
    ]
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, N_LABELS, nv)
    centers = rng.normal(0.0, 0.0175, (N_LABELS, DIM))  # weak clusters, as in sf0.01
    vecs = centers[labels] + rng.normal(0.0, 1.0 / np.sqrt(DIM), (nv, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return dict(n)


# --------------------------------------------------------------------------
# NEP raw log (FIXTURES.md A1/A2)
# --------------------------------------------------------------------------

API_A = "aaaaaaaa-0000-4000-8000-000000000001"
API_B = "bbbbbbbb-0000-4000-8000-000000000002"
NEP_START_DATE = "2019-01-10"  # extraction window (start, end]
NEP_END_DATE = "2019-03-20"
NEP_SESSIONS_A = 2000
NEP_SESSIONS_B = 400
NEP_SKUS = 400
OOV_SKU = "OOV Only"  # normalizes to "oov_only"; placed in test-split sessions
PAYLOAD_FIELDS = (
    "event_type",
    "hashed_url",
    "product_action",
    "product_sku",
    "server_timestamp_epoch_ms",
    "session_id",
)
_ACTIONS = ("detail", "add", "purchase", "remove", "click")
_ACTION_P = (0.55, 0.2, 0.1, 0.1, 0.05)
_LOG_START_MS = 1_546_300_800_000  # 2019-01-01T00:00:00Z
_LOG_DAYS = 90


def _sku_form(rng, idx: int) -> str:
    """Raw SKU spellings: mostly lower-case ids, some upper-case (folds to
    the same token) and some with a space (folds to an underscore)."""
    r = rng.random()
    if r < 0.1:
        return f"SKU{idx:04d}"
    if r < 0.2:
        return f"sku {idx:04d}"
    return f"sku{idx:04d}"


def _session_events(rng, sid: str, start_ms: int, length: int, pop) -> list[dict]:
    out = []
    ts = start_ms
    for j in range(length):
        if j and rng.random() >= 0.15:  # ~15% duplicate timestamps
            ts += int(rng.integers(1, 120_000))
        product = rng.random() < 0.85
        ev = {
            "event_type": "event_product" if product else "pageview",
            "hashed_url": None if rng.random() < 0.05 else f"{rng.integers(0, 2**48):012x}",
            "product_action": None,
            "product_sku": None,
            "server_timestamp_epoch_ms": str(ts),
            "session_id": sid,
        }
        if product:
            # ~3% of product events miss the action key (dropped by the filter)
            if rng.random() >= 0.03:
                ev["product_action"] = _ACTIONS[rng.choice(5, p=_ACTION_P)]
            ev["product_sku"] = _sku_form(rng, int(rng.choice(NEP_SKUS, p=pop)))
        out.append(ev)
    return out


def nep_loads(seed: int, sessions_a: int = NEP_SESSIONS_A,
              sessions_b: int = NEP_SESSIONS_B) -> dict:
    """Nested session lists for one refresh.

    Returns ``{"new_a", "new_b", "old_a"}``: lists of sessions (each a
    list of A2 payload dicts; ``None`` = key missing). ``new_*`` is the
    load every refresh appends for tenants A and B; ``old_a`` is an
    older load of tenant A with other SKUs and timestamps that
    latest-ETL selection must discard.
    """
    rng = np.random.default_rng(seed)
    pop = 1.0 / np.arange(1, NEP_SKUS + 1) ** 0.8  # Zipf-ish SKU popularity
    pop = pop / pop.sum()
    window_ms = _LOG_DAYS * 86_400_000

    def tenant(tag: str, n: int) -> list[list[dict]]:
        starts = np.sort(rng.integers(0, window_ms, n)) + _LOG_START_MS
        lengths = rng.integers(1, 31, n)
        sessions = []
        for i in range(n):
            sid = f"{tag}{rng.integers(0, 2**40):010x}-{i:06d}"
            sessions.append(_session_events(rng, sid, int(starts[i]), int(lengths[i]), pop))
        return sessions

    new_a = tenant("a", sessions_a)
    new_b = tenant("b", sessions_b)
    # a session longer than the 20-slot pad, on a fixed in-window day
    long_start = _LOG_START_MS + 30 * 86_400_000
    new_a.append([
        {"event_type": "event_product", "hashed_url": f"{k:012x}",
         "product_action": "detail", "product_sku": f"sku{k:04d}",
         "server_timestamp_epoch_ms": str(long_start + 1000 * k),
         "session_id": "a-long-session"}
        for k in range(27)
    ])
    # the OOV SKU: only in the last in-window sessions (test split)
    end_ms = _LOG_START_MS + (dt.date.fromisoformat(NEP_END_DATE) - dt.date(2019, 1, 1)).days * 86_400_000
    for j in range(3):
        ts0 = end_ms + 3_600_000 * (j + 1)
        new_a.append([
            {"event_type": "event_product", "hashed_url": None,
             "product_action": "add", "product_sku": sku,
             "server_timestamp_epoch_ms": str(ts0 + 1000 * k),
             "session_id": f"zz-oov-{j}"}
            for k, sku in enumerate(["sku0001", OOV_SKU, "sku0002", OOV_SKU])
        ])
    old_a = tenant("a", max(sessions_a // 3, 1))
    for s in old_a:  # disjoint SKU spellings: any leak shows in the dataset
        for ev in s:
            if ev["product_sku"] is not None:
                ev["product_sku"] = "old-" + ev["product_sku"]
    return {"new_a": new_a, "new_b": new_b, "old_a": old_a}


def write_sessions(sessions: list[list[dict]], path: str) -> int:
    """One parquet file of ``events: array<struct<A2 payload>>`` rows,
    the shape ``sources.ingest.ingest_events`` takes. Returns event rows."""
    ev_type = pa.struct([(f, pa.string()) for f in PAYLOAD_FIELDS])
    col = pa.array(sessions, pa.list_(ev_type))
    pq.write_table(pa.table({"events": col}), path)
    return sum(len(s) for s in sessions)


# --------------------------------------------------------------------------
# stream backlog
# --------------------------------------------------------------------------

STREAM_USERS_PER_FILE = 400
STREAM_ROWS_PER_FILE = 20_000
_STREAM_BASE_NS = 1_700_000_000_000_000_000
_STREAM_FILE_NS = 60_000_000_000  # one minute of event time per file


def stream_backlog(seed: int, out_dir: str, n_files: int,
                   rows_per_file: int = STREAM_ROWS_PER_FILE,
                   users_per_file: int = STREAM_USERS_PER_FILE) -> int:
    """Write ``n_files`` ordered parquet files (the stream source's
    physical schema, ts as epoch-ns long), one per future micro-batch.

    File ``i`` covers event time ``[i, i+1)`` minutes. Each user is
    active for 1-3 consecutive files, so users stop arriving and their
    sessions close while the stream runs; state stays bounded. Within a
    file ~10% of rows repeat the previous row's timestamp (tie-break by
    event_id), event ids are a random permutation (so id order is not
    time order), and ~3% of rows carry no ``k`` (the operator drops
    them). ``k`` is the event id, so every emitted element names one
    input event. Returns the number of rows written."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    total = n_files * rows_per_file
    ids = rng.permutation(total).astype(np.int64)
    next_user = 0
    active: list[tuple[int, int]] = []  # (user, last file)
    for i in range(n_files):
        active = [(u, last) for u, last in active if last >= i]
        while len(active) < users_per_file:
            active.append((next_user, i + int(rng.integers(0, 3))))
            next_user += 1
        users = np.array([u for u, _ in active], dtype=np.int64)
        user_col = users[rng.integers(0, len(users), rows_per_file)]
        ts = np.sort(rng.integers(0, _STREAM_FILE_NS, rows_per_file))
        tie = rng.random(rows_per_file) < 0.1
        tie[0] = False
        ts = np.where(tie, np.roll(ts, 1), ts) + _STREAM_BASE_NS + i * _STREAM_FILE_NS
        eid = ids[i * rows_per_file:(i + 1) * rows_per_file]
        no_k = rng.random(rows_per_file) < 0.03
        props = [('{"j": 1}' if nk else f'{{"k": {e}}}') for e, nk in zip(eid.tolist(), no_k)]
        table = pa.table({
            "event_id": eid,
            "ts": ts.astype(np.int64),
            "user_id": user_col,
            "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 3, rows_per_file)],
            "value": np.round(rng.exponential(50.0, rows_per_file), 2),
            "props": props,
        })
        path = os.path.join(out_dir, f"batch_{i:05d}.parquet")
        pq.write_table(table, path)
        # the file source lists by modification time: pin the order
        os.utime(path, (1_600_000_000 + i, 1_600_000_000 + i))
    return total


def write_raw_load(sessions: list[list[dict]], log_dir: str, api_key: str,
                   etl_id: str, etl_timestamp_ms: int) -> int:
    """Append one load to a raw log directory in the A1 layout the
    program's ingest writes (``api_key=<key>/`` partitions; payload as
    compact JSON without null keys). Used for the older load only, so
    set-up runs no Spark job for it. Returns event rows."""
    import json

    events = [e for s in sessions for e in s]
    part = os.path.join(log_dir, f"api_key={api_key}")
    os.makedirs(part, exist_ok=True)
    days = [int(e["server_timestamp_epoch_ms"]) // 86_400_000 for e in events]
    pq.write_table(pa.table({
        "etl_timestamp": pa.array([etl_timestamp_ms] * len(events), pa.int64()),
        "etl_id": [etl_id] * len(events),
        "event_type": [e["event_type"] for e in events],
        "event_date": pa.array(days, pa.int32()).cast(pa.date32()),
        "raw_data": [json.dumps({k: v for k, v in e.items() if v is not None},
                                separators=(",", ":")) for e in events],
    }), os.path.join(part, f"part-{etl_id}.parquet"))
    return len(events)
