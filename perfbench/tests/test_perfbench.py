"""Fast, Spark-free tests of the benchmark's own logic: the NEP model on a
hand-worked log, the stream property checker, the metric arithmetic, and
for each workload a planted wrong output that must count as a failed op.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import catalog  # noqa: E402
import datagen  # noqa: E402
import harness  # noqa: E402
import nep  # noqa: E402
import nepmodel  # noqa: E402
import stream  # noqa: E402
import streamcheck  # noqa: E402

DAY_MS = 86_400_000
BASE = 1_547_510_400_000  # 2019-01-15T00:00:00Z


def ev(sid, ms, sku=None, action="detail", etype="event_product"):
    return {"event_type": etype, "hashed_url": None, "product_action": action,
            "product_sku": sku, "server_timestamp_epoch_ms": str(ms), "session_id": sid}


def hand_log():
    s1 = [
        ev("s1", BASE + 1000, "SKU A"),
        ev("s1", BASE + 2000, "beta", "add"),
        ev("s1", BASE + 2000, "alpha"),  # same ts: alpha sorts before beta
        ev("s1", BASE + 3000, etype="pageview", action=None),
        ev("s1", BASE + 4000, "gone", "remove"),  # action filtered
        ev("s1", BASE + 5000, "nokey", None),  # missing action key
        ev("s1", BASE + 6000, "beta", "purchase"),
    ]
    s2 = [ev("s2", BASE + DAY_MS + k, f"x{k}") for k in (1, 2, 3)]
    s3 = [ev("s3", BASE + k, f"y{k}") for k in (1, 2)]  # < 3 interactions
    s4 = [ev("s4", BASE - 30 * DAY_MS + k, f"z{k}") for k in (1, 2, 3)]  # before window
    sb = [ev("sb", BASE + k, f"b{k}") for k in (1, 2, 3)]  # other tenant
    return {"A": [s1, s2, s3, s4], "B": [sb]}


def test_nep_model_hand_worked_log():
    rows, metrics = nepmodel.expected_dataset(hand_log(), "A", "2019-01-01", "2019-03-01")
    assert sorted(rows) == ["s1", "s2"]
    s1, s2 = rows["s1"], rows["s2"]
    assert s1["interactions"] == ["sku_a", "alpha", "beta", "beta"]
    assert s1["session_date"] == dt.date(2019, 1, 15)
    assert (s1["split"], s2["split"]) == ("train", "test")
    assert (s1["x"], s1["y"]) == (["sku_a", "alpha", "beta"], "beta")
    # vocab from train x only, frequency then token: alpha=2, beta=3, sku_a=4
    assert s1["x_enc"] == [4, 2, 3] and s1["y_enc"] == 3 and s1["y_label"] == 2
    assert s1["x_padded"] == [0] * 17 + [4, 2, 3]
    assert s2["x_enc"] == [1, 1] and s2["y_enc"] == 1 and s2["y_label"] == 0
    assert metrics == {"n_sessions": 2.0, "n_train": 1.0, "n_test": 1.0, "vocab_size": 3.0}


def test_nep_model_pads_the_last_twenty():
    long = [[ev("L", BASE + k, f"t{k:02d}") for k in range(25)]]
    rows, _ = nepmodel.expected_dataset({"A": long}, "A", "2019-01-01", "2019-03-01")
    r = rows["L"]
    assert r["x_enc"] == list(range(2, 26))
    assert r["x_padded"] == list(range(6, 26))
    assert (r["y"], r["y_enc"], r["y_label"]) == ("t24", 1, 0)


def test_generated_log_has_the_reference_shape():
    loads = datagen.nep_loads(7, sessions_a=200, sessions_b=40)
    rows, _ = nepmodel.expected_dataset(
        {datagen.API_A: loads["new_a"], datagen.API_B: loads["new_b"]},
        datagen.API_A, datagen.NEP_START_DATE, datagen.NEP_END_DATE)
    events = [e for s in loads["new_a"] for e in s]
    assert any(e["product_sku"] and " " in e["product_sku"] for e in events)
    assert any(e["product_sku"] and e["product_sku"] != e["product_sku"].lower() for e in events)
    assert any(e["hashed_url"] is None for e in events)
    assert max(len(s) for s in loads["new_a"]) > 20
    test_tokens = {t for r in rows.values() if r["split"] == "test" for t in r["interactions"]}
    train_tokens = {t for r in rows.values() if r["split"] == "train" for t in r["interactions"]}
    assert "oov_only" in test_tokens and "oov_only" not in train_tokens
    assert not any(t.startswith("old-") for r in rows.values() for t in r["interactions"])


def test_nep_diff_reports_planted_faults():
    want, _ = nepmodel.expected_dataset(hand_log(), "A", "2019-01-01", "2019-03-01")
    got = [dict(r, session_id=sid) for sid, r in want.items()]
    assert nepmodel.diff_dataset(got, want) == []
    assert any("missing" in e for e in nepmodel.diff_dataset(got[:1], want))  # dropped row
    changed = [dict(got[0], y_label=got[0]["y_label"] + 1)] + got[1:]
    assert nepmodel.diff_dataset(changed, want)  # changed value
    swapped = [dict(got[0], x_enc=got[0]["x_enc"][::-1])] + got[1:]
    assert nepmodel.diff_dataset(swapped, want)  # swapped array elements


def test_nep_failed_check_is_a_failed_op():
    ctx = {"one": lambda op: (1.0, {"stage_rows": {}}),
           "check": lambda op, out: ["dataset differs"] if op == "r1" else [],
           "log_rows": 10, "ingest_rows": 8}
    res = nep.measure(ctx, seconds=1)
    assert res["attempted"] == 3 and len(res["failures"]) == 1


def _events():
    # k -> (user, ts_ns, event_id)
    return {"10": (1, 100, 7), "11": (1, 100, 9), "12": (1, 200, 1), "20": (2, 50, 3)}


def test_stream_checker_accepts_good_output():
    emitted = [(1, 2, ["10", "11"]), (1, 1, ["12"]), (2, 1, ["20"])]
    assert streamcheck.check_arrays(emitted, _events()) == []


@pytest.mark.parametrize("emitted, why", [
    ([(1, 2, ["10", "11"]), (2, 1, ["20"])], "never emitted"),  # dropped row
    ([(1, 3, ["11", "10", "12"]), (2, 1, ["20"])], "order"),  # swapped elements
    ([(1, 3, ["10", "11", "12"]), (2, 2, ["20", "12"])], "twice"),  # duplicated event
    ([(1, 3, ["10", "11", "12"]), (2, 1, ["21"])], "no input event"),  # changed value
    ([(1, 2, ["10", "11"]), (2, 2, ["20", "12"])], "emitted for user"),  # wrong user
    ([(1, 4, ["10", "11", "12"]), (2, 1, ["20"])], "n_events"),
])
def test_stream_checker_reports_planted_faults(emitted, why):
    errs = streamcheck.check_arrays(emitted, _events())
    assert any(why in e for e in errs), errs


def test_stream_backlog_file_properties(tmp_path):
    total = datagen.stream_backlog(3, str(tmp_path), 3, rows_per_file=500, users_per_file=20)
    events = streamcheck.backlog_events(str(tmp_path))
    assert total == 1500 and 1300 < len(events) < 1500  # ~3% carry no k
    files = sorted(os.listdir(tmp_path))
    mtimes = [os.path.getmtime(tmp_path / f) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(files)


def test_stream_violation_fails_every_batch():
    assert stream.failures_for([], 4) == []
    assert len(stream.failures_for(["bad order"], 4)) == 4


def test_catalog_diff_reports_planted_faults():
    want_df = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a b", "c", "d"]})
    want = catalog.canon(want_df)
    assert catalog.diff(want_df.iloc[::-1], want) is None  # order-insensitive
    assert catalog.diff(want_df.assign(v=want_df.v + 1e-9), want) is None  # float tolerance
    assert "rows" in catalog.diff(want_df.iloc[:2], want)  # dropped row
    assert catalog.diff(want_df.assign(v=[0.5, 1.5, 2.0]), want)  # changed value
    assert catalog.diff(want_df.assign(s=["b a", "c", "d"]), want)  # swapped elements
    assert "columns" in catalog.diff(want_df.rename(columns={"v": "w"}), want)


def test_catalog_failed_check_is_a_failed_op():
    want_df = pd.DataFrame({"k": [1, 2]})
    calls = []

    def one(name, op):
        calls.append(op)
        pdf = want_df.iloc[:1] if op == "p1:q" else want_df  # one dropped row
        return 0.1, pdf, False

    ctx = {"names": ["q"], "want": {"q": catalog.canon(want_df)}, "one": one,
           "settle": lambda: None}
    res = catalog.measure(ctx, seconds=1)
    assert res["attempted"] == 3 and len(res["failures"]) == 1
    assert res["op_p50_s"] == pytest.approx(0.1)


def test_metric_arithmetic():
    vals = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6]
    assert harness.median(vals) == statistics.median(vals)
    assert harness.quartiles(vals) == tuple(statistics.quantiles(vals, n=4))
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert harness.iqr_share(vals) == pytest.approx((q3 - q1) / q2)
    assert harness.median_of_medians({"a": [1.0, 3.0, 2.0], "b": [10.0], "c": [4.0, 6.0]}) == 5.0
    assert harness.rate(10, 4.0) == 2.5
    with pytest.raises(ValueError):
        harness.rate(1, 0.0)
    line = json.loads(harness.result_line(True, 5, 1, {"x": harness.metric(2, "s")}))
    assert line == {"correct": True, "attempted": 5, "failed": 1,
                    "metrics": {"x": {"value": 2.0, "unit": "s"}}}
    with pytest.raises(ValueError):
        harness.result_line(True, 0, 0, {})


def test_work_is_whole_rounds_fixed_by_seconds():
    assert catalog.passes_for(1) == catalog.passes_for(10) == 3
    assert nep.refreshes_for(1) == 3
    assert stream.files_for(10) == stream.files_for(1) == 3


def test_catalog_tables_are_seeded(tmp_path):
    a = datagen.catalog_tables(5, str(tmp_path / "a"))
    datagen.catalog_tables(5, str(tmp_path / "b"))
    assert a == datagen.CATALOG_ROWS
    for t in a:
        assert (tmp_path / "a" / f"{t}.parquet").read_bytes() == \
            (tmp_path / "b" / f"{t}.parquet").read_bytes()
