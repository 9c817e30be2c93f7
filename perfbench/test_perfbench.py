"""Unit tests of the benchmark's own parts: the event-log fold, the
seeded generators, the oracle comparison and the metric list in
BENCHMARK.json. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from oracle import same_result  # noqa: E402
from spans import FIELDS, fold  # noqa: E402


@pytest.fixture(scope="module")
def tiny_log():
    # Recorded from local[2]: span "outer" runs two aggregation jobs and
    # a nested span "inner" (two more jobs and a 0.2 s sleep); one job
    # ran outside any span. The log keeps only the job and stage events
    # and the accumulables the fold reads.
    with open(os.path.join(HERE, "fixtures", "tiny_eventlog.json")) as f:
        return json.load(f)


def _jobs(events):
    start = {e["Job ID"]: e for e in events if e["Event"] == "SparkListenerJobStart"}
    end = {e["Job ID"]: e["Completion Time"] for e in events if e["Event"] == "SparkListenerJobEnd"}
    return {
        j: (e["Properties"].get("spark.jobGroup.id"), e["Submission Time"] / 1e3, end[j] / 1e3)
        for j, e in start.items()
    }


def test_fold_tiny_log(tiny_log):
    events, spans = tiny_log["events"], tiny_log["spans"]
    out = fold(events, spans, names=["outer", "inner", "never_ran"])
    assert set(out) == {"outer", "inner", "never_ran"}
    assert out["never_ran"] == dict.fromkeys(FIELDS, 0.0)

    by_name = {s["name"]: s for s in spans}
    inner, outer = by_name["inner"], by_name["outer"]
    jobs = _jobs(events)
    inner_jobs = [(a, b) for g, a, b in jobs.values() if g == inner["id"]]
    outer_jobs = [(a, b) for g, a, b in jobs.values() if g == outer["id"]]
    assert len(inner_jobs) == 2 and len(outer_jobs) == 2 and len(jobs) == 6

    inner_wall = inner["end"] - inner["start"]
    outer_wall = outer["end"] - outer["start"]
    # no two jobs of this log overlap, so covered time is a plain sum
    inner_busy = sum(b - a for a, b in inner_jobs)
    outer_busy = sum(b - a for a, b in outer_jobs) + inner_busy

    assert out["inner"]["calls"] == 1
    assert out["inner"]["wall_s"] == pytest.approx(inner_wall)
    assert out["inner"]["self_s"] == pytest.approx(inner_wall)
    assert out["inner"]["driver_s"] == pytest.approx(inner_wall - inner_busy)
    assert out["inner"]["jobs"] == 2
    assert out["inner"]["tasks"] == 3
    assert out["inner"]["executor_run_s"] == pytest.approx(0.234)
    assert out["inner"]["executor_cpu_s"] == pytest.approx(0.112107207)
    assert out["inner"]["shuffle_write_mb"] == pytest.approx(274 / 2**20)

    # the parent includes its child's jobs but not its child's time in self_s
    assert out["outer"]["wall_s"] == pytest.approx(outer_wall)
    assert out["outer"]["self_s"] == pytest.approx(outer_wall - inner_wall)
    assert out["outer"]["driver_s"] == pytest.approx(outer_wall - outer_busy)
    assert out["outer"]["jobs"] == 4
    assert out["outer"]["tasks"] == 6
    assert out["outer"]["executor_run_s"] == pytest.approx(0.902)
    assert out["outer"]["shuffle_write_mb"] == pytest.approx((343 + 274) / 2**20)
    assert out["outer"]["spill_mb"] == 0


def test_fold_counts_overlapping_jobs_once():
    spans = [{"id": "g", "name": "s", "parent": None, "start": 0.0, "end": 10.0}]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [], "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000, "Stage IDs": [], "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 4000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 5000},
    ]
    assert fold(events, spans)["s"]["driver_s"] == pytest.approx(6.0)


def _corpus(tmp_path, name, seed):
    d = tmp_path / name
    d.mkdir()
    c = gen.gen_corpus(seed, 50, 2, 20)
    gen.write_docs(c["history"], str(d / "h.parquet"))
    for i, b in enumerate(c["batches"]):
        gen.write_docs(b, str(d / f"b{i}.parquet"))
    return gen.digest_dir(str(d))


def _cdc(seed):
    log = gen.gen_cdc(seed, 200, 400, 1.0, 0.25)
    files = [gen.events_jsonl(evs) for _, evs in log["files"]]
    return gen.events_jsonl(log["initial"]), files


def _tpch(tmp_path, name, seed):
    d = tmp_path / name
    gen.write_tpch(gen.gen_tpch(seed, 0.001)["tables"], str(d))
    return gen.digest_dir(str(d))


def test_generators_repeat_per_seed(tmp_path):
    assert _corpus(tmp_path, "e", 7) == _corpus(tmp_path, "f", 7)
    assert _corpus(tmp_path, "g", 7) != _corpus(tmp_path, "h", 8)
    assert _tpch(tmp_path, "t1", 7) == _tpch(tmp_path, "t2", 7)
    assert _tpch(tmp_path, "t3", 7) != _tpch(tmp_path, "t4", 8)
    assert _cdc(7) == _cdc(7)
    assert _cdc(7) != _cdc(8)


def test_cdc_log_shape():
    log = gen.gen_cdc(3, 400, 2000, 2.0, 0.25)
    p = log["props"]
    assert p["files"] == 8 and p["events_per_file"] == 500
    assert 0.02 < p["delete_share"] < 0.15
    days = {}
    for _, evs in log["files"]:
        for e in evs:
            # a key never moves between month partitions
            assert days.setdefault((e["table"], e["id"]), e["day"]) == e["day"]


def test_tpch_shape():
    t = gen.gen_tpch(3, 0.001)["tables"]
    assert sorted(t) == sorted(gen.TPCH_TABLES)
    orders, lines = t["orders"].to_pandas(), t["lineitem"].to_pandas()
    assert orders["o_orderdate"].dt.to_period("M").nunique() == gen.ORDER_MONTHS
    assert set(lines["l_orderkey"]) <= set(orders["o_orderkey"])
    ev = t["events"].to_pandas()
    assert not ev.duplicated(["user_id", "ts"]).any()


def test_same_result():
    import decimal

    import pandas as pd

    got = pd.DataFrame({"k": [2, 1], "v": [decimal.Decimal("1.50"), decimal.Decimal("2.25")]})
    want = pd.DataFrame({"v": [2.25, 1.5], "k": [1, 2]})
    assert same_result(got, want) == (True, "ok")
    assert not same_result(got.assign(v=[decimal.Decimal("1.51"), decimal.Decimal("2.25")]), want)[0]
    assert not same_result(got.rename(columns={"v": "w"}), want)[0]
    assert not same_result(got.head(1), want)[0]
    # exact on numbers: an integer is not a float
    assert not same_result(pd.DataFrame({"k": [1.0]}), pd.DataFrame({"k": [1]}))[0]


def test_benchmark_json_lists_every_metric():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == run.E2E_UNITS
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert layers == run.per_layer_units()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
