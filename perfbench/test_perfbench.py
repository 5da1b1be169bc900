"""Self-tests for the benchmark harness; none of them starts Spark.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

from perfbench import check, compare, datagen, run, stats, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_tail_percentile_rule():
    assert stats.tail_percentile(5) == 100
    assert stats.tail_percentile(19) == 100
    assert stats.tail_percentile(20) == 50
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(1000) == 99
    for n in (20, 37, 100, 250):
        p = stats.tail_percentile(n)
        assert n * (100 - p) / 100 >= 10 > n * (100 - p - 1) / 100
    vals = [float(i) for i in range(1, 101)]
    v, p = stats.tail(vals)
    assert p == 90 and v == pytest.approx(90.1)
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100)


def test_quartiles_match_statistics_module():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
    q1, med, q3 = stats.quartiles(vals)
    assert med == 5.5 and q1 < med < q3
    assert stats.spread(vals) == pytest.approx((q3 - q1) / med)


def _progress(batch, start_iso, dur_ms, start_off, end_off):
    return {
        "batchId": batch,
        "timestamp": start_iso,
        "durationMs": {"triggerExecution": dur_ms},
        "numInputRows": 0 if start_off == end_off else 10,
        "sources": [{
            "startOffset": None if start_off is None else {"logOffset": start_off},
            "endOffset": None if end_off is None else {"logOffset": end_off},
        }],
    }


def test_latency_pairing_on_synthetic_progress():
    t0 = workloads._epoch("2026-01-01T00:00:00.000Z")
    releases = [t0 + 0.1, t0 + 1.1, t0 + 1.2, t0 + 9.0]
    progress = [
        _progress(0, "2026-01-01T00:00:00.200Z", 500, None, 0),  # chunk 0
        _progress(1, "2026-01-01T00:00:01.300Z", 400, 0, 1),  # chunk 1; chunk 2 waits
        _progress(2, "2026-01-01T00:00:01.700Z", 300, 1, 2),  # chunk 2
        _progress(3, "2026-01-01T00:00:02.000Z", 100, 2, 2),  # no new file
    ]
    lat, backlog = workloads.pair_latencies(releases, progress)
    assert lat[0] == pytest.approx(0.6)
    assert lat[1] == pytest.approx(0.6)
    assert lat[2] == pytest.approx(0.8)
    assert lat[3] is None  # never consumed: counted as a failed operation
    assert backlog == 2  # chunks 1 and 2 were both waiting at batch 1's start
    assert workloads.consumed_chunk(progress[3]) is None


def test_stream_layers_sum_progress():
    p = _progress(0, "2026-01-01T00:00:00.000Z", 1000, None, 0)
    p["durationMs"].update(addBatch=600, walCommit=50, commitOffsets=70)
    p["stateOperators"] = [{"numRowsTotal": 5, "commitTimeMs": 20, "memoryUsedBytes": 100,
                            "numRowsDroppedByWatermark": 0}]
    out = workloads.stream_layers([p])
    assert out["streaming.batches"] == 1
    assert out["streaming.add_batch_s"] == pytest.approx(0.6)
    assert out["streaming.commit_s"] == pytest.approx(0.12)
    assert out["streaming.state_commit_s"] == pytest.approx(0.02)
    assert out["streaming.state_rows"] == 5


def test_workload_queries_exist_with_oracles():
    from flink_training_exercises_spark.plans.catalog import CATALOG

    names = workloads.GRAPH_ITERATIVE + [workloads.PACED_ORACLE, workloads.FLOOD_ORACLE]
    for name in names:
        assert name in CATALOG, name
        assert CATALOG[name].oracle, name


def test_benchmark_json_names_match_what_runs_emit():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_METRICS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.LAYER_METRICS
    assert spec["paths"] == ["perfbench"]
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_datagen_is_deterministic(tmp_path):
    a = datagen.generate(str(tmp_path / "a"), 7, sf=0.001)
    b = datagen.generate(str(tmp_path / "b"), 7, sf=0.001)
    c = datagen.generate(str(tmp_path / "c"), 8, sf=0.001)
    for t in datagen.TABLES:
        ta, tb = pq.read_table(f"{a}/{t}.parquet"), pq.read_table(f"{b}/{t}.parquet")
        assert ta.equals(tb), t
    events = lambda d: pq.read_table(f"{d}/events.parquet")  # noqa: E731
    assert not events(a).equals(events(c))


def test_mismatch_detects_differences():
    got = pd.DataFrame({"k": [2, 1], "v": [0.5, 0.25]})
    assert check.mismatch(got, pd.DataFrame({"v": [0.25, 0.5], "k": [1, 2]})) is None
    assert "rows" in check.mismatch(got, got.head(1))
    assert "differ" in check.mismatch(got, pd.DataFrame({"k": [1, 2], "v": [0.25, 0.5000001]}))


def test_compare_verdicts():
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
    faster = [p * 0.8 for p in parent]
    slower = [p * 1.3 for p in parent]
    assert compare.verdict(parent, faster, "lower", 0.1)["verdict"] == "gain"
    assert compare.verdict(parent, slower, "lower", 0.1)["verdict"] == "regression"
    assert compare.verdict(parent, list(parent), "lower", 0.1)["verdict"] == "no change"
    noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
    assert compare.verdict(noisy, list(noisy), "lower", 0.1)["verdict"] == "unresolved"


def test_run_checks_counts_failures_without_raising():
    class Oracle:
        def run(self, sql):
            return pd.DataFrame({"k": [1]})

    def boom():
        raise RuntimeError("lost")

    name = workloads.GRAPH_ITERATIVE[0]
    res = workloads.Result(attempted=3)
    res.check_later("same", name, lambda: pd.DataFrame({"k": [1]}))
    res.check_later("differs", name, lambda: pd.DataFrame({"k": [2]}))
    res.check_later("raises", name, boom)
    workloads.run_checks(res, Oracle())
    assert res.failed == 2 and not res.pending
    assert res.checks["same"] == "ok"
    assert "differ" in res.checks["differs"] and "lost" in res.checks["raises"]


def test_compare_runs_for_the_benchmark_seconds(monkeypatch, tmp_path):
    seen = []

    def run_one(root, workload, seed, seconds):
        seen.append(seconds)
        return {"workload": workload, "metrics": {"setup_s": {"value": 1.0, "unit": "s"}}}

    monkeypatch.setattr(compare, "_run_one", run_one)
    compare.run_pairs("parent", "change", "graph_iterative", 2, str(tmp_path), 1)
    assert seen == [_spec()["run_seconds"]] * 4
