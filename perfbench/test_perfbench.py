"""Tests of the benchmark's own reducers, plus one smoke run per workload.

    python3 -m pytest perfbench -q

The reducer tests are pure Python and take well under a second. The smoke
runs start Spark, shrink each workload to its smallest size, and check
that the run verifies its outputs and prints every metric.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import reduce as R  # noqa: E402


# ---------------------------------------------------------------------------
# percentile and sample-count rule
# ---------------------------------------------------------------------------
def test_percentile_interpolates_linearly():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert R.percentile(xs, 50) == 3.0
    assert R.percentile(xs, 25) == 2.0
    assert R.percentile(xs, 90) == pytest.approx(4.6)
    assert R.percentile([7.0], 99) == 7.0


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        R.percentile([], 50)


@pytest.mark.parametrize(
    "n,expected",
    [(1, None), (19, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
     (200, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_supported_percentile_needs_ten_samples_beyond(n, expected):
    assert R.supported_percentile(n) == expected


def test_summarize_reports_median_count_and_supported_tail():
    assert R.summarize([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0}
    s = R.summarize([float(i) for i in range(100)])
    assert s == {"n": 100, "p50": 49.5, "p90": pytest.approx(89.1)}


# ---------------------------------------------------------------------------
# failed_share and the check counter
# ---------------------------------------------------------------------------
def test_failed_share():
    assert R.failed_share(0, 10) == 0.0
    assert R.failed_share(2, 8) == 0.25
    assert R.failed_share(0, 0) == 1.0


def test_checks_count_attempts_and_name_failures():
    c = R.Checks()
    assert c.check(True, "a")
    assert not c.check(False, "b")
    c.check(False, "c")
    assert (c.attempted, c.failed, c.failures) == (3, 2, ["b", "c"])
    assert R.failed_share(c.failed, c.attempted) == pytest.approx(2 / 3)


# ---------------------------------------------------------------------------
# golden-simulator comparator
# ---------------------------------------------------------------------------
GOLDEN_SEEN = {"u1": "fetched", "u2": "fetched", "u3": "disallowed", "u4": "failed"}
GOLDEN_LOG = [(0, "h0", 1, "u1"), (0, "h0", 2, "u2")]


def test_compare_crawl_accepts_identical_crawl():
    engine_seen = set(GOLDEN_SEEN.items())
    assert R.compare_crawl(engine_seen, list(reversed(GOLDEN_LOG)),
                           GOLDEN_SEEN, GOLDEN_LOG, 2) == []


def test_compare_crawl_names_each_mismatch():
    seen = set(GOLDEN_SEEN.items())
    wrong_status = (seen - {("u4", "failed")}) | {("u4", "missing")}
    assert R.compare_crawl(wrong_status, GOLDEN_LOG, GOLDEN_SEEN, GOLDEN_LOG, 2) == [
        "seen_membership"]
    swapped = [(0, "h0", 2, "u1"), (0, "h0", 1, "u2")]
    assert R.compare_crawl(seen, swapped, GOLDEN_SEEN, GOLDEN_LOG, 2) == [
        "host_ordering"]
    assert R.compare_crawl(seen, GOLDEN_LOG, GOLDEN_SEEN, GOLDEN_LOG, 3) == [
        "fetched_count"]
    assert R.compare_crawl(seen, GOLDEN_LOG[:1], GOLDEN_SEEN, GOLDEN_LOG, 1) == [
        "host_ordering", "fetched_count"]


# ---------------------------------------------------------------------------
# event-log reducer
# ---------------------------------------------------------------------------
def _task_end(stage, cpu_ns=0, gc_ms=0, shuffle=0, mem_spill=0, disk_spill=0):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": mem_spill, "Disk Bytes Spilled": disk_spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    })


EVENT_LOG = [
    json.dumps({"Event": "SparkListenerApplicationStart", "Timestamp": 0}),
    json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0,
                "Submission Time": 100, "Stage IDs": [0, 1]}),
    _task_end(0, cpu_ns=2_000_000_000, gc_ms=500, shuffle=1000),
    _task_end(1, cpu_ns=1_000_000_000, mem_spill=7, disk_spill=3),
    "",
    json.dumps({"Event": "SparkListenerJobStart", "Job ID": 1,
                "Submission Time": 900, "Stage IDs": [2]}),
    _task_end(2, cpu_ns=4_000_000_000, shuffle=50),
]


def test_reduce_event_log_sums_every_job():
    r = R.reduce_event_log(EVENT_LOG)
    assert r == {"jobs": 2, "tasks": 3, "shuffle_write_bytes": 1050,
                 "spill_bytes": 10, "gc_s": 0.5, "executor_cpu_s": 7.0}


def test_reduce_event_log_keeps_jobs_submitted_in_window():
    r = R.reduce_event_log(EVENT_LOG, 50, 500)
    assert r == {"jobs": 1, "tasks": 2, "shuffle_write_bytes": 1000,
                 "spill_bytes": 10, "gc_s": 0.5, "executor_cpu_s": 3.0}
    empty = R.reduce_event_log(EVENT_LOG, 1000, 2000)
    assert (empty["jobs"], empty["tasks"], empty["executor_cpu_s"]) == (0, 0, 0)


# ---------------------------------------------------------------------------
# oracle row canonicalisation, seeded tables, process tree
# ---------------------------------------------------------------------------
def test_oracle_canonical_ignores_column_and_row_order():
    from perfbench import oracle

    a = oracle.canonical(["b", "a"], [(1.0000000001, "x"), (2.5, "y")])
    b = oracle.canonical(["a", "b"], [("y", 2.5), ("x", 1.0)])
    assert a == b
    assert a != oracle.canonical(["a", "b"], [("y", 2.5)])
    assert oracle.canonical(["f"], [(True,)]) == {"cols": ["f"], "rows": [["1"]]}


def test_tables_are_a_pure_function_of_the_seed():
    from perfbench import tables
    from whakoom_webscrapper_spark.catalog import TESTDATA_TABLES

    one, again, other = tables.build(7), tables.build(7), tables.build(8)
    assert sorted(one) == sorted(TESTDATA_TABLES)
    assert all(one[t].equals(again[t]) for t in one)
    assert not one["documents"].equals(other["documents"])
    assert one["lineitem"].num_rows == tables.ROWS["lineitem"]


def test_process_tree_counters_see_this_process():
    pid = os.getpid()
    assert pid in R.tree_pids(pid)
    assert R.tree_rss_mb(pid) > 1.0
    assert R.tree_cpu_s(pid) > 0.0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_images",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_benchmark_json_names_the_printed_metrics():
    from perfbench import layers, run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == [*run.CRAWLS, "queries_headline"]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.per_layer_units()


# ---------------------------------------------------------------------------
# smoke: each workload at its smallest size
# ---------------------------------------------------------------------------
def _smoke(monkeypatch, capsys, workload, trace):
    from perfbench import layers, run

    monkeypatch.setitem(run.CRAWLS, "crawl_images", dict(
        n_urls=60, hosts=4, fanout=4, n_seeds=6, budget_scale=2, epochs=2,
        validate=True))
    monkeypatch.setattr(layers, "CROSS_CRAWL", dict(
        n_urls=60, hosts=4, fanout=4, n_seeds=6, budget_scale=1, epochs=2,
        validate=False))
    monkeypatch.setattr(layers, "FETCH_SAMPLE", 16)
    monkeypatch.setattr(layers, "IMAGING_SAMPLE", 8)
    monkeypatch.setattr(run, "QUERIES", ["pricing_summary", "embedding_knn_ivf"])
    monkeypatch.setitem(run.SETUP_REPEATS, workload, 1)
    # keep one JVM for the whole test process: module-level pandas UDFs
    # bind to the JVM that first evaluates them
    monkeypatch.setattr(run, "stop_spark", lambda spark: spark.stop())
    assert run.main(["--workload", workload, "--seed", "3", "--seconds", "1",
                     "--trace", str(trace)]) == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    names = layers.per_layer_units() if trace else run.END_TO_END
    assert set(result["metrics"]) == set(names)
    for m in result["metrics"].values():
        assert math.isfinite(m["value"])
    return result["metrics"]


@pytest.mark.parametrize("workload", ["crawl_images", "queries_headline"])
def test_smoke_untraced(monkeypatch, capsys, workload):
    metrics = _smoke(monkeypatch, capsys, workload, 0)
    assert all(m["value"] > 0 for m in metrics.values())


def test_smoke_traced_crawl(monkeypatch, capsys):
    metrics = _smoke(monkeypatch, capsys, "crawl_images", 1)
    assert metrics["frontier.closure_ratio"]["value"] == pytest.approx(1.0, abs=0.1)
    assert metrics["fetch.valid_ratio"]["value"] == 1.0
    assert metrics["spark.jobs"]["value"] > 0
