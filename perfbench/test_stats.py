"""Unit tests for the benchmark's own arithmetic. No Spark needed:

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import stats  # noqa: E402
from perfbench.trace import event_log_metrics, progress_metrics  # noqa: E402


def test_tail_keeps_ten_samples_beyond():
    lat = [float(i) for i in range(1, 41)]  # 1..40
    value, pct, n = stats.tail(lat)
    assert (value, pct, n) == (30.0, 75.0, 40)
    assert sum(x > value for x in lat) == 10


def test_tail_is_order_free_and_moves_with_n():
    lat = [float(x) for x in range(20, 0, -1)]  # n = 20, descending
    assert stats.tail(lat) == (10.0, 50.0, 20)
    # one more sample lifts the percentile: 11 of 21 at or below
    assert stats.tail(lat + [99.0]) == (11.0, pytest.approx(100 * 11 / 21), 21)


def test_tail_steps_below_ties():
    lat = [5.0, 1.0, 4.0, 2.0, 3.0] * 4  # n = 20, four of each value
    value, pct, n = stats.tail(lat)
    assert sum(x > value for x in lat) >= 10
    assert (value, pct, n) == (2.0, 40.0, 20)


def test_tail_with_too_few_samples_is_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    with pytest.raises(ValueError):
        stats.tail([])


def test_raised_op_counts_as_attempted_and_incorrect():
    ledger = stats.OpLedger()
    a = ledger.ok(1.0)
    ledger.raised()
    b = ledger.ok(3.0)
    ledger.verdict(a, True)
    ledger.verdict(b, True)
    assert (ledger.attempted, ledger.failed, ledger.n_correct) == (3, 1, 2)
    m = ledger.metrics()
    assert m["correct_ops_frac"] == pytest.approx(2 / 3)
    assert m["ops_per_s"] == pytest.approx(2 / 4.0)  # raised op has no time
    assert m["op_p50_s"] == 2.0


def test_wrong_output_is_incorrect_but_not_failed():
    ledger = stats.OpLedger()
    ledger.verdict(ledger.ok(2.0), False)
    assert (ledger.failed, ledger.n_correct) == (0, 0)
    assert ledger.metrics()["correct_ops_frac"] == 0.0


def test_run_with_a_skipped_stage_is_not_correct():
    """An op served from stages an earlier op ran (a reused plan) makes
    the run incorrect even when every output matched."""
    ledger = stats.OpLedger()
    ledger.verdict(ledger.ok(1.0), True)
    assert stats.run_correct([ledger], skipped_stages=0.0)
    assert not stats.run_correct([ledger], skipped_stages=1 / 9)
    ledger.raised()
    assert not stats.run_correct([ledger], skipped_stages=0.0)


def _stat_line(pid, comm, ppid, utime, stime, cutime, cstime, rss=0):
    # fields 3..24 of proc(5); unused ones are zero
    f = ["S", ppid] + [0] * 9 + [utime, stime, cutime, cstime] + [0] * 6 + [rss]
    return f"{pid} ({comm}) " + " ".join(str(x) for x in f)


def _fake_proc(root, procs):
    for row in procs:
        d = root / str(row[0])
        d.mkdir()
        (d / "stat").write_text(_stat_line(*row))


def test_parse_stat_comm_with_spaces_and_parens():
    st = stats.parse_stat(_stat_line(7, "a (b) c", 1, 10, 20, 30, 40, 5))
    assert (st.pid, st.comm, st.ppid) == (7, "a (b) c", 1)
    assert (st.self_ticks, st.child_ticks, st.rss_pages) == (30, 70, 5)


def test_tree_cpu_counts_descendants_and_reaped_children(tmp_path):
    # 10 driver -> 11 jvm -> 12 python daemon -> 13 worker; 99 unrelated.
    # The daemon's cutime holds workers it already reaped.
    _fake_proc(tmp_path, [
        (10, "python3", 1, 100, 0, 0, 0, 10),
        (11, "java", 10, 400, 100, 0, 0, 20),
        (12, "python3", 11, 10, 0, 250, 50, 3),
        (13, "python3", 12, 40, 0, 0, 0, 2),
        (99, "other", 1, 1000, 0, 0, 0, 50),
    ])
    root = str(tmp_path)
    ticks = 100 + 500 + (10 + 300) + 40
    assert stats.tree_cpu_s(10, root) == pytest.approx(ticks / stats.CLK_TCK)
    assert stats.python_worker_cpu_s(10, root) == pytest.approx(
        (10 + 300 + 40) / stats.CLK_TCK
    )
    assert stats.tree_rss_gb(10, root) == pytest.approx(35 * stats.PAGE / 1e9)


def test_tree_cpu_unchanged_when_a_worker_is_reaped(tmp_path):
    """A worker's ticks move into its parent's cutime when it exits and
    is reaped: the tree total must not drop."""
    before, after = tmp_path / "a", tmp_path / "b"
    before.mkdir()
    after.mkdir()
    _fake_proc(before, [(10, "python3", 1, 5, 0, 0, 0), (12, "python3", 10, 1, 0, 0, 0),
                        (13, "python3", 12, 70, 30, 0, 0)])
    _fake_proc(after, [(10, "python3", 1, 5, 0, 0, 0), (12, "python3", 10, 1, 0, 70, 30)])
    assert stats.tree_cpu_s(10, str(before)) == stats.tree_cpu_s(10, str(after))


def _job(ms, *stages):
    return {"Event": "SparkListenerJobStart", "Submission Time": ms,
            "Stage IDs": [sid for sid, _ in stages],
            "Stage Infos": [{"Stage ID": sid, "RDD Info": [{"RDD ID": rdd}]}
                            for sid, rdd in stages]}


def _submit(ms, sid, rdd):
    return {"Event": "SparkListenerStageSubmitted", "Stage Info": {
        "Stage ID": sid, "Submission Time": ms, "RDD Info": [{"RDD ID": rdd}]}}


def test_event_log_attribution(tmp_path):
    """Jobs submitted inside an op window count for it. A listed stage
    that never runs is skipped only when its RDD ran outside the op:
    stage 2 re-lists RDD 11, which ran in the same op through stage 1
    (adaptive execution's own map-stage job); stage 3 re-lists RDD 10,
    which ran before the op; stage 6 lists RDD 14, which never ran
    anywhere (a shuffle with no input partitions)."""
    ev = [
        _submit(500, 0, 10),
        _job(1510, (1, 11)),
        _submit(1550, 1, 11),
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 1600, "Finish Time": 1700, "Accumulables": [
             {"Name": "data sent to Python workers", "Update": 2e6}]},
         "Task Metrics": {"Executor Run Time": 100, "Executor CPU Time": 5e7,
                          "JVM GC Time": 10,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 1e6}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Submission Time": 1550, "Completion Time": 1750}},
        _job(1800, (2, 11), (3, 10), (4, 12), (6, 14)),
        _submit(1810, 4, 12),
        _job(9000, (5, 13)),  # outside every op: the harness's own job
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in ev))
    m = event_log_metrics(str(tmp_path), {0: (1.0, 2.0)})
    assert m["scheduler.jobs"] == 2
    assert m["scheduler.stages"] == 1
    assert m["scheduler.skipped_stages"] == 1
    assert m["scheduler.stage_floor_s"] == pytest.approx(0.1)
    assert m["executor.cpu_s"] == pytest.approx(0.05)
    assert m["shuffle.write_mb"] == pytest.approx(1.0)
    assert m["python.bytes_to_worker_mb"] == pytest.approx(2.0)


def test_progress_metrics_per_op():
    p = [{"durationMs": {"addBatch": 300, "walCommit": 20},
          "stateOperators": [{"numRowsTotal": 10, "memoryUsedBytes": 2e6,
                              "commitTimeMs": 4}]}] * 2
    m = progress_metrics(p, n_ops=2)
    assert m["streaming.add_batch_ms"] == 300
    assert m["streaming.wal_commit_ms"] == 20
    assert m["state.rows_total"] == 10
    assert m["state.memory_mb"] == pytest.approx(2.0)


def test_benchmark_json_matches_the_harness():
    from perfbench.run import END_TO_END, PER_LAYER

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
