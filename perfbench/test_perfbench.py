"""Self-tests of the benchmark's measurement code (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path
from types import SimpleNamespace

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import measure, report, trace, workloads  # noqa: E402
from perfbench.run import Runner  # noqa: E402


# -- tail percentile ---------------------------------------------------------


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = measure.tail(xs)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(x > value for x in xs) == measure.TAIL_BEYOND


def test_tail_ignores_input_order_and_scales_with_n():
    xs = [5.0, 1.0, 4.0, 3.0, 2.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0, 13.0, 14.0, 15.0]
    value, pct, n = measure.tail(xs)
    assert n == 15 and value == 5.0 and pct == pytest.approx(100 * 5 / 15)
    assert sum(x > value for x in xs) == 10


def test_tail_with_too_few_samples_is_the_max_at_p100():
    assert measure.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert measure.tail([]) == (0.0, 0.0, 0)


# -- self time -----------------------------------------------------------------


def test_self_time_counts_overlapping_children_once():
    # parent [0, 10]; children [1, 4] and [3, 6] overlap on [3, 4]
    assert trace.self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0)]) == pytest.approx(5.0)


def test_self_time_clips_children_to_the_parent():
    # nested, disjoint and out-of-range children
    kids = [(2.0, 3.0), (2.5, 2.7), (8.0, 12.0), (-5.0, -1.0)]
    assert trace.self_time(0.0, 10.0, kids) == pytest.approx(10 - 1 - 2)


def test_span_recorder_nests_parents():
    rec = trace.SpanRecorder()
    with rec.span("op:x", 7) as op:
        with rec.span("child", 7) as child:
            pass
    assert child.parent == op.sid and op.parent is None
    assert op.start <= child.start <= child.end <= op.end


# -- event log attribution -------------------------------------------------------


def _task(stage, launch, finish, run_ms, cpu_ns, py_start_ms=0, read=0, shuffle_w=0):
    acc = [{"Name": "time to start Python workers", "Update": str(py_start_ms)}] if py_start_ms else []
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Getting Result Time": 0,
                      "Accumulables": acc},
        "Task Metrics": {
            "Executor Deserialize Time": 5, "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns, "JVM GC Time": 2, "Result Serialization Time": 1,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": read},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0,
                                     "Fetch Wait Time": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
        },
    }


CANNED_LOG = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    # op 1: two jobs; job 1 lists stage 0 again (reused, skipped) and stage 1
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000_100,
     "Stage IDs": [0], "Properties": {"spark.job.description": "bench:1:scan_eq"}},
    _task(0, 1_000_110, 1_000_300, 150, 100_000_000, read=4096, shuffle_w=512),
    _task(0, 1_000_110, 1_000_290, 160, 120_000_000, read=4096, shuffle_w=512),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_000_400},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_000_500,
     "Stage IDs": [0, 1], "Properties": {"spark.job.description": "bench:1:scan_eq"}},
    _task(1, 1_000_510, 1_000_600, 80, 50_000_000),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_000_700},
    # op 2: a streaming micro-batch job with Spark's own description,
    # submitted inside op 2's span, with a Python UDF task
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1_002_000,
     "Stage IDs": [2], "Properties": {"spark.job.description": "stream q batch = 0"}},
    _task(2, 1_002_010, 1_002_900, 850, 400_000_000, py_start_ms=300),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1_003_000},
    # a job outside every op span (set-up): attributed to nothing
    {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 1_009_000,
     "Stage IDs": [3], "Properties": {}},
    _task(3, 1_009_010, 1_009_100, 50, 1_000_000),
    {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 1_009_200},
]


def _write_log(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in CANNED_LOG) + "\n")
    (app / "appstatus_local-1").write_text("")
    return tmp_path


def test_event_log_attribution_by_description_and_time(tmp_path):
    jobs, stages = trace.parse_event_log(str(_write_log(tmp_path)))
    assert len(jobs) == 4
    op1 = trace.Span(0, "op:scan_eq", 1, None, 1000.0, 1001.0)
    op2 = trace.Span(1, "op:stream_q", 2, None, 1001.5, 1003.5)
    got = trace.attribute_jobs([op1, op2], jobs, stages)

    a = got[op1.sid]
    assert a["jobs"] == 2 and a["stages"] == 2 and a["tasks"] == 3
    assert a["executor_run_s"] == pytest.approx(0.39)
    assert a["executor_cpu_s"] == pytest.approx(0.27)
    assert a["scan_bytes"] == 8192 and a["shuffle_write_bytes"] == 1024
    # scheduler delay: (190-150-5-1) + (180-160-5-1) + (90-80-5-1) ms
    assert a["scheduler_delay_s"] == pytest.approx((34 + 14 + 4) / 1e3)
    assert a["job_intervals"] == [(1000.1, 1000.4), (1000.5, 1000.7)]
    # driver-only time: the op's wall minus the union of its job intervals
    assert trace.self_time(op1.start, op1.end, a["job_intervals"]) == pytest.approx(0.5)

    b = got[op2.sid]
    assert b["jobs"] == 1 and b["tasks"] == 1
    assert b["python_worker_start_s"] == pytest.approx(0.3)
    assert b["executor_run_s"] == pytest.approx(0.85)


# -- result checks and error_rate -----------------------------------------------------


class _FakeSpark:
    sparkContext = SimpleNamespace(setJobDescription=lambda desc: None)


class _AnswerWorkload:
    """run() returns an answer; check() wants 42."""

    def __init__(self, answers):
        self.answers = answers

    def run(self, spark, op, rec):
        answer = self.answers[op.op_id]
        if isinstance(answer, Exception):
            raise answer
        op.result = answer

    def check(self, op):
        return op.result == 42


def test_wrong_or_raising_op_raises_error_rate():
    wl = _AnswerWorkload({1: 42, 2: 41, 3: RuntimeError("boom"), 4: 42})
    runner = Runner(_FakeSpark(), wl, trace.NullRecorder(), traced=False)
    for i in range(1, 5):
        runner.step(workloads.Op(i, "q", "read"), timed=True)
    assert [r["ok"] for r in runner.records] == [True, False, False, True]
    e2e = report.end_to_end(runner.records, 2.0, 100.0, 1.0, {})
    assert e2e["error_rate"]["value"] == pytest.approx(0.5)
    assert e2e["op_p50_s"]["n"] == 4  # failed ops are latency samples too
    assert e2e["ops_per_s"]["value"] < 2 / sum(r["lat"] for r in runner.records) + 1e-9
    assert e2e["setup_s"]["value"] == 2.0


def test_known_defect_probe_is_reported_apart_from_the_ops():
    wl = _AnswerWorkload({1: 42, 2: 41, 3: 42})
    runner = Runner(_FakeSpark(), wl, trace.NullRecorder(), traced=False)
    runner.step(workloads.Op(1, "q", "read"), timed=True)
    runner.step(workloads.Op(2, "scan_or", "probe", params={"where": "a OR b"}), timed=True)
    runner.step(workloads.Op(3, "q", "read"), timed=True)
    assert [r["op_id"] for r in runner.records] == [1, 3]
    assert runner.probes == [{"op_id": 2, "name": "scan_or", "ok": False, "where": "a OR b"}]
    assert workloads.PROBES <= set(workloads.CYCLE)


def test_frame_hash_is_order_insensitive_and_value_strict():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5], "s": ["x", None, "z"]})
    shuffled = a.iloc[[2, 0, 1]][["v", "s", "k"]]
    assert workloads.frame_hash(a) == workloads.frame_hash(shuffled)
    wrong = a.copy()
    wrong.loc[1, "v"] = 1.25
    assert workloads.frame_hash(a) != workloads.frame_hash(wrong)
    as_float = a.astype({"k": "float64"})
    assert workloads.frame_hash(a) != workloads.frame_hash(as_float)
    zero, neg_zero = pd.DataFrame({"v": [0.0]}), pd.DataFrame({"v": [-0.0]})
    assert workloads.frame_hash(zero) != workloads.frame_hash(neg_zero)


def test_model_matches_expected_delete_and_time_travel():
    import duckdb

    m = workloads.TableModel(duckdb.connect())
    base = pd.DataFrame({"event_id": [1, 2, 3], "ts": pd.to_datetime(["2024-01-01"] * 3),
                         "user_id": [7, 8, 7], "event_type": ["a", "b", "a"],
                         "value": [1.0, None, 3.0], "props": ["{}"] * 3})
    m.load(base)
    assert m.delete("user_id = 7") == 2
    m.merge(base.iloc[[1]].assign(value=9.0))
    assert m.aggregate() == (1, 2, 1, 9.0)
    assert m.aggregate(v=1) == (3, 6, 2, 4.0)
    # value IS NULL rows are not deleted by a comparison on value
    assert m.aggregate("value > 0", v=1) == (2, 4, 2, 4.0)


# -- memory sampler ---------------------------------------------------------------


def test_rss_sampler_sums_the_process_tree():
    import subprocess

    sampler = measure.RssSampler(interval_s=0.05).start()
    child = subprocess.Popen([sys.executable, "-c",
                              "import time; b = bytearray(300 * 2**20); time.sleep(1.5)"])
    try:
        assert child.wait(timeout=30) == 0
    finally:
        sampler.stop()
    assert sampler.peak_mb >= 300
    assert not sampler._thread.is_alive()


def test_tree_cpu_counts_a_child_before_and_after_it_is_reaped():
    import subprocess

    before = measure.tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c",
                              "import time\nt = time.process_time()\n"
                              "while time.process_time() - t < 0.5: pass\ntime.sleep(5)"])
    try:
        time.sleep(2)  # the child has burnt its CPU and sleeps, unreaped
        running = measure.tree_cpu_s(os.getpid()) - before
    finally:
        child.kill()
        child.wait()
    reaped = measure.tree_cpu_s(os.getpid()) - before
    assert 0.45 <= running <= reaped


def test_trace_overhead_is_missing_without_a_matching_untraced_run(tmp_path):
    log = tmp_path / "untraced-w-seed1-abc.jsonl"
    assert report.trace_overhead(1.0, log) == {"value": None, "unit": "s", "n_untraced": 0}
    log.write_text('{"op_p50_s": 0.5}\n{"op_p50_s": 0.7}\n{"op_p50_s": 0.6}\n')
    ov = report.trace_overhead(1.0, log)
    assert ov["value"] == pytest.approx(0.4) and ov["n_untraced"] == 3


def test_fixtures_match_their_recorded_hashes():
    import hashlib

    fixtures = Path(__file__).resolve().parent / "fixtures"
    lines = (fixtures / "SHA256SUMS").read_text().split("\n")
    sums = dict(reversed(line.split()) for line in lines if line.strip())
    assert sorted(sums) == sorted(str(p.relative_to(fixtures)) for p in fixtures.rglob("*.parquet"))
    for rel, digest in sums.items():
        assert hashlib.sha256((fixtures / rel).read_bytes()).hexdigest() == digest, rel


def test_benchmark_json_declares_exactly_the_reported_metrics():
    doc = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert [m["name"] for m in doc["end_to_end"]] == list(report.END_TO_END)
    assert [m["name"] for m in doc["per_layer"]] == list(report.PER_LAYER)
    for m in doc["per_layer"]:
        assert m["unit"] == report.unit_of(m["name"])
