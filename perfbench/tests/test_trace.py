"""Tests of the benchmark's own trace arithmetic (no Spark needed).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import layers, openloop, trace as T
from perfbench.online import batch_files

DATA = os.path.join(os.path.dirname(__file__), "data")
ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ------------------------------------------------------------- event log

@pytest.fixture(scope="module")
def log():
    # a recorded Spark 4.1 log: job 0 (group g1) runs a mapInPandas stage
    # on 4 tasks; job 3 (group g2) runs a 4-task shuffle-map stage
    return T.read_event_log(DATA)


def test_jobs_groups_and_stages(log):
    assert sorted(log.jobs) == [0, 3]
    assert (log.jobs[0].group, log.jobs[0].stages) == ("g1", [0])
    assert (log.jobs[3].group, log.jobs[3].stages) == ("g2", [4])
    assert log.jobs[0].submit_ms == 1792209029093
    assert log.stage_tasks == {0: 4, 4: 4}
    assert T.stage_count(log, list(log.jobs.values())) == 2


def test_task_totals_match_hand_sums(log):
    got = T.task_totals(log, T.tasks_of(log, [log.jobs[0]]))
    assert got["tasks"] == 4
    assert got["task_run_s"] == pytest.approx((3085 + 3117 + 3071 + 3080) / 1e3)
    assert got["task_cpu_s"] == pytest.approx(
        (241000025 + 153040416 + 399537789 + 192434603) / 1e9)
    assert got["gc_s"] == pytest.approx(4 * 42 / 1e3)
    # wait = (finish - launch) - run - deserialize - serialize - get-result
    assert got["task_wait_s"] == pytest.approx((85 + 40 + 67 + 84) / 1e3)
    assert got["shuffle_write_mb"] == pytest.approx((226 + 229 + 229 + 237) / T.MB)
    assert got["py_boot_s"] == pytest.approx((1533 + 1553 + 1560 + 1545) / 1e3)
    assert got["py_init_s"] == pytest.approx((679 + 741 + 694 + 723) / 1e3)
    assert got["py_total_s"] == pytest.approx((2561 + 2727 + 2647 + 2573) / 1e3)
    assert got["py_sent_mb"] == pytest.approx(4 * 4320 / T.MB)
    assert got["py_recv_mb"] == pytest.approx(4 * 4224 / T.MB)
    # output rows of the Python node only (its id comes from the AQE plan)
    assert got["py_rows"] == 4 * 250


def test_job_without_python_has_no_python_metrics(log):
    got = T.task_totals(log, T.tasks_of(log, [log.jobs[3]]))
    assert got["tasks"] == 4
    assert got["task_run_s"] == pytest.approx((35 + 38 + 61 + 43) / 1e3)
    assert got["task_wait_s"] == pytest.approx((14 + 15 + 7 + 30) / 1e3)
    assert got["py_boot_s"] == got["py_rows"] == 0


def test_failed_tasks_are_not_counted():
    with open(os.path.join(DATA, "eventlog_small.jsonl")) as fh:
        lines = fh.read().splitlines()
    task = json.loads(next(ln for ln in lines if '"SparkListenerTaskEnd"' in ln))
    task["Task Info"]["Failed"] = True
    base = T.parse_event_log(lines)
    more = T.parse_event_log(lines + [json.dumps(task)])
    assert len(more.tasks) == len(base.tasks)


def test_jobs_in_window(log):
    t = log.jobs[3].submit_ms / 1e3
    assert [j.id for j in T.jobs_in(log, t - 0.001, t + 0.001)] == [3]
    assert T.jobs_in(log, t + 1, t + 2) == []


def test_rolled_log_parts_are_read_in_order(tmp_path):
    with open(os.path.join(DATA, "eventlog_small.jsonl")) as fh:
        lines = fh.read().splitlines(True)
    part = tmp_path / "eventlog_v2_app"
    part.mkdir()
    (part / "events_1_app").write_text("".join(lines[:8]))
    (part / "events_2_app").write_text("".join(lines[8:]))
    (part / "appstatus_app").write_text("")
    got = T.read_event_log(str(tmp_path))
    assert sorted(got.jobs) == [0, 3] and len(got.tasks) == 8


# ------------------------------------------------------------ self time

def test_self_time_subtracts_covered_children():
    assert T.self_time(0, 10, []) == 10
    assert T.self_time(0, 10, [(1, 3), (5, 6)]) == pytest.approx(7)
    # overlapping children count once
    assert T.self_time(0, 10, [(1, 4), (3, 6)]) == pytest.approx(5)
    # children are clipped to the span
    assert T.self_time(2, 10, [(0, 4), (9, 12)]) == pytest.approx(5)
    assert T.self_time(0, 10, [(0, 10), (2, 3)]) == pytest.approx(0)


def test_tracer_nesting_and_self_time(monkeypatch):
    clock = iter([0.0, 1.0, 4.0, 5.0, 6.0, 10.0])
    monkeypatch.setattr(T.time, "time", lambda: next(clock))
    tr = T.Tracer(True)
    with tr.span("qcatalog", "query") as q:
        with tr.span("qcatalog", "build"):
            pass
        with tr.span("qcatalog", "action") as a:
            pass
    assert [s.parent for s in tr.spans] == [None, q.id, q.id]
    assert q.duration == 10 and a.duration == 1
    kids = [(s.start, s.end) for s in tr.spans if s.parent == q.id]
    assert T.self_time(q.start, q.end, kids) == pytest.approx(10 - 3 - 1)


def test_callback_span_takes_explicit_parent(monkeypatch):
    import threading

    tr = T.Tracer(True)
    with tr.span("streaming", "query") as q:
        def callback():
            with tr.span("streaming", "batch", parent=q):
                pass
        th = threading.Thread(target=callback)
        th.start()
        th.join()
    batch = [s for s in tr.spans if s.op == "batch"][0]
    assert batch.parent == q.id


def test_disabled_tracer_records_nothing():
    tr = T.Tracer(False)
    with tr.span("x", "y") as s:
        assert s is None
    assert tr.spans == []


# ---------------------------------------------------- open-loop latency

class FakeClock:
    def __init__(self, t=100.0):
        self.t = t

    def __call__(self):
        return self.t

    def sleep(self, dt):
        self.t += dt


def test_schedule_is_fixed_rate_per_phase():
    plan = openloop.schedule(10.0, [("low", 2.0, 2.0), ("high", 4.0, 1.0)])
    assert [(e.event_id, e.phase) for e in plan] == (
        [(0, "low"), (1, "low"), (2, "low"), (3, "low")]
        + [(4, "high"), (5, "high"), (6, "high"), (7, "high")])
    assert [e.due for e in plan] == [10.0, 10.5, 11.0, 11.5, 12.0, 12.25, 12.5, 12.75]


def test_latency_counts_from_due_time_when_the_generator_stalls():
    clock = FakeClock(100.0)
    plan = openloop.schedule(100.0, [("low", 1.0, 3.0)])

    def send(ev):  # the first send blocks 2.5 s: later events go out late
        if ev.event_id == 0:
            clock.t += 2.5

    gen = openloop.Generator(plan, send, clock=clock, sleep=clock.sleep)
    gen.run()
    assert gen.sent == {0: 102.5, 1: 102.5, 2: 102.5}
    assert openloop.lateness_ms(plan, gen.sent) == [2500.0, 1500.0, 500.0]
    done = {0: 103.0, 1: 103.0, 2: 103.0}
    # charged from due time (100, 101, 102), not from the late send
    assert openloop.latencies_ms(plan, done) == {"low": [3000.0, 2000.0, 1000.0]}


def test_generator_waits_for_due_time_and_skips_undelivered():
    clock = FakeClock(50.0)
    plan = openloop.schedule(51.0, [("a", 2.0, 1.0)])
    gen = openloop.Generator(plan, lambda ev: None, clock=clock, sleep=clock.sleep)
    gen.run()
    assert gen.sent == {0: 51.0, 1: 51.5}
    assert openloop.lateness_ms(plan, gen.sent) == [0.0, 0.0]
    assert openloop.latencies_ms(plan, {1: 52.0}) == {"a": [500.0]}


# ------------------------------------------- stream offset log, contract

def test_batch_files_reads_plain_and_compacted_offset_logs(tmp_path):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)

    def entry(p, b):
        return json.dumps({"path": f"file:///ev/{p}", "timestamp": 1, "batchId": b})

    (src / "3").write_text("v1\n" + entry("ev-0000007.parquet", 3) + "\n")
    (src / "9.compact").write_text("v1\n" + "\n".join(
        [entry("ev-0000001.parquet", 8), entry("ev-0000002.parquet", 9),
         entry("ev-0000003.parquet", 9)]) + "\n")
    assert batch_files(str(tmp_path), 3) == ["file:///ev/ev-0000007.parquet"]
    assert [os.path.basename(p) for p in batch_files(str(tmp_path), 9)] == [
        "ev-0000002.parquet", "ev-0000003.parquet"]
    assert batch_files(str(tmp_path), 4) == []


def test_benchmark_json_lists_what_the_runs_print():
    from perfbench.run import END_TO_END, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == layers.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    names = [n for n, _ in layers.PER_LAYER]
    assert len(names) == len(set(names)) <= 128
