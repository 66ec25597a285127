"""The pass loop, the result line and the end of a run, without Spark."""

import os
import subprocess
import sys

import procfs
import run
import workloads


class _Raising:
    def before_pass(self):
        pass

    def run_pass(self):
        raise RuntimeError("boom")


def _probe():
    return {"jvm_cpu_s": 0.0, "python_cpu_s": 0.0, "gc_s": 0.0, "jvm_hwm_mb": 0.0, "threads": {}}


def test_a_run_whose_passes_all_raise_ends_and_fails_every_doc():
    passes, raising = run.timed_passes(_Raising(), 0.0, _probe)
    assert passes == [] and raising == run.MAX_RAISING_PASSES
    raw = {"check": {"docs": 10, "failed": 0, "units": []}, "passes": passes, "raising_passes": raising}
    for trace in (False, True):
        res = run.result(raw, trace)
        assert res == {"correct": False, "attempted": 10 * raising, "failed": 10 * raising,
                       "metrics": {}}


def test_pass_failures_add_to_the_warm_up_check():
    p = {"job_s": 2.0, "jvm_cpu_s": 1.0, "python_cpu_s": 3.0, "failed": 0, "jvm_hwm_mb": 100.0}
    raw = {"check": {"docs": 10, "failed": 0, "units": [("u", b"", 4)] * 10},
           "passes": [p, {**p, "failed": 2}], "raising_passes": 1,
           "worker_peak_rss_mb": 50.0, "setup_s": 5.0}
    res = run.result(raw, False)
    assert (res["correct"], res["attempted"], res["failed"]) == (False, 30, 12)
    assert res["metrics"]["job_s"]["value"] == 2.0


def test_a_traced_run_without_an_event_log_is_not_correct():
    p = {"job_s": 2.0, "start_ms": 0.0, "end_ms": 1.0, "failed": 0, "traced": False}
    raw = {"check": {"docs": 10, "failed": 0, "units": []}, "passes": [p, {**p, "traced": True}],
           "raising_passes": 0, "eventlog": None}
    res = run.result(raw, True)
    assert res["correct"] is False and res["metrics"] == {}


class _Counting:
    def __init__(self):
        self.n = 0

    def before_pass(self):
        pass

    def run_pass(self):
        self.n += 1
        return {}

    def after_pass(self, info):
        return {"failed": 0}


class _Switch:
    def __init__(self):
        self.on, self.calls = True, []

    def set(self, on):
        self.calls.append(on)
        self.on = on


def test_traced_runs_alternate_and_end_with_the_log_attached():
    switch = _Switch()
    passes, raising = run.timed_passes(_Counting(), 0.0, _probe, switch)
    assert raising == 0
    assert [p["traced"] for p in passes] == [True, False, False, True]
    assert switch.calls == [True, False, False, True, True] and switch.on
    passes, _ = run.timed_passes(_Counting(), 0.0, _probe)
    assert [p["traced"] for p in passes] == [False] * run.MIN_PASSES


def _children() -> list[int]:
    me = os.getpid()
    return [p.pid for p in procfs.tree(me).values() if p.ppid == me]


def test_the_oracle_leaves_no_child_process():
    workloads.oracle([{"url": "https://a.example/x.html", "html": b"<p>hello world</p>"}], 2)
    assert _children() == []


def test_end_children_waits_for_and_kills_what_is_left():
    quick = subprocess.Popen([sys.executable, "-c", "pass"])
    stuck = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    run._end_children(timeout_s=0.5)
    assert _children() == []
    assert not any(os.path.exists(f"/proc/{p.pid}") for p in (quick, stuck))
