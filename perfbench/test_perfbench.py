"""Self-tests of the benchmark's own logic. No Spark, no data:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from sparkmetrics import group_metrics  # noqa: E402
from workloads import Step  # noqa: E402


# -- percentiles and the tail rule ------------------------------------------

def test_percentile_interpolates():
    assert stats.percentile([1, 2, 3, 4], 50) == 2.5
    assert stats.percentile([5], 90) == 5.0
    assert stats.percentile(list(range(101)), 90) == 90.0


def test_tail_needs_ten_samples_beyond_it():
    assert stats.tail(list(range(99)), 90) is None      # 9 beyond p90
    assert stats.tail(list(range(100)), 90) == pytest.approx(89.1)
    assert stats.summary([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0,
                                              "p90": None, "tail": None}
    # 60 samples: 15 beyond p75, 6 beyond p90
    s = stats.summary([float(i) for i in range(60)])
    assert s["p90"] is None and s["tail"]["q"] == 75.0


def test_relative_iqr_matches_statistics_quantiles():
    # quantiles(1..10, n=4) = [2.75, 5.5, 8.25]
    assert stats.relative_iqr(list(range(1, 11))) == pytest.approx(1.0)


# -- job-interval union behind spark.driver_only_ms -------------------------

def test_union_merges_overlaps_and_clips():
    assert stats.union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert stats.union_ms([(0, 100), (10, 20)]) == 100      # nested
    assert stats.union_ms([(0, 10), (10, 20)]) == 20        # touching
    assert stats.union_ms([(-5, 5), (95, 120)], 0, 100) == 10
    assert stats.union_ms([]) == 0


class _Opt:
    def __init__(self, v):
        self.v = v

    def isDefined(self):
        return self.v is not None

    def get(self):
        return self

    def getTime(self):
        return self.v


class _Str:
    def __init__(self, s):
        self.s = s

    def toString(self):
        return self.s


class _Job:
    def __init__(self, a, b):
        self.a, self.b = a, b

    def submissionTime(self):
        return _Opt(self.a)

    def completionTime(self):
        return _Opt(self.b)


class _Stage:
    def __init__(self, tasks, status="COMPLETE"):
        self.tasks, self.st = tasks, status

    def status(self):
        return _Str(self.st)

    def numTasks(self):
        return self.tasks

    def executorRunTime(self):
        return 10 * self.tasks

    def executorCpuTime(self):
        return 2_000_000 * self.tasks

    def inputBytes(self):
        return 2**20

    def shuffleWriteBytes(self):
        return 0


class _Tracker:
    def __init__(self, jobs):
        self.jobs = jobs

    def getJobIdsForGroup(self, group):
        return list(self.jobs)

    def getJobInfo(self, j):
        return SimpleNamespace(stageIds=self.jobs[j][2])


class _Store:
    def __init__(self, jobs, stages):
        self.jobs, self.stages = jobs, stages

    def job(self, j):
        return _Job(*self.jobs[j][:2])

    def lastStageAttempt(self, s):
        return self.stages[s]

    # stands in for both ``sc._jsc`` and ``sc._jsc.sc()``
    def sc(self):
        return self

    def statusStore(self):
        return self


class _FakeSc:
    """statusTracker() and statusStore() of a group with three jobs."""

    def __init__(self):
        jobs = {1: (1000, 1040, [10]), 2: (1030, 1060, [11, 12]),
                3: (1080, 1090, [12])}
        stages = {10: _Stage(4), 11: _Stage(2, "SKIPPED"), 12: _Stage(3)}
        self._tracker = _Tracker(jobs)
        self._jsc = _Store(jobs, stages)

    def statusTracker(self):
        return self._tracker

    def setJobGroup(self, *a):
        pass


def test_driver_only_is_wall_minus_job_union():
    m = group_metrics(_FakeSc(), "g", 990.0, 1100.0)
    # jobs cover [1000, 1060] and [1080, 1090]: 70 ms of 110
    assert m["driver_only_ms"] == pytest.approx(40.0)
    assert m["jobs"] == 3
    assert m["tasks"] == 7                  # skipped stage 11 not counted,
    assert m["executor_cpu_ms"] == pytest.approx(14.0)  # stage 12 once


# -- span self time -----------------------------------------------------------

class _Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_direct_children():
    clock = _Clock()
    tr = tracing.Tracer(clock)

    class M:
        @staticmethod
        def inner():
            clock.t += 0.003

        @staticmethod
        def outer():
            clock.t += 0.001
            M.inner()
            M.inner()
            clock.t += 0.002

    tr.wrap(M, "inner", "low")
    tr.wrap(M, "outer", "high")
    tr.request = 7
    M.outer()
    assert tracing.self_time_ms(tr.spans) == pytest.approx(
        {"high": 3.0, "low": 6.0})
    assert tracing.inclusive_ms(tr.spans, {7}) == pytest.approx(
        {"high": 9.0, "low": 6.0})
    assert [s[tracing.PARENT] for s in tr.spans] == [None, 0, 0]
    assert {s[tracing.REQUEST] for s in tr.spans} == {7}


def test_nested_same_layer_counts_once_and_missing_attr_raises():
    clock = _Clock()
    tr = tracing.Tracer(clock)

    class M:
        @classmethod
        def a(cls):
            clock.t += 0.001
            cls.b()

        @classmethod
        def b(cls):
            clock.t += 0.004

    tr.wrap(M, "a", "pruning")
    tr.wrap(M, "b", "pruning")
    with pytest.raises(AttributeError):
        tr.wrap(M, "gone", "pruning")
    M.a()
    assert tracing.inclusive_ms(tr.spans) == pytest.approx({"pruning": 5.0})
    assert tracing.self_time_ms(tr.spans) == pytest.approx({"pruning": 5.0})


# -- a wrong result is a failed op --------------------------------------------

class _FakeWorkload:
    def __init__(self, answer):
        self.answer = answer

    def prepare(self, step):
        pass

    def execute(self, step):
        if self.answer is None:
            raise RuntimeError("boom")
        return self.answer

    def apply_model(self, step):
        pass

    def summarize(self, step, result):
        return (len(result),)


@pytest.mark.parametrize("answer,ok", [([1, 2], True), ([1], False),
                                       (None, False)])
def test_wrong_or_raising_op_counts_as_failure(answer, ok):
    records = []
    step = Step("point", "op", {"keys": [1]}, expected=(2,))
    got = run.execute_step(_FakeWorkload(answer), step, _FakeSc(), {},
                           records, None, 0)
    assert got is ok
    assert records[0]["ok"] is ok
    if not ok:
        assert records[0]["want"] == (2,)


# -- the traced run prints exactly BENCHMARK.json's per-layer metrics -------

def test_per_layer_names_and_units_match_benchmark_json():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer"]
    assert [m["name"] for m in declared] == list(run.PER_LAYER)
    assert all(m["unit"] == run.layer_unit(m["name"]) for m in declared)


# -- no process outlives a run ----------------------------------------------

def test_end_children_reaps_orphans_that_ignore_sigterm():
    """A grandchild whose parent has exited, one of which ignores
    SIGTERM, is re-parented to the run and ended before it returns."""
    import subprocess
    import textwrap
    import time
    script = textwrap.dedent(f"""
        import os, subprocess, sys, time
        sys.path.insert(0, {os.path.dirname(os.path.abspath(__file__))!r})
        import run
        run.adopt_orphans()
        subprocess.run(["bash", "-c", "sleep 300 & "
                        "(trap '' TERM; exec sleep 300) & exit 0"])
        time.sleep(0.2)
        before = len(run.children(os.getpid()))
        run.end_children(grace=0.2)
        print(before, len(run.children(os.getpid())))
    """)
    t0 = time.monotonic()
    out = subprocess.run([sys.executable, "-c", script], check=True,
                         capture_output=True, text=True, timeout=60).stdout
    assert out.split() == ["2", "0"]
    assert time.monotonic() - t0 < 30
