"""Self-tests for the benchmark's arithmetic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchmath import (  # noqa: E402
    Span,
    attribute_job,
    core_busy,
    highest_percentile,
    self_times,
    stolen_share,
)


# ------------------------------------------------------------- percentiles


def test_no_percentile_below_eleven_samples():
    # p50 of 10 samples leaves 5 beyond it, fewer than ten
    assert highest_percentile([float(i) for i in range(10)]) is None
    assert highest_percentile([]) is None


def test_median_needs_twenty_samples():
    assert highest_percentile([float(i) for i in range(19)]) is None
    p, v = highest_percentile([float(i) for i in range(1, 21)])
    assert (p, v) == (50.0, 10.0)


def test_highest_supported_percentile_is_chosen():
    values = [float(i) for i in range(1, 101)]
    # p90 leaves exactly ten samples beyond it; p95 leaves five
    assert highest_percentile(values) == (90.0, 90.0)
    values = [float(i) for i in range(1, 1001)]
    assert highest_percentile(values) == (99.0, 990.0)


def test_percentile_ignores_sample_order():
    values = [float(i) for i in range(100, 0, -1)]
    assert highest_percentile(values) == (90.0, 90.0)


# --------------------------------------------------------------- self time


def _tree():
    return [
        Span("root", "bench", None, 0.0, 10.0, depth=0),
        Span("a", "cli", "root", 1.0, 9.0, depth=1),
        Span("b", "survey.export", "a", 2.0, 4.0, depth=2),
        Span("c", "survey.profile", "b", 2.5, 3.0, depth=3),
        Span("d", "survey.quality", "a", 5.0, 8.0, depth=2),
    ]


def test_self_time_subtracts_direct_children_only():
    st = self_times(_tree())
    assert st["root"] == pytest.approx(2.0)
    assert st["a"] == pytest.approx(8.0 - 2.0 - 3.0)
    assert st["b"] == pytest.approx(1.5)
    assert st["c"] == pytest.approx(0.5)
    assert st["d"] == pytest.approx(3.0)


def test_self_times_sum_to_root_wall():
    assert sum(self_times(_tree()).values()) == pytest.approx(10.0)


def test_overlapping_children_are_counted_once():
    spans = [
        Span("p", "cli", None, 0.0, 10.0),
        Span("x", "security", "p", 1.0, 5.0, depth=1),
        Span("y", "security", "p", 3.0, 7.0, depth=1),
    ]
    assert self_times(spans)["p"] == pytest.approx(10.0 - 6.0)


def test_child_outside_parent_is_clipped():
    spans = [Span("p", "cli", None, 0.0, 4.0), Span("x", "security", "p", 3.0, 6.0, depth=1)]
    assert self_times(spans)["p"] == pytest.approx(3.0)


# ---------------------------------------------------------------- core_busy


def test_core_busy():
    assert core_busy(8.0, 4.0, 4) == pytest.approx(0.5)
    assert core_busy(16.0, 4.0, 4) == pytest.approx(1.0)
    assert core_busy(1.0, 0.0, 4) == 0.0


# ------------------------------------------------------------ stolen share


def test_stolen_share_is_steal_over_wanted_cpu_time():
    # 300 ticks ran, 100 more were wanted but taken by the host
    assert stolen_share((1000, 50), (1300, 150)) == pytest.approx(0.25)
    assert stolen_share((1000, 50), (1300, 50)) == 0.0
    assert stolen_share((7, 3), (7, 3)) == 0.0  # nothing ran


# ---------------------------------------------------------- job attribution


def test_job_goes_to_the_span_named_by_its_group():
    spans = _tree()
    by_id = {s.span_id: s for s in spans}
    # submitted inside `c`'s window, but its group names `d`
    assert attribute_job("d", 2.7, spans, by_id).span_id == "d"


def test_ungrouped_job_goes_to_innermost_open_span():
    spans = _tree()
    by_id = {s.span_id: s for s in spans}
    assert attribute_job(None, 2.7, spans, by_id).span_id == "c"
    assert attribute_job(None, 4.5, spans, by_id).span_id == "a"
    assert attribute_job(None, 0.5, spans, by_id).span_id == "root"


def test_unknown_group_falls_back_to_time_window():
    spans = _tree()
    by_id = {s.span_id: s for s in spans}
    assert attribute_job("engine-own-group", 6.0, spans, by_id).span_id == "d"


def test_job_outside_every_span_is_unattributed():
    spans = _tree()
    assert attribute_job(None, 11.0, spans, {s.span_id: s for s in spans}) is None


# ------------------------------------------------------- output comparison


def test_canonical_rows_ignore_row_order_and_dtype_width():
    import numpy as np
    import pandas as pd

    from checks import canonical

    a = pd.DataFrame({"k": np.array([2, 1], dtype=np.int32), "v": [0.5, 3.0]})
    b = pd.DataFrame({"v": [3, 0.5], "k": np.array([1, 2], dtype=np.int64)})
    assert canonical(a) == canonical(b)
    c = pd.DataFrame({"k": [1, 2], "v": [3.0, 0.25]})
    assert canonical(a) != canonical(c)


# ------------------------------------------------------------------ tracer


class _Opt:
    """Just enough of a Scala Option."""

    def __init__(self, value):
        self.value = value

    def isDefined(self):
        return self.value is not None

    def get(self):
        return self.value


class _Seq:
    def __init__(self, items):
        self.items = items

    def size(self):
        return len(self.items)

    def apply(self, i):
        return self.items[i]


class _Job:
    def __init__(self, job_id, group, submitted, stages):
        self._id, self._group, self._stages = job_id, group, stages
        self._sub = type("Date", (), {"getTime": lambda _: int(submitted * 1000)})()

    def jobId(self):
        return self._id

    def jobGroup(self):
        return _Opt(self._group)

    def submissionTime(self):
        return _Opt(self._sub)

    def stageIds(self):
        return _Seq(self._stages)


class _Stage:
    def numCompleteTasks(self):
        return 4

    def numFailedTasks(self):
        return 0

    def executorRunTime(self):
        return 2000

    def inputBytes(self):
        return 1024 * 1024

    def shuffleWriteBytes(self):
        return 0

    def diskBytesSpilled(self):
        return 0


class _FakeSpark:
    """A SparkContext whose status store holds the jobs the test starts;
    each job records the job group set on the calling thread."""

    def __init__(self):
        self.group, self.jobs, self.drained = None, [], 0
        sc = type("Sc", (), {})()
        sc.statusStore = lambda: self
        sc.listenerBus = lambda: type("Bus", (), {"waitUntilEmpty": lambda _: self._drain()})()
        self._jsc = type("Jsc", (), {"sc": lambda _: sc})()

    def _drain(self):
        self.drained += 1

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.group = value

    def run_job(self):
        import time

        n = len(self.jobs)
        self.jobs.append(_Job(n, self.group, time.time(), [n]))

    def jobsList(self, _statuses):
        return _Seq(self.jobs[::-1])

    def lastStageAttempt(self, _sid):
        return _Stage()


def _frame_class():
    from pyspark.sql import DataFrame

    class Frame(DataFrame):
        """A lazy plan: its job runs only when it is collected."""

        def __new__(cls, spark):
            return object.__new__(cls)

        def __init__(self, spark):
            self.spark = spark

        def collect(self):
            self.spark.run_job()
            return []

        def first(self):
            return self.collect()

    return Frame


def test_job_of_a_returned_frame_goes_to_the_layer_that_built_it():
    from tracing import Tracer

    spark, frame_cls = _FakeSpark(), _frame_class()
    tracer = Tracer(cores=4)
    tracer.sc = spark
    build = tracer.wrap("survey.profile", lambda: frame_cls(spark))
    with tracer.tree("pass"):
        with tracer.span("survey.export"):
            frame = build()  # lazy: no job yet
            assert spark.jobs == []
            frame.collect()  # the job runs here, inside the export span
            frame.first()  # an action calling another counts once
    assert isinstance(frame, frame_cls)
    assert spark.drained == 1
    figs = tracer.layer_figures([("pass", 1.0)])
    assert figs["survey.profile"]["jobs"] == 2
    assert figs["survey.profile"]["calls"] == 3  # the build and two actions
    assert figs["survey.profile"]["tasks"] == 8
    assert figs["survey.profile"]["task_s"] == pytest.approx(4.0)
    assert figs["survey.profile"]["input_mb"] == pytest.approx(2.0)
    assert figs["survey.export"]["jobs"] == 0


def test_coverage_is_the_reported_layers_share_of_the_pass():
    from tracing import Tracer

    tracer = Tracer(cores=4)
    tracer.trees["pass"] = [
        Span("r", "bench", None, 0.0, 10.0),
        Span("a", "cli", "r", 0.5, 9.5, depth=1),
        Span("b", "survey.quality", "a", 1.0, 8.0, depth=2),
    ]
    share, unknown = tracer.coverage("pass")
    assert share == pytest.approx(0.9)
    assert unknown == []
    # a span recorded twice pushes the reported figures past the wall time
    tracer.trees["pass"].append(tracer.trees["pass"][-1])
    assert tracer.coverage("pass")[0] == pytest.approx(1.6)
    # a span of a layer no figure reports is named
    tracer.trees["pass"].append(Span("c", "survey.sampling", "a", 8.0, 9.0, depth=2))
    assert tracer.coverage("pass")[1] == ["survey.sampling"]
