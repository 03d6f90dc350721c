"""Spans around the engine's public functions, and the Spark work under them.

Only the traced run (`--trace 1`) installs any of this. Spans are recorded
from the benchmark's side: `Tracer.install()` replaces each listed public
function of a layer module with a wrapper that opens a span, so calls the
engine makes between its own modules are seen too (the modules resolve
those names at call time). Spans are kept in memory and summarised when the
run ends.

A traced function that returns a DataFrame returns a lazy plan: its Spark
jobs run later, when the caller collects it. So the frame handed back is
re-classed to a subclass whose actions (FRAME_ACTIONS) run inside a span of
the same layer, and those jobs carry that layer's group. Frames derived
from it by further transformations are plain frames again.

Spark work is attributed by job group: every span sets its id as the job
group of the calling thread and restores its parent's on exit. Jobs that
carry no known group (submitted from a worker thread the engine started)
go to the innermost span open at their submission time. Job and stage
figures come from Spark's in-memory status store, which it keeps even
with the UI disabled. That store is filled asynchronously from Spark's
listener bus, so the bus is drained before it is read.
"""

from __future__ import annotations

import importlib
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import Any

from py4j.protocol import Py4JJavaError

from benchmath import Span, attribute_job, core_busy, self_times

# layer name -> (module under dbsurveyor_spark, public functions traced)
LAYER_FUNCTIONS: dict[str, tuple[str, tuple[str, ...]]] = {
    "session": ("session", ("get_session",)),
    "survey.export": (
        "survey.export",
        (
            "collect_database_schema",
            "write_schema_json",
            "load_schema_json",
            "to_markdown",
            "to_sql_ddl",
            "validate_schema_doc",
        ),
    ),
    "survey.profile": (
        "survey.profile",
        ("survey_schema_overview", "survey_pk_inference", "survey_fk_inference"),
    ),
    "survey.quality": (
        "survey.quality",
        ("collect_quality_metrics", "quality_rule_checks", "quality_distribution_psi"),
    ),
    "security": ("security", ("redact_rows", "encrypt_bytes", "decrypt_bytes")),
}
# Layers whose spans the benchmark opens itself: the CLI verb, and each
# registry op under the module that implements it.
LAYERS = (
    "session",
    "cli",
    "survey.export",
    "survey.profile",
    "survey.quality",
    "security",
    "operators.dedup",
    "operators.similarity",
    "operators.textstats",
)
FIGURE_UNITS = {
    "calls": "count",
    "self_s": "s",
    "jobs": "count",
    "tasks": "count",
    "task_s": "s",
    "core_busy": "ratio",
    "input_mb": "MB",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "failed_tasks": "count",
}
# DataFrame methods that run Spark jobs.
FRAME_ACTIONS = (
    "collect",
    "count",
    "first",
    "foreach",
    "foreachPartition",
    "head",
    "isEmpty",
    "show",
    "tail",
    "take",
    "toArrow",
    "toLocalIterator",
    "toPandas",
)
ROOT_LAYER = "bench"
MB = 1024.0 * 1024.0
# The self_s figures of the reported layers must cover a pass's wall time
# to within this share.
COVERAGE_TOLERANCE = 0.01


def op_layer(fn: Callable) -> str:
    """Layer of a registry op: the module implementing it, package-relative."""
    target = getattr(fn, "__wrapped__", fn)
    return target.__module__.removeprefix("dbsurveyor_spark.")


class Tracer:
    """Records span trees (one per set-up or pass) and their Spark jobs."""

    def __init__(self, cores: int) -> None:
        self.cores = cores
        self.sc = None
        self.trees: dict[str, list[Span]] = {}
        self.overhead_s: dict[str, float] = {}
        self._tree: str | None = None
        self._stack: list[Span] = []
        self._n = 0
        self._main = threading.get_ident()
        self._last_job = -1
        self._seen_stages: set[int] = set()
        self._frame_classes: dict[tuple[str, type], type] = {}
        self.job_stats: dict[str, dict[str, float]] = {}

    # ------------------------------------------------------------ spans

    def _set_group(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", span.span_id if span else None)

    @contextmanager
    def span(self, layer: str) -> Iterator[None]:
        """Time the body as a span of `layer` (a no-op off the main thread
        or outside a tree)."""
        if self._tree is None or threading.get_ident() != self._main:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        s = Span(
            f"pb{self._n}",
            layer,
            parent.span_id if parent else None,
            0.0,
            0.0,
            depth=len(self._stack),
        )
        self._stack.append(s)
        self._set_group(s)
        tree = self._tree
        self.overhead_s[tree] += time.perf_counter() - t0
        s.start = time.time()
        try:
            yield
        finally:
            s.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.trees[tree].append(s)
            self.overhead_s[tree] += time.perf_counter() - t1

    def wrap(self, layer: str, fn: Callable) -> Callable:
        from pyspark.sql import DataFrame

        def traced(*args: Any, **kwargs: Any) -> Any:
            with self.span(layer):
                out = fn(*args, **kwargs)
            return self.traced_frame(layer, out) if isinstance(out, DataFrame) else out

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", "traced")
        return traced

    def traced_frame(self, layer: str, frame: Any) -> Any:
        """Re-class `frame` so that its actions run inside a span of `layer`."""
        cls = type(frame)
        sub = self._frame_classes.get((layer, cls))
        if sub is None:

            def action(method: Callable) -> Callable:
                def run(df: Any, *args: Any, **kwargs: Any) -> Any:
                    # an action calling another (first -> head -> take) is one call
                    if self._stack and self._stack[-1].layer == layer:
                        return method(df, *args, **kwargs)
                    with self.span(layer):
                        return method(df, *args, **kwargs)

                run.__name__ = method.__name__
                return run

            methods = {n: action(getattr(cls, n)) for n in FRAME_ACTIONS if hasattr(cls, n)}
            sub = type(f"Traced{cls.__name__}", (cls,), methods)
            self._frame_classes[(layer, cls)] = sub
        frame.__class__ = sub
        return frame

    def install(self) -> None:
        """Replace each listed public function with its traced wrapper."""
        for layer, (mod_name, names) in LAYER_FUNCTIONS.items():
            mod = importlib.import_module(f"dbsurveyor_spark.{mod_name}")
            for name in names:
                setattr(mod, name, self.wrap(layer, getattr(mod, name)))

    @contextmanager
    def tree(self, name: str) -> Iterator[None]:
        """Record one span tree under a root span of the benchmark's glue."""
        self.trees[name] = []
        self.overhead_s[name] = 0.0
        self._tree = name
        try:
            with self.span(ROOT_LAYER):
                yield
        finally:
            self._tree = None
            self._set_group(None)
            t0 = time.perf_counter()
            self._attribute(self.trees[name])
            self.overhead_s[name] += time.perf_counter() - t0

    # ------------------------------------------------------------- jobs

    def _new_jobs(self) -> list[Any]:
        """JobData of every job newer than the last one seen, oldest first."""
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        out = []
        for i in range(jobs.size()):  # newest first
            job = jobs.apply(i)
            if job.jobId() <= self._last_job:
                break
            out.append(job)
        out.reverse()
        if out:
            self._last_job = out[-1].jobId()
        return out

    def _stage_figures(self, stage_ids: list[int]) -> dict[str, float]:
        store = self.sc._jsc.sc().statusStore()
        fig = dict.fromkeys(("tasks", "task_s", "input_mb", "shuffle_mb", "spill_mb", "failed_tasks"), 0.0)
        for sid in stage_ids:
            if sid in self._seen_stages:
                continue
            self._seen_stages.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            fig["tasks"] += st.numCompleteTasks()
            fig["failed_tasks"] += st.numFailedTasks()
            fig["task_s"] += st.executorRunTime() / 1000.0
            fig["input_mb"] += st.inputBytes() / MB
            fig["shuffle_mb"] += st.shuffleWriteBytes() / MB
            fig["spill_mb"] += st.diskBytesSpilled() / MB
        return fig

    def _attribute(self, spans: list[Span]) -> None:
        if self.sc is None:
            return
        # Every job and stage of the tree has ended, but the status store
        # sees their last updates only once the listener bus delivers them.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        by_id = {s.span_id: s for s in spans}
        for job in self._new_jobs():
            group = job.jobGroup()
            group = group.get() if group.isDefined() else None
            sub = job.submissionTime()
            submitted = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
            span = attribute_job(group, submitted, spans, by_id)
            if span is None:
                continue
            seq = job.stageIds()
            fig = self._stage_figures([seq.apply(i) for i in range(seq.size())])
            acc = self.job_stats.setdefault(span.span_id, {})
            acc["jobs"] = acc.get("jobs", 0) + 1
            for k, v in fig.items():
                acc[k] = acc.get(k, 0.0) + v

    # ---------------------------------------------------------- summary

    def coverage(self, tree: str) -> tuple[float, list[str]]:
        """(sum of the reported layers' self_s over the tree's wall time,
        layers of spans in the tree that no reported figure carries).
        The share is below 1 by the benchmark's own glue between ops, and
        above 1 only if a span is counted twice."""
        spans = self.trees[tree]
        root = next(s for s in spans if s.parent is None)
        figs = self.layer_figures([(tree, 1.0)])
        covered = sum(f["self_s"] for f in figs.values())
        unknown = sorted({s.layer for s in spans} - set(LAYERS) - {ROOT_LAYER})
        return covered / root.wall, unknown

    def layer_figures(self, weighted: list[tuple[str, float]]) -> dict[str, dict[str, float]]:
        """Per-layer sums over the (tree, weight) pairs, each tree's
        figures multiplied by its weight."""
        out = {layer: dict.fromkeys(FIGURE_UNITS, 0.0) for layer in LAYERS}
        for tree, weight in weighted:
            spans = self.trees[tree]
            st = self_times(spans)
            for s in spans:
                if s.layer not in out:
                    continue
                f = out[s.layer]
                f["calls"] += weight
                f["self_s"] += st[s.span_id] * weight
                for k, v in self.job_stats.get(s.span_id, {}).items():
                    f[k] += v * weight
        for f in out.values():
            f["core_busy"] = core_busy(f["task_s"], f["self_s"], self.cores)
        return out
