"""Load-once rule of `collect`: each catalog table is resolved (one parquet
schema-inference job) once per command and the resolved frames are shared
by the schema, sampling and quality steps; plus the default driver-heap
sizing that lets a plain session start on hosts smaller than 48 GB."""

from __future__ import annotations

import collections
import contextlib
import io
import os

import pytest

from dbsurveyor_spark import cli
from dbsurveyor_spark.catalog import TABLES, load_tables, table_path

SF = "/root/testdata/sf0.001"
COLLECT = ["collect", SF, "--sample", "5", "--enable-quality"]


def _collect(argv: list[str]) -> int:
    with contextlib.redirect_stdout(io.StringIO()):
        return cli.main(argv)


def _strip_times(doc):
    """The document minus what legitimately differs between two runs."""
    if isinstance(doc, dict):
        return {
            k: _strip_times(v)
            for k, v in doc.items()
            if k not in ("collected_at", "analyzed_at", "collection_duration_ms")
        }
    if isinstance(doc, list):
        return [_strip_times(v) for v in doc]
    return doc


@pytest.mark.parametrize("keys", [["--no-infer-keys"], []], ids=["no-keys", "keys"])
def test_collect_reads_each_table_once(spark, tmp_path, monkeypatch, keys):
    from pyspark.sql.readwriter import DataFrameReader

    reads: collections.Counter[str] = collections.Counter()
    parquet = DataFrameReader.parquet

    def counting(self, *paths, **kwargs):
        reads.update(paths)
        return parquet(self, *paths, **kwargs)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    assert _collect(COLLECT + ["-o", str(tmp_path / "doc.json")] + keys) == 0
    assert reads == {table_path(SF, t): 1 for t in TABLES}


def test_collect_job_count_guard(spark, tmp_path):
    """The benchmark's collect (samples + quality, no key inference) on
    sf0.001: 10 schema jobs, 11 overview, 10 sample, 40 quality."""
    # Counted by job group, not by the status store's size before and
    # after: the store keeps only the newest spark.ui.retainedJobs jobs, so
    # late in a long test session the size no longer grows.
    sc = spark.sparkContext
    group = "collect-job-count-guard"
    sc.setJobGroup(group, "collect job count")
    try:
        argv = COLLECT + ["--no-infer-keys", "-o", str(tmp_path / "doc.json")]
        assert _collect(argv) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store is async
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 71


def test_shared_frames_give_the_same_document(spark):
    from dbsurveyor_spark.survey.export import collect_database_schema
    from dbsurveyor_spark.survey.quality import collect_quality_metrics
    from dbsurveyor_spark.survey.qualityconfig import QualityConfig

    frames = load_tables(spark, SF)
    assert list(frames) == list(TABLES)
    shared = collect_database_schema(spark, SF, frames=frames)
    own = collect_database_schema(spark, SF)
    assert _strip_times(shared) == _strip_times(own)
    row_counts = [t["row_count"] for t in shared["tables"]]
    for cfg in (QualityConfig(), QualityConfig(enabled=False)):
        metrics = collect_quality_metrics(spark, SF, config=cfg, frames=frames)
        own = collect_quality_metrics(spark, SF, config=cfg)
        assert _strip_times(metrics) == _strip_times(own)
        # the disabled path reports true row counts too
        assert [m["analyzed_rows"] for m in metrics] == row_counts


def test_throttle_resolves_one_table_at_a_time(spark, monkeypatch):
    import threading
    import time

    from dbsurveyor_spark import catalog

    seen = []
    load_table = catalog.load_table

    def recording(spark_, sf_dir, name):
        seen.append((threading.get_ident(), time.monotonic()))
        return load_table(spark_, sf_dir, name)

    monkeypatch.setattr(catalog, "load_table", recording)
    frames = load_tables(spark, SF, ["region", "nation", "part"], throttle_ms=200)
    assert list(frames) == ["region", "nation", "part"]
    assert {tid for tid, _ in seen} == {threading.get_ident()}
    starts = [t for _, t in seen]
    assert all(b - a >= 0.2 for a, b in zip(starts, starts[1:]))


class TestDefaultHeap:
    GiB = 1024**3

    def test_sizing_rule(self):
        from dbsurveyor_spark.session import default_heap

        assert default_heap(16 * self.GiB) == ("8192m", "4096m")
        assert default_heap(4 * self.GiB) == ("2048m", "1024m")
        # large hosts keep the 48g cap
        assert default_heap(256 * self.GiB) == ("49152m", "24576m")
        assert default_heap(None) == ("49152m", "24576m")

    def _options(self, monkeypatch, mem_total: int) -> dict:
        from pyspark.sql import SparkSession

        from dbsurveyor_spark import session

        monkeypatch.setattr(session, "_mem_total_bytes", lambda: mem_total)
        monkeypatch.setattr(
            SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
        )
        return session.get_session("heap-test")

    def test_unset_env_fits_the_host(self, monkeypatch):
        monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEMORY", raising=False)
        monkeypatch.delenv("SPARK_GRAFT_DRIVER_XMS", raising=False)
        opts = self._options(monkeypatch, 15 * self.GiB)
        assert opts["spark.driver.memory"] == "7680m"
        assert "-Xms3840m " in opts["spark.driver.extraJavaOptions"]

    def test_env_values_win(self, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEMORY", "3g")
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_XMS", "1g")
        opts = self._options(monkeypatch, 15 * self.GiB)
        assert opts["spark.driver.memory"] == "3g"
        assert "-Xms1g " in opts["spark.driver.extraJavaOptions"]


def test_host_memory_is_measured():
    from dbsurveyor_spark.session import _mem_total_bytes

    total = _mem_total_bytes()
    if os.path.exists("/proc/meminfo"):
        with open("/proc/meminfo") as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
        assert total == kb * 1024
