"""Unit tests for quality-analyzer edge cases, mirroring the reference's own
test matrix (quality/{completeness,uniqueness,anomaly}.rs #[cfg(test)]).

These run on tiny in-memory frames (not the parquet tables) and pin the
semantic contract: empty→1.0, all-null→0.0, whitespace≠empty, null counts as
a duplicate value, z-score needs ≥3 values and std>1e-10.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dbsurveyor_spark.functions.hashing import minhash_params, portable_hash64
from dbsurveyor_spark.functions.text import shingles, tokens

SF = "/root/testdata/sf0.001"


def _completeness(spark, rows, col):
    df = spark.createDataFrame(rows, f"{col} string")
    out = df.agg(
        F.count(F.lit(1)).alias("total"),
        (F.count(F.lit(1)) - F.count(F.col(col))).alias("nulls"),
        F.coalesce(F.sum((F.col(col) == "").cast("bigint")), F.lit(0)).alias("empty"),
    ).collect()[0]
    total = out.total
    return 1.0 if total == 0 else (total - out.nulls - out.empty) / total


def test_completeness_whitespace_not_empty(spark):
    # completeness.rs:242 — whitespace-only strings are present, not empty
    assert _completeness(spark, [("  ",), ("\t",), ("valid",)], "v") == 1.0


def test_completeness_all_nulls_is_zero(spark):
    assert _completeness(spark, [(None,), (None,)], "v") == 0.0


def test_completeness_mixed(spark):
    # 1 null + 1 empty of 4 → 0.5 for that column
    assert _completeness(spark, [(None,), ("",), ("a",), ("b",)], "v") == 0.5


def test_uniqueness_null_counts_as_value(spark):
    # uniqueness.rs:213 — two nulls are one distinct value + one duplicate
    df = spark.createDataFrame([(None,), (None,), ("x",)], "v string")
    out = df.agg(
        (
            F.count(F.lit(1))
            - (
                F.count_distinct(F.col("v"))
                + (F.count(F.lit(1)) > F.count(F.col("v"))).cast("bigint")
            )
        ).alias("dups")
    ).collect()[0]
    assert out.dups == 1


def test_zscore_constant_column_no_outliers(spark):
    # anomaly.rs:54 — std < 1e-10 → column skipped
    df = spark.createDataFrame([(5.0,)] * 10, "v double")
    stats = df.agg(
        F.stddev_pop("v").alias("sd"),
    ).collect()[0]
    assert stats.sd < 1e-10


def test_portable_hash64_matches_duckdb(spark, duck):
    got = spark.range(1).select(portable_hash64(F.lit("hello")).alias("h")).collect()[
        0
    ].h
    want = duck.execute(
        "SELECT CAST(('0x' || substring(md5('hello'), 1, 15)) AS BIGINT)"
    ).fetchone()[0]
    assert got == want == 419982666956583591


def test_minhash_params_fixed():
    params = minhash_params(4)
    assert params == minhash_params(4)  # deterministic
    assert all(1 <= a < (1 << 30) and 0 <= b < (1 << 31) - 1 for a, b in params)
    assert len({p for p in params}) == 4


def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([("one two",), ("a b c d",)], "text string")
    out = df.select(shingles(tokens(F.col("text"))).alias("sh")).collect()
    assert out[0].sh == []
    assert out[1].sh == ["a b c", "b c d"]


# ----------------------------------------------------- document-level metrics
# collect_quality_metrics must serialize the reference's TableQualityMetrics
# shape exactly, including the disabled paths (analyzer.rs:68-76,84-91) and
# uniqueness.rs's null-as-value / total-rows-denominator convention.


class TestDocumentMetricsReferenceShape:
    def _lake(self, spark, tmp_path, rows, schema):
        lake = str(tmp_path / "lake")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{lake}/orders.parquet"
        )
        return lake

    def test_uniqueness_nulls_are_duplicates_over_total_rows(
        self, spark, tmp_path
    ):
        from dbsurveyor_spark.survey.quality import collect_quality_metrics

        # 50 nulls + 50 distinct: uniqueness.rs stringifies NULL as a value,
        # so distinct = 51 of 100 total → 0.51 (NOT 1.0 over non-nulls).
        rows = [(i, None if i < 50 else f"v{i}") for i in range(100)]
        lake = self._lake(
            spark, tmp_path, rows, "o_orderkey bigint, o_comment string"
        )
        (m,) = collect_quality_metrics(spark, lake, ["orders"])
        (dup,) = [
            d
            for d in m["uniqueness"]["duplicate_columns"]
            if d["column_name"] == "o_comment"
        ]
        assert dup["duplicate_count"] == 49
        assert dup["unique_count"] == 51
        assert abs(dup["uniqueness"] - 0.51) < 1e-9
        # overall = min(row_uniq 1.0, avg col uniq 0.51)
        assert abs(m["uniqueness"]["score"] - 0.51) < 1e-9

    def test_disabled_analysis_serializes_default_metrics(
        self, spark, tmp_path
    ):
        from dbsurveyor_spark.survey.quality import collect_quality_metrics
        from dbsurveyor_spark.survey.qualityconfig import QualityConfig

        rows = [(i, f"v{i}") for i in range(7)]
        lake = self._lake(
            spark, tmp_path, rows, "o_orderkey bigint, o_comment string"
        )
        (m,) = collect_quality_metrics(
            spark, lake, ["orders"], config=QualityConfig(enabled=False)
        )
        # analyzer.rs:70: actual row count, default component blocks
        assert m["analyzed_rows"] == 7
        assert m["completeness"] == {"score": 1.0, "null_columns": []}
        assert m["consistency"]["score"] == 1.0
        assert m["uniqueness"] == {
            "score": 1.0,
            "duplicate_columns": [],
            "duplicate_row_count": 0,
        }
        assert m["anomalies"] is None
        assert m["quality_score"] == 1.0
        assert m["threshold_violations"] == []

    def test_disabled_anomaly_detection_is_none_not_zero(
        self, spark, tmp_path
    ):
        from dbsurveyor_spark.survey.quality import collect_quality_metrics
        from dbsurveyor_spark.survey.qualityconfig import (
            AnomalyConfig,
            QualityConfig,
        )

        rows = [(i, float(i)) for i in range(10)]
        lake = self._lake(
            spark, tmp_path, rows, "o_orderkey bigint, o_totalprice double"
        )
        cfg = QualityConfig(anomaly_detection=AnomalyConfig(enabled=False))
        (m,) = collect_quality_metrics(spark, lake, ["orders"], config=cfg)
        # analyzer.rs:84-91 with_optional_anomalies(None): a skipped check
        # must be distinguishable from a clean run
        assert m["anomalies"] is None
        (m2,) = collect_quality_metrics(spark, lake, ["orders"])
        assert m2["anomalies"] == {"outlier_count": 0, "outliers": []}

    def test_config_is_keyword_only(self, spark):
        import pytest as _pytest

        from dbsurveyor_spark.survey.quality import collect_quality_metrics
        from dbsurveyor_spark.survey.qualityconfig import QualityConfig

        with _pytest.raises(TypeError):
            collect_quality_metrics(
                spark, "/nonexistent", ["orders"], QualityConfig()
            )


    def test_rows_differing_only_in_null_position_are_distinct(
        self, spark, tmp_path
    ):
        from dbsurveyor_spark.survey.quality import collect_quality_metrics

        # Spark's struct hash skips NULL fields, so (1, NULL) and (NULL, 1)
        # hash alike unless the row's NULL-position mask is hashed too.
        rows = [(1, None), (None, 1), (2, 2), (2, 2)]
        lake = self._lake(spark, tmp_path, rows, "a int, b int")
        (m,) = collect_quality_metrics(spark, lake, ["orders"])
        assert m["uniqueness"]["duplicate_row_count"] == 1


# --------------------------------------------------- distinct-count sketches
# approx_distinct (functions/aggregates.py) backs the document's uniqueness
# metrics; map_tables (catalog.py) runs their per-table jobs concurrently.

RSD = 0.02


def test_approx_distinct_within_three_rsd_on_every_column(spark):
    from dbsurveyor_spark.catalog import TABLES, load_table
    from dbsurveyor_spark.functions.aggregates import approx_distinct

    for t in TABLES:
        df = load_table(spark, SF, t)
        r = df.agg(
            *[approx_distinct(F.col(c), RSD).alias(f"{c}__a") for c in df.columns],
            *[F.count_distinct(F.col(c)).alias(f"{c}__e") for c in df.columns],
        ).first()
        for c in df.columns:
            est, exact = r[f"{c}__a"], r[f"{c}__e"]
            assert abs(est - exact) <= 3 * RSD * exact, (t, c, est, exact)


def test_approx_distinct_exact_at_low_cardinality(spark):
    from dbsurveyor_spark.functions.aggregates import approx_distinct

    for k in (1, 51, 300):
        df = spark.range(3 * k).select((F.col("id") % k).cast("string").alias("v"))
        assert df.agg(approx_distinct(F.col("v"), RSD)).first()[0] == k
    # NULLs are not values (xxhash64(NULL) would be the seed, 42)
    nulls = spark.createDataFrame([(None,), (None,), (7,)], "v int")
    assert nulls.agg(approx_distinct(F.col("v"), RSD)).first()[0] == 1
    empty = spark.createDataFrame([], "v int")
    assert empty.agg(approx_distinct(F.col("v"), RSD)).first()[0] == 0


class TestTablePool:
    def test_pooled_metrics_equal_single_table_calls(self, spark):
        from dbsurveyor_spark.catalog import TABLES
        from dbsurveyor_spark.survey.quality import collect_quality_metrics

        def strip(m):
            return {k: v for k, v in m.items() if k != "analyzed_at"}

        pooled = collect_quality_metrics(spark, SF)
        assert [m["table_name"] for m in pooled] == list(TABLES)
        single = [collect_quality_metrics(spark, SF, [t])[0] for t in TABLES]
        assert [strip(m) for m in pooled] == [strip(m) for m in single]

    def test_order_kept_and_caller_job_group_inherited(self, spark):
        import time
        import warnings

        from dbsurveyor_spark.catalog import map_tables

        sc = spark.sparkContext
        names = ["a", "b", "c", "d", "e"]

        def work(name):
            # later names finish first; the result must keep input order
            time.sleep(0.05 * (len(names) - names.index(name)))
            return name, spark.range(10).count()

        sc.setJobGroup("map-tables-test", "pool inheritance")
        try:
            with warnings.catch_warnings():
                warnings.simplefilter("error")  # e.g. "Tags will not be inherited"
                out = map_tables(spark, work, names)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert out == [(n, 10) for n in names]
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store is async
        jobs = sc.statusTracker().getJobIdsForGroup("map-tables-test")
        assert len(jobs) >= len(names)

    def test_first_error_propagates(self, spark):
        import pytest as _pytest

        from dbsurveyor_spark.catalog import map_tables

        def work(name):
            if name == "bad":
                raise ValueError(name)
            return name

        with _pytest.raises(ValueError, match="bad"):
            map_tables(spark, work, ["ok", "bad", "ok2"])


class TestSqlitePathParsing:
    def test_literal_query_and_fragment_chars_survive(self):
        from dbsurveyor_spark.cli import _sqlite_path

        assert _sqlite_path("sqlite:/tmp/a?b.db") == "/tmp/a?b.db"
        assert _sqlite_path("sqlite:///tmp/a#c.db") == "/tmp/a#c.db"
        assert _sqlite_path("sqlite:rel/odd?name#x.db") == "rel/odd?name#x.db"

    def test_percent_escapes_decode(self):
        from dbsurveyor_spark.cli import _sqlite_path

        assert _sqlite_path("sqlite:/tmp/a%20b.db") == "/tmp/a b.db"
        # invalid escapes pass through untouched
        assert _sqlite_path("sqlite:/tmp/100%_done.db") == "/tmp/100%_done.db"

    def test_host_component_rejected(self):
        import pytest as _pytest

        from dbsurveyor_spark.cli import _sqlite_path

        with _pytest.raises(ValueError):
            _sqlite_path("sqlite://host/path.db")


class TestIqrAnalyzer:
    def test_constant_column_skipped(self, spark):
        # IQR = 0 → column skipped, like the z-score MIN_STD guard
        from dbsurveyor_spark.survey.quality import iqr_outlier_counts

        df = spark.createDataFrame([(5.0,)] * 20, "v double")
        assert iqr_outlier_counts(df, ["v"]).count() == 0

    def test_clear_outlier_caught_with_exact_fences(self, spark):
        from dbsurveyor_spark.survey.quality import IQR_K, iqr_outlier_counts

        # 21 values → quartile indexes land exactly: q1 = sorted[5] = 6,
        # q3 = sorted[15] = 16, IQR = 10, fences −9 / 31 — only 1000.0
        # lands outside
        vals = [(float(i),) for i in range(1, 21)] + [(1000.0,)]
        df = spark.createDataFrame(vals, "v double")
        (row,) = iqr_outlier_counts(df, ["v"]).collect()
        assert row["outlier_count"] == 1
        assert row["fence_low"] == 6.0 - IQR_K * 10.0
        assert row["fence_high"] == 16.0 + IQR_K * 10.0
        assert row["n_values"] == 21

    def test_below_min_values_not_reported(self, spark):
        from dbsurveyor_spark.survey.quality import iqr_outlier_counts

        # 2 values: even a wild spread reports nothing (anomaly.rs:46 analog)
        df = spark.createDataFrame([(0.0,), (1e9,)], "v double")
        assert iqr_outlier_counts(df, ["v"]).count() == 0


def test_completeness_trend_flags_only_degrading_column(spark):
    """The injected ~0.1%/month degradation must be flagged deteriorating;
    the flat-rate control must not — and slopes must be constant within a
    column (they are a property of the series, not the row)."""
    from dbsurveyor_spark.survey import quality

    rows = quality.quality_completeness_trend(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_col = {}
    for r in rows:
        by_col.setdefault(r.column_name, []).append(r)
    assert set(by_col) == {
        "o_orderpriority_degrading",
        "o_orderstatus_control",
    }
    for col, rs in by_col.items():
        slopes = {r.slope_per_month for r in rs}
        assert len(slopes) == 1, "slope is a per-column constant"
        flags = {r.deteriorating for r in rs}
        assert len(flags) == 1
    deg = by_col["o_orderpriority_degrading"][0]
    ctl = by_col["o_orderstatus_control"][0]
    assert deg.deteriorating is True
    assert ctl.deteriorating is False
    assert deg.slope_per_month > ctl.slope_per_month
    # the degrading slope should be near the injected 0.001/month
    assert 0.0005 < deg.slope_per_month < 0.002


def test_ks_drift_fires_on_shift_not_control(spark):
    from dbsurveyor_spark.survey import quality

    rows = {
        r.column_name: r
        for r in quality.quality_ks_drift(spark, "/root/testdata/sf0.01").collect()
    }
    assert set(rows) == {"o_totalprice_shifted", "o_custkey_control"}
    shifted, ctl = rows["o_totalprice_shifted"], rows["o_custkey_control"]
    assert shifted.drifted is True
    assert ctl.drifted is False
    for r in rows.values():
        assert 0.0 <= r.ks_d <= 1.0
        assert r.ks_critical > 0
        assert r.n_ref > 0 and r.n_cur > 0
    # the injected shift moves ~1/3 of the mass up 15% — D well above crit
    assert shifted.ks_d > 1.5 * shifted.ks_critical


class TestCrossTableChecks:
    """quality_cross_table_checks (survey/quality.py): rule arithmetic
    re-derived driver-side from the raw tables."""

    def test_rules_match_python_recount(self, spark):
        from collections import defaultdict

        from dbsurveyor_spark.catalog import load_table
        from dbsurveyor_spark.survey import quality as Q

        rows = {r.rule_name: r for r in
                Q.quality_cross_table_checks(spark, SF).collect()}
        assert set(rows) == {
            "order_has_lines",
            "ship_not_before_order",
            "totalprice_matches_lines",
        }
        orders = load_table(spark, SF, "orders").collect()
        lines = load_table(spark, SF, "lineitem").collect()
        per = defaultdict(lambda: [None, 0])  # orderkey -> [min_ship, sum]
        for l in lines:
            s = (round(l.l_extendedprice * 100)
                 * (100 - round(l.l_discount * 100))
                 * (100 + round(l.l_tax * 100)))
            e = per[l.l_orderkey]
            e[0] = l.l_shipdate if e[0] is None else min(e[0], l.l_shipdate)
            e[1] += s
        childless = sum(1 for o in orders if o.o_orderkey not in per)
        with_lines = len(orders) - childless
        ship_viol = sum(
            1 for o in orders
            if o.o_orderkey in per and per[o.o_orderkey][0] < o.o_orderdate
        )
        price_viol = sum(
            1 for o in orders
            if o.o_orderkey in per
            and abs(round(o.o_totalprice * 1e6) - per[o.o_orderkey][1])
            > Q.CROSS_PRICE_TOL
        )
        r = rows["order_has_lines"]
        assert (r.n_checked, r.violations) == (len(orders), childless)
        r = rows["ship_not_before_order"]
        assert (r.n_checked, r.violations) == (with_lines, ship_viol)
        r = rows["totalprice_matches_lines"]
        assert (r.n_checked, r.violations) == (with_lines, price_viol)
        for r in rows.values():
            assert r.passed == (1 if r.violations == 0 else 0)
