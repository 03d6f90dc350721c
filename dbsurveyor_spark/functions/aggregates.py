"""Cross-engine-deterministic aggregates.

Floating-point SUM/AVG results depend on accumulation order, which differs
between Spark partitions and the DuckDB oracle (and between runs at different
parallelism). Every float aggregate in this engine therefore goes through an
EXACT decimal accumulator: per-row arithmetic stays in double (bit-identical
in any IEEE-754 engine), the row value is cast to DECIMAL, summed exactly
(order-free), and the final total is cast back to double.

This also matters at 100 TB: results become independent of partition count,
AQE decisions, and speculative re-execution.

Approximate distinct counts go through :func:`approx_distinct`, a compact
mergeable HLL sketch rather than Spark's HLL++ aggregate.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# 30 digits, 6 fractional: holds sums of ~1e17 values of magnitude ~1e6.
DECIMAL_T = "decimal(30,6)"


def dsum(col: Column, alias: str) -> Column:
    """Order-independent SUM over a double expression, returned as double."""
    return F.sum(col.cast(DECIMAL_T)).cast("double").alias(alias)


def dsum_sql(expr: str, alias: str) -> str:
    """DuckDB fragment matching :func:`dsum`."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(30,6))) AS DOUBLE) AS {alias}"


def davg(col: Column, alias: str) -> Column:
    """Order-independent AVG: exact decimal sum divided by count, as double."""
    return (
        F.sum(col.cast(DECIMAL_T)).cast("double") / F.count(F.lit(1))
    ).alias(alias)


def davg_sql(expr: str, alias: str) -> str:
    """DuckDB fragment matching :func:`davg`."""
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS {alias}"
    )


def approx_distinct(col: Column, rsd: float) -> Column:
    """Approximate COUNT(DISTINCT col) with relative standard error ``rsd``.

    A DataSketches HLL sketch (``hll_sketch_agg``) over the column's 64-bit
    ``xxhash64``. ``lgConfigK = ceil(2·log2(1.04/rsd))`` (12 at rsd 0.02)
    keeps the sketch's error, 1.04/sqrt(2^lgConfigK), at or below ``rsd``.
    Used in place of ``approx_count_distinct``, whose HLL++ buffer of
    2^p/10 longs per column costs every task a projection codegen that
    grows with 1/rsd² (figures in ``collect_quality_metrics``); the
    sketch's buffer is one binary field.

    Hashing first makes every column type valid input (the sketch itself
    takes only INT, BIGINT, STRING or BINARY). ``xxhash64(NULL)`` is the
    seed (42), not NULL, so NULLs are masked out before the sketch, which
    ignores them as ``approx_count_distinct`` does. Small cardinalities are
    counted exactly (the sketch keeps a list of coupons until it fills).
    """
    lg_k = math.ceil(2 * math.log2(1.04 / rsd))
    return F.hll_sketch_estimate(
        F.hll_sketch_agg(F.when(col.isNotNull(), F.xxhash64(col)), lg_k)
    )
