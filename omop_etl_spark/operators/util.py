"""Shared operator plumbing."""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

__all__ = [
    "DRIVER_LOOP_MAX_ROWS",
    "collect_bounded",
    "literal_frame",
    "ppm_div_sql",
    "spread",
    "sql_div",
    "sql_fit",
]

#: The most rows :func:`collect_bounded` brings to the driver: a
#: 256 x 256 matrix, or that many transition-count edges.
DRIVER_LOOP_MAX_ROWS = 65_536

_SQL_RANGES = {
    "BIGINT": (-(1 << 63), (1 << 63) - 1),
    "DECIMAL(38,0)": (1 - 10**38, 10**38 - 1),
}


def ppm_div_sql(numerator: str, denominator: str) -> str:
    """SQL fragment for an EXACT integer parts-per-million share:
    ``floor(numerator * 1e6 / denominator)`` as BIGINT, with BOTH sides
    widened to DECIMAL(38,0) first.

    This exists because ``x * 1000000`` on a bare int64 aggregate wraps
    at ``x ~ 9.2e12`` — and corpus/revenue-scaled sums (revenue cents
    per region at ~$92 B, cumulative token counts of a 100-TB corpus,
    per-source character tallies) sit squarely inside that range. Under
    ANSI mode the wrap is a hard error while a HUGEINT-backed oracle
    (DuckDB) stays silently exact, so the failure only surfaces at
    scale (the r16 ``nation_revenue_share`` sf10 find). Widening costs
    nothing measurable: every caller applies it to an aggregate-sized
    output frame, never a per-row hot path.

    Either operand may itself be a product; pre-widen its first factor
    at the call site (``CAST(a AS DECIMAL(38,0)) * b``) so the product
    is computed in decimal — the outer cast here cannot un-wrap a
    product that already overflowed in int64.

    Decimal ``div`` truncates toward zero (matching DuckDB HUGEINT
    ``//``), which equals floor exactly on the NONNEGATIVE numerators
    every ppm share has — callers with signed numerators need the
    posmod floor spelling instead (see stats.quantized_covariance).
    """
    return (
        f"CAST(CAST({numerator} AS DECIMAL(38,0)) * 1000000 div "
        f"CAST({denominator} AS DECIMAL(38,0)) AS BIGINT)"
    )


def spread(df: DataFrame, min_factor: int = 1) -> DataFrame:
    """Ensure a corpus frame has at least ``defaultParallelism``
    partitions before a CPU-heavy per-row stage (tokenize, shingle,
    vector scoring).

    A small single-file parquet scan arrives as ONE input partition (a
    single row group cannot be split), which serializes the whole stage
    on one core — the dominant cost of the dedup operators at bench
    scale. The round-robin repartition is one narrow shuffle of the
    input projection, far cheaper than a serialized map stage; at real
    scale the scan already has >= parallelism partitions and this is a
    no-op (it never coalesces).
    """
    target = df.sparkSession.sparkContext.defaultParallelism * min_factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def collect_bounded(df: DataFrame, op: str) -> list[Row]:
    """Collect a loop-invariant frame that an operator iterates on the
    driver: one ``limit(cap + 1)`` collect, capped at
    :data:`DRIVER_LOOP_MAX_ROWS`. A larger frame is not a tiny domain,
    so it raises a ``ValueError`` naming ``op`` and the cap; there is
    no distributed fallback.
    """
    cap = DRIVER_LOOP_MAX_ROWS
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{op}: the input frame has more than {cap:,} rows "
            f"(DRIVER_LOOP_MAX_ROWS); it iterates on the driver and takes "
            f"state- or dimension-bounded frames only"
        )
    return rows


def sql_fit(x: int, sql_type: str, op: str) -> int:
    """``x`` unchanged if it fits ``sql_type`` (``"BIGINT"`` or
    ``"DECIMAL(38,0)"``); else raise ``ArithmeticError`` naming ``op``,
    where ANSI Spark would raise on the same value."""
    lo, hi = _SQL_RANGES[sql_type]
    if not lo <= x <= hi:
        raise ArithmeticError(f"{op}: {x} overflows {sql_type}")
    return x


def sql_div(a: int, b: int, op: str) -> int:
    """SQL integral ``a div b``: truncates toward zero (Python ``//``
    floors), and a zero divisor raises as it does under ANSI."""
    if b == 0:
        raise ArithmeticError(f"{op}: division by zero")
    q = abs(a) // abs(b)
    return q if (a < 0) == (b < 0) else -q


def literal_frame(
    spark: SparkSession, schema: StructType, rows: list[tuple]
) -> DataFrame:
    """A small frame of driver-side ``rows`` as one JVM literal: an
    inlined array of structs over a one-row range. Unlike
    ``createDataFrame`` on a list, its plan holds no RDD of pickled
    rows, so running it starts no Python worker. Building it takes
    three py4j calls per row (about 0.6 ms), so it suits small results.
    """
    structs = [F.struct(*[F.lit(v) for v in row]) for row in rows]
    arr = F.array(*structs).cast(ArrayType(schema))
    return spark.range(1, numPartitions=1).select(F.inline(arr))
