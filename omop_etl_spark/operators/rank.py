"""Distributed global ranking with running aggregates.

The anti-pattern this module exists to kill: ``Window.orderBy(...)``
with no ``partitionBy`` funnels EVERY row into one reducer — fine on a
bounded frame (a 25-row dimension), a scale cliff on anything
SF-linear.  Both running aggregates here state their aggregates and
hand the rest to ``planner/surrogate._prefix_scan``, the one ordered
prefix scan of the package (stats-gated single-partition window, or
range partitions plus broadcast prefix offsets).

Reference parity note: the reference (omop-etl) delegates all ranking
to PostgreSQL window functions; this module is the Spark-side scale
strategy for the same semantics, not a port.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..planner.surrogate import _prefix_scan

__all__ = ["ranked_running_sum", "ntile_from_rank", "running_extreme"]


def ranked_running_sum(
    df: DataFrame,
    order_cols: list[str | Column],
    value_col: str,
    rank_col: str = "rank",
    cum_col: str = "cum_sum",
) -> DataFrame:
    """Add ``rank_col`` = global 1-based ``row_number`` and ``cum_col``
    = inclusive running ``SUM(value_col)`` under ``ORDER BY
    order_cols`` (NULL values are skipped, as in SQL).

    ``order_cols`` should be a UNIQUE ordering (include a tiebreaker
    key) — with ties, rank assignment within the tie group is
    arbitrary, which also makes the running sum nondeterministic at
    tie boundaries.

    Both output columns are bigint; ``value_col`` must be integral
    (the running sum is exact int64 — callers needing wider headroom
    cast to decimal downstream).

    The distributed path leaves its range frame persisted (the result
    is lazy); callers chaining many invocations in one session own
    cleanup (``spark.catalog.clearCache()``) — MEMORY_AND_DISK evicts
    under pressure, so the leak is bounded-cost, never a correctness
    risk.
    """
    return _prefix_scan(
        df,
        order_cols,
        [("count", None, True), ("sum", value_col, True)],
        lambda n, s: {rank_col: n.cast("bigint"), cum_col: s.cast("bigint")},
    )


def ntile_from_rank(rank_col: str | Column, n_col: str | Column, k: int) -> Column:
    """``NTILE(k)`` reconstructed from a precomputed global rank and
    row count — the missing piece that lets quantile bucketing (RFM
    scores, decile reports) ride :func:`ranked_running_sum`'s
    distributed rank instead of a partition-less ``ntile()`` window
    (the single-reducer shape tests/test_plan_quality.py bans over
    SF-linear frames).

    Matches SQL NTILE exactly: with ``n = q*k + r0``, the first ``r0``
    tiles get ``q + 1`` rows.  Ceil rides integer arithmetic
    (``(a + b - 1) div b`` via ``floor`` over an exact binary64
    quotient — exact while ranks stay below 2^52, i.e. any real
    frame), so engines agree bit-for-bit.  The rank must come from a
    UNIQUE ordering (tiebreak key included) — NTILE over a non-unique
    order is nondeterministic in any engine.
    """
    if k < 1:
        raise ValueError("ntile_from_rank requires k >= 1")
    r = F.col(rank_col) if isinstance(rank_col, str) else rank_col
    n = F.col(n_col) if isinstance(n_col, str) else n_col
    q = F.floor(n / k).cast("bigint")
    r0 = (n - q * k).cast("bigint")
    big = r0 * (q + 1)
    qs = F.greatest(q, F.lit(1))
    first = F.floor((r + q) / (q + 1)).cast("bigint")
    rest = (r0 + F.floor((r - big + qs - 1) / qs)).cast("bigint")
    return F.when(r <= big, first).otherwise(rest).cast("int")


def running_extreme(
    df: DataFrame,
    order_cols: list[str | Column],
    value_col: str,
    out_col: str = "run_min",
    agg: str = "min",
    inclusive: bool = True,
) -> DataFrame:
    """Global running MIN/MAX of ``value_col`` under ``ORDER BY
    order_cols`` — the running-aggregate shapes SUM can't express:
    Pareto frontiers / skyline pruning ("is anything before me already
    smaller?"), record-to-date series, monotone envelope checks.

    ``inclusive=False`` gives the EXCLUSIVE frame (strict
    predecessors only, SQL's ``ROWS BETWEEN UNBOUNDED PRECEDING AND 1
    PRECEDING``): the first row's value is NULL.  ``order_cols``
    should be a unique ordering for deterministic results.

    MIN/MAX are idempotent monoids, so the partition-extreme merge is
    exact — no numeric-type caveats; ``value_col``'s type is
    preserved.
    """
    if agg not in ("min", "max"):
        raise ValueError("running_extreme supports agg in {'min', 'max'}")
    return _prefix_scan(
        df, order_cols, [(agg, value_col, inclusive)], lambda m: {out_col: m}
    )
