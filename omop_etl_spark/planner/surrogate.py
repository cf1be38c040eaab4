"""Deterministic, distributed surrogate-id assignment.

The reference relies on a Postgres ``serial`` column: ids are sequential
in insertion order, which is scan-order-dependent and therefore
nondeterministic in the reference itself (generation.py:103,
schema.py:316-329). We define a *stronger* contract: the surrogate id
is the 1-based global rank of the row under ``ORDER BY order_cols``
(for mapping frames: source index, then each source's natural-key
columns). Deterministic ids make oracle comparisons and reruns stable —
a deliberate, documented deviation (SURVEY §4.3).

Scale design: a naive ``row_number() OVER (ORDER BY …)`` collapses to a
single partition — unusable at 100 TB, but optimal below a size
threshold (the id is a rank, so the strategy is free to be stats-driven
per frame; see ``_SMALL_FRAME_BYTES``). The id is one instance of the
ordered prefix scan that :func:`_prefix_scan` runs for every running
aggregate in the package (surrogate ids, ``rank.ranked_running_sum``,
``rank.running_extreme``, ``sampling.pack_sequences``). Its at-scale
path:

1. range-repartitions by the order columns into a PINNED partition
   count (pinning keeps AQE from re-coalescing the exchange) and
   persists — ONE wide shuffle, evaluated once,
2. computes each aggregate within its range partition,
3. aggregates each partition to one row, prefix-scans those totals
   with a window over that tiny frame, and broadcast-joins the
   offsets back on the partition id.

Step 2 takes a window partitioned by the partition id, whose clustering
requirement hash-exchanges the data once more. When every aggregate is
a count (the surrogate id) no window is needed: after
``sortWithinPartitions`` the local position is
``monotonically_increasing_id()`` (``(partition << 33) + row-index``:
order-preserving after the sort, pure JVM, no exchange at all), which
measured faster than the partitioned ``row_number()`` window; an
order-preserving ``mapInPandas`` counter was rejected too (a
Python/Arrow round-trip over the whole frame, ~3x slower on the ETL
fixtures than the JVM path).
"""

from __future__ import annotations

import operator
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["with_surrogate_id"]

#: Catalyst size estimate below which a single-partition window beats
#: the distributed range path (estimate is compressed-source-scaled;
#: 64 MiB ≈ well under one executor's working memory once decoded).
_SMALL_FRAME_BYTES = 64 * 1024 * 1024

#: Range-partition id column of the distributed scan. Plan tooling
#: recognises the scan's bounded per-partition aggregates by this name.
PARTITION_ID_COL = "__scan_pid"


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate for the frame (file-size based
    for scans, propagated through projections/filters/unions). Falls
    back to "huge" so estimation failures choose the scale-safe path."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 - any py4j/analysis hiccup
        return 1 << 62


def use_small_frame_path(df: DataFrame) -> bool:
    """Strategy gate of :func:`_prefix_scan`: True -> single-partition
    window, False -> distributed range path."""
    return _estimated_bytes(df) < _SMALL_FRAME_BYTES


#: Per-partition aggregate, prefix over partition totals, and the
#: combine of a partition-local value with its offset, per scan op.
_SCAN_OPS = {
    "count": (lambda v: F.count(F.lit(1)), F.sum, operator.add),
    "sum": (F.sum, F.sum, operator.add),
    "min": (F.min, F.min, F.least),
    "max": (F.max, F.max, F.greatest),
}


def _window_agg(op: str, value: str | None, w, inclusive: bool) -> Column:
    if op == "count" and inclusive:
        # an inclusive count is row_number(): the same value without a
        # frame aggregate
        return F.row_number().over(w)
    end = Window.currentRow if inclusive else -1
    return _SCAN_OPS[op][0](value).over(w.rowsBetween(Window.unboundedPreceding, end))


def _prefix_scan(
    df: DataFrame,
    order_cols: list[str | Column],
    aggs: list[tuple[str, str | None, bool]],
    finish: Callable[..., dict[str, Column]],
    persist_registry: list | None = None,
) -> DataFrame:
    """Running aggregates under ``ORDER BY order_cols``, with SQL window
    semantics (``ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW``, or
    ``1 PRECEDING`` when not inclusive).

    ``aggs`` lists ``(op, value_col, inclusive)`` with ``op`` one of
    ``count`` (``value_col`` ignored), ``sum``, ``min``, ``max``.
    ``finish`` receives one running-aggregate Column per entry and
    returns the ``{column: expression}`` to add, in order. Below the
    stats gate the aggregates are plain single-partition windows;
    above it they are the range scan of the module docstring. The
    range frame is persisted and left persisted (the result is lazy);
    ``persist_registry`` collects it for a caller that unpersists."""
    from pyspark import StorageLevel

    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    if use_small_frame_path(df):
        w = Window.orderBy(*cols)
        running = [_window_agg(op, v, w, inc) for op, v, inc in aggs]
        for name, col in finish(*running).items():
            df = df.withColumn(name, col)
        return df

    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    counts_only = all(op == "count" for op, _, _ in aggs)
    ranged = df.repartitionByRange(n, *cols)
    if counts_only:
        ranged = ranged.sortWithinPartitions(*cols)
    # persist is load-bearing, not a cache hint: range boundaries are
    # SAMPLED per plan instantiation, so the totals branch and the
    # combine branch must share one lineage (one partitioner) or rows
    # silently land in different partitions between the two
    ranged = ranged.persist(StorageLevel.MEMORY_AND_DISK)
    if persist_registry is not None:
        persist_registry.append(ranged)
    tagged = ranged.withColumn(PARTITION_ID_COL, F.spark_partition_id())
    if counts_only:
        pos = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
        local = [pos + 1 if inc else pos for _, _, inc in aggs]
    else:
        w_in = Window.partitionBy(PARTITION_ID_COL).orderBy(*cols)
        local = [_window_agg(op, v, w_in, inc) for op, v, inc in aggs]
    scanned = tagged.select("*", *[c.alias(f"__scan_l{i}") for i, c in enumerate(local)])
    totals = tagged.groupBy(PARTITION_ID_COL).agg(*[
        _SCAN_OPS[op][0](v).alias(f"__scan_t{i}") for i, (op, v, _) in enumerate(aggs)
    ])
    # exclusive prefix over <= n rows: the one partition-less window,
    # its input one row per range partition
    w_off = Window.orderBy(PARTITION_ID_COL).rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(PARTITION_ID_COL, *[
        _SCAN_OPS[op][1](f"__scan_t{i}").over(w_off).alias(f"__scan_o{i}")
        for i, (op, _, _) in enumerate(aggs)
    ])
    scanned = scanned.join(F.broadcast(offsets), PARTITION_ID_COL)
    running = []
    for i, (op, _, _) in enumerate(aggs):
        lo, off = F.col(f"__scan_l{i}"), F.col(f"__scan_o{i}")
        # a NULL side is an empty frame: the other side is the answer
        running.append(F.coalesce(_SCAN_OPS[op][2](lo, off), lo, off))
    for name, col in finish(*running).items():
        scanned = scanned.withColumn(name, col)
    internal = [f"__scan_{kind}{i}" for kind in ("l", "o") for i in range(len(aggs))]
    return scanned.drop(PARTITION_ID_COL, *internal)


def with_surrogate_id(
    df: DataFrame,
    order_cols: list[str | Column],
    id_col: str = "id",
    start: int = 1,
    persist_registry: list | None = None,
) -> DataFrame:
    """Add ``id_col`` = global 1-based rank of the row under
    ``ORDER BY order_cols`` (ascending, NULLS FIRST — Spark default),
    offset so the first id is ``start``.

    Rows whose order columns tie receive distinct but arbitrarily
    assigned consecutive ids (identical full rows are interchangeable;
    callers wanting full determinism must pass a unique ordering).
    ``persist_registry`` collects the persisted range frame of the
    distributed path (see :func:`_prefix_scan`).
    """
    return _prefix_scan(
        df,
        order_cols,
        [("count", None, True)],
        lambda n: {id_col: (n + F.lit(start - 1)).cast("bigint")},
        persist_registry=persist_registry,
    )
