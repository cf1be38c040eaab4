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
per frame; see ``_SMALL_FRAME_BYTES``). The at-scale path:

1. range-repartitions by the order columns into a PINNED partition
   count (pinning keeps AQE from re-coalescing the exchange), sorts
   within partitions, and persists — ONE wide shuffle, evaluated once,
2. takes the local position from ``monotonically_increasing_id()``
   (``(partition << 33) + row-index``: order-preserving after the
   sort, pure JVM, requires no exchange at all),
3. counts rows per partition (one row per partition), prefix-sums
   those counts with a window over that tiny frame, and
   broadcast-joins the offsets back on the partition id:
   ``id = offset[partition] + local_position``.

Rejected alternatives, both measured slower or unsound:
``row_number() OVER (PARTITION BY spark_partition_id())`` — the
window's clustering requirement inserts a full hash exchange of the
data; an order-preserving ``mapInPandas`` counter — pays a
Python/Arrow round-trip over the whole frame (~3x slower on the ETL
fixtures than the JVM path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["with_surrogate_id"]

#: Catalyst size estimate below which a single-partition window beats
#: the distributed range path (estimate is compressed-source-scaled;
#: 64 MiB ≈ well under one executor's working memory once decoded).
_SMALL_FRAME_BYTES = 64 * 1024 * 1024


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate for the frame (file-size based
    for scans, propagated through projections/filters/unions). Falls
    back to "huge" so estimation failures choose the scale-safe path."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 - any py4j/analysis hiccup
        return 1 << 62


def use_small_frame_path(df: DataFrame) -> bool:
    """Shared strategy gate for the three prefix-sum consumers
    (with_surrogate_id, sampling.pack_sequences, rank.ranked_running_sum):
    True -> single-partition window, False -> distributed range path."""
    return _estimated_bytes(df) < _SMALL_FRAME_BYTES


def with_surrogate_id(
    df: DataFrame,
    order_cols: list[str | Column],
    id_col: str = "id",
    start: int = 1,
    num_partitions: int | None = None,
    persist_registry: list | None = None,
) -> DataFrame:
    """Add ``id_col`` = global 1-based rank of the row under
    ``ORDER BY order_cols`` (ascending, NULLS FIRST — Spark default).

    Rows whose order columns tie receive distinct but arbitrarily
    assigned consecutive ids (identical full rows are interchangeable;
    callers wanting full determinism must pass a unique ordering).

    """
    from pyspark import StorageLevel

    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]

    # Small-frame fast path: the id is the rank under ORDER BY, which is
    # partition-count-independent, so strategy choice is free to be
    # stats-driven (AQE-spirit). Below the threshold a single-partition
    # window is cheaper than the range machinery (saves the range
    # sampling job, a 32-way exchange, and a fan of tiny output files);
    # above it the distributed path below is mandatory. An explicit
    # num_partitions pins the distributed path (tests rely on this).
    if num_partitions is None and use_small_frame_path(df):
        w = Window.orderBy(*cols)
        return df.withColumn(
            id_col,
            (F.row_number().over(w) + F.lit(start - 1)).cast("bigint"),
        )

    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    # persist is load-bearing, not a cache hint: range boundaries are
    # SAMPLED per plan instantiation, so the counts branch and the
    # assign branch must share one lineage (one partitioner) or rows
    # silently land in different partitions between the two
    ranged = (
        df.repartitionByRange(num_partitions, *cols)
        .sortWithinPartitions(*cols)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if persist_registry is not None:
        # caller unpersists once the ids are materialized downstream
        persist_registry.append(ranged)
    local = ranged.select(
        "*",
        F.spark_partition_id().alias("__sid_pid"),
        (F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))).alias(
            "__sid_pos"
        ),
    )

    counts = local.groupBy("__sid_pid").agg(F.count(F.lit(1)).alias("__sid_cnt"))
    # exclusive prefix sum over ≤num_partitions rows — single-partition
    # window, but its input is one row per data partition
    w_off = Window.orderBy("__sid_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__sid_pid",
        F.coalesce(F.sum("__sid_cnt").over(w_off), F.lit(0)).alias("__sid_off"),
    )

    return (
        local.join(F.broadcast(offsets), "__sid_pid")
        .withColumn(
            id_col,
            (F.col("__sid_pos") + F.col("__sid_off") + F.lit(start)).cast("bigint"),
        )
        .drop("__sid_pid", "__sid_pos", "__sid_off")
    )
