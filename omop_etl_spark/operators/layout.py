"""Physical data layout for scan pruning: Z-order (Morton) clustering.

At 100 TB the dominant cost of most queries is the scan, and the lever
is file skipping: parquet min/max footer stats prune a file only when
the values inside it are clustered. Sorting by one column clusters that
column alone; interleaving the bits of several columns (a Z-order /
Morton curve, the technique behind Delta/Iceberg ``OPTIMIZE ZORDER BY``)
gives every participating column locality, so predicates on ANY of them
skip most files.

Everything here is plain JVM integer arithmetic inside whole-stage
codegen — no UDFs, no collect; the per-column ranges come from one
scalar aggregate broadcast back as a 1-row cross join, so the plan
stays lazy end-to-end.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["zorder_key"]


def _interleave(cols: list[Column], bits: int) -> Column:
    """Bit-interleave ``len(cols)`` normalized ints of ``bits`` bits
    each: output bit ``b*n + i`` is bit ``b`` of column ``i``."""
    n = len(cols)
    out = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, c in enumerate(cols):
            out = out + (
                F.shiftleft(
                    F.shiftrightunsigned(c, b).bitwiseAND(F.lit(1)),
                    b * n + i,
                ).cast("bigint")
            )
    return out


def zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 16,
    out_col: str = "zkey",
) -> DataFrame:
    """Add a Morton key interleaving the bits of ``cols`` (numeric or
    timestamp; each is rank-normalized into ``[0, 2^bits)`` by its
    global min/max range).

    ``len(cols) * bits`` must be ≤ 63 (the key is a signed BIGINT).
    Sorting or range-partitioning by ``out_col`` co-locates rows that
    are close in EVERY listed dimension, so per-file min/max stats
    become selective for predicates on any of them — the multi-column
    generalization of sorting before a write.

    Plan shape: one scalar aggregate for the ranges (map-side reduced,
    broadcast back via a 1-row cross join — no driver collect), then a
    map-only projection of pure integer ops. The interleave unrolls to
    ``bits × len(cols)`` shift/mask terms inside one codegen stage.
    """
    cols = list(cols)
    if len(cols) * bits > 63:
        raise ValueError(
            f"zorder_key: {len(cols)} cols x {bits} bits exceeds 63 key bits"
        )
    levels = (1 << bits) - 1

    def as_num(name: str) -> Column:
        c = F.col(name)
        t = dict(df.dtypes).get(name, "")
        if t.startswith("timestamp"):
            return F.unix_micros(c).cast("double")
        return c.cast("double")

    aggs = []
    for i, name in enumerate(cols):
        aggs.append(F.min(as_num(name)).alias(f"__z_lo{i}"))
        aggs.append(F.max(as_num(name)).alias(f"__z_hi{i}"))
    stats = df.agg(*aggs)

    normed = []
    for i, name in enumerate(cols):
        lo, hi = F.col(f"__z_lo{i}"), F.col(f"__z_hi{i}")
        scale = F.when(hi > lo, F.lit(float(levels)) / (hi - lo)).otherwise(
            F.lit(0.0)
        )
        normed.append(
            F.floor((as_num(name) - lo) * scale + F.lit(0.5)).cast("bigint")
        )
    drop = [c for i in range(len(cols)) for c in (f"__z_lo{i}", f"__z_hi{i}")]
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn(out_col, _interleave(normed, bits))
        .drop(*drop)
    )
