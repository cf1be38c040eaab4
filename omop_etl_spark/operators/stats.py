"""Exact distributed second-moment statistics over embedding columns.

Covariance/Gram matrices are the workhorse of embedding hygiene at
corpus scale — whitening before cosine dedup, PCA projections, drift
monitoring between corpus snapshots.  The naive Spark spelling
(``posexplode`` twice → ``groupBy(i, j)``) multiplies every row by
``d**2`` before the shuffle; for d=64 that is a 4096x row blow-up of
the fact table.  Here each Arrow batch is reduced to ONE ``d x d``
partial by a numpy matmul inside ``mapInPandas``, so the shuffle
carries ``partitions * d*(d+1)/2`` tiny rows — independent of corpus
size — and the final combine is a hash aggregate over at most a few
thousand keys.

Float sums are partition-order dependent, which would break the
cross-engine value oracle, so the operator works on *integer-quantized*
components: ``q = floor(x * 2**shift)`` is exact per element, integer
sums are associative/commutative, and a SQL engine replaying the same
quantization reproduces every output bit.  With ``shift=14`` and unit-
norm-ish components, pair products are < 2**30, leaving ~2**33 rows of
headroom in int64 per (i, j) cell; raise ``shift`` only with a row
budget in mind.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..conf import checkpoint as _checkpoint
from .util import collect_bounded, literal_frame, sql_div, sql_fit

__all__ = [
    "quantized_comoments",
    "quantized_covariance",
    "exact_quantile_cuts",
    "power_iteration_top_eigen",
    "robust_group_stats",
]

_PARTIAL_SCHEMA = "i int, j int, n bigint, s_i bigint, s_j bigint, s_ij bigint"


def quantized_comoments(
    df: DataFrame, vec_col: str = "embedding", shift: int = 14
) -> DataFrame:
    """Exact co-moment sums of the integer-quantized vector components.

    One output row per (i <= j) index pair: ``n`` (row count), ``s_i``
    / ``s_j`` (component sums), ``s_ij`` (pair-product sum) — the
    sufficient statistics for mean/covariance/Gram, all integers.
    """
    scale = float(1 << shift)

    def reduce_batches(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        acc_n = 0
        acc_s = None
        acc_ss = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy())
            q = np.floor(x.astype(np.float64) * scale).astype(np.int64)
            acc_n += q.shape[0]
            s = q.sum(axis=0)
            ss = q.T @ q
            acc_s = s if acc_s is None else acc_s + s
            acc_ss = ss if acc_ss is None else acc_ss + ss
        if acc_n == 0:
            return
        d = acc_s.shape[0]
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame(
            {
                "i": iu.astype(np.int32),
                "j": ju.astype(np.int32),
                "n": np.full(iu.shape[0], acc_n, dtype=np.int64),
                "s_i": acc_s[iu],
                "s_j": acc_s[ju],
                "s_ij": acc_ss[iu, ju],
            }
        )

    partials = df.select(vec_col).mapInPandas(reduce_batches, _PARTIAL_SCHEMA)
    return partials.groupBy("i", "j").agg(
        F.sum("n").alias("n"),
        F.sum("s_i").alias("s_i"),
        F.sum("s_j").alias("s_j"),
        F.sum("s_ij").alias("s_ij"),
    )


def quantized_covariance(
    df: DataFrame, vec_col: str = "embedding", shift: int = 14
) -> DataFrame:
    """Scaled sample covariance from :func:`quantized_comoments`.

    ``cov_scaled = floor((n * s_ij - s_i * s_j) / n)`` — an all-integer
    expression of ``n**2 * quantized-covariance`` up to the floor, so it
    hashes identically in any engine.  Divide by ``n * 2**(2*shift)``
    driver-side for the float covariance when needed.
    """
    m = quantized_comoments(df, vec_col, shift)
    # DECIMAL(38,0)-widened products (the r16/r17 overflow class): the
    # comoment SUMS fit int64 up to multi-billion-row corpora (unit-ish
    # vectors: s_ij ~ n * 2^(2*shift)/d ~ 2e16 at n=5e9), but the
    # `n * s_ij` product crosses 2^63 around n ~ 2e4 * high-norm or
    # n ~ 7e5 at sf10 volumes — squarely inside real corpus range.
    # `a - posmod(a, n)` is exactly divisible by n, so truncating `div`
    # (toward zero on decimals, same as DuckDB HUGEINT `//`) equals
    # floor division; the spelling is exact in both engines.
    t = "(CAST(n AS DECIMAL(38,0)) * s_ij - CAST(s_i AS DECIMAL(38,0)) * s_j)"
    cov = F.expr(f"({t} - ((({t} % n) + n) % n)) div n")
    return m.select(
        "i",
        "j",
        F.col("n").cast("bigint").alias("n"),
        F.col("s_i").cast("bigint").alias("s_i"),
        F.col("s_j").cast("bigint").alias("s_j"),
        F.col("s_ij").cast("bigint").alias("s_ij"),
        cov.cast("bigint").alias("cov_scaled"),
    )


def exact_quantile_cuts(
    df,
    group_cols,
    value_col,
    quantiles,
    bucket_width: int | None = None,
    count_col: str | None = None,
):
    """Exact per-group quantile cut values, computed WITHOUT sorting
    the group's rows.

    ``percentile_approx`` is irreproducible across engines; the naive
    exact route (``row_number`` per group over all rows) serializes
    each group on one task.  This runs the rank arithmetic over the
    group's DISTINCT values instead: count per (group, value) — the
    map-side combine collapses repeated values — then a cumulative
    window over the distinct-value spine, and the q-th cut is the
    smallest value whose running count reaches ``floor((n-1) * q) + 1``
    (the lower-value definition: exact, interpolation-free,
    integer-stable).

    For near-continuous values the distinct spine approaches the row
    count, so pass ``bucket_width`` to two-level the cumulative sum
    (the :func:`~...sampling.token_budget_sample` pattern): local
    cumsum within ``(group, value div bucket_width)`` plus carry-in
    offsets from the tiny per-bucket totals frame — same exact result,
    no group-wide sort.

    ``value_col`` should be integral (quantize floats first) so the
    cuts hash identically across engines.  Output: one row per group —
    ``n`` plus one ``q_<label>`` column per requested quantile.

    Pass ``count_col`` when ``df`` is ALREADY the per-(group, value)
    aggregate (one row per pair, weight in ``count_col``) — callers
    like :func:`robust_group_stats` that need the counts frame for
    their own math then shuffle the fact table once, not twice.
    """
    from pyspark.sql import Window

    gcols = list(group_cols)
    if count_col is None:
        counts = df.groupBy(*gcols, value_col).agg(
            F.count(F.lit(1)).alias("__c")
        )
    else:
        counts = df.groupBy(*gcols, value_col).agg(
            F.sum(count_col).alias("__c")
        )
    if bucket_width is None:
        w = (
            Window.partitionBy(*gcols)
            .orderBy(value_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = counts.withColumn("__cum", F.sum("__c").over(w))
    else:
        bkt = F.floor(F.col(value_col) / F.lit(int(bucket_width))).cast("bigint")
        base = counts.withColumn("__bkt", bkt)
        w_local = (
            Window.partitionBy(*gcols, "__bkt")
            .orderBy(value_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        local = base.withColumn("__cl", F.sum("__c").over(w_local))
        w_carry = (
            Window.partitionBy(*gcols)
            .orderBy("__bkt")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = (
            base.groupBy(*gcols, "__bkt")
            .agg(F.sum("__c").alias("__bt"))
            .select(
                *[F.col(c).alias(f"__o_{c}") for c in gcols],
                F.col("__bkt").alias("__ob"),
                F.coalesce(F.sum("__bt").over(w_carry), F.lit(0)).alias("__off"),
            )
        )
        cond = F.col("__bkt") == F.col("__ob")
        for c in gcols:
            cond = cond & (F.col(c) == F.col(f"__o_{c}"))
        cum = (
            local.join(F.broadcast(offsets), cond)
            .withColumn("__cum", F.col("__off") + F.col("__cl"))
            .drop("__bkt", "__cl", "__ob", "__off", *[f"__o_{c}" for c in gcols])
        )
    totals = counts.groupBy(*gcols).agg(F.sum("__c").alias("n"))
    j = cum.join(F.broadcast(totals), gcols)
    aggs = [F.max("n").alias("n")]
    for q in quantiles:
        label = str(q).replace("0.", "p").replace(".", "_")
        rank = F.floor((F.col("n") - 1) * F.lit(float(q))) + 1
        aggs.append(
            F.min(
                F.when(F.col("__cum") >= rank, F.col(value_col))
            ).alias(f"q_{label}")
        )
    return j.groupBy(*gcols).agg(*aggs)


def power_iteration_top_eigen(
    matrix: DataFrame,
    i_col: str = "i",
    j_col: str = "j",
    val_col: str = "m",
    rounds: int = 8,
    scale: int = 1_000_000,
) -> DataFrame:
    """Dominant eigenvector of a (full, symmetric) integer matrix frame
    by power iteration in EXACT integer fixed-point — the PCA direction
    of an embedding covariance without ever leaving engine-replayable
    arithmetic.

    Each round: one matvec (per row index, the sum of ``m * v[j]`` over
    its cells, accumulated in decimal(38,0): ``d * |m| * scale`` wraps
    int64 at corpus-scale covariances) and one max-abs renormalization
    back to ``scale`` fixed-point (single exact integer division per
    component).  The
    iterate is therefore a pure function of the input — an unrolled
    SQL CTE replays it bit-for-bit — unlike float power iteration,
    whose sum order is engine-private.

    Start vector is uniform ``scale`` over the row indices; for PSD
    matrices (covariances) the iterate converges to the top
    eigenvector up to sign.  Only cells whose column index is in the
    current vector contribute, so a null row index is a component of
    its own and a null column index contributes nothing.

    The loop runs on the driver: one capped collect of the d^2 matrix
    frame (at most :data:`~.util.DRIVER_LOOP_MAX_ROWS` rows, i.e.
    d <= 256, else ``ValueError``), then exact Python integers, raising
    ``ArithmeticError`` where ANSI Spark would overflow DECIMAL(38,0)
    in the matvec or in ``w * scale``.  The SF-linear work happened
    upstream, in the covariance.

    Returns ``(i_col, v)`` with ``v`` in ``[-scale, scale]`` bigint.
    """
    op = "power_iteration_top_eigen"
    if rounds < 1:
        raise ValueError(f"{op} requires rounds >= 1")
    m = matrix.select(
        F.col(i_col).alias("i"), F.col(j_col).alias("j"),
        F.col(val_col).cast("decimal(38,0)").alias("m"),
    )
    index_type = m.schema["i"].dataType
    cells = [
        (i, j, None if x is None else int(x))
        for i, j, x in collect_bounded(m, op)
    ]
    v = dict.fromkeys((i for i, _, _ in cells), sql_fit(scale, "BIGINT", op))
    for _ in range(rounds):
        w: dict = {}
        for i, j, x in cells:
            if j is None or j not in v:
                continue
            acc = w.get(i)
            if x is not None and v[j] is not None:
                p = sql_fit(x * v[j], "DECIMAL(38,0)", op)
                acc = sql_fit(p if acc is None else acc + p, "DECIMAL(38,0)", op)
            w[i] = acc
        mx = max([1, *(abs(x) for x in w.values() if x is not None)])
        v = {
            i: None if x is None
            else sql_div(sql_fit(x * scale, "DECIMAL(38,0)", op), mx, op)
            for i, x in w.items()
        }
    schema = StructType([
        StructField(i_col, index_type), StructField("v", LongType()),
    ])
    return literal_frame(matrix.sparkSession, schema, list(v.items()))


def robust_group_stats(
    df,
    group_cols,
    value_col,
    lo: float = 0.05,
    hi: float = 0.95,
):
    """Outlier-robust per-group statistics in exact integer
    arithmetic: winsorized sum/mean (values clipped to the group's
    exact [lo, hi] quantile cuts) and MAD (median absolute deviation
    from the exact lower median) — the screening numbers a skewed or
    dirty metric needs INSTEAD of plain mean/stddev, where one bad
    sensor reading drags the whole group.

    All quantiles use :func:`exact_quantile_cuts`'s lower-value rank
    rule (smallest value whose running count reaches
    ``floor((n-1)*q) + 1``) over the DISTINCT-value spine — exact,
    interpolation-free, and engine-replayable; no group is ever
    sorted row-wise.  The MAD pass reuses the same decomposition on
    the ``|v - median|`` value spine.  ``value_col`` must be integral
    (quantize floats upstream).

    Scale: ONE scan+shuffle of ``df`` builds the per-(group, value)
    aggregate, which is value-domain-bounded and eagerly checkpointed
    — the cut pass (via ``exact_quantile_cuts``'s ``count_col``
    path), the winsorize pass, and the MAD pass all run on it;
    windows are all PARTITIONED by group.  The winsorized mean is
    exact integer floor division (pmod construction — valid for
    negative sums).

    Returns ``(group_cols..., n, lo_cut, median, hi_cut,
    winsorized_sum, winsorized_mean, mad)``.
    """
    from pyspark.sql import Window

    gcols = list(group_cols)
    # NOT size-gated (r18 A/B): this spine feeds THREE weighted passes
    # (cuts, winsorize, MAD — the MAD leg re-derives a second
    # deviation spine from it), and the in-session toggle A/B read
    # skip 1.84 s vs checkpoint 1.58 s at sf0.1 — the duplicate
    # re-aggregations already cost more than the materialization at
    # the smallest measurable tier, so the checkpoint stays
    # unconditional.
    counts = (
        df.groupBy(*gcols, value_col)
        .agg(F.count(F.lit(1)).alias("__c"))
        .transform(_checkpoint)
    )
    cuts = exact_quantile_cuts(
        counts, gcols, value_col, [lo, 0.5, hi], count_col="__c"
    )
    lo_lab = f"q_{str(lo).replace('0.', 'p').replace('.', '_')}"
    hi_lab = f"q_{str(hi).replace('0.', 'p').replace('.', '_')}"
    cuts = cuts.select(
        *gcols,
        F.col("n").cast("bigint").alias("n"),
        F.col(lo_lab).cast("bigint").alias("lo_cut"),
        F.col("q_p5").cast("bigint").alias("median"),
        F.col(hi_lab).cast("bigint").alias("hi_cut"),
    )
    j = counts.join(cuts, gcols)
    clip = F.greatest(F.least(F.col(value_col), F.col("hi_cut")), F.col("lo_cut"))
    win = j.groupBy(*gcols).agg(
        F.sum(clip * F.col("__c")).cast("bigint").alias("winsorized_sum")
    )
    dev = j.select(
        *gcols,
        F.abs(F.col(value_col) - F.col("median")).cast("bigint").alias("__d"),
        "__c",
        "n",
    ).groupBy(*gcols, "__d", "n").agg(F.sum("__c").alias("__dc"))
    w = (
        Window.partitionBy(*gcols)
        .orderBy("__d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mad = (
        dev.withColumn("__cum", F.sum("__dc").over(w))
        .groupBy(*gcols)
        .agg(
            F.min(
                F.when(
                    F.col("__cum") >= F.floor((F.col("n") - 1) * F.lit(0.5)) + 1,
                    F.col("__d"),
                )
            )
            .cast("bigint")
            .alias("mad")
        )
    )
    out = cuts.join(win, gcols).join(mad, gcols)
    return out.select(
        *gcols,
        "n",
        "lo_cut",
        "median",
        "hi_cut",
        "winsorized_sum",
        F.expr(
            "(winsorized_sum - pmod(winsorized_sum, n)) div n"
        ).cast("bigint").alias("winsorized_mean"),
        "mad",
    )
