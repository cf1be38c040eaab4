"""ranked_running_sum: distributed global rank + running sum.

The distributed path (range-repartition + broadcast prefix offsets)
must be value-identical to the single-partition window it replaces —
this is the test VERDICT r7 #2 requires so the stats gate in
operators/rank.py can be trusted at any scale factor.
"""

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from omop_etl_spark.operators.rank import ranked_running_sum
from omop_etl_spark.planner import surrogate


def _reference(rows, key=lambda r: (-r[1], r[0])):
    out = []
    cum = 0
    for rank, (k, v) in enumerate(sorted(rows, key=key), start=1):
        cum += v
        out.append((k, v, rank, cum))
    return out


@pytest.fixture(scope="module")
def frame(spark):
    rng = random.Random(81)
    # heavy ties: only 7 distinct values over 500 keys, so the
    # tiebreaker column does real work at partition boundaries
    rows = [(k, rng.choice([0, 1, 5, 7, 11, 11, 40])) for k in range(500)]
    return rows, spark.createDataFrame(rows, "k long, v long")


def test_distributed_matches_reference(spark, frame, scan_path):
    rows, df = frame
    with scan_path("range", 8):
        got = (
            ranked_running_sum(
                df,
                [F.col("v").desc(), F.col("k").asc()],
                "v",
                rank_col="r",
                cum_col="c",
            )
            .orderBy("r")
            .collect()
        )
    assert [(x.k, x.v, x.r, x.c) for x in got] == _reference(rows)


def test_distributed_matches_single_partition_window(spark, frame, scan_path):
    _, df = frame
    w = Window.orderBy(F.col("v").asc(), F.col("k").desc())
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    expected = (
        df.withColumn("r", F.row_number().over(w))
        .withColumn("c", F.sum("v").over(wf))
        .orderBy("r")
        .collect()
    )
    with scan_path("range", 8):
        got = (
            ranked_running_sum(
                df,
                [F.col("v").asc(), F.col("k").desc()],
                "v",
                rank_col="r",
                cum_col="c",
            )
            .orderBy("r")
            .collect()
        )
    assert [(x.k, x.v, x.r, x.c) for x in got] == [
        (x.k, x.v, x.r, x.c) for x in expected
    ]


def test_distributed_path_has_no_global_window(spark, frame, scan_path):
    """The distributed plan's only partition-less window input is the
    per-partition totals frame (≤ shuffle-partition-count rows)."""
    _, df = frame
    with scan_path("range", 8):
        out = ranked_running_sum(df, [F.col("v").desc(), "k"], "v")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    windows = [line for line in plan.splitlines() if "Window [" in line]
    # one window partitions by the range-partition id, the other orders
    # the bounded per-partition totals by it
    assert len(windows) == 2, plan
    for line in windows:
        assert surrogate.PARTITION_ID_COL in line, line


def test_small_frame_gate_uses_plain_window(spark):
    # a VALUES relation carries a real size estimate (a frame built
    # from a Python list estimates as huge and takes the range path)
    df = spark.sql("SELECT * FROM VALUES (1L, 10L), (2L, 5L) AS t(k, v)")
    assert surrogate.use_small_frame_path(df)
    out = ranked_running_sum(df, ["v"], "v")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert surrogate.PARTITION_ID_COL not in plan, plan
    assert "RepartitionByExpression" not in plan, plan
    rows = out.orderBy("rank").collect()
    assert [(r["rank"], r["cum_sum"]) for r in rows] == [(1, 5), (2, 15)]
