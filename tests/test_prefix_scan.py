"""Both paths of the ordered prefix scan (planner/surrogate._prefix_scan).

Every running-aggregate operator must return the same rows on the
single-partition window path (plain SQL window semantics) and on the
distributed range path, at any partition count — including more
partitions than rows, NULL values, tied order keys and an empty frame.
"""

import re

import pytest
from pyspark.sql import functions as F

from omop_etl_spark.operators.rank import ranked_running_sum, running_extreme
from omop_etl_spark.operators.sampling import pack_sequences, rank_filter
from omop_etl_spark.planner.surrogate import with_surrogate_id

# (g, k, v): g is the order key with ties (and a NULL, sorted first),
# k the unique tiebreak, v the value with NULLs; fewer rows than the
# largest partition count, so some range partitions stay empty
ROWS = [
    (None, 0, 4),
    (1, 1, None),
    (1, 2, 5),
    (2, 3, None),
    (2, 4, None),
    (3, 5, 7),
]

OPS = {
    "with_surrogate_id": lambda df: with_surrogate_id(
        df, ["g", "k"], id_col="sid", start=10
    ),
    "ranked_running_sum": lambda df: ranked_running_sum(
        df, [F.col("g").desc(), F.col("k").asc()], "v"
    ),
    "running_min": lambda df: running_extreme(df, ["g", "k"], "v"),
    "running_max_exclusive": lambda df: running_extreme(
        df, ["g", "k"], "v", out_col="m", agg="max", inclusive=False
    ),
    "pack_sequences": lambda df: pack_sequences(
        df.withColumnRenamed("k", "doc_id"), "v", budget=6
    ),
    "rank_filter": lambda df: rank_filter(
        df, [F.col("g").desc(), "k"], 0.5, rank_col="rk"
    ),
}


@pytest.mark.parametrize("rows", [ROWS, []], ids=["nulls", "empty"])
@pytest.mark.parametrize("partitions", [1, 3, 7])
@pytest.mark.parametrize("op", sorted(OPS))
def test_window_and_range_paths_agree(spark, scan_path, op, partitions, rows):
    df = spark.createDataFrame(rows, "g int, k int, v int")
    got = {}
    for path in ("window", "range"):
        with scan_path(path, partitions):
            got[path] = sorted(OPS[op](df).collect(), key=lambda r: r[1])
    assert got["range"] == got["window"]
    kept = (len(rows) + 1) // 2 if op == "rank_filter" else len(rows)
    assert len(got["window"]) == kept


def test_ranked_running_sum_skips_nulls_at_partition_starts(spark, scan_path):
    # a partition whose first values are NULL starts from the offset of
    # the partitions before it, as SUM() OVER does
    df = spark.createDataFrame(
        list(enumerate([5, 3, None, None, None, 7, None, 2], start=1)), "k int, v int"
    )
    with scan_path("range", 4):
        got = [r.cum_sum for r in ranked_running_sum(df, ["k"], "v").orderBy("k").collect()]
    assert got == [5, 8, 8, 8, 8, 15, 15, 17]


# distinct exchanges of each operator's distributed plan: the range
# exchange, the per-partition totals' hash and single-partition
# exchanges, the offsets broadcast, plus the partition-id hash exchange
# of every scan that needs a local window (all but the surrogate id);
# rank_filter adds the single-partition exchange and the broadcast of
# its row total
EXCHANGES = {
    "with_surrogate_id": 4,
    "ranked_running_sum": 5,
    "running_min": 5,
    "running_max_exclusive": 5,
    "pack_sequences": 5,
    "rank_filter": 6,
}


@pytest.mark.parametrize("op", sorted(OPS))
def test_distributed_plan_exchange_count(spark, scan_path, op):
    df = spark.range(50).select(
        (F.col("id") % 7).cast("int").alias("g"),
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 5).cast("int").alias("v"),
    )
    with scan_path("range", 4):
        plan = OPS[op](df)._jdf.queryExecution().executedPlan().toString()
    exchanges = {
        m for line in plan.splitlines() if "Exchange" in line
        for m in re.findall(r"plan_id=(\d+)", line)
    }
    assert len(exchanges) == EXCHANGES[op], plan
