"""The two bounded power iterations that run on the driver.

``graph.markov_stationary`` and ``stats.power_iteration_top_eigen``
collect their loop-invariant frame once (``util.collect_bounded``) and
iterate in exact Python integers. The expected values below were
computed by the distributed join-and-aggregate form these loops
replace, so they pin that form's integer arithmetic: truncating
``div``, renormalization to ``scale``, the ``max(., 1)`` guards, and
how null states flow.
"""

import re
from decimal import Decimal

import pytest

from omop_etl_spark.operators import util
from omop_etl_spark.operators.graph import markov_stationary
from omop_etl_spark.operators.stats import power_iteration_top_eigen

SF001 = "/root/testdata/sf0.001"
EDGES = "src string, dst string, n long"
CELLS = "i int, j int, m long"

# c is a sink (a dst that is never a src); d has no inflow
SINK_CHAIN = [
    ("a", "a", 3), ("a", "b", 2), ("b", "c", 4), ("b", "a", 1), ("d", "a", 5),
]
# rows 2 and 3: a zero row and a negative diagonal
SIGNED_MATRIX = [
    [4, -2, 0, 1],
    [-2, 5, 0, -3],
    [0, 0, 0, 0],
    [1, -3, 0, -6],
]


def _markov(spark, rows, schema=EDGES, **kw):
    df = spark.createDataFrame(rows, schema)
    return {r["state"]: r["stationary_scaled"] for r in markov_stationary(df, **kw).collect()}


def _eigen(spark, rows, schema=CELLS, **kw):
    df = spark.createDataFrame(rows, schema)
    return {r["i"]: r["v"] for r in power_iteration_top_eigen(df, **kw).collect()}


def _cells(matrix):
    return [(i, j, v) for i, row in enumerate(matrix) for j, v in enumerate(row)]


@pytest.mark.parametrize("rounds, want", [
    (5, {"a": 640481, "b": 359518, "d": 0}),
    (1, {"a": 818181, "b": 181818, "d": 0}),
])
def test_markov_sink_and_no_inflow_states(spark, rounds, want):
    assert _markov(spark, SINK_CHAIN, rounds=rounds) == want


def test_markov_null_src_sends_nothing_and_null_dst_receives_nothing(spark):
    rows = [
        (None, "a", 2), ("a", None, 3), ("a", "b", 1), ("b", "a", 4),
        ("b", "b", None), ("a", "b", 7),
    ]
    assert _markov(spark, rows, rounds=3) == {"a": 578947, "b": 421052, None: 0}


def test_markov_integer_states_and_signed_weights(spark):
    rows = [(1, 2, 5), (2, 1, 3), (2, 3, 9), (3, 1, 1), (1, 1, 2)]
    got = _markov(spark, rows, "src int, dst int, n int", rounds=4)
    assert got == {1: 469968, 2: 285862, 3: 244168}
    signed = [("a", "b", -3), ("a", "a", 5), ("b", "a", 2)]
    assert _markov(spark, signed, rounds=2) == {"a": 3625000, "b": -2625000}
    all_null = [("a", "b", None), ("a", "a", None), ("b", "a", 2)]
    assert _markov(spark, all_null, rounds=2) == {"a": 0, "b": 0}
    assert _markov(spark, [], rounds=2) == {}


def test_markov_raises_where_ansi_spark_raises(spark):
    with pytest.raises(ArithmeticError, match="markov_stationary: division by zero"):
        _markov(spark, [("a", "b", 0), ("b", "a", 2)], rounds=2)
    with pytest.raises(ArithmeticError, match="overflows BIGINT"):  # out-degree sum
        _markov(spark, [("a", "b", 1 << 62), ("a", "a", 1 << 62), ("b", "a", 1)], rounds=1)
    with pytest.raises(ArithmeticError, match="overflows BIGINT"):  # raw * scale
        _markov(spark, [("a", "b", 1), ("b", "a", 1)], rounds=1, scale=10**14)


def test_markov_flow_past_bigint_raises(spark):
    """A per-edge flow ``v * n div deg`` past BIGINT: the join plan's
    decimal ``div`` wrapped it silently to a long (the rows came back
    as a 1000000 / 0 split); the driver loop raises."""
    rows = [("a", "b", -(1 << 62)), ("a", "a", (1 << 62) + 1), ("b", "a", 2)]
    with pytest.raises(ArithmeticError, match="overflows BIGINT"):
        _markov(spark, rows, rounds=1)


@pytest.mark.parametrize("rounds, want", [
    (1, {0: 375000, 1: 0, 2: 0, 3: -1000000}),
    (3, {0: 87078, 1: -199438, 2: 0, 3: -1000000}),
])
def test_eigen_negative_and_zero_rows(spark, rounds, want):
    assert _eigen(spark, _cells(SIGNED_MATRIX), rounds=rounds) == want


@pytest.mark.parametrize("rounds, want", [
    (2, {0: 750000, 1: 500000, 2: 800000, None: 1000000}),
    (4, {0: 727272, 1: 454545, 2: 800000, None: 1000000}),
])
def test_eigen_null_indices_and_values(spark, rounds, want):
    """A null row index is a component of its own; a null column index
    and a null value contribute nothing; row 2 has no column 2."""
    rows = [
        (0, 0, 3), (0, 1, 1), (1, 0, 1), (1, 1, 2),
        (None, 0, 5), (0, None, 7), (1, 1, None), (2, 0, 4),
    ]
    assert _eigen(spark, rows, rounds=rounds) == want


def test_eigen_zero_matrix_and_fractional_values(spark):
    zero = [(0, 0, 0), (0, 1, 0), (1, 0, 0), (1, 1, 0)]
    assert _eigen(spark, zero, rounds=2) == {0: 0, 1: 0}
    # values cast to DECIMAL(38,0) as Spark casts them (half up)
    frac = [(0, 0, 2.6), (0, 1, -1.5), (1, 0, -1.5), (1, 1, 1.2)]
    assert _eigen(spark, frac, "i int, j int, m double", rounds=2) == {0: 1000000, 1: -600000}
    assert _eigen(spark, [], rounds=2) == {}


def test_eigen_raises_where_ansi_spark_raises(spark):
    with pytest.raises(ArithmeticError, match="power_iteration_top_eigen: .* overflows DECIMAL"):
        _eigen(spark, [(0, 0, Decimal(10**33)), (1, 1, Decimal(1))],
               "i int, j int, m decimal(38,0)", rounds=1)  # m * v
    big = [(0, 0, 10**10), (0, 1, 10**10), (1, 0, 10**10), (1, 1, 10**10)]
    with pytest.raises(ArithmeticError, match="overflows DECIMAL"):  # w * scale
        _eigen(spark, big, rounds=1, scale=10**14)


def test_frame_over_the_cap_raises_naming_the_operator(spark, monkeypatch):
    monkeypatch.setattr(util, "DRIVER_LOOP_MAX_ROWS", 4)
    with pytest.raises(ValueError, match=r"markov_stationary: .* more than 4 rows"):
        _markov(spark, SINK_CHAIN, rounds=1)
    with pytest.raises(ValueError, match=r"power_iteration_top_eigen: .* more than 4 rows"):
        _eigen(spark, _cells(SIGNED_MATRIX), rounds=1)
    # exactly at the cap is fine
    assert _markov(spark, SINK_CHAIN[:4], rounds=1) == {"a": 666666, "b": 333333}


def test_gates_run_in_a_few_jobs_on_a_jvm_literal_plan(spark):
    """Each gate builds and noop-writes in at most 5 jobs (the join
    plan took 39 for events_stationary), and its result plan holds no
    RDD of driver rows and no Python node, so no Python worker runs
    for it."""
    import __spark_entry__ as entry

    entry._engine(spark, SF001)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    for gate in ("events_stationary", "embed_top_eigen"):
        before = sched.nextJobId()
        df = entry.queries()[gate](spark, SF001)
        df.write.format("noop").mode("overwrite").save()
        assert sched.nextJobId() - before <= 5, gate
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"ExistingRDD|Python|InPandas|InArrow", plan), plan
