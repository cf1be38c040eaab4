"""Blocked Levenshtein matching (omop_etl_spark/operators/fuzzy.py)."""

import pytest

from omop_etl_spark.operators.fuzzy import fuzzy_self_match


@pytest.fixture(scope="module")
def names(spark):
    return spark.createDataFrame(
        [
            (1, "acme corp", "a"),
            (2, "acme corp.", "a"),   # distance 1
            (3, "acme inc", "a"),     # distance 4 from corp
            (4, "bolt ltd", "b"),
            (5, "bolt ltd", "b"),     # exact duplicate
            (6, "acme corp", "x"),    # same text, different block: never paired
        ],
        "id bigint, name string, blk string",
    )


def test_self_match_within_blocks_only(spark, names):
    got = sorted(
        (r["id_a"], r["id_b"], r["edit_distance"])
        for r in fuzzy_self_match(
            names, id_col="id", text_col="name", block_on=["blk"], max_distance=2
        ).collect()
    )
    assert got == [(1, 2, 1), (4, 5, 0)]


def test_self_match_distance_threshold(spark, names):
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in fuzzy_self_match(
            names, id_col="id", text_col="name", block_on=["blk"], max_distance=4
        ).collect()
    )
    # lev("acme corp","acme inc") = 4 qualifies; "acme corp." is 5
    assert (1, 3) in got
    assert (2, 3) not in got


def test_fuzzy_self_match_no_cartesian_in_plan(spark, names):
    out = fuzzy_self_match(
        names, id_col="id", text_col="name", block_on=["blk"]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "NestedLoop" not in plan
