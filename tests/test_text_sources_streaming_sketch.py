"""Streaming sketches and state reducers: each stream's final result
equals the batch operator's (batch/stream equivalence)."""

import os
import random

from pyspark.sql import Row
from pyspark.sql import functions as F

from omop_etl_spark.operators.sketches import kmv_distinct

EVENTS = "/root/testdata/sf0.001/events.parquet"


def test_stream_kmv_matches_batch(spark):
    from omop_etl_spark.sources import (
        EVENTS_NS_COLUMNS,
        normalize_timestamps,
        read_parquet_table,
    )
    from omop_etl_spark.streaming import read_table_stream, stream_kmv_distinct

    stream = normalize_timestamps(
        read_table_stream(spark, EVENTS), EVENTS_NS_COLUMNS["events"]
    )
    q = (
        stream_kmv_distinct(stream, "event_type", "user_id", k=32)
        .writeStream.format("memory")
        .queryName("kmv_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["event_type"]: (r["n_kept"], r["est_distinct"])
        for r in spark.table("kmv_t").collect()
    }
    batch = read_parquet_table(spark, EVENTS, ns_columns=["ts"])
    want = {
        r["event_type"]: (r["n_kept"], r["est_distinct"])
        for r in kmv_distinct(batch, ["event_type"], "user_id", k=32).collect()
    }
    assert got == want and len(got) > 0


def test_stream_kmv_state_is_bounded_across_batches(spark, tmp_path):
    # two files arriving as separate micro-batches; final estimate must
    # equal the batch sketch over the union (state carries the k-mins)
    import pandas as pd

    d = tmp_path / "stream_in"
    d.mkdir()
    pd.DataFrame({"k": ["a"] * 60, "v": list(range(60))}).to_parquet(d / "f1.parquet")
    pd.DataFrame({"k": ["a"] * 60, "v": list(range(30, 90))}).to_parquet(
        d / "f2.parquet"
    )
    from omop_etl_spark.streaming import stream_kmv_distinct

    stream = (
        spark.readStream.schema("k string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        stream_kmv_distinct(stream, "k", "v", k=16)
        .writeStream.format("memory")
        .queryName("kmv_multi")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("kmv_multi").collect()
    assert len(rows) == 2  # one emission per micro-batch
    final = rows[-1]
    batch_df = spark.createDataFrame(
        [Row(k="a", v=v) for v in range(90)]
    )
    want = kmv_distinct(batch_df, ["k"], "v", k=16).collect()[0]
    # emissions are append-ordered; the last one reflects all 90 values
    ests = sorted(r["est_distinct"] for r in rows)
    assert want["est_distinct"] in ests
    assert final["n_kept"] == 16


def test_stream_latest_state_survives_out_of_order_batches(spark, tmp_path):
    import pandas as pd

    from omop_etl_spark.streaming import stream_latest_state

    d = tmp_path / "lww_in"
    d.mkdir()
    # batch 1 carries the NEWEST ord for key "a"; batch 2 arrives later
    # with older data — state must not regress
    pd.DataFrame({"k": ["a", "b"], "o": [100, 5], "v": ["new_a", "old_b"]}).to_parquet(
        d / "f1.parquet"
    )
    pd.DataFrame({"k": ["a", "b"], "o": [50, 10], "v": ["stale_a", "new_b"]}).to_parquet(
        d / "f2.parquet"
    )
    stream = (
        spark.readStream.schema("k string, o long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        stream_latest_state(stream, "k", "o", "v")
        .writeStream.format("memory")
        .queryName("lww_s")
        # a streaming aggregation without a watermark: update mode
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("lww_s").collect()
    # last emission per key wins (update mode emits per batch)
    final = {}
    for r in rows:
        final[r["k"]] = (r["o"], r["v"])
    assert final == {"a": (100, "new_a"), "b": (10, "new_b")}


def test_stream_latest_state_max_struct_recovery(spark, tmp_path):
    """The driver gate's final-state recovery contract
    (events_latest_state_stream): with update-mode emissions across
    MULTIPLE micro-batches, ``max(struct(ord, value))`` equals the last
    emission per key — valid because the state is monotone under the
    operator's own (ord, value-with-NULL-losing) total order. Probed
    here including the NULL-tie case (struct comparison sorts NULL
    first, so NULL loses in max — the same rule as the operator)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from omop_etl_spark.streaming import stream_latest_state

    d = tmp_path / "lww_rec"
    d.mkdir()
    pd.DataFrame(
        {"k": ["a", "b", "c"], "o": [7, 5, 1], "v": [None, "mid_b", "c1"]}
    ).to_parquet(d / "f1.parquet")
    pd.DataFrame(
        {"k": ["a", "b", "c"], "o": [7, 9, 2], "v": ["tie_a", "new_b", None]}
    ).to_parquet(d / "f2.parquet")
    stream = (
        spark.readStream.schema("k string, o long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        stream_latest_state(stream, "k", "o", "v")
        .writeStream.format("memory")
        .queryName("lww_rec")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["k"]: (r["o"], r["v"])
        for r in spark.table("lww_rec")
        .groupBy("k")
        .agg(F.max(F.struct("o", "v")).alias("w"))
        .select("k", "w.o", "w.v")
        .collect()
    }
    # a: ord tie 7 — the non-NULL value wins in state AND in recovery;
    # b: higher ord wins; c: higher ord wins even with a NULL value
    assert got == {"a": (7, "tie_a"), "b": (9, "new_b"), "c": (2, None)}


def test_stream_latest_state_tie_resolution_batching_independent(spark, tmp_path):
    """ADVICE r6: duplicate ord keys must resolve to the same survivor
    whether they arrive in one micro-batch or split across two — the
    (ord, value) lexicographic tiebreak, NULL lowest."""
    import pandas as pd

    from omop_etl_spark.streaming import stream_latest_state

    def run(qname, frames):
        d = tmp_path / qname
        d.mkdir()
        for i, f in enumerate(frames):
            pd.DataFrame(f).to_parquet(d / f"f{i}.parquet")
        stream = (
            spark.readStream.schema("k string, o long, v string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        q = (
            stream_latest_state(stream, "k", "o", "v")
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        final = {}
        for r in spark.table(qname).collect():
            final[r["k"]] = (r["o"], r["v"])
        return final

    rows = {"k": ["a", "a", "a"], "o": [7, 7, 7], "v": ["zebra", None, "apple"]}
    split_frames = [
        {"k": ["a"], "o": [7], "v": ["apple"]},
        {"k": ["a", "a"], "o": [7, 7], "v": [None, "zebra"]},
    ]
    one_batch = run("lww_tie_one", [rows])
    split = run("lww_tie_split", split_frames)
    assert one_batch == split == {"a": (7, "zebra")}


def test_stream_cm_sketch_prefix_equals_batch(spark, tmp_path):
    """The count-min sketch is a pure sum over (row, bucket) cells, so
    the BATCH operator is already a valid streaming aggregation: run
    cm_sketch_counts directly on a stream in update mode and after
    every micro-batch the folded state (last emission per cell) must
    equal the batch sketch over the prefix. No custom state code — the
    mergeable-cells property IS the streaming design."""
    import os

    import pandas as pd

    from omop_etl_spark.operators.sketches import cm_sketch_counts

    d = tmp_path / "cm_in"
    d.mkdir()
    batches = [
        pd.DataFrame({"term": ["spark"] * 5 + ["flink", "duck"]}),
        pd.DataFrame({"term": ["spark"] * 3 + ["duck"] * 4}),
        pd.DataFrame({"term": ["trino", "spark", "duck"]}),
    ]
    paths = []
    for i, pdf in enumerate(batches):
        p = d / f"b{i}.parquet"
        pdf.to_parquet(p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
        paths.append(str(p))

    stream = (
        spark.readStream.schema("term string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(d))
    )
    emitted = []

    def capture(bdf, bid):
        for r in bdf.collect():
            emitted.append((bid, r["row"], r["bucket"], r["cnt"]))

    q = (
        cm_sketch_counts(stream, "term", depth=4, width=64)
        .writeStream.outputMode("update")
        .foreachBatch(capture)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    assert max(b for b, *_ in emitted) + 1 == 3

    for upto in range(3):
        folded = {}
        for bid, row, bucket, cnt in emitted:
            if bid <= upto:
                folded[(row, bucket)] = cnt
        prefix = spark.read.parquet(*paths[: upto + 1])
        want = {
            (r["row"], r["bucket"]): r["cnt"]
            for r in cm_sketch_counts(prefix, "term", depth=4, width=64).collect()
        }
        assert folded == want, f"prefix {upto}: stream != batch sketch"


def test_no_ttl_streaming_reducers_are_pure_jvm_plans(spark, tmp_path):
    """r17 plan guard: the no-TTL reducers must compile to built-in
    streaming operators (Aggregate / Deduplicate) with NO Python node
    anywhere in the plan — the whole point of the JVM fast paths is
    that a 5M-live-key stream never crosses the Python boundary, and
    a silent regression back to FlatMapGroupsInPandasWithState would
    reintroduce the ~90 µs/key/batch dispatch without failing any
    value test."""
    import pandas as pd

    from omop_etl_spark.streaming import (
        stream_cdc_state,
        stream_dedup,
        stream_latest_state,
        stream_logq_buckets,
    )

    d = tmp_path / "plan_in"
    d.mkdir()
    pd.DataFrame(
        {"k": ["a"], "o": [1], "v": ["x"], "op": ["I"]}
    ).to_parquet(d / "f.parquet")
    stream = spark.readStream.schema(
        "k string, o long, v string, op string"
    ).parquet(str(d))
    plans = {
        "latest_state": stream_latest_state(stream, "k", "o", "v"),
        "cdc_state": stream_cdc_state(stream, "k", "o", "v", op_col="op"),
        "dedup": stream_dedup(stream.select("k"), ["k"], ttl_minutes=None),
        "logq_buckets": stream_logq_buckets(stream, "k", "o", m=5),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "FlatMapGroupsInPandasWithState" not in plan, name
        assert "pythonudf" not in plan.lower(), name
        want = "Deduplicate" if name == "dedup" else "Aggregate"
        assert want in plan, (name, plan[:500])


def test_stream_logq_buckets_jvm_registers_match_batch(spark, tmp_path):
    """r17 JVM register path: the streaming groupBy(key, bucket)
    counts in update mode are cumulative and nondecreasing, so the
    max(c)-per-register recovery equals the batch sketch over the
    union — and quantiles read off the recovered registers with the
    batch logq_quantiles match the batch path exactly. No Python
    worker anywhere in the streaming plan (it is a plain streaming
    aggregation)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from omop_etl_spark.operators.sketches import logq_buckets, logq_quantiles
    from omop_etl_spark.streaming import stream_logq_buckets

    d = tmp_path / "logq_jvm_in"
    d.mkdir()
    pd.DataFrame({"k": ["a"] * 51, "v": list(range(-25, 26))}).to_parquet(
        d / "f1.parquet"
    )
    pd.DataFrame({"k": ["a"] * 50 + ["b"] * 3, "v": list(range(100, 150)) + [7, 7, 9]}).to_parquet(
        d / "f2.parquet"
    )
    stream = (
        spark.readStream.schema("k string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        stream_logq_buckets(stream, "k", "v", m=5)
        .writeStream.format("memory")
        .queryName("logq_jvm")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    sink = spark.table("logq_jvm")
    recovered = sink.groupBy("k", "bucket").agg(F.max("c").alias("c"))
    both = spark.createDataFrame(
        [("a", v) for v in list(range(-25, 26)) + list(range(100, 150))]
        + [("b", 7), ("b", 7), ("b", 9)],
        "k string, v long",
    )
    want_reg = {
        (r["k"], r["bucket"]): r["c"]
        for r in logq_buckets(both, ["k"], "v", m=5).collect()
    }
    got_reg = {(r["k"], r["bucket"]): r["c"] for r in recovered.collect()}
    assert got_reg == want_reg and len(got_reg) > 0
    got_q = {
        r["k"]: (r["n"], r["q1_2"])
        for r in logq_quantiles(recovered, ["k"], [(1, 2)], m=5).collect()
    }
    want_q = {
        r["k"]: (r["n"], r["q1_2"])
        for r in logq_quantiles(
            logq_buckets(both, ["k"], "v", m=5), ["k"], [(1, 2)], m=5
        ).collect()
    }
    assert got_q == want_q


def test_stream_interval_union_jvm_engine_matches_batch(spark, tmp_path):
    """The dynamic-gap session_window (one row per island, complete
    mode) is prefix-exact: after each micro-batch the per-key rollup
    equals batch interval_union of the rows seen so far — including
    TOUCHING intervals (end == next start must fuse: session
    merge-at-touch equals the island rule) and out-of-order arrival
    across batches."""
    import pandas as pd

    from omop_etl_spark.operators.temporal import interval_union
    from omop_etl_spark.streaming import stream_interval_union

    rng = random.Random(29)
    rows = []
    for k in ("a", "b"):
        for _ in range(120):
            s = rng.randrange(0, 5_000)
            rows.append((k, s, s + rng.randrange(1, 400)))
    # deliberate exact-touch chain and an isolated island per key
    rows += [("a", 9_000, 9_010), ("a", 9_010, 9_020), ("a", 20_000, 20_001),
             ("b", 9_005, 9_010), ("b", 9_010, 9_011)]
    rng.shuffle(rows)
    files = [rows[:120], rows[120:]]
    d = tmp_path / "iv_jvm"
    d.mkdir()
    for i, part in enumerate(files):
        p = d / f"f{i}.parquet"
        pd.DataFrame(part, columns=["k", "s", "e"]).to_parquet(p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = (
        spark.readStream.schema("k string, s long, e long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    ln = F.col("island_end") - F.col("island_start")
    rollups = {}

    def capture(bdf, bid):
        rollups[bid] = {
            r.k: (r.n_islands, r.covered, r.max_island)
            for r in bdf.groupBy("k")
            .agg(
                F.count(F.lit(1)).alias("n_islands"),
                F.sum(ln).alias("covered"),
                F.max(ln).alias("max_island"),
            )
            .collect()
        }

    q = (
        stream_interval_union(stream, "k", "s", "e")
        .writeStream.foreachBatch(capture)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(rollups) == [0, 1]
    for bid in rollups:
        prefix = [r for part in files[: bid + 1] for r in part]
        batch_df = spark.createDataFrame(prefix, "k string, s long, e long")
        want = {
            r.k: (r.n_islands, r.covered, r.max_island)
            for r in interval_union(batch_df, "k", "s", "e").collect()
        }
        assert rollups[bid] == want, f"prefix {bid}: stream != batch"


def test_stream_interval_union_rejects_degenerate_interval(spark, tmp_path):
    """An interval with end <= start is not a valid half-open interval
    (and would be a non-positive session gap, which Spark silently
    drops): the query must fail, naming the operator and columns."""
    import pandas as pd
    import pytest

    from omop_etl_spark.streaming import stream_interval_union

    d = tmp_path / "iv_bad"
    d.mkdir()
    pd.DataFrame(
        {"k": ["a", "b"], "s": [1, 5], "e": [3, 5]}
    ).to_parquet(d / "f.parquet")
    stream = spark.readStream.schema("k string, s long, e long").parquet(str(d))
    q = (
        stream_interval_union(stream, "k", "s", "e")
        .writeStream.format("memory")
        .queryName("iv_bad_t")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match=r"stream_interval_union: requires e > s"):
        q.awaitTermination(120)
