"""Multi-batch incremental-equals-batch replay (VERDICT r6 #6).

Surfaces:

* ``pipelines.curate_batch_incremental`` applied batch-at-a-time with
  the accepted output folded into the corpus: accepted docs join the
  dedup frontier (later near-dups of them are dropped), rejected docs
  do not; and when no dup pairs straddle batches, batch-at-a-time
  equals the one-shot run on the concatenation.
"""

import os


def _cbi(spark, batch_rows, corpus_df):
    from omop_etl_spark.pipelines import curate_batch_incremental

    batch = spark.createDataFrame(batch_rows, "doc_id int, text string")
    return curate_batch_incremental(
        batch, corpus_df, min_tokens=5, near_dedup_threshold=0.7
    )


def test_curate_batch_incremental_three_batch_frontier(spark):
    """Accepted docs from batch N join the dedup frontier for batch
    N+1; rejected docs never do."""
    corpus0 = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight"),
        ],
        "doc_id int, text string",
    )
    b1 = [
        (10, "completely fresh content nine ten eleven twelve thirteen"),
        (11, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup c1
        (12, "one two three four five six seven NINE"),  # near-dup c2 -> reject
    ]
    b2 = [
        (20, "completely fresh content nine ten eleven twelve NINE"),  # near-dup of ACCEPTED 10
        (21, "unrelated words red green blue yellow purple orange"),
    ]
    b3 = [
        # near-dup of REJECTED 12 but also of corpus 2 via the same
        # overlap? no: build it from 12's unique tail so it only
        # resembles 12 — must be ACCEPTED (rejected docs leave no state)
        (30, "NINE seven six five four OTHER WORDS HERE NOW"),
        (31, "unrelated words red green blue yellow purple TEAL"),  # near-dup of accepted 21
    ]
    state = corpus0
    outs = []
    for rows in (b1, b2, b3):
        out = _cbi(spark, rows, state)
        outs.append({r.doc_id for r in out.collect()})
        state = state.select("doc_id", "text").unionByName(
            out.select("doc_id", "text")
        )
    assert outs[0] == {10}
    assert outs[1] == {21}  # 20 dropped against accepted 10
    assert outs[2] == {30}  # 31 dropped against accepted 21; 30 kept


def test_curate_batch_incremental_prefix_equals_one_shot(spark):
    """With no dup pairs straddling batches, batch-at-a-time equals the
    one-shot run on the concatenation (the documented precondition:
    minhash_lsh_join pairs batch-vs-corpus only)."""
    corpus0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id int, text string",
    )
    b1 = [
        (10, "first topic words apple banana cherry date elderberry"),
        (11, "alpha beta gamma delta epsilon zeta eta theta"),  # dup corpus
    ]
    b2 = [(20, "second topic words red green blue yellow purple")]
    b3 = [(30, "third topic words violin cello flute oboe trumpet")]

    state = corpus0
    incr = set()
    for rows in (b1, b2, b3):
        out = _cbi(spark, rows, state)
        ids = {r.doc_id for r in out.collect()}
        incr |= ids
        state = state.select("doc_id", "text").unionByName(
            out.select("doc_id", "text")
        )
    one_shot = {
        r.doc_id for r in _cbi(spark, b1 + b2 + b3, corpus0).collect()
    }
    assert incr == one_shot == {10, 20, 30}


def test_stream_burst_dedup_jvm_engine_equals_batch(spark, tmp_path):
    """The session_window aggregation (complete mode) emits exactly
    the batch burst_dedup survivors — including the
    exact-gap boundary (ts - prev == gap starts a NEW burst: Spark's
    half-open session [start, start+gap) must NOT merge a touching
    event) and same-timestamp ties (min id survives), across a
    3-micro-batch replay whose sessions must merge in the state store.
    """
    import datetime as dt

    import pandas as pd

    from omop_etl_spark.operators.temporal import burst_dedup
    from omop_etl_spark.streaming.events import stream_burst_dedup

    t0 = dt.datetime(2024, 1, 1)
    s = lambda n: t0 + dt.timedelta(seconds=n)  # noqa: E731
    # key a: 0s, 2s | 4s, 900s | 902s   (bursts at 0 and 900)
    # key b: 0s | 1200s, 1201s          (bursts at 0 and 1200)
    # key c: 0s, 300s | 599s            (EXACT-gap: 300 starts a new
    #                                    burst; 599 chains onto it)
    # key d: 0s+0s tie (ids 31,30) | 100s (chained: tie-loser gap 0)
    batches = [
        {"k": ["a", "a", "b", "c", "d", "d"],
         "ts": [s(0), s(2), s(0), s(0), s(0), s(0)],
         "eid": [1, 2, 10, 20, 31, 30]},
        {"k": ["a", "a", "c"], "ts": [s(4), s(900), s(300)], "eid": [3, 4, 21]},
        {"k": ["a", "b", "b", "c", "d"],
         "ts": [s(902), s(1200), s(1201), s(599), s(100)],
         "eid": [5, 11, 12, 22, 32]},
    ]
    d = tmp_path / "burst_jvm_in"
    d.mkdir()
    for i, b in enumerate(batches):
        p = d / f"f{i}.parquet"
        pd.DataFrame(b).astype({"ts": "datetime64[us]"}).to_parquet(p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = (
        spark.readStream.schema("k string, ts timestamp, eid long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        stream_burst_dedup(stream, ["k"], "ts", "eid", gap_seconds=300)
        .writeStream.format("memory")
        .queryName("burst_jvm")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(r.eid for r in spark.table("burst_jvm").collect())

    all_rows = pd.concat([pd.DataFrame(b) for b in batches])
    df = spark.createDataFrame(all_rows)
    want = sorted(
        r.eid
        for r in burst_dedup(
            df, ["k"], "ts", "300 seconds", tiebreak=["eid"]
        ).collect()
    )
    assert got == want == [1, 4, 10, 11, 20, 21, 30]


def test_stream_cdc_with_deletes_three_batch_prefix_equals_apply_cdc(
    spark, tmp_path
):
    """VERDICT r7 #6: streaming CDC must handle DELETES. Feed a change
    log (unique per-key seq, interleaved I/U/D, out-of-order arrival)
    as 3 parquet micro-batches; after every prefix, the materialized
    state (last emission per key, tombstones dropped) must equal
    temporal.apply_cdc run on the same prefix in batch."""
    import os

    import pandas as pd

    from omop_etl_spark.operators.temporal import apply_cdc
    from omop_etl_spark.streaming import stream_cdc_state

    # per-key seq is unique (the CDC contract); arrival order is NOT
    # seq order: k1's delete (seq 30) arrives in batch 2, a stale
    # update (seq 20) in batch 3 — it must not resurrect the key.
    batches = [
        pd.DataFrame(
            {
                "k": ["k1", "k2", "k3"],
                "seq": [10, 11, 12],
                "op": ["I", "I", "I"],
                "v": ["a1", "b1", "c1"],
            }
        ),
        pd.DataFrame(
            {
                "k": ["k1", "k2", "k4"],
                "seq": [30, 21, 13],
                "op": ["D", "U", "I"],
                "v": [None, "b2", "d1"],
            }
        ),
        pd.DataFrame(
            {
                "k": ["k1", "k3", "k4"],
                "seq": [20, 32, 40],
                "op": ["U", "U", "D"],
                "v": ["a_stale", "c2", None],
            }
        ),
    ]
    d = tmp_path / "cdc_in"
    d.mkdir()
    paths = []
    for i, pdf in enumerate(batches):
        p = d / f"b{i}.parquet"
        pdf.to_parquet(p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
        paths.append(str(p))

    stream = (
        spark.readStream.schema("k string, seq long, op string, v string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(d))
    )
    emitted = []

    def capture(bdf, bid):
        for r in bdf.collect():
            emitted.append((bid, r["k"], r["seq"], r["op"], r["v"]))

    q = (
        stream_cdc_state(stream, "k", "seq", "v")
        .writeStream.foreachBatch(capture)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    assert max(b for b, *_ in emitted) + 1 == 3

    for upto in range(3):
        # stream-side materialization: last emission per key, drop
        # tombstones
        last = {}
        for bid, k, seq, op, v in emitted:
            if bid <= upto:
                last[k] = (seq, op, v)
        got = {k: (seq, v) for k, (seq, op, v) in last.items() if op != "D"}

        prefix = spark.read.parquet(*paths[: upto + 1])
        want = {
            r["k"]: (r["seq"], r["v"])
            for r in apply_cdc(prefix, ["k"], "seq").collect()
        }
        assert got == want, f"prefix {upto}: stream != apply_cdc"

    # end state sanity: k1 and k4 deleted, k2/k3 at their newest values
    final = {}
    for bid, k, seq, op, v in emitted:
        final[k] = (seq, op, v)
    assert final["k1"] == (30, "D", None)
    assert final["k4"] == (40, "D", None)
    assert final["k2"] == (21, "U", "b2")
    assert final["k3"] == (32, "U", "c2")
