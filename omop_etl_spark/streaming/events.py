"""Structured Streaming operators for event streams.

The reference has no streaming surface (SURVEY §2.1 — verified); this
module is the green-field Spark-native extension for the ``events``
table shape (``event_id, ts, user_id, event_type, value, props``):

* :func:`read_table_stream` — file-source stream over any parquet
  table, with the nanosecond-timestamp shim shared with the batch
  reader.
* :func:`sessionize` — session windows per user (gap-based), the
  canonical stateful-streaming pattern.

All transformations are sink-agnostic: callers pick ``writeStream``
(production) or ``availableNow`` + memory sink (tests/backfills).
Watermarks bound state so a 100 TB/day stream holds only the open
windows per key.
"""

from __future__ import annotations

from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sources.reader import enable_nanos_compat

__all__ = [
    "read_table_stream",
    "sessionize",
    "sessionize_batch",
    "stream_dedup",
    "stream_kmv_distinct",
    "stream_interval_union",
    "stream_logq_buckets",
    "stream_latest_state",
    "stream_cdc_state",
    "stream_burst_dedup",
]


def read_table_stream(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """File-source stream over ANY parquet table directory (or a single
    parquet file — streamed via a glob filter on its parent, since the
    file source requires a directory).

    The file source needs a user-supplied schema. A caller whose table
    is in the catalog passes the schema stored there
    (``spark.table(name).schema`` starts no job); without one it is
    taken from a batch read of the same path, whose schema inference
    runs one Spark job over the parquet footers. Table-specific column
    normalization stays with the callers — the gates layer
    ``sources.normalize_timestamps`` on top of this.
    """
    enable_nanos_compat(spark)
    if schema is None:
        schema = spark.read.parquet(path).schema  # one schema-inference job
    reader = spark.readStream.schema(schema).format("parquet")
    p = Path(path)
    if p.is_file():
        reader = reader.option("pathGlobFilter", p.name)
        path = str(p.parent)
    return reader.load(path)


def sessionize(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user: events closer than ``gap`` merge into
    one session (built-in ``session_window`` — no custom state store
    needed)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("value_cents"),
        )
        .select(
            "user_id",
            F.col("sess.start").cast("string").alias("session_start"),
            F.col("sess.end").cast("string").alias("session_end"),
            "n_events",
            "value_cents",
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str],
    ttl_minutes: int | None = 60,
) -> DataFrame:
    """Streaming first-seen-wins deduplication with TTL-bounded state —
    the custom-stateful-operator pattern (``applyInPandasWithState``)
    the built-in ``dropDuplicates`` can't express: per-key state that
    expires after ``ttl_minutes`` of processing-time inactivity, so a
    key seen again after the TTL is emitted again (the at-most-once-
    per-TTL-window contract CDC/event pipelines want, with state bounded
    by the active-key set instead of growing forever).

    ``ttl_minutes=None`` disables expiry — and takes the pure-JVM fast
    path: first-seen-wins without a TTL is exactly streaming
    ``dropDuplicates``, a built-in stateful operator whose per-key
    state lives in the state store (RocksDB-backed on a real cluster)
    with NO Python worker in the loop. That removes the per-key Python
    group-dispatch constant (~90 µs/key/batch — the 100-TB tax of
    ``applyInPandasWithState`` on high-cardinality keys). It is also
    the replay mode: with a processing-time timeout configured, a
    ``Trigger.AvailableNow`` query keeps scheduling no-data batches
    after the data is exhausted so the pending timeouts can fire —
    i.e. it does not terminate until every key's TTL has elapsed.

    With a TTL the operator genuinely needs custom state
    (``applyInPandasWithState``): expiry after processing-time
    inactivity is not expressible as a built-in aggregation, so the
    pandas path is kept for exactly that contract.

    Emits each group's first-ever row. Output schema = input schema
    (the JVM path emits the first physical row per key, same as the
    pandas path — project the stream to the key columns first if the
    emitted row must be a pure function of the data).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    if ttl_minutes is None:
        return events.dropDuplicates(keys)

    schema = events.schema

    def dedup_fn(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()
            return
        seen = state.exists
        n = 0
        for pdf in pdf_iter:
            if not seen and len(pdf) > 0:
                seen = True
                yield pdf.iloc[[0]]
            n += len(pdf)
        prev = state.get[0] if state.exists else 0
        state.update((prev + n,))
        state.setTimeoutDuration(ttl_minutes * 60 * 1000)

    return events.groupBy(*keys).applyInPandasWithState(
        dedup_fn,
        outputStructType=schema,
        stateStructType="n_seen long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def sessionize_batch(
    events: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """Batch twin of :func:`sessionize` with a fully SQL-expressible
    contract: a session is a maximal per-user run of events whose
    inter-event gap is ≤ ``gap_minutes`` (computed with lag + a running
    sum of gap breaks — the classic islands pattern), so the result is
    verifiable row-for-row against any ANSI-SQL oracle. Emits epoch
    micros for the bounds (string-formatting timestamps differs across
    engines; integers compare exactly).

    One hash shuffle on ``user_id`` serves both windows and the final
    aggregation (same partitioning).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_minutes * 60 * 1_000_000
    brk = (
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > gap_us),
            1,
        )
        .otherwise(0)
        .alias("__brk")
    )
    marked = events.select("user_id", "ts", "event_id", "value", brk)
    sess = marked.withColumn(
        "__sess",
        F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", "__sess")
        .agg(
            F.min(F.unix_micros("ts")).alias("session_start_us"),
            F.max(F.unix_micros("ts")).alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("value_cents"),
        )
        .drop("__sess")
        .select(
            "user_id", "session_start_us", "session_end_us", "n_events", "value_cents"
        )
    )


def stream_kmv_distinct(
    events: DataFrame,
    key_col: str,
    value_col: str,
    k: int = 64,
    salt: str = "kmv",
) -> DataFrame:
    """Streaming twin of ``operators.sketches.kmv_distinct``: a running
    distinct-count estimate per key over an unbounded stream, with state
    bounded to the k smallest md5 hashes per key (a few KB) no matter
    how many distinct values flow past — the property that makes
    cardinality monitoring viable on an infinite stream where
    ``dropDuplicates`` state would grow without bound.

    Uses the same public hash as the batch operator
    (``md5(salt|value)`` first 8 hex chars over 2^32), so after any
    prefix of the stream the per-key estimate EQUALS the batch
    ``kmv_distinct`` of the same prefix — an exactly testable
    streaming/batch equivalence, not just a statistical one.

    Emits one ``(key, n_kept, est_distinct)`` row per key per
    micro-batch in which that key received data (append mode).

    Cost shape (r17): per-value hashing runs **JVM-side** — the stream
    is projected to ``unit_hash(value)`` (the same md5-prefix/2^32
    expression the batch operator compiles, whole-stage codegen)
    BEFORE the stateful operator, and the state function reduces each
    Arrow batch with one ``np.unique`` merge against the k-array — no
    per-row Python anywhere. What remains Python is one group dispatch
    per key per batch, which is why this operator's contract is
    MODEST KEY CARDINALITY (per metric/tenant/event-type monitoring —
    the k-smallest-set state is not expressible as a built-in
    aggregation, unlike :func:`stream_latest_state`). For
    high-cardinality keys use :func:`stream_logq_buckets`-style
    register streams or batch :func:`...operators.sketches.
    kmv_distinct` snapshots instead.

    NULL values hash to NULL and are ignored (the batch operator's
    DISTINCT frame carries them, but a monitoring stream's value key
    is assumed non-null; quantify nulls upstream if they matter).
    """
    import numpy as np

    from ..operators.sampling import unit_hash

    clamp = 2.0**-32  # same zero-hash clamp as batch kmv_distinct

    def kmv_fn(key, pdf_iter, state):
        import pandas as pd

        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            return
        cur = (
            np.asarray(state.get[0], dtype=np.float64)
            if state.exists
            else np.empty(0, dtype=np.float64)
        )
        for pdf in pdf_iter:
            h = pdf["__h"].to_numpy(dtype=np.float64, na_value=np.nan)
            # one sorted-distinct merge per Arrow batch (NaN = hashed
            # NULL sorts last and is trimmed with the > k tail)
            cur = np.unique(np.concatenate([cur, h]))
            if cur.size and np.isnan(cur[-1]):
                cur = cur[: cur.size - np.isnan(cur).sum()]
            cur = cur[:k]
        state.update((cur.tolist(),))
        n = int(cur.size)
        est = n if n < k else int((k - 1) / max(float(cur[-1]), clamp))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_kept": [n], "est_distinct": [est]}
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    key_type = dict(zip(events.schema.names, events.schema))[key_col].dataType.simpleString()
    hashed = events.select(
        F.col(key_col), unit_hash(value_col, salt).alias("__h")
    )
    return hashed.groupBy(key_col).applyInPandasWithState(
        kmv_fn,
        outputStructType=f"{key_col} {key_type}, n_kept long, est_distinct long",
        stateStructType="hashes array<double>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_interval_union(
    stream: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Streaming twin of ``operators.temporal.interval_union``: merged
    interval coverage (busy-time / uptime) per key over an unbounded,
    possibly OUT-OF-ORDER stream of half-open intervals ``[start,
    end)``. ``start_col`` / ``end_col`` are int64 epoch MICROSECONDS
    with ``end > start``; a row breaking that fails the query (a
    session gap must be positive, and Spark would otherwise drop the
    row silently).

    An interval ``[s, e)`` is an event at ``s`` with a DYNAMIC session
    gap of ``e - s``. ``session_window`` merges overlapping-or-TOUCHING
    sessions (its break is strictly greater than the gap), which is
    exactly the island fusion rule, so the operator is one built-in
    streaming session-window aggregation with no Python worker.
    Session merging is a pure function of the interval SET, so after
    any prefix of the stream the islands equal batch
    ``interval_union``'s, whatever the arrival order.

    Output is one row per ISLAND — ``(key, island_start,
    island_end)``, epoch-µs longs. The per-key rollup (count / covered
    / max) is a second aggregation a single streaming query cannot
    chain; run it on the sink or downstream. Run **complete** mode on
    a bounded replay (the last islands of a finite stream never pass a
    watermark, so append mode would hold them back forever); on a
    continuous feed, watermark the stream and run append mode so
    state evicts as islands close — without a watermark, state holds
    every island seen.
    """
    ok = F.col(end_col) > F.col(start_col)
    gap = F.when(
        ok,
        F.concat(
            (F.col(end_col) - F.col(start_col)).cast("string"),
            F.lit(" microseconds"),
        ),
    ).otherwise(
        F.raise_error(
            F.lit(
                f"stream_interval_union: requires {end_col} > {start_col} "
                f"for every row (half-open [{start_col}, {end_col}))"
            )
        )
    )
    ts = F.timestamp_micros(F.col(start_col))
    return (
        stream.groupBy(F.col(key_col), F.session_window(ts, gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.unix_micros(F.col("session_window.start")).alias("island_start"),
            F.unix_micros(F.col("session_window.end")).alias("island_end"),
        )
    )


def stream_logq_buckets(
    events: DataFrame,
    key_col: str,
    value_col: str,
    m: int = 5,
) -> DataFrame:
    """Pure-JVM streaming register stream for the log-linear quantile
    sketch: per ``(key, bucket)``, the RUNNING count of values landing
    in that bucket — literally ``sketches.logq_buckets`` applied to
    the streaming frame, because the registers are a streaming
    ``groupBy(key, bucket).count()`` and the bucket id is a pure
    integer column expression (bit-length octave + 2^m linear
    sub-buckets, whole-stage codegen).

    This is the 100-TB path for streaming quantiles: no Python worker
    anywhere — rows never leave the JVM, state is one long per live
    ``(key, bucket)`` register in the state store (O(octaves * 2^m)
    per key), and partial aggregation combines map-side before the
    shuffle. Run the sink in **update** mode (aggregation without
    watermark); each micro-batch emits the updated registers'
    cumulative counts, which are NONDECREASING — so the final sketch
    is recoverable from any emission log as ``max(c)`` per
    ``(key, bucket)``, and quantiles read off it with the batch
    ``sketches.logq_quantiles`` — after any prefix of the stream they
    equal batch ``logq_quantiles(logq_buckets(prefix))`` exactly.

    Output: ``(key_col, bucket, c)`` — the ``logq_buckets`` register
    schema. Rows with ``value < 1`` are ignored (positivity filter).
    """
    from ..operators.sketches import logq_buckets

    return logq_buckets(events, [key_col], value_col, m=m)


def stream_latest_state(
    stream: DataFrame,
    key_col: str,
    ord_col: str,
    value_col: str,
) -> DataFrame:
    """Streaming last-writer-wins state (the CDC/SCD1 'current value'
    table as a stream): per key, keep the value with the highest
    ``ord_col`` seen so far and emit one row per key per micro-batch in
    which that key received data.

    Arrival order is NOT trusted — late or out-of-order rows never
    regress the state (the batch engine's LWW column-rule semantics,
    SURVEY §2.1 #8, continuously maintained).  Ties on ``ord_col`` are
    broken deterministically by the greater value string (NULL loses
    to any value), applied identically within a micro-batch and across
    batches — so the surviving value for duplicate ord keys is a pure
    function of the data, independent of how rows were batched.

    The reduction is a monotone argmax over the total order ``(ord,
    value)`` — with NULL sorting first, Spark's struct ordering IS that
    order — so the operator is the built-in streaming aggregation
    ``groupBy(key).agg(max(struct(ord, value)))``: state is one (ord,
    value) pair per key in the state store, no Python worker. Run the
    sink in **update** mode (an aggregate without a watermark cannot
    append). No watermark is needed: state is bounded by the live-key
    set, which an LWW table must keep anyway.
    """
    w = F.max(
        F.struct(
            F.col(ord_col).cast("long").alias(ord_col),
            F.col(value_col).cast("string").alias(value_col),
        )
    ).alias("__w")
    return (
        stream.groupBy(key_col)
        .agg(w)
        .select(
            key_col,
            F.col(f"__w.{ord_col}").alias(ord_col),
            F.col(f"__w.{value_col}").alias(value_col),
        )
    )


def stream_cdc_state(
    stream: DataFrame,
    key_col: str,
    ord_col: str,
    value_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Streaming CDC materialization WITH deletes — the streaming twin
    of ``temporal.apply_cdc`` (VERDICT r7 #6: ``stream_latest_state``
    could keep the latest value but never drop a key).

    Per key, the change with the highest ``ord_col`` wins, whatever
    order batches arrive in; each micro-batch emits the winning
    ``(ord, op, value)`` for every key that received data. A stream
    cannot retract, so a delete is emitted as a row with ``op =
    delete_op`` and NULL value — the consumer materializes the current
    table as "last emission per key where op != delete_op" (exactly
    what the replay test folds, and what a keyed sink's tombstone
    write does).

    Like ``apply_cdc``, results are a pure function of the change set
    only when ``ord_col`` totally orders each key's changes (a log
    sequence number); on an ord tie the greater ``(op, value)`` string
    pair wins (NULL loses), applied identically within and across
    batches so batching still cannot change the outcome.

    The reducer is a monotone argmax over the total order ``(ord, op,
    value)`` — struct comparison sorts NULL first — so the operator is
    the built-in streaming aggregation ``groupBy(key).agg(max(struct(
    ord, op, value)))`` with the tombstone NULL applied in the output
    projection; no Python worker. Run the sink in **update** mode. No
    watermark is needed: state is one (ord, op, value) triple per key,
    and a deleted key keeps its tombstone so late pre-delete changes
    cannot resurrect it (bound the live-key set upstream with
    retention if keys churn forever).
    """
    w = F.max(
        F.struct(
            F.col(ord_col).cast("long").alias(ord_col),
            F.col(op_col).cast("string").alias(op_col),
            F.col(value_col).cast("string").alias(value_col),
        )
    ).alias("__w")
    return (
        stream.groupBy(key_col)
        .agg(w)
        .select(
            key_col,
            F.col(f"__w.{ord_col}").alias(ord_col),
            F.col(f"__w.{op_col}").alias(op_col),
            # a winning delete emits op = delete_op with NULL value
            # (the tombstone)
            F.when(
                F.col(f"__w.{op_col}") == delete_op,
                F.lit(None).cast("string"),
            )
            .otherwise(F.col(f"__w.{value_col}"))
            .alias(value_col),
        )
    )


def stream_burst_dedup(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    id_col: str,
    gap_seconds: int = 300,
) -> DataFrame:
    """Streaming twin of ``operators.temporal.burst_dedup``: emit only
    the first event of every burst (chain of same-key events with
    consecutive gaps < ``gap_seconds``), continuously.

    A burst IS a ``session_window(ts, gap_seconds)`` group — Spark's
    gap-based session sessionizes exactly the maximal chains whose
    consecutive gaps are < gap — and the burst survivor is the
    session's ``min(struct(ts, id))``. The operator is one built-in
    streaming session-window aggregation: sessions merge in the state
    store, no Python worker. Because session merging is a pure
    function of the event SET, the result is exactly batch
    ``burst_dedup`` for ANY arrival order.

    Run it in **complete** mode for a bounded replay (an unwatermarked
    aggregate cannot append; the final sessions of a finite stream
    never pass a watermark, so append mode would hold them back
    forever) or in append mode behind ``withWatermark`` on a
    continuous feed — state then evicts as sessions close; without a
    watermark it holds every session seen.
    """
    keys = list(keys)
    w = F.min(F.struct(F.col(ts_col), F.col(id_col))).alias("__w")
    # gap - 1 µs: session_window MERGES an event at exactly
    # prev_ts + gap (its break is strictly greater — probed by the
    # sessionize gate, r12), while the burst chain BREAKS at
    # >= gap. Timestamps are µs-resolution, so shrinking the
    # session gap by one microsecond makes the two definitions
    # coincide exactly: merge iff delta <= gap-1µs iff delta < gap.
    gap_us = int(gap_seconds) * 1_000_000 - 1
    return (
        stream.groupBy(
            *[F.col(k) for k in keys],
            F.session_window(F.col(ts_col), f"{gap_us} microseconds"),
        )
        .agg(w)
        .select(
            *keys,
            F.col(f"__w.{ts_col}").alias(ts_col),
            F.col(f"__w.{id_col}").alias(id_col),
        )
    )
