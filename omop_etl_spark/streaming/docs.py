"""Streaming document ingestion: near-dup flagging of an incoming
document stream against a static curated corpus.

This is the Structured-Streaming twin of
:func:`omop_etl_spark.operators.dedup.minhash_lsh_join` — the
steady-state "does this new page duplicate anything we already hold?"
check, expressed as a STREAM-STATIC join so the corpus is never
re-paired against itself and the stream side stays stateless until the
final output dedup:

* the static corpus reduces once to banded MinHash signatures with the
  same existing-side bucket cap as the batch operator (over-full
  boilerplate buckets keep only their minimum id), persisted so
  micro-batches don't rebuild it;
* each streamed document computes its signature ROW-LOCALLY (the
  Column-form ``minhash_signature`` — no shuffle, no state), explodes
  into band keys, and equi-joins the static band frame;
* candidates verify by exact shingle Jaccard against the corpus
  shingle frame, then dedup on ``(doc_id, ex_id)``.

The md5 base hash keeps the stream and batch paths bit-identical, so a
batch replay of the same files via ``minhash_lsh_join(base_hash="md5")``
is the correctness oracle (asserted in tests).

State note: the final ``dropDuplicates`` keeps one key per emitted pair
— unbounded over an infinite stream. Production streams with an
event-time column should pass ``ts_col``/``watermark`` so the dedup
state expires (``dropDuplicatesWithinWatermark``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import (
    _banded_signatures,
    minhash_signature,
    token_shingles,
)
from .events import read_table_stream

__all__ = ["read_docs_stream", "flag_stream_neardups"]


def read_docs_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over a documents parquet directory or single
    file: :func:`~omop_etl_spark.streaming.events.read_table_stream`,
    which takes the schema from a batch read of the same path."""
    return read_table_stream(spark, path)


def flag_stream_neardups(
    stream_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket: int = 256,
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Flag streamed documents that near-duplicate the static corpus.

    Returns a streaming frame ``(id_col, ex_id, jaccard)`` — one row
    per (streamed doc, corpus doc) verified pair at Jaccard ≥
    ``threshold``. Semantics match
    ``minhash_lsh_join(..., base_hash="md5")`` batch-for-batch.
    """
    rows = num_hashes // bands
    # ---- static side, computed once per query start and persisted
    br = _banded_signatures(corpus, id_col, text_col, n, num_hashes, bands, "md5")
    wb = Window.partitionBy("__band")
    stats = br.withColumn("__cnt", F.count(F.lit(1)).over(wb)).withColumn(
        "__mn", F.min("__id").over(wb)
    )
    keep = (
        stats.filter((F.col("__cnt") <= max_bucket) | (F.col("__id") == F.col("__mn")))
        .select(F.col("__id").alias("ex_id"), "__band")
        .persist()
    )
    ex_sh = corpus.select(
        F.col(id_col).alias("ex_id"), token_shingles(text_col, n).alias("__shb")
    ).persist()

    # ---- stream side: row-local signature (stateless, no shuffle)
    sig = minhash_signature(token_shingles(F.col(text_col), n), num_hashes)
    carry = [F.col(id_col), F.col(text_col)] + (
        [F.col(ts_col)] if ts_col else []
    )
    banded_stream = stream_docs.select(
        *carry,
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        F.lit(b),
                        *[sig[b * rows + r] for r in range(rows)],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__band"),
    )
    cand = banded_stream.join(keep, "__band")
    verified = (
        cand.withColumn("__sha", token_shingles(text_col, n))
        .join(ex_sh, "ex_id")
        .withColumn("__inter", F.size(F.array_intersect("__sha", "__shb")))
        .withColumn(
            "jaccard",
            F.col("__inter")
            / (F.size("__sha") + F.size("__shb") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col(id_col),
            F.col("ex_id"),
            F.round("jaccard", 6).alias("jaccard"),
            *([F.col(ts_col)] if ts_col else []),
        )
    )
    if ts_col:
        return verified.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            [id_col, "ex_id"]
        ).drop(ts_col)
    return verified.dropDuplicates([id_col, "ex_id"])
