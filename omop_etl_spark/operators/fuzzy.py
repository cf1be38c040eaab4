"""Blocked fuzzy (edit-distance) matching for entity resolution.

The classic record-linkage shape: candidates come from an equi-join on
cheap blocking keys, the expensive string metric runs only inside
blocks. Levenshtein is JVM-built-in (no UDF), so the whole operator
stays inside whole-stage codegen.

Scale model: cost is quadratic WITHIN a block and linear across
blocks, so blocking keys must keep block sizes bounded — the operator
is for dimension-scale entity resolution (customer/part/provider
tables, millions of rows with selective blocks), not corpus-scale
near-dup detection (that regime is MinHash/SimHash in
``operators/dedup.py``). The length-band predicate (``levenshtein <=
d`` implies ``|len(a) - len(b)| <= d``) prunes inside the block join
itself, before any distance is computed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["fuzzy_self_match"]


def fuzzy_self_match(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_on: Sequence[str],
    max_distance: int = 2,
) -> DataFrame:
    """Distinct unordered pairs (``id_a < id_b``) of rows whose
    ``text_col`` values are within ``max_distance`` edits, blocked on
    ``block_on`` equality. Identical-text pairs are included (distance
    0) — chain onto :func:`~omop_etl_spark.operators.cluster.assign_clusters`
    to fold matches into entities."""
    a, b = df.alias("a"), df.alias("b")
    ta, tb = F.col(f"a.{text_col}"), F.col(f"b.{text_col}")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for c in block_on:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cond = (
        cond
        & (F.abs(F.length(ta) - F.length(tb)) <= max_distance)
        & (F.levenshtein(ta, tb) <= max_distance)
    )
    return a.join(b, cond, "inner").select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.levenshtein(ta, tb).alias("edit_distance"),
    )
