"""Declarative data-quality profiling over DataFrames.

The reference ships table-level validation rules (not-null,
referential, domain checks) that it compiles to SQL and runs against
Postgres after each ETL step (/root/reference/omop_etl/__main__.py:34-92
compiling the shipped validation/*.yaml rules, and the
realistic_rules fixtures replayed in tests/test_golden_workbook.py).
This module is the Spark-native generalization: a rule list compiles
to ONE conditional-aggregate pass per table plus one anti-join per
foreign-key rule, and the report is a tiny union frame — no per-rule
table scans.

Scale notes
-----------
* All row-local rules on the same table fold into a single
  ``agg(sum(case when ...))`` — one scan, map-side partial sums, a
  1-row exchange.  Adding a rule adds a column, not a pass.
* ``fk`` rules count child keys with no parent via a LEFT ANTI join
  whose strategy is left to AQE (a dimension-sized parent broadcasts;
  a fact-sized parent shuffles on the key, which is the join's
  natural key anyway).
* The report frame is ``O(rules)`` rows — driver-safe to collect,
  cheap to union.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..conf import checkpoint as _checkpoint

__all__ = ["DQRule", "dq_profile"]


@dataclass(frozen=True)
class DQRule:
    """One verifiable expectation about a table.

    ``kind`` is one of:

    * ``not_null``  — ``col`` must be non-null
    * ``in_set``    — ``col`` must be one of ``values``
    * ``range``     — ``lo <= col <= hi`` (either bound optional)
    * ``unique``    — ``col`` must have no duplicate values
    * ``fk``        — every non-null ``col`` must exist in
      ``ref_table.ref_col``

    NULL semantics (deliberate, and different from SQL ``CHECK``): for
    ``in_set`` and ``range``, a NULL value counts as a VIOLATION — in
    a data-quality profile, "we don't know the value" is a finding,
    not a pass.  Consequently a NULL in a column carrying both a
    ``not_null`` rule and a domain/range rule is counted by each rule
    independently (one violation per rule).  Only ``fk`` follows the
    SQL convention of skipping NULL keys (a nullable FK is a modeling
    choice; pair it with ``not_null`` to forbid it).  Rule authors who
    want SQL ``CHECK`` semantics should pre-filter NULLs or rely on
    ``not_null`` alone.
    """

    name: str
    table: str
    kind: str
    col: str
    values: tuple = field(default_factory=tuple)
    lo: float | None = None
    hi: float | None = None
    ref_table: str = ""
    ref_col: str = ""


def _violation_pred(rule: DQRule) -> Column:
    c = F.col(rule.col)
    if rule.kind == "not_null":
        return c.isNull()
    if rule.kind == "in_set":
        return ~c.isin(list(rule.values)) | c.isNull()
    if rule.kind == "range":
        pred = F.lit(False)
        if rule.lo is not None:
            pred = pred | (c < F.lit(rule.lo))
        if rule.hi is not None:
            pred = pred | (c > F.lit(rule.hi))
        return pred | c.isNull()
    raise ValueError(f"unknown row-local rule kind: {rule.kind}")


def dq_profile(tables: Mapping[str, DataFrame], rules: Sequence[DQRule]) -> DataFrame:
    """Run ``rules`` and return one report row per rule.

    Output schema: ``rule_name, table_name, n_rows, n_violations,
    passed`` (``passed`` as an int 0/1 so the frame hashes stably
    across engines).
    """
    if not rules:
        raise ValueError("dq_profile requires at least one rule")
    spark: SparkSession = next(iter(tables.values())).sparkSession
    frames: list[DataFrame] = []

    by_table: dict[str, list[DQRule]] = {}
    for r in rules:
        if r.table not in tables:
            raise KeyError(f"rule {r.name!r} references unknown table {r.table!r}")
        if r.kind in ("not_null", "in_set", "range"):
            by_table.setdefault(r.table, []).append(r)

    # One conditional-aggregate scan per table for all row-local rules.
    # The 1-row result is eagerly checkpointed (free) because fk rules
    # on the same table reuse its __n_rows below — without the cut
    # every consumer would re-run the full-table aggregate scan.
    row_frames: dict[str, DataFrame] = {}
    for table, trules in by_table.items():
        df = tables[table]
        aggs = [F.count(F.lit(1)).alias("__n_rows")]
        for r in trules:
            aggs.append(
                F.sum(_violation_pred(r).cast("bigint")).alias(f"__v_{r.name}")
            )
        row = df.agg(*aggs).transform(_checkpoint, eager=False)
        row_frames[table] = row
        stack_parts = ", ".join(
            f"'{r.name}', '{table}', __v_{r.name}" for r in trules
        )
        frames.append(
            row.selectExpr(
                f"stack({len(trules)}, {stack_parts})"
                " as (rule_name, table_name, n_violations)",
                "__n_rows as n_rows",
            ).select("rule_name", "table_name", "n_rows", "n_violations")
        )

    # unique: distinct-vs-total on one groupBy (map-side combine).
    for r in rules:
        if r.kind == "unique":
            df = tables[r.table]
            dup = (
                df.groupBy(r.col)
                .agg(F.count(F.lit(1)).alias("cnt"))
                .agg(
                    F.coalesce(F.sum(F.col("cnt")), F.lit(0)).alias("n_rows"),
                    F.coalesce(
                        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(F.lit(0))),
                        F.lit(0),
                    ).alias("n_violations"),
                )
                .select(
                    F.lit(r.name).alias("rule_name"),
                    F.lit(r.table).alias("table_name"),
                    F.col("n_rows").cast("bigint"),
                    F.col("n_violations").cast("bigint"),
                )
            )
            frames.append(dup)
        elif r.kind == "fk":
            child = tables[r.table]
            parent = tables[r.ref_table].select(
                F.col(r.ref_col).alias("__ref")
            ).distinct()
            # n_rows is count(*) of the child — if a row-local pass
            # already counted this table, reuse its checkpointed 1-row
            # frame instead of a fresh full-table count scan (r17: one
            # fewer full pass per fk rule whose table has local rules).
            if r.table in row_frames:
                n_rows = row_frames[r.table].select(
                    F.col("__n_rows").alias("n")
                )
            else:
                n_rows = child.agg(F.count(F.lit(1)).alias("n")).select("n")
            orphans = (
                child.filter(F.col(r.col).isNotNull())
                .join(parent, child[r.col] == parent["__ref"], "left_anti")
                .agg(F.count(F.lit(1)).alias("v"))
            )
            frames.append(
                n_rows.crossJoin(F.broadcast(orphans)).select(
                    F.lit(r.name).alias("rule_name"),
                    F.lit(r.table).alias("table_name"),
                    F.col("n").cast("bigint").alias("n_rows"),
                    F.col("v").cast("bigint").alias("n_violations"),
                )
            )
        elif r.kind not in ("not_null", "in_set", "range"):
            raise ValueError(f"unknown rule kind: {r.kind}")

    report = frames[0]
    for f in frames[1:]:
        report = report.unionByName(f)
    return report.select(
        "rule_name",
        "table_name",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_violations").cast("bigint").alias("n_violations"),
        (F.col("n_violations") == 0).cast("int").alias("passed"),
    )
