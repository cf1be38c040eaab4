"""Plan audit for a registry query: the .explain() loop, scripted.

Prints the formatted physical plan plus the quick verdict the plan
tests assert mechanically: pushed filters, scan schemas (pruning),
whole-stage-codegen span count, exchange count, and any red-flag nodes
(CartesianProduct, BatchEvalPython, partition-less Window).

Usage:
    python scripts/explain_query.py <query> [sf_dir] [--force-distributed]

``--force-distributed`` pins the stats-gated prefix-sum/rank operators
to their at-scale path (as the plan scanner does), so you can
audit the plan a large SF would produce while pointing at small data.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession

import __spark_entry__ as entrymod
from omop_etl_spark.planner import surrogate


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--force-distributed"]
    force = "--force-distributed" in sys.argv
    if not args:
        print(__doc__)
        print("queries:", ", ".join(entrymod.queries()))
        return
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.01"

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("explain-query")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    if force:
        surrogate._SMALL_FRAME_BYTES = 0

    df = entrymod.queries()[name](spark, sf_dir)
    df.explain("formatted")
    plan = df._jdf.queryExecution().executedPlan().toString()

    print("\n=== audit ===")
    print("whole-stage-codegen spans:", len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))))
    print("exchanges:", plan.count("Exchange"))
    print("file scans:", plan.count("FileScan"))
    for m in re.findall(r"PushedFilters: \[[^\]]*\]", plan)[:8]:
        print(" ", m[:140])
    for m in re.findall(r"ReadSchema: [^\n]*", plan)[:8]:
        print(" ", m[:140])
    flags = []
    if "CartesianProduct" in plan:
        flags.append("CartesianProduct")
    if "BatchEvalPython" in plan:
        flags.append("BatchEvalPython (row-wise python)")
    for line in plan.splitlines():
        if re.search(r"\bWindow\b", line) and "partitionBy" not in line:
            # physical Window prints partition spec inline; empty spec
            # shows as 'Window [..], [ord..]' with only two groups.
            # Per-partition-count offset frames (the prefix scan's
            # aggregates over surrogate.PARTITION_ID_COL) are bounded
            # by config — not flagged, same rule as the plan scanner.
            groups = re.findall(r"\[[^\]]*\]", line)
            if len(groups) == 2 and surrogate.PARTITION_ID_COL not in line:
                flags.append("partition-less Window: " + line.strip()[:110])
    print("red flags:", flags or "none")
    spark.stop()


if __name__ == "__main__":
    main()
