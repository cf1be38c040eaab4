"""The work one benchmark pass does, pinned as counts.

Wall time on this engine spreads by tens of percent between runs, while
the number of Spark jobs and catalog statements a pass issues is exact.
This module runs, in one session at sf0.001, one ``Engine.run`` of the
``perfbench/rulegen.py`` seed-1 ``etl_omop`` rule set and the ten
``gates_mix`` gates of ``perfbench/run.py``, and asserts each count is
at most its budget:

* Spark jobs, read as ``dagScheduler().nextJobId()`` before and after;
* ``CREATE``/``DROP``/``USE``/``DESCRIBE`` statements the engine sends
  through ``spark.sql`` during ``Engine.run``;
* generated classes compiled during a second ``Engine.run`` of the same
  rule set, read from Spark's ``CodegenMetrics``. A repeated run whose
  classes fit the codegen cache compiles few; with Spark's default
  100-entry cache it recompiled about 230.

A change that cuts work lowers the budget it cut. Raising a budget is a
change to this check and needs a reason.
"""

from __future__ import annotations

import re

SF_DIR = "/root/testdata/sf0.001"

_DDL = re.compile(r"\s*(CREATE|DROP|USE|DESCRIBE)\b", re.I)

#: measured on this test's session (local[4], 4 shuffle partitions);
#: every count here was the same over three builds in one session
BUDGET: dict[str, int] = {
    "etl_omop.jobs": 97,
    "etl_omop.ddl": 16,
    "etl_omop.compiles": 64,
    "agg_pricing_summary": 2,
    "sql_distinct_on": 4,
    "docs_chunk": 2,
    "dedup_exact": 3,
    "text_langid": 3,
    "events_sessionize": 2,
    "events_rolling_3d": 2,
    "events_stationary": 4,
    "multimodal_features": 4,
    "events_dedup_stream": 5,
}


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _measure(spark, monkeypatch) -> dict[str, int]:
    """One ETL run and one build + noop write of each gate."""
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry
    from omop_etl_spark.rules.loader import load_rules_text
    from perfbench.rulegen import GENERATORS
    from perfbench.run import GATES

    # a stream another test left running would start jobs of its own
    for q in spark.streams.active:
        q.stop()
    for (db,) in spark.sql("SHOW DATABASES").collect():
        if db != "default":
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql("USE default")
    engine = entry._engine(spark, SF_DIR)
    files, required = GENERATORS["etl_omop"](1)
    engine.required_columns.update(required)
    specs = [load_rules_text(text, name=f.rsplit(".", 1)[0]) for f, text in files.items()]

    ddl = []
    sql = SparkSession.sql

    def counting_sql(self, query, *args, **kwargs):
        if _DDL.match(query):
            ddl.append(query)
        return sql(self, query, *args, **kwargs)

    out: dict[str, int] = {}
    with monkeypatch.context() as m:
        m.setattr(SparkSession, "sql", counting_sql)
        before = _jobs(spark)
        engine.run(specs, apply_required_filter=True)
        out["etl_omop.jobs"] = _jobs(spark) - before
    out["etl_omop.ddl"] = len(ddl)
    before = _compiles(spark)
    engine.run(specs, apply_required_filter=True)
    out["etl_omop.compiles"] = _compiles(spark) - before

    entry._engine(spark, SF_DIR)
    queries = entry.queries()
    for gate in GATES:
        before = _jobs(spark)
        queries[gate](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        out[gate] = _jobs(spark) - before
        spark.catalog.clearCache()
    return out


def test_pass_work_is_within_budget(spark, monkeypatch):
    from perfbench.run import GATES

    got = _measure(spark, monkeypatch)
    assert set(BUDGET) == {"etl_omop.jobs", "etl_omop.ddl", "etl_omop.compiles", *GATES}
    over = {k: (got[k], b) for k, b in BUDGET.items() if got[k] > b}
    assert not over, f"work over budget, (measured, budget): {over}"
