"""Source/sink coverage: register any Spark-readable format as a rule
source; export omop outputs partition-pruned.

The reference's only runtime source/sink is Postgres tables
(__main__.py:105-113); CSV/Excel appear in its test harness
(test_rules.py:74-79,123-126). Our engine generalizes both ends to the
formats a Spark deployment actually meets.
"""

import pytest

from omop_etl_spark import load_rules_text

RULES = """
name: thing
default_schema: src
primary_key:
  name: thing_id
  sources:
    t_pk:
      table: t
      columns:
        k: bigint
columns:
  - name: label
    tables: [t]
    expression: t.label
"""


def _seed(spark, tmp_path, fmt):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k bigint, label string"
    )
    path = str(tmp_path / f"t_{fmt}")
    df.write.format(fmt).save(path)
    return path


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json"])
def test_register_source_formats(engine, spark, tmp_path, fmt):
    path = _seed(spark, tmp_path, fmt)
    engine.register_source("src.t", path, fmt=fmt)
    out = engine.run([load_rules_text(RULES)])["thing"]
    rows = sorted((r.thing_id, r.label) for r in out.collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c")]


def test_engine_construction_creates_no_database(engine, spark):
    """A schema is created where a table is registered or written, not
    when an Engine is built: the ``engine`` fixture leaves only
    ``default``, and a new Engine adds nothing to it."""
    from omop_etl_spark import Engine

    Engine(spark)
    assert [r[0] for r in spark.sql("SHOW DATABASES").collect()] == ["default"]


def test_register_source_rejects_unknown(engine):
    with pytest.raises(ValueError, match="unsupported source format"):
        engine.register_source("src.t", "/nope", fmt="avroesque")


def test_register_parquet_relative_path(engine, spark, tmp_path):
    """A RELATIVE local path must register relative to the caller's
    working directory, not the warehouse database dir (Spark's default
    relative-LOCATION semantics — the r15 sf1-harness failure:
    UNABLE_TO_INFER_SCHEMA on a path that plainly existed). URIs with
    a scheme pass through untouched."""
    import os

    path = _seed(spark, tmp_path, "parquet")
    rel = os.path.relpath(path, os.getcwd())
    assert not rel.startswith("/")
    engine.register_parquet("src.t", rel)
    assert spark.table("src.t").count() == 3
    # scheme-qualified URIs are not rewritten
    from omop_etl_spark.engine import Engine

    assert Engine._resolve_location("s3a://bucket/t").startswith("s3a://")
    assert Engine._resolve_location("/abs/t.parquet") == "/abs/t.parquet"


def test_register_jdbc_requires_bounds(engine):
    with pytest.raises(ValueError, match="lower_bound"):
        engine.register_jdbc(
            "src.t", "jdbc:postgresql://h/db", "t", partition_column="k"
        )


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_export_roundtrip(engine, spark, tmp_path, fmt):
    path = _seed(spark, tmp_path, "parquet")
    engine.register_source("src.t", path, fmt="parquet")
    engine.run([load_rules_text(RULES)])
    out_path = str(tmp_path / f"out_{fmt}")
    engine.export("omop.thing", out_path, fmt=fmt)
    back = spark.read.format(fmt)
    if fmt == "csv":
        back = back.option("header", "true").option("inferSchema", "true")
    got = sorted(
        (int(r.thing_id), r.label) for r in back.load(out_path).collect()
    )
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_export_passes_unknown_format_through(engine, spark, tmp_path):
    # delta/iceberg etc. are passed to DataFrameWriter.format verbatim;
    # without the connector on the classpath Spark fails at save time.
    df = spark.createDataFrame([(1, "a")], "k bigint, label string")
    engine.register_df("omop.thing2", df)
    with pytest.raises(ValueError, match="non-empty"):
        engine.export("omop.thing2", str(tmp_path / "x"), fmt="")
    with pytest.raises(Exception, match="(?i)delta|failed to find|not found"):
        engine.export("omop.thing2", str(tmp_path / "x"), fmt="delta")


def test_bucketed_join_is_shuffle_free(engine, spark):
    a = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS vb")
    engine.register_bucketed("src.a", a, ["k"], num_buckets=4)
    engine.register_bucketed("src.b", b, ["k"], num_buckets=4)
    joined = (
        spark.table("src.a")
        .hint("merge")  # pin SMJ so broadcast doesn't mask the check
        .join(spark.table("src.b"), "k")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    # co-located buckets: the join must not exchange either side
    assert "Exchange hashpartitioning" not in plan
    assert joined.count() == 1000


def test_export_partition_by_prunes(engine, spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 2020), (2, "b", 2021), (3, "c", 2021)],
        "k bigint, label string, yr int",
    )
    engine.register_df("omop.facts", df)
    out_path = str(tmp_path / "facts")
    engine.export("omop.facts", out_path, partition_by=["yr"])
    back = spark.read.parquet(out_path).filter("yr = 2021")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == 2
    # hive-style layout: the filter must become a partition filter,
    # not a data filter over all files
    assert "PartitionFilters: [isnotnull(yr" in plan
