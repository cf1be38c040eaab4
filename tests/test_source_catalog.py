"""The gate registry's source catalog.

Every registry gate reads its sources by name as ``cerner.<t>``, which
``__spark_entry__._engine`` registers from ``<sf_dir>/<t>.parquet``.
The catalog must follow the ``sf_dir`` a gate is given (another
directory, a dropped database, a second module instance), a missing
table must fail loudly, and reads must start no schema-inference job
once the catalog is registered.
"""

import importlib.util
import shutil
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as e

    return e


def _rows(entry, spark, gate, sf_dir):
    return entry.queries()[gate](spark, sf_dir).count()


def test_catalog_follows_the_sf_dir_of_each_call(spark, entry):
    got = [_rows(entry, spark, "sql_distinct_on", d) for d in (SF001, SF01, SF001)]
    assert got == [150, 1500, 150]


def test_gate_runs_after_drop_database(spark, entry):
    assert _rows(entry, spark, "sql_distinct_on", SF001) == 150
    spark.sql("DROP DATABASE cerner CASCADE")
    assert _rows(entry, spark, "sql_distinct_on", SF001) == 150


def test_second_module_instance_does_not_redirect_the_first(spark, entry):
    spec = importlib.util.spec_from_file_location(
        "entry_twin", ROOT / "__spark_entry__.py"
    )
    twin = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(twin)
    assert _rows(entry, spark, "sql_distinct_on", SF001) == 150
    assert _rows(twin, spark, "sql_distinct_on", SF01) == 1500
    assert _rows(entry, spark, "sql_distinct_on", SF001) == 150


def test_missing_source_names_table_and_directory(spark, entry, tmp_path):
    for t in entry.TPCH_TABLES:
        if t != "lineitem":
            shutil.copy(f"{SF001}/{t}.parquet", tmp_path)
    with pytest.raises(Exception) as err:
        entry.queries()["agg_pricing_summary"](spark, str(tmp_path))
    assert "cerner.lineitem" in str(err.value)
    assert str(tmp_path) in str(err.value)
    # registering the directory drops the table it lacks
    entry._engine(spark, str(tmp_path))
    assert not spark.catalog.tableExists("cerner.lineitem")
    assert spark.catalog.tableExists("cerner.orders")


def test_gate_construction_starts_no_job(spark, entry):
    entry._engine(spark, SF001)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    started = {}
    for gate in ("agg_pricing_summary", "text_langid"):
        before = sched.nextJobId()
        entry.queries()[gate](spark, SF001)
        started[gate] = sched.nextJobId() - before
    assert started == {"agg_pricing_summary": 0, "text_langid": 0}


@pytest.mark.parametrize("t", ["events", "documents"])
def test_stream_schema_from_catalog_equals_inferred_schema(spark, entry, t):
    from omop_etl_spark.sources import EVENTS_NS_COLUMNS, normalize_timestamps
    from omop_etl_spark.streaming.events import read_table_stream

    inferred = read_table_stream(spark, f"{SF001}/{t}.parquet")
    want = normalize_timestamps(inferred, EVENTS_NS_COLUMNS.get(t)).schema
    assert entry._stream_source(spark, SF001, t).schema == want


def test_stream_gate_starts_no_schema_inference_job(spark, entry):
    """Building events_dedup_stream runs its replay in one job; the
    batch schema read it used to start first is gone (2 jobs before)."""
    entry._engine(spark, SF001)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    entry.queries()["events_dedup_stream"](spark, SF001)
    assert sched.nextJobId() - before == 1
