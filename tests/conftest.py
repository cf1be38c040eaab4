import contextlib
import shutil
import tempfile

import pytest
from pyspark.sql import SparkSession


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: bench-scale (sf0.1) tests, seconds-to-minutes each"
    )


@pytest.fixture(scope="session")
def spark():
    from omop_etl_spark.conf import recommended_conf

    # the generated-class cache size is a static conf the engine's
    # sessions set; tests/test_work_budget.py pins the compiles it saves
    codegen_cache = "spark.sql.codegen.cache.maxEntries"
    wh = tempfile.mkdtemp(prefix="spark-wh-")
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.warehouse.dir", wh)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config(codegen_cache, recommended_conf()[codegen_cache])
        .appName("omop-etl-spark-tests")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()
    shutil.rmtree(wh, ignore_errors=True)


@pytest.fixture()
def engine(spark):
    """Fresh Engine per test: drops every non-default database so
    catalog state never leaks between tests."""
    from omop_etl_spark import Engine

    for db in spark.sql("SHOW DATABASES").collect():
        name = db[0]
        if name != "default":
            spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")
    spark.sql("USE default")
    for (view,) in spark.sql("SHOW VIEWS IN default").select("viewName").collect():
        spark.catalog.dropTempView(view)
    return Engine(spark)


@pytest.fixture()
def scan_path(spark):
    """``scan_path(path, partitions)``: a context manager that forces the
    stats gate of ``planner/surrogate`` onto ``"window"`` (the
    single-partition window) or ``"range"`` (the distributed range
    scan) and sets ``spark.sql.shuffle.partitions``, restoring both on
    exit. Frames built from Python lists estimate as huge, so without
    it they always take the range path."""
    from omop_etl_spark.planner import surrogate

    @contextlib.contextmanager
    def force(path, partitions=4):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(surrogate, "_SMALL_FRAME_BYTES", {"window": 1 << 63, "range": 0}[path])
            spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
            try:
                yield
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", old)

    return force
