"""Python workers import the package whatever the driver's cwd.

A session built through ``conf.apply_recommended`` in a process whose
working directory is not the repo, with no ``PYTHONPATH``, still runs a
pandas-UDF gate: the workers find ``omop_etl_spark`` through
``spark.executorEnv.PYTHONPATH``, which ``recommended_conf`` derives
from the package's own location.
"""

import os
import pathlib
import subprocess
import sys
import textwrap

ROOT = pathlib.Path(__file__).resolve().parents[1]
SF_DIR = "/root/testdata/sf0.001"


def test_pandas_udf_gate_runs_from_a_foreign_cwd(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        from pyspark.sql import SparkSession
        from omop_etl_spark.conf import apply_recommended
        import __spark_entry__ as e

        spark = (apply_recommended(SparkSession.builder.master("local[2]"), 2)
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.warehouse.dir", {str(tmp_path / "wh")!r})
                 .getOrCreate())
        n = e.queries()["multimodal_features"](spark, {SF_DIR!r}).count()
        print("ROWS", n)
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd="/tmp", env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rows = [l for l in proc.stdout.splitlines() if l.startswith("ROWS ")]
    assert rows and int(rows[0].split()[1]) > 0, proc.stdout[-2000:]
