"""Session-level guarantees from ``micmac_li3ds_spark.session``.

* A query shape is compiled once per JVM: ``get_spark`` sizes Spark's
  generated-class cache so that more than 100 other generated classes
  (the Spark default cap) do not evict a shape before it runs again.
* Python workers import the package whatever the driver's working
  directory, on a session the caller built itself.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from micmac_li3ds_spark import registry
from tests.conftest import REPO_ROOT, SF_DIR


def _janino_compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_query_shape_compiles_once_per_jvm(spark):
    q = registry.registry()["q_pricing_summary"]
    expected = q.fn(spark, SF_DIR).collect()
    # Distinct literals give distinct generated code: 150 new classes,
    # more than Spark's default cache of 100 holds. execute() generates
    # and compiles the whole-stage class on the driver without a job.
    before = _janino_compiles(spark)
    for i in range(150):
        df = spark.range(1).selectExpr(f"id * {i} + 1")
        df._jdf.queryExecution().executedPlan().execute()
    assert _janino_compiles(spark) - before >= 150

    before = _janino_compiles(spark)
    assert q.fn(spark, SF_DIR).collect() == expected
    assert _janino_compiles(spark) - before == 0


def test_python_workers_import_package_from_any_cwd(tmp_path):
    script = textwrap.dedent(
        f"""
        import importlib.util
        spec = importlib.util.spec_from_file_location(
            "__spark_entry__", {os.path.join(REPO_ROOT, "__spark_entry__.py")!r})
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "4")
                 .config("spark.ui.enabled", "false").getOrCreate())
        try:
            rows = mod.queries()["q_llm_url_normalize"](spark, {SF_DIR!r}).collect()
            print("ROWS", len(rows))
        finally:
            spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "ROWS " in out.stdout
    assert int(out.stdout.split("ROWS ")[1].split()[0]) > 0
