"""``session.get_spark`` sizing, in a fresh process: an in-process call
would reuse and reconfigure the shared test session. Batch shuffles get
``cpus`` partitions; streaming state gets ``STATE_PARTITIONS``; parquet
nanosecond timestamps read as longs (set at construction, not by
``tables.load_table``); the generated-code cache holds
``CODEGEN_CACHE_ENTRIES`` classes. The rerun check needs no fresh
process: the shared test session is built by ``get_spark`` too."""

from __future__ import annotations

import os
import subprocess
import sys

from sparksent.session import CODEGEN_CACHE_ENTRIES, STATE_PARTITIONS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_get_spark_cpus_sizes_master_and_shuffle_partitions():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env.update(PYTHONPATH=ROOT, SPARK_GRAFT_DRIVER_MEM="1g")
    code = (
        "from sparksent.session import get_spark\n"
        "s = get_spark('cpus-probe', cpus=2)\n"
        "print(s.sparkContext.master, s.conf.get('spark.sql.shuffle.partitions'),\n"
        "      s.conf.get('spark.sql.streaming.internal.stateStore.partitions'),\n"
        "      s.conf.get('spark.sql.legacy.parquet.nanosAsLong'),\n"
        "      s.conf.get('spark.sql.codegen.cache.maxEntries'))\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=ROOT,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-5:] == [
        "local[2]", "2", str(STATE_PARTITIONS), "true", str(CODEGEN_CACHE_ENTRIES)
    ]


def test_codegen_cache_keeps_a_rerun_compiled(spark):
    """A second run of the same query compiles (almost) nothing: one run
    of ``dedup_multimodal_keep_set`` generates about 130 classes, more
    than Spark's default cache of 100, which then evicted them before
    the rerun; ``CODEGEN_CACHE_ENTRIES`` keeps them."""
    from sparksent.registry import queries

    from conftest import SF_DIR

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    q = queries()["dedup_multimodal_keep_set"]

    def run() -> int:
        before = compiles.METRIC_COMPILATION_TIME().getCount()
        q(spark, SF_DIR).write.mode("overwrite").format("noop").save()
        return compiles.METRIC_COMPILATION_TIME().getCount() - before

    first = run()  # an earlier test may have compiled these already
    assert run() <= 15, first
