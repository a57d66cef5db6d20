"""``session.get_spark`` sizing, in a fresh process: an in-process call
would reuse and reconfigure the shared test session. Batch shuffles get
``cpus`` partitions; streaming state gets ``STATE_PARTITIONS``; parquet
nanosecond timestamps read as longs (set at construction, not by
``tables.load_table``)."""

from __future__ import annotations

import os
import subprocess
import sys

from sparksent.session import STATE_PARTITIONS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_get_spark_cpus_sizes_master_and_shuffle_partitions():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env.update(PYTHONPATH=ROOT, SPARK_GRAFT_DRIVER_MEM="1g")
    code = (
        "from sparksent.session import get_spark\n"
        "s = get_spark('cpus-probe', cpus=2)\n"
        "print(s.sparkContext.master, s.conf.get('spark.sql.shuffle.partitions'),\n"
        "      s.conf.get('spark.sql.streaming.internal.stateStore.partitions'),\n"
        "      s.conf.get('spark.sql.legacy.parquet.nanosAsLong'))\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=ROOT,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-4:] == [
        "local[2]", "2", str(STATE_PARTITIONS), "true"
    ]
