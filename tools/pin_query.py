#!/usr/bin/env python
"""Pin-protocol runner: warmed best-of-2 isolated timings at sf0.1 for
the named registry queries (BASELINE_BENCH methodology — see its note).

Warm-up = one topic_count_10s noop + a 32-row mapInPandas (JVM + Python
worker paths).  Run in a FRESH session per invocation; the protocol
records the SLOWER of two sessions for a new pin (queries that JIT-warm
across their first ~10k rows read optimistically in a single session).

Usage: PYTHONPATH=. python tools/pin_query.py <name> [<name> ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    if not names:
        sys.exit("usage: pin_query.py <registry name> [...]")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    from sparksent.session import get_spark

    # the bench.py session (UTC, Arrow, checkpoint manager), at local[32]
    # with 32 shuffle partitions
    spark = get_spark("pin_query", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")
    from sparksent.registry import queries

    qs = queries()
    qs["topic_count_10s"](spark, SF).write.mode("overwrite").format("noop").save()
    spark.range(32).repartition(4).mapInPandas(lambda it: it, "id long").write.mode(
        "overwrite"
    ).format("noop").save()
    out = {}
    for n in names:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            qs[n](spark, SF).write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        out[n] = round(best, 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
