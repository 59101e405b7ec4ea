#!/usr/bin/env python
"""r11 scale-evidence run (VERDICT r10 item 4): time the data-bound
operators at sf1 (scripts/r11_make_sf1.py) at the invoking core count.

Run twice — `SPARK_GRAFT_CPUS=32 MFDB_SHUFFLE_PARTITIONS=96` and
`SPARK_GRAFT_CPUS=8 MFDB_SHUFFLE_PARTITIONS=24` (shuffle width follows
the production ~3×-cores guidance, SCALE.md §3; a fixed tiny width
would cap both runs at the same parallelism and measure nothing) —
and compare per-query seconds. Policy: warmup pass, then min-of-3
toPandas (the bench's own policy); a cold rebuild clears the session
cache before each run (the bench's __cold policy).

One query per process (cross-query checkpoint-cleanup churn inside a
shared session contaminated the first attempt — the same fuzzy rebuild
read 42 s at the tail of a shared session and 18.6 s isolated):

    python scripts/r11_scaling.py NAME [sf_dir]

NAME = a registered query, or NAME__cold for the cache consumers
(session cache cleared per run, bench __cold policy).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    name = sys.argv[1]
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata_r11/sf1"
    cold = name.endswith("__cold")
    qname = name.removesuffix("__cold")
    from modforms_db_spark.session import get_spark
    from modforms_db_spark.registry import get_registry
    from modforms_db_spark import io as mfio

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(f"r11-scaling-c{cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    reg = get_registry()

    def drain() -> None:
        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        time.sleep(1.5)

    reg[qname].builder(spark, sf).toPandas()  # warmup (JIT/codegen)
    best = float("inf")
    for _ in range(3):
        if cold:
            mfio.clear()
            drain()
        t0 = time.perf_counter()
        reg[qname].builder(spark, sf).toPandas()
        best = min(best, time.perf_counter() - t0)
        gc.collect()
    print(
        json.dumps(
            {
                "name": name,
                "cpus": int(cpus),
                "shuffle_partitions": os.environ.get(
                    "MFDB_SHUFFLE_PARTITIONS", "32"
                ),
                "sf_dir": sf,
                "sec": round(best, 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
