#!/usr/bin/env python
"""r11 leg profile of the fully-cold dedup index build (guide §1).

Clears the session cache (``io.clear()``) before every run and times
each leg of the cold
q_dedup_fuzzy_apply / q_dedup_semantic paths in isolation, with job
counts from the status tracker, so the round-11 work (VERDICT r10 item
3: fully-cold fuzzy ≤ 4 s) starts from numbers, not guesses.

Usage: python scripts/r11_profile_cold.py [n_reps]
"""

from __future__ import annotations

import os
import sys
import time

os.environ.setdefault("MFDB_SHUFFLE_PARTITIONS", "4")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from modforms_db_spark.session import get_spark  # noqa: E402
from modforms_db_spark.registry import get_registry  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N = int(sys.argv[1]) if len(sys.argv) > 1 else 3


def main() -> None:
    spark = get_spark("r11-profile-cold")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    from modforms_db_spark import io as mfio
    from modforms_db_spark.llm import dedup

    def leg(label, fn):
        best, bj = float("inf"), 0
        for i in range(N):
            mfio.clear()
            import gc

            gc.collect()
            grp = f"{label}#{i}"
            sc.setJobGroup(grp, label)
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            nj = len(tracker.getJobIdsForGroup(grp) or [])
            if dt < best:
                best, bj = dt, nj
            sc.setJobGroup(None, None)
        print(f"{label:50s} {best:7.3f}s  jobs={bj}", flush=True)
        return best

    reg = get_registry()

    # Warmup (JIT/codegen/footers) once, full query.
    reg["q_dedup_fuzzy_apply"].builder(spark, SF_DIR).toPandas()

    print(f"== cold leg profile at {SF_DIR}, min-of-{N} ==")

    # Leg 1: LSH core build (groups + rep_pairs materialized).
    def core_build():
        g, rp = dedup._lsh_groups_rep_pairs(spark, SF_DIR)
        rp.write.format("noop").mode("overwrite").save()

    leg("core: groups+rep_pairs (noop rep_pairs)", core_build)

    # Leg 1a: groups only.
    def groups_only():
        g, rp = dedup._lsh_groups_rep_pairs(spark, SF_DIR)
        g.write.format("noop").mode("overwrite").save()

    leg("core: groups only (noop groups)", groups_only)

    # Leg 2: CC labels given a prebuilt core (isolates connected_components).
    mfio.clear()
    core = dedup._lsh_groups_rep_pairs(spark, SF_DIR)
    core[1].write.format("noop").mode("overwrite").save()  # materialize

    def cc_only():
        labels, rounds = dedup.connected_components(
            core[1].select(
                core[1].r1.alias("d1"), core[1].r2.alias("d2")
            ),
            assume_distinct=True,
        )
        labels.write.format("noop").mode("overwrite").save()

    leg("cc: labels over prebuilt rep_pairs", cc_only)

    # Leg 3: full cold q_dedup_fuzzy_apply.
    def fuzzy_full():
        reg["q_dedup_fuzzy_apply"].builder(spark, SF_DIR).toPandas()

    leg("full: q_dedup_fuzzy_apply cold", fuzzy_full)

    # Leg 4: full cold q_dedup_minhash_lsh.
    def minhash_full():
        reg["q_dedup_minhash_lsh"].builder(spark, SF_DIR).toPandas()

    leg("full: q_dedup_minhash_lsh cold", minhash_full)

    # Leg 5: full cold q_dedup_semantic + kmeans.
    reg["q_dedup_semantic"].builder(spark, SF_DIR).toPandas()  # warm JIT

    def sem_full():
        reg["q_dedup_semantic"].builder(spark, SF_DIR).toPandas()

    leg("full: q_dedup_semantic cold", sem_full)

    def kmeans_full():
        reg["q_cluster_kmeans"].builder(spark, SF_DIR).toPandas()

    leg("full: q_cluster_kmeans cold", kmeans_full)

    spark.stop()


if __name__ == "__main__":
    main()
