#!/usr/bin/env python
"""r11 A/B: connected_components with eager vs lazy per-round
localCheckpoints (guide §2.4/§3.3; VERDICT r10 item 3).

The eager form runs 2 checkpoint jobs + 1 isEmpty job per round (plus
AQE sub-jobs); the lazy form lets the round's forest-test isEmpty be
the action that materializes the round's halves (checkpoint still
truncates lineage at job end), so per-round job count collapses.
Verifies identical labels + round counts on the real rep graph and on
contract graphs before timing.
"""

from __future__ import annotations

import gc
import os
import sys
import time

os.environ.setdefault("MFDB_SHUFFLE_PARTITIONS", "4")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from modforms_db_spark import io as mfio  # noqa: E402
from modforms_db_spark.session import get_spark  # noqa: E402
from modforms_db_spark.llm import dedup  # noqa: E402
from modforms_db_spark.llm.dedup import _star_halve, connected_components  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N = int(sys.argv[1]) if len(sys.argv) > 1 else 5


def cc_lazy(edges: DataFrame, *, assume_distinct: bool = False):
    e = edges.select(
        F.greatest("d1", "d2").alias("a"), F.least("d1", "d2").alias("b")
    ).where(F.col("a") != F.col("b"))
    if not assume_distinct:
        e = e.distinct()
    e = e.localCheckpoint(eager=False)

    def _is_star_forest(df: DataFrame) -> bool:
        chain = (
            df.alias("x")
            .join(df.alias("y"), F.col("x.b") == F.col("y.a"), "left_semi")
            .select(F.lit(1).alias("viol"))
        )
        dup = (
            df.groupBy("a")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") > 1)
            .select(F.lit(1).alias("viol"))
        )
        return chain.union(dup).isEmpty()

    rounds = 0
    while True:
        if rounds > 64:
            raise RuntimeError("connected_components failed to converge")
        e = _star_halve(
            _star_halve(e, large=True).localCheckpoint(eager=False),
            large=False,
        ).localCheckpoint(eager=False)
        rounds += 1
        if _is_star_forest(e):
            break
    labels = e.select(
        F.col("a").alias("doc_id"), F.col("b").alias("component")
    ).union(
        e.select(F.col("b").alias("doc_id"), F.col("b").alias("component")).distinct()
    )
    return labels.distinct(), rounds


def main() -> None:
    spark = get_spark("r11-cc-ab")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    # Contract graphs first: identical labels and rounds.
    cases = [
        [(i, i + 1) for i in range(63)],
        [(0, 2), (1, 2)],
        [(1, 5), (5, 9), (2, 9), (30, 40), (41, 40), (7, 7)],
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "d1 long, d2 long")
        l0, r0 = connected_components(df)
        l1, r1 = cc_lazy(df)
        s0 = {tuple(r) for r in l0.collect()}
        s1 = {tuple(r) for r in l1.collect()}
        assert s0 == s1, (sorted(s0 - s1), sorted(s1 - s0))
        assert r0 == r1, (r0, r1)
        print(f"contract graph n={len(edges)}: labels equal, rounds {r0}")

    # Real rep graph, built cold.
    mfio.clear()
    core = dedup._lsh_groups_rep_pairs(spark, SF_DIR)
    rp = core[1].select(
        core[1].r1.alias("d1"), core[1].r2.alias("d2")
    )
    rp.write.format("noop").mode("overwrite").save()  # materialize core

    l0, r0 = connected_components(rp, assume_distinct=True)
    l1, r1 = cc_lazy(rp, assume_distinct=True)
    s0 = {tuple(r) for r in l0.collect()}
    s1 = {tuple(r) for r in l1.collect()}
    assert s0 == s1 and r0 == r1, (len(s0 ^ s1), r0, r1)
    print(f"rep graph: labels equal ({len(s0)} rows), rounds {r0}")

    # Interleaved timing (noop the labels).
    for label, fn in (("eager", connected_components), ("lazy", cc_lazy)):
        pass
    results = {"eager": [], "lazy": []}
    jobs = {"eager": 0, "lazy": 0}
    for i in range(N):
        for label, fn in (("eager", connected_components), ("lazy", cc_lazy)):
            gc.collect()
            grp = f"{label}#{i}"
            sc.setJobGroup(grp, label)
            t0 = time.perf_counter()
            labels, _ = fn(rp, assume_distinct=True)
            labels.write.format("noop").mode("overwrite").save()
            results[label].append(time.perf_counter() - t0)
            jobs[label] = len(tracker.getJobIdsForGroup(grp) or [])
            sc.setJobGroup(None, None)
    for label in ("eager", "lazy"):
        ts = sorted(results[label])
        print(
            f"{label}: min={ts[0]:.3f} med={ts[len(ts)//2]:.3f} "
            f"jobs={jobs[label]}  all={[round(t,3) for t in ts]}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
