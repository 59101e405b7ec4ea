#!/usr/bin/env python
"""r11 fine-grained leg profile of the cold LSH core build (guide §1).

Each leg is rebuilt by hand from the documents reader, so no run reads
an index from the session cache.
"""

from __future__ import annotations

import gc
import os
import sys
import time

os.environ.setdefault("MFDB_SHUFFLE_PARTITIONS", "4")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from modforms_db_spark.session import get_spark  # noqa: E402
from modforms_db_spark.io import load, spread  # noqa: E402
from modforms_db_spark.llm.dedup import (  # noqa: E402
    _BANDS,
    _LSH_MAX_DF_FRAC,
    _N_PERM,
    _ROWS_PER_BAND,
    _perm_hash,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N = int(sys.argv[1]) if len(sys.argv) > 1 else 3


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    spark = get_spark("r11-core-legs")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def build(upto: str):
        d = spread(load(spark, SF_DIR, "documents"))
        tokset = d.select(
            "doc_id",
            "lang",
            F.array_sort(F.array_distinct(F.split("text", " "))).alias("toks"),
        )
        groups = tokset.groupBy(
            "lang", F.xxhash64(F.array_join("toks", " ")).alias("h")
        ).agg(
            F.min("doc_id").alias("rep"),
            F.sort_array(F.collect_list("doc_id")).alias("members"),
            F.first("toks").alias("toks"),
        )
        if upto == "groups":
            return groups
        groups = groups.localCheckpoint(eager=False)
        n_lang = groups.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sets"))
        stop = (
            groups.select("lang", F.explode("toks").alias("tok"))
            .groupBy("lang", "tok")
            .agg(F.count(F.lit(1)).alias("df"))
            .join(n_lang, "lang")
            .where(F.col("df") > _LSH_MAX_DF_FRAC * F.col("n_sets"))
            .groupBy("lang")
            .agg(F.collect_list("tok").alias("stop_toks"))
        )
        if upto == "stop":
            return stop
        capped = F.array_except("toks", F.coalesce("stop_toks", F.array()))
        reps = (
            spread(groups.select(F.col("rep").alias("doc_id"), "lang", "toks"))
            .join(F.broadcast(stop), "lang", "left")
            .select(
                "doc_id",
                "lang",
                F.when(F.size(capped) > 0, capped)
                .otherwise(F.col("toks"))
                .alias("sig_toks"),
            )
        )
        mins = reps.select(
            "doc_id",
            "lang",
            *[
                F.array_min(F.transform("sig_toks", _perm_hash(i))).alias(
                    f"h{i}"
                )
                for i in range(_N_PERM)
            ],
        )
        if upto == "mins":
            return mins
        bands = mins.select(
            "doc_id",
            "lang",
            F.posexplode(
                F.array(
                    *[
                        F.xxhash64(
                            *[
                                F.col(f"h{b * _ROWS_PER_BAND + r}")
                                for r in range(_ROWS_PER_BAND)
                            ]
                        )
                        for b in range(_BANDS)
                    ]
                )
            ).alias("band", "band_hash"),
        )
        if upto == "bands":
            return bands
        a = bands.alias("a")
        b = bands.alias("b")
        cand = spread(
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.lang") == F.col("b.lang"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("r1"), F.col("b.doc_id").alias("r2"))
            .distinct()
        )
        if upto == "cand":
            return cand
        g1 = groups.select(
            F.col("rep").alias("r1"),
            F.col("toks").alias("toks1"),
            F.col("members").alias("m1"),
            F.size("toks").alias("s1"),
        )
        g2 = groups.select(
            F.col("rep").alias("r2"),
            F.col("toks").alias("toks2"),
            F.col("members").alias("m2"),
            F.size("toks").alias("s2"),
        )
        rep_pairs = (
            cand.join(g1, "r1")
            .join(g2, "r2")
            .where(F.least("s1", "s2") >= 0.8 * F.greatest("s1", "s2"))
            .select(
                "r1",
                "r2",
                "m1",
                "m2",
                "s1",
                "s2",
                F.size(F.array_intersect("toks1", "toks2")).alias("i"),
            )
            .select(
                "r1",
                "r2",
                "m1",
                "m2",
                F.round(
                    F.col("i").cast("double")
                    / (F.col("s1") + F.col("s2") - F.col("i")),
                    4,
                ).alias("jac"),
            )
            .where(F.col("jac") >= 0.8)
        )
        return rep_pairs

    # Warmup.
    noop(build("rep_pairs"))

    for upto in ("groups", "stop", "mins", "bands", "cand", "rep_pairs"):
        best, bj = float("inf"), 0
        for i in range(N):
            gc.collect()
            grp = f"{upto}#{i}"
            sc.setJobGroup(grp, upto)
            t0 = time.perf_counter()
            noop(build(upto))
            dt = time.perf_counter() - t0
            nj = len(tracker.getJobIdsForGroup(grp) or [])
            if dt < best:
                best, bj = dt, nj
            sc.setJobGroup(None, None)
        print(f"upto {upto:10s} {best:7.3f}s  jobs={bj}", flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
