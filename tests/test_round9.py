"""Round-9 behavior contracts.

Pins the session's two load-bearing claims beyond the generic suites:
(1) the k-means rewrite — assignment is a broadcast-only projection
(the vector side never shuffles) and the packed argmin is equivalent
to the k-row `kmeans_assign` API; (2) the session cache of the LSH
index can never change results (cold rebuild ≡ cached serve, both
consumers).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from tests.conftest import SF_DIR


def test_kmeans_assignment_never_shuffles_vector_side(spark):
    """The r9 kmeans_fit shape: assignment = 1-row packed-centroid
    broadcast crossJoin + array_min projection. Its physical plan must
    contain a BroadcastNestedLoopJoin and NO sort-merge join and NO
    shuffle of the vector side (the only Exchange feeding the join may
    be the broadcast one; the r1-r8 form shuffled k copies of every
    quantized vector per round through a groupBy(vec_id) argmin)."""
    from modforms_db_spark.llm.similarity import (
        _emb,
        _kmeans_assign_packed,
        _pack_centroids,
    )

    qv = _emb(spark, SF_DIR).select(
        "vec_id",
        F.transform(
            "emb", lambda x: F.round(x.cast("double") * 1000, 0).cast("bigint")
        ).alias("qe"),
    )
    packed = _pack_centroids(
        qv.limit(4).select(F.lit(1).alias("cluster"), F.col("qe").alias("c_qe"))
    )
    plan = (
        _kmeans_assign_packed(qv, packed)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # No hash-partitioned exchange anywhere in the assignment: the only
    # exchanges allowed are the broadcast of the packed row and the
    # single-partition one under its own limit/agg — never a
    # hashpartitioning of vec_id.
    assert "hashpartitioning(vec_id" not in plan, plan


def test_kmeans_packed_assign_matches_krow_api(spark):
    """`kmeans_assign` (k-row centroid frame, the public API the IVF
    family and tests use) and `_kmeans_assign_packed` (the fit loop's
    1-row form) are the same function by construction — pin it, so a
    future edit to one can't silently drift the other."""
    from modforms_db_spark.llm.similarity import (
        _emb,
        _kmeans_assign_packed,
        _pack_centroids,
        kmeans_assign,
    )
    from pyspark.sql import Window

    qv = _emb(spark, SF_DIR).select(
        "vec_id",
        F.transform(
            "emb", lambda x: F.round(x.cast("double") * 1000, 0).cast("bigint")
        ).alias("qe"),
    )
    cents = (
        qv.orderBy("vec_id")
        .limit(3)
        .select(
            F.row_number().over(Window.orderBy("vec_id")).alias("cluster"),
            F.col("qe").alias("c_qe"),
        )
    )
    a = sorted(
        map(tuple, kmeans_assign(qv, cents).select("vec_id", "cluster", "d2q6").collect())
    )
    b = sorted(
        map(
            tuple,
            _kmeans_assign_packed(qv, _pack_centroids(cents))
            .select("vec_id", "cluster", "d2q6")
            .collect(),
        )
    )
    assert a == b


def test_lsh_core_cache_cannot_change_results(spark):
    """A cold rebuild (cache cleared before the call) and the session
    cache produce identical results for BOTH consumers — the cache is a
    materialization of the same frames, never a semantic change. Also
    pins that a cache HIT serves the same rows as the MISS that
    populated it, and that the fuzzy query's labels built over a cached
    core equal its fully cold and fully cached results."""
    import modforms_db_spark.io as mio
    import modforms_db_spark.llm.dedup as dd

    def rows(q):
        return sorted(map(tuple, q(spark, SF_DIR).collect()))

    try:
        mio.clear()
        cold_m = rows(dd.q_dedup_minhash_lsh)
        mio.clear()
        cold_f = rows(dd.q_dedup_fuzzy_apply)
        mio.clear()
        miss_m = rows(dd.q_dedup_minhash_lsh)
        hit_m = rows(dd.q_dedup_minhash_lsh)
        core_hit_f = rows(dd.q_dedup_fuzzy_apply)  # labels MISS over a cached core
        hit_f = rows(dd.q_dedup_fuzzy_apply)
        assert cold_m == miss_m == hit_m
        assert cold_f == core_hit_f == hit_f
    finally:
        mio.clear()


def test_lsh_core_cache_keyed_by_dataset(spark):
    """Two different sf_dirs must never share a cache entry: the key is
    (applicationId, abspath(sf_dir)), so a consumer reading a second
    dataset in the same session gets that dataset's frames, not the
    first's."""
    import modforms_db_spark.io as mio
    import modforms_db_spark.llm.dedup as dd

    try:
        mio.clear()
        g1, _ = dd._lsh_groups_rep_pairs(spark, SF_DIR)
        # trailing slash must normalize onto the SAME entry, not a second one
        g1b, _ = dd._lsh_groups_rep_pairs(spark, SF_DIR + "/")
        assert g1 is g1b, "abspath must collapse trailing-slash duplicates"
        # sf0.1 as the second dataset: sf0.001 and sf0.01 ship the SAME
        # 500-doc documents table (identical group counts), so only the
        # 5000-doc tier can distinguish frames by content.
        other = os.path.join(os.path.dirname(os.path.abspath(SF_DIR)), "sf0.1")
        if os.path.isdir(other) and other != os.path.abspath(SF_DIR):
            g2, _ = dd._lsh_groups_rep_pairs(spark, other)
            assert g1 is not g2
            assert g1.count() != g2.count(), "distinct datasets, distinct groups"
    finally:
        mio.clear()
