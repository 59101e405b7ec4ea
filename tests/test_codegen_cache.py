"""The session factory sizes Spark's generated-class cache so that a session
cycling through many queries compiles each whole-stage-codegen class once.

At Spark's default of 100 entries a rotation whose classes together exceed
100 evicts nearly every class before its query runs again, so each rotation
recompiles them (116-118 of 127 at sf0.001) and HotSpot re-JITs the new
copies. The cache is JVM-wide and sized once, by the JVM's first session, so
this module is named to run first and its rotation starts on an empty cache.
"""

from __future__ import annotations

from modforms_db_spark.registry import get_registry
from modforms_db_spark.session import codegen_counters

from tests.conftest import SF_DIR

# Headline queries whose compile count repeats exactly run after run.
ROTATION = (
    "q_pipeline_e2e",
    "q_gapfill_rollup",
    "q_tpch_q5",
    "q_dedup_canonical",
    "q_join_sortmerge",
    "q_sim_cosine_topk",
)


def _compiles(spark) -> int:
    reg = get_registry()
    before = codegen_counters(spark)[0]
    for name in ROTATION:
        reg[name].builder(spark, SF_DIR).toPandas()
    return codegen_counters(spark)[0] - before


def test_rotation_compiles_each_class_once(spark):
    first = _compiles(spark)
    assert first > 100, (
        f"the rotation compiled {first} classes; it must exceed Spark's "
        "default cache of 100 for this test to mean anything"
    )
    assert _compiles(spark) == 0
