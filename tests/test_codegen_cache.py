"""The session's compiled-code cache holds the threat suite's working set.

Spark compiles every whole-stage-codegen stage to a class through Janino
and keeps the classes in an LRU (`spark.sql.codegen.cache.maxEntries`).
One pass of the threat suite generates more distinct classes than
Spark's default 100 entries, so with the default a second pass
recompiles nearly all of them. `get_spark` sizes the cache to 1000.
"""

from __future__ import annotations

from bench import compiles
from threat_detection_nosql_spark.ml.features import assemble_features
from threat_detection_nosql_spark.queries import all_queries
from threat_detection_nosql_spark.queries import ml_queries

from tests.conftest import SF_SMALL

# perfbench's threat_suite workload, copied so this test does not
# depend on the benchmark's files
THREAT_SUITE = (
    "after_hours_top10", "weekend_top10", "high_activity_top10",
    "unusual_resources_top10", "activity_profiles",
    "degree_centrality_top10", "activity_entropy", "temporal_entropy",
    "resource_entropy", "two_hop_resource_paths", "user_features",
    "mahalanobis_anomalies",
)

# a warm pass recompiles only the few classes whose cache key is not
# byte-stable between runs; the 100-entry default recompiles ~130
MAX_WARM_COMPILES = 20


def _suite_pass(spark) -> None:
    queries = all_queries()
    ml_queries._memo.clear()
    for name in THREAT_SUITE:
        queries[name](spark, SF_SMALL).collect()


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_warm_suite_pass_reuses_compiled_classes(spark):
    _suite_pass(spark)
    before = compiles(spark)
    _suite_pass(spark)
    compiled = compiles(spark) - before
    assert compiled <= MAX_WARM_COMPILES, (
        f"a warm threat-suite pass compiled {compiled} classes")


def test_feature_assembly_compiles_once(spark):
    # VectorAssembler's own cast of a long input names the cast after
    # the assembler's random uid; that name would end up in the
    # generated code and make every build compile anew
    frame = spark.range(4).selectExpr("id AS n", "id * 0.5 AS x")

    def assembled() -> None:
        assemble_features(frame, cols=["n", "x"]).collect()

    assembled()
    before = compiles(spark)
    assembled()
    assert compiles(spark) - before == 0
