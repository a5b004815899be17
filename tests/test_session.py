"""The session keeps the engine's generated code: a query built again in
the same session reuses its compiled classes. Spark's codegen cache
defaults to 100 entries, fewer than one pass of the perfbench workloads
needs, so at the default every warm rebuild recompiled most of its
classes."""

from __future__ import annotations

from multithreaded_mapreduce_spark.plans.caching import release_result_memos, release_tracked
from multithreaded_mapreduce_spark.plans.registry import all_queries
from multithreaded_mapreduce_spark.session import CODEGEN_CACHE_ENTRIES, codegen_compiles

#: perfbench's catalog-cold queries and its components trio
WARM_SET = (
    "wordcount",
    "q1_pricing_summary",
    "topk_parts_per_brand",
    "events_tumbling_hourly",
    "user_sessions",
    "bucketed_join_order_revenue",
    "sql_q5_local_supplier_volume",
    "media_png_roundtrip",
    "dedup_components",
    "cluster_aware_split",
    "dedup_cluster_keep_best",
)


def test_codegen_cache_is_sized_by_the_module_constant(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_warm_rebuild_compiles_no_generated_class(spark, sf_dir):
    """Two rounds of cold builds and actions over the same queries: the
    second round finds every class it generates in the cache."""
    queries = all_queries()
    compiled = []
    for _round in range(2):
        before = codegen_compiles(spark)
        for name in WARM_SET:
            release_tracked()
            release_result_memos()
            spark.catalog.clearCache()
            queries[name].builder(spark, sf_dir).toArrow()
        compiled.append(codegen_compiles(spark) - before)
    release_tracked()
    release_result_memos()
    assert compiled[0] > 0
    assert compiled[1] == 0, f"compiles per round: {compiled}"
