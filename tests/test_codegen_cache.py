"""Generated-code cache sizing (session.CODEGEN_CACHE_MAX_ENTRIES).

Spark compiles every whole-stage and expression codegen class with
Janino and keeps it in one JVM-wide LRU cache keyed by source text,
sized by the static conf spark.sql.codegen.cache.maxEntries. When the
cache is smaller than the classes a workload keeps reusing, every pass
over the same statements recompiles what the previous pass evicted.
CodegenMetrics' compilation-time histogram is updated on cache misses
only, so its count is the number of compiles.
"""

from __future__ import annotations

from datafusion_wasm_bindings_spark.queries import load_all

# Registry queries that generate more classes than Spark's default
# cache (100 entries) holds: 134 distinct classes in a fresh session at
# sf0.001 (15 to 32 per query, 5 for q_text_quality), and none of them
# embeds data-dependent constants, so a repeat pass needs no compile.
_QUERIES = (
    "q_flagship_pricing_summary",
    "q_flagship_shipping_priority",
    "q_flagship_local_supplier",
    "q_sim_topk",
    "q_dedup_minhash",
    "q_text_quality",
    "q_pipeline_training_mix",
    "q_events_tumbling",
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_pass_compiles_nothing(spark, sf_dir):
    registry = load_all()

    def run_pass() -> int:
        before = _compiles(spark)
        for name in _QUERIES:
            registry[name].spark_fn(spark, sf_dir).collect()
        return _compiles(spark) - before

    run_pass()
    assert run_pass() == 0


def test_live_cache_size_is_the_session_constant(spark):
    # a session reused from before get_spark ran keeps its own static
    # confs, so the cache could silently be Spark's default
    from datafusion_wasm_bindings_spark.session import CODEGEN_CACHE_MAX_ENTRIES

    live = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert live == str(CODEGEN_CACHE_MAX_ENTRIES)
