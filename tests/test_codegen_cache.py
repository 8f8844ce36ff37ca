"""Spark compiles each whole-stage-codegen stage into a Java class and
keeps the classes in one JVM-wide cache.  A medallion cycle or a
query_mix pass runs more distinct stages than Spark's default of 100
entries, so at that default every pass evicts and recompiles the same
classes.  ``get_spark`` sizes the cache so that a warm plan compiles
nothing, however many other plans ran since."""

from __future__ import annotations


def test_a_warm_plan_compiles_nothing_after_150_other_plans(spark, classes_compiled):
    def query():
        return spark.range(100).selectExpr("id % 7 AS g").groupBy("g").count().collect()

    query()
    with classes_compiled() as others:
        # a long literal is inlined into the generated code: each k is a new class
        for k in range(150):
            spark.range(10).selectExpr(f"id * {k + 7_000_003} AS v").collect()
    assert others.n >= 150
    with classes_compiled() as rerun:
        assert sorted(query()) == [(g, 15 if g < 2 else 14) for g in range(7)]
    assert rerun.n == 0


def test_the_session_has_the_engine_cache_size(spark):
    from dataengineeringworkshop_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
