"""``sources.io.stage``: the one way a stage boundary is materialized."""

from __future__ import annotations

from pyspark.sql import functions as F

from entity_deduplication_spark.sources.io import stage


def _sql_executions(spark) -> list:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [execs.apply(i) for i in range(execs.size())]


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_stage_is_one_adaptive_execution_with_lineage_cut(spark):
    """A local stage runs its plan once, under adaptive execution, and
    hands back a plan that no longer holds the upstream."""
    left = spark.range(0, 20_000).withColumn("k", F.col("id") % 97)
    right = (
        spark.range(0, 5_000)
        .withColumn("k", F.col("id") % 97)
        .withColumnRenamed("id", "j")
    )
    df = left.join(right, "k").groupBy("k").agg(F.count(F.lit(1)).alias("n"))

    last = max((e.executionId() for e in _sql_executions(spark)), default=-1)
    out = stage(df)
    new = [e for e in _sql_executions(spark) if e.executionId() > last]

    assert len(new) == 1
    assert "isFinalPlan=true" in new[0].physicalPlanDescription()
    plan = out._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LogicalRDD"
    assert sorted(tuple(r) for r in out.collect()) == sorted(
        tuple(r) for r in df.collect()
    )


def test_pipeline_without_checkpoint_dir_leaves_cache_empty(spark):
    """No stage of the in-memory pipeline keeps a CacheManager entry
    alive after the run's outputs are materialized."""
    from entity_deduplication_spark.datagen import generate_clips
    from entity_deduplication_spark.plans.pipeline import DedupPipeline

    clips_pd, _ = generate_clips(300, seed=11)
    clips = spark.createDataFrame(clips_pd)
    spark.catalog.clearCache()

    res = DedupPipeline(spark).run(clips)
    assert res.clusters.count() == 300
    res.canonical.collect()

    assert _cache_is_empty(spark)
