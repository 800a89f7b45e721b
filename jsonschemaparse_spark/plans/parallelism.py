"""The one few-split spreading policy (NOTES pitfall #4), decided from the
physical plan: probing an RDD's partition count instead would finalize an
adaptive plan and run its shuffle map stages, a hidden Spark job."""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame


@functools.lru_cache(maxsize=None)
def _plan_classes(jvm):
    # each py4j name lookup costs milliseconds: resolve once per JVM
    ex = jvm.org.apache.spark.sql.execution
    return (ex.adaptive.AdaptiveSparkPlanExec._java_lang_class,
            ex.columnar.InMemoryTableScanExec._java_lang_class,
            jvm.org.apache.spark.sql.catalyst.trees.TreePattern.EXCHANGE())


def _has_exchange(plan, jvm) -> bool:
    """AQE wrapper at the root, any Exchange node (each carries the
    EXCHANGE pattern bit, which a tree collects from all its nodes), a
    subquery (executing the plan runs it), or a cached relation whose
    own plan has one of these."""
    adaptive, cached_scan, exchange = _plan_classes(jvm)
    if (adaptive.isInstance(plan) or plan.containsPattern(exchange)
            or plan.subqueriesAll().nonEmpty()):
        return True
    leaves = plan.collectLeaves()
    return any(cached_scan.isInstance(leaf)
               and _has_exchange(leaf.relation().cachedPlan(), jvm)
               for leaf in map(leaves.apply, range(leaves.size())))


def spread_few_splits(df: DataFrame) -> DataFrame:
    """Repartition to defaultParallelism when the plan is narrow (no
    exchange) and has fewer than max(cores // 2, 2) partitions, so 2
    splits on 4 cores pass through (spreading them measured slower on the
    payload-json benchmark). Streaming and post-shuffle frames (AQE sizes
    those partitions at run time) pass through. Launches no Spark job:
    executing a plan with no exchange only builds its RDD."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    plan = df._jdf.queryExecution().executedPlan()
    if _has_exchange(plan, sc._jvm):
        return df
    cores = sc.defaultParallelism
    splits = len(plan.execute().partitions())
    return df.repartition(cores) if splits < max(cores // 2, 2) else df
