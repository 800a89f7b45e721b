"""The one few-split spreading policy (plans/parallelism.py): which plans
it spreads, and that deciding never launches a Spark job."""

import pytest
from pyspark.sql import functions as F

from jsonschemaparse_spark.plans.parallelism import spread_few_splits


def _jobs_launched(spark, fn, group: str) -> int:
    """Spark jobs started while `fn()` runs, via a dedicated job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def aqe_off(spark):
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield
    spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_one_split_scan_gets_one_round_robin(documents):
    assert len(documents._jdf.queryExecution().executedPlan()
               .execute().partitions()) == 1  # the sf0.001 file is one split
    plan = spread_few_splits(documents)._jdf.queryExecution().executedPlan()
    assert plan.toString().count("RoundRobinPartitioning") == 1


def test_cores_split_checkpoint_passes_through(spark, documents):
    wide = documents.repartition(
        spark.sparkContext.defaultParallelism).localCheckpoint()
    assert spread_few_splits(wide) is wide


def test_post_aggregation_frame_passes_through(documents):
    agg = documents.groupBy("lang").count()
    assert spread_few_splits(agg) is agg


def test_streaming_frame_returned_as_is(spark):
    stream = spark.readStream.format("rate").load()
    assert spread_few_splits(stream) is stream


@pytest.mark.parametrize("persist", [False, True])
def test_deciding_on_post_aggregation_launches_no_job(spark, documents,
                                                      persist):
    agg = documents.groupBy("source").count()
    if persist:
        agg = agg.persist()
    try:
        assert _jobs_launched(spark, lambda: spread_few_splits(agg),
                              f"spread-agg-{persist}") == 0
    finally:
        agg.unpersist()


def test_deciding_on_subquery_plan_launches_no_job(spark, documents,
                                                   aqe_off):
    # without AQE, a subquery over one partition needs no exchange and
    # gets no wrapper, but executing the plan would run the subquery
    cap = spark.range(0, 300, 1, 1).select(F.max("id")).scalar()
    sub = documents.filter(documents.n_chars > cap)
    assert _jobs_launched(spark, lambda: spread_few_splits(sub),
                          "spread-subquery") == 0
    assert spread_few_splits(sub) is sub


def test_deciding_on_cached_broadcast_join_launches_no_job(spark, documents,
                                                           aqe_off):
    # without AQE the cached relation is the only exchange holder in the
    # plan; building its buffers would run the broadcast
    langs = documents.select("lang").distinct()
    joined = documents.join(F.broadcast(langs), "lang").persist()
    try:
        assert _jobs_launched(spark, lambda: spread_few_splits(joined),
                              "spread-cached-join") == 0
        assert spread_few_splits(joined) is joined
    finally:
        joined.unpersist()


def test_building_clean_corpus_launches_no_job(spark):
    from jsonschemaparse_spark.functions.pipeline import clean_corpus

    rows = [(i, f"doc {i % 250} " + "the quick brown fox jumps. " * 8)
            for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert _jobs_launched(spark, lambda: clean_corpus(df),
                          "spread-clean-corpus") == 0
