"""The shared Landsat feature frame (domain.features_with_gt) must stay
cached across query scopes: one materialization per session, scanned
by every consumer, with no copies left behind when the session
changes. Spark's CacheManager is shared by all sessions of a context
and matches entries by plan, so the order of persist/unpersist on a
session switch decides whether the consumers hit the cache at all."""

from __future__ import annotations

import re

from landsat_tair_data_pipeline_spark.operators import augment, domain, mapping
from landsat_tair_data_pipeline_spark.sources import landsat


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _persisted_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}


def test_consumers_scan_the_cache_in_a_new_session(spark, sf_dir):
    domain.features_with_gt(spark)  # memo holds another session's frame
    spark.catalog.clearCache()
    sess = spark.newSession()
    for fn in (domain.map_concat_features, augment.aug_explode_4x):
        assert "InMemoryTableScan" in _plan(fn(sess, sf_dir)), fn.__name__


def test_one_persisted_copy_across_session_switch_and_clear_cache(spark, sf_dir):
    spark.catalog.clearCache()
    before = _persisted_rdds(spark)

    first = spark.newSession()
    domain.map_concat_features(first, sf_dir).collect()
    assert len(_persisted_rdds(spark) - before) == 1

    # switching sessions releases the old copy and keeps the new one
    second = spark.newSession()
    df = domain.map_concat_features(second, sf_dir)
    assert "InMemoryTableScan" in _plan(df)
    df.collect()
    assert len(_persisted_rdds(spark) - before) == 1

    # a memo hit after clearCache() in the same session persists again
    second.catalog.clearCache()
    assert _persisted_rdds(spark) - before == set()
    df = augment.aug_explode_4x(second, sf_dir)
    assert "InMemoryTableScan" in _plan(df)
    df.collect()
    assert len(_persisted_rdds(spark) - before) == 1


def test_patch_sources_build_without_jobs(spark):
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    start = scheduler.nextJobId()
    built = {t: getattr(landsat, t)(spark) for t in landsat.PARQUET_SCHEMAS}
    assert scheduler.nextJobId() == start
    for t, df in built.items():  # the explicit schema is the files' own
        inferred = spark.read.parquet(f"{landsat.FIXTURE_DIR}/{t}.parquet")
        assert df.schema == inferred.schema, t

    # the valid-patch base builds without a job: split_guard sizes the
    # patch scan without running it, and the 119 metadata files are
    # listed from their directory on the driver (a glob past Spark's
    # parallel-listing threshold of 32 paths submits a listing job)
    start = scheduler.nextJobId()
    domain._valid_scene_base(spark)
    assert scheduler.nextJobId() == start


def test_doc_id_reads_build_without_jobs(spark, sf_dir):
    """agg_ratio (and the split/augment count keys) read documents with
    the table's own schema, so no build after the first submits a
    footer schema-inference job."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    path = f"{sf_dir}/documents.parquet"
    named = spark.read.schema(augment.DOCUMENTS_SCHEMA).parquet(path)
    assert named.schema == spark.read.parquet(path).schema  # the files' own
    mapping.agg_ratio(spark, sf_dir)
    start = scheduler.nextJobId()
    mapping.agg_ratio(spark, sf_dir)
    assert scheduler.nextJobId() == start


def test_feature_frame_caches_only_what_its_consumers_read(spark):
    """The cached frame holds the four columns its consumers read, and
    its plan shuffles nowhere but split_guard's spread of the one-file
    patch scan: with every join broadcast, AQE has no shuffle it could
    coalesce to one partition, so the cache keeps defaultParallelism
    partitions."""
    spark.catalog.clearCache()
    before = _persisted_rdds(spark)
    df = domain.features_with_gt(spark.newSession())
    plan = _plan(df)
    cached = re.search(r"InMemoryRelation \[([^\]]*)\]", plan).group(1)
    assert [c.split("#")[0].strip() for c in cached.split(",")] == [
        "scene_id", "station_id", "air_temp", "features"
    ]
    assert plan.count("RoundRobinPartitioning") == 1, plan

    df.count()
    (rdd_id,) = _persisted_rdds(spark) - before
    (info,) = [
        i for i in spark.sparkContext._jsc.sc().getRDDStorageInfo() if i.id() == rdd_id
    ]
    assert info.numPartitions() == spark.sparkContext.defaultParallelism
