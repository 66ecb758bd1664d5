"""The shared Landsat feature frame (domain.features_with_gt) must stay
cached across query scopes: one materialization per session, scanned
by every consumer, with no copies left behind when the session
changes. Spark's CacheManager is shared by all sessions of a context
and matches entries by plan, so the order of persist/unpersist on a
session switch decides whether the consumers hit the cache at all."""

from __future__ import annotations

from landsat_tair_data_pipeline_spark.operators import augment, domain
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
