"""What a broadcast join leaves in the driver's storage memory under
get_spark. In local mode the driver keeps each broadcast's value in its
memory store for as long as a plan refers to it, and a hashed relation
takes at least one Tungsten page. With Spark's derived page size
(64 MiB on a 4-core 8g driver) a few small joins pinned hundreds of MB;
get_spark fixes the page at 1 MiB. Both tests measure deltas, so the
caches of other tests do not count."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from landsat_tair_data_pipeline_spark.operators import domain

MIB = 1 << 20


def _storage_used(spark) -> int:
    env = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
    return env.memoryManager().storageMemoryUsed()


def _pinned(spark) -> int:
    """Storage memory not taken by cached RDD blocks: broadcast values
    and their pieces, mostly."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return _storage_used(spark) - sum(i.memSize() for i in infos)


def _release_unreferenced(spark) -> None:
    """Let the ContextCleaner drop broadcasts no plan refers to any more,
    so that a release during the measurement cannot hide an addition."""
    for _ in range(3):
        spark.sparkContext._jvm.java.lang.System.gc()
        time.sleep(0.3)


def test_small_broadcast_join_holds_no_page_sized_block(spark):
    big = spark.range(1000).select(F.col("id").cast("string").alias("k"))
    small = spark.range(20).select(
        (F.col("id") * 7).cast("string").alias("k"), F.lit(1).alias("v")
    )
    joined = big.join(F.broadcast(small), "k")
    _release_unreferenced(spark)
    before = _storage_used(spark)
    assert joined.count() == 20
    assert _storage_used(spark) - before < 4 * MIB


def test_feature_chain_pins_little_beside_its_cache(spark, sf_dir):
    spark.catalog.clearCache()  # the memo persists (and broadcasts) anew
    _release_unreferenced(spark)
    before = _pinned(spark)
    df = domain.map_concat_features(spark, sf_dir)
    assert df.collect()
    assert _pinned(spark) - before < 16 * MIB
