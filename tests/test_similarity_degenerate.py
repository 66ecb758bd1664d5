"""Similarity keys on degenerate corpora: each must return the
oracle's answer instead of crashing in numpy set-up code."""

from __future__ import annotations

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from landsat_tair_data_pipeline_spark.operators import similarity as S
from landsat_tair_data_pipeline_spark.registry import all_queries
from landsat_tair_data_pipeline_spark.sources.tables import TABLES
from tests.oracle_check import compare


@pytest.fixture(scope="module")
def no_probe_dir(sf_dir, tmp_path_factory):
    """The sf tables with every ADC probe query (vec_id < _ADC_NQ)
    removed from embeddings."""
    out = tmp_path_factory.mktemp("no_probe_sf")
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if t != "embeddings":
            os.symlink(src, out / f"{t}.parquet")
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    emb = emb.filter(pc.greater_equal(emb["vec_id"], S._ADC_NQ))
    assert emb.num_rows >= S._PQ_CODES
    pq.write_table(emb, out / "embeddings.parquet")
    return str(out)


def test_pq_search_with_no_probe_query_is_empty(spark, no_probe_dir):
    exk, adck = S._pq_search_ranked(spark, no_probe_dir)
    for df in (exk, adck):
        assert df.schema.simpleString() == (
            "struct<query_id:bigint,vec_id:bigint,rn:int>"
        )
        assert df.count() == 0


@pytest.mark.parametrize("name", ["sim_pq_recall", "sim_eval_pq_mrr_ndcg"])
def test_pq_keys_with_no_probe_query_match_oracle(spark, no_probe_dir, name):
    spec = all_queries()[name]
    compare(spark, no_probe_dir, spec.fn, spec.oracle)


# every key that ranks IVF cells through similarity._ranked_cells
RANKED_CELLS_KEYS = [
    "dedup_semdedup",
    "emb_dedup_incremental",
    "sim_ann_cross_join",
    "sim_ann_cross_recall",
    "sim_eval_mrr_ndcg",
    "sim_ivf_topk",
    "sim_knn_graph_ivf",
    "sim_knn_graph_ivf_recall",
    "mm_image_dedup_stack",
    "llm_data_pipeline_v5",
    "llm_data_pipeline_v6",
    "llm_data_pipeline_v7",
    "llm_data_pipeline_v8",
    "llm_data_pipeline_v9",
]


@pytest.fixture(scope="module")
def no_embeddings_dir(sf_dir, tmp_path_factory):
    """The sf tables with an embeddings table of 0 rows (same schema)."""
    out = tmp_path_factory.mktemp("no_embeddings_sf")
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if t != "embeddings":
            os.symlink(src, out / f"{t}.parquet")
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    pq.write_table(emb.slice(0, 0), out / "embeddings.parquet")
    return str(out)


def test_ranked_cells_with_no_seed_vector_is_empty(spark, no_embeddings_dir):
    emb = S._emb(spark, no_embeddings_dir)
    ranked = S._ranked_cells(emb, emb)
    assert ranked.schema.simpleString() == (
        "struct<vec_id:bigint,cid:bigint,rk:int>"
    )
    assert ranked.count() == 0


@pytest.mark.parametrize("name", RANKED_CELLS_KEYS)
def test_ranked_cells_keys_with_no_embeddings_match_oracle(
    spark, no_embeddings_dir, name
):
    spec = all_queries()[name]
    compare(spark, no_embeddings_dir, spec.fn, spec.oracle)


def _kernel_tasks(df) -> list[int]:
    """Tasks of each stage that runs a MapInPandas kernel in ``df``'s
    executed plan, cached subplans included: the partition count of
    the kernel's RDD, since the kernel is a narrow map."""
    df.collect()
    found = []

    def walk(node):
        name = node.nodeName()
        if name == "MapInPandas":
            found.append(node.execute().getNumPartitions())
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
        elif name.endswith("QueryStage"):
            walk(node.plan())
        elif name == "InMemoryTableScan":
            walk(node.relation().cachedPlan())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return found


def test_pq_kernels_spread_a_single_file_source(spark, sf_dir):
    """A one-file embeddings table is one split; each PQ kernel must
    still run on more than one task (util.split_guard)."""
    emb = S._emb(spark, sf_dir)
    assert emb.rdd.getNumPartitions() == 1
    exk, adck = S._pq_search_ranked(spark, sf_dir)
    best = S._pq_best(emb, S._pq_codebook_block(emb))
    for df in (exk, adck, best):
        tasks = _kernel_tasks(df)
        assert tasks and min(tasks) > 1, tasks
