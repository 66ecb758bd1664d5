"""Query registry: every engine operator exposed as a named query.

Each :class:`QuerySpec` pairs a Spark implementation ``(spark, sf_dir)
-> DataFrame`` with (where SQL-expressible) the equivalent ANSI SQL the
DuckDB oracle runs on the same parquet tables. Keys follow SURVEY.md §2
operator ids. The driver's correctness gate compares the two per query
(row-count + schema + order-insensitive value-hash), so:

- every computed column is aliased identically on both sides;
- every column produced by floating-point *arithmetic* (sums, averages,
  similarity scores) is rounded identically on both sides, because
  accumulation order differs between engines; raw passthrough doubles
  are left untouched (bit-identical in both engines).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .session import tune


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB, or None → rows-only check
    doc: str = ""


def _wrap(name: str, fn: Callable[[SparkSession, str], DataFrame]):
    def runner(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .util import release_other_scopes, set_cache_scope

        tune(spark)
        # drop the PREVIOUS query's scope-tracked caches (util.py:
        # CacheManager holds them until unpersist); same-key reruns
        # keep their warm cache so bench reps stay comparable
        release_other_scopes(name)
        set_cache_scope(name)
        return fn(spark, sf_dir)

    return runner


def all_queries() -> dict[str, QuerySpec]:
    """Collect QuerySpecs from every operator module. Imports fail
    LOUDLY: a silently-shrinking registry would pass the correctness
    gate with less coverage, which is worse than a visible error (the
    one genuinely optional dependency, torch, is gated inside
    sources.landsat at call time, not import time)."""
    from .operators import (
        augment,
        dedup,
        domain,
        events,
        mapping,
        multimodal,
        relational,
        similarity,
        text,
    )
    from .streaming import windows as streaming_windows

    # Merge order is LOAD-BEARING: the driver's correctness gate records
    # only the first 50 registry entries in this insertion order —
    # _DRIVER_FRONT first, then every other key in module order.
    merged: dict[str, QuerySpec] = {}
    for mod in (
        domain,
        mapping,
        text,
        streaming_windows,
        multimodal,
        augment,
        similarity,
        dedup,
        events,
        relational,
    ):
        for name, spec in mod.QUERIES.items():
            if name in merged:
                raise ValueError(f"duplicate query id {name!r}")
            merged[name] = spec

    front = [k for k in _DRIVER_FRONT if k in merged]
    missing = [k for k in _DRIVER_FRONT if k not in merged]
    if missing:
        raise ValueError(f"front-ordered keys missing from registry: {missing}")
    ordered = {k: merged[k] for k in front}
    ordered.update((k, v) for k, v in merged.items() if k not in ordered)
    return ordered


# First 50 slots of the driver's correctness window, as set for round
# 15 — the first of the TWO windows that drain the 48-key r9-vintage cohort
# (VERDICT r14 item 1: 48 keys don't fit one 50-slot window beside new
# arrivals; this window takes 40, the remaining 8 lead the r16 fill).
# Ordering: (1) new r15 keys, fronted on arrival; (2) keys whose
# IMPLEMENTATION changed this round — sim_ivf_topk (graduated onto the
# house deterministic IVF, now fully oracled), the MinHash trio
# (bands now derive from the persisted signature instead of a second
# lattice pass — value-identical, re-certified anyway),
# dedup_clusters (CC round instrumentation), stream_dedup_shard
# (materialized return + session-keyed scratch); (3) the r9-vintage
# fill, led by the three spares the late r14 arrivals displaced
# (dedup_edit_distance_pairs, emb_kmeans_converged, emb_pca_power —
# the r8 lesson twice over), then most-data-sensitive first:
# documents readers, embeddings readers, graph, the stream_* drains,
# events/ts, the join family, upsert/window. The 8 keys spilling to
# r16 (written down per the two-round plan): agg_bitmap_distinct,
# agg_histogram_equidepth, agg_moments_merge, est_join_cardinality,
# profile_join_key_skew, pack_batches_padding, pack_shards_bytes,
# layout_zorder_stats — aggregate/packing profiles whose relational
# inputs carry the least regeneration sensitivity in the cohort.
_DRIVER_FRONT = [
    # new in r15, fronted on arrival (7)
    "text_bpe_merge_step",
    "text_bpe_vocab",
    "text_bpe_encode",
    "corpus_diff_snapshot",
    "sim_eval_mrr_ndcg",
    "sim_eval_pq_mrr_ndcg",
    "llm_data_pipeline_v9",
    # changed in r15 (6)
    "sim_ivf_topk",
    "ext_dedup_near",
    "dedup_near_recall",
    "dedup_minhash_est_error",
    "dedup_clusters",
    "stream_dedup_shard",
    # r9-vintage fill (40 of 48; the three displaced r14 spares lead)
    "dedup_edit_distance_pairs",
    "emb_kmeans_converged",
    "emb_pca_power",
    "ext_text_stats",
    "text_token_count",
    "text_quality",
    "text_lang_guess",
    "text_fingerprint",
    "text_bigrams_top",
    "text_tfidf_top",
    "text_heavy_hitters",
    "text_ngram_novelty",
    "text_rolling_hash",
    "text_contamination",
    "llm_data_pipeline_v2",
    "sample_negative_pairs",
    "emb_pq_codes",
    "sim_pq_recall",
    "graph_label_propagation",
    "graph_triangle_count",
    "stream_tumbling",
    "stream_sliding",
    "stream_session",
    "stream_dedup",
    "stream_dedup_then_window",
    "stream_stream_join",
    "stream_sink_parquet",
    "ext_stream_window",
    "events_ab_welch",
    "events_rfm_segment",
    "events_user_overlap_jaccard",
    "ts_changepoint_cusum",
    "ts_gapfill",
    "join_asof",
    "join_asof_tolerance",
    "join_interval_overlap",
    "join_nn_radius_2d",
    # join_scd2_pointintime, upsert_snapshot and
    # window_distinct_trailing were displaced from the fill tail by
    # the late arrivals text_bpe_encode, llm_data_pipeline_v9 and
    # sim_eval_pq_mrr_ndcg (new keys front on arrival); they join the
    # 8 named spill keys at the head of the r16 fill
]

def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(name, spec.fn) for name, spec in all_queries().items()}


def oracle_sqls() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in all_queries().items()
        if spec.oracle is not None
    }
