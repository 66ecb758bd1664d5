"""Focused tests for the r16 optimization rewrites (optimization
round 2): every change kept an operator's VALUES identical while
changing its execution shape, so each rewrite gets an in-process
equivalence pin against the shape it replaced (beyond the DuckDB
sweeps, which certify end-to-end)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


def test_kernel_rows_per_chunk_byte_bound():
    """VERDICT r15 item 3: the distance-kernel chunk is sized by a
    byte budget on the (rows × k × d) float64 diff tensor, not a
    fixed row count — at the family's k = √n bound (n = 10⁹ →
    k ≈ 31,623) a fixed 1024-row chunk would allocate ~16 GB."""
    from landsat_tair_data_pipeline_spark.operators.similarity import (
        _kernel_rows_per_chunk,
    )

    budget = 64 << 20
    for k, d in [(16, 64), (1024, 64), (31623, 64), (31623, 1024), (1, 1)]:
        rows = _kernel_rows_per_chunk(k, d)
        assert rows >= 1
        # the tensor fits the budget whenever a single row does
        if k * d * 8 <= budget:
            assert rows * k * d * 8 <= budget, (k, d, rows)
            # and the sizing is not pathologically conservative
            assert (rows + 1) * k * d * 8 > budget, (k, d, rows)
    # the 100 TB headline case: bounded small, never the old 1024
    assert _kernel_rows_per_chunk(31623, 64) * 31623 * 64 * 8 <= budget


def test_grid_blocks_row_bound():
    """The P² square grid (sim_knn_graph, dedup_embedding_cosine) caps
    block ROW size at 4096: at the 100× probe's 200k vectors on 32
    cores, the sqrt-only count P = 8 would give 25k-row blocks, a
    25k × 25k float64 matrix per task."""
    from landsat_tair_data_pipeline_spark.operators.similarity import (
        _grid_blocks,
    )

    P = _grid_blocks(200_000, 32)
    assert math.ceil(200_000 / P) <= 4096, P
    # small corpora keep the core-driven count
    assert _grid_blocks(6000, 4) == 3
    assert _grid_blocks(100, 1) == 2


def test_ranked_cells_chunked_yield_matches_reference(spark):
    """The byte-bounded, per-chunk-yield kernel must produce the same
    (vec_id, cid, rk) rows as a single-shot numpy reference — chunking
    the rows cannot reorder or drop anything (tested at a chunk size
    that forces many chunks per batch)."""
    import numpy as np

    import landsat_tair_data_pipeline_spark.operators.similarity as S

    n, d = 57, 6
    rows = [
        (i, [((i * 13 + j * 29) % 83) / 8.3 - 5.0 for j in range(d)])
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")
    got = sorted(map(tuple, S._ranked_cells(emb, emb).collect()))

    k_cells = S._ivf_cells(n)
    C = np.array([rows[i][1] for i in range(k_cells)])
    cids = np.arange(k_cells, dtype=np.int64)
    X = np.array([r[1] for r in rows])
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2) + 1e-9
    d2 = np.floor(d2 * 1e6 + 0.5) / 1e6
    m = min(S._IVF_GRAPH_NPROBE, k_cells)
    order = np.argsort(d2, axis=1, kind="stable")[:, :m]
    want = sorted(
        (int(i), int(cids[order[i, j]]), j + 1)
        for i in range(n)
        for j in range(m)
    )
    assert got == want


def test_pq_best_kernel_matches_dimstream_reference(spark):
    """The r16 _pq_best kernel must reproduce the pre-r16 dim-stream
    construction (posexplode join against the broadcast codebook +
    per-(vec, sub, code) hash aggregate + min(struct) argmin)
    row-for-row — same codes, same rounded distances, same
    tiebreaks."""
    import landsat_tair_data_pipeline_spark.operators.similarity as S

    n, d = 60, 64
    rows = [
        (i, None, [((i * 31 + j * 17) % 97) / 9.7 - 5.0 for j in range(d)])
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, label string, v array<double>")

    got = sorted(
        (int(r["vec_id"]), int(r["sub"]), float(r["b"]["dist"]), int(r["b"]["code"]))
        for r in S._pq_best(emb, S._pq_codebook_block(emb)).collect()
    )

    # pre-r16 reference, verbatim shape
    from landsat_tair_data_pipeline_spark.operators.augment import (
        _mult_hash_key,
    )

    ex = emb.select("vec_id", F.posexplode("v").alias("d0", "x")).select(
        "vec_id", (F.col("d0") + 1).alias("d"), "x"
    )
    seeds = (
        emb.select("vec_id", _mult_hash_key("vec_id").alias("hk"))
        .orderBy(F.asc("hk"), F.asc("vec_id"))
        .limit(S._PQ_CODES)
    )
    w = Window.orderBy(F.asc("hk"), F.asc("vec_id"))
    cb = (
        seeds.withColumn("code", F.row_number().over(w))
        .select(F.col("vec_id").alias("cvid"), "code")
        .join(ex, F.col("cvid") == F.col("vec_id"))
        .select("code", "d", F.col("x").alias("c"))
    )
    d2 = (
        ex.join(F.broadcast(cb), "d")
        .groupBy(
            "vec_id",
            F.expr(f"(d - 1) div {S._PQ_SUBDIM}").cast("int").alias("sub"),
            "code",
        )
        .agg(
            F.round(
                F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))
                + 1e-9,
                6,
            ).alias("dist")
        )
    )
    ref = d2.groupBy("vec_id", "sub").agg(
        F.min(F.struct("dist", "code")).alias("b")
    )
    want = sorted(
        (int(r["vec_id"]), int(r["sub"]), float(r["b"]["dist"]), int(r["b"]["code"]))
        for r in ref.collect()
    )
    assert got == want


def test_pq_search_partial_topk_is_global_topk(spark, sf_dir):
    """_pq_search_ranked's per-batch partial top-k + merge window must
    equal a brute-force global ranking over the full corpus — same
    pairs, same ranks, both sides (exact L2 and ADC)."""
    import numpy as np

    import landsat_tair_data_pipeline_spark.operators.similarity as S

    exk, adck = S._pq_search_ranked(spark, sf_dir)
    got_ex = {(r["query_id"], r["vec_id"]): r["rn"] for r in exk.collect()}
    got_adc = {(r["query_id"], r["vec_id"]): r["rn"] for r in adck.collect()}

    emb = S._emb(spark, sf_dir)
    rows = emb.select("vec_id", "v").collect()
    vids = np.array([int(r["vec_id"]) for r in rows], dtype=np.int64)
    X = np.vstack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    C = S._pq_codebook_block(emb)
    nsub = C.shape[1] // S._PQ_SUBDIM
    qsel = vids < S._ADC_NQ
    qids = np.sort(vids[qsel])
    id2row = {int(v): i for i, v in enumerate(vids)}
    Q = np.vstack([X[id2row[int(q)]] for q in qids])

    def r6(a):
        return np.floor((a + 1e-9) * 1e6 + 0.5) / 1e6

    # exact side reference
    d2 = r6(((X[:, None, :] - Q[None, :, :]) ** 2).sum(axis=2))
    want_ex = {}
    for j, q in enumerate(qids):
        idx = np.nonzero(vids != q)[0]
        order = np.lexsort((vids[idx], d2[idx, j]))[: S._ADC_K]
        for rn, i in enumerate(idx[order], start=1):
            want_ex[(int(q), int(vids[i]))] = rn
    assert got_ex == want_ex

    # ADC side reference
    tab = np.empty((len(qids), nsub, C.shape[0]))
    codes = np.empty((len(vids), nsub), dtype=np.int64)
    for s in range(nsub):
        tab[:, s, :] = S._pq_sub_dists(Q, C, s)
        codes[:, s] = np.argmin(S._pq_sub_dists(X, C, s), axis=1)
    ad = np.zeros((len(vids), len(qids)))
    for s in range(nsub):
        ad += tab[:, s, :][:, codes[:, s]].T
    ad = r6(ad)
    want_adc = {}
    for j, q in enumerate(qids):
        idx = np.nonzero(vids != q)[0]
        order = np.lexsort((vids[idx], ad[idx, j]))[: S._ADC_K]
        for rn, i in enumerate(idx[order], start=1):
            want_adc[(int(q), int(vids[i]))] = rn
    assert got_adc == want_adc


def test_v67_entropy_fold_linear_matches_counts(spark):
    """The r16 array_sort + run-length entropy fold must equal the
    explicit per-document Shannon formula (the r15 quadratic
    filter-per-distinct shape / the oracle's hash aggregate) on a
    corpus with repeated tokens, single-token docs and empty text."""
    from collections import Counter

    texts = [
        "a b a c b a",
        "x",
        "one two two three three three",
        "",
        "  s  s  s  ",
        "T t T t",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")

    def _run_step(acc, x):
        close = acc["clog"] + F.when(
            acc["run"] > 0.0, acc["run"] * F.log2(acc["run"])
        ).otherwise(F.lit(0.0))
        return F.when(
            x == acc["prev"],
            F.struct(
                x.alias("prev"),
                (acc["run"] + 1.0).alias("run"),
                acc["clog"].alias("clog"),
            ),
        ).otherwise(
            F.struct(
                x.alias("prev"), F.lit(1.0).alias("run"), close.alias("clog")
            )
        )

    clog = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0.0).alias("run"),
            F.lit(0.0).alias("clog"),
        ),
        _run_step,
        lambda acc: acc["clog"]
        + F.when(acc["run"] > 0.0, acc["run"] * F.log2(acc["run"])).otherwise(
            F.lit(0.0)
        ),
    )
    n_tokens = F.size(toks).cast("long")
    got = {
        r["doc_id"]: (r["n"], r["e"])
        for r in docs.select(
            "doc_id",
            n_tokens.alias("n"),
            F.round(F.log2(n_tokens) - clog / n_tokens + 1e-9, 6).alias("e"),
        ).collect()
    }
    for i, t in enumerate(texts):
        words = t.strip().lower().split() if t.strip() else [""]
        # TOKENS() on all-whitespace text yields [""] (split semantics)
        c = Counter(words)
        n = sum(c.values())
        clog_ref = sum(v * math.log2(v) for v in c.values())
        e = round(math.log2(n) - clog_ref / n + 1e-9, 6)
        assert got[i][0] == n, (i, got[i], n)
        assert got[i][1] == pytest.approx(e, abs=1e-9), (i, t)


def test_rank_sort_kernel_null_and_empty_toks(spark):
    """ADVICE r15 item 5: a null token array must pass through the
    rank-sort kernel as null (the pre-r15 explode-based ranking
    silently dropped such rows), never raise; empty arrays stay
    empty; ranked rows sort by (corpus freq asc, token asc)."""
    from landsat_tair_data_pipeline_spark.operators.dedup import (
        _freq_rank_sort_udf,
    )

    docs = spark.createDataFrame(
        [
            (0, [10, 20, 30]),
            (1, None),
            (2, []),
            (3, [30, 99]),
        ],
        "doc_id long, toks array<long>",
    )
    topk = spark.createDataFrame(
        [(30, 5), (20, 2), (10, 2)], "tok long, freq long"
    )
    rank_sort = _freq_rank_sort_udf(topk)
    got = {
        r["doc_id"]: r["o"]
        for r in docs.select("doc_id", rank_sort("toks").alias("o")).collect()
    }
    # freq order: 99 (absent -> 1), 10 (2), 20 (2, tok tiebreak), 30 (5)
    assert got[0] == [10, 20, 30]
    assert got[1] is None
    assert got[2] == []
    assert got[3] == [99, 30]


def test_bpe_round_fully_merged_state_is_empty_not_crash(spark):
    """ADVICE r15 item 3: when no adjacent pair remains (fully merged
    words), _bpe_round must mirror the oracle — an empty top CTE and
    an empty next state — instead of raising IndexError on the bare
    collect()[0]."""
    from landsat_tair_data_pipeline_spark.operators.text import _bpe_round

    state = spark.createDataFrame(
        [("ab", 3, "|ab|"), ("c", 2, "|c|")], "word string, n long, w string"
    )
    top, new_state = _bpe_round(state)
    assert top.count() == 0
    assert new_state.count() == 0
    assert [f.name for f in new_state.schema.fields] == ["word", "n", "w"]


def test_v67_single_pass_funnel_counts_match_per_layer(spark, sf_dir):
    """VERDICT r15 item 5: the union-tagged single-pass funnel counts
    must equal independent per-layer per-source counts (here checked
    on llm_data_pipeline_v8's published columns vs brute-force
    recomputation of two funnel stages)."""
    from landsat_tair_data_pipeline_spark.operators.dedup import (
        llm_data_pipeline_v8,
    )
    from landsat_tair_data_pipeline_spark.sources.tables import table

    out = {r["source"]: r for r in llm_data_pipeline_v8(spark, sf_dir).collect()}
    raw = {
        r["source"]: r["n"]
        for r in table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(out) == set(raw)
    for s, r in out.items():
        assert r["n_raw"] == raw[s]
        # funnel monotonicity across the single-pass counts
        seq = [
            r["n_raw"],
            r["n_after_url"],
            r["n_after_domain"],
            r["n_after_exact"],
            r["n_after_boilerplate"],
            r["n_after_quality"],
            r["n_after_containment"],
            r["n_after_semantic"],
            r["n_after_decontam"],
            r["n_kept"],
        ]
        assert all(a >= b for a, b in zip(seq, seq[1:])), (s, seq)
