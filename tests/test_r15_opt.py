"""Focused tests for the r15 optimization rewrites: every change kept
an operator's VALUES identical while changing its execution shape, so
each rewrite gets an in-process equivalence pin against the shape it
replaced (beyond the DuckDB sweeps, which certify end-to-end)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


def test_round_half_away_matches_spark_round(spark):
    """_round_half_away is the driver-side mirror of F.round on
    doubles (HALF_UP), and _round_nudged, the kernels' numpy recipe,
    mirrors F.round(x + 1e-9). Checked on a grid including negatives,
    exact .5 ties at the target scale, and the engine's +1e-9-nudged
    values."""
    import numpy as np

    from landsat_tair_data_pipeline_spark.operators.similarity import (
        _round_half_away,
        _round_nudged,
    )

    vals = [
        0.0,
        1.2345649,
        1.2345651,
        -1.2345649,
        -1.2345651,
        0.0000005,
        -0.0000005,
        2.5e-7 + 1e-9,
        123.456789501,
        -987.000000499,
        3272.298269,
        # exact decimal ties where the pre-r16 floor recipe disagreed
        # with F.round (ADVICE r15 item 2): the float product
        # |x|·10^6 lands an ulp below the .5 tie
        0.0002445,
        -0.0002445,
        0.5280935,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    for nd in (6, 8):
        got = [r["r"] for r in df.select(F.round("x", nd).alias("r")).collect()]
        exp = [_round_half_away(v, nd) for v in vals]
        assert got == pytest.approx(exp, abs=0.0), (nd, vals, got, exp)
        nudged = [
            r["r"]
            for r in df.select(F.round(F.col("x") + 1e-9, nd).alias("r")).collect()
        ]
        kern = _round_nudged(np.array(vals), nd).tolist()
        assert kern == pytest.approx(nudged, abs=0.0), (nd, vals, kern, nudged)


def test_ranked_cells_matches_dimstream_reference(spark):
    """The r15 kernel _ranked_cells must reproduce the pre-r15
    dim-stream construction (posexplode join + hash agg + row_number
    window) row-for-row on a deterministic corpus — same cells, same
    ranks, same tiebreaks."""
    import landsat_tair_data_pipeline_spark.operators.similarity as S

    n, d = 60, 6
    rows = [
        (i, [((i * 31 + j * 17) % 97) / 9.7 - 5.0 for j in range(d)])
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")

    got = sorted(
        map(tuple, S._ranked_cells(emb, emb).collect())
    )

    # pre-r15 reference, verbatim shape
    ex = emb.select("vec_id", F.posexplode("v").alias("d0", "x")).select(
        "vec_id", (F.col("d0") + 1).alias("d"), "x"
    )
    seed_ids = emb.select("vec_id").orderBy("vec_id").limit(
        S._ivf_cells(emb.count())
    )
    cent0 = ex.join(F.broadcast(seed_ids), "vec_id").select(
        F.col("vec_id").alias("cid"), "d", F.col("x").alias("c")
    )
    d2 = (
        ex.join(F.broadcast(cent0), "d")
        .groupBy("vec_id", "cid")
        .agg(
            F.round(
                F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))
                + 1e-9,
                6,
            ).alias("dist")
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("cid"))
    ref = sorted(
        map(
            tuple,
            d2.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= S._IVF_GRAPH_NPROBE)
            .select("vec_id", "cid", "rk")
            .collect(),
        )
    )
    assert got == ref


def test_prefix_filter_candidates_complete_and_exact(spark):
    """The r15 broadcast-map + array_sort ranking must keep the
    prefix-filter exactness contract: every pair whose true jaccard
    clears the threshold appears among the returned candidates, and
    each returned (sz_a, sz_b, inter) matches the exact set math."""
    from landsat_tair_data_pipeline_spark.operators.dedup import (
        _prefix_filter_pairs,
    )

    vocab = list(range(100, 140))
    docs = []
    for i in range(30):
        toks = sorted({vocab[(i * 7 + k * 3) % len(vocab)] for k in range(8 + i % 5)})
        docs.append((i, "s0", [int(t) for t in toks], len(toks)))
    df = spark.createDataFrame(
        docs, "doc_id long, source string, toks array<long>, sz int"
    )
    out = {
        (r["doc_a"], r["doc_b"]): (r["sz_a"], r["sz_b"], r["inter"])
        for r in _prefix_filter_pairs(df, 3999, 10000).collect()
    }
    by_id = {i: set(t) for i, _, t, _ in docs}
    for a in range(30):
        for b in range(a + 1, 30):
            inter = len(by_id[a] & by_id[b])
            union = len(by_id[a] | by_id[b])
            if inter / union >= 0.4:
                assert (a, b) in out, (a, b, inter, union)
            if (a, b) in out:
                assert out[(a, b)] == (
                    len(by_id[a]),
                    len(by_id[b]),
                    inter,
                ), (a, b)
