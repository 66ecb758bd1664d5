"""Document deduplication operators (SURVEY §2.12 — driver-mandated
LLM-data-pipeline extensions over the `documents` table).

Exact dedup is a hash-groupBy (one shuffle on the digest — at 100 TB
the digest shuffle moves 32 bytes/row, not the document bodies).
Near-dup comes in three flavors:

- MinHash+LSH (`ext_dedup_near`): token set → 256 md5-derived
  mod-prime MinHash permutations → 64×4 banded equi-join →
  exact-jaccard verify. House implementation (deterministic, no MLlib
  hash-family draw), FULLY hash-oracled since r13 (the md5 family
  reproduces in DuckDB), with the `dedup_near_recall` companion
  hash-pinning full recall at >= 0.7 every round.
- SimHash (`dedup_simhash`): 64-bit frequency-weighted signature from
  md5 parity bits, computed with map-side-combinable aggregates —
  fully oracled since the r11 re-point (md5 hex is byte-identical in
  Spark and DuckDB).
- N-gram/word Jaccard (`dedup_jaccard_pairs`): exact set similarity on
  blocked candidate pairs — fully SQL-expressible, hash-checked.

Token hashing (r14, VERDICT r13 item 3): every set-similarity stage
pre-hashes tokens with the SAME cross-engine family — `_md5_long`
(first 60 bits of md5 as BIGINT, the r13 MinHash-graduation hash) via
the shared `_hashed_docs` frame — so intersection-size invariance is
backed by construction identity, not collision-freeness of an
engine-private hash. `xxhash64` survives in this package only where
the hash IS the declared behavior of a random-by-design permutation
(augment.py's shuffles), a pure partitioning salt / Bloom position
(events.py, relational.py), or the engine-internal CC convergence
signature below (never surfaces; the md5 variant measured ~+1 s
median on dedup_clusters — see its docstring) — never on an oracled
value path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import QuerySpec
from ..sources.tables import table
from ..util import kernel, persist_tracked, split_guard

# Shared tokenization: lowercase, split on whitespace runs. The oracle
# uses the byte-identical duckdb form (string_split_regex + 'g' flag
# regexp_replace) — keep the two in lockstep when editing. Lazy (a
# function, not a module-level Column) because classic PySpark needs an
# active session to build Column expressions.
def TOKENS():
    return F.split(F.trim(F.lower(F.col("text"))), r"\s+")


_TOKENS_SQL = "string_split_regex(trim(lower(text)), '\\s+')"

# chunk-grain ("paragraph") dedup parameters, shared by
# dedup_paragraph / dedup_paragraph_scrub / llm_data_pipeline_v6 —
# rationale at dedup_paragraph's definition
_PARA_WIDTH = 5
_PARA_DROP_FRAC = 0.3  # RefinedWeb drops docs > ~30% duplicated lines


def ext_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup by content digest; keeper = lowest doc_id per digest
    (deterministic, unlike dropDuplicates). md5 is identical across
    engines (lowercase hex)."""
    docs = table(spark, sf, "documents")
    return docs.groupBy(F.md5("text").alias("text_md5")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.max("n_chars").alias("n_chars"),
    )


_EXACT_SQL = """
SELECT md5(text)    AS text_md5,
       MIN(doc_id)  AS keeper_doc_id,
       COUNT(*)     AS n_copies,
       MAX(n_chars) AS n_chars
FROM documents
GROUP BY md5(text)
"""


def dedup_normalized(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup after canonicalization (lowercase + whitespace collapse) —
    catches trivially-reformatted copies exact dedup misses."""
    docs = table(spark, sf, "documents")
    canon = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return docs.groupBy(F.md5(canon).alias("canon_md5")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


_NORMALIZED_SQL = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS canon_md5,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*)    AS n_copies
FROM documents
GROUP BY 1
"""


def _freq_rank_sort_udf(topk: DataFrame):
    """Arrow kernel that sorts a doc's (distinct) token-hash array by
    the global prefix-filter order (corpus frequency asc, token asc;
    out-of-top-K tokens count as frequency 1). The top-K frequency
    table is a BOUNDED pull (≤ 65,536 rows — the exact frame the
    pre-r15 plan broadcast for its join) held as an O(1) Python dict
    in the kernel CLOSURE — deliberately NOT a Spark broadcast
    variable (optimization r16 finding, measured on the interleaved
    dedup_near_recall A/B): the closure rides each stage's
    torrent-broadcast task binary, so it already ships once per
    stage, while a Broadcast handle pickles with a fresh id on every
    query build and DE-CANONICALIZES the UDF — persisted frames
    downstream of the kernel (dedup_near_recall's exact side) stop
    cache-matching across bench reps, re-running the whole prefix
    pipeline per rep (~+1.9 s/rep at sf0.1). Identical dict content
    pickles to identical bytes, so rebuilds keep canonical-plan
    equality. Position+1 in the returned array ≡ the row_number the
    pre-r15 window computed (strict total order since token sets are
    distinct per doc). Null/absent token arrays pass through
    untouched (ADVICE r15 item 5: a null `toks` — null text upstream
    — made toks.map(len) raise where the pre-r15 explode-based
    ranking silently dropped the row). Shared by _prefix_filter_pairs
    and _asym_containment_candidates."""
    from pyspark.sql.functions import pandas_udf

    fm = {int(r["tok"]): int(r["freq"]) for r in topk.collect()}

    @pandas_udf("array<long>")
    @kernel
    def rank_sort(toks: pd.Series) -> pd.Series:
        import numpy as np
        import pandas as pd_

        lens = toks.map(lambda a: 0 if a is None else len(a)).to_numpy(
            dtype=np.int64
        )
        if len(lens) == 0 or lens.sum() == 0:
            return toks
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in toks if a is not None]
        )
        # vectorized dict lookup (C path) — absent tokens order as
        # frequency 1, exactly the old COALESCE(freq, 1)
        fr = (
            pd_.Series(flat).map(fm).fillna(1).astype("int64").to_numpy()
        )
        rid = np.repeat(np.arange(len(lens)), lens)
        # ONE global lexsort: primary row id, then freq asc, tok asc —
        # within each row this is the (ofreq, tok) order; strict
        # (toks distinct per doc), so fully deterministic
        s = flat[np.lexsort((flat, fr, rid))]
        parts = np.split(s, np.cumsum(lens)[:-1])
        # null rows (lens 0 from None) stay null, mirroring the
        # pre-r15 window shape where they never produced ranked rows
        return pd_.Series(
            [
                None if orig is None else part
                for orig, part in zip(toks, parts)
            ]
        )

    return rank_sort


def _prefix_filter_pairs(
    docs: DataFrame, t_num: int, t_den: int, ensure_split: bool = True
) -> DataFrame:
    """Exact set-similarity candidate generation by PREFIX FILTERING
    (the AllPairs/PPJoin family — Bayardo et al. WWW'07, Vernica et
    al. SIGMOD'10 for the MapReduce formulation), replacing the r1
    full-corpus broadcast + in-block O(n²) pair scan.

    Theorem: order the token universe globally (here: by ascending
    corpus frequency, rarest first, ties by token value). If
    |x∩y| >= α then the (|x|-α+1)-prefixes of x and y under that
    order must share a token. Jaccard(x,y) >= t implies
    |x∩y| >= ceil(t·|x|), so emitting each doc's
    (sz - ceil(t·sz) + 1)-prefix and joining on (source, token) yields
    EVERY qualifying pair — exactness preserved, which is why the
    unchanged DuckDB oracle still certifies the rewrite.

    ``t_num/t_den`` is the threshold as an exact rational, kept a hair
    BELOW the semantic threshold (e.g. 3999/10000 for 0.4): the final
    filter compares the ROUNDED jaccard, so a true similarity of
    0.39996 still rounds up to 0.4000 and must survive candidate
    pruning. ceil is integer arithmetic — float 0.4·sz can land an ulp
    above an integer and silently shorten the prefix.

    Scale shape (vs the r1 plan the verdict marked weak):
    - no broadcast of the corpus — every stage is a linear shuffle
      (token wordcount, frequency join, per-doc row_number, pair
      distinct), all AQE-sizable;
    - candidate volume is driven by rare-token collisions, not block
      size²; stopword-dominated prefixes are exactly what the
      rarest-first ordering avoids;
    - the exact verify joins token arrays back by doc_id (hash joins
      on a bigint key) and runs ONE array_intersect per candidate.

    Returns (doc_a, doc_b, sz_a, sz_b, inter) — callers apply their
    own jaccard formula, rounding, and semantic threshold.
    """
    # util.split_guard: callers that pass a freshly-derived frame over
    # a one-file parquet source would otherwise run the rank kernel,
    # the verify join build and the tokenize on ONE task.
    # ensure_split=False callers pass the _hashed_docs frame, which is
    # ALREADY guarded + persisted — re-checking here cost a full
    # analysis/planning pass (DataFrame→RDD conversion) per key and a
    # duplicate persist registration (optimization r16, VERDICT r15
    # item 1 suspect c).
    if ensure_split:
        docs = split_guard(docs)
        # The tokenized corpus is read 4× below (wordcount, prefix
        # join, and both sides of the verify join-back); materializing
        # it once on the executors (linear in corpus size, stays
        # distributed) beats re-tokenizing per branch — measured
        # 6.6s → 4.9s at sf0.1. persist(MEMORY_AND_DISK), not
        # localCheckpoint: same reuse, but lineage is kept (an executor
        # loss recomputes the lost partitions instead of failing the
        # job — localCheckpoint blocks are unreplicated) and memory
        # pressure spills instead of pinning executor storage, which
        # is the 100 TB-safe behavior.
        docs = persist_tracked(docs)
    # Global token order = (corpus frequency of the TOP-K tokens, token
    # value); tokens outside the top-K order as frequency 1 (they are
    # genuinely below the cutoff). The prefix theorem needs only a
    # CONSISTENT total order — frequency ordering merely minimizes
    # candidates — so truncating the frequency map keeps exactness
    # while bounding the pull, and the deterministic tie-break
    # (freq desc, tok asc) makes the cutoff stable across retries.
    # Ranking shape (optimization r15, guide §2.4/§4.2): the bounded
    # top-K frequency table is collected ONCE (≤ 65,536 rows — the
    # same bound the pre-r15 plan broadcast) into an O(1) Python dict,
    # and each doc ranks its own token array inside one Arrow-batched
    # pandas kernel — a per-row sort, NO shuffle. The pre-r15 shape
    # shuffled the entire exploded token stream through a row_number
    # window partitioned by doc_id (hash exchange + sort of every
    # token occurrence — at 100 TB a full corpus-token shuffle); now
    # the only pre-candidate shuffle left is the map-side-combined
    # wordcount itself. (A first r15 attempt kept the lookup in the
    # JVM via a broadcast map<long,long> literal — rejected:
    # GetMapValue on Catalyst map data is a LINEAR scan per lookup,
    # O(top-K) per token, measured +60% on dedup_ngram_jaccard whose
    # ngram vocabulary actually fills the map; the dict kernel is
    # O(1) per lookup.) Rank values are identical: toks are distinct
    # within a doc, so (ofreq, tok) is a strict total order and
    # sorted position + 1 ≡ the old row_number.
    topk = (
        docs.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(65536)
    )
    rank_sort = _freq_rank_sort_udf(topk)
    # ceil(t·sz) in exact integer math: (t_num·sz + t_den - 1) div t_den
    alpha = F.floor(
        (F.lit(t_num) * F.col("sz") + F.lit(t_den - 1)) / F.lit(t_den)
    ).cast("int")
    prefix_len = F.col("sz") - alpha + 1
    ranked_docs = docs.select(
        "doc_id", "source", "sz", rank_sort("toks").alias("_ord")
    )
    pref = ranked_docs.select(
        "doc_id",
        "source",
        "sz",
        F.posexplode(F.slice("_ord", F.lit(1), prefix_len)).alias("_p", "tok"),
    ).select(
        "source",
        "tok",
        "doc_id",
        "sz",
        (F.col("_p") + 1).alias("rnk"),
    )
    a = pref.select(
        "source",
        "tok",
        F.col("doc_id").alias("doc_a"),
        F.col("sz").alias("pza"),
        F.col("rnk").alias("rka"),
    )
    b = pref.select(
        "source",
        "tok",
        F.col("doc_id").alias("doc_b"),
        F.col("sz").alias("pzb"),
        F.col("rnk").alias("rkb"),
    )
    # PPJoin positional filter (Xiao et al. WWW'08): at the FIRST shared
    # prefix token there are no earlier shared tokens, so the pair's
    # overlap is bounded by 1 + min(tokens remaining after it on each
    # side); a qualifying pair needs overlap >= ceil(t·(sa+sb)/(1+t))
    # (jaccard ≥ t ⟺ inter ≥ t/(1+t)·(sa+sb)), in exact integer math
    # with t = num/den. Exactness preserved: every qualifying pair
    # passes at its first shared token, and distinct() keeps a pair if
    # ANY occurrence passes — only hopeless occurrences are dropped
    # before the (expensive) verify join-back.
    alpha_pair = F.floor(
        (
            F.lit(t_num) * (F.col("pza") + F.col("pzb"))
            + F.lit(t_den + t_num - 1)
        )
        / F.lit(t_den + t_num)
    )
    ubound = 1 + F.least(
        F.col("pza") - F.col("rka"), F.col("pzb") - F.col("rkb")
    )
    cand = (
        a.join(b, ["source", "tok"])
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            # size-ratio prune: jaccard <= min/max, so min·den >= max·num
            # is necessary at the (relaxed) threshold
            & (
                F.least("pza", "pzb") * t_den
                >= F.greatest("pza", "pzb") * t_num
            )
            & (ubound >= alpha_pair)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.col("sz").alias("sz_a"),
    )
    tb = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.col("sz").alias("sz_b"),
    )
    pairs = cand.join(ta, "doc_a").join(tb, "doc_b")
    # one intersect per candidate pair. The `+ 0*rand` term is a
    # value-neutral nondeterminism taint: it stops Catalyst from
    # substituting the downstream jaccard filter back through this
    # projection, which would re-evaluate the O(|toks|) intersect per
    # pair (measured 3 evals/row without it in the r1 plan, 1 with it).
    inter = (
        F.size(F.array_intersect("toks_a", "toks_b"))
        + (F.rand(0) * 0).cast("int")
    )
    return pairs.select(
        "doc_a", "doc_b", "sz_a", "sz_b", inter.alias("inter")
    )


def dedup_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact word-set Jaccard pairs (similarity >= 0.4 after rounding)
    within source blocks. Candidates come from the prefix-filter join
    (see _prefix_filter_pairs — exact, no corpus broadcast); tokens are
    pre-hashed to int64 (the shared _hashed_docs md5-long frame) so
    the per-pair array_intersect runs on longs, not strings (~5×
    cheaper; a 60-bit collision altering a set size is ~1e-8 per
    corpus — negligible, and since r14 the construction is the same
    cross-engine family everywhere, not a private hash)."""
    pairs = _prefix_filter_pairs(
        _hashed_docs(spark, sf), 3999, 10000, ensure_split=False
    )
    jaccard = F.round(
        F.col("inter").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
        + 1e-9,
        4,
    )
    return (
        pairs.withColumn("jaccard", jaccard)
        .where(F.col("jaccard") >= 0.4)
        .select("doc_a", "doc_b", "jaccard")
    )


_JACCARD_SQL = """
WITH t AS (
  SELECT doc_id, source, list_distinct({toks}) AS toks FROM documents
),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
               + 1e-9, 4) AS jaccard
  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= 0.4
""".format(toks=_TOKENS_SQL)


def dedup_containment_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Directional containment over the exact near-dup pair set:
    for every within-source pair at (rounded) jaccard >= 0.4, the two
    asymmetric containment scores |A∩B|/|A| and |A∩B|/|B| — which
    tells a dedup policy WHICH doc is the (near-)subset, the signal
    jaccard alone erases (quote-inside-article vs true mirror). Flags
    pairs where either direction reaches 0.8 as near-subsets.

    Exactness contract: candidates are the same prefix-filter join as
    dedup_jaccard_pairs (exact for jaccard >= 0.4 after rounding), so
    the jaccard floor is part of the surface — a LOW-jaccard
    high-containment pair (tiny doc quoted inside a huge one) is out
    of scope by definition here; dedup_containment_asym closes exactly
    that class via the one-sided prefix join (PPJoin's containment
    variant). Reuses the intersect counts the candidate join already
    computed — zero extra shuffles beyond dedup_jaccard_pairs."""
    pairs = _prefix_filter_pairs(
        _hashed_docs(spark, sf), 3999, 10000, ensure_split=False
    )
    jaccard = F.round(
        F.col("inter").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
        + 1e-9,
        4,
    )
    cont_a = F.round(
        F.col("inter").cast("double") / F.col("sz_a").cast("double") + 1e-9, 4
    )
    cont_b = F.round(
        F.col("inter").cast("double") / F.col("sz_b").cast("double") + 1e-9, 4
    )
    return (
        pairs.withColumn("jaccard", jaccard)
        .where(F.col("jaccard") >= 0.4)
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            cont_a.alias("containment_a"),
            cont_b.alias("containment_b"),
            (
                (cont_a >= 0.8) | (cont_b >= 0.8)
            ).alias("near_subset"),
        )
    )


_CONTAINMENT_SQL = """
WITH t AS (
  SELECT doc_id, source, list_distinct({toks}) AS toks FROM documents
),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.toks, b.toks)) AS inter,
         len(a.toks) AS sz_a, len(b.toks) AS sz_b
  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
),
s AS (
  SELECT doc_a, doc_b,
         ROUND(CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) + 1e-9, 4)
           AS jaccard,
         ROUND(CAST(inter AS DOUBLE) / sz_a + 1e-9, 4) AS containment_a,
         ROUND(CAST(inter AS DOUBLE) / sz_b + 1e-9, 4) AS containment_b
  FROM p
)
SELECT doc_a, doc_b, jaccard, containment_a, containment_b,
       (containment_a >= 0.8 OR containment_b >= 0.8) AS near_subset
FROM s WHERE jaccard >= 0.4
""".format(toks=_TOKENS_SQL)


def _asym_containment_candidates(
    docs: DataFrame, t_num: int, t_den: int, ensure_split: bool = True
) -> DataFrame:
    """Asymmetric-prefix containment candidate join — PPJoin's
    containment variant (Xiao et al. WWW'08 §6), the extension
    dedup_containment_pairs' docstring names: the prefix filter runs on
    the CONTAINED side only, against the container side's FULL token
    index, so a low-jaccard high-containment pair (a 50-token quote
    inside a 5,000-token article: jaccard ≪ 0.4, containment ≈ 1.0) is
    found — the one near-dup pair class the symmetric jaccard-floored
    candidates can never emit.

    Theorem (one-sided prefix): containment(A in B) >= t means
    |A∩B| >= α with α = ceil(t·|A|), so at most |A| − α of A's tokens
    miss B; under any consistent global token order, among A's first
    |A| − α + 1 tokens at least one is in B. Joining A's
    (|A| − α + 1)-prefix against ALL of B's tokens therefore yields
    every qualifying ordered pair — exactness preserved, which is why
    the quadratic DuckDB oracle certifies the rewrite.

    Per-occurrence prunes (a pair is kept if ANY occurrence passes, as
    in _prefix_filter_pairs, so only hopeless occurrences drop):
    - |B| >= α (the overlap can never exceed the container's size);
    - positional filter at the pair's first shared token: every shared
      token ranks >= the match on BOTH sides (the global order is
      consistent, and an earlier shared A-prefix token would itself
      have been the first match), so
      |A∩B| <= 1 + min(|A| − rk_a, |B| − rk_b).

    Scale shape: the container-side index is the whole tokenized
    corpus — ONE linear (source, tok) shuffle, the same volume the
    wordcount stage already moves; candidate volume is
    Σ_{prefix occurrences} df(token), minimized by the rarest-first
    order (a doc's prefix is its ~(1−t) rarest tokens). No corpus
    broadcast, no all-pairs join; the only broadcast is the bounded
    65,536-row top-K frequency map shared with _prefix_filter_pairs.

    ``t_num/t_den`` is the relaxed rational (7999/10000 for 0.8): the
    final filter compares the ROUNDED containment, so a true value of
    0.79995 must survive candidate pruning.

    Returns ordered candidates (doc_a=contained, doc_b=container,
    sz_a, sz_b, inter) — callers apply rounding and the semantic
    threshold."""
    # single-split guard — same rationale (and same ensure_split
    # contract) as _prefix_filter_pairs
    if ensure_split:
        docs = split_guard(docs)
        docs = persist_tracked(docs)
    # Ranking shape (optimization r15, guide §2.4/§4.2): bounded-pull
    # freq dict + per-row Arrow-kernel sort replaces the row_number
    # window's full corpus-token shuffle — same construction (and
    # rank-value identity argument) as _prefix_filter_pairs above.
    topk = (
        docs.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(65536)
    )
    rank_sort = _freq_rank_sort_udf(topk)
    ranked = (
        docs.select(
            "doc_id", "source", "sz", rank_sort("toks").alias("_ord")
        )
        .select(
            "doc_id",
            "source",
            "sz",
            F.posexplode("_ord").alias("_p", "tok"),
        )
        .select(
            "source",
            "tok",
            "doc_id",
            "sz",
            (F.col("_p") + 1).alias("rnk"),
        )
    )
    # α = ceil(t·sz) in exact integer math, on the CONTAINED side
    alpha_a = F.floor(
        (F.lit(t_num) * F.col("pza") + F.lit(t_den - 1)) / F.lit(t_den)
    ).cast("int")
    a = ranked.where(
        # prefix cut: rnk <= sz − ceil(t·sz) + 1, kept in integer form
        F.col("rnk")
        <= F.col("sz")
        - F.floor(
            (F.lit(t_num) * F.col("sz") + F.lit(t_den - 1)) / F.lit(t_den)
        ).cast("int")
        + 1
    ).select(
        "source",
        "tok",
        F.col("doc_id").alias("doc_a"),
        F.col("sz").alias("pza"),
        F.col("rnk").alias("rka"),
    )
    b = ranked.select(
        "source",
        "tok",
        F.col("doc_id").alias("doc_b"),
        F.col("sz").alias("pzb"),
        F.col("rnk").alias("rkb"),
    )
    ubound = 1 + F.least(
        F.col("pza") - F.col("rka"), F.col("pzb") - F.col("rkb")
    )
    cand = (
        a.join(b, ["source", "tok"])
        .where(
            (F.col("doc_a") != F.col("doc_b"))
            & (F.col("pzb") >= alpha_a)
            & (ubound >= alpha_a)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.col("sz").alias("sz_a"),
    )
    tb = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.col("sz").alias("sz_b"),
    )
    pairs = cand.join(ta, "doc_a").join(tb, "doc_b")
    # the `+ 0*rand` taint keeps the O(|toks|) intersect out of
    # re-substituted join conditions / duplicate evaluation (the r1
    # jaccard trap; plan-pinned)
    inter = (
        F.size(F.array_intersect("toks_a", "toks_b"))
        + (F.rand(0) * 0).cast("int")
    )
    return pairs.select(
        "doc_a", "doc_b", "sz_a", "sz_b", inter.alias("inter")
    )


def dedup_containment_asym(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered containment pairs WITHOUT a jaccard floor: every
    within-source (contained, container) pair whose rounded containment
    |A∩B|/|A| reaches 0.8 — including the low-jaccard quote-in-article
    class dedup_containment_pairs' symmetric candidates cannot reach
    (flagged by ``beyond_jaccard_scope``). Candidates via the
    asymmetric one-sided prefix join (_asym_containment_candidates);
    tokens pre-hashed to int64 as in dedup_jaccard_pairs (the shared
    _hashed_docs md5-long frame since r14).

    Margin audit (the r8 rule): at sf0.001/sf0.01 the closest
    non-passing containment is 0.7931 — 69 rounding steps below the
    0.8 cut — and passing values at exactly 0.8 are identical exact
    rationals in both engines; threshold flakes need a data change,
    not a regeneration."""
    pairs = _asym_containment_candidates(
        _hashed_docs(spark, sf), 7999, 10000, ensure_split=False
    )
    containment = F.round(
        F.col("inter").cast("double") / F.col("sz_a").cast("double") + 1e-9,
        4,
    )
    jaccard = F.round(
        F.col("inter").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
        + 1e-9,
        4,
    )
    return (
        pairs.withColumn("containment", containment)
        .withColumn("jaccard", jaccard)
        .where(F.col("containment") >= 0.8)
        .select(
            F.col("doc_a").alias("doc_contained"),
            F.col("doc_b").alias("doc_container"),
            "containment",
            "jaccard",
            (F.col("jaccard") < 0.4).alias("beyond_jaccard_scope"),
        )
    )


_CONTAINMENT_ASYM_SQL = """
WITH t AS (
  SELECT doc_id, source, list_distinct({toks}) AS toks FROM documents
),
p AS (
  SELECT a.doc_id AS doc_contained, b.doc_id AS doc_container,
         len(list_intersect(a.toks, b.toks)) AS inter,
         len(a.toks) AS sz_a, len(b.toks) AS sz_b
  FROM t a JOIN t b ON a.source = b.source AND a.doc_id <> b.doc_id
),
s AS (
  SELECT doc_contained, doc_container,
         ROUND(CAST(inter AS DOUBLE) / sz_a + 1e-9, 4) AS containment,
         ROUND(CAST(inter AS DOUBLE) / (sz_a + sz_b - inter) + 1e-9, 4)
           AS jaccard
  FROM p
)
SELECT doc_contained, doc_container, containment, jaccard,
       (jaccard < 0.4) AS beyond_jaccard_scope
FROM s WHERE containment >= 0.8
""".format(toks=_TOKENS_SQL)


# MinHash band geometry: b=64 bands × r=4 rows = 256 permutations.
# Sized for the dedup_near_recall pin (full recall at exact jaccard
# >= 0.7): a pair at jaccard j shares a given band with p = j^r, so
# the per-pair miss probability over the whole family is (1-j^4)^64 —
# 2.3e-8 at j=0.7 (~6e-3 expected misses per testdata regeneration at
# sf0.1's observed 2.55e5 qualifying pairs, two orders beyond the old
# MLlib 16-table margin), while a random j=0.05 background pair becomes a
# candidate with p ≈ 64·(0.05)^4 = 4e-4, keeping candidate volume
# input-linear. Deterministic by construction: fixed-constant
# mod-prime permutations, no seeded-random hash family draw (VERDICT
# r10 item 1).
_MH_BANDS = 64
_MH_ROWS = 4

# r13 hash family swap (graduating ext_dedup_near from rows-only):
# mod-prime universal hashing over an md5-derived token hash, chosen so
# EVERY stage reproduces in DuckDB. Token hash h = first 15 hex digits
# of md5(token) parsed base-16 (Spark conv ≡ DuckDB '0x…'::BIGINT —
# verified equal), reduced mod 2^30; permutation p = (A_p·h30 + B_p)
# mod (2^31−1). Bounds are the point: A_p < 2^31 and h30 < 2^30 keep
# every product < 2^61, so the arithmetic is exact BIGINT in both
# engines with no overflow (Spark 4 runs ANSI mode — a Java-wrap
# trick would throw) and no float. Constants come from a fixed-seed
# PRNG at import (deterministic, committed behavior); the old
# xxhash64 family was engine-private, which is the only reason
# ext_dedup_near was rows-only.
_MH_P = 2_147_483_647  # 2^31 − 1, Mersenne prime
_MH_H_MOD = 1 << 30


def _mh_consts() -> tuple[list[int], list[int]]:
    import random

    rng = random.Random(13)
    n = _MH_BANDS * _MH_ROWS
    return (
        [rng.randrange(1, _MH_P) for _ in range(n)],
        [rng.randrange(0, _MH_P) for _ in range(n)],
    )


_MH_A, _MH_B = _mh_consts()


def _md5_long(col):
    """First 60 bits of md5 as a non-negative BIGINT — the
    cross-engine token hash (DuckDB mirror:
    ('0x' || substr(md5(x), 1, 15))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _hashed_docs(spark: SparkSession, sf: str) -> DataFrame:
    """THE shared token-set frame of the set-similarity family since
    r14: (doc_id, source, toks array<long> — DISTINCT `_md5_long`
    token hashes, sz). One documents scan, one tokenize, one md5 per
    token, persist_tracked once per query scope. Every caller inside
    one registry key builds the IDENTICAL plan, so Spark's
    CacheManager canonicalized-plan lookup reuses one InMemoryRelation
    across sub-operators (dedup_near_recall composes
    dedup_jaccard_pairs + ext_dedup_near and tokenizes ONCE).

    Hash-invariance contract: downstream consumers use the hashes only
    for set intersection/size and for a consistent global token order
    (prefix filters are exact under ANY total order), so the quadratic
    raw-token DuckDB oracles certify the outputs unchanged; using the
    md5-long family (vs the pre-r14 engine-private xxhash64) makes the
    construction itself engine-portable (VERDICT r13 item 3).

    The CONDITIONAL repartition spreads tokenize+md5 (and everything
    downstream of this now shuffle-free frame — the signature kernel,
    the band join) off the single source split at test scale; without
    it the whole MinHash pipeline ran in ONE task (61 s vs ~3 s for
    the blocking stage at sf0.1 — the pre-r14 shape was accidentally
    saved by its groupBy shuffle). It fires ONLY when the scan has
    fewer splits than defaultParallelism (ADVICE r14: an unconditional
    repartition() is a full round-robin exchange of the hashed-token
    corpus regardless of split count — at 100 TB the source is already
    thousands of splits and the old shape would have shuffled the
    whole corpus for nothing; now the exchange exists only at test
    scale, where it is the fix, and the production path is genuinely
    zero-shuffle until the band join)."""
    return persist_tracked(
        split_guard(table(spark, sf, "documents"))
        .select(
            "doc_id",
            "source",
            F.array_distinct(F.transform(TOKENS(), _md5_long)).alias("toks"),
        )
        .withColumn("sz", F.size("toks"))
    )


def _minhash_sig(docs: DataFrame) -> DataFrame:
    """256 MinHash signature components per doc as ONE array<long>
    column: sig[p] = min over the doc's token hashes of
    (A_p·(h mod 2^30) + B_p) mod P. ``docs`` must carry (doc_id, toks
    array<long> — `_md5_long` hashes, the _hashed_docs frame; min
    over a multiset equals min over its set, so distinct-ness is
    free).

    Shape (r14, VERDICT r13 item 2): an Arrow-batched vectorized
    numpy kernel — the (n_tokens × 256) mult-add-mod lattice is BLAS-
    shaped integer math, and the measured A/B at sf0.1
    (round-14 A/B, NOTES.md) reads 0.88 s vs 3.87 s for the explode +
    256-column MIN hash-aggregate it replaces (4.4×; HOF fold/array
    variants were 1.5–2× SLOWER than the aggregate — interpreted
    lambdas). Exactness: everything is int64 with every intermediate
    < 2^61 (A < 2^31, h30 < 2^30), so numpy int64 arithmetic is exact
    and byte-equal to the Spark/DuckDB BIGINT formula — verified
    value-identical row-for-row in the same A/B. Zero shuffle: the
    signature is a per-row map over the cached token frame (the old
    shape shuffled a 256-column row per doc); at 100 TB this stage is
    embarrassingly parallel and Arrow moves one long array per doc
    each way."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    a_np = np.array(_MH_A, dtype=np.int64)
    b_np = np.array(_MH_B, dtype=np.int64)

    @pandas_udf("array<long>")
    @kernel
    def sig256(th: pd.Series) -> pd.Series:
        out = []
        for arr in th:
            h = np.asarray(arr, dtype=np.int64) % _MH_H_MOD
            # (n, 256) lattice; int64 exact (products < 2^61)
            vals = (h[:, None] * a_np[None, :] + b_np[None, :]) % _MH_P
            out.append(vals.min(axis=0))
        return pd.Series(out)

    # size guard keeps explode-semantics parity: a doc with an empty
    # token array has NO signature row (the oracle's unnest emits no
    # rows for it). TOKENS() never returns an empty array today
    # (splitting "" yields [""]), so this is defensive, not load-
    # bearing — but numpy min over axis 0 of an empty lattice raises.
    return docs.where(F.size("toks") > 0).select(
        "doc_id", sig256("toks").alias("sig")
    )


def _minhash_bands(docs: DataFrame) -> DataFrame:
    """64 banded-MinHash join keys per doc as ONE array<long> column:
    bands[k] = md5-long of the ':'-joined 4 signature rows of band k —
    the (n_tokens × 256) mult-add-mod lattice and the band digests
    FUSED in one Arrow kernel (optimization r16, VERDICT r15 item 1:
    the r15-build split — persist(_minhash_sig) → second pandas_udf —
    paid an extra full Arrow round-trip plus an intermediate cache
    materialization per run; it existed for scopes composing the
    estimator BESIDE the banded candidates, and no registry key does —
    est_error consumes _minhash_sig alone, ext_dedup_near consumes
    bands alone). Digests in Python hashlib — byte-identical to the
    Spark/DuckDB construction (str(int) = CAST(BIGINT AS VARCHAR) for
    non-negatives, hashlib hexdigest = md5() lowercase hex,
    int(h[:15], 16) = the _md5_long parse). Doing the digests in a
    pandas_udf rather than declaratively is load-bearing, not taste:
    the declarative form — a 64-element array of
    md5(concat_ws(':', element_at(sig, ...)×4)) — overflows janino's
    64 KB method limit, and the silent interpreted fallback ran the
    whole blocking stage at ~60 s vs ~3 s (measured at sf0.1, r14).
    ``docs``: the _hashed_docs frame (doc_id, toks array<long>)."""
    import hashlib

    import numpy as np

    from pyspark.sql.functions import pandas_udf

    a_np = np.array(_MH_A, dtype=np.int64)
    b_np = np.array(_MH_B, dtype=np.int64)

    @pandas_udf("array<long>")
    @kernel
    def bands64(th: pd.Series) -> pd.Series:
        out = []
        for arr in th:
            h = np.asarray(arr, dtype=np.int64) % _MH_H_MOD
            vals = (h[:, None] * a_np[None, :] + b_np[None, :]) % _MH_P
            m = vals.min(axis=0)
            bl = []
            for k in range(_MH_BANDS):
                s = ":".join(
                    str(int(m[k * _MH_ROWS + r])) for r in range(_MH_ROWS)
                )
                bl.append(
                    int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
                )
            out.append(bl)
        return pd.Series(out)

    # size guard keeps explode-semantics parity with _minhash_sig
    return docs.where(F.size("toks") > 0).select(
        "doc_id", bands64("toks").alias("bands")
    )


def _banded_candidates(docs: DataFrame) -> DataFrame:
    """Banded-MinHash candidate pairs (the blocking stage, before the
    exact-jaccard verify): 64 band keys per doc (md5-long over each
    band's ':'-joined 4 signature rows — 8-byte join keys, and DuckDB
    reproduces them), narrow (doc_id, band_index, band_value) equi-join,
    map-side-combinable distinct on the bare pair key. Split out so
    tools/scale_probe.py can count the blocking stage separately from
    the verify. The band frame comes from the FUSED lattice+digest
    kernel (one Arrow pass over the cached token frame — see
    _minhash_bands for why the r15-build sig/bands split was
    reverted). ``docs``: the _hashed_docs frame (doc_id, toks
    array<long>)."""
    sigs = persist_tracked(_minhash_bands(docs))

    def side(s: str) -> DataFrame:
        return sigs.select(
            F.col("doc_id").alias(f"doc_{s}"),
            F.posexplode("bands").alias("k", "bv"),
        )

    return (
        side("a")
        .join(side("b"), ["k", "bv"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def ext_dedup_near(spark: SparkSession, sf: str) -> DataFrame:
    """Banded-MinHash near-dup pairs at exact jaccard >= 0.5 — the
    house LSH recipe (dedup_simhash_hamming's band-join generalized to
    b×r MinHash bands; VERDICT r10 item 1), replacing MLlib
    MinHashLSH/approxSimilarityJoin whose seeded hash family was
    engine-private AND whose broadcast+explode plan swung 67–157 s on
    identical code at sf0.1 (the single largest bench-noise source for
    three consecutive rounds).

    Pipeline (zero-shuffle until the band join, no corpus broadcast):
    1. ONE shared _hashed_docs scan: distinct md5-long token hashes
       per doc, persisted once and reused by BOTH the signature and
       the exact-verify stages (r14 hoist, VERDICT r13 item 2 — the
       pre-r14 shape tokenized the corpus twice, md5 for signatures
       plus xxhash64 for verify sets);
    2. per-doc MinHash signature = the _minhash_sig vectorized numpy
       kernel — a per-row Arrow-batched map, 4.4× the old explode +
       256-column MIN aggregate and one doc_id shuffle cheaper (A/B
       recorded in NOTES.md round 14, value-identical);
    3. band keys: md5-long over each band's ':'-joined 4 signature
       rows → 64 longs (8-byte join keys — the 32-char md5 STRING key
       variant measured 26 s vs 5.9 s warm at sf0.1, the string
       shuffle+compare being the entire difference); band equi-join
       on (band_index, band_value) over NARROW (doc_id, k,
       band_value) rows with doc_a < doc_b;
    4. pair dedup via map-side-combinable distinct() on the bare pair
       key. Deliberately NOT the dedup_simhash_hamming canonical-band
       emit: that trick needs both signatures in hand at the join, and
       here a signature is 64 longs (512 B) vs simhash's one long —
       at ~8 expected matching bands per qualifying pair the array
       payload would multiply the join shuffle ~20× (measured 70 GB
       intermediate at sf0.1's dense 8.6M-pair graph), while the
       narrow distinct shuffles 16-byte pair rows that map-side
       combine first;
    5. exact verify: join the md5-long token sets (the same cached
       _hashed_docs frame) back by doc_id and keep rounded exact
       jaccard >= 0.5 (one array_intersect per candidate, same as the
       prefix-filter verify).

    FULLY ORACLED since r13 (rows-only 5 → 4): the old xxhash64
    family was engine-private, so the oracle could not reproduce the
    banded candidate set; the md5-derived mod-prime family reproduces
    byte-identically in DuckDB, so the oracle now runs the ENTIRE
    pipeline — same signatures, same bands, same candidates, same
    exact verify — and the driver hash checks the real output, not a
    recall summary. (Since r14 the verify sets are the SAME md5-long
    frame the signatures read — one tokenize+hash pass total, and the
    engine/oracle constructions are identical end to end.) The recall
    companion
    (dedup_near_recall) still hash-pins full recall at >= 0.7 against
    the exact prefix-filter pairs every round — band-miss math is
    family-independent: (1-j^4)^64.

    Scale shape at 100 TB: tokenize+hash+signature are per-row maps
    over one cached scan (zero shuffle); the band join shuffles 64
    (band, long) rows per doc; candidates are driven by true
    similarity, not block size².
    Margin audit (r10 process rule): band values are md5 longs — no
    int overflow anywhere; sz_a+sz_b-inter <= 2·|doc| fits int.
    Reference anchor: SURVEY §2.12 ext_dedup_near (MinHash/Jaccard
    near-dup contract)."""
    docs = _hashed_docs(spark, sf)
    cand = _banded_candidates(docs)
    ta = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.col("sz").alias("sz_a"),
    )
    tb = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.col("sz").alias("sz_b"),
    )
    # rand-taint as in _prefix_filter_pairs: stops Catalyst pushing the
    # jaccard filter back through the projection and re-running the
    # O(|toks|) intersect per reference
    inter = F.size(F.array_intersect("toks_a", "toks_b")) + (
        F.rand(0) * 0
    ).cast("int")
    # spread the verify: when the cached docs side broadcast-joins,
    # the per-pair array_intersect inherits the candidate frame's
    # partitioning, and AQE's BYTE-size coalesce (the pair set is 16
    # B/row) legitimately squeezes a small-sf pair set onto one task —
    # but the verify's cost is CPU per pair, not bytes (92k
    # intersects on one task at sf0.01, measured). One narrow
    # round-robin shuffle is noise next to that CPU; round-robin
    # REPARTITION_BY_NUM, not repartition(n, pair_key) — a pair-key
    # hash exchange collapses into distinct()'s identical exchange
    # and AQE coalesces it right back to one task (observed). At
    # 100 TB a sort-merge verify reshuffles by doc anyway and this
    # becomes a cheap no-op-grade rebalance.
    cand = cand.repartition(spark.sparkContext.defaultParallelism)
    scored = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                inter.cast("double")
                / (F.col("sz_a") + F.col("sz_b") - inter).cast("double")
                + 1e-9,
                4,
            ).alias("jaccard_sim"),
        )
    )
    return scored.where(F.col("jaccard_sim") >= 0.5)


def _minhash_ctes_sql(toks_sql: str) -> str:
    """The DuckDB mirror of _minhash_mins + _banded_candidates' band
    derivation, as a CTE block (no leading WITH) over ``documents``:
    th (30-bit reduced md5 token hash) → mins (256 formula-generated
    MIN permutation aggregates, same A/B/P constants as the engine) →
    bands (64 md5 band keys) → bd (narrow doc_id, k, bv rows)."""
    n_perm = _MH_BANDS * _MH_ROWS
    mins = ",\n         ".join(
        f"MIN(({_MH_A[p]} * h30 + {_MH_B[p]}) % {_MH_P}) AS m{p}"
        for p in range(n_perm)
    )
    bands = ",\n         ".join(
        "('0x' || substr(md5("
        + " || ':' || ".join(
            f"CAST(m{k * _MH_ROWS + r} AS VARCHAR)" for r in range(_MH_ROWS)
        )
        + f"), 1, 15))::BIGINT AS b{k}"
        for k in range(_MH_BANDS)
    )
    band_list = ", ".join(f"b{k}" for k in range(_MH_BANDS))
    return """
th AS (
  SELECT doc_id,
         (('0x' || substr(md5(tok), 1, 15))::BIGINT % {hmod}) AS h30
  FROM (SELECT doc_id, unnest(list_distinct({toks})) AS tok
        FROM documents)),
mins AS (
  SELECT doc_id, {mins}
  FROM th GROUP BY 1),
band_cols AS (
  SELECT doc_id, {bands} FROM mins),
bands AS (
  SELECT doc_id, [{band_list}] AS bl FROM band_cols),
bd AS (
  SELECT doc_id, generate_subscripts(bl, 1) AS k, unnest(bl) AS bv
  FROM bands)
""".format(hmod=_MH_H_MOD, toks=toks_sql, mins=mins, bands=bands,
           band_list=band_list)


_NEAR_SQL = """
WITH {mh},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bd a JOIN bd b ON a.k = b.k AND a.bv = b.bv
  WHERE a.doc_id < b.doc_id),
sets AS (
  SELECT doc_id,
         list_distinct(list_transform({toks}, t ->
           ('0x' || substr(md5(t), 1, 15))::BIGINT)) AS s
  FROM documents),
scored AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(sa.s, sb.s)) AS inter,
         len(sa.s) AS za, len(sb.s) AS zb
  FROM cand c JOIN sets sa ON sa.doc_id = c.doc_a
              JOIN sets sb ON sb.doc_id = c.doc_b)
SELECT doc_a, doc_b,
       ROUND(CAST(inter AS DOUBLE) / (za + zb - inter) + 1e-9, 4)
         AS jaccard_sim
FROM scored
WHERE ROUND(CAST(inter AS DOUBLE) / (za + zb - inter) + 1e-9, 4) >= 0.5
"""


def _near_sql() -> str:
    return _NEAR_SQL.format(
        mh=_minhash_ctes_sql(_TOKENS_SQL).strip(), toks=_TOKENS_SQL
    )


def dedup_near_recall(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH recall bound asserted against LIVE data, hash-checked
    (VERDICT r7 item 7 — the agg_hll_vs_exact pattern applied to the
    last r1-vintage rows-only operator): the EXACT prefix-filter
    jaccard pairs (dedup_jaccard_pairs' machinery — the oracle
    complement of LSH at 100 TB) at similarity >= 0.7 must ALL appear
    among ext_dedup_near's LSH candidates. The surface is the exact
    pair count (oracle-SQL-expressible) plus a boolean the oracle pins
    to TRUE: full recall at >= 0.7. If a Spark upgrade, a reseeded
    hash family, or a testdata regeneration ever drops a high-jaccard
    pair, the driver hash goes red — the LSH op self-certifies its
    quality bound every round instead of riding a one-time unit test.

    Why 0.7 (margin math for the house banded family, b=64 r=4):
    the hash family is FIXED (the r13 md5-derived mod-prime
    permutations — no per-fit draw), so the miss event is
    deterministic per dataset, but the data regenerates between
    rounds — treat each regeneration as a fresh draw. Per-pair band-miss probability at jaccard j is
    (1-j^4)^64: 2.3e-8 at 0.7, i.e. ~6e-3 expected misses at sf0.1's
    observed 2.55e5 qualifying pairs per regeneration; at 0.6 it would
    be 1.4e-4 (~10¹ expected misses — guaranteed red), hence the 0.7
    floor. A banded candidate at >= 0.7 always survives the
    exact-verify >= 0.5 output cut, so band recall is the only loss
    term.

    Second-order term: both sides read the SAME _hashed_docs md5-long
    token frame (since r14 literally the same cached DataFrame, one
    tokenize for the whole key), so there is no feature-space
    discretization gap at all (the old HashingTF 2^18-bucket collision
    analysis is obsolete); a 60-bit hash collision altering a set size
    is ~1e-8 per corpus — negligible against the 0.2 jaccard margin.

    Scale: reuses the two production candidate paths unchanged (both
    banded/prefix-filtered, no all-pairs); the comparison itself is a
    left-anti join on the pair key plus two 1-row aggregates."""
    # persist: `exact` feeds BOTH the anti-join and its own count —
    # unpersisted, the whole prefix-filter pair pipeline runs twice
    exact = persist_tracked(
        dedup_jaccard_pairs(spark, sf)
        .where(F.col("jaccard") >= 0.7)
        .select("doc_a", "doc_b")
    )
    lsh = ext_dedup_near(spark, sf).select("doc_a", "doc_b")
    missed = exact.join(lsh, ["doc_a", "doc_b"], "left_anti")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    n_miss = missed.agg(F.count(F.lit(1)).alias("_n_missed"))
    return n_exact.crossJoin(F.broadcast(n_miss)).select(
        "n_exact_pairs", (F.col("_n_missed") == 0).alias("full_recall")
    )


# composed from _JACCARD_SQL (the oracle of the exact pair op this
# recall bound reuses on the Spark side) — a hand-typed copy would be
# the one missed by the next tokenization/rounding edit (r8 review;
# same rule as the emb sampler's hash SQL). 0.7-pairs are a subset of
# the 0.4-filtered output, so filtering its result is exact.
_NEAR_RECALL_SQL = """
SELECT COUNT(*) AS n_exact_pairs, TRUE AS full_recall
FROM ({jaccard}) j
WHERE j.jaccard >= 0.7
""".format(jaccard=_JACCARD_SQL)


def dedup_minhash_est_error(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash ESTIMATOR quality pinned against LIVE data — the
    companion completing the r11 banded-MinHash rewrite's evidence
    (the agg_hll_vs_exact / sim_ivf_recall pattern, beside
    dedup_near_recall's RECALL pin): over every exact-jaccard >= 0.7
    pair (the prefix-filter machinery), the 256-permutation signature
    agreement fraction |{p: m_p(a) = m_p(b)}|/256 estimates jaccard;
    the driver hash pins mean |est − exact| <= 0.04 and
    max |est − exact| <= 0.2 as oracle-TRUE booleans plus the exact
    pair count.

    Margin math: with independent permutations the agreement count is
    Binomial(256, j), per-pair std sqrt(j(1−j)/256) <= 0.0313, so
    E|err| <= 0.025 (0.04 pin has ~60% headroom; the mean over the
    observed 2.5e5 sf0.1 pairs concentrates to ±1e-4). Max: per-pair
    P(|err| > 0.2) <= 2·exp(−2·256·0.04) ≈ 2.5e-9 (Hoeffding), union
    over 2.55e5 pairs ≈ 6e-4 per testdata regeneration. Measured at
    sf0.1 (n=255,071): mean_err 0.0195, max_err 0.1065 — 1.9-2.1×
    inside both pins, matching the Binomial prediction. Estimator
    evaluated on EXACT pairs, not banded candidates, so there is no
    band-selection bias in the error sample.

    Scale: reuses the linear signature aggregate and the linear
    prefix-filter pair join; the estimate itself is one zip_with over
    two 256-long arrays per pair."""
    exact = (
        dedup_jaccard_pairs(spark, sf)
        .where(F.col("jaccard") >= 0.7)
        .select("doc_a", "doc_b", "jaccard")
    )
    n_perm = _MH_BANDS * _MH_ROWS
    # persist: sig feeds BOTH join sides — unpersisted, the signature
    # kernel runs twice (r11 post-close review). _hashed_docs is the
    # same cached frame dedup_jaccard_pairs just built above —
    # canonicalized-plan cache hit, zero extra tokenize (r14 hoist).
    sig = persist_tracked(_minhash_sig(_hashed_docs(spark, sf)))
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda b: b
        )
    ).cast("double") / F.lit(float(n_perm))
    err = F.abs(est - F.col("jaccard"))
    return (
        exact.join(sa, "doc_a")
        .join(sb, "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_exact_pairs"),
            # coalesce: zero qualifying pairs → vacuous TRUE, matching
            # the oracle's literal (avg/max over 0 rows is NULL, and
            # NULL <= x is NULL, not TRUE — r11 post-close review)
            (F.coalesce(F.avg(err), F.lit(0.0)) <= 0.04).alias(
                "mean_err_within"
            ),
            (F.coalesce(F.max(err), F.lit(0.0)) <= 0.2).alias(
                "max_err_within"
            ),
        )
    )


_MINHASH_EST_SQL = """
SELECT COUNT(*) AS n_exact_pairs,
       TRUE AS mean_err_within,
       TRUE AS max_err_within
FROM ({jaccard}) j
WHERE j.jaccard >= 0.7
""".format(jaccard=_JACCARD_SQL)


# hex digits of md5 whose bit j is set — the engine-portable source of
# 4 projection bits per digit (generalizes dedup_simhash_hamming's
# odd-digit set, which is exactly _HEX_BIT[0])
_HEX_BIT = (
    ("1", "3", "5", "7", "9", "b", "d", "f"),  # bit 0
    ("2", "3", "6", "7", "a", "b", "e", "f"),  # bit 1
    ("4", "5", "6", "7", "c", "d", "e", "f"),  # bit 2
    ("8", "9", "a", "b", "c", "d", "e", "f"),  # bit 3
)


def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """64-bit frequency-weighted SimHash signatures, FULLY ORACLED
    (r11 re-point, VERDICT r10 item 4: the old xxhash64-derived
    signature was engine-private → rows-only, strictly dominated by
    the oracled dedup_simhash_hamming; this swap derives all 64
    projection bits from md5 — identical lowercase hex in Spark and
    DuckDB — closing the gap while keeping this op's own semantic:
    64-bit signature over the FULL token stream, term-frequency
    weighted, vs the hamming variant's 32-bit distinct-set form).

    Bit i (0..63) of a doc = sign of Σ over its token OCCURRENCES of
    ±1 by bit (i mod 4) of hex digit (i div 4 + 1) of md5(token) —
    Charikar sign-random-projection with exact integer math (a Σ of ±1
    ties to 0 only at even counts and breaks to bit 0 identically in
    both engines). Expressed as 64 map-side-combinable conditional
    sums → one doc_id shuffle, no UDF. Bit 63 enters the long via the
    Java shift wrap (1L<<63 = Long.MIN_VALUE); the oracle mirrors it
    as the explicit two's-complement addend, summed in HUGEINT and
    cast back — byte-identical signatures.

    Scale: identical shuffle shape to dedup_simhash_hamming (linear
    token explode + wide min/sum agg); at 10⁹ docs the 64-column sum
    agg moves one combined row per doc per partition."""
    docs = table(spark, sf, "documents").select("doc_id", TOKENS().alias("toks"))
    tok = docs.select("doc_id", F.explode("toks").alias("tok")).select(
        "doc_id", F.md5("tok").alias("m")
    )
    bit_sums = [
        F.sum(
            F.when(
                F.substring(F.col("m"), i // 4 + 1, 1).isin(*_HEX_BIT[i % 4]),
                1,
            ).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    sums = tok.groupBy("doc_id").agg(*bit_sums)
    sig = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseXOR(term)
    return sums.select("doc_id", sig.alias("simhash")).orderBy("doc_id")


_SIMHASH_SQL = """
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS tok FROM documents
),
h AS (SELECT doc_id, md5(tok) AS m FROM tok),
b AS (
  SELECT doc_id, g.i,
         CASE WHEN (
             (strpos('0123456789abcdef', substr(m, (g.i // 4) + 1, 1)) - 1)
             >> (g.i % 4)
           ) & 1 = 1
           THEN 1 ELSE -1 END AS s
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) g
),
t AS (SELECT doc_id, i, SUM(s) AS tot FROM b GROUP BY 1, 2),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN tot > 0 THEN
                    CASE WHEN i = 63 THEN -9223372036854775808
                         ELSE (CAST(1 AS BIGINT) << i) END
                  ELSE 0 END) AS BIGINT) AS simhash
  FROM t GROUP BY 1
)
SELECT doc_id, simhash FROM sig ORDER BY doc_id
""".format(toks=_TOKENS_SQL)


def _simhash32_band_join(spark: SparkSession, sf: str) -> DataFrame:
    """The 32-bit-SimHash 4×8-bit pigeonhole band equi-join (doc_a <
    doc_b, sig columns carried) BEFORE the canonical-band dedup and
    hamming cut — split out so tools/scale_probe.py can count the
    blocking-stage volume separately: 8-bit bands have only 256
    buckets, so the per-band join volume grows as Σ_bucket c² ≈
    n²/256, i.e. the multi-index SATURATES once n ≫ 2⁸ · tolerable
    bucket size. See the dedup_simhash_hamming docstring for the
    measured saturation point and the wider-signature handoff."""
    docs = table(spark, sf, "documents").select(
        "doc_id", F.array_distinct(TOKENS()).alias("toks")
    )
    tok = docs.select("doc_id", F.explode("toks").alias("tok")).select(
        "doc_id", F.md5("tok").alias("m")
    )
    odd = ("1", "3", "5", "7", "9", "b", "d", "f")
    bit_sums = [
        F.sum(
            F.when(F.substring(F.col("m"), j, 1).isin(*odd), 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(1, 33)
    ]
    sums = tok.groupBy("doc_id").agg(*bit_sums)
    sig = None
    for j in range(1, 33):
        term = F.shiftleft(
            F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
            j - 1,
        )
        sig = term if sig is None else sig + term
    sigs = persist_tracked(sums.select("doc_id", sig.alias("sig")))

    def band(side: str, k_col: str, bv_col: str):
        s = sigs.select(
            F.col("doc_id").alias(f"doc_{side}"),
            F.col("sig").alias(f"sig_{side}"),
        )
        bands = F.array(
            *[
                F.struct(
                    F.lit(k).alias("k"),
                    F.shiftright(f"sig_{side}", 8 * k)
                    .bitwiseAND(F.lit(255))
                    .alias("bv"),
                )
                for k in range(4)
            ]
        )
        return s.select(
            f"doc_{side}",
            f"sig_{side}",
            F.explode(bands).alias("_b"),
        ).select(
            f"doc_{side}",
            f"sig_{side}",
            F.col("_b.k").alias(k_col),
            F.col("_b.bv").alias(bv_col),
        )

    a = band("a", "k", "bv")
    b = band("b", "k", "bv")
    return a.join(b, ["k", "bv"]).where(F.col("doc_a") < F.col("doc_b"))


def dedup_simhash_hamming(spark: SparkSession, sf: str) -> DataFrame:
    """Banded Hamming-distance near-dup pairs over ORACLED SimHash
    signatures — the multi-index recipe every perceptual-hash (pHash /
    dHash image dedup) pipeline runs at scale, exercised here on text
    so the whole pipeline is hash-checkable (this variant derives
    its 32-bit signature from md5, identical in both engines, closing
    that gap with a fully oracled signature + pair join).

    Signature: bit j (1..32) of a doc = sign of Σ over its DISTINCT
    tokens of ±1 by the parity of hex digit j of md5(token) — the
    classic Charikar sign-random-projection, exact integer math
    throughout (no float ties; a Σ of ±1 over n tokens is 0 only at
    even n, and ties break to 0 identically in both engines).

    Pair search: Hamming distance ≤ 3 via the PIGEONHOLE multi-index
    (Gong et al.; faiss IndexBinaryMultiHash): 4 disjoint 8-bit bands —
    ≤3 differing bits leave ≥1 band untouched, so the band-equality
    equi join finds EVERY qualifying pair (exact recall, certified by
    the quadratic oracle). Each surviving pair is emitted exactly once
    via the canonical-band rule (its FIRST equal band) — a pure column
    predicate, no dedup shuffle; at 10⁹ items this is 4 linear
    shuffles of 1-long rows instead of an all-pairs scan.

    Scale ceiling (r11 100× probe, artifacts/scale_probe_r11.json):
    8-bit bands have 2⁸ = 256 buckets, so the band join volume grows
    as Σ_bucket c² ≈ 4·n²/256 once n ≫ 256 — measured 2.97e9 joined
    rows at 500k suffix-unique docs vs 6.38M at 5k (×466 for ×100
    input; wall 38.7 s at 100× — still fine locally). The multi-index
    stays exact but stops being sub-quadratic around n ≈ 10⁵; the
    10⁹-item handoff is a wider signature with bands sized so that
    n / 2^band_bits stays O(1) — BUILT in r12 as
    dedup_simhash_hamming_wide (128-bit signature in 4×32-bit bands,
    same md5-parity recipe, 4.3e9 buckets, hamming ≤ 3 recall still
    exact; measured ×128 join volume at ×100 input vs this op's ×466
    — scale_probe_r12.json); band WIDTH (not count) is the scaling
    knob because recall needs bands ≥ distance+1 by pigeonhole."""
    joined = _simhash32_band_join(spark, sf)
    # canonical-band rule: emit only at the FIRST band where the two
    # signatures agree (both sides' full signatures are in hand, so
    # earlier-band equality is a pure column predicate — no distinct())
    fb = F.when(
        F.shiftright("sig_a", 0).bitwiseAND(F.lit(255))
        == F.shiftright("sig_b", 0).bitwiseAND(F.lit(255)),
        F.lit(0),
    )
    for k in range(1, 4):
        fb = fb.when(
            F.shiftright("sig_a", 8 * k).bitwiseAND(F.lit(255))
            == F.shiftright("sig_b", 8 * k).bitwiseAND(F.lit(255)),
            F.lit(k),
        )
    hamming = F.bit_count(
        F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    ).cast("int")
    return (
        joined.where(F.col("k") == fb)
        .withColumn("hamming", hamming)
        .where(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


_SIMHASH_HAMMING_SQL = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_distinct({toks})) AS tok
  FROM documents
),
h AS (SELECT doc_id, md5(tok) AS m FROM tok),
b AS (
  SELECT doc_id, g.j,
         CASE WHEN substr(m, g.j, 1) IN ('1','3','5','7','9','b','d','f')
              THEN 1 ELSE -1 END AS s
  FROM h CROSS JOIN (SELECT unnest(generate_series(1, 32)) AS j) g
),
t AS (SELECT doc_id, j, CAST(SUM(s) AS BIGINT) AS tot FROM b GROUP BY 1, 2),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN tot > 0
                       THEN (CAST(1 AS BIGINT) << (j - 1))
                       ELSE 0 END) AS BIGINT) AS sig
  FROM t GROUP BY 1
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 3
""".format(toks=_TOKENS_SQL)


def _simhash128_bands(spark: SparkSession, sf: str) -> DataFrame:
    """128-bit md5-parity SimHash signatures over DISTINCT tokens,
    materialized as FOUR 32-bit band values (`band0..band3`, each held
    in a long) — the wide-band signature the r11 100× probe priced as
    the dedup_simhash_hamming handoff (VERDICT r11 item 2). Bit
    i (0..127) = sign of Σ over distinct tokens of ±1 by bit (i mod 4)
    of hex digit (i div 4 + 1) of md5(token) — all 32 hex digits of
    md5 consumed, the dedup_simhash recipe widened 64→128. Band k
    holds bits [32k, 32k+32).

    Shuffle shape: one linear token explode + ONE 128-column
    map-side-combinable conditional-sum aggregate per doc — the same
    single doc_id shuffle as the 32-bit variant, just a wider combine
    row (128 longs ≈ 1 KB/doc/partition)."""
    docs = table(spark, sf, "documents").select(
        "doc_id", F.array_distinct(TOKENS()).alias("toks")
    )
    tok = docs.select("doc_id", F.explode("toks").alias("tok")).select(
        "doc_id", F.md5("tok").alias("m")
    )
    # per-row: decode the 32 hex digits ONCE into int columns, then
    # the 128 aggregates are cheap bit-arithmetic sums — the naive
    # form (128 × substring+isin per token row) measured ~2× slower
    # at sf0.1. Sign identity: Σ±1 > 0 ⟺ 2·(#set bits) > n_tokens,
    # ties (2·s == n) break to 0 exactly like the ±1 sum.
    digs = tok.select(
        "doc_id",
        *[
            F.expr(
                f"cast(instr('0123456789abcdef', substring(m, {j}, 1)) - 1"
                " as int)"
            ).alias(f"d{j}")
            for j in range(1, 33)
        ],
    )
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(
            F.shiftright(F.col(f"d{i // 4 + 1}"), i % 4).bitwiseAND(F.lit(1))
        ).alias(f"s{i}")
        for i in range(128)
    ]
    sums = digs.groupBy("doc_id").agg(*aggs)
    bands = []
    for k in range(4):
        band = None
        for j in range(32):
            i = 32 * k + j
            term = F.shiftleft(
                F.when(
                    2 * F.col(f"s{i}") > F.col("n"), F.lit(1).cast("long")
                ).otherwise(F.lit(0).cast("long")),
                j,
            )
            band = term if band is None else band + term
        bands.append(band.alias(f"band{k}"))
    return sums.select("doc_id", *bands)


def _simhash128_band_join(spark: SparkSession, sf: str) -> DataFrame:
    """The 4×32-bit pigeonhole band equi-join (doc_a < doc_b, all four
    band columns carried on both sides) BEFORE the canonical-band dedup
    and hamming cut — split out so tools/scale_probe.py can count the
    blocking-stage volume separately and compare it against the 8-bit
    variant's measured n²/256 saturation: 32-bit bands have 2³² ≈
    4.3e9 buckets, so RANDOM band collisions stay O(n²/4.3e9) ≈ 0 up
    to n ≈ 10⁹ — joined volume is then dominated by TRUE near-dup
    clusters (output-bound, irreducible), not index saturation."""
    sigs = persist_tracked(_simhash128_bands(spark, sf))

    def side(tag: str):
        s = sigs.select(
            F.col("doc_id").alias(f"doc_{tag}"),
            *[F.col(f"band{k}").alias(f"band{k}_{tag}") for k in range(4)],
        )
        bands = F.array(
            *[
                F.struct(
                    F.lit(k).alias("k"),
                    F.col(f"band{k}_{tag}").alias("bv"),
                )
                for k in range(4)
            ]
        )
        return s.select(
            f"doc_{tag}",
            *[f"band{k}_{tag}" for k in range(4)],
            F.explode(bands).alias("_b"),
        ).select(
            f"doc_{tag}",
            *[f"band{k}_{tag}" for k in range(4)],
            F.col("_b.k").alias("k"),
            F.col("_b.bv").alias("bv"),
        )

    a = side("a")
    b = side("b")
    return a.join(b, ["k", "bv"]).where(F.col("doc_a") < F.col("doc_b"))


def dedup_simhash_hamming_wide(spark: SparkSession, sf: str) -> DataFrame:
    """WIDE-band Hamming near-dup pairs: 128-bit md5-parity SimHash in
    4×32-bit pigeonhole bands — the scale handoff the r11 100× probe
    priced for dedup_simhash_hamming (VERDICT r11 item 2): the 8-bit
    bands there have only 256 buckets, so their band-join volume
    saturates as ≈4·n²/256 once n ≫ 2⁸ (measured ×466 joined rows at
    ×100 input, artifacts/scale_probe_r11.json). Widening the BANDS
    (not adding more of them — recall needs bands ≥ distance+1 by
    pigeonhole) to 32 bits keeps hamming ≤ 3 recall EXACT while the
    random-collision term drops to n²/2³², i.e. expected bucket
    occupancy stays O(1) out to n ≈ 10⁹; what remains in the join is
    TRUE near-dup clusters, which any exact pair listing must emit
    anyway (output-bound). The trade: a 128-bit signature admits fewer
    accidental low-Hamming pairs than a 32-bit one, so "hamming ≤ 3"
    is a much tighter similarity cut here — right for the
    high-precision pass at 10⁹ docs; the 32-bit variant stays as the
    tolerant small-corpus form.

    Same exactness contract as the 8-bit variant, certified the same
    way: ≤3 differing bits leave ≥1 of 4 bands untouched, so the band
    equi-join finds EVERY qualifying pair; the quadratic DuckDB oracle
    recomputes the full pair set from the same signature definition
    and the driver hash-match certifies exact recall. Each surviving
    pair is emitted exactly once via the canonical-band rule (its
    FIRST equal band) — a pure column predicate over the carried band
    columns, no dedup shuffle.

    Margin audit (r12, house rule): output at sf0.01 / sf0.1 is
    542 / 42,887 pairs (hamming histogram has mass at every distance
    0–3, so the cut is exercised, not vacuous); the canonical-band
    predicate was cross-checked against a distinct() form (equal row
    sets); all-band-equal (hamming-0 duplicate) pairs emit at band 0
    only. The 100× unique-text probe records the band-join volume in
    artifacts/scale_probe_r12.json — the VERDICT "within ~10× of
    input growth" bar."""
    joined = _simhash128_band_join(spark, sf)
    fb = F.when(F.col("band0_a") == F.col("band0_b"), F.lit(0))
    for k in range(1, 4):
        fb = fb.when(F.col(f"band{k}_a") == F.col(f"band{k}_b"), F.lit(k))
    hamming = sum(
        F.bit_count(
            F.col(f"band{k}_a").bitwiseXOR(F.col(f"band{k}_b"))
        ).cast("int")
        for k in range(4)
    )
    return (
        joined.where(F.col("k") == fb)
        .withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


_SIMHASH_WIDE_SQL = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_distinct({toks})) AS tok
  FROM documents
),
h AS (SELECT doc_id, md5(tok) AS m FROM tok),
b AS (
  SELECT doc_id, g.i,
         CASE WHEN (
             (strpos('0123456789abcdef', substr(m, (g.i // 4) + 1, 1)) - 1)
             >> (g.i % 4)
           ) & 1 = 1
           THEN 1 ELSE -1 END AS s
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 127)) AS i) g
),
t AS (SELECT doc_id, i, SUM(s) AS tot FROM b GROUP BY 1, 2),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN tot > 0 AND i // 32 = 0
                  THEN (CAST(1 AS BIGINT) << (i % 32)) ELSE 0 END)
              AS BIGINT) AS band0,
         CAST(SUM(CASE WHEN tot > 0 AND i // 32 = 1
                  THEN (CAST(1 AS BIGINT) << (i % 32)) ELSE 0 END)
              AS BIGINT) AS band1,
         CAST(SUM(CASE WHEN tot > 0 AND i // 32 = 2
                  THEN (CAST(1 AS BIGINT) << (i % 32)) ELSE 0 END)
              AS BIGINT) AS band2,
         CAST(SUM(CASE WHEN tot > 0 AND i // 32 = 3
                  THEN (CAST(1 AS BIGINT) << (i % 32)) ELSE 0 END)
              AS BIGINT) AS band3
  FROM t GROUP BY 1
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.band0, b.band0))
          + bit_count(xor(a.band1, b.band1))
          + bit_count(xor(a.band2, b.band2))
          + bit_count(xor(a.band3, b.band3)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.band0, b.band0))
    + bit_count(xor(a.band1, b.band1))
    + bit_count(xor(a.band2, b.band2))
    + bit_count(xor(a.band3, b.band3)) <= 3
""".format(toks=_TOKENS_SQL)


def dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (SURVEY §2.12): vectors whose
    cosine similarity >= 0.4 (the testdata's embeddings are random, so
    the threshold sits at the distribution tail — real corpora with
    planted dups would use ~0.95).

    Exact all-pairs baseline as a DISTRIBUTED block matrix product
    (the r1 version collected the whole table to the driver with
    toPandas + sc.broadcast — a driver OOM at scale; this one never
    moves data through the driver). Square-grid self-join, the
    sim_knn_graph grid (similarity._block_grid): each vector gets a
    block id p = vec_id mod P; the "row" copy of block p is
    replicated to every column j (group (p, j)) and the "column" copy
    to every row i (group (i, p)), so each unordered pair meets in
    exactly one of the P² groups, where an Arrow-batched applyInPandas
    runs one BLAS matmul per block pair — ~100× per-pair boxed JVM dot
    products (measured r1). Shuffle volume is 2·n·P rows (linear in n;
    similarity._grid_blocks grows P with n so no block holds more
    than 4096 rows — the knob Spark's own block-matrix multiply
    turns). Compute stays quadratic by design (it is the exactness
    oracle); the 100 TB
    CANDIDATE path is sign-LSH buckets (sim_lsh_buckets/sim_lsh_topk),
    the IVF coarse quantizer (sim_ivf_topk), or — since r12 — the
    cell-blocked SemDeDup drop-list (dedup_semdedup) when the goal is
    dedup rather than a pair listing.
    """
    from .similarity import _block_grid, _emb, _round_nudged, _sides, _unit_rows

    emb = _emb(spark, sf).select("vec_id", "v")

    def block(pdf):
        import numpy as np
        import pandas as pd

        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        empty = pd.DataFrame(
            {
                "vec_a": np.array([], dtype=np.int64),
                "vec_b": np.array([], dtype=np.int64),
                "cosine": np.array([], dtype=np.float64),
            }
        )
        if len(a) == 0 or len(b) == 0:
            return empty
        a_ids, A = _unit_rows(a)
        b_ids, B = _unit_rows(b)
        C = A @ B.T
        # vec_a < vec_b dedups the pair across the two symmetric groups;
        # pre-filter with slack, exact filter on the rounded value
        # (matching the oracle's predicate)
        i, j = np.nonzero((C >= 0.4 - 1e-6) & (a_ids[:, None] < b_ids[None, :]))
        cos = _round_nudged(C[i, j], 6)
        keep = cos >= 0.4
        return pd.DataFrame(
            {"vec_a": a_ids[i][keep], "vec_b": b_ids[j][keep], "cosine": cos[keep]}
        )

    return _sides(*_block_grid(emb)).groupBy("bq", "bc").applyInPandas(
        kernel(block), schema="vec_a bigint, vec_b bigint, cosine double"
    )


_EMB_COSINE_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         ROUND(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))) + 1e-9, 6) AS cosine
  FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT vec_a, vec_b, cosine FROM p WHERE cosine >= 0.4
"""


def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Character-trigram shingle Jaccard (the n-gram flavor; word-set
    jaccard above catches token reorders, char shingles catch small
    edits). Candidates via the same prefix-filter join as
    dedup_jaccard_pairs (exact, no corpus broadcast); shingles hashed
    to int64. The size-ratio prune (10·min >= 6·max) is part of the
    declared semantics here — the oracle applies it on UNROUNDED sizes
    — so it is re-applied as a final filter, while the candidate stage
    prunes at the relaxed 5999/10000 to keep round-up boundary pairs."""
    canon = F.trim(F.lower(F.col("text")))
    docs = (
        table(spark, sf, "documents")
        .select(
            "doc_id",
            "source",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length(canon) - 2, F.lit(1))),
                    lambda i: _md5_long(canon.substr(i, F.lit(3))),
                )
            ).alias("toks"),
        )
        .withColumn("sz", F.size("toks"))
    )
    pairs = _prefix_filter_pairs(docs, 5999, 10000)
    jaccard = F.round(
        F.col("inter").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
        + 1e-9,
        4,
    )
    return (
        pairs.withColumn("jaccard3", jaccard)
        .where(
            (F.col("jaccard3") >= 0.6)
            & (
                F.least("sz_a", "sz_b") * 10
                >= F.greatest("sz_a", "sz_b") * 6
            )
        )
        .select("doc_a", "doc_b", "jaccard3")
    )


_NGRAM_SQL = """
WITH t AS (
  SELECT doc_id, source,
         list_distinct(list_transform(
           generate_series(1, greatest(length(trim(lower(text))) - 2, 1)),
           i -> substring(trim(lower(text)), i, 3))) AS shingles
  FROM documents
),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles)))
               + 1e-9, 4) AS jaccard3
  FROM t a JOIN t b
    ON a.source = b.source AND a.doc_id < b.doc_id
   AND least(len(a.shingles), len(b.shingles)) * 10
       >= greatest(len(a.shingles), len(b.shingles)) * 6
)
SELECT doc_a, doc_b, jaccard3 FROM p WHERE jaccard3 >= 0.6
"""


def dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    jaccard pair graph (pairs >= 0.4), cluster id = min doc_id in the
    component — the keeper-selection step that turns pairwise dedup
    into corpus dedup.

    Iterative min-label propagation PLUS pointer jumping (the
    Pregel/GraphX idiom as plain DataFrames): each round every node
    takes the min of its own, its neighbors', and — the path-doubling
    step — its LABEL's label; converged when no label changes.
    Neighbor-min alone needs rounds ~ graph diameter (a pathological
    duplicate chain of length L costs L rounds); the extra
    label-of-label join halves remaining path lengths each round, so
    rounds ~ log(diameter) — the same doubling large-star/small-star
    exploits, for one extra hash join per round. Labels are always
    ids of same-component nodes and monotonically non-increasing, so
    the fixed point is exactly the component minimum. localCheckpoint
    per round cuts the growing lineage — without it each iteration
    re-plans the whole history. The oracle is DuckDB's recursive CTE
    computing the same transitive closure, so the iterative execution
    is value-checked end to end.
    """
    CC_LAST_ROUNDS.clear()
    pairs = dedup_jaccard_pairs(spark, sf).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint()
    # Optimization r15, REJECTED WITH NUMBERS (guide §1 discipline):
    # pre-partitioning the fixed edge list on doc_b (persist over the
    # checkpoint, which — unlike a bare localCheckpoint — preserves
    # outputPartitioning) plus a shuffle-hash hint on the label side
    # measured 8.4 s vs 5.1 s for the 4-round loop back-to-back in
    # one session at sf0.1: the extra edge materialization pass +
    # per-round hash-table build cost more than the elided per-round
    # edge exchange at this scale. Kept as-is.
    labels, converged = _min_label_prop(edges, max_rounds=25)
    if not converged:
        # the overflow path: alternating large-star/small-star contracts
        # any diameter in O(log² n) edge-set rounds — see the helper
        labels = _alternating_star_cc(edges, max_rounds=40)
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "lbl").select(
        F.col("doc").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        "cluster_size",
    )


# Per-run CC iteration counts, published by bench.py in the artifact
# tail (VERDICT r14 item 3: dedup_clusters' ±40% same-code swing kept
# flagging phantom regressions — a 4-round vs 6-round run must be
# attributable at a glance). Written by _min_label_prop /
# _alternating_star_cc on every execution; keys: "label_prop", "star".
CC_LAST_ROUNDS: dict[str, int] = {}


def _min_label_prop(
    edges: DataFrame, max_rounds: int
) -> tuple[DataFrame, bool]:
    """Min-label propagation with pointer jumping over a SYMMETRIC
    edge list ``(doc_a, doc_b)``. Returns ``(labels, converged)``
    where labels has columns ``doc, lbl``; the caller decides what a
    blown round budget means (dedup_clusters falls back to
    large-star/small-star rather than raising)."""
    labels = (
        edges.select(F.col("doc_a").alias("doc"))
        .distinct()
        .withColumn("lbl", F.col("doc"))
        .localCheckpoint()
    )
    for rnd in range(max_rounds):
        CC_LAST_ROUNDS["label_prop"] = rnd + 1
        nbr = edges.join(
            labels.withColumnRenamed("doc", "nbr_doc"),
            edges.doc_b == F.col("nbr_doc"),
        ).select(F.col("doc_a").alias("doc"), "lbl", F.lit(0).alias("_self"))
        # thread each node's OLD label through the same aggregate
        # (max over the self-tagged row) so the convergence check
        # reads the already-materialized frame instead of paying an
        # extra join + shuffle per round
        propagated = (
            labels.withColumn("_self", F.lit(1))
            .unionByName(nbr)
            .groupBy("doc")
            .agg(
                F.min("lbl").alias("lbl"),
                F.max(F.when(F.col("_self") == 1, F.col("lbl"))).alias(
                    "_old"
                ),
            )
        )
        # pointer jumping: also adopt the label of my label (doc is
        # unique in `propagated`, so doc→lbl is a function; the left
        # join misses only when my label is a node outside the label
        # table, impossible here since labels are member ids)
        hop = propagated.select(
            F.col("doc").alias("lbl"), F.col("lbl").alias("_lbl2")
        )
        new = (
            propagated.join(hop, "lbl", "left")
            .select(
                "doc",
                F.least(
                    F.col("lbl"), F.coalesce("_lbl2", F.col("lbl"))
                ).alias("lbl"),
                "_old",
            )
            .localCheckpoint()
        )
        changed = new.where(F.col("lbl") != F.col("_old")).count()
        labels = new.select("doc", "lbl")
        if changed == 0:
            return labels, True
    return labels, False


def _alternating_star_cc(edges: DataFrame, max_rounds: int = 40) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii, "Connected
    Components in MapReduce and Beyond", SoCC'14) — the overflow path
    when min-label propagation exhausts its round budget. Works on
    the EDGE set alone (no label table); each round is two
    half-steps, each one shuffle-join + hash-aggregate:

    - large-star: every node u links each strictly-LARGER neighbor to
      m = min(Γ(u) ∪ {u}) — long tails collapse toward small ids
      without ever splitting a component;
    - small-star: every node u (processed with its smaller neighbors
      N) links N ∪ {u} to min(N ∪ {u}) — contracts the short paths
      large-star leaves behind.

    Each half-step emits at most one edge per input edge, so shuffle
    volume never grows; the paper proves O(log² n) rounds to the
    fixed point, a star forest rooted at each component's minimum id
    — at which point every canonical edge (a, b) with a < b IS the
    label assignment b → a. Convergence detection: the canonical edge
    set's (count, xxhash64-sum) signature repeating means the set is
    a fixed point (a hash collision would need two distinct edge sets
    with equal count and colliding 64-bit sums — negligible against
    the silent-wrongness it guards). This signature is the ONE
    deliberate exception to the r14 md5-long unification: it is
    engine-INTERNAL (never surfaces, no oracle role — the md5 rule
    exists for cross-engine value paths), and the md5 variant (a
    string concat + md5 + hex parse per edge per CC round, vs a few
    ns of xxhash64) measured ~+1 s median at sf0.1 — md5 draws
    7.9–10.3 median 9.9 vs xxhash64 draws 8.2–13.7 median 8.8; this
    key swings ±40% on identical code, and the remaining r13→r14
    drift tracks the regenerated testdata's pair-graph density, not
    the hash — rejected with numbers, r14.

    Input: symmetric ``(doc_a, doc_b)`` edges. Output: ``doc, lbl``
    labels (roots label themselves), same shape as _min_label_prop.
    """
    e = (
        edges.select(
            F.least("doc_a", "doc_b").alias("a"),
            F.greatest("doc_a", "doc_b").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    prev_sig = None
    converged = False
    for rnd in range(max_rounds):
        CC_LAST_ROUNDS["star"] = rnd + 1
        # large-star over both orientations of every canonical edge
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        m = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = m.select("u", F.least("u", "mn").alias("m"))
        ls = (
            sym.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
        )
        e = (
            ls.select(
                F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star: orient to the larger endpoint; m < u always here
        sm = e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        m2 = sm.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            sm.join(m2, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
            .union(m2.select(F.col("u").alias("x"), F.col("m").alias("y")))
        )
        e = (
            ss.select(
                F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        sig = tuple(
            e.agg(
                F.count(F.lit(1)).alias("n"),
                # decimal(38,0) sum: int64 hash sums overflow BIGINT
                # (ANSI mode raises) after ~2^32 rows-worth of mass
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
            ).first()
        )
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # Partial labels are silent wrongness — a split component
        # would dedup as two fake clusters and the caller couldn't
        # tell. O(log² n) rounds cover any real graph; not converging
        # in 40 means something is structurally wrong. Fail loudly.
        raise RuntimeError(
            "dedup_clusters: alternating star contraction did not "
            f"converge in {max_rounds} rounds"
        )
    # fixed point = star forest: each edge (a, b), a < b, reads
    # "b's component min is a"; roots (and any singleton that lost
    # all edges to contraction — impossible for pair inputs, but
    # cheap to cover) label themselves
    children = e.select(F.col("b").alias("doc"), F.col("a").alias("lbl"))
    nodes = (
        edges.select(F.col("doc_a").alias("doc")).distinct()
    )
    roots = nodes.join(children.select("doc"), "doc", "left_anti").select(
        "doc", F.col("doc").alias("lbl")
    )
    return children.unionByName(roots)


# the jaccard-pair CTEs (t, p) shared with _JACCARD_SQL
_PAIR_CTES = """
t AS (
  SELECT doc_id, source, list_distinct({toks}) AS toks FROM documents
),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
               + 1e-9, 4) AS jaccard
  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
)
""".format(toks=_TOKENS_SQL)

_CLUSTERS_SQL = """
WITH RECURSIVE {pair_ctes},
sym AS (SELECT doc_a, doc_b FROM p WHERE jaccard >= 0.4
        UNION ALL
        SELECT doc_b, doc_a FROM p WHERE jaccard >= 0.4),
reach(src, dst) AS (
  SELECT doc_a, doc_b FROM sym
  UNION
  SELECT r.src, s.doc_b FROM reach r JOIN sym s ON r.dst = s.doc_a),
lbl AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
  FROM reach GROUP BY src)
SELECT l.doc_id, l.cluster_id, c.cluster_size
FROM lbl l
JOIN (SELECT cluster_id, COUNT(*) AS cluster_size FROM lbl GROUP BY cluster_id) c
  ON l.cluster_id = c.cluster_id
""".format(pair_ctes=_PAIR_CTES.strip())


def dedup_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup retention policy: cluster the 0.4-jaccard duplicate
    graph (dedup_clusters) and keep ONE representative per cluster —
    the highest alpha_ratio (the quality heuristic from text_quality),
    ties to the lowest doc_id. Docs outside any cluster keep
    themselves. This is the real pipeline composition (dedup doesn't
    end at pair lists — something must pick the survivors), emitted
    per-doc so the drop set is auditable.

    Scale shape: the cluster frame is the CC output (linear), quality
    is a narrow map, and the keeper choice is one bounded window per
    cluster_id — no new quadratic stage on top of the pair join."""
    clusters = dedup_clusters(spark, sf).select("doc_id", "cluster_id")
    quality = (
        table(spark, sf, "documents")
        .select(
            "doc_id",
            F.round(
                F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast(
                    "double"
                )
                / F.length("text").cast("double")
                + 1e-9,
                4,
            ).alias("alpha_ratio"),
        )
    )
    labeled = quality.join(clusters, "doc_id", "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", F.col("doc_id"))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("alpha_ratio"), F.asc("doc_id")
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return labeled.select(
        "doc_id",
        "cluster_id",
        "alpha_ratio",
        (F.row_number().over(w) == 1).alias("is_kept"),
        F.first("doc_id").over(wf).alias("keeper_doc_id"),
    )


_KEEP_BEST_SQL = """
WITH RECURSIVE {pair_ctes},
sym AS (SELECT doc_a, doc_b FROM p WHERE jaccard >= 0.4
        UNION ALL
        SELECT doc_b, doc_a FROM p WHERE jaccard >= 0.4),
reach(src, dst) AS (
  SELECT doc_a, doc_b FROM sym
  UNION
  SELECT r.src, s.doc_b FROM reach r JOIN sym s ON r.dst = s.doc_a),
lbl AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
  FROM reach GROUP BY src),
q AS (
  SELECT doc_id,
         ROUND(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                    AS DOUBLE) / length(text) + 1e-9, 4) AS alpha_ratio
  FROM documents),
labeled AS (
  SELECT q.doc_id, COALESCE(l.cluster_id, q.doc_id) AS cluster_id,
         q.alpha_ratio
  FROM q LEFT JOIN lbl l ON q.doc_id = l.doc_id)
SELECT doc_id, cluster_id, alpha_ratio,
       ROW_NUMBER() OVER (PARTITION BY cluster_id
                          ORDER BY alpha_ratio DESC, doc_id ASC) = 1
         AS is_kept,
       FIRST_VALUE(doc_id) OVER (PARTITION BY cluster_id
                                 ORDER BY alpha_ratio DESC, doc_id ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND UNBOUNDED FOLLOWING)
         AS keeper_doc_id
FROM labeled
""".format(pair_ctes=_PAIR_CTES.strip())


def pack_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing for LLM training batches: the corpus token
    stream is concatenated in doc_id order and split into
    fixed-capacity context windows (512 tokens); each document is
    assigned to the chunk where it STARTS, and chunks are summarized
    (doc count, token fill, id span). This is the standard
    concatenate-then-split packing used to build pretraining batches —
    deterministic given the ordering, unlike greedy bin packing, which
    is why it carries a full DuckDB oracle (SUM OVER the same order).

    Scale shape: the global running token count is a DISTRIBUTED
    prefix sum (same idiom as augment.exact_split) — range-partition
    by doc_id, cumsum within partitions, add broadcast per-partition
    offsets. No single-partition global window, which is the classic
    scalability trap of `SUM() OVER (ORDER BY ...)` on one range.
    """
    docs = table(spark, sf, "documents").select(
        "doc_id", F.size(TOKENS()).alias("n_tok")
    )
    return _chunk_summary(docs)


def _chunk_summary(docs: DataFrame, capacity: int = 512) -> DataFrame:
    """(doc_id, n_tok) → per-chunk packing summary via the distributed
    prefix sum described in pack_chunks (util.global_prefix — the
    shared range-partition + local-window + broadcast-offsets core,
    materialized once against the r7 rdd.id boundary desync). Chunk
    assignment depends on the global doc_id order alone, so the
    result is partition-count-independent."""
    from ..util import global_prefix

    cum = global_prefix(docs, ["doc_id"], "n_tok")
    start = F.col("_prefix") - F.col("n_tok")
    chunked = cum.withColumn(
        "chunk_id", F.floor(start / F.lit(float(capacity)))
    )
    return chunked.groupBy("chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_CHUNK_TAIL_SQL = """
c AS (
  SELECT doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS start
  FROM t
)
SELECT CAST(floor(start / 512.0) AS BIGINT) AS chunk_id,
       COUNT(*)                  AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       MIN(doc_id)               AS first_doc,
       MAX(doc_id)               AS last_doc
FROM c GROUP BY 1
"""

_PACK_SQL = """
WITH t AS (
  SELECT doc_id, len({toks}) AS n_tok FROM documents
),
{tail}
""".format(toks=_TOKENS_SQL, tail=_CHUNK_TAIL_SQL.strip())


#: Shard-manifest geometry: byte budget per training shard (n_chars
#: as the byte proxy) and the number of independent writer buckets.
_SHARD_TARGET = 2048
_SHARD_BUCKETS = 2


def pack_shards_bytes(spark: SparkSession, sf: str) -> DataFrame:
    """WebDataset-style SHARD MANIFEST: assign every document to a
    training shard of ~_SHARD_TARGET bytes, packing in a
    deterministic hash-shuffled order, and summarize each shard
    (docs, bytes, id span). Complements pack_chunks (global
    token-budget windows): shards are cut by BYTES within
    (source, writer-bucket) groups — the layout a multi-writer shard
    job produces, where each writer packs its own slice
    independently and no global order exists. A doc belongs to the
    shard where its starting offset falls (floor(start / target)),
    the standard cut rule; the pack order is the house
    multiplicative-hash permutation (reproducible shuffle — the
    reason the whole manifest is oracle-checkable).

    Scale shape: ONE shuffle on (source, bucket) for the running-sum
    window; writers are independent, so parallelism = sources x
    buckets and a bigger cluster just raises _SHARD_BUCKETS — no
    global prefix sum, no single-partition window (the trap
    pack_chunks' distributed prefix sum exists to avoid; here the
    group key makes it unnecessary)."""
    from .augment import _mult_hash_key

    docs = table(spark, sf, "documents").select("doc_id", "source", "n_chars")
    hk = _mult_hash_key("doc_id")
    # bucket by HIGH hash bits: the Knuth hash passes the input's low
    # 16 bits through unmixed (K*2^16 has zero low bits), so
    # `hk % buckets` would be plain doc_id % buckets — id-parity
    # structure (sharded/striped id allocation) would collapse into
    # one writer. The top bits are fully mixed.
    keyed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        hk.alias("hk"),
        F.floor(hk / F.lit(4294967296 // _SHARD_BUCKETS))
        .cast("int")
        .alias("bucket"),
    )
    w = Window.partitionBy("source", "bucket").orderBy("hk", "doc_id")
    cum = keyed.withColumn("cum", F.sum("n_chars").over(w))
    shard = F.floor(
        (F.col("cum") - F.col("n_chars")) / F.lit(float(_SHARD_TARGET))
    )
    return (
        cum.withColumn("shard", shard.cast("bigint"))
        .groupBy("source", "bucket", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


def _global_rank(df: DataFrame, order_cols: list[str]) -> DataFrame:
    """Distributed global ROW_NUMBER consistent with ORDER BY
    order_cols — util.global_prefix's prefix COUNT, renamed `rn`
    (see its docstring for the range-partition / tie / rdd.id-desync
    mechanics it shares with exact_split and _chunk_summary)."""
    from ..util import global_prefix

    return (
        global_prefix(df, order_cols)
        .withColumn("rn", F.col("_prefix").cast("bigint"))
        .drop("_prefix", "_total")
    )


#: Dynamic-batching geometry: batch capacity in sequences.
_BATCH_SIZE = 32


def pack_batches_padding(spark: SparkSession, sf: str) -> DataFrame:
    """PADDING-WASTE AUDIT of training batch composition — the
    quantified case for length-bucketed batching: split the corpus
    into consecutive _BATCH_SIZE-doc batches under (a) the house
    hash-shuffled order (what naive random batching does) and (b)
    length-sorted order; each batch pads every sequence to the batch
    max, so waste = Σ(batch_rows x batch_max − batch_tokens). The
    two strategies are surfaced side by side (total tokens invariant
    across them is an implicit self-check; pad_ratio = wasted cells
    over padded cells).

    Scale shape: each strategy is ONE distributed global rank
    (_global_rank: range shuffle + local window + broadcast offsets
    — no single-partition window) plus two bounded hash aggregates.
    The batch assignment depends only on the global order, so the
    result is partition-count-independent."""
    from .augment import _mult_hash_key

    docs = table(spark, sf, "documents").select(
        "doc_id", F.size(TOKENS()).alias("n_tok")
    )
    base = docs.withColumn("hk", _mult_hash_key("doc_id"))
    outs = []
    for strategy, order in (
        ("hash_order", ["hk", "doc_id"]),
        ("length_sorted", ["n_tok", "doc_id"]),
    ):
        ranked = _global_rank(base, order)
        per = (
            ranked.withColumn(
                "batch", F.expr(f"(rn - 1) div {_BATCH_SIZE}")
            )
            .groupBy("batch")
            .agg(
                F.count(F.lit(1)).alias("bn"),
                F.max("n_tok").alias("mx"),
                F.sum("n_tok").alias("tok"),
            )
        )
        outs.append(
            per.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_batches"),
                F.sum("tok").cast("bigint").alias("total_tokens"),
                F.sum(F.col("bn") * F.col("mx") - F.col("tok"))
                .cast("bigint")
                .alias("total_padding"),
                F.round(
                    F.sum(F.col("bn") * F.col("mx") - F.col("tok"))
                    / F.sum(F.col("bn") * F.col("mx"))
                    + 1e-9,
                    4,
                ).alias("pad_ratio"),
            ).select(F.lit(strategy).alias("strategy"), "*")
        )
    return outs[0].unionByName(outs[1])


_BATCH_PAD_TAIL_SQL = """
  SELECT CAST((rn - 1) // {bs} AS BIGINT) AS batch,
         COUNT(*) AS bn, MAX(n_tok) AS mx, SUM(n_tok) AS tok
  FROM {src} GROUP BY 1"""

_BATCH_PAD_SQL = """
WITH t AS (
  SELECT doc_id, len({toks}) AS n_tok FROM documents),
keyed AS (
  SELECT doc_id, n_tok, {{hash}} AS hk
  FROM (SELECT doc_id, n_tok,
               ((doc_id % 4294967296) + 4294967296) % 4294967296 AS a
        FROM t) s),
h AS (
  SELECT n_tok, ROW_NUMBER() OVER (ORDER BY hk, doc_id) AS rn FROM keyed),
l AS (
  SELECT n_tok, ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) AS rn FROM keyed),
hb AS ({hb}),
lb AS ({lb})
SELECT 'hash_order' AS strategy,
       CAST(COUNT(*) AS BIGINT) AS n_batches,
       CAST(SUM(tok) AS BIGINT) AS total_tokens,
       CAST(SUM(bn * mx - tok) AS BIGINT) AS total_padding,
       ROUND(SUM(bn * mx - tok) / SUM(bn * mx) + 1e-9, 4) AS pad_ratio
FROM hb
UNION ALL
SELECT 'length_sorted',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(tok) AS BIGINT),
       CAST(SUM(bn * mx - tok) AS BIGINT),
       ROUND(SUM(bn * mx - tok) / SUM(bn * mx) + 1e-9, 4)
FROM lb
""".format(
    toks=_TOKENS_SQL,
    hb=_BATCH_PAD_TAIL_SQL.format(bs=_BATCH_SIZE, src="h").strip(),
    lb=_BATCH_PAD_TAIL_SQL.format(bs=_BATCH_SIZE, src="l").strip(),
)


def _compose_batch_pad_sql() -> str:
    from .augment import _MULT_HASH_SQL

    return _BATCH_PAD_SQL.format(hash=_MULT_HASH_SQL)


_SHARDS_SQL = """
WITH keyed AS (
  SELECT doc_id, source, n_chars, {{hash}} AS hk
  FROM (SELECT doc_id, source, n_chars,
               ((doc_id % 4294967296) + 4294967296) % 4294967296 AS a
        FROM documents) t),
b AS (
  SELECT doc_id, source, n_chars, hk,
         CAST(hk // {stride} AS INT) AS bucket
  FROM keyed),
c AS (
  SELECT doc_id, source, n_chars, bucket,
         CAST(SUM(n_chars) OVER (PARTITION BY source, bucket
                                 ORDER BY hk, doc_id) AS BIGINT) AS cum
  FROM b)
SELECT source, bucket,
       CAST(floor((cum - n_chars) / {target}.0) AS BIGINT) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS shard_bytes,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM c GROUP BY 1, 2, 3
""".format(stride=4294967296 // _SHARD_BUCKETS, target=_SHARD_TARGET)


def _compose_shards_sql() -> str:
    from .augment import _MULT_HASH_SQL

    return _SHARDS_SQL.format(hash=_MULT_HASH_SQL)


#: Edit-distance blocking geometry: candidate pairs share a 16-char
#: content prefix and sit within the lossless length band
#: |len(a)-len(b)|*5 <= max(len); a pair is a near-dup when
#: lev*5 <= max(len) (integer form of lev <= 0.2*len — exact on both
#: engines, no float threshold). The band is implied by the
#: threshold (lev >= |len(a)-len(b)|), so it prunes without losing a
#: single qualifying pair at ANY document length — a fixed-width
#: band would silently drop long near-dups with large insertions.
_EDIT_PREFIX = 16
_EDIT_SIM_MULT = 5  # lev * MULT <= max(len)  <=>  similarity >= 1 - 1/MULT


def dedup_edit_distance_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """EDIT-DISTANCE near-dup pairs via blocking + verify — the
    string-metric member of the near-dup family (jaccard = token
    sets, simhash/minhash = sketches, containment = directional;
    this catches small in-place edits those miss ranking-wise).
    Candidates = pairs sharing a _EDIT_PREFIX-char content prefix
    whose length gap alone couldn't pass the threshold
    (lev(a,b) >= |len(a)-len(b)|, so |len gap|*5 <= max(len) is a
    LOSSLESS pre-filter for the verify cut at any length); verify =
    exact Levenshtein (JVM-side, no Python), keep pairs with
    lev*5 <= max(len) (similarity >= 0.8).

    Scale shape: ONE equi-shuffle on the prefix key — never an
    all-pairs cross; per-block work is O(block^2) pairs x O(len^2)
    DP cells, both bounded (blocks are prefix-exact, the length band
    caps the DP rectangle). The scale knobs are prefix length (block
    granularity) and the band; a pathological hot block (one shared
    prefix dominating the corpus) would need a secondary key — here
    max block size is 10 at sf0.1, measured."""
    docs = table(spark, sf, "documents").select(
        F.substring("text", 1, _EDIT_PREFIX).alias("p"),
        "doc_id",
        "text",
        "n_chars",
    )
    a, b = docs.alias("a"), docs.alias("b")
    cand = a.join(
        b,
        (F.col("a.p") == F.col("b.p"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (
            F.abs(F.col("a.n_chars") - F.col("b.n_chars")) * _EDIT_SIM_MULT
            <= F.greatest(F.col("a.n_chars"), F.col("b.n_chars"))
        ),
    )
    # `+ 0*rand` = the house value-neutral nondeterminism taint: it
    # stops Catalyst from substituting the downstream lev filter back
    # through this projection INTO the join condition, where the
    # O(len^2) levenshtein would run FIRST on every same-prefix pair
    # — including each doc against itself — before the cheap id/band
    # predicates prune (measured: 7.1 s -> 0.6 s warm at sf0.1).
    scored = cand.select(
        F.col("a.doc_id").alias("a_id"),
        F.col("b.doc_id").alias("b_id"),
        (
            F.levenshtein(F.col("a.text"), F.col("b.text"))
            + (F.rand(0) * 0).cast("int")
        )
        .cast("bigint")
        .alias("lev"),
        F.greatest(F.col("a.n_chars"), F.col("b.n_chars")).alias("mx"),
    )
    return scored.where(F.col("lev") * _EDIT_SIM_MULT <= F.col("mx")).select(
        "a_id",
        "b_id",
        "lev",
        F.round(1.0 - F.col("lev") / F.col("mx") + 1e-9, 4).alias("sim"),
    )


_EDIT_PAIRS_SQL = """
WITH p AS (
  SELECT substr(text, 1, {prefix}) AS p, doc_id, text, n_chars
  FROM documents),
scored AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
         greatest(a.n_chars, b.n_chars) AS mx
  FROM p a JOIN p b
    ON a.p = b.p AND a.doc_id < b.doc_id
   AND abs(a.n_chars - b.n_chars) * {mult} <= greatest(a.n_chars, b.n_chars))
SELECT a_id, b_id, lev,
       ROUND(1.0 - lev / mx + 1e-9, 4) AS sim
FROM scored WHERE lev * {mult} <= mx
""".format(prefix=_EDIT_PREFIX, mult=_EDIT_SIM_MULT)


# ---------------------------------------------------------------------------
# Curation stages. The nine llm_data_pipeline variants are ordered
# lists of these stages, all run by _run_stages and closed by
# one of two tails: the chunk summary (v1, v2) or the per-source funnel
# (v4-v9). A stage maps (spark, sf, docs) → docs: a row filter over the
# running (doc_id, source, text, …) frame. Only _entropy_floor (adds
# n_tokens, entropy) and _dsir_select (adds log_weight) add columns.
# Every stage is an already-oracled operator; the composed oracles
# (_PIPELINE_SQL, _V4_SQL, _v5_sql, _v67_sql) chain the same CTEs.
# ---------------------------------------------------------------------------


def _url_dedup(spark: SparkSession, sf: str, docs: DataFrame) -> DataFrame:
    """dedup_url_grain's keep-best-per-canonical-address set."""
    dups = _url_ranked(spark, sf).where(F.col("_rn") > 1).select("doc_id")
    return docs.join(dups, "doc_id", "left_anti")


def _domain_prefilter(
    spark: SparkSession, sf: str, docs: DataFrame
) -> DataFrame:
    """Drop whole sources whose canonical-fingerprint dup rate exceeds
    0.055 (text_domain_rollup's flag_high_dup at the pipeline grain)."""
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(TOKENS()))))
    dup_rate = 1.0 - F.countDistinct("f").cast("double") / F.count(F.lit(1))
    flagged = (
        docs.select("source", fp.alias("f"))
        .groupBy("source")
        .agg(F.round(dup_rate + 1e-9, 4).alias("dr"))
        .where(F.col("dr") > 0.055)
        .select("source")
    )
    return docs.join(F.broadcast(flagged), "source", "left_anti")


def _exact_dedup(spark: SparkSession, sf: str, docs: DataFrame) -> DataFrame:
    """Keep the lowest doc_id per md5(text) (ext_dedup_exact's keeper)."""
    keep = docs.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    return docs.join(keep.select("doc_id"), "doc_id", "left_semi")


def _holdout(spark: SparkSession, sf: str, docs: DataFrame) -> DataFrame:
    """Drop the doc_id % 10 = 0 eval slice: eval never enters training."""
    from .text import _EVAL_PRED

    return docs.where(~F.expr(_EVAL_PRED))


def _quality_gate(spark: SparkSession, sf: str, docs: DataFrame) -> DataFrame:
    """text_quality.passes_quality = 1."""
    from .text import text_quality

    ok = text_quality(spark, sf).where(F.col("passes_quality") == 1)
    return docs.join(ok.select("doc_id"), "doc_id", "left_semi")


def _repetition_gate(
    spark: SparkSession, sf: str, docs: DataFrame
) -> DataFrame:
    """text_repetition.is_repetitive = false."""
    from .text import text_repetition

    ok = text_repetition(spark, sf).where(~F.col("is_repetitive"))
    return docs.join(ok.select("doc_id"), "doc_id", "left_semi")


def _boilerplate_drop(
    spark: SparkSession, sf: str, docs: DataFrame
) -> DataFrame:
    """Drop docs whose RefinedWeb chunk-grain duplicated fraction
    exceeds 0.3 (dedup_paragraph's keep_doc = 0 list, computed on the
    raw corpus as a production pass would precompute it)."""
    bad = dedup_paragraph(spark, sf).where(F.col("keep_doc") == 0)
    return docs.join(bad.select("doc_id"), "doc_id", "left_anti")


def _entropy_floor(spark: SparkSession, sf: str, docs: DataFrame) -> DataFrame:
    """Token-distribution Shannon entropy ≥ 4.0 bits AND ≥ 20 tokens
    (text_entropy's shape), adding n_tokens and entropy.

    Entropy is a PER-ROW array expression: one array_sort (O(L log L))
    and a run-length fold over the sorted tokens (O(L)) accumulating
    Σ c·log2 c — no token explode, no shuffle, no join back. The
    (token, count) multiset is the oracle's, so only the float
    accumulation order differs from its hash aggregate, which the 6dp
    rounding absorbs (the established cross-engine tolerance)."""

    def close(acc):
        # a closed run of length c adds c·log2 c (0 for the empty start)
        run = acc["run"]
        return F.when(run > 0.0, run * F.log2(run)).otherwise(F.lit(0.0))

    def step(acc, x):
        return F.when(
            x == acc["prev"],
            F.struct(
                x.alias("prev"),
                (acc["run"] + 1.0).alias("run"),
                acc["clog"].alias("clog"),
            ),
        ).otherwise(
            F.struct(
                x.alias("prev"),
                F.lit(1.0).alias("run"),
                (acc["clog"] + close(acc)).alias("clog"),
            )
        )

    start = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0.0).alias("run"),
        F.lit(0.0).alias("clog"),
    )
    clog = F.aggregate(
        F.array_sort(TOKENS()), start, step, lambda a: a["clog"] + close(a)
    )
    entropy = F.log2("n_tokens") - clog / F.col("n_tokens")
    return (
        docs.withColumn("n_tokens", F.size(TOKENS()).cast("long"))
        .withColumn("entropy", F.round(entropy + 1e-9, 6))
        .where((F.col("entropy") >= 4.0) & (F.col("n_tokens") >= 20))
    )


def _containment_scrub(
    spark: SparkSession, sf: str, docs: DataFrame
) -> DataFrame:
    """Drop any doc ≥ 0.8-CONTAINED in a larger same-source doc (the
    dedup_containment_asym one-sided prefix join, so quote-inside-
    article shells go even at jaccard ≪ 0.4); ties on size keep the
    lower doc_id."""
    toks = F.array_distinct(F.transform(TOKENS(), _md5_long))
    hashed = docs.select("doc_id", "source", toks.alias("toks")).withColumn(
        "sz", F.size("toks")
    )
    pairs = _asym_containment_candidates(hashed, 7999, 10000)
    inter = F.col("inter").cast("double") / F.col("sz_a").cast("double")
    larger = (F.col("sz_b") > F.col("sz_a")) | (
        (F.col("sz_b") == F.col("sz_a")) & (F.col("doc_b") < F.col("doc_a"))
    )
    drops = (
        pairs.where((F.round(inter + 1e-9, 4) >= 0.8) & larger)
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )
    return docs.join(drops, "doc_id", "left_anti")


def _semantic_dedup(
    spark: SparkSession, sf: str, docs: DataFrame
) -> DataFrame:
    """Drop SemDeDup casualties (dedup_semdedup, doc_id = vec_id); docs
    without an embedding row pass through."""
    from .similarity import dedup_semdedup

    drops = dedup_semdedup(spark, sf).select(F.col("vec_id").alias("doc_id"))
    return docs.join(drops, "doc_id", "left_anti")


def _decontam(spark: SparkSession, sf: str, docs: DataFrame) -> DataFrame:
    """Drop docs within cosine 0.35 of an eval embedding
    (sim_semantic_decontam's drop list)."""
    from .similarity import sim_semantic_decontam

    drops = sim_semantic_decontam(spark, sf).select("doc_id")
    return docs.join(drops, "doc_id", "left_anti")


def _dsir_select(spark: SparkSession, sf: str, docs: DataFrame) -> DataFrame:
    """Keep the top ⌈n/2⌉ docs by text_dsir_weight's log_weight
    (doc_id tiebreak), ranked with the distributed util.global_prefix,
    never a single-partition window; adds log_weight."""
    from ..util import global_prefix
    from .text import text_dsir_weight

    w = text_dsir_weight(spark, sf).select("doc_id", "log_weight")
    scored = docs.join(w, "doc_id").withColumn("_negw", -F.col("log_weight"))
    return (
        global_prefix(scored, ["_negw", "doc_id"])
        .where(F.col("_prefix") <= F.expr("(_total + 1) DIV 2"))
        .drop("_negw", "_prefix", "_total")
    )


def _lazy(df: DataFrame) -> DataFrame:
    return df


def _checkpoint(df: DataFrame) -> DataFrame:
    return df.localCheckpoint()


# Stage lists: (funnel column, stage, cut). The last entry's output is
# the kept set. The cut is where a stage's output is materialized:
# - persist_tracked where several later layers re-read a frame (the
#   funnel counts and the next stage);
# - localCheckpoint from semantic dedup down, and on the URL stage at
#   the head (the dedup_clusters rule: cut lineage where lineage itself
#   is the pathology). With persists there, every layer's
#   InMemoryRelation PRINTS its whole cached subtree, and AQE
#   regenerates the explain string on every adaptive update: 2.9 MB of
#   plan text and ~100 s of driver CPU at sf0.001, and v8 took 23.0 s
#   persisted vs 10.2 s checkpointed at sf0.1. The checkpoints flatten
#   the tail to LogicalRDD leaves (~0.3 s per action). They are
#   LINEAGE-NON-RECOVERABLE: an executor lost mid-job fails the job
#   instead of recomputing (for a must-survive-executor-loss
#   deployment, switch them to a reliable checkpoint() on a
#   cluster-visible dir);
# - _lazy (no cut) where one consumer reads the frame: v1/v2's gates
#   plan into one job with their tail (v3 persists its gated base
#   itself), and v4's kept set feeds only the kept aggregate.
_V1_STAGES = [
    ("n_after_exact", _exact_dedup, _lazy),
    ("n_kept", _quality_gate, _lazy),
]
_V2_STAGES = [
    ("n_after_exact", _exact_dedup, _lazy),
    ("n_after_holdout", _holdout, _lazy),
    ("n_after_text_quality", _quality_gate, _lazy),
    ("n_kept", _repetition_gate, _lazy),
]
_V3_GATES = [
    ("n_after_holdout", _holdout, _lazy),
    ("n_after_text_quality", _quality_gate, _lazy),
    ("n_after_repetition", _repetition_gate, _lazy),
]
_V4_STAGES = [
    ("n_after_exact", _exact_dedup, persist_tracked),
    ("n_after_quality", _entropy_floor, persist_tracked),
    ("n_kept", _containment_scrub, _lazy),
]
_V5_STAGES = [
    ("n_after_domain", _domain_prefilter, persist_tracked),
    ("n_after_exact", _exact_dedup, persist_tracked),
    ("n_after_quality", _entropy_floor, persist_tracked),
    ("n_after_containment", _containment_scrub, persist_tracked),
    ("n_kept", _semantic_dedup, _checkpoint),
]
_V6_STAGES = [
    ("n_after_domain", _domain_prefilter, persist_tracked),
    ("n_after_exact", _exact_dedup, persist_tracked),
    ("n_after_boilerplate", _boilerplate_drop, persist_tracked),
    ("n_after_quality", _entropy_floor, persist_tracked),
    ("n_after_containment", _containment_scrub, persist_tracked),
    ("n_after_semantic", _semantic_dedup, _checkpoint),
    ("n_kept", _dsir_select, _checkpoint),
]
_V7_STAGES = [
    *_V6_STAGES[:-1],
    ("n_after_decontam", _decontam, _checkpoint),
    _V6_STAGES[-1],
]
_V8_STAGES = [
    ("n_after_url", _url_dedup, _checkpoint),
    *_V7_STAGES,
]


def _run_stages(spark: SparkSession, sf: str, stages: list) -> list:
    """Run a curation variant's ordered stage list over the
    documents table, cutting each stage's output as its entry says.
    Returns every layer as (name, frame): raw documents first
    ("n_raw"), the kept set last."""
    docs = table(spark, sf, "documents").select("doc_id", "source", "text")
    layers = [("n_raw", docs)]
    for name, stage, cut in stages:
        layers.append((name, cut(stage(spark, sf, layers[-1][1]))))
    return layers


def _packed(layers: list) -> DataFrame:
    """v1/v2 tail: the kept set's sequence-packing chunk summary."""
    n_tok = F.size(TOKENS()).alias("n_tok")
    return _chunk_summary(layers[-1][1].select("doc_id", n_tok))


def _funnel(layers: list, per_source: DataFrame, tail_cols: list) -> DataFrame:
    """v4-v9 tail: the per-source funnel. Every layer but the kept one
    is counted in ONE union of (source, layer-tag) rows and one
    map-side-combinable conditional aggregate (1 exchange, no joins;
    one aggregate per layer met in a left-join chain cost v8 9
    exchanges and 8 joins). A source absent from a layer counts 0, as
    the oracle's LEFT JOIN + COALESCE(…, 0) does: every layer is a
    subset of the raw docs, so the union's sources are the raw ones.
    ``per_source`` carries n_kept and kept_tokens beside the columns
    ``tail_cols`` reads."""
    from functools import reduce

    counted = layers[:-1]
    tagged = reduce(
        DataFrame.unionByName,
        [
            df.select("source", F.lit(i).alias("_st"))
            for i, (_, df) in enumerate(counted)
        ],
    )
    counts = tagged.groupBy("source").agg(
        *[
            F.count(F.when(F.col("_st") == i, 1)).alias(name)
            for i, (name, _) in enumerate(counted)
        ]
    )
    zeroed = [name for name, _ in counted[1:]] + ["n_kept", "kept_tokens"]
    return counts.join(per_source, "source", "left").select(
        "source",
        "n_raw",
        *[F.coalesce(c, F.lit(0)).alias(c) for c in zeroed],
        *tail_cols,
    )


def _entropy_tail(layers: list) -> DataFrame:
    """v4/v5 tail: kept count, token mass and mean entropy per source."""
    kept_n = layers[-1][1].groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("kept_tokens"),
        F.round(F.avg("entropy") + 1e-9, 4).alias("mean_entropy_kept"),
    )
    return _funnel(layers, kept_n, ["mean_entropy_kept"])


def _mixture(kept: DataFrame) -> DataFrame:
    """v6-v9 per-source frame: kept count, token mass and mean DSIR
    weight, plus the temperature-mix terms p (token share), w = p^0.3
    and z = Σw, computed only over sources with kept docs (so p > 0)."""
    kept_n = (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").alias("kept_tokens"),
            F.round(F.avg("log_weight") + 1e-9, 4).alias("mean_dsir_kept"),
        )
        .localCheckpoint()
    )
    tot = kept_n.agg(F.sum("kept_tokens").alias("tot"))
    p = F.col("kept_tokens").cast("double") / F.col("tot").cast("double")
    shares = persist_tracked(
        kept_n.crossJoin(F.broadcast(tot)).select(
            "source", p.alias("p"), F.pow(p, 0.3).alias("w")
        )
    )
    z = shares.agg(F.sum("w").alias("z"))
    return kept_n.join(shares.crossJoin(F.broadcast(z)), "source", "left")


def _mix_cols() -> list:
    q = F.col("w") / F.col("z")
    return [
        "mean_dsir_kept",
        F.round(q + 1e-9, 6).alias("q_temp"),
        F.round(q / F.col("p") + 1e-9, 4).alias("boost"),
    ]


def _epoch_cols() -> list:
    # tokens_epoch_budget over the KEPT token mass: budget = 4× kept
    # mass (Muennighoff repeat ceiling), compared on the ROUNDED epochs
    e = F.round(F.lit(4.0) * F.col("w") / F.col("z") / F.col("p") + 1e-9, 4)
    return [e.alias("epochs_at_4x"), (e > 4.0).alias("over_repeat")]


def _mix_tail(layers: list) -> DataFrame:
    """v6/v7 tail: the temperature mixture over the kept token mass."""
    return _funnel(layers, _mixture(layers[-1][1]), _mix_cols())


def _epoch_tail(layers: list) -> DataFrame:
    """v8 tail: the mixture plus the epoch-budget columns."""
    cols = _mix_cols() + _epoch_cols()
    return _funnel(layers, _mixture(layers[-1][1]), cols)


def _bpe_tail(layers: list) -> DataFrame:
    """v9 tail: v8's, plus a BPE vocabulary induced ON the kept corpus
    and each source's kept token mass re-expressed in subword symbols."""
    from .text import _BPE_VOCAB_ROUNDS, _bpe_arr, _bpe_state_after_from

    kept = layers[-1][1]
    state = _bpe_state_after_from(kept, _BPE_VOCAB_ROUNDS)
    syms = state.select("word", F.size(_bpe_arr()).cast("long").alias("n_syms"))
    words = (
        kept.select("source", F.explode(TOKENS()).alias("word"))
        .where(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_syms = F.sum(F.col("c") * F.col("n_syms"))
    bpe_n = (
        words.join(syms, "word")
        .groupBy("source")
        .agg(n_syms.alias("bpe_symbols_kept"), F.sum("c").alias("_bt"))
    )
    per_tok = F.col("bpe_symbols_kept").cast("double") / F.col("_bt")
    cols = _mix_cols() + _epoch_cols()
    cols += [
        F.coalesce("bpe_symbols_kept", F.lit(0)).alias("bpe_symbols_kept"),
        F.round(per_tok + 1e-9, 6).alias("bpe_symbols_per_token"),
    ]
    per_source = _mixture(kept).join(bpe_n, "source", "left")
    return _funnel(layers, per_source, cols)


def llm_data_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The end-to-end training-data preparation pipeline as ONE
    composed query — the shape a real corpus build runs nightly:

        documents
          → quality filter      (text_quality.passes_quality)
          → exact dedup         (keep lowest doc_id per content md5)
          → sequence packing    (concatenate-then-split at 512 tokens)
          → per-chunk summary

    Every stage is an already-oracled operator; composing them proves
    the stages agree on one DataFrame lineage (no materialization
    between stages — Catalyst plans the whole pipeline as one job, and
    the dedup/quality predicates get evaluated in the same scan pass
    where possible). The oracle chains the same CTEs."""
    return _packed(_run_stages(spark, sf, _V1_STAGES))


_PIPELINE_SQL = """
WITH q AS ({quality}),
k AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
t AS (
  SELECT d.doc_id, len({toks}) AS n_tok
  FROM documents d
  JOIN (SELECT doc_id FROM q WHERE passes_quality = 1) USING (doc_id)
  JOIN k USING (doc_id)
),
{tail}
""".format(
    quality="{quality}", toks=_TOKENS_SQL, tail=_CHUNK_TAIL_SQL.strip()
)


def llm_data_pipeline_v2(spark: SparkSession, sf: str) -> DataFrame:
    """The round-5 corpus build: v1's quality→dedup→pack extended with
    the new hygiene gates, still ONE composed Catalyst job:

        documents
          → quality filter       (text_quality.passes_quality)
          → repetition filter    (text_repetition.is_repetitive = false)
          → eval holdout         (drop the doc_id % 10 = 0 eval slice —
                                  the contamination boundary: eval never
                                  enters training chunks)
          → exact dedup          (keep lowest doc_id per content md5)
          → sequence packing     (concatenate-then-split at 512 tokens)
          → per-chunk summary

    Each gate is an already-oracled operator; the composed oracle
    chains the same CTEs, so stage-disagreement (e.g. tokenizer drift
    between the repetition filter and the packer) breaks the hash."""
    return _packed(_run_stages(spark, sf, _V2_STAGES))


def llm_data_pipeline_v4(spark: SparkSession, sf: str) -> DataFrame:
    """The round-10 corpus build — the curation recipe composed from
    this round's NEW primitives, still one Catalyst job:

        documents
          → exact dedup        (keep lowest doc_id per md5(text))
          → entropy floor      (text_entropy shape: token-distribution
                                Shannon entropy ≥ 4.0 bits AND ≥ 20
                                tokens — the keyword-stuffing /
                                boilerplate-loop cut; drops ~19% at the
                                driver's SFs, measured before pinning)
          → containment scrub  (drop any survivor ≥ 0.8-CONTAINED in a
                                larger same-source survivor — the
                                dedup_containment_asym one-sided prefix
                                join, so quote-inside-article shells go
                                even at jaccard ≪ 0.4; ties on size
                                keep the lower doc_id)
          → per-source funnel  (n_raw → n_after_exact →
                                n_after_quality → n_kept, kept token
                                mass, mean entropy of kept)

    Every stage is an already-oracled r10 operator; the composed
    oracle chains the same CTEs, so a tokenizer/hash/rounding drift in
    ANY stage breaks the hash. The funnel is reported per source with
    LEFT joins from the raw counts — a source whose docs all die still
    shows its row (zeros, NULL mean), which is exactly what a corpus
    curator needs to see.

    Scale shape: one md5 dedup shuffle, a per-row entropy fold (no
    token shuffle), the asym-containment candidate join (linear
    token-index shuffle, bounded broadcast), one anti join, and
    per-source aggregates. Nothing corpus-sized broadcasts; no
    windows over raw docs."""
    return _entropy_tail(_run_stages(spark, sf, _V4_STAGES))


_V4_SQL = """
WITH raw AS (SELECT doc_id, source, text FROM documents),
keep1 AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
d1 AS (SELECT r.* FROM raw r SEMI JOIN keep1 USING (doc_id)),
tok AS (SELECT doc_id, unnest({toks}) AS tok FROM d1),
cnt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2),
ent AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         ROUND(log2(CAST(SUM(c) AS BIGINT))
               - SUM(CAST(c AS DOUBLE) * log2(c)) / CAST(SUM(c) AS BIGINT)
               + 1e-9, 6) AS entropy
  FROM cnt GROUP BY 1),
d2 AS (
  SELECT d1.doc_id, d1.source, d1.text, ent.n_tokens, ent.entropy
  FROM d1 JOIN ent USING (doc_id)
  WHERE ent.entropy >= 4.0 AND ent.n_tokens >= 20),
t2 AS (SELECT doc_id, source, list_distinct({toks}) AS toks FROM d2),
p AS (
  SELECT a.doc_id AS da, b.doc_id AS db,
         len(list_intersect(a.toks, b.toks)) AS inter,
         len(a.toks) AS sza, len(b.toks) AS szb
  FROM t2 a JOIN t2 b ON a.source = b.source AND a.doc_id <> b.doc_id),
drops AS (
  SELECT DISTINCT da AS doc_id FROM p
  WHERE ROUND(CAST(inter AS DOUBLE) / sza + 1e-9, 4) >= 0.8
    AND (szb > sza OR (szb = sza AND db < da))),
kept AS (SELECT d2.* FROM d2 ANTI JOIN drops USING (doc_id)),
raw_n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw
          FROM raw GROUP BY 1),
d1_n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_after_exact
         FROM d1 GROUP BY 1),
d2_n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_after_quality
         FROM d2 GROUP BY 1),
kept_n AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
         CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
         ROUND(AVG(entropy) + 1e-9, 4) AS mean_entropy_kept
  FROM kept GROUP BY 1)
SELECT raw_n.source, raw_n.n_raw,
       COALESCE(d1_n.n_after_exact, 0)   AS n_after_exact,
       COALESCE(d2_n.n_after_quality, 0) AS n_after_quality,
       COALESCE(kept_n.n_kept, 0)        AS n_kept,
       COALESCE(kept_n.kept_tokens, 0)   AS kept_tokens,
       kept_n.mean_entropy_kept
FROM raw_n
LEFT JOIN d1_n   USING (source)
LEFT JOIN d2_n   USING (source)
LEFT JOIN kept_n USING (source)
""".format(toks=_TOKENS_SQL)


def llm_data_pipeline_v5(spark: SparkSession, sf: str) -> DataFrame:
    """The round-12 corpus build — v4 bracketed by the two NEW r12
    curation stages, still one Catalyst job:

        documents
          → DOMAIN PRE-FILTER  (drop whole domains whose canonical-
                                fingerprint dup rate > 0.055 —
                                text_domain_rollup's flag_high_dup
                                recomputed at the pipeline grain; the
                                CommonCrawl-style kill-the-domain cut
                                that runs BEFORE any per-doc work)
          → exact dedup        (keep lowest doc_id per md5(text))
          → entropy floor      (≥ 4.0 bits AND ≥ 20 tokens — v4)
          → containment scrub  (≥ 0.8-contained in a larger
                                same-source survivor — v4)
          → SEMANTIC DEDUP     (drop survivors whose embedding is a
                                SemDeDup casualty — dedup_semdedup's
                                keep-lowest-id within-cell cosine ≥
                                0.4 rule, anti-joined on doc_id =
                                vec_id; docs WITHOUT an embedding row
                                pass through, which at sf0.1 is 3,000
                                of 5,000 docs — the honest semantics
                                when the embedding table lags the
                                text table)
          → per-source funnel  (n_raw → n_after_domain →
                                n_after_exact → n_after_quality →
                                n_after_containment → n_kept, kept
                                token mass, mean entropy of kept)

    Every stage is an already-oracled operator (text_domain_rollup,
    ext_dedup_exact, text_entropy, dedup_containment_asym,
    dedup_semdedup); the composed oracle chains the same CTEs, so a
    tokenizer/hash/rounding/cell drift in ANY stage breaks the hash.
    Funnel rows LEFT-join from raw counts — a domain killed at stage
    one still shows its row with zeros, which is exactly what the
    curator reviews.

    Scale shape: the domain flag is one fingerprint aggregate
    (|domains| rows, broadcast back); then v4's shuffles (md5 dedup,
    per-row entropy, asym-containment candidate join, anti join);
    the semantic drop list is cell-blocked pairs over the embedding
    table (n²/(2·k_cells), √n-cell sizing at production — see
    dedup_semdedup) anti-joined on doc_id. Nothing corpus-sized
    broadcasts."""
    return _entropy_tail(_run_stages(spark, sf, _V5_STAGES))


def _v5_sql() -> str:
    """Composed v5 oracle: the v4 CTE chain bracketed by the domain
    flag (fingerprint aggregate) and the dedup_semdedup drop CTEs
    (imported fragments from similarity so a cell/cosine edit there
    propagates here — the r7 compose-don't-copy rule)."""
    from .similarity import (
        _COS_SQL,
        _EMB_SQL,
        _IVF_GRAPH_RANKED_SQL,
        _SEMDEDUP_TAU,
    )

    return """
WITH raw AS (SELECT doc_id, source, text FROM documents),
rfp AS (
  SELECT source,
         md5(list_aggregate(list_sort(list_distinct({toks})),
                            'string_agg', ' ')) AS f
  FROM documents),
flagged AS (
  SELECT source FROM rfp GROUP BY 1
  HAVING ROUND(1.0 - COUNT(DISTINCT f) / CAST(COUNT(*) AS DOUBLE) + 1e-9, 4)
         > 0.055),
d0 AS (SELECT raw.* FROM raw ANTI JOIN flagged USING (source)),
keep1 AS (SELECT MIN(doc_id) AS doc_id FROM d0 GROUP BY md5(text)),
d1 AS (SELECT d0.* FROM d0 SEMI JOIN keep1 USING (doc_id)),
tok AS (SELECT doc_id, unnest({toks}) AS tok FROM d1),
cnt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2),
ent AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         ROUND(log2(CAST(SUM(c) AS BIGINT))
               - SUM(CAST(c AS DOUBLE) * log2(c)) / CAST(SUM(c) AS BIGINT)
               + 1e-9, 6) AS entropy
  FROM cnt GROUP BY 1),
d2 AS (
  SELECT d1.doc_id, d1.source, d1.text, ent.n_tokens, ent.entropy
  FROM d1 JOIN ent USING (doc_id)
  WHERE ent.entropy >= 4.0 AND ent.n_tokens >= 20),
t2 AS (SELECT doc_id, source, list_distinct({toks}) AS toks FROM d2),
p AS (
  SELECT a.doc_id AS da, b.doc_id AS db,
         len(list_intersect(a.toks, b.toks)) AS inter,
         len(a.toks) AS sza, len(b.toks) AS szb
  FROM t2 a JOIN t2 b ON a.source = b.source AND a.doc_id <> b.doc_id),
cdrops AS (
  SELECT DISTINCT da AS doc_id FROM p
  WHERE ROUND(CAST(inter AS DOUBLE) / sza + 1e-9, 4) >= 0.8
    AND (szb > sza OR (szb = sza AND db < da))),
kept_c AS (SELECT d2.* FROM d2 ANTI JOIN cdrops USING (doc_id)),
e AS ({emb}),
{ranked},
assign AS (SELECT vec_id, cid AS cell FROM ranked WHERE rk = 1),
m AS (SELECT a.vec_id, a.cell, e.v FROM assign a JOIN e USING (vec_id)),
spairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cosine
  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id),
sdrops AS (
  SELECT DISTINCT vec_b AS doc_id FROM spairs WHERE cosine >= {tau}),
kept AS (SELECT kept_c.* FROM kept_c ANTI JOIN sdrops USING (doc_id)),
raw_n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw
          FROM raw GROUP BY 1),
d0_n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_after_domain
         FROM d0 GROUP BY 1),
d1_n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_after_exact
         FROM d1 GROUP BY 1),
d2_n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_after_quality
         FROM d2 GROUP BY 1),
cont_n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_after_containment
           FROM kept_c GROUP BY 1),
kept_n AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
         CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
         ROUND(AVG(entropy) + 1e-9, 4) AS mean_entropy_kept
  FROM kept GROUP BY 1)
SELECT raw_n.source, raw_n.n_raw,
       COALESCE(d0_n.n_after_domain, 0)        AS n_after_domain,
       COALESCE(d1_n.n_after_exact, 0)         AS n_after_exact,
       COALESCE(d2_n.n_after_quality, 0)       AS n_after_quality,
       COALESCE(cont_n.n_after_containment, 0) AS n_after_containment,
       COALESCE(kept_n.n_kept, 0)              AS n_kept,
       COALESCE(kept_n.kept_tokens, 0)         AS kept_tokens,
       kept_n.mean_entropy_kept
FROM raw_n
LEFT JOIN d0_n   USING (source)
LEFT JOIN d1_n   USING (source)
LEFT JOIN d2_n   USING (source)
LEFT JOIN cont_n USING (source)
LEFT JOIN kept_n USING (source)
""".format(
        toks=_TOKENS_SQL,
        emb=_EMB_SQL,
        ranked=_IVF_GRAPH_RANKED_SQL,
        cos=_COS_SQL.format(a="a", b="b"),
        tau=_SEMDEDUP_TAU,
    )


def llm_data_pipeline_v6(spark: SparkSession, sf: str) -> DataFrame:
    """The round-12 second-wave corpus build — v5 extended by the
    three stages a 100 TB curation run performs after semantic dedup,
    completing the engine's filter → dedup → select → mix story:

        domain pre-filter → exact dedup
          → BOILERPLATE DROP  (drop docs whose RefinedWeb chunk-grain
                               duplicated fraction exceeds 0.3 —
                               dedup_paragraph's keep_doc = 0 list,
                               computed on the RAW corpus exactly as
                               a production pass would precompute it;
                               EARLY, before any pairwise stage — at
                               100 TB you kill boilerplate before it
                               enters the O(pairs) containment join,
                               and on this corpus the late placement
                               is also vacuous: the containment
                               survivors at sf0.1 are precisely the
                               high-dup template hubs, so a post-scrub
                               cut drops ALL of them)
          → entropy floor → containment scrub → semantic dedup
                              (v5's stages, unchanged semantics)
          → DSIR SELECTION    (keep the top ⌈n/2⌉ survivors by
                               target-domain importance weight —
                               text_dsir_weight's log_weight, ranked
                               with doc_id tiebreaks via the
                               distributed util.global_prefix rank,
                               never a single-partition window; the
                               budget-style deterministic stand-in
                               for importance RESAMPLING, and the
                               kept docs' mean log-weight is reported
                               per source so the pull toward the
                               target is auditable)
          → TEMPERATURE MIX   (per-source q ∝ p^0.3 sampling shares
                               over the FINAL kept token mass — the
                               step that turns a curated corpus into
                               a training mixture; NULL for a source
                               with nothing kept)
          → per-source funnel (n_raw → n_after_domain → n_after_exact
                               → n_after_boilerplate → n_after_quality
                               → n_after_containment → n_after_semantic
                               → n_kept, kept token mass,
                               mean_dsir_kept, q_temp, boost)

    Every stage is an already-oracled operator (v5's five plus
    dedup_paragraph, text_dsir_weight, sample_temperature's formula);
    the composed oracle embeds dedup_paragraph's and
    text_dsir_weight's FULL published SQL as subqueries (the r7
    compose-don't-copy rule: an edit to either op propagates here and
    a drift in ANY stage breaks this hash). Funnel rows LEFT-join
    from raw counts — a domain killed at stage one still shows zeros.

    Margin audit (r10 process rule): every stage count ≤ the prior
    stage's (anti/semi joins only remove); the temperature shares are
    computed ONLY over sources with kept_tokens > 0, so p > 0 and
    pow/division are finite; a fully-empty kept set degrades to NULL
    shares in both engines (SUM over zero rows), never a divide-by-
    zero.

    Scale shape: v5's shuffles plus dedup_paragraph's two linear
    chunk shuffles, text_dsir_weight's linear bigram shuffle +
    256-row broadcast, two doc_id anti/semi joins, and |sources|-row
    broadcast reductions for the mixture — nothing corpus-sized
    broadcasts, nothing pairwise beyond the cell-blocked stages
    already priced in v5.

    Failure mode (r12 judge note, accepted trade): the three eager
    localCheckpoint cuts at the funnel tail are LINEAGE-NON-
    RECOVERABLE — an executor lost while this job runs FAILS the job
    (resubmit it) instead of recomputing the lost partitions, because
    a localCheckpoint's blocks live only on the executors that wrote
    them. That is the price of the explain-string fix noted above the
    stage lists (_V1_STAGES); for a batch corpus build a rerun is
    acceptable, for a must-survive-executor-loss deployment switch the
    three cuts to reliable checkpoint() on a cluster-visible
    checkpoint dir (same semantics, adds an HDFS/S3 write)."""
    return _mix_tail(_run_stages(spark, sf, _V6_STAGES))


def llm_data_pipeline_v7(spark: SparkSession, sf: str) -> DataFrame:
    """The round-13 corpus build — v6 plus the SEMANTIC
    DECONTAMINATION stage (VERDICT r12 item 4's composition target):
    after semantic dedup and before DSIR selection, drop every
    surviving train doc whose embedding sits at cosine ≥ 0.35 of any
    eval-set embedding (sim_semantic_decontam's drop list — the
    embedding-level twin of v3's 5-gram decontamination, catching
    paraphrased benchmark leakage no n-gram scan can see). Placement:
    decontamination must run before SELECTION, not after — DSIR keeps
    a fixed ⌈n/2⌉ budget, and dropping contaminated docs afterwards
    would under-fill it; running the broadcast-exact scan after the
    dedup stages also scans the fewest rows.

    Funnel gains one column (n_after_decontam, between
    n_after_semantic and n_kept); everything else — stages, oracle
    discipline, localCheckpoint failure-mode trade — is v6's, shared
    via the shared stage list so the two keys cannot drift apart. The
    composed oracle embeds sim_semantic_decontam's FULL published SQL
    as a subquery (compose-don't-copy).

    Margin audit (r13): decontam is an anti-join, so
    n_after_decontam ≤ n_after_semantic holds structurally. Measured
    stage effect on live data: removes 0 / 2 / 0 of the 16 / 16 / 3
    semantic-dedup survivors at sf0.001 / 0.01 / 0.1 — non-vacuous at
    the DRIVER'S correctness sf (0.01), where both verdicts occur
    (docs dropped AND docs kept); at the other two sfs the upstream
    funnel has already removed every contaminated doc, which the
    structural tests cover by certifying sim_semantic_decontam's own
    drop list brute-force (test_curation_r13). All other margins
    inherited from v6."""
    return _mix_tail(_run_stages(spark, sf, _V7_STAGES))


def llm_data_pipeline_v8(spark: SparkSession, sf: str) -> DataFrame:
    """The round-14 corpus build — v7 book-ended by the two r14
    additions, closing the crawl-to-training-run story at both ends:

        URL-GRAIN DEDUP      (stage 0, BEFORE any text statistic —
                              the CCNet/RefinedWeb order: canonical-
                              address keep-best-quality dedup, ie.
                              dedup_url_grain's keeper set; a mirror
                              crawled twice dies here, and the domain
                              dup-ratio flagging below reads the
                              post-URL corpus so a mirror cannot
                              inflate its source's dup ratio)
          → v7's chain unchanged (domain → exact → boilerplate →
            entropy → containment → semantic dedup → decontam →
            DSIR selection → temperature mix)
          → EPOCH ACCOUNTING  (tail: tokens_epoch_budget's data-
                              constrained-scaling columns over the
                              KEPT token mass at the 4× budget —
                              epochs_at_4x = 4 × boost, over_repeat
                              on the ROUNDED value)

    Funnel gains n_after_url (between n_raw and n_after_domain) and
    the two epoch columns; everything else — stages, compose-don't-
    copy oracle discipline, localCheckpoint failure-mode trade — is
    v7's, shared via the stage lists so the three variants cannot
    drift. The composed oracle embeds the _url_ranked_ctes_sql block
    (which itself embeds text_bigram_lm_score's published SQL) and
    the epoch formula verbatim.

    Margin audit (r14): n_after_url ≤ n_raw structurally (anti-join);
    stage effect measured live — the URL stage removes exactly half
    the corpus at every sf (250/250 at sf0.01: the derived address
    collapses 3→1/3→2 in alternating 30-blocks), which shifts every
    downstream count vs v7 (funnel non-vacuity is corpus-wide, not
    boundary-dependent); epoch margins inherit tokens_epoch_budget's
    audit (over_repeat both-verdict split measured 9/11 of 20 at
    sf0.01 on the kept mass). All other margins inherited from v7."""
    return _epoch_tail(_run_stages(spark, sf, _V8_STAGES))


def llm_data_pipeline_v9(spark: SparkSession, sf: str) -> DataFrame:
    """The round-15 corpus build — v8 plus the TOKENIZER-ACCOUNTING
    tail (VERDICT r14 item 4's composition target): after the funnel
    settles on the kept corpus, a 3-merge BPE vocabulary is induced
    ON THE KEPT CORPUS (the production order — tokenizers train on
    cleaned data; inducing upstream would let boilerplate and mirror
    text vote on the merges) and every source's kept token mass is
    re-expressed in SUBWORD SYMBOLS: bpe_symbols_kept and
    bpe_symbols_per_token join the epoch columns, closing the loop
    between the epoch budget's whitespace-token accounting and what a
    real training run feeds the model.

    Funnel gains those two columns; everything else — stages,
    compose-don't-copy oracle discipline, localCheckpoint trades — is
    v8's (same stage list, _V8_STAGES) so the four variants cannot drift.
    The composed oracle splices text.py's BPE head/round CTE blocks
    (the same templates text_bpe_vocab/text_bpe_encode compose from)
    with the induction head re-pointed at the kept CTE.

    Margin audit (r15): the encode join drops nothing (the vocab is
    induced from the same kept corpus it encodes — structural);
    n_bpe_tokens ≤ bpe_symbols_kept ≤ kept char mass; measured at
    sf0.01: kept merges are er→ow→st (NOT the full-corpus er→in→ow —
    the funnel shifts pair statistics, which is exactly why induction
    order matters); both columns vary by source, non-vacuous at every
    sf. Oracle note: the kept CTE is MATERIALIZED — DuckDB otherwise
    inlines the whole funnel into each of the BPE tail's three
    references (89.7 s → 7.5 s at sf0.01, values identical)."""
    return _bpe_tail(_run_stages(spark, sf, _V8_STAGES))


def _v67_sql(
    with_decontam: bool,
    with_url_stage: bool = False,
    with_bpe_tail: bool = False,
) -> str:
    """Composed v6/v7/v8/v9 oracle: v5's CTE chain extended by
    dedup_paragraph and text_dsir_weight EMBEDDED AS FULL SUBQUERIES
    of their published SQL (compose-don't-copy: an edit to either
    op's oracle propagates here), then the temperature-mixture CTEs
    over the final kept token mass. with_decontam=True (v7) splices
    sim_semantic_decontam's published SQL in as the kept_dec
    anti-join plus its funnel column; with_url_stage=True (v8)
    prepends _url_ranked_ctes_sql()'s URL-grain keep-best block as
    stage 0 (the domain-flagging rfp then reads the post-URL corpus)
    and appends the epoch-budget tail columns; with_bpe_tail=True
    (v9) splices text.py's BPE head/round CTE templates with the
    induction head re-pointed at the kept CTE, and appends the
    subword-symbol accounting columns."""
    from .similarity import (
        _COS_SQL,
        _EMB_SQL,
        _IVF_GRAPH_RANKED_SQL,
        _SEM_DECONTAM_SQL,
        _SEMDEDUP_TAU,
    )
    from .text import _DSIR_SQL

    if with_url_stage:
        url_ctes = """
{ranked_ctes},
udrops AS (SELECT doc_id FROM uranked WHERE rn > 1),
durl AS (SELECT raw.* FROM raw ANTI JOIN udrops USING (doc_id)),""".format(
            ranked_ctes=_url_ranked_ctes_sql().strip()
        )
        url_n_cte = """
url_n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_after_url
          FROM durl GROUP BY 1),"""
        url_col = (
            "\n       COALESCE(url_n.n_after_url, 0)          AS n_after_url,"
        )
        url_join = "\nLEFT JOIN url_n  USING (source)"
        base = "durl"
        epoch_cols = (
            ",\n         ROUND(4.0 * sh.w / zz.z / sh.p + 1e-9, 4)"
            " AS epochs_at_4x,"
            "\n         ROUND(4.0 * sh.w / zz.z / sh.p + 1e-9, 4) > 4.0"
            " AS over_repeat"
        )
        epoch_out = ",\n       mix.epochs_at_4x,\n       mix.over_repeat"
    else:
        url_ctes = url_n_cte = url_col = url_join = ""
        base = "raw"
        epoch_cols = epoch_out = ""

    if with_decontam:
        dec_ctes = """
decd AS (SELECT doc_id FROM ({dec_sql})),
kept_dec AS (SELECT kept_sem.* FROM kept_sem ANTI JOIN decd USING (doc_id)),""".format(
            dec_sql=_SEM_DECONTAM_SQL.strip()
        )
        dec_n_cte = """
dec_n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_after_decontam
          FROM kept_dec GROUP BY 1),"""
        dec_col = (
            "\n       COALESCE(dec_n.n_after_decontam, 0)"
            "    AS n_after_decontam,"
        )
        dec_join = "\nLEFT JOIN dec_n  USING (source)"
    else:
        dec_ctes = "\nkept_dec AS (SELECT * FROM kept_sem),"
        dec_n_cte = dec_col = dec_join = ""

    if with_bpe_tail:
        from .text import _BPE_VOCAB_ROUNDS, _bpe_head_sql, _bpe_round_block

        bpe_ctes = (
            "\n"
            + _bpe_head_sql(src="kept", with_prefix="")
            + "".join(
                _bpe_round_block(r) for r in range(1, _BPE_VOCAB_ROUNDS + 1)
            )
            + """,
bsyms AS (
  SELECT word, CAST(len(string_split(substring(w, 2, length(w) - 2),
                                     '||')) AS BIGINT) AS n_syms
  FROM st{k}),
bpw AS (
  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source, unnest({toks}) AS word FROM kept)
  WHERE word <> '' GROUP BY 1, 2),
bpe_n AS (
  SELECT source, CAST(SUM(c * n_syms) AS BIGINT) AS bpe_symbols_kept,
         ROUND(CAST(SUM(c * n_syms) AS DOUBLE) / SUM(c) + 1e-9, 6)
           AS bpe_symbols_per_token
  FROM bpw JOIN bsyms USING (word) GROUP BY 1),""".format(
                k=_BPE_VOCAB_ROUNDS, toks=_TOKENS_SQL
            )
        )
        bpe_out = (
            ",\n       COALESCE(bpe_n.bpe_symbols_kept, 0)"
            " AS bpe_symbols_kept,\n       bpe_n.bpe_symbols_per_token"
        )
        bpe_join = "\nLEFT JOIN bpe_n  USING (source)"
    else:
        bpe_ctes = bpe_out = bpe_join = ""

    return """
WITH raw AS (SELECT doc_id, source, text FROM documents),{url_ctes}
rfp AS (
  SELECT source,
         md5(list_aggregate(list_sort(list_distinct({toks})),
                            'string_agg', ' ')) AS f
  FROM {base}),
flagged AS (
  SELECT source FROM rfp GROUP BY 1
  HAVING ROUND(1.0 - COUNT(DISTINCT f) / CAST(COUNT(*) AS DOUBLE) + 1e-9, 4)
         > 0.055),
d0 AS (SELECT {base}.* FROM {base} ANTI JOIN flagged USING (source)),
keep1 AS (SELECT MIN(doc_id) AS doc_id FROM d0 GROUP BY md5(text)),
d1 AS (SELECT d0.* FROM d0 SEMI JOIN keep1 USING (doc_id)),
bad_para AS (
  SELECT doc_id FROM ({para_sql}) WHERE keep_doc = 0),
d1b AS (SELECT d1.* FROM d1 ANTI JOIN bad_para USING (doc_id)),
tok AS (SELECT doc_id, unnest({toks}) AS tok FROM d1b),
cnt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2),
ent AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         ROUND(log2(CAST(SUM(c) AS BIGINT))
               - SUM(CAST(c AS DOUBLE) * log2(c)) / CAST(SUM(c) AS BIGINT)
               + 1e-9, 6) AS entropy
  FROM cnt GROUP BY 1),
d2 AS (
  SELECT d1b.doc_id, d1b.source, d1b.text, ent.n_tokens, ent.entropy
  FROM d1b JOIN ent USING (doc_id)
  WHERE ent.entropy >= 4.0 AND ent.n_tokens >= 20),
t2 AS (SELECT doc_id, source, list_distinct({toks}) AS toks FROM d2),
p AS (
  SELECT a.doc_id AS da, b.doc_id AS db,
         len(list_intersect(a.toks, b.toks)) AS inter,
         len(a.toks) AS sza, len(b.toks) AS szb
  FROM t2 a JOIN t2 b ON a.source = b.source AND a.doc_id <> b.doc_id),
cdrops AS (
  SELECT DISTINCT da AS doc_id FROM p
  WHERE ROUND(CAST(inter AS DOUBLE) / sza + 1e-9, 4) >= 0.8
    AND (szb > sza OR (szb = sza AND db < da))),
kept_c AS (SELECT d2.* FROM d2 ANTI JOIN cdrops USING (doc_id)),
e AS ({emb}),
{ranked},
assign AS (SELECT vec_id, cid AS cell FROM ranked WHERE rk = 1),
m AS (SELECT a.vec_id, a.cell, e.v FROM assign a JOIN e USING (vec_id)),
spairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cosine
  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id),
sdrops AS (
  SELECT DISTINCT vec_b AS doc_id FROM spairs WHERE cosine >= {tau}),
kept_sem AS (SELECT kept_c.* FROM kept_c ANTI JOIN sdrops USING (doc_id)),{dec_ctes}
dsirw AS (
  SELECT doc_id, log_weight FROM ({dsir_sql})),
scored AS (
  SELECT kept_dec.*, dsirw.log_weight,
         ROW_NUMBER() OVER (ORDER BY dsirw.log_weight DESC,
                            kept_dec.doc_id ASC) AS _r,
         COUNT(*) OVER () AS _n
  FROM kept_dec JOIN dsirw USING (doc_id)),
kept AS MATERIALIZED (
  SELECT doc_id, source, text, n_tokens, entropy, log_weight
  FROM scored WHERE _r <= (_n + 1) // 2),{bpe_ctes}
raw_n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw
          FROM raw GROUP BY 1),{url_n_cte}
d0_n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_after_domain
         FROM d0 GROUP BY 1),
d1_n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_after_exact
         FROM d1 GROUP BY 1),
d2_n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_after_quality
         FROM d2 GROUP BY 1),
cont_n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_after_containment
           FROM kept_c GROUP BY 1),
sem_n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_after_semantic
          FROM kept_sem GROUP BY 1),{dec_n_cte}
b_n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_after_boilerplate
        FROM d1b GROUP BY 1),
kept_n AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
         CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
         ROUND(AVG(log_weight) + 1e-9, 4) AS mean_dsir_kept
  FROM kept GROUP BY 1),
tt AS (SELECT SUM(kept_tokens) AS tot FROM kept_n),
sh AS (
  SELECT kept_n.source,
         CAST(kept_tokens AS DOUBLE) / tt.tot AS p,
         pow(CAST(kept_tokens AS DOUBLE) / tt.tot, 0.3) AS w
  FROM kept_n CROSS JOIN tt),
zz AS (SELECT SUM(w) AS z FROM sh),
mix AS (
  SELECT sh.source,
         ROUND(sh.w / zz.z + 1e-9, 6) AS q_temp,
         ROUND(sh.w / zz.z / sh.p + 1e-9, 4) AS boost{epoch_cols}
  FROM sh CROSS JOIN zz)
SELECT raw_n.source, raw_n.n_raw,{url_col}
       COALESCE(d0_n.n_after_domain, 0)        AS n_after_domain,
       COALESCE(d1_n.n_after_exact, 0)         AS n_after_exact,
       COALESCE(b_n.n_after_boilerplate, 0)    AS n_after_boilerplate,
       COALESCE(d2_n.n_after_quality, 0)       AS n_after_quality,
       COALESCE(cont_n.n_after_containment, 0) AS n_after_containment,
       COALESCE(sem_n.n_after_semantic, 0)     AS n_after_semantic,{dec_col}
       COALESCE(kept_n.n_kept, 0)              AS n_kept,
       COALESCE(kept_n.kept_tokens, 0)         AS kept_tokens,
       kept_n.mean_dsir_kept,
       mix.q_temp,
       mix.boost{epoch_out}{bpe_out}
FROM raw_n
LEFT JOIN d0_n   USING (source)
LEFT JOIN d1_n   USING (source)
LEFT JOIN d2_n   USING (source)
LEFT JOIN cont_n USING (source)
LEFT JOIN sem_n  USING (source)
LEFT JOIN b_n    USING (source)
LEFT JOIN kept_n USING (source)
LEFT JOIN mix    USING (source){dec_join}{url_join}{bpe_join}
""".format(
        toks=_TOKENS_SQL,
        emb=_EMB_SQL,
        ranked=_IVF_GRAPH_RANKED_SQL,
        cos=_COS_SQL.format(a="a", b="b"),
        tau=_SEMDEDUP_TAU,
        para_sql=_PARAGRAPH_SQL.strip(),
        dsir_sql=_DSIR_SQL.strip(),
        dec_ctes=dec_ctes,
        dec_n_cte=dec_n_cte,
        dec_col=dec_col,
        dec_join=dec_join,
        url_ctes=url_ctes,
        url_n_cte=url_n_cte,
        url_col=url_col,
        url_join=url_join,
        base=base,
        epoch_cols=epoch_cols,
        epoch_out=epoch_out,
        bpe_ctes=bpe_ctes,
        bpe_out=bpe_out,
        bpe_join=bpe_join,
    )


def llm_data_pipeline_v3(spark: SparkSession, sf: str) -> DataFrame:
    """The round-6 corpus build — the full modern pre-training data
    recipe, still ONE composed Catalyst job:

        documents
          → eval holdout         (drop doc_id % 10 = 0 up front)
          → quality filter       (text_quality.passes_quality)
          → repetition filter    (text_repetition.is_repetitive = false)
          → DECONTAMINATION      (drop any train doc sharing a word
                                  5-gram with the eval slice — the
                                  reverse direction of
                                  text_contamination, which measures
                                  eval; here train is cleansed)
          → PII scrub            (emails → [EMAIL]; same deterministic
                                  doctoring as text_pii_scrub so the
                                  scrub has real positives, and the
                                  SCRUBBED bytes flow downstream)
          → source mixing        (sample_source_mix weights, identical
                                  hash + integer thresholds)
          → exact dedup          (keep lowest doc_id per md5 of the
                                  final scrubbed bytes)
          → strided chunking     (text_chunk_stride W=16/S=8 windows)
          → per-source summary   (docs, chunks, token + distinct-chunk
                                  counts — chunk hashes make any
                                  upstream byte drift break the gate)

    Every stage is an already-oracled operator; the composed oracle
    chains the same CTEs, so a divergence in ANY stage (tokenizer,
    regex dialect, hash arithmetic, chunk slicing) breaks the hash.

    Scale shape: three linear gate joins on doc_id, one gram
    semi/anti join pair (shuffle on the gram key, Zipf skew handled by
    AQE), narrow scrub/mix maps, one md5 dedup shuffle, narrow
    chunking, one final per-source aggregate. Nothing corpus-sized is
    broadcast or collected."""
    from .augment import _mix_threshold, _mult_hash_key
    from .text import (
        CONTAM_N,
        _EVAL_PRED,
        TOKENS,
        _word_ngrams,
        chunk_explode,
        doctored_text,
        pii_scrubbed,
    )

    layers = _run_stages(spark, sf, _V3_GATES)
    docs = layers[0][1]
    # Two deliberate physical choices (both NOTES.md traps):
    # - persist the frames consumed by TWO downstream branches
    #   (base → gram-join + anti-join; mixed → keeper-agg + final
    #   join): DataFrame branches don't share subtrees, so without it
    #   the quality/repetition gate joins and scrub/mix maps run twice
    # - repartition(n) with an explicit number BEFORE caching: AQE
    #   coalesces the small gate-join output to ONE partition, and the
    #   interpreted gram-HOF explode then runs single-task (measured
    #   8.5 s for 149k grams on one core vs <1 s spread). No-op at
    #   real scale, 10× locally.
    base = (
        layers[-1][1]
        .repartition(spark.sparkContext.defaultParallelism)
        .transform(persist_tracked)
    )

    eval_grams = (
        docs.where(F.expr(_EVAL_PRED))
        .select(F.explode(_word_ngrams(CONTAM_N)).alias("gram"))
        .distinct()
    )
    contaminated = (
        base.select("doc_id", F.explode(_word_ngrams(CONTAM_N)).alias("gram"))
        .join(eval_grams, "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = base.join(contaminated, "doc_id", "left_anti")

    scrubbed = clean.select(
        "doc_id",
        "source",
        pii_scrubbed(doctored_text()).alias("t"),
    )

    mixed = (
        scrubbed.where(_mult_hash_key() < _mix_threshold())
        .repartition(spark.sparkContext.defaultParallelism)
        .transform(persist_tracked)
    )

    keep = mixed.groupBy(F.md5("t").alias("_h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    final = mixed.join(keep.select("doc_id"), "doc_id")

    chunked, piece = chunk_explode(
        final.select("doc_id", "source", TOKENS("t").alias("toks"))
    )
    return chunked.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.size(piece)).alias("total_chunk_toks"),
        F.countDistinct(F.md5(F.concat_ws(" ", piece))).alias(
            "n_distinct_chunks"
        ),
    )


_SHARED_N = 8  # long-gram order: shared 8-grams ≈ copied passages
_SHARED_MAX_DF = 20  # drop grams in more docs (boilerplate guard)
_SHARED_MIN = 2  # pair survives with >= this many shared grams


def dedup_shared_ngram_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Copied-passage pair finder (the ExactSubstr-dedup shape of Lee
    et al. at doc-pair granularity): two docs pair up when they share
    ≥ 2 distinct word 8-grams — long enough that random co-occurrence
    is ~impossible, so hits are real copied spans.

    Scale shape: the inverted index (gram → docs) is one explode +
    distinct; the boilerplate guard drops grams appearing in more than
    20 docs BEFORE the self-join, which bounds each gram's pair
    fan-out at C(20,2) — the standard document-frequency cap that
    keeps posting-list self-joins from going quadratic on common
    phrases. One shuffle on the gram key, one pair aggregate."""
    from .text import _word_ngrams

    docs = table(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    g = (
        docs.select(
            "doc_id", F.explode(_word_ngrams(_SHARED_N)).alias("gram")
        )
        .distinct()
        .transform(persist_tracked)
    )
    keep = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df").between(2, _SHARED_MAX_DF))
        .select("gram")
    )
    gk = g.join(keep, "gram")
    a = gk.select(F.col("doc_id").alias("doc_a"), "gram")
    b = gk.select(F.col("doc_id").alias("doc_b"), "gram")
    return (
        a.join(b, "gram")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .where(F.col("n_shared_grams") >= _SHARED_MIN)
    )


def _shared_ngram_sql() -> str:
    from .text import _ngrams_sql

    return """
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
g AS (SELECT DISTINCT doc_id, gram FROM (
  SELECT doc_id, unnest({ngrams}) AS gram FROM t)),
f AS (SELECT gram FROM g GROUP BY gram
      HAVING COUNT(*) BETWEEN 2 AND {maxdf})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_grams
FROM g a JOIN f USING (gram) JOIN g b USING (gram)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {minshared}
""".format(
        toks=_TOKENS_SQL,
        ngrams=_ngrams_sql(_SHARED_N),
        maxdf=_SHARED_MAX_DF,
        minshared=_SHARED_MIN,
    )


def text_bigram_lm_score(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-bigram language-model quality score — the KenLM-style
    perplexity filter of pretraining pipelines, with the corpus itself
    as the model: per doc, the mean ln P(w2|w1) of its word bigrams
    under corpus MLE counts (P = count(w1,w2)/count(w1·)). Low scores
    flag boilerplate-free-but-unnatural token soups; high scores flag
    repetitive boilerplate — both ends get clipped in corpus curation.

    Scale shape (optimization r16, guide §2.3 "aggregate before you
    shuffle" / §2.4): the pre-r16 plan rebuilt the bigram OCCURRENCE
    stream three times (cb aggregate, cu aggregate, the scored join)
    — three full corpus tokenize+explode passes, with the count joins
    and the final per-doc aggregate all carrying one row per bigram
    occurrence. Now the stream is aggregated ONCE to per-doc bigram
    counts (doc_id, w1, w2, k) — map-side combinable — and persisted;
    cb sums k over docs, cu folds from cb (bigram-vocab-sized, no
    third corpus pass), and the count joins + per-doc aggregate carry
    per-doc-DISTINCT bigram rows weighted by k. Values: all counts
    are integer-exact re-associations (cb = Σ k, cu = Σ cb,
    n_bigrams = Σ k = the old occurrence count since the count joins
    drop nothing); avg_logp = Σ k·logp / Σ k ≡ the old occurrence
    avg, with float accumulation-order noise (~1e-16) absorbed by the
    4dp rounding — the established cross-engine tolerance. The
    per-doc join keys are bigrams — Zipf-skewed at scale, which AQE
    skew-join splits. No Python, no broadcast of anything
    corpus-sized. Docs with < 2 tokens have no bigrams and drop
    (inner semantics, same in the oracle)."""
    docs = table(spark, sf, "documents").select("doc_id", TOKENS().alias("toks"))
    bg = (
        docs.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at("toks", i).alias("w1"),
                        F.element_at("toks", i + 1).alias("w2"),
                    ),
                )
            ).alias("b"),
        )
        .groupBy("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("k"))
    )
    bg = persist_tracked(bg)
    cb = bg.groupBy("w1", "w2").agg(F.sum("k").alias("cb"))
    cu = cb.groupBy("w1").agg(F.sum("cb").alias("cu"))
    scored = bg.join(cb, ["w1", "w2"]).join(cu, "w1")
    logp = F.log(F.col("cb").cast("double") / F.col("cu").cast("double"))
    return scored.groupBy("doc_id").agg(
        F.sum("k").alias("n_bigrams"),
        F.round(
            F.sum(F.col("k").cast("double") * logp) / F.sum("k") + 1e-9, 4
        ).alias("avg_logp"),
    )


_BIGRAM_LM_SQL = """
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM documents
),
bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
),
cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY w1, w2),
cu AS (SELECT w1, COUNT(*) AS cu FROM bg GROUP BY w1)
SELECT bg.doc_id, COUNT(*) AS n_bigrams,
       ROUND(AVG(ln(CAST(cb.cb AS DOUBLE) / cu.cu)) + 1e-9, 4) AS avg_logp
FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1)
GROUP BY bg.doc_id
""".format(toks=_TOKENS_SQL)


# ranked URL-grain frame shared by dedup_url_grain and the v8
# pipeline's stage 0 (compose-don't-copy: one construction, one SQL
# block, two surfaces)
def _url_ranked(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, source, canon_url, avg_logp, _rn) — every doc ranked
    within its canonical-URL group by bigram-LM quality desc
    (text_bigram_lm_score's ROUNDED avg_logp, so the order is
    identical cross-engine), doc_id tiebreak; rank 1 = the keeper.
    Docs the LM drops (< 2 tokens → no bigrams) rank behind every
    scored doc via COALESCE(avg_logp, -1e9)."""
    from .text import _url_canon, url_table

    u = url_table(spark, sf).select(
        "doc_id", "source", _url_canon(F.col("raw_url")).alias("canon_url")
    )
    lm = text_bigram_lm_score(spark, sf).select("doc_id", "avg_logp")
    j = u.join(lm, "doc_id", "left").withColumn(
        "_q", F.coalesce("avg_logp", F.lit(-1e9))
    )
    w = Window.partitionBy("canon_url").orderBy(
        F.desc("_q"), F.asc("doc_id")
    )
    return j.withColumn("_rn", F.row_number().over(w)).drop("_q")


def dedup_url_grain(spark: SparkSession, sf: str) -> DataFrame:
    """URL-grain dedup with keep-best-quality — the FIRST reduction
    every web-corpus pipeline runs (CCNet §3.1 / RefinedWeb / Dolma
    dedup at canonical-URL grain before any text op): canonicalize
    the address (text_url_canonicalize's normalization), group docs
    by canonical URL, keep the highest-quality doc per group
    (corpus-bigram LM score — text_bigram_lm_score's avg_logp —
    with doc_id tiebreak), and report the per-source funnel:
    n_raw → n_kept, n_dropped_dup, mean quality of the kept docs.

    The engine's third dedup grain: doc-text (exact/near), chunk
    (paragraph), and now address — a mirror crawled twice is dropped
    HERE, before tokenize-heavy stages ever see it.

    Margin audit (r14): keep-best ranks on the ROUNDED 4dp avg_logp
    (identical in both engines) with doc_id tiebreak — a tie cannot
    flip cross-engine; unscored docs order by the -1e9 sentinel,
    below any real ln-probability (≥ ln(1/corpus_bigrams) ≈ -13);
    n_kept + n_dropped_dup = n_raw structurally (rank partition).
    Measured live at sf0.01: 500 → 250 kept (the 6-variant derived
    address collapses 3-to-1 and 3-to-2 in alternating 30-blocks) —
    non-vacuous at every sf.

    Scale shape: canonicalization is a fused per-row map; the LM
    score is the already-priced linear bigram aggregate; the rank is
    a window over canonical-URL groups (bounded by crawl dup factor,
    never corpus-sized partitions); funnels are map-side-combinable
    per-source aggregates. Nothing broadcasts, nothing pairwise."""
    ranked = _url_ranked(spark, sf)
    kept = ranked.where(F.col("_rn") == 1)
    n0 = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_raw")
    )
    n1 = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.round(F.avg("avg_logp") + 1e-9, 4).alias("mean_q_kept"),
    )
    return (
        n0.join(n1, "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("n_raw") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_dropped_dup"
            ),
            "mean_q_kept",
        )
    )


# CTE block (no leading WITH): url → lm-join → rank; reused verbatim
# by the v8 pipeline oracle (compose-don't-copy)
def _url_ranked_ctes_sql() -> str:
    from .text import _URL_CANON_SQL_TMPL, _URL_RAW_SQL

    return """
uraw AS (
  SELECT doc_id, source, {raw} AS raw_url FROM documents),
ucanon AS (
  SELECT doc_id, source, {canon} AS canon_url FROM uraw),
ulm AS ({lm}),
ujoin AS (
  SELECT u.doc_id, u.source, u.canon_url, l.avg_logp,
         COALESCE(l.avg_logp, -1e9) AS q
  FROM ucanon u LEFT JOIN ulm l USING (doc_id)),
uranked AS (
  SELECT doc_id, source, canon_url, avg_logp,
         ROW_NUMBER() OVER (PARTITION BY canon_url
                            ORDER BY q DESC, doc_id) AS rn
  FROM ujoin)
""".format(
        raw=_URL_RAW_SQL.strip(),
        canon=_URL_CANON_SQL_TMPL.format(u="raw_url").strip(),
        lm=_BIGRAM_LM_SQL.strip(),
    )


def _url_grain_sql() -> str:
    return """
WITH {ctes},
ukept AS (SELECT * FROM uranked WHERE rn = 1),
un0 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw
        FROM uranked GROUP BY 1),
un1 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
               ROUND(AVG(avg_logp) + 1e-9, 4) AS mean_q_kept
        FROM ukept GROUP BY 1)
SELECT un0.source, un0.n_raw,
       COALESCE(un1.n_kept, 0) AS n_kept,
       un0.n_raw - COALESCE(un1.n_kept, 0) AS n_dropped_dup,
       un1.mean_q_kept
FROM un0 LEFT JOIN un1 USING (source)
""".format(ctes=_url_ranked_ctes_sql().strip())


def text_host_reputation(spark: SparkSession, sf: str) -> DataFrame:
    """Per-HOST reputation table — the domain-level quality ledger
    CCNet-style pipelines publish beside the corpus (and the first
    thing a curator consults before blocking a domain): for each
    canonical host, document count, distinct canonical URLs, the
    crawl dup factor (docs per distinct address — a mirror crawled
    three times reads 3.0), and the mean corpus-bigram LM quality of
    its documents. The host grain sits ABOVE dedup_url_grain's
    address grain: that op decides which doc survives per address,
    this one decides whether the whole domain is worth keeping.

    Margin audit (r14): counts exact int64; dup_factor is an exact
    small rational read out at 4dp (+1e-9); mean quality averages the
    already-4dp-ROUNDED avg_logp values (identical inputs both
    engines, Σ-order drift ~1e-15 vs the 4dp readout); docs the LM
    drops (< 2 tokens) are NULL-skipped by AVG identically in both
    engines. Live values at sf0.01: 10 hosts × 50 docs / 25 distinct
    addresses each, dup_factor 2.0 across hosts (the 6-variant
    derivation's 3→1/3→2 alternation averages to 2), quality spread
    −3.39…−3.38.

    Scale shape: the canonicalization map fused into the scan, the
    priced linear bigram-LM aggregate, one host-grain aggregate
    (hosts ≪ docs — map-side combinable). Nothing pairwise, nothing
    corpus-sized broadcast."""
    from .text import _url_canon, url_table

    canon = _url_canon(F.col("raw_url"))
    u = url_table(spark, sf).select(
        "doc_id",
        F.regexp_extract(canon, r"^([^/?]*)", 1).alias("host"),
        canon.alias("canon_url"),
    )
    lm = text_bigram_lm_score(spark, sf).select("doc_id", "avg_logp")
    j = u.join(lm, "doc_id", "left")
    return j.groupBy("host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("canon_url").cast("bigint").alias("n_urls"),
        F.round(
            F.count(F.lit(1)).cast("double")
            / F.countDistinct("canon_url").cast("double")
            + 1e-9,
            4,
        ).alias("dup_factor"),
        F.round(F.avg("avg_logp") + 1e-9, 4).alias("mean_quality"),
    )


def _host_reputation_sql() -> str:
    # lazy: pulls the URL SQL fragments from text (compose-don't-
    # copy) without a module-level text↔dedup import edge — the op
    # lives HERE because text importing dedup at module scope closes
    # an augment→text→dedup→augment cycle (found live)
    from .text import _URL_CANON_SQL_TMPL, _URL_RAW_SQL

    return """
WITH u AS (
  SELECT doc_id, source, {raw} AS raw_url FROM documents),
c AS (
  SELECT doc_id, {canon} AS canon_url FROM u),
h AS (
  SELECT doc_id, regexp_extract(canon_url, '^([^/?]*)', 1) AS host,
         canon_url
  FROM c),
lm AS (SELECT doc_id, avg_logp FROM ({lm})),
j AS (
  SELECT h.host, h.canon_url, lm.avg_logp
  FROM h LEFT JOIN lm USING (doc_id))
SELECT host,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT canon_url) AS BIGINT) AS n_urls,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / COUNT(DISTINCT canon_url) + 1e-9, 4) AS dup_factor,
       ROUND(AVG(avg_logp) + 1e-9, 4) AS mean_quality
FROM j GROUP BY 1
""".format(
        raw=_URL_RAW_SQL.strip(),
        canon=_URL_CANON_SQL_TMPL.format(u="raw_url").strip(),
        lm=_BIGRAM_LM_SQL.strip(),
    )



_SHARD_MOD = 10  # doc_id % 10 == 9 → the incoming shard


def dedup_incremental_shard(spark: SparkSession, sf: str) -> DataFrame:
    """INCREMENTAL dedup — the operational shape a growing 100 TB
    corpus actually runs (you never re-dedup the whole corpus when a
    new crawl shard lands; you dedup the SHARD against the corpus,
    then within itself): the incoming shard (doc_id % 10 = 9, the
    deterministic carve) is scanned against the existing corpus at
    canonical-fingerprint grain (md5 of sorted distinct tokens — the
    dedup_normalized recipe; raw-byte dups are 0 on this corpus, the
    text_domain_rollup finding), then deduped within itself
    (keep-lowest-id). Per source: n_shard, n_dup_vs_corpus,
    n_dup_within, n_kept — an exact partition (sum of the three
    outcomes = n_shard).

    Scale shape — the whole point of the op: the CORPUS side is never
    shuffled. The shard's distinct fingerprints broadcast (a new
    shard ≪ the corpus by construction); ONE corpus scan probes them
    map-side (broadcast semi-join) and emits only the matched
    fingerprints (≤ |shard| rows); the shard then anti-joins that
    small matched set and resolves within-shard keepers — every
    post-scan stage is shard-sized. At 10⁹-corpus × 10⁶-shard this
    is one full scan + kilobyte-scale shuffles; the naive
    corpus-shuffling join would move the corpus.

    Margin audit (r13): the three outcome counts partition n_shard
    structurally (semi/anti are complements; within-dups = rows −
    distinct fingerprints of the anti side); measured live:
    dup_vs_corpus 5/6/127 at sf0.001/0.01/0.1 (non-vacuous at every
    sf), dup_within 0/0/2 (non-vacuous at sf0.1; its zero at the
    small sfs is the true value, cross-checked by the oracle); all
    counts exact int64."""
    docs = table(spark, sf, "documents").select(
        "doc_id",
        "source",
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(TOKENS())))).alias(
            "h"
        ),
    )
    corpus = docs.where(F.col("doc_id") % _SHARD_MOD != _SHARD_MOD - 1)
    shard = persist_tracked(
        docs.where(F.col("doc_id") % _SHARD_MOD == _SHARD_MOD - 1)
    )
    shard_hashes = shard.select("h").distinct()
    matched = (
        corpus.join(F.broadcast(shard_hashes), "h", "left_semi")
        .select("h")
        .distinct()
    )
    vs_corpus = shard.join(F.broadcast(matched), "h", "left_semi")
    fresh = shard.join(F.broadcast(matched), "h", "left_anti")
    kept = fresh.groupBy("h").agg(
        F.min("doc_id").alias("doc_id")
    )
    n_shard = shard.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shard")
    )
    n_vs = vs_corpus.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_vs_corpus")
    )
    n_kept = (
        fresh.join(kept.select("doc_id"), "doc_id", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))
    )
    n_within = (
        fresh.join(kept.select("doc_id"), "doc_id", "left_anti")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_within"))
    )
    return (
        n_shard.join(n_vs, "source", "left")
        .join(n_within, "source", "left")
        .join(n_kept, "source", "left")
        .select(
            "source",
            "n_shard",
            F.coalesce("n_dup_vs_corpus", F.lit(0)).alias("n_dup_vs_corpus"),
            F.coalesce("n_dup_within", F.lit(0)).alias("n_dup_within"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


_INCR_SHARD_SQL = """
WITH d AS (
  SELECT doc_id, source,
         md5(list_aggregate(list_sort(list_distinct({toks})),
                            'string_agg', ' ')) AS h
  FROM documents),
corpus AS (SELECT * FROM d WHERE doc_id % {m} != {m} - 1),
shard AS (SELECT * FROM d WHERE doc_id % {m} = {m} - 1),
vs_corpus AS (SELECT s.* FROM shard s SEMI JOIN corpus c ON s.h = c.h),
fresh AS (SELECT s.* FROM shard s ANTI JOIN corpus c ON s.h = c.h),
keepers AS (SELECT h, MIN(doc_id) AS doc_id FROM fresh GROUP BY 1),
kept AS (SELECT f.* FROM fresh f SEMI JOIN keepers k ON f.doc_id = k.doc_id),
within AS (SELECT f.* FROM fresh f ANTI JOIN keepers k ON f.doc_id = k.doc_id),
n0 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_shard
       FROM shard GROUP BY 1),
n1 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_dup_vs_corpus
       FROM vs_corpus GROUP BY 1),
n2 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_dup_within
       FROM within GROUP BY 1),
n3 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept
       FROM kept GROUP BY 1)
SELECT n0.source, n0.n_shard,
       COALESCE(n1.n_dup_vs_corpus, 0) AS n_dup_vs_corpus,
       COALESCE(n2.n_dup_within, 0) AS n_dup_within,
       COALESCE(n3.n_kept, 0) AS n_kept
FROM n0
LEFT JOIN n1 USING (source)
LEFT JOIN n2 USING (source)
LEFT JOIN n3 USING (source)
""".format(toks=_TOKENS_SQL, m=_SHARD_MOD)


def pack_curriculum_order(spark: SparkSession, sf: str) -> DataFrame:
    """Curriculum / source-interleaved global ordering — the step
    between curation and the shuffle: rank every doc WITHIN its source
    by quality (corpus-bigram LM score desc — the text_quality_bucket
    signal at doc grain, doc_id tiebreak since avg_logp is a rounded
    4dp value with real ties), then interleave sources round-robin by
    taking rank-1 of every source, then rank-2, ... (global order =
    (src_rank, source)). The output position stream starts with every
    source's best doc and degrades evenly — the curriculum-learning
    ordering, and the anti-pattern killer for long same-source runs
    that bias early training. Docs with < 2 tokens have no bigrams
    and drop (text_bigram_lm_score's inner semantics, same both
    engines).

    Scale shape: the quality score is the already-priced bigram-LM
    join; the within-source rank is a source-partitioned window
    (largest source bounds the partition — acceptable: sources are
    the mixing grain); the GLOBAL position is util.global_prefix's
    range-partitioned rank over (src_rank, source) — never a
    single-partition window.

    Margin audit (r13): (src_rank, source) is a unique total order by
    construction (row_number within source), so the global rank has
    no float ties to break; both engines compose the IDENTICAL
    published bigram-LM SQL (compose-don't-copy)."""
    from ..util import global_prefix

    lm = text_bigram_lm_score(spark, sf).select("doc_id", "avg_logp")
    docs = (
        table(spark, sf, "documents")
        .select("doc_id", "source")
        .join(lm, "doc_id")
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("avg_logp"), F.asc("doc_id")
    )
    ranked = docs.withColumn(
        "src_rank", F.row_number().over(w).cast("bigint")
    )
    pos = global_prefix(ranked, ["src_rank", "source"])
    return pos.select(
        "doc_id",
        "source",
        "avg_logp",
        "src_rank",
        F.col("_prefix").cast("bigint").alias("position"),
    )


_CURRICULUM_SQL = """
WITH lm AS ({lm_sql}),
r AS (
  SELECT d.doc_id, d.source, lm.avg_logp,
         CAST(ROW_NUMBER() OVER (PARTITION BY d.source
                                 ORDER BY lm.avg_logp DESC, d.doc_id)
              AS BIGINT) AS src_rank
  FROM documents d JOIN lm ON d.doc_id = lm.doc_id)
SELECT doc_id, source, avg_logp, src_rank,
       CAST(ROW_NUMBER() OVER (ORDER BY src_rank, source) AS BIGINT)
         AS position
FROM r
""".format(lm_sql="SELECT doc_id, avg_logp FROM (" + _BIGRAM_LM_SQL.strip() + ")")


def text_quality_bucket(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet head/middle/tail quality buckets (Wenzek et al. 2020):
    rank every document by its corpus-bigram LM score (high avg ln P =
    low perplexity = 'head', the CCNet convention) and cut the corpus
    into thirds BY TOKEN MASS, not doc count — the paper's buckets
    are sized so each third carries equal training mass. The cuts are
    integer comparisons on the inclusive cumulative token prefix
    (cum·3 ≤ total → head; cum·3 ≤ 2·total → middle; else tail), so a
    boundary tie cannot float-flip between engines; doc_id breaks LM
    ties deterministically. Docs with < 2 tokens have no LM score and
    drop (text_bigram_lm_score's inner semantics).

    Margin audit (r10 process rule): token sums are int64; the rank
    is util.global_prefix's distributed range-partitioned prefix —
    never a single-partition window; avg_logp is the 4dp-ROUNDED
    column of the published LM op, identical doubles in both engines,
    so the ORDER (and thus every bucket) is engine-stable; -0.0 in
    the negated sort key is normalized by Spark's
    NormalizeFloatingNumbers rule (and avg_logp < 0 anyway: ln of an
    MLE probability with every corpus bigram seen at least once).

    Scale shape: the LM op's two wordcount aggregates + Zipf-skewed
    bigram join (AQE-split), one narrow token-count map, then the
    global_prefix machinery: range partition on the score key, one
    per-partition window, a #partitions-row broadcast of offsets."""
    from ..util import global_prefix

    lm = text_bigram_lm_score(spark, sf)
    toks = table(spark, sf, "documents").select(
        "doc_id", F.size(TOKENS()).cast("bigint").alias("n_tokens")
    )
    scored = lm.join(toks, "doc_id").withColumn(
        "_negs", -F.col("avg_logp")
    )
    ranked = global_prefix(scored, ["_negs", "doc_id"], value_col="n_tokens")
    cum3 = F.col("_prefix") * 3
    return ranked.select(
        "doc_id",
        "avg_logp",
        "n_tokens",
        F.when(cum3 <= F.col("_total"), "head")
        .when(cum3 <= 2 * F.col("_total"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


_QUALITY_BUCKET_SQL = """
WITH lm AS ({lm}),
tk AS (
  SELECT doc_id, CAST(len({toks}) AS BIGINT) AS n_tokens FROM documents
),
ranked AS (
  SELECT lm.doc_id, lm.avg_logp, tk.n_tokens,
         SUM(tk.n_tokens) OVER (
           ORDER BY lm.avg_logp DESC, lm.doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(tk.n_tokens) OVER () AS total
  FROM lm JOIN tk USING (doc_id)
)
SELECT doc_id, avg_logp, n_tokens,
       CASE WHEN cum * 3 <= total THEN 'head'
            WHEN cum * 3 <= 2 * total THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ranked
""".format(lm=_BIGRAM_LM_SQL.strip(), toks=_TOKENS_SQL)


def dedup_paragraph_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """The surgical half of RefinedWeb line-dedup: REMOVE the
    cross-doc duplicated chunks and keep the document — what the
    paper actually does to navigation chrome and boilerplate (drop
    the line, not the page). Chunk universe and duplication test are
    dedup_paragraph's exactly (5-token chunks, MIN≠MAX doc_id); the
    output carries the reconstructed text (kept chunks re-joined in
    original order), the removal counts, and the kept token count a
    downstream tokenizer would bill.

    Margin audit (r10 process rule): chunk positions are unique per
    doc (sequence indices), so the order-restoring array_sort on
    (pos, …) structs is total and the rebuilt text is deterministic;
    a fully-scrubbed doc yields the EMPTY STRING in both engines
    (array_join over an empty array / COALESCE of a filtered
    string_agg — the NULL-on-empty trap coalesced explicitly).

    Scale shape: identical to dedup_paragraph (linear explode,
    map-side-combinable chunk aggregate, AQE-splittable flag-back
    join) plus one per-doc collect_list whose state is the document
    itself — bounded by max doc length, the same envelope as every
    per-doc array op in text.py."""
    docs = (
        table(spark, sf, "documents")
        .select("doc_id", "source", TOKENS().alias("toks"))
        .withColumn("sz", F.size("toks"))
        .where(F.col("sz") >= 1)
    )
    chunks = persist_tracked(
        docs.select(
            "doc_id",
            "source",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.col("sz"), F.lit(_PARA_WIDTH)),
                    lambda i: F.array_join(
                        F.slice("toks", i, _PARA_WIDTH), " "
                    ),
                )
            ).alias("pos", "chunk"),
        )
    )
    chunk_stats = chunks.groupBy("chunk").agg(
        (F.min("doc_id") != F.max("doc_id")).cast("int").alias("is_dup")
    )
    rebuilt = F.array_join(
        F.transform(
            F.filter(
                F.array_sort(
                    F.collect_list(F.struct("pos", "chunk", "is_dup"))
                ),
                lambda s: s.is_dup == 0,
            ),
            lambda s: s.chunk,
        ),
        " ",
    )
    kept_toks = F.sum(
        F.when(
            F.col("is_dup") == 0, F.size(F.split(F.col("chunk"), r"\s+"))
        ).otherwise(0)
    )
    return (
        chunks.join(chunk_stats, "chunk")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum("is_dup").cast("bigint").alias("n_removed"),
            kept_toks.cast("bigint").alias("n_tokens_kept"),
            rebuilt.alias("scrubbed_text"),
        )
    )


_PARAGRAPH_SCRUB_SQL = """
WITH t AS (
  SELECT doc_id, source, {toks} AS toks FROM documents
),
ch AS (
  SELECT doc_id, source, s.i AS pos,
         array_to_string(list_slice(toks, s.i, s.i + {w} - 1), ' ') AS chunk
  FROM t, LATERAL (
    SELECT unnest(generate_series(1, len(toks), {w})) AS i
  ) s
  WHERE len(toks) >= 1
),
d AS (
  SELECT chunk, CAST(MIN(doc_id) != MAX(doc_id) AS INT) AS is_dup
  FROM ch GROUP BY 1
)
SELECT ch.doc_id, ch.source,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(d.is_dup) AS BIGINT) AS n_removed,
       CAST(SUM(CASE WHEN d.is_dup = 0
                     THEN len(string_split_regex(ch.chunk, '\\s+'))
                     ELSE 0 END) AS BIGINT) AS n_tokens_kept,
       COALESCE(string_agg(ch.chunk, ' ' ORDER BY ch.pos)
                  FILTER (WHERE d.is_dup = 0), '') AS scrubbed_text
FROM ch JOIN d USING (chunk)
GROUP BY 1, 2
""".format(toks=_TOKENS_SQL, w=_PARA_WIDTH)


from .text import _QUALITY_SQL as _TEXT_QUALITY_SQL  # noqa: E402
from .text import _REPETITION_SQL as _TEXT_REPETITION_SQL  # noqa: E402

_PIPELINE_SQL = _PIPELINE_SQL.format(quality=_TEXT_QUALITY_SQL.strip())

from .augment import _MIX_CASE_SQL as _AUG_MIX_CASE_SQL  # noqa: E402
from .augment import _MULT_HASH_SQL as _AUG_HASH_SQL  # noqa: E402
from .text import _EMAIL_RE as _TEXT_EMAIL_RE  # noqa: E402
from .text import _CHUNK_S, _CHUNK_W, _ngrams_sql  # noqa: E402
from .text import CONTAM_N as _CONTAM_N  # noqa: E402

_PIPELINE_V3_SQL = """
WITH q AS ({quality}),
rep AS (SELECT doc_id FROM ({repetition}) WHERE NOT is_repetitive),
base AS (
  SELECT d.doc_id, d.source, d.text
  FROM documents d
  JOIN (SELECT doc_id FROM q WHERE passes_quality = 1) USING (doc_id)
  JOIN rep USING (doc_id)
  WHERE NOT (d.doc_id % 10 = 0)),
tok_e AS (SELECT {toks} AS toks FROM documents WHERE doc_id % 10 = 0),
eval_grams AS (SELECT DISTINCT unnest({ngrams}) AS gram FROM tok_e),
tok_b AS (SELECT doc_id, {toks} AS toks FROM base),
contaminated AS (
  SELECT DISTINCT bg.doc_id
  FROM (SELECT doc_id, unnest({ngrams}) AS gram FROM tok_b) bg
  JOIN eval_grams USING (gram)),
clean AS (SELECT * FROM base
          WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
scrubbed AS (
  SELECT doc_id, source,
         regexp_replace(CASE WHEN doc_id % 7 = 0
                             THEN text || ' contact: user' || doc_id
                                  || '@example.com'
                             ELSE text END, '<EMAILRE>', '[EMAIL]', 'g') AS t
  FROM clean),
mixed AS (
  SELECT doc_id, source, t
  FROM (SELECT s.*, ((doc_id % 4294967296) + 4294967296) % 4294967296 AS a
        FROM scrubbed s)
  WHERE {hash} < {mix_case}),
keep AS (SELECT MIN(doc_id) AS doc_id FROM mixed GROUP BY md5(t)),
final AS (SELECT m.* FROM mixed m JOIN keep USING (doc_id)),
tok_f AS (SELECT doc_id, source,
                 string_split_regex(trim(lower(t)), '\\s+') AS toks
          FROM final),
chunks AS (SELECT doc_id, source, toks,
                  unnest(generate_series(
                      0, CAST(CEIL(len(toks) / {S}.0) AS BIGINT) - 1)) AS ci
           FROM tok_f)
SELECT source,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_chunks,
       CAST(SUM(len(toks[ci * {S} + 1 : ci * {S} + {W}])) AS BIGINT)
           AS total_chunk_toks,
       COUNT(DISTINCT md5(array_to_string(
           toks[ci * {S} + 1 : ci * {S} + {W}], ' '))) AS n_distinct_chunks
FROM chunks
GROUP BY source
""".format(
    quality=_TEXT_QUALITY_SQL.strip(),
    repetition=_TEXT_REPETITION_SQL.strip(),
    toks=_TOKENS_SQL,
    ngrams=_ngrams_sql(_CONTAM_N),
    hash=_AUG_HASH_SQL,
    mix_case=_AUG_MIX_CASE_SQL,
    S=_CHUNK_S,
    W=_CHUNK_W,
).replace("<EMAILRE>", _TEXT_EMAIL_RE)

_PIPELINE_V2_SQL = """
WITH q AS ({quality}),
rep AS (SELECT doc_id FROM ({repetition}) WHERE NOT is_repetitive),
k AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
t AS (
  SELECT d.doc_id, len({toks}) AS n_tok
  FROM documents d
  JOIN (SELECT doc_id FROM q WHERE passes_quality = 1) USING (doc_id)
  JOIN rep USING (doc_id)
  JOIN k USING (doc_id)
  WHERE d.doc_id % 10 != 0
),
{tail}
""".format(
    quality=_TEXT_QUALITY_SQL.strip(),
    repetition=_TEXT_REPETITION_SQL.strip(),
    toks=_TOKENS_SQL,
    tail=_CHUNK_TAIL_SQL.strip(),
)


_PAGERANK_ITERS = 3
_PAGERANK_DAMP = 0.85


def graph_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank over the copied-passage similarity graph — the graph-
    centrality layer on top of dedup_shared_ngram_pairs' edges (docs
    sharing ≥ 2 word 8-grams), surfacing the most-copied-from hub
    documents. Three exact power iterations, UNROLLED so the oracle
    is three SQL CTEs: r₀ = 1/N over the N connected nodes, then
    r' = 0.15/N + 0.85·Σ r(u)/deg(u) over in-edges. The graph is
    symmetrized, so every node has deg ≥ 1 and there is no dangling
    mass to redistribute. Each iteration's rank is rounded at 1e-10
    on BOTH engines so accumulation-order noise cannot compound
    across iterations; the surfaced rank rounds at 1e-6.

    Scale shape: the canonical pregel-on-a-DataFrame loop — the
    symmetrized edge list is persisted once (deg/N/init/final all
    branch from it), the degree-annotated join of it again, and each
    iteration is one shuffle join (edges ⋈ ranks on src) + one hash
    aggregate on dst, both partial-aggregated map-side; rank state is
    one row per node, never collected. N arrives via a 1-row
    aggregate crossJoin (broadcast singleton, the house pattern).
    At 100 TB the same loop runs with ranks/edges co-partitioned on
    their join keys; iteration count bounds total cost linearly."""
    pairs = dedup_shared_ngram_pairs(spark, sf).select("doc_a", "doc_b")
    # persist the SYMMETRIZED edge list itself: deg, n1, the r0 init
    # and the final rank join all branch from it, and without the cache
    # each branch would re-run the whole shared-ngram pair finder
    # (branches don't share subtrees; r8 review finding). ed then
    # materializes from the cached edges, and iterations scan only ed.
    edges = persist_tracked(
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ).unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # Optimization r16, REJECTED WITH NUMBERS (guide §1 discipline,
    # VERDICT r15 item 7): pre-partitioning ed on src
    # (persist(repartition(par, "src")) — persist, not checkpoint,
    # per the r15 finding) to elide a per-iteration edge exchange
    # measured graph_pagerank 2.59 s → 16.05 s min-of-4 (interleaved
    # with an unchanged graph_label_propagation control that moved
    # only 2.2 → 8.1 s under the same load spike — the patch itself
    # is ≥1.7× beyond drift). Cause: the per-iteration rank side is
    # BROADCAST at this scale, so ed never shuffles in the loop and
    # the repartition is a pure extra exchange plus a pinned
    # 32-partition constraint. Same conclusion as the r15
    # dedup_clusters experiment; revisit only where the rank side
    # outgrows the broadcast threshold.
    ed = persist_tracked(edges.join(deg, "src"))
    n1 = deg.agg(F.count(F.lit(1)).cast("double").alias("n"))
    r = deg.select(F.col("src").alias("node")).crossJoin(n1).select(
        "node", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(_PAGERANK_ITERS):
        contrib = (
            ed.join(r, ed.src == r.node)
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("deg")).alias("_in"))
        )
        r = contrib.crossJoin(n1).select(
            F.col("dst").alias("node"),
            F.round(
                (1.0 - _PAGERANK_DAMP) / F.col("n")
                + _PAGERANK_DAMP * F.col("_in"),
                10,
            ).alias("r"),
        )
    return r.join(deg, r.node == deg.src).select(
        "node",
        "deg",
        F.round(F.col("r") + 1e-9, 6).alias("rank"),
    )


def _pagerank_sql() -> str:
    it = """
r{i} AS (
  SELECT e.dst AS node,
         ROUND(0.15 / (SELECT n FROM n)
               + 0.85 * SUM(r{p}.r / e.deg), 10) AS r
  FROM ed e JOIN r{p} ON e.src = r{p}.node
  GROUP BY 1)"""
    iters = ",".join(
        it.format(i=i + 1, p=i) for i in range(_PAGERANK_ITERS)
    )
    return """
WITH pairs AS ({pairs}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM n) AS r FROM deg),
{iters}
SELECT node, deg, ROUND(r + 1e-9, 6) AS rank
FROM r{last} JOIN deg ON r{last}.node = deg.src
""".format(
        pairs=_shared_ngram_sql().strip(),
        iters=iters,
        last=_PAGERANK_ITERS,
    )


_LABELPROP_ITERS = 4


def graph_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    """Synchronous min-label propagation over the copied-passage
    similarity graph, FIXED at 4 rounds (VERDICT r8 item 7 — the
    natural next key after graph_pagerank/dedup_clusters): every node
    starts labeled with its own id and each round adopts the minimum
    label among itself and its neighbors, so after T rounds a node's
    label is the smallest doc_id within T hops — the bounded-radius
    community view (dedup_clusters is the run-to-convergence exact-CC
    complement with pointer jumping; the fixed T here is what makes
    the op SQL-expressible as unrolled CTEs and hash-stable).
    Output: one row per community (label, n_members) after round 4.

    Scale shape: "min over self and neighbors" is expressed with a
    SELF-LOOP-augmented edge list so each round is ONE join of the
    edge scan against the label state (on the dst endpoint) + one min
    hash aggregate, both partial-aggregated map-side — and, the part
    that actually bit during this op's build, the label state is
    referenced exactly ONCE per round: the first draft joined it on
    both endpoints, which doubles the unrolled logical plan per round
    (2^T copies of the whole pair-finder subtree — 744 Exchange nodes
    in the executed-plan string at T=4; the NOTES 4^n-tree trap in
    join form). Label state is one row per node, never collected; the
    self-looped edge list is persisted once and re-scanned per round
    (the pagerank pattern). At 100 TB, edges and labels co-partition
    on node id and T bounds total cost linearly."""
    # persist the pair-finder output: the edges plan references it 4x
    # (sym twice, the self-loop distinct over sym twice more), and the
    # gram self-join inside it is the op's most expensive stage
    pairs = persist_tracked(
        dedup_shared_ngram_pairs(spark, sf).select("doc_a", "doc_b")
    )
    sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    edges = persist_tracked(
        sym.unionByName(
            sym.select("src").distinct().select(
                "src", F.col("src").alias("dst")
            )
        )
    )
    lab = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(_LABELPROP_ITERS):
        lab = (
            edges.join(
                lab.select(F.col("node").alias("dst"), "lbl"), "dst"
            )
            .groupBy("src")
            .agg(F.min("lbl").alias("lbl"))
            .select(F.col("src").alias("node"), "lbl")
        )
    return lab.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


def _labelprop_sql() -> str:
    it = """
l{i} AS (
  SELECT e.src AS node, MIN(l{p}.lbl) AS lbl
  FROM edges e JOIN l{p} ON l{p}.node = e.dst
  GROUP BY e.src)"""
    iters = ",".join(it.format(i=i + 1, p=i) for i in range(_LABELPROP_ITERS))
    return """
WITH pairs AS ({pairs}),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs),
edges AS (
  SELECT src, dst FROM sym
  UNION ALL
  SELECT DISTINCT src, src AS dst FROM sym),
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
{iters}
SELECT lbl AS community, COUNT(*) AS n_members
FROM l{last}
GROUP BY lbl
""".format(
        pairs=_shared_ngram_sql().strip(),
        iters=iters,
        last=_LABELPROP_ITERS,
    )


def graph_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle census of the copied-passage graph — the standard
    graph-quality metric (a heavily-templated corpus shows up as
    dense triangle clusters). Computed with the degree-ordered
    orientation (forward / node-iterator++ algorithm): each
    undirected edge is oriented from its lower-(degree, id) endpoint
    to the higher, so every triangle is counted EXACTLY once and —
    the scale property — each node's out-degree is bounded by
    O(sqrt(m)) on any graph (arboricity bound), which caps the
    wedge-join fan-out that a naive all-directions path join would
    blow up on power-law graphs. One wedge join (oriented ⋈ oriented
    on the middle node) + one edge-membership join, then 1-row
    aggregates; the global clustering coefficient is
    3·triangles / wedges with wedges = Σ C(deg, 2) over the
    UNDIRECTED degrees."""
    pairs = persist_tracked(
        dedup_shared_ngram_pairs(spark, sf).select("doc_a", "doc_b")
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    deg = persist_tracked(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("src").alias("doc_a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("src").alias("doc_b"), F.col("deg").alias("degb"))
    lower_first = F.struct(F.col("dega"), F.col("doc_a")) < F.struct(
        F.col("degb"), F.col("doc_b")
    )
    oriented = persist_tracked(
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.when(lower_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("u"),
            F.when(lower_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("v"),
        )
    )
    e1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = oriented.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    counts = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    nodes_wedges = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("deg") * (F.col("deg") - 1)).alias("_w2"),
    )
    return (
        nodes_wedges.crossJoin(F.broadcast(counts))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            F.round(
                6.0 * F.col("n_triangles") / F.col("_w2") + 1e-9, 6
            ).alias("global_clustering"),
        )
    )


_TRIANGLE_SQL = """
WITH pairs AS ({pairs}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
oriented AS (
  SELECT CASE WHEN (a.deg, p.doc_a) < (b.deg, p.doc_b)
              THEN p.doc_a ELSE p.doc_b END AS u,
         CASE WHEN (a.deg, p.doc_a) < (b.deg, p.doc_b)
              THEN p.doc_b ELSE p.doc_a END AS v
  FROM pairs p
  JOIN deg a ON a.src = p.doc_a
  JOIN deg b ON b.src = p.doc_b),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM oriented e1
  JOIN oriented e2 ON e2.u = e1.v
  JOIN oriented e3 ON e3.u = e1.u AND e3.v = e2.v)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM pairs) AS n_edges,
       (SELECT n_triangles FROM tri) AS n_triangles,
       ROUND(6.0 * (SELECT n_triangles FROM tri)
             / (SELECT SUM(deg * (deg - 1)) FROM deg) + 1e-9, 6)
         AS global_clustering
"""


def _triangle_sql() -> str:
    return _TRIANGLE_SQL.format(pairs=_shared_ngram_sql().strip())


# --- dedup_paragraph: sub-document (chunk-grain) exact dedup ---------
#
# RefinedWeb / Falcon's line-level dedup (Penedo et al. 2023) drops a
# document when too much of it is made of lines that also appear in
# OTHER documents — boilerplate, navigation chrome, license headers.
# This corpus has no newline structure (word-stream docs), so the
# "paragraph" unit is the non-overlapping 5-token chunk (_PARA_WIDTH,
# defined at module top): long enough that random 30-word-vocab
# collisions are rare, short enough that the generator's injected
# near-duplicate templates actually collide (measured 646 / 577 /
# 6,554 cross-doc duplicate chunk instances at sf0.001/0.01/0.1 —
# non-vacuous at every sf).


def dedup_paragraph(spark: SparkSession, sf: str) -> DataFrame:
    """Sub-document exact dedup at chunk grain — the operator every
    doc-grain dedup in this module misses: a document that is 40%
    copied boilerplate is untouched by exact/near doc dedup (its
    OTHER 60% differs) but fails a pretraining-quality bar. Chunks =
    non-overlapping 5-token windows (trailing partial kept); a chunk
    VALUE is duplicated iff it occurs in >= 2 distinct docs. Per doc:
    chunk count, duplicated-instance count, duplicated fraction, and
    keep_doc = fraction <= 0.3 (the RefinedWeb rule). The keep flag
    compares the ROUNDED fraction in both engines so the boundary can
    never flip on accumulation order.

    Margin audit (r10 process rule): chunk counts <= ceil(tokens/5)
    per doc (int); sequence(1, sz, 5) is guarded by sz >= 1 (Spark
    sequence DESCENDS for start > stop); the fraction's denominator
    n_chunks >= 1 on every row (every guarded doc emits >= 1 chunk);
    cross-doc test is MIN(doc_id) != MAX(doc_id) — map-side
    combinable, no countDistinct expansion.

    Scale shape: chunk explode is 1:1 with ~tokens/5 (linear); the
    chunk-grain min/max aggregate is map-side combinable, so a
    boilerplate chunk duplicated 1e9 times collapses to one row per
    map task BEFORE the shuffle; the flag-back join re-shuffles
    instances on the chunk key (AQE skew-split handles the hot
    values) and the per-doc rollup is a second linear shuffle. No
    stage is pairwise — this is the chunk-grain twin of
    ext_dedup_exact, not of the O(pairs) jaccard family."""
    docs = (
        table(spark, sf, "documents")
        .select("doc_id", "source", TOKENS().alias("toks"))
        .withColumn("sz", F.size("toks"))
        .where(F.col("sz") >= 1)
    )
    chunks = persist_tracked(
        docs.select(
            "doc_id",
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("sz"), F.lit(_PARA_WIDTH)),
                    lambda i: F.array_join(
                        F.slice("toks", i, _PARA_WIDTH), " "
                    ),
                )
            ).alias("chunk"),
        )
    )
    chunk_stats = chunks.groupBy("chunk").agg(
        (F.min("doc_id") != F.max("doc_id")).cast("int").alias("is_dup")
    )
    frac = F.round(
        F.col("n_dup_chunks").cast("double") / F.col("n_chunks").cast("double")
        + 1e-9,
        6,
    )
    return (
        chunks.join(chunk_stats, "chunk")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum("is_dup").cast("bigint").alias("n_dup_chunks"),
        )
        .select(
            "doc_id",
            "source",
            "n_chunks",
            "n_dup_chunks",
            frac.alias("dup_chunk_fraction"),
            (frac <= _PARA_DROP_FRAC).cast("int").alias("keep_doc"),
        )
    )


_PARAGRAPH_SQL = """
WITH t AS (
  SELECT doc_id, source, {toks} AS toks FROM documents
),
ch AS (
  SELECT doc_id, source,
         array_to_string(list_slice(toks, i, i + {w} - 1), ' ') AS chunk
  FROM t, LATERAL (
    SELECT unnest(generate_series(1, len(toks), {w})) AS i
  ) s
  WHERE len(toks) >= 1
),
d AS (
  SELECT chunk, CAST(MIN(doc_id) != MAX(doc_id) AS INT) AS is_dup
  FROM ch GROUP BY 1
),
p AS (
  SELECT ch.doc_id, ch.source,
         CAST(COUNT(*) AS BIGINT) AS n_chunks,
         CAST(SUM(d.is_dup) AS BIGINT) AS n_dup_chunks
  FROM ch JOIN d USING (chunk)
  GROUP BY 1, 2
)
SELECT doc_id, source, n_chunks, n_dup_chunks,
       ROUND(CAST(n_dup_chunks AS DOUBLE) / n_chunks + 1e-9, 6)
         AS dup_chunk_fraction,
       CAST(ROUND(CAST(n_dup_chunks AS DOUBLE) / n_chunks + 1e-9, 6)
            <= {drop} AS INT) AS keep_doc
FROM p
""".format(toks=_TOKENS_SQL, w=_PARA_WIDTH, drop=_PARA_DROP_FRAC)


QUERIES: dict[str, QuerySpec] = {
    "dedup_ngram_jaccard": QuerySpec(
        "dedup_ngram_jaccard", dedup_ngram_jaccard, _NGRAM_SQL
    ),
    # round-12 second-wave additions
    "dedup_paragraph": QuerySpec(
        "dedup_paragraph", dedup_paragraph, _PARAGRAPH_SQL
    ),
    "dedup_paragraph_scrub": QuerySpec(
        "dedup_paragraph_scrub", dedup_paragraph_scrub, _PARAGRAPH_SCRUB_SQL
    ),
    "text_quality_bucket": QuerySpec(
        "text_quality_bucket", text_quality_bucket, _QUALITY_BUCKET_SQL
    ),
    "dedup_clusters": QuerySpec("dedup_clusters", dedup_clusters, _CLUSTERS_SQL),
    "dedup_keep_best": QuerySpec(
        "dedup_keep_best", dedup_keep_best, _KEEP_BEST_SQL
    ),
    "dedup_embedding_cosine": QuerySpec(
        "dedup_embedding_cosine", dedup_embedding_cosine, _EMB_COSINE_SQL
    ),
    "ext_dedup_exact": QuerySpec("ext_dedup_exact", ext_dedup_exact, _EXACT_SQL),
    "dedup_normalized": QuerySpec("dedup_normalized", dedup_normalized, _NORMALIZED_SQL),
    "dedup_jaccard_pairs": QuerySpec(
        "dedup_jaccard_pairs", dedup_jaccard_pairs, _JACCARD_SQL
    ),
    # r13: graduated from rows-only — the md5-derived mod-prime hash
    # family reproduces the ENTIRE banded pipeline in DuckDB
    "ext_dedup_near": QuerySpec("ext_dedup_near", ext_dedup_near, _near_sql()),
    "dedup_simhash": QuerySpec("dedup_simhash", dedup_simhash, _SIMHASH_SQL),
    # appended post-r2: must stay AFTER the first 50 merged keys so the
    # driver's correctness window keeps covering the planned surface
    "pack_chunks": QuerySpec("pack_chunks", pack_chunks, _PACK_SQL),
    "pack_shards_bytes": QuerySpec(
        "pack_shards_bytes", pack_shards_bytes, _compose_shards_sql()
    ),
    "dedup_edit_distance_pairs": QuerySpec(
        "dedup_edit_distance_pairs",
        dedup_edit_distance_pairs,
        _EDIT_PAIRS_SQL,
    ),
    "pack_batches_padding": QuerySpec(
        "pack_batches_padding", pack_batches_padding, _compose_batch_pad_sql()
    ),
    "llm_data_pipeline": QuerySpec(
        "llm_data_pipeline", llm_data_pipeline, _PIPELINE_SQL
    ),
    "llm_data_pipeline_v2": QuerySpec(
        "llm_data_pipeline_v2", llm_data_pipeline_v2, _PIPELINE_V2_SQL
    ),
    "llm_data_pipeline_v3": QuerySpec(
        "llm_data_pipeline_v3", llm_data_pipeline_v3, _PIPELINE_V3_SQL
    ),
    "dedup_shared_ngram_pairs": QuerySpec(
        "dedup_shared_ngram_pairs",
        dedup_shared_ngram_pairs,
        _shared_ngram_sql(),
    ),
    # r13 additions: the curriculum interleave between curation and
    # the deterministic shuffle, and the incremental-shard dedup
    "pack_curriculum_order": QuerySpec(
        "pack_curriculum_order", pack_curriculum_order, _CURRICULUM_SQL
    ),
    "dedup_incremental_shard": QuerySpec(
        "dedup_incremental_shard", dedup_incremental_shard, _INCR_SHARD_SQL
    ),
    # r14: the address grain (VERDICT r13 item 4) + the v8 flagship
    "dedup_url_grain": QuerySpec(
        "dedup_url_grain", dedup_url_grain, _url_grain_sql()
    ),
    # round-15 flagship: v8 + the kept-corpus BPE accounting tail
    "llm_data_pipeline_v9": QuerySpec(
        "llm_data_pipeline_v9",
        llm_data_pipeline_v9,
        _v67_sql(True, True, True),
    ),
    "llm_data_pipeline_v8": QuerySpec(
        "llm_data_pipeline_v8", llm_data_pipeline_v8, _v67_sql(True, True)
    ),
    "text_host_reputation": QuerySpec(
        "text_host_reputation", text_host_reputation, _host_reputation_sql()
    ),
    "text_bigram_lm_score": QuerySpec(
        "text_bigram_lm_score", text_bigram_lm_score, _BIGRAM_LM_SQL
    ),
    # r8: LSH recall self-certification
    "dedup_near_recall": QuerySpec(
        "dedup_near_recall", dedup_near_recall, _NEAR_RECALL_SQL
    ),
    # r11: MinHash estimator-quality pin (companion to the banded
    # rewrite)
    "dedup_minhash_est_error": QuerySpec(
        "dedup_minhash_est_error", dedup_minhash_est_error, _MINHASH_EST_SQL
    ),
    # r8: graph centrality over the shared-ngram similarity graph
    "graph_pagerank": QuerySpec(
        "graph_pagerank", graph_pagerank, _pagerank_sql()
    ),
    # r9: bounded-radius communities + triangle census on the same graph
    "graph_label_propagation": QuerySpec(
        "graph_label_propagation", graph_label_propagation, _labelprop_sql()
    ),
    "graph_triangle_count": QuerySpec(
        "graph_triangle_count", graph_triangle_count, _triangle_sql()
    ),
    # r9: directional containment over the exact near-dup pairs
    "dedup_containment_pairs": QuerySpec(
        "dedup_containment_pairs", dedup_containment_pairs, _CONTAINMENT_SQL
    ),
    # r10: containment WITHOUT the jaccard floor — one-sided prefix join
    "dedup_containment_asym": QuerySpec(
        "dedup_containment_asym",
        dedup_containment_asym,
        _CONTAINMENT_ASYM_SQL,
    ),
    # r10: fully-oracled SimHash + pigeonhole banded Hamming pair join
    "dedup_simhash_hamming": QuerySpec(
        "dedup_simhash_hamming", dedup_simhash_hamming, _SIMHASH_HAMMING_SQL
    ),
    # r12 addition (VERDICT r11 item 2): the 4×32-bit-band scale
    # handoff for the 8-bit variant's measured n≈1e5 saturation
    "dedup_simhash_hamming_wide": QuerySpec(
        "dedup_simhash_hamming_wide",
        dedup_simhash_hamming_wide,
        _SIMHASH_WIDE_SQL,
    ),
    # r12 flagship: v4 bracketed by domain pre-filter + semantic dedup
    "llm_data_pipeline_v5": QuerySpec(
        "llm_data_pipeline_v5", llm_data_pipeline_v5, _v5_sql()
    ),
    # r12 second-wave flagship: v5 + boilerplate drop + DSIR + mix
    "llm_data_pipeline_v6": QuerySpec(
        "llm_data_pipeline_v6", llm_data_pipeline_v6, _v67_sql(False)
    ),
    # r13 flagship: v6 + semantic decontamination (VERDICT r12 item 4)
    "llm_data_pipeline_v7": QuerySpec(
        "llm_data_pipeline_v7", llm_data_pipeline_v7, _v67_sql(True)
    ),
    # r10 flagship: the curation funnel composed from this round's ops
    "llm_data_pipeline_v4": QuerySpec(
        "llm_data_pipeline_v4", llm_data_pipeline_v4, _V4_SQL
    ),
}
