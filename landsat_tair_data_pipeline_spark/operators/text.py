"""Text analysis operators over `documents` (SURVEY §2.12
ext_text_stats): token stats, quality scoring, language-ID heuristic,
document fingerprinting, n-gram mining, exact TF-IDF.

Everything stays in JVM column expressions / higher-order array
functions (no Python UDFs): tokenize once, derive from the array.
At 100 TB the explode-based term pipelines are shuffle-on-term with
map-side partial aggregation; the per-document stats are shuffle-free
narrow maps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import QuerySpec
from ..sources.tables import table
from ..util import kernel, persist_tracked

def TOKENS(col: str = "text"):
    # lazy: classic PySpark needs an active session for Column exprs
    return F.split(F.trim(F.lower(F.col(col))), r"\s+")


_TOKS_SQL = "string_split_regex(trim(lower(text)), '\\s+')"

_STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "for")


def ext_text_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document token statistics: counts, lengths, whitespace-free
    char count, distinct-token ratio (lexical diversity)."""
    docs = table(spark, sf, "documents")
    toks = TOKENS()
    n_toks = F.size(toks)
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("len_chars"),
        n_toks.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.round(
            F.size(F.array_distinct(toks)).cast("double") / n_toks.cast("double") + 1e-9,
            4
        ).alias("distinct_ratio"),
        F.length(F.regexp_replace("text", r"\s", "")).cast("long").alias(
            "n_nonspace_chars"
        ),
        F.round(
            F.length(F.regexp_replace("text", r"\s", "")).cast("double")
            / n_toks.cast("double") + 1e-9,
            4,
        ).alias("avg_token_len"),
    )


_TEXT_STATS_SQL = """
SELECT doc_id,
       length(text) AS len_chars,
       len({toks})  AS n_tokens,
       len(list_distinct({toks})) AS n_distinct_tokens,
       ROUND(CAST(len(list_distinct({toks})) AS DOUBLE) / len({toks}) + 1e-9, 4)
         AS distinct_ratio,
       length(regexp_replace(text, '\\s', '', 'g')) AS n_nonspace_chars,
       ROUND(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
             / len({toks}) + 1e-9, 4) AS avg_token_len
FROM documents
""".format(toks=_TOKS_SQL)


def text_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Quality scoring: stopword ratio, alpha ratio, length band — the
    standard pretraining-corpus filters, all as column expressions."""
    docs = table(spark, sf, "documents")
    toks = TOKENS()
    n_toks = F.size(toks).cast("double")
    stop_in = F.size(
        F.filter(toks, lambda t: t.isin(*_STOPWORDS))
    ).cast("double")
    alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("double")
    return docs.select(
        "doc_id",
        "lang",
        F.round(stop_in / n_toks + 1e-9, 4).alias("stopword_ratio"),
        F.round(alpha / F.length("text").cast("double") + 1e-9, 4).alias("alpha_ratio"),
        F.when(F.size(toks) < 20, "short")
        .when(F.size(toks) < 60, "medium")
        .otherwise("long")
        .alias("len_band"),
        ((stop_in / n_toks > 0.05) & (alpha / F.length("text") > 0.7))
        .cast("int")
        .alias("passes_quality"),
    )


_QUALITY_SQL = """
WITH t AS (
  SELECT doc_id, lang, text, {toks} AS toks,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha
  FROM documents
)
SELECT doc_id, lang,
       ROUND(CAST(len(list_filter(toks, x -> x IN {stops})) AS DOUBLE)
             / len(toks) + 1e-9, 4) AS stopword_ratio,
       ROUND(alpha / length(text) + 1e-9, 4) AS alpha_ratio,
       CASE WHEN len(toks) < 20 THEN 'short'
            WHEN len(toks) < 60 THEN 'medium'
            ELSE 'long' END AS len_band,
       CAST(CAST(len(list_filter(toks, x -> x IN {stops})) AS DOUBLE) / len(toks) > 0.05
            AND alpha / length(text) > 0.7 AS INTEGER) AS passes_quality
FROM t
""".format(toks=_TOKS_SQL, stops=str(_STOPWORDS))


def text_lang_guess(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic language-ID heuristic (stopword-marker voting) and
    its agreement rate against the labeled lang column. A real n-gram
    model would be a Pandas UDF; the heuristic keeps the oracle exact."""
    docs = table(spark, sf, "documents")
    toks = TOKENS()
    n_en = F.size(F.filter(toks, lambda t: t.isin("the", "and", "of", "is")))
    guess = F.when(n_en >= 2, "en").otherwise("other")
    return (
        docs.select("doc_id", "lang", guess.alias("guess_lang"))
        .groupBy("lang", "guess_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_LANG_SQL = """
WITH t AS (
  SELECT doc_id, lang,
         CASE WHEN len(list_filter({toks},
                    x -> x IN ('the', 'and', 'of', 'is'))) >= 2
              THEN 'en' ELSE 'other' END AS guess_lang
  FROM documents
)
SELECT lang, guess_lang, COUNT(*) AS n_docs
FROM t GROUP BY lang, guess_lang
""".format(toks=_TOKS_SQL)


def text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Canonical fingerprint (sorted distinct token set → md5) — the
    classic fingerprint-clustering dedup key; word order and repetition
    insensitive."""
    docs = table(spark, sf, "documents")
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(TOKENS()))))
    return docs.groupBy(fp.alias("fingerprint")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )


_FINGERPRINT_SQL = """
SELECT md5(array_to_string(list_sort(list_distinct({toks})), ' ')) AS fingerprint,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*)    AS n_docs
FROM documents
GROUP BY 1
""".format(toks=_TOKS_SQL)


# --- URL / address grain (r14, VERDICT r13 item 4) ------------------------
# The testdata documents table carries no URL column, so the raw URL
# derives deterministically from (source, doc_id) — the media_table
# precedent: arithmetic on doc_id picks one of six real-world messy
# variants (scheme case, http vs https, www., default port, tracking
# params, param order, trailing slash, fragment) of a base address
# shared by up to three consecutive doc_ids. The DERIVATION is the
# declared stand-in; the CANONICALIZER is the product, and both are
# mirrored in the oracle so the whole surface hash-checks.

# Address arithmetic: host = 'h' || doc_id % 10, page = doc_id DIV 30,
# variant = (doc_id DIV 10) % 6 — so the three docs {d, d+10, d+20}
# of a 30-block share one base address under three DIFFERENT raw
# variants (the host is deliberately independent of `source`: URL
# grain and source grain are different axes, and tying the host to
# the source would make collisions depend on the testdata's source
# cycle, which regenerates every round).
_URL_RAW_SQL = """
CASE (doc_id // 10) % 6
  WHEN 0 THEN 'https://h' || (doc_id % 10) || '.example.com/p/'
              || (doc_id // 30)
  WHEN 1 THEN 'HTTPS://H' || (doc_id % 10) || '.EXAMPLE.COM/p/'
              || (doc_id // 30) || '/'
  WHEN 2 THEN 'http://h' || (doc_id % 10) || '.example.com/p/'
              || (doc_id // 30) || '?utm_source=feed'
  WHEN 3 THEN 'https://www.h' || (doc_id % 10) || '.example.com/p/'
              || (doc_id // 30) || '#section-2'
  WHEN 4 THEN 'https://h' || (doc_id % 10) || '.example.com/p/'
              || (doc_id // 30) || '?id=7&utm_campaign=x'
  ELSE 'https://h' || (doc_id % 10) || '.example.com:443/p/'
              || (doc_id // 30) || '?ref=tw&id=7'
END
"""


def _url_raw() -> "F.Column":
    """Spark twin of _URL_RAW_SQL (keep in lockstep)."""
    bid = F.expr("doc_id DIV 30").cast("string")
    hid = (F.col("doc_id") % 10).cast("string")
    host = F.concat(F.lit("h"), hid, F.lit(".example.com"))
    up_host = F.concat(F.lit("H"), hid, F.lit(".EXAMPLE.COM"))
    v = F.expr("doc_id DIV 10") % 6
    return (
        F.when(v == 0, F.concat(F.lit("https://"), host, F.lit("/p/"), bid))
        .when(
            v == 1,
            F.concat(F.lit("HTTPS://"), up_host, F.lit("/p/"), bid, F.lit("/")),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("http://"), host, F.lit("/p/"), bid,
                F.lit("?utm_source=feed"),
            ),
        )
        .when(
            v == 3,
            F.concat(
                F.lit("https://www."), host, F.lit("/p/"), bid,
                F.lit("#section-2"),
            ),
        )
        .when(
            v == 4,
            F.concat(
                F.lit("https://"), host, F.lit("/p/"), bid,
                F.lit("?id=7&utm_campaign=x"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://"), host, F.lit(":443/p/"), bid,
                F.lit("?ref=tw&id=7"),
            )
        )
    )


def _url_canon(u) -> "F.Column":
    """Canonical-address normalization (the CCNet/RefinedWeb URL-grain
    dedup key): drop scheme + fragment, lowercase host, strip leading
    'www.' and default ports, strip the trailing slash, drop tracking
    params (utm_* prefix, ref/fbclid/gclid), sort surviving query
    params. Pure anchored-regex + split/filter/sort string ops —
    every step reproduces in DuckDB (anchored or single-match
    patterns, so Spark's replace-all vs DuckDB's replace-first
    difference cannot bite; prefix tests use substr equality, not
    LIKE, because LIKE's '_' wildcard would match 'utmX')."""
    x = F.regexp_replace(u, r"^[A-Za-z]+://", "")
    x = F.regexp_replace(x, r"#.*$", "")
    hostpath = F.regexp_replace(x, r"\?.*$", "")
    query = F.regexp_extract(x, r"\?(.*)$", 1)
    host = F.lower(F.regexp_extract(hostpath, r"^([^/]*)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.regexp_replace(host, r":(443|80)$", "")
    path = F.regexp_replace(hostpath, r"^[^/]*", "")
    path = F.regexp_replace(path, r"/$", "")
    keep = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & (F.substring(p, 1, 4) != "utm_")
        & (F.substring(p, 1, 4) != "ref=")
        & (F.substring(p, 1, 7) != "fbclid=")
        & (F.substring(p, 1, 6) != "gclid="),
    )
    q = F.concat_ws("&", F.array_sort(keep))
    return F.concat(
        host,
        path,
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )


# SQL twin of _url_canon over a column expression {u} (keep in
# lockstep); COALESCE because DuckDB's list_aggregate over an empty
# list is NULL where Spark's concat_ws is ''
_URL_CANON_SQL_TMPL = """
regexp_replace(regexp_replace(lower(regexp_extract(
    regexp_replace(regexp_replace(regexp_replace({u},
        '^[A-Za-z]+://', ''), '#.*$', ''), '\\?.*$', ''),
    '^([^/]*)', 1)), '^www\\.', ''), ':(443|80)$', '')
|| regexp_replace(regexp_replace(
    regexp_replace(regexp_replace(regexp_replace({u},
        '^[A-Za-z]+://', ''), '#.*$', ''), '\\?.*$', ''),
    '^[^/]*', ''), '/$', '')
|| CASE WHEN COALESCE(list_aggregate(list_sort(list_filter(
        string_split(regexp_extract(regexp_replace(regexp_replace({u},
            '^[A-Za-z]+://', ''), '#.*$', ''), '\\?(.*)$', 1), '&'),
        p -> p != '' AND substr(p, 1, 4) != 'utm_'
             AND substr(p, 1, 4) != 'ref='
             AND substr(p, 1, 7) != 'fbclid='
             AND substr(p, 1, 6) != 'gclid=')),
        'string_agg', '&'), '') != ''
   THEN '?' || list_aggregate(list_sort(list_filter(
        string_split(regexp_extract(regexp_replace(regexp_replace({u},
            '^[A-Za-z]+://', ''), '#.*$', ''), '\\?(.*)$', 1), '&'),
        p -> p != '' AND substr(p, 1, 4) != 'utm_'
             AND substr(p, 1, 4) != 'ref='
             AND substr(p, 1, 7) != 'fbclid='
             AND substr(p, 1, 6) != 'gclid=')),
        'string_agg', '&')
   ELSE '' END
"""


def url_table(spark: SparkSession, sf: str) -> DataFrame:
    """documents → (doc_id, source, raw_url) with the deterministic
    derived address column (see the section comment)."""
    return table(spark, sf, "documents").select(
        "doc_id", "source", _url_raw().alias("raw_url")
    )


def text_url_canonicalize(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc URL canonicalization — the address-grain primitive
    CCNet/Dolma/RefinedWeb pipelines apply BEFORE any text op (URL
    dedup is the first reduction a web corpus sees). Full per-doc
    surface (doc_id, source, raw_url, canon_url), hash-oracled: the
    oracle rebuilds the derivation AND every normalization step.

    Margin audit (r14): pure string ops, no floats, no rounding; the
    only cross-engine seams are regexp semantics (all patterns
    anchored/single-match — replace-first vs replace-all equivalent),
    list_aggregate(∅) = NULL vs concat_ws(∅) = '' (COALESCEd), and
    BIGINT-to-string casts (non-negative doc_ids render identically).

    Scale shape: one narrow per-row projection over the scan — no
    shuffle, no UDF; at 100 TB this is a zero-cost map fused into
    whatever consumes it."""
    return url_table(spark, sf).select(
        "doc_id",
        "source",
        "raw_url",
        _url_canon(F.col("raw_url")).alias("canon_url"),
    )


_URL_CANON_SQL = """
WITH u AS (
  SELECT doc_id, source, {raw} AS raw_url FROM documents)
SELECT doc_id, source, raw_url, {canon} AS canon_url
FROM u
""".format(raw=_URL_RAW_SQL.strip(), canon=_URL_CANON_SQL_TMPL.format(u="raw_url").strip())


def text_bigrams_top(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level top-20 word bigrams. Bigrams built with a
    sequence+transform higher-order expression (guarded for 1-token
    docs); count shuffle is on the bigram key with map-side combine."""
    docs = table(spark, sf, "documents").select(TOKENS().alias("toks"))
    bigrams = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("toks"), i), F.element_at(F.col("toks"), i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


_BIGRAMS_SQL = """
WITH t AS (SELECT {toks} AS toks FROM documents),
b AS (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM t WHERE len(toks) >= 2
)
SELECT bigram, COUNT(*) AS n
FROM b GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 20
""".format(toks=_TOKS_SQL)


def text_tfidf_top(spark: SparkSession, sf: str) -> DataFrame:
    """Exact TF-IDF (no hashing trick → oracle-checkable): term
    frequency per doc, document frequency per term, smooth idf
    ln((N+1)/(df+1)) + 1; top-3 terms per document. The hashed
    (HashingTF+IDF) variant for 100 TB vocabularies is in tests as the
    rows-only ML path."""
    # repartition: documents is one parquet split at test scale; the
    # tokenize+explode should fan out. df derives from tf (tf is already
    # one row per (doc, term)) instead of a second explode+distinct —
    # and both consumers of tf reuse its shuffle files, so the term
    # pipeline runs once.
    docs = (
        table(spark, sf, "documents")
        .select("doc_id", TOKENS().alias("toks"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    terms = docs.select("doc_id", F.explode("toks").alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # the term→df join is NOT broadcast-hinted: df is vocab-sized (grows
    # with the corpus, unbounded at 100 TB). AQE broadcasts it at bench
    # scale where it measures small and falls back to a shuffle join at
    # scale; the 1-row n_docs frame is the only always-tiny side.
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1))
                    + 1.0
                ) + 1e-9,
            6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
    )


_TFIDF_SQL = """
WITH docs AS (SELECT doc_id, {toks} AS toks FROM documents),
terms AS (SELECT doc_id, unnest(toks) AS term FROM docs),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM docs),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         ROUND(tf.tf * (ln(CAST(n.n_docs + 1 AS DOUBLE) / (df.df + 1)) + 1.0) + 1e-9, 6)
           AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
)
SELECT doc_id, term, tf, tfidf, rk FROM (
  SELECT doc_id, term, tf, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
  FROM scored) t
WHERE rk <= 3
""".format(toks=_TOKS_SQL)


_BPE_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+|\s+"


def text_token_count(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting two ways (the LLM-pipeline budget columns):
    whitespace tokens and a GPT-2-style pretokenizer regex (contraction
    suffixes / letter runs / digit runs / punctuation runs / whitespace)
    — both pure JVM regex, no Python."""
    docs = table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.size(TOKENS()).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0)).cast("long").alias(
            "n_bpe_tokens"
        ),
        F.round(
            F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0)).cast("double")
            / F.size(TOKENS()).cast("double")
            + 1e-9,
            4,
        ).alias("bpe_per_word"),
    )


_TOKEN_COUNT_SQL = r"""
SELECT doc_id,
       len({toks}) AS n_ws_tokens,
       len(regexp_extract_all(text, '{bpe}')) AS n_bpe_tokens,
       ROUND(CAST(len(regexp_extract_all(text, '{bpe}')) AS DOUBLE)
             / len({toks}) + 1e-9, 4) AS bpe_per_word
FROM documents
""".format(toks=_TOKS_SQL, bpe=_BPE_RE.replace("'", "''"))


def text_rolling_hash(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprint via Karp-Rabin rolling hash over character
    codepoints: h = fold(acc·31 + code) mod 1e9+7 — order-sensitive
    (unlike the sorted-token md5 in text_fingerprint), position-uniform,
    and incrementally updatable at ingest. Codepoint extraction and the
    fold are identical higher-order expressions in both engines."""
    docs = table(spark, sf, "documents")
    canon = F.trim(F.lower(F.col("text")))
    codes = F.transform(
        F.sequence(F.lit(1), F.length(canon)),
        lambda i: F.ascii(canon.substr(i, F.lit(1))).cast("long"),
    )
    h = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % 1000000007,
    )
    return docs.groupBy(h.alias("rolling_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )


_ROLLING_SQL = """
WITH h AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(generate_series(1, length(trim(lower(text)))),
                            i -> CAST(ascii(substring(trim(lower(text)), i, 1)) AS BIGINT))),
           (acc, c) -> (acc * 31 + c) % 1000000007) AS rolling_hash
  FROM documents)
SELECT rolling_hash, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_docs
FROM h GROUP BY rolling_hash
"""


def _word_ngrams(n: int):
    """Array of word n-grams (space-joined, lowercased) — pure
    higher-order expressions, no shuffle, no Python."""
    toks = TOKENS()
    return F.when(F.size(toks) < n, F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + k) for k in range(n)]
            ),
        )
    )


def _ngrams_sql(n: int) -> str:
    parts = " || ' ' || ".join(f"toks[i + {k}]" for k in range(n))
    return (
        f"CASE WHEN len(toks) < {n} THEN [] "
        f"ELSE list_transform(generate_series(1, len(toks) - {n - 1}), "
        f"i -> {parts}) END"
    )


CONTAM_N = 5  # n-gram order for the train/eval overlap check
# deterministic eval slice: SQL-expressible in both engines, ~10% of docs
_EVAL_PRED = "doc_id % 10 = 0"


def text_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Train/eval contamination check (the pre-training hygiene op —
    e.g. GPT-3 appendix C / PaLM-style n-gram overlap): for every doc
    in the deterministic eval slice (doc_id % 10 = 0), the fraction of
    its distinct word 5-grams that occur anywhere in the train slice.

    Scale shape: explode → distinct on (doc, gram) for eval and on
    gram for train (both linear shuffles with map-side combine), then
    ONE hash join on the gram key + per-doc count aggregate. No corpus
    broadcast, no driver collect; the gram key would be xxhash64'd at
    100 TB (string keys kept here so the DuckDB oracle joins the
    identical values)."""
    # spread the n-gram construction: the documents scan is one split at
    # test scale and gram-building (5 concats per position) is the CPU
    # cost; at 100 TB the source is already many splits and this
    # repartition is a no-op cost-wise relative to the explode volume
    docs = table(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # materialize the gram build once: eval_g and train_g are two plan
    # branches that would otherwise each re-run the 5-gram construction
    # over the whole corpus (same persist-for-multi-branch pattern as
    # dedup._prefix_filter_pairs; spill-safe, lineage kept)
    grams = docs.select(
        "doc_id", F.explode(_word_ngrams(CONTAM_N)).alias("gram")
    ).transform(persist_tracked)
    eval_g = grams.where(F.expr(_EVAL_PRED)).distinct()
    train_g = (
        grams.where(~F.expr(_EVAL_PRED)).select("gram").distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = eval_g.join(train_g, "gram", "left")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("_hit").alias("n_contaminated"),
        F.round(
            F.count("_hit").cast("double") / F.count(F.lit(1)).cast("double")
            + 1e-9,
            4,
        ).alias("contamination_rate"),
    )


_CONTAM_SQL = """
WITH tok AS (
  SELECT doc_id, {toks} AS toks FROM documents),
grams AS (
  SELECT doc_id, unnest({ngrams}) AS gram FROM tok),
eval_g AS (
  SELECT DISTINCT doc_id, gram FROM grams WHERE {eval_pred}),
train_g AS (
  SELECT DISTINCT gram FROM grams WHERE NOT ({eval_pred}))
SELECT e.doc_id,
       COUNT(*) AS n_grams,
       COUNT(t.gram) AS n_contaminated,
       ROUND(CAST(COUNT(t.gram) AS DOUBLE) / COUNT(*) + 1e-9, 4)
         AS contamination_rate
FROM eval_g e LEFT JOIN train_g t ON e.gram = t.gram
GROUP BY e.doc_id
""".format(toks=_TOKS_SQL, ngrams=_ngrams_sql(CONTAM_N), eval_pred=_EVAL_PRED)


def text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Within-document repetition metrics (the Gopher/MassiveText
    repetition filters, Rae et al. 2021 §A1.1): duplicate word-bigram
    and word-trigram fractions plus the top single-token frequency
    share; the filter verdict (is_repetitive) uses the Gopher-style
    0.2 / 0.18 thresholds.

    Shape: every metric is explode → hash-aggregate — all codegen, all
    linear, map-side partial combines, ~3 shuffles on doc_id. The
    tempting shuffle-free array forms are traps, both measured at
    sf0.1 over 5k docs: per-row `filter` inside `transform` is
    O(|toks|²) interpreted (81 s), and even `array_distinct` over
    STRING n-gram arrays degrades to a quadratic equality scan (the
    long-array hash-set path is linear — strings aren't primitive).
    The n-grams are hashed to longs at construction (the shared
    dedup._md5_long cross-engine family since r14) so the
    distinct-count runs on longs; the oracle counts distinct strings
    (identical modulo ~1e-9/corpus 60-bit collisions, same argument
    as dedup_jaccard_pairs). The repartition spreads the projection
    off the single source split at test scale (no-op at real
    scale)."""
    from .dedup import _md5_long
    docs = table(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    def gram_counts(n: int) -> DataFrame:
        g = F.transform(_word_ngrams(n), _md5_long)
        return (
            docs.select("doc_id", F.explode(g).alias("g"))
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.count_distinct("g").alias("dst"),
            )
            .select(
                "doc_id",
                F.round(
                    (F.col("cnt") - F.col("dst")).cast("double")
                    / F.col("cnt").cast("double")
                    + 1e-9,
                    4,
                ).alias(f"dup_{n}"),
            )
        )

    tok_counts = (
        docs.select("doc_id", F.explode(TOKENS()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = tok_counts.groupBy("doc_id").agg(
        F.round(
            F.max("c").cast("double") / F.sum("c").cast("double") + 1e-9, 4
        ).alias("top_token_share")
    )
    base = docs.select("doc_id")
    d2 = F.coalesce(F.col("dup_2"), F.lit(0.0))
    d3 = F.coalesce(F.col("dup_3"), F.lit(0.0))
    return (
        base.join(gram_counts(2), "doc_id", "left")
        .join(gram_counts(3), "doc_id", "left")
        .join(top, "doc_id")
        .select(
            "doc_id",
            d2.alias("dup_bigram_frac"),
            d3.alias("dup_trigram_frac"),
            "top_token_share",
            ((d2 > 0.2) | (d3 > 0.18)).alias("is_repetitive"),
        )
    )


_REPETITION_SQL = """
WITH tok AS (SELECT doc_id, {toks} AS toks FROM documents),
g AS (
  SELECT doc_id, {g2} AS g2, {g3} AS g3 FROM tok),
m AS (
  SELECT doc_id,
         CASE WHEN len(g2) <= 0 THEN 0.0
              ELSE ROUND(CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
                         / len(g2) + 1e-9, 4) END AS dup_bigram_frac,
         CASE WHEN len(g3) <= 0 THEN 0.0
              ELSE ROUND(CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
                         / len(g3) + 1e-9, 4) END AS dup_trigram_frac
  FROM g),
cnt AS (
  SELECT doc_id, tok, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS tok FROM tok)
  GROUP BY doc_id, tok),
top AS (
  SELECT doc_id,
         ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c) + 1e-9, 4)
           AS top_token_share
  FROM cnt GROUP BY doc_id)
SELECT m.doc_id, dup_bigram_frac, dup_trigram_frac, top_token_share,
       (dup_bigram_frac > 0.2 OR dup_trigram_frac > 0.18) AS is_repetitive
FROM m JOIN top ON m.doc_id = top.doc_id
""".format(toks=_TOKS_SQL, g2=_ngrams_sql(2), g3=_ngrams_sql(3))


# email pattern restricted to the syntax subset Java regex and RE2
# (DuckDB) treat identically — no backrefs, no lookaround
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def doctored_text():
    """`text` with the deterministic test email appended to every 7th
    doc — shared between text_pii_scrub and the v3 pipeline's scrub
    stage (and their oracles) so the PII positives are IDENTICAL
    everywhere; drift here would silently decouple the two
    operators."""
    return F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id"),
            F.lit("@example.com"),
        ),
    ).otherwise(F.col("text"))


def pii_scrubbed(col):
    """Email redaction over any text Column (the Java-regex/RE2-common
    pattern _EMAIL_RE)."""
    return F.regexp_replace(col, _EMAIL_RE, "[EMAIL]")


def text_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing (the release-gate redaction pass): emails located
    and replaced with a [EMAIL] placeholder, with per-doc counts and a
    digest of the scrubbed text so the oracle verifies the REPLACEMENT
    bytes, not just the counts. The synthetic corpus contains no PII,
    so a deterministic email is appended to every 7th doc identically
    on both sides — the scrub then has real positives to find, and a
    regex-dialect divergence (Java vs RE2) breaks the hash."""
    docs = table(spark, sf, "documents")
    doctored = doctored_text()
    scrubbed = pii_scrubbed(doctored)
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(doctored, F.lit(_EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.length(scrubbed).cast("long").alias("scrubbed_len"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


_PII_SQL = r"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact: user' || doc_id || '@example.com'
              ELSE text END AS t
  FROM documents)
SELECT doc_id,
       len(regexp_extract_all(t, '{re}')) AS n_emails,
       length(regexp_replace(t, '{re}', '[EMAIL]', 'g')) AS scrubbed_len,
       md5(regexp_replace(t, '{re}', '[EMAIL]', 'g')) AS scrubbed_md5
FROM d
""".replace("{re}", _EMAIL_RE)


def src_jsonl_documents(spark: SparkSession, sf: str) -> DataFrame:
    """JSONL (newline-delimited JSON) ingest — the interchange format
    every LLM-corpus pipeline meets. documents round-trips through
    .jsonl once (content-addressed scratch, write-iff-absent) and is
    read back with an EXPLICIT schema: line-delimited JSON is
    splittable so the read parallelizes at 100 TB, and the explicit
    schema skips the eager inference pass (the multiLine-JSON trap
    from the metadata reader, NOTES.md). Checkable surface: per-source
    counts and length sums of the round-tripped frame — any
    encoding/escaping loss in the JSON codec breaks the sums.
    Interrupted-write leftovers are scrubbed before the
    write-iff-absent (util.prepare_scratch_dir)."""
    from ..util import assert_readback_complete, prepare_scratch_dir

    out_dir, reused = prepare_scratch_dir(
        "documents_jsonl", f"{sf}/documents.parquet"
    )

    docs = table(spark, sf, "documents")
    docs.write.mode("ignore").json(out_dir)
    back = spark.read.schema(docs.schema).json(out_dir)
    if reused:
        assert_readback_complete(docs, back, "src_jsonl_documents")
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("sum_text_len"),
            F.sum("n_chars").alias("sum_n_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


_JSONL_SQL = """
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS sum_text_len,
       CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
       COUNT(DISTINCT lang) AS n_langs
FROM documents
GROUP BY source
"""


_CHUNK_W, _CHUNK_S = 16, 8


def chunk_explode(frame: DataFrame, toks_col: str = "toks"):
    """Shared chunk construction (text_chunk_stride and the v3
    pipeline must slice identically or their oracles drift): explode
    one row per W=16/S=8 window start, return the exploded frame plus
    the JVM `slice` Column for the chunk's tokens."""
    exploded = frame.withColumn(
        "chunk_idx",
        F.explode(
            F.sequence(
                F.lit(0),
                # greatest(0, …): F.sequence auto-steps -1 when the
                # bound goes negative, so a zero-length token array
                # would emit chunk_idx [0, -1]; clamp to one empty
                # chunk instead. Unreachable today (split('') yields
                # ['']) but cheap armor against a tokenizer change.
                F.greatest(
                    F.lit(0),
                    F.ceil(F.size(toks_col) / F.lit(_CHUNK_S)).cast("int")
                    - 1,
                ),
            )
        ),
    )
    piece = F.slice(
        toks_col, F.col("chunk_idx") * _CHUNK_S + 1, _CHUNK_W
    )
    return exploded, piece


def text_chunk_stride(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping sliding-window chunking — the training-data
    complement of pack_chunks: split each document's token sequence
    into windows of W=16 tokens advancing by stride S=8 (50% overlap,
    the long-context training recipe). Chunk starts are every multiple
    of S below n_tokens, so every token is covered and tail chunks may
    be short. The checkable surface is the md5 of each materialized
    chunk — any off-by-one in the slice arithmetic changes the hash.

    Scale shape: narrow map + explode, no shuffle at all; output size
    is ~n/S chunks per document, linear in the corpus. The token array
    is built once per row and sliced per chunk (JVM-side `slice`, no
    Python)."""
    docs = table(spark, sf, "documents")
    base = docs.select("doc_id", TOKENS().alias("toks"))
    exploded, piece = chunk_explode(base)
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        (F.col("chunk_idx") * _CHUNK_S).cast("int").alias("start_tok"),
        F.size(piece).alias("n_chunk_toks"),
        F.md5(F.concat_ws(" ", piece)).alias("chunk_hash"),
    )


_CHUNK_SQL = """
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
     c AS (SELECT doc_id, toks,
                  unnest(generate_series(
                      0, CAST(CEIL(len(toks) / {S}.0) AS BIGINT) - 1
                  )) AS chunk_idx
           FROM t)
SELECT doc_id,
       CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(chunk_idx * {S} AS INT) AS start_tok,
       CAST(len(toks[chunk_idx * {S} + 1 : chunk_idx * {S} + {W}]) AS INT)
           AS n_chunk_toks,
       md5(array_to_string(
           toks[chunk_idx * {S} + 1 : chunk_idx * {S} + {W}], ' '
       )) AS chunk_hash
FROM c
""".format(toks=_TOKS_SQL, W=_CHUNK_W, S=_CHUNK_S)


_ZIPF_TOP = 1000


def text_zipf_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf-law fit over the corpus vocabulary — the corpus-health
    diagnostic (natural text sits near slope −1 on log-log
    rank/frequency; synthetic or template-heavy corpora bend away):
    OLS slope and R² of ln(freq) ~ ln(rank) over the TOP-1000 tokens.
    Bounding to top-k is both the statistical convention (the Zipf
    tail is noise-dominated) and the scale move: the global rank is a
    TakeOrdered top-k over the term counts — per-partition heaps, no
    global sort of a 10^9-term vocabulary — and the regression
    aggregates 1000 rows. Frequency ties rank by token text in both
    engines; slope/R² round at 4dp (regr_* are sums-of-products —
    accumulation noise lives ~1e-12 relative)."""
    docs = table(spark, sf, "documents").select(TOKENS().alias("toks"))
    freq = (
        docs.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(_ZIPF_TOP)
    )
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    pts = freq.select(
        F.log(F.col("n").cast("double")).alias("lf"),
        F.log(F.row_number().over(w).cast("double")).alias("lr"),
    )
    return pts.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.expr("regr_slope(lf, lr)") + 1e-9, 4).alias("zipf_slope"),
        F.round(F.expr("regr_r2(lf, lr)") + 1e-9, 4).alias("r2"),
    )


_ZIPF_SQL = """
WITH t AS (SELECT {toks} AS toks FROM documents),
freq AS (
  SELECT tok, COUNT(*) AS n
  FROM (SELECT unnest(toks) AS tok FROM t)
  GROUP BY tok
  ORDER BY n DESC, tok ASC
  LIMIT {k}),
pts AS (
  SELECT LN(CAST(n AS DOUBLE)) AS lf,
         LN(CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS DOUBLE))
           AS lr
  FROM freq)
SELECT COUNT(*) AS n_terms,
       ROUND(regr_slope(lf, lr) + 1e-9, 4) AS zipf_slope,
       ROUND(regr_r2(lf, lr) + 1e-9, 4) AS r2
FROM pts
""".format(toks=_TOKS_SQL, k=_ZIPF_TOP)


_HH_PHI = 512  # heavy = token share > 1/512 of all occurrences
_HH_COUNTERS = 2048  # Misra-Gries counters per partition (>= PHI + slack)


def _mg_partition(batches):
    """Per-partition Misra-Gries summary over the token column:
    bounded at _HH_COUNTERS entries regardless of partition vocabulary.
    Merge-then-prune per Arrow batch (vectorized value_counts; prune
    subtracts the (k+1)-th largest count from every counter and drops
    non-positives — the mergeable-summaries form of the MG decrement,
    which preserves the classic guarantee: any item with partition
    count > n_p/(k+1) survives with a positive counter)."""
    import pandas as pd

    acc = None
    for pdf in batches:
        vc = pdf["tok"].value_counts()
        acc = vc if acc is None else acc.add(vc, fill_value=0)
        if len(acc) > _HH_COUNTERS:
            cut = acc.nlargest(_HH_COUNTERS + 1).iloc[-1]
            acc = acc.sub(cut)
            acc = acc[acc > 0]
    if acc is not None and len(acc):
        yield pd.DataFrame({"tok": acc.index.astype(str)})


def text_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus heavy hitters: every token whose share of all token
    occurrences exceeds 1/512, with its EXACT count — the
    frequent-items primitive (stopword discovery, template/boilerplate
    detection, tokenizer-vocab seeding).

    Sketch-then-verify, so the sketch never touches correctness: pass
    1 runs a Misra-Gries summary per partition (mapInPandas, 2048
    counters, vectorized value_counts per Arrow batch) whose union is
    a GUARANTEED superset of the true heavy hitters — if a token's
    global count exceeds n/512 it must exceed n_p/512 in some
    partition, and 512 <= 2048+1 keeps it in that partition's summary
    (MG bound; the prune math is in _mg_partition). Pass 2 re-scans
    with a broadcast semi-join on the <= 32*2048-row candidate set and
    counts exactly, filtering to the true threshold. The output is
    therefore EXACT and partition-layout-independent — fully oracled,
    no recall bound needed — while the full-vocabulary shuffle that
    a plain groupBy(token) pays (10^9-term vocab at 100 TB) is
    replaced by a shuffle of candidate occurrences only. The Python
    stage is the sketch (genuinely inexpressible in built-ins); it
    emits <= 2048 rows per partition."""
    txt = persist_tracked(
        table(spark, sf, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("text")
    )
    toks = txt.select(F.explode(TOKENS()).alias("tok"))
    cands = toks.mapInPandas(kernel(_mg_partition), "tok string").distinct()
    total = txt.agg(F.sum(F.size(TOKENS())).alias("n"))
    return (
        toks.join(F.broadcast(cands), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .crossJoin(F.broadcast(total))
        .where(F.col("n_occurrences") * _HH_PHI > F.col("n"))
        .select(
            "tok",
            "n_occurrences",
            F.round(
                F.col("n_occurrences") / F.col("n") + 1e-9, 6
            ).alias("share"),
        )
    )


_HH_SQL = """
WITH t AS (SELECT {toks} AS toks FROM documents),
toks AS (SELECT unnest(toks) AS tok FROM t),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks)
SELECT tok,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       ROUND(COUNT(*) / (SELECT n FROM tot) + 1e-9, 6) AS share
FROM toks
GROUP BY tok
HAVING COUNT(*) * {phi} > (SELECT n FROM tot)
""".format(toks=_TOKS_SQL, phi=_HH_PHI)


#: Novelty n-gram order — long grams, so "first corpus occurrence"
#: means a genuinely new passage, not a common phrase.
_NOVELTY_N = 8


def text_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """PASSAGE-NOVELTY SCORE per document — the curation signal next
    to dedup: the fraction of a doc's distinct word 8-grams whose
    FIRST corpus occurrence (lowest doc_id holding the gram) is this
    doc. A near-duplicate of earlier material scores ~0, fresh text
    scores ~1 — the streaming-ingest notion of "how much does this
    add" computed batch-side (the events_cumulative_uniques
    first-seen reduction applied to text shingles). Docs with no
    8-gram (< 8 tokens) drop, matching the oracle's inner join.

    Scale shape: one explode + distinct to the inverted (gram, doc)
    frame, a min-reduction per gram (map-side combinable), and one
    gram-keyed join back — Zipf skew on common grams is bounded by
    the 8-gram order (long grams are rare) and AQE's skew split
    handles the residue. No corpus broadcast, no window."""
    docs = table(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    g = persist_tracked(
        docs.select(
            "doc_id", F.explode(_word_ngrams(_NOVELTY_N)).alias("gram")
        ).distinct()
    )
    first = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        g.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(
                F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
            F.round(
                F.sum(
                    F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(
                        0
                    )
                )
                / F.count(F.lit(1))
                + 1e-9,
                4,
            ).alias("novelty"),
        )
    )


def _novelty_sql() -> str:
    return """
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
g AS (SELECT DISTINCT doc_id, gram FROM (
  SELECT doc_id, unnest({ngrams}) AS gram FROM t)),
f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel,
       ROUND(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
             / COUNT(*) + 1e-9, 4) AS novelty
FROM g JOIN f USING (gram)
GROUP BY doc_id
""".format(toks=_TOKS_SQL, ngrams=_ngrams_sql(_NOVELTY_N))


def text_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Token-distribution Shannon entropy per document — the quality
    signal that separates natural prose (high entropy, flat token
    distribution) from keyword stuffing / boilerplate loops (low
    entropy, few tokens dominating): H = log2(n) − (Σ c·log2 c)/n over
    per-doc token counts c, plus the length-normalized ratio
    H / log2(#distinct) (1.0 = perfectly flat) that quality filters cut
    on (Gopher/FineWeb-style heuristics).

    Scale shape: explode → (doc, token) hash aggregate → per-doc hash
    aggregate — both map-side combinable, no window, no broadcast;
    per-doc state is two running sums. The entropy identity avoids
    per-row p·log p on the fractions (c and n are exact ints; the one
    float division happens once per doc, identically in both engines).

    entropy_ratio is NULL for single-token-type docs (log2(1) = 0
    denominator) rather than forced to a sentinel — the oracle's
    NULLIF matches."""
    tok = (
        table(spark, sf, "documents")
        .select("doc_id", F.explode(TOKENS()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = tok.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("c").cast("double") * F.log2("c")).alias("_clog"),
    )
    entropy = F.log2("n_tokens") - F.col("_clog") / F.col("n_tokens")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round(entropy + 1e-9, 6).alias("entropy"),
        F.round(
            entropy
            / F.nullif(F.log2("n_distinct"), F.lit(0.0))
            + 1e-9,
            6,
        ).alias("entropy_ratio"),
    )


_ENTROPY_SQL = """
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS tok FROM documents
),
c AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY 1, 2
),
d AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT)    AS n_tokens,
         CAST(COUNT(*) AS BIGINT)  AS n_distinct,
         SUM(CAST(c AS DOUBLE) * log2(c)) AS clog
  FROM c GROUP BY 1
)
SELECT doc_id, n_tokens, n_distinct,
       ROUND(log2(n_tokens) - clog / n_tokens + 1e-9, 6) AS entropy,
       ROUND((log2(n_tokens) - clog / n_tokens)
             / NULLIF(log2(n_distinct), 0.0) + 1e-9, 6) AS entropy_ratio
FROM d
""".format(toks=_TOKS_SQL)


def text_jsd_source_divergence(spark: SparkSession, sf: str) -> DataFrame:
    """Jensen–Shannon divergence of each source's token distribution
    vs the REST of the corpus — the domain-shift thermometer a corpus
    mixer reads before setting sample_source_mix weights (JSD is
    symmetric, bounded [0,1] bits, and defined even where KL blows up
    on zero counts). Per source: unigram distribution p vs the pooled
    distribution q of every other source, JSD = ½Σp·log2(p/m) +
    ½Σq·log2(q/m) with m = (p+q)/2; zero-probability terms contribute
    0 (the 0·log 0 limit, made explicit with CASE in both engines).

    Scale shape: one token wordcount per (source, tok) — map-side
    combinable — then the corpus vocabulary joined LEFT to each
    source's counts (vocab × n_sources rows, linear in vocabulary
    with a small-constant fan-out; sources are a handful by
    definition) and one summing aggregate per source. The per-token
    p/q/m terms are exact-integer-derived doubles computed identically
    in both engines; only the Σ order differs (~1e-13 noise against a
    6dp readout)."""
    st = persist_tracked(
        table(spark, sf, "documents")
        .select("source", F.explode(TOKENS()).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = st.groupBy("tok").agg(F.sum("c").alias("c_tot"))
    totals = st.groupBy("source").agg(F.sum("c").alias("n_src"))
    grand = st.agg(F.sum("c").alias("n_all"))
    sources = totals.crossJoin(F.broadcast(grand))
    # vocab × sources grid with each source's own count (0 if absent)
    grid = (
        vocab.crossJoin(F.broadcast(sources))
        .join(st, ["source", "tok"], "left")
        .withColumn("c_s", F.coalesce("c", F.lit(0)))
    )
    p = F.col("c_s").cast("double") / F.col("n_src").cast("double")
    q = (F.col("c_tot") - F.col("c_s")).cast("double") / (
        F.col("n_all") - F.col("n_src")
    ).cast("double")
    m = (p + q) / 2
    term = F.when(p > 0, 0.5 * p * F.log2(p / m)).otherwise(
        F.lit(0.0)
    ) + F.when(q > 0, 0.5 * q * F.log2(q / m)).otherwise(F.lit(0.0))
    return (
        grid.groupBy("source")
        .agg(
            F.max("n_src").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("c_s") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("vocab_used"),
            F.round(F.sum(term) + 1e-9, 6).alias("jsd_vs_rest"),
        )
    )


_JSD_SQL = """
WITH st AS (
  SELECT source, unnest({toks}) AS tok FROM documents
),
c AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM st GROUP BY 1, 2
),
vocab AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS c_tot FROM c GROUP BY 1),
totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_src FROM c GROUP BY 1),
grand AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM c),
grid AS (
  SELECT v.tok, v.c_tot, t.source, t.n_src, g.n_all,
         COALESCE(cc.c, 0) AS c_s
  FROM vocab v
  CROSS JOIN totals t
  CROSS JOIN grand g
  LEFT JOIN c cc ON cc.source = t.source AND cc.tok = v.tok
),
terms AS (
  SELECT source, n_src, c_s,
         CAST(c_s AS DOUBLE) / n_src AS p,
         CAST(c_tot - c_s AS DOUBLE) / (n_all - n_src) AS q
  FROM grid
)
SELECT source,
       CAST(MAX(n_src) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN c_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS vocab_used,
       ROUND(SUM(
         CASE WHEN p > 0 THEN 0.5 * p * log2(p / ((p + q) / 2)) ELSE 0 END
         + CASE WHEN q > 0 THEN 0.5 * q * log2(q / ((p + q) / 2)) ELSE 0 END
       ) + 1e-9, 6) AS jsd_vs_rest
FROM terms GROUP BY 1
""".format(toks=_TOKS_SQL)


def text_psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Population Stability Index of each source's document-length
    distribution vs the REST of the corpus — the drift twin of
    text_jsd_source_divergence (VERDICT r10 item 6a): JSD watches the
    token distribution, PSI watches a numeric quality score, here
    n_chars binned into 10 fixed 64-char-wide buckets (corpus range
    44–577 → buckets 0..9; the last bucket is open-ended via LEAST so
    the binning is total for any future regeneration). PSI =
    Σ_i (p_i - q_i)·ln(p_i/q_i) with the standard +1 Laplace smoothing
    per bin on BOTH sides, so every log term is finite and the formula
    is exact-integer-derived in both engines (same discipline as JSD:
    only the Σ order differs, ~1e-15 against a 6dp readout). The
    usual credit-scoring rule of thumb — PSI < 0.1 stable, 0.1–0.25
    drifting, > 0.25 shifted — is the consumer's contract.

    Margin audit (r10 process rule): bin counts ≤ corpus rows (int64);
    DIV 64 on a bigint is exact; p, q ∈ (0, 1] so ln is finite and
    the Σ of 10 bounded terms cannot overflow.

    Scale shape: one (source, bin) count aggregate — map-side
    combinable, 10·n_sources rows out — then a broadcast 10-bin grid
    join and one summing aggregate per source. No shuffle touches the
    document bodies."""
    docs = table(spark, sf, "documents").select(
        "source",
        F.least(F.expr("n_chars DIV 64"), F.lit(9)).cast("int").alias("bin"),
    )
    st = persist_tracked(
        docs.groupBy("source", "bin").agg(F.count(F.lit(1)).alias("c"))
    )
    bins = spark.range(10).select(F.col("id").cast("int").alias("bin"))
    totals = st.groupBy("source").agg(F.sum("c").alias("n_src"))
    grand = st.agg(F.sum("c").alias("n_all"))
    bin_tot = st.groupBy("bin").agg(F.sum("c").alias("c_bin"))
    grid = (
        totals.crossJoin(F.broadcast(grand))
        .crossJoin(F.broadcast(bins))
        .join(F.broadcast(bin_tot), "bin", "left")
        .join(st, ["source", "bin"], "left")
        .withColumn("c_s", F.coalesce("c", F.lit(0)))
        .withColumn("c_b", F.coalesce("c_bin", F.lit(0)))
    )
    p = (F.col("c_s") + 1).cast("double") / (F.col("n_src") + 10).cast("double")
    q = (F.col("c_b") - F.col("c_s") + 1).cast("double") / (
        F.col("n_all") - F.col("n_src") + 10
    ).cast("double")
    return grid.groupBy("source").agg(
        F.max("n_src").cast("bigint").alias("n_docs"),
        F.round(F.sum((p - q) * F.log(p / q)) + 1e-9, 6).alias("psi_vs_rest"),
    )


_PSI_SQL = """
WITH b AS (
  SELECT source, CAST(LEAST(n_chars // 64, 9) AS INT) AS bin
  FROM documents
),
c AS (
  SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1, 2
),
totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_src FROM c GROUP BY 1),
grand AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM c),
bin_tot AS (SELECT bin, CAST(SUM(c) AS BIGINT) AS c_bin FROM c GROUP BY 1),
grid AS (
  SELECT t.source, t.n_src, g.n_all, bb.bin,
         COALESCE(bt.c_bin, 0) AS c_b, COALESCE(cc.c, 0) AS c_s
  FROM totals t
  CROSS JOIN grand g
  CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bin) bb
  LEFT JOIN bin_tot bt ON bt.bin = bb.bin
  LEFT JOIN c cc ON cc.source = t.source AND cc.bin = bb.bin
),
terms AS (
  SELECT source, n_src,
         CAST(c_s + 1 AS DOUBLE) / (n_src + 10) AS p,
         CAST(c_b - c_s + 1 AS DOUBLE) / (n_all - n_src + 10) AS q
  FROM grid
)
SELECT source,
       CAST(MAX(n_src) AS BIGINT) AS n_docs,
       ROUND(SUM((p - q) * ln(p / q)) + 1e-9, 6) AS psi_vs_rest
FROM terms GROUP BY 1
"""


def text_repeated_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Within-document repeated-substring detection over token
    trigrams — the ExactSubstr-style complement of text_repetition's
    corpus-level n-gram fractions (VERDICT r10 item 6b): a doc whose
    own text repeats itself (boilerplate stutter, template loops,
    decoding glitches) is a quality signal no cross-doc dedup sees.
    Per document with at least one trigram occurring twice: total
    trigram count, number of DISTINCT repeated trigrams, the max
    repeat count, the repeated-occurrence fraction, and the most
    repeated trigram itself (ties broken to the lexicographically
    smallest — deterministic in both engines). Trigrams (not the
    8-token grams ExactSubstr would use on web text) because the
    corpus's 54-token docs make 3 the scale where repetition actually
    occurs; the window is a parameter of the recipe, not the contract.

    Margin audit (r10 process rule): gram counts ≤ tokens-per-doc
    (int); sequence(1, sz-2) is guarded by sz >= 3 (Spark sequence
    DESCENDS for start > stop — an unguarded short doc would fabricate
    grams); rep_fraction's denominator n_grams >= 1 on every emitted
    row.

    Scale shape: gram explode is 1:1 with tokens (linear); the
    (doc_id, gram) count and the per-doc rollup are both map-side
    combinable on the same doc_id key, and the top-gram window
    partitions by doc_id — no global sort, no skew beyond document
    length itself."""
    docs = (
        table(spark, sf, "documents")
        .select("doc_id", TOKENS().alias("toks"))
        .withColumn("sz", F.size("toks"))
        .where(F.col("sz") >= 3)
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("sz") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("toks", i),
                    F.element_at("toks", i + 1),
                    F.element_at("toks", i + 2),
                ),
            )
        ).alias("gram"),
    )
    counts = persist_tracked(
        grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    )
    stats = counts.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_repeated"),
        F.max("c").cast("bigint").alias("max_repeat"),
        F.round(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).cast("double")
            / F.sum("c").cast("double")
            + 1e-9,
            6,
        ).alias("rep_fraction"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("c"), F.asc("gram"))
    top = (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("doc_id", F.col("gram").alias("top_gram"))
    )
    return stats.where(F.col("n_repeated") > 0).join(top, "doc_id")


_REPEATED_NGRAMS_SQL = """
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM documents
),
g AS (
  SELECT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS gram
  FROM t, LATERAL (
    SELECT unnest(generate_series(1, len(toks) - 2)) AS i
  ) s
  WHERE len(toks) >= 3
),
c AS (
  SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY 1, 2
),
stats AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_repeated,
         CAST(MAX(c) AS BIGINT) AS max_repeat,
         ROUND(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
               / SUM(c) + 1e-9, 6) AS rep_fraction
  FROM c GROUP BY 1
),
top AS (
  SELECT doc_id, gram AS top_gram
  FROM (
    SELECT doc_id, gram,
           ROW_NUMBER() OVER (
             PARTITION BY doc_id ORDER BY c DESC, gram ASC
           ) AS rk
    FROM c
  ) WHERE rk = 1
)
SELECT s.doc_id, s.n_grams, s.n_repeated, s.max_repeat, s.rep_fraction,
       top.top_gram
FROM stats s JOIN top USING (doc_id)
WHERE s.n_repeated > 0
""".format(toks=_TOKS_SQL)


def text_domain_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-grain quality rollup — the CommonCrawl-style PRE-filter
    that runs BEFORE any per-document curation op in this repo (r12,
    VERDICT r11 item 6a): at 100 TB you drop or down-weight whole
    domains first, because a boilerplate-mill domain is cheaper to
    kill at the (domain → stats) grain than doc-by-doc. The documents
    table's `source` column is the domain key.

    Per domain: doc count, DISTINCT canonical fingerprints
    (text_fingerprint's md5-of-sorted-distinct-tokens — exact-text
    dup rate is 0 in this corpus, measured r12, so the fingerprint
    grain is the one that discriminates: rates 0–0.08 at sf0.01,
    0–0.132 at sf0.1), fingerprint dup rate, the v4 entropy-floor
    pass rate (entropy ≥ 4 bits AND ≥ 20 tokens), token mass, and
    two decision columns a curator sorts by: `flag_high_dup`
    (dup rate > 0.055 — strictly between representable k/25 and
    k/250 rates, so a tie with the threshold cannot occur at the
    driver's SFs) and `dup_rank` (row_number by dup rate desc,
    source asc — deterministic ties).

    Scale shape: fingerprint + token stats are narrow per-doc maps
    (the per-row array_sort over ~60 distinct tokens, exactly
    text_fingerprint's cost), entropy is one token explode + two
    hash aggs, then ONE per-source aggregate and a 20-row window —
    everything linear, the rollup output is |domains| rows."""
    docs = table(spark, sf, "documents")
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(TOKENS()))))
    base = docs.select("doc_id", "source", fp.alias("f"))
    tok = docs.select("doc_id", F.explode(TOKENS()).alias("tok"))
    cnt = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    ent = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c").cast("double") * F.log2("c")).alias("_clog"),
    )
    ent = ent.select(
        "doc_id",
        "n_tokens",
        (
            F.log2("n_tokens") - F.col("_clog") / F.col("n_tokens")
        ).alias("entropy"),
    )
    per_doc = base.join(ent, "doc_id")
    roll = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("f").alias("n_unique_fp"),
        F.round(
            1.0
            - F.countDistinct("f").cast("double") / F.count(F.lit(1))
            + 1e-9,
            4,
        ).alias("fp_dup_rate"),
        F.round(
            F.avg(
                F.when(
                    (F.col("entropy") >= 4.0) & (F.col("n_tokens") >= 20),
                    1.0,
                ).otherwise(0.0)
            )
            + 1e-9,
            4,
        ).alias("ent_pass_rate"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens") + 1e-9, 2).alias("mean_tokens"),
    )
    w = Window.orderBy(F.desc("fp_dup_rate"), F.asc("source"))
    return roll.select(
        "source",
        "n_docs",
        "n_unique_fp",
        "fp_dup_rate",
        "ent_pass_rate",
        "total_tokens",
        "mean_tokens",
        (F.col("fp_dup_rate") > 0.055).alias("flag_high_dup"),
        F.row_number().over(w).cast("long").alias("dup_rank"),
    )


_DOMAIN_ROLLUP_SQL = """
WITH fp AS (
  SELECT source, doc_id,
         md5(list_aggregate(list_sort(list_distinct({toks})),
                            'string_agg', ' ')) AS f
  FROM documents),
tok AS (SELECT doc_id, unnest({toks}) AS tok FROM documents),
cnt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2),
ent AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         log2(CAST(SUM(c) AS BIGINT))
           - SUM(CAST(c AS DOUBLE) * log2(c)) / CAST(SUM(c) AS BIGINT)
           AS entropy
  FROM cnt GROUP BY 1),
roll AS (
  SELECT fp.source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT f) AS BIGINT) AS n_unique_fp,
         ROUND(1.0 - COUNT(DISTINCT f) / CAST(COUNT(*) AS DOUBLE) + 1e-9, 4)
           AS fp_dup_rate,
         ROUND(AVG(CASE WHEN entropy >= 4.0 AND n_tokens >= 20
                        THEN 1.0 ELSE 0.0 END) + 1e-9, 4)
           AS ent_pass_rate,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         ROUND(AVG(n_tokens) + 1e-9, 2) AS mean_tokens
  FROM fp JOIN ent ON fp.doc_id = ent.doc_id
  GROUP BY 1)
SELECT source, n_docs, n_unique_fp, fp_dup_rate, ent_pass_rate,
       total_tokens, mean_tokens,
       fp_dup_rate > 0.055 AS flag_high_dup,
       CAST(ROW_NUMBER() OVER (ORDER BY fp_dup_rate DESC, source ASC)
            AS BIGINT) AS dup_rank
FROM roll
""".format(toks=_TOKS_SQL)


_DSIR_TARGET = "src0"  # the in-domain proxy slice (see docstring)
_DSIR_BUCKETS = 256


def text_dsir_weight(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv 2302.03169):
    score every document by how much more likely its hashed-bigram
    features are under a TARGET domain's distribution than under the
    raw corpus — the published recipe for selecting in-domain
    pretraining data without a trained classifier. The `src0` slice
    plays the target (in practice: a small trusted in-domain sample);
    features are bigram INSTANCES hashed into 256 buckets via the
    first two md5 hex digits (byte-identical in Spark and DuckDB —
    the dedup_simhash recipe); both unigram models get +1 Laplace
    smoothing over the 256 buckets so every log is finite. Per doc:
    n_bigrams, log_weight = Σ_g [ln p_target(b(g)) − ln p_raw(b(g))],
    and selected = rounded log_weight > 0 (the flag compares the
    ROUNDED value in both engines so the zero boundary cannot flip on
    accumulation order).

    Margin audit (r10 process rule): bucket counts ≤ corpus bigrams
    (int64); p, q ∈ (0, 1] after smoothing so ln is finite; the
    per-doc Σ of ~50 bounded terms is order-sensitive only at the
    ~1e-14 level against a 6dp readout (the PSI/JSD discipline);
    sequence(1, sz−1) is guarded by sz ≥ 2.

    Scale shape: bigram explode is 1:1 with tokens (linear); the two
    bucket histograms are 256-row map-side-combinable aggregates; the
    bucket→llr grid is a 256-row BROADCAST joined back to the bigram
    stream; the per-doc rollup is one linear shuffle on doc_id. The
    target slice needs no separate scan — one conditional aggregate
    over the same stream. Nothing here is pairwise or corpus-squared."""
    docs = (
        table(spark, sf, "documents")
        .select("doc_id", "source", TOKENS().alias("toks"))
        .withColumn("sz", F.size("toks"))
        .where(F.col("sz") >= 2)
    )
    grams = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("sz") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("toks", i), F.element_at("toks", i + 1)
                ),
            )
        ).alias("gram"),
    )
    bg = persist_tracked(
        grams.select(
            "doc_id",
            "source",
            F.conv(F.substring(F.md5("gram"), 1, 2), 16, 10)
            .cast("int")
            .alias("bucket"),
        )
    )
    is_tgt = F.when(F.col("source") == _DSIR_TARGET, 1).otherwise(0)
    hist = bg.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_r"), F.sum(is_tgt).alias("c_t")
    )
    tot = bg.agg(
        F.count(F.lit(1)).alias("t_r"), F.sum(is_tgt).alias("t_t")
    )
    grid = (
        spark.range(_DSIR_BUCKETS)
        .select(F.col("id").cast("int").alias("bucket"))
        .join(hist, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce("c_t", F.lit(0)) + 1).cast("double")
                    / (F.col("t_t") + _DSIR_BUCKETS).cast("double")
                )
                - F.log(
                    (F.coalesce("c_r", F.lit(0)) + 1).cast("double")
                    / (F.col("t_r") + _DSIR_BUCKETS).cast("double")
                )
            ).alias("llr"),
        )
    )
    per_doc = (
        bg.join(F.broadcast(grid), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.sum("llr") + 1e-9, 6).alias("log_weight"),
        )
    )
    return per_doc.select(
        "doc_id",
        "source",
        "n_bigrams",
        "log_weight",
        (F.col("log_weight") > 0).cast("int").alias("selected"),
    )


_DSIR_SQL = """
WITH t AS (
  SELECT doc_id, source, {toks} AS toks FROM documents
),
g AS (
  SELECT doc_id, source, toks[i] || ' ' || toks[i + 1] AS gram
  FROM t, LATERAL (
    SELECT unnest(generate_series(1, len(toks) - 1)) AS i
  ) s
  WHERE len(toks) >= 2
),
b AS (
  SELECT doc_id, source,
         (strpos('0123456789abcdef', substr(md5(gram), 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(md5(gram), 2, 1)) - 1)
           AS bucket
  FROM g
),
hist AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c_r,
         CAST(SUM(CASE WHEN source = '{tgt}' THEN 1 ELSE 0 END) AS BIGINT)
           AS c_t
  FROM b GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t_r,
         CAST(SUM(CASE WHEN source = '{tgt}' THEN 1 ELSE 0 END) AS BIGINT)
           AS t_t
  FROM b
),
grid AS (
  SELECT gg.bucket,
         ln(CAST(COALESCE(hist.c_t, 0) + 1 AS DOUBLE) / (tot.t_t + {nb}))
         - ln(CAST(COALESCE(hist.c_r, 0) + 1 AS DOUBLE) / (tot.t_r + {nb}))
           AS llr
  FROM (SELECT unnest(generate_series(0, {nb} - 1)) AS bucket) gg
  LEFT JOIN hist ON hist.bucket = gg.bucket
  CROSS JOIN tot
),
p AS (
  SELECT b.doc_id, b.source,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         ROUND(SUM(grid.llr) + 1e-9, 6) AS log_weight
  FROM b JOIN grid ON grid.bucket = b.bucket
  GROUP BY 1, 2
)
SELECT doc_id, source, n_bigrams, log_weight,
       CAST(log_weight > 0 AS INT) AS selected
FROM p
""".format(toks=_TOKS_SQL, tgt=_DSIR_TARGET, nb=_DSIR_BUCKETS)


# ---------------------------------------------------------------------------
# Corpus snapshot diff (VERDICT r14 item 5): the dataset-versioning
# question every curation team asks between training runs (the
# Delta-Lake/DVC shape) — given two corpus vintages, what changed per
# source, at the content-fingerprint grain, and how did token mass
# move? The two vintages derive deterministically from the one
# documents table (the split_train_test carve precedent): slot =
# doc_id % 11; slot 3 is MISSING from v1 (so it reads as added in
# v2), slot 7 is MISSING from v2 (removed), slot 5 has its text
# EDITED in v2 (deterministic suffix — changes both the fingerprint
# and the token count), everything else is carried unchanged.
#
# Fingerprint = md5 of the whitespace-canonicalized text (the
# dedup_normalized canon — order-SENSITIVE, unlike
# text_fingerprint's sorted-set key: an edit that reorders words must
# read as changed). Statuses partition the doc_id universe of
# v1 ∪ v2 structurally: added (v2 only), removed (v1 only), changed
# (both, fingerprints differ), unchanged.
#
# Scale shape: fingerprint + token count are narrow maps fused into
# each side's scan; the diff is ONE doc_id equi-join (both sides
# shuffle-partitioned on the same key) and one per-source hash-agg —
# no window, no driver state. At 100 TB vintages would be real
# snapshots; the carve only replaces their scans.

_DIFF_MOD = 11
_DIFF_ADD_SLOT = 3
_DIFF_DEL_SLOT = 7
_DIFF_EDIT_SLOT = 5
_DIFF_EDIT_SUFFIX = " rev2 edit"


def corpus_diff_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents").select("doc_id", "source", "text")
    slot = F.col("doc_id") % _DIFF_MOD
    v1 = docs.where(slot != _DIFF_ADD_SLOT)
    v2 = docs.where(slot != _DIFF_DEL_SLOT).select(
        "doc_id",
        "source",
        F.when(
            slot == _DIFF_EDIT_SLOT,
            F.concat(F.col("text"), F.lit(_DIFF_EDIT_SUFFIX)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )

    def fingerprinted(df: DataFrame) -> DataFrame:
        canon = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
        return df.select(
            "doc_id",
            "source",
            F.md5(canon).alias("fp"),
            F.size(TOKENS()).cast("long").alias("toks"),
        )

    a = fingerprinted(v1).alias("a")
    b = fingerprinted(v2).alias("b")
    j = a.join(b, "doc_id", "full_outer")
    status = (
        F.when(F.col("a.fp").isNull(), F.lit("added"))
        .when(F.col("b.fp").isNull(), F.lit("removed"))
        .when(F.col("a.fp") != F.col("b.fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    per_doc = j.select(
        F.coalesce(F.col("a.source"), F.col("b.source")).alias("source"),
        status.alias("status"),
        (
            F.coalesce(F.col("b.toks"), F.lit(0))
            - F.coalesce(F.col("a.toks"), F.lit(0))
        ).alias("tok_delta"),
    )

    def n(s: str):
        return (
            F.sum(F.when(F.col("status") == s, 1).otherwise(0))
            .cast("long")
            .alias(f"n_{s}")
        )

    return per_doc.groupBy("source").agg(
        n("added"),
        n("removed"),
        n("changed"),
        n("unchanged"),
        F.sum("tok_delta").alias("tok_delta"),
    )


_DIFF_SQL = """
WITH d AS (SELECT doc_id, source, text, doc_id % {mod} AS slot
           FROM documents),
v1 AS (SELECT doc_id, source, text FROM d WHERE slot != {add}),
v2 AS (SELECT doc_id, source,
              CASE WHEN slot = {edit} THEN text || '{suffix}'
                   ELSE text END AS text
       FROM d WHERE slot != {del_}),
fa AS (SELECT doc_id, source,
              md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
              CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                   AS BIGINT) AS toks
       FROM v1),
fb AS (SELECT doc_id, source,
              md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
              CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                   AS BIGINT) AS toks
       FROM v2),
j AS (
  SELECT COALESCE(fa.source, fb.source) AS source,
         CASE WHEN fa.fp IS NULL THEN 'added'
              WHEN fb.fp IS NULL THEN 'removed'
              WHEN fa.fp != fb.fp THEN 'changed'
              ELSE 'unchanged' END AS status,
         COALESCE(fb.toks, 0) - COALESCE(fa.toks, 0) AS tok_delta
  FROM fa FULL OUTER JOIN fb ON fa.doc_id = fb.doc_id)
SELECT source,
       CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_added,
       CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_changed,
       CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unchanged,
       CAST(SUM(tok_delta) AS BIGINT) AS tok_delta
FROM j
GROUP BY source
""".format(
    mod=_DIFF_MOD,
    add=_DIFF_ADD_SLOT,
    del_=_DIFF_DEL_SLOT,
    edit=_DIFF_EDIT_SLOT,
    suffix=_DIFF_EDIT_SUFFIX,
)


# ---------------------------------------------------------------------------
# BPE merge-step tokenizer induction (VERDICT r14 item 4): Sennrich,
# Haddow & Birch 2016 ("Neural Machine Translation of Rare Words with
# Subword Units", arXiv 1508.07909) — the greedy merge loop that turns
# a character vocabulary into a subword vocabulary. Each round counts
# adjacent-symbol pairs over the DISTINCT-word state weighted by word
# frequency (the paper's dictionary trick: merges act on word TYPES,
# counts weight by occurrences), picks the globally most frequent pair
# (deterministic tie-break: count DESC, then lexicographic on the two
# symbols), and applies the merge leftmost-non-overlapping to every
# word. text_bpe_merge_step is the one-round primitive;
# text_bpe_vocab unrolls 3 rounds (the emb_pca_power unroll pattern —
# each round is a CTE block in the oracle).
#
# Representation is the whole trick for cross-engine exactness: each
# word's symbol sequence is ONE string with every symbol wrapped in
# '|' sentinels ("abc" → "|a||b||c|"), so applying merge (l, r) is
# replace(w, '|l||r|', '|lr|') — and both Spark's and DuckDB's
# replace() scan leftmost-non-overlapping ("|a||a||a|" with (a,a) →
# "|aa||a|", verified in both engines; that IS the BPE application
# order), while the sentinels make partial-symbol matches impossible
# (("b","c") cannot fire inside ["ab","c"]: '|b||c|' ∉ '|ab||c|').
# The corpus tokenizer (house whitespace-split lowercase) emits no
# '|' characters, asserted in tests. Pair counting is per adjacent
# INDEX (so "aaa" counts (a,a) twice but merges once — the standard
# overlap semantics); compression is token-weighted symbols-per-char.
#
# Scale shape: the state is |vocab| rows (word types, not tokens) —
# the wordcount reduction happens ONCE; each round is a pair-explode →
# hash-agg shuffle on the pair key (map-side combinable — the exact
# wordcount shape), a 1-row global top-1, and a broadcast-crossJoin
# map to apply the merge. localCheckpoint per round cuts the iterated
# crossJoin lineage (the AQE explain-string pathology). At 100 TB the
# corpus scan happens once; rounds cost O(|vocab|·len) each.

_BPE_VOCAB_ROUNDS = 3


def _bpe_arr(col: str = "w"):
    """Symbol array from the sentinel-wrapped string: '|a||bc|' →
    ['a','bc'] (strip one '|' each end, split on the '||' seams)."""
    return F.split(
        F.expr(f"substring({col}, 2, length({col}) - 2)"), r"\|\|"
    )


def _bpe_word_state_from(docs: DataFrame) -> DataFrame:
    """(word, n, w) from any frame exposing ``text``: distinct words
    with occurrence counts and the initial character-symbol wrapped
    string (llm_data_pipeline_v9 feeds its KEPT corpus here)."""
    words = (
        docs.select(F.explode(TOKENS()).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return words.select(
        "word", "n", F.regexp_replace("word", "(.)", r"|$1|").alias("w")
    )


def _bpe_word_state(spark: SparkSession, sf: str) -> DataFrame:
    return _bpe_word_state_from(table(spark, sf, "documents"))


def _bpe_round(state: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One BPE merge round: returns (top, new_state) where top is the
    1-row (l, r, cnt) winning pair and new_state the word state with
    the merge applied.

    Execution shape (optimization r15, guide §2.4/§5): the winning
    pair is COLLECTED (one bounded 1-row pull — the same job the old
    eager localCheckpoint already ran to materialize it) and the
    merge applied as a LITERAL replace, so the crossJoin(broadcast)
    per round disappears and — because new_state is now a plain
    projection chain over the previous state, not an iterated join —
    the per-round state localCheckpoint the callers used to pay
    (a full write-out job per merge round) is no longer needed for
    lineage control. Per k-round induction: k pair-count jobs total,
    instead of k·(top-checkpoint + state-checkpoint) jobs plus k
    broadcasts. Values unchanged: same aggregate, same total-order
    top-1 (cnt DESC, l, r), same replace semantics."""
    st = state.withColumn("arr", _bpe_arr())
    # adjacent pairs by index: element i of the last-dropped slice
    # pairs with arr[i+1] (Spark [] indexing is 0-based; a 1-symbol
    # word slices to [] and contributes nothing, as in the oracle)
    prs = F.expr(
        "transform(slice(arr, 1, size(arr) - 1), "
        "(x, i) -> struct(x AS l, arr[i + 1] AS r))"
    )
    pairs = (
        st.select("n", F.explode(prs).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("n").alias("cnt"))
    )
    trows = pairs.orderBy(F.desc("cnt"), "l", "r").limit(1).collect()
    spark = state.sparkSession
    if not trows:
        # fully-merged state: no adjacent pair remains (ADVICE r15
        # item 3 — the bare collect()[0] raised IndexError here).
        # Mirror the oracle exactly: top{r} is an EMPTY 1-row CTE, so
        # st{r} (a cross join with it) and every later round's state
        # and readout row are empty too.
        top = spark.createDataFrame([], "l string, r string, cnt bigint")
        return top, state.select("word", "n", "w").limit(0)
    trow = trows[0]
    top = spark.createDataFrame(
        [(trow["l"], trow["r"], trow["cnt"])], "l string, r string, cnt bigint"
    )
    pat = F.lit(f"|{trow['l']}||{trow['r']}|")
    merged = F.lit(f"|{trow['l']}{trow['r']}|")
    new_state = st.select(
        "word", "n", F.replace(F.col("w"), pat, merged).alias("w")
    )
    return top, new_state


def _bpe_round_row(
    rank: int, top: DataFrame, state: DataFrame, chars: DataFrame
) -> DataFrame:
    """Per-round readout over the POST-merge state: the merged pair +
    vocab size (distinct symbols across word types), token-weighted
    total symbols, and compression = symbols per character."""
    st = state.withColumn("arr", _bpe_arr())
    syms = st.agg(
        F.sum(F.col("n") * F.size("arr")).alias("total_symbols")
    )
    vocab = st.select(F.explode("arr").alias("s")).agg(
        F.countDistinct("s").alias("vocab_size")
    )
    return (
        top.crossJoin(F.broadcast(syms))
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(chars))
        .select(
            F.lit(rank).cast("long").alias("merge_rank"),
            F.col("l").alias("left_sym"),
            F.col("r").alias("right_sym"),
            F.col("cnt").alias("pair_count"),
            "vocab_size",
            "total_symbols",
            F.round(
                F.col("total_symbols").cast("double") / F.col("total_chars")
                + 1e-9,
                6,
            ).alias("compression"),
        )
    )


def _bpe_merge_rounds(spark: SparkSession, sf: str, k: int) -> DataFrame:
    # one checkpoint of the INITIAL word state (the corpus-wide word
    # count — everything downstream is projection chains over it);
    # per-round state checkpoints are gone with the literal-replace
    # _bpe_round (optimization r15 — see its docstring). Round r's
    # plan replays the r-1 prior replace projections over the one
    # checkpoint — O(k²) projection work total, fine at the committed
    # k = _BPE_VOCAB_ROUNDS = 3; re-checkpoint every ~8 rounds before
    # raising k (ADVICE r15 item 3).
    state = _bpe_word_state(spark, sf).localCheckpoint()
    chars = state.agg(
        F.sum(F.col("n") * F.length("word")).alias("total_chars")
    ).localCheckpoint()
    rows: list[DataFrame] = []
    for r in range(1, k + 1):
        top, new_state = _bpe_round(state)
        state = new_state
        rows.append(_bpe_round_row(r, top, state, chars))
    out = rows[0]
    for fr in rows[1:]:
        out = out.unionByName(fr)
    return out


def text_bpe_merge_step(spark: SparkSession, sf: str) -> DataFrame:
    """One deterministic BPE merge round (see the family comment
    above): the single tokenizer-induction primitive between text
    cleaning and packing. Surface: 1 row — the winning pair, its
    token-weighted count, and the post-merge vocab/compression
    readout."""
    return _bpe_merge_rounds(spark, sf, 1)


def text_bpe_vocab(spark: SparkSession, sf: str) -> DataFrame:
    """Three unrolled BPE merge rounds — one row per merge in rank
    order, each with the post-merge vocab-coverage/compression
    readout; the oracle mirrors every round as its own CTE block."""
    return _bpe_merge_rounds(spark, sf, _BPE_VOCAB_ROUNDS)


def _bpe_head_sql(src: str = "documents", with_prefix: str = "WITH ") -> str:
    """Induction head CTEs over an arbitrary corpus relation ``src``
    (a table or an upstream CTE exposing ``text``): word counts, char
    mass, initial character-symbol state. ``with_prefix`` lets a
    composing oracle (llm_data_pipeline_v9) splice the head
    mid-chain."""
    return """{wp}words AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest({toks}) AS word FROM {src})
  WHERE word <> '' GROUP BY word),
chars AS (
  SELECT CAST(SUM(n * length(word)) AS BIGINT) AS total_chars FROM words),
st0 AS (
  SELECT word, n, regexp_replace(word, '(.)', '|\\1|', 'g') AS w
  FROM words)""".format(wp=with_prefix, toks=_TOKS_SQL, src=src)


_BPE_SQL_HEAD = _bpe_head_sql()


def _bpe_round_block(r: int) -> str:
    """The one merge round as CTEs st{r-1} → st{r} (pair counts, top
    pair, merge application)."""
    return """,
arr{r} AS (
  SELECT word, n, w,
         string_split(substring(w, 2, length(w) - 2), '||') AS arr
  FROM st{p}),
pairs{r} AS (
  SELECT pr['l'] AS l, pr['r'] AS r_, CAST(SUM(n) AS BIGINT) AS cnt
  FROM (SELECT n,
               unnest(list_transform(range(1, len(arr)),
                      i -> {{'l': arr[i], 'r': arr[i + 1]}})) AS pr
        FROM arr{r}) t
  GROUP BY 1, 2),
top{r} AS (SELECT l, r_, cnt FROM pairs{r} ORDER BY cnt DESC, l, r_ LIMIT 1),
st{r} AS (
  SELECT word, n,
         replace(w, '|' || t.l || '||' || t.r_ || '|',
                 '|' || t.l || t.r_ || '|') AS w
  FROM arr{r}, top{r} t)""".format(r=r, p=r - 1)


def _bpe_readout_block(r: int) -> str:
    """Post-merge readout CTEs for round r (vocab/symbol stats +
    the surfaced row)."""
    return """,
stat{r} AS (
  SELECT CAST(SUM(n * len(string_split(substring(w, 2, length(w) - 2),
                                       '||'))) AS BIGINT) AS total_symbols,
         (SELECT COUNT(DISTINCT s) FROM (
            SELECT unnest(string_split(substring(w, 2, length(w) - 2),
                                       '||')) AS s
            FROM st{r})) AS vocab_size
  FROM st{r}),
row{r} AS (
  SELECT CAST({r} AS BIGINT) AS merge_rank, t.l AS left_sym,
         t.r_ AS right_sym, t.cnt AS pair_count, s.vocab_size,
         s.total_symbols,
         ROUND(CAST(s.total_symbols AS DOUBLE) / c.total_chars + 1e-9,
               6) AS compression
  FROM top{r} t, stat{r} s, chars c)""".format(r=r)


def _bpe_sql(k: int) -> str:
    """Compose the k-round BPE oracle — every round's CTE block comes
    from one template so the engines cannot drift per-round (the
    compose-don't-copy rule)."""
    blocks = [_BPE_SQL_HEAD]
    for r in range(1, k + 1):
        blocks.append(_bpe_round_block(r))
        blocks.append(_bpe_readout_block(r))
    blocks.append(
        "\n"
        + "\nUNION ALL\n".join(f"SELECT * FROM row{r}" for r in range(1, k + 1))
    )
    return "".join(blocks)


def _bpe_state_after_from(docs: DataFrame, k: int) -> DataFrame:
    """Word state (word, n, w) after k merge rounds over an arbitrary
    corpus frame — the induced subword vocabulary as a word-type →
    symbol-sequence map."""
    state = _bpe_word_state_from(docs).localCheckpoint()
    for _ in range(k):
        _, new_state = _bpe_round(state)
        state = new_state
    return state


def _bpe_state_after(spark: SparkSession, sf: str, k: int) -> DataFrame:
    return _bpe_state_after_from(table(spark, sf, "documents"), k)


def text_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """ENCODE the corpus with the induced 3-merge BPE vocabulary —
    what a tokenizer is FOR: per source, whitespace-token count,
    subword-symbol count under the merged vocab, character mass, and
    the two ratios a tokenizer report quotes (symbols per token,
    symbols per char). Encoding is per word TYPE (every corpus token
    joins its word's symbol count — the same dictionary trick the
    induction uses), so the corpus is never re-scanned per round.

    Scale shape: corpus tokens reduce to (source, word) counts in one
    map-side-combinable shuffle; the encode join is |source-vocab|
    rows against the |vocab|-row state (word-keyed hash join, both
    sides tiny next to the corpus), then one per-source aggregate.

    Margin audit (r15): state covers every corpus word by
    construction (induced from the same tokenizer), so the inner join
    drops nothing — pinned by n_tokens equaling the direct per-source
    token totals in tests; all counts exact int64; the two ratios are
    single divisions of exact counts, rounded at 6dp with the house
    nudge; measured at sf0.01: symbols_per_token 4.08-4.14 per source
    (chars per token ~4.46) and compression 0.914-0.921 — the 3
    merges shave ~8% of symbols, varying by source mix."""
    state = _bpe_state_after(spark, sf, _BPE_VOCAB_ROUNDS)
    sym_counts = state.select(
        "word", F.size(_bpe_arr()).cast("long").alias("n_syms")
    )
    docs = table(spark, sf, "documents")
    per_word = (
        docs.select("source", F.explode(TOKENS()).alias("word"))
        .where(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    j = per_word.join(sym_counts, "word")
    agg = j.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c") * F.col("n_syms")).alias("n_symbols"),
        F.sum(F.col("c") * F.length("word")).alias("n_chars"),
    )
    return agg.select(
        "source",
        "n_tokens",
        "n_symbols",
        "n_chars",
        F.round(
            F.col("n_symbols").cast("double") / F.col("n_tokens") + 1e-9, 6
        ).alias("symbols_per_token"),
        F.round(
            F.col("n_symbols").cast("double") / F.col("n_chars") + 1e-9, 6
        ).alias("compression"),
    )


def _bpe_encode_sql(k: int) -> str:
    blocks = [_BPE_SQL_HEAD]
    for r in range(1, k + 1):
        blocks.append(_bpe_round_block(r))
    blocks.append(
        """,
syms AS (
  SELECT word, CAST(len(string_split(substring(w, 2, length(w) - 2),
                                     '||')) AS BIGINT) AS n_syms
  FROM st{k}),
pw AS (
  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source, unnest({toks}) AS word FROM documents)
  WHERE word <> '' GROUP BY 1, 2)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(SUM(c * n_syms) AS BIGINT) AS n_symbols,
       CAST(SUM(c * length(word)) AS BIGINT) AS n_chars,
       ROUND(CAST(SUM(c * n_syms) AS DOUBLE) / SUM(c) + 1e-9, 6)
         AS symbols_per_token,
       ROUND(CAST(SUM(c * n_syms) AS DOUBLE) / SUM(c * length(word)) + 1e-9,
             6) AS compression
FROM pw JOIN syms USING (word)
GROUP BY source""".format(k=k, toks=_TOKS_SQL)
    )
    return "".join(blocks)


QUERIES: dict[str, QuerySpec] = {
    "text_token_count": QuerySpec(
        "text_token_count", text_token_count, _TOKEN_COUNT_SQL
    ),
    # round-15 tokenizer-induction primitives (VERDICT r14 item 4)
    "text_bpe_merge_step": QuerySpec(
        "text_bpe_merge_step", text_bpe_merge_step, _bpe_sql(1)
    ),
    "text_bpe_vocab": QuerySpec(
        "text_bpe_vocab", text_bpe_vocab, _bpe_sql(_BPE_VOCAB_ROUNDS)
    ),
    "text_bpe_encode": QuerySpec(
        "text_bpe_encode", text_bpe_encode, _bpe_encode_sql(_BPE_VOCAB_ROUNDS)
    ),
    # round-15 corpus versioning (VERDICT r14 item 5)
    "corpus_diff_snapshot": QuerySpec(
        "corpus_diff_snapshot", corpus_diff_snapshot, _DIFF_SQL
    ),
    # round-14 URL/address grain
    "text_url_canonicalize": QuerySpec(
        "text_url_canonicalize", text_url_canonicalize, _URL_CANON_SQL
    ),
    # round-12 second-wave addition
    "text_dsir_weight": QuerySpec(
        "text_dsir_weight", text_dsir_weight, _DSIR_SQL
    ),
    "text_rolling_hash": QuerySpec(
        "text_rolling_hash", text_rolling_hash, _ROLLING_SQL
    ),
    "ext_text_stats": QuerySpec("ext_text_stats", ext_text_stats, _TEXT_STATS_SQL),
    "text_quality": QuerySpec("text_quality", text_quality, _QUALITY_SQL),
    "text_lang_guess": QuerySpec("text_lang_guess", text_lang_guess, _LANG_SQL),
    "text_fingerprint": QuerySpec("text_fingerprint", text_fingerprint, _FINGERPRINT_SQL),
    "text_bigrams_top": QuerySpec("text_bigrams_top", text_bigrams_top, _BIGRAMS_SQL),
    "text_tfidf_top": QuerySpec("text_tfidf_top", text_tfidf_top, _TFIDF_SQL),
    "text_contamination": QuerySpec(
        "text_contamination", text_contamination, _CONTAM_SQL
    ),
    "text_repetition": QuerySpec(
        "text_repetition", text_repetition, _REPETITION_SQL
    ),
    "src_jsonl_documents": QuerySpec(
        "src_jsonl_documents", src_jsonl_documents, _JSONL_SQL
    ),
    "text_pii_scrub": QuerySpec("text_pii_scrub", text_pii_scrub, _PII_SQL),
    "text_chunk_stride": QuerySpec(
        "text_chunk_stride", text_chunk_stride, _CHUNK_SQL
    ),
    # round-8 addition
    "text_zipf_slope": QuerySpec(
        "text_zipf_slope", text_zipf_slope, _ZIPF_SQL
    ),
    # round-9 addition
    "text_heavy_hitters": QuerySpec(
        "text_heavy_hitters", text_heavy_hitters, _HH_SQL
    ),
    "text_ngram_novelty": QuerySpec(
        "text_ngram_novelty", text_ngram_novelty, _novelty_sql()
    ),
    # round-10 additions
    "text_entropy": QuerySpec("text_entropy", text_entropy, _ENTROPY_SQL),
    "text_jsd_source_divergence": QuerySpec(
        "text_jsd_source_divergence", text_jsd_source_divergence, _JSD_SQL
    ),
    "text_psi_drift": QuerySpec("text_psi_drift", text_psi_drift, _PSI_SQL),
    "text_repeated_ngrams": QuerySpec(
        "text_repeated_ngrams", text_repeated_ngrams, _REPEATED_NGRAMS_SQL
    ),
    # round-12 addition (VERDICT r11 item 6a): domain-grain pre-filter
    "text_domain_rollup": QuerySpec(
        "text_domain_rollup", text_domain_rollup, _DOMAIN_ROLLUP_SQL
    ),
}
