"""Augmentation + train/test split (SURVEY §2.8-§2.9, Phase 4).

The reference 4×-augments the training slice: original + 3 variants
(rot90/180/270 of the image part) with random date + coordinate jitter
(data_augmentation.py:137-239). Split is Fisher-Yates shuffle then an
exact 80/20 prefix/suffix slice (feature_extractor.py:128-172).

Determinism split (SURVEY §2.8): the *rotations* are deterministic →
full DuckDB oracles via index arithmetic; the *jitters* use Python
Mersenne-Twister, unreproducible across Spark partitions → re-declared
on Spark-native `rand(seed)` and checked rows-only (bounds + structure
asserted in unit tests instead).

Scale notes:
- rotations are pure index arithmetic inside higher-order functions —
  JVM codegen, zero shuffle, embarrassingly parallel;
- the exact split avoids the classic single-partition
  `row_number() OVER (ORDER BY rand())` bottleneck: range-partition by
  the random key, rank within partitions, then add per-partition
  offsets (a #partitions-row broadcast) — a distributed contiguous
  global index, the DataFrame form of zipWithIndex;
- jitter is per-row `rand(seed)` column math — no state, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import QuerySpec
from ..sources import landsat
from ..util import global_prefix, kernel, persist_tracked, recipe
from ..sources.landsat import FIXTURE_DIR, PROBE_SQL
from .text import _TOKS_SQL

# The assembled feature frame is shared with the domain suite:
# domain.features_with_gt memoizes it per session and persists it, so
# aug_explode_4x / map_concat_features / domain_pipeline_summary scan
# one cached materialization per session instead of each rebuilding
# the 365-array assembly. That holds only while the frame's cache
# entry survives (see the ordering note at domain._FEATURES_MEMO);
# tests/test_domain_cache.py pins the InMemoryTableScan in each plan.
from .domain import (
    _GT1,
    _META,
    _RADPX,
    _SCENE_DATES,
    _pixels_long,
    _scene_dates,
    features_with_gt,
)

GRID = 7
IMG_LEN = GRID * GRID * GRID  # 343
VARIANTS = ["orig", "rot90", "rot180", "rot270"]

# ---------------------------------------------------------------------------
# Rotation as index arithmetic (data_augmentation.py:12-29, np.rot90 CCW
# over axes (1,2)):  k=1: out[i][j] = in[j][6-i]
#                    k=2: out[i][j] = in[6-i][6-j]
#                    k=3: out[i][j] = in[6-j][i]
# ---------------------------------------------------------------------------


def rot_grid(grid: Column, k: int) -> Column:
    """Rotate one 7×7 array<array<T>> by k*90° CCW — pure element_at
    arithmetic, stays in whole-stage codegen."""
    if k % 4 == 0:
        return grid
    n = GRID
    idx = F.sequence(F.lit(0), F.lit(n - 1))

    def cell(i: Column, j: Column) -> Column:
        if k % 4 == 1:
            return F.element_at(F.element_at(grid, j + 1), n - i)
        if k % 4 == 2:
            return F.element_at(F.element_at(grid, n - i), n - j)
        return F.element_at(F.element_at(grid, n - j), i + 1)

    return F.transform(idx, lambda i: F.transform(idx, lambda j: cell(i, j)))


def rot_bands(bands: Column, k: int) -> Column:
    """Rotate every band grid of a (bands × 7 × 7) tensor."""
    return F.transform(bands, lambda g: rot_grid(g, k))


# ---------------------------------------------------------------------------
# Exact distributed 80/20 split (feature_extractor.py:128-172)
# ---------------------------------------------------------------------------


def exact_split(df: DataFrame, seed: int = 42, train_ratio: float = 0.8) -> DataFrame:
    """Add a `split` column with EXACT floor(n*ratio) train rows.

    Distributed contiguous ranking: range-partition on rand(seed),
    rank within each partition, add cumulative per-partition offsets
    (tiny broadcast). No single-partition global sort — survives 100 TB.
    The reference's shuffle+slice (feature_extractor.py:146-169) has
    the same semantics: random permutation, exact prefix = train.

    The global rank (and hence the split assignment) orders rows by
    the seeded key alone, so the result is partition-count-independent.

    The permutation key is xxhash64(row, seed), NOT rand(seed):
    rand is per-partition-seeded and marked nondeterministic, so the
    two plan branches below (the offsets aggregate and the indexed
    join) can observe DIFFERENT key values when AQE re-plans the
    scan between branch executions. A content hash is branch-stable,
    retry-stable, and session-independent.

    The distributed ranking itself (range partition + local window +
    broadcast offsets, ranked frame materialized ONCE before the
    offsets fan-out — the r7 rdd.id boundary-desync fix, observed
    live as 4022/5000 train rows in a long session) lives in
    util.global_prefix, shared with dedup._chunk_summary and
    dedup._global_rank; see its docstring for the full mechanics.
    """
    keyed = df.withColumn(
        "_r", F.xxhash64(*[F.col(c) for c in df.columns], F.lit(seed))
    )
    indexed = global_prefix(keyed, ["_r"]).withColumn(
        "_gidx", F.col("_prefix") - 1
    )
    labeled = indexed.withColumn(
        "split",
        F.when(
            F.col("_gidx") < F.floor(F.col("_total") * F.lit(train_ratio)),
            F.lit("train"),
        ).otherwise(F.lit("test")),
    )
    return labeled.drop("_r", "_prefix", "_total", "_gidx")


# ---------------------------------------------------------------------------
# Random jitters, Spark-native seeding (rows-only checks)
# ---------------------------------------------------------------------------


def jitter_date(day: Column, month: Column, seed: int) -> tuple[Column, Column]:
    """day + randint(5,15) mod 30 (0→1); month + Bernoulli(0.7) mod 12
    (0→1) — data_augmentation.py:32-53. NB `random.random() > 0.7`
    keeps month UNshifted with p=0.3, i.e. the shift fires with p=0.7.
    Mod-30 can produce invalid calendar dates; replicated, not fixed."""
    day_shift = (F.floor(F.rand(seed) * 11) + 5).cast("int")
    month_shift = F.when(F.rand(seed + 1) > 0.7, 0).otherwise(1)
    # 0→1 via greatest(), NOT when(x==0,1).otherwise(x): rand() inside an
    # otherwise-branch advances its stream only on rows where the branch
    # runs, desyncing from the condition's copy — greatest evaluates the
    # expression exactly once per row, and pmod is non-negative.
    new_day = F.greatest(F.pmod(day.cast("int") + day_shift, F.lit(30)), F.lit(1))
    new_month = F.greatest(
        F.pmod(month.cast("int") + month_shift, F.lit(12)), F.lit(1)
    )
    return new_day, new_month


def _wgs84_deg_meters_cols(lat: Column) -> tuple[Column, Column]:
    """Exact WGS-84 meters-per-degree (Vincenty inverse, matching the
    reference's geopy calls — data_augmentation.py:69-99) as ONE
    Arrow-batched pandas UDF over the latitude column. Python is
    acceptable here because the only consumer evaluates it on the
    stations DIMENSION (hundreds of rows at any fact scale). Both
    getFields reference the same UDF expression, which
    ExtractPythonUDFs deduplicates to one eval."""
    from pyspark.sql.functions import pandas_udf

    def _kernel(lat_s):
        import pandas as pd

        from ..functions.geodesy import wgs84_deg_meters

        lon_m, lat_m = wgs84_deg_meters(lat_s.to_numpy())
        return pd.DataFrame({"lon_m": lon_m, "lat_m": lat_m})

    _udf = pandas_udf(kernel(_kernel), "lon_m double, lat_m double")
    g = _udf(lat)
    return g.getField("lon_m"), g.getField("lat_m")


def jitter_geo(
    lon: Column, lat: Column, max_shift_km: float, seed: int
) -> tuple[Column, Column]:
    """Random diagonal move, 5..max_shift_km per axis, one of four
    directions (data_augmentation.py:110-134). Meters-per-degree
    factors are exact WGS-84 geodesics (like the reference's geopy),
    not the spherical approximation — see _wgs84_deg_meters_cols."""
    lon_m, lat_m = _wgs84_deg_meters_cols(lat)
    direction = F.floor(F.rand(seed) * 4)  # 0=rb 1=lt 2=rt 3=lb
    dx = (F.lit(5.0) + F.rand(seed + 1) * F.lit(max_shift_km - 5.0)) * 1000.0
    dy = (F.lit(5.0) + F.rand(seed + 2) * F.lit(max_shift_km - 5.0)) * 1000.0
    lon_sign = F.when(direction.isin(0, 2), 1.0).otherwise(-1.0)  # right / left
    lat_sign = F.when(direction.isin(1, 2), 1.0).otherwise(-1.0)  # top / bottom
    return lon + lon_sign * dx / lon_m, lat + lat_sign * dy / lat_m


# ---------------------------------------------------------------------------
# Feature-vector plumbing (augmentation operates on the flat 365
# layout via negative indexing, data_augmentation.py:160-180 — so the
# aug queries go through the `features` column on purpose, proving the
# layout contract).
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Queries
# ---------------------------------------------------------------------------


def aug_rot90(spark: SparkSession, sf: str) -> DataFrame:
    """rot90 cross-checked layout-independently: Spark rotates the
    NESTED patch arrays with higher-order functions and explodes to
    pixel-long; the oracle remaps coordinates of the pixel-long parquet
    ((y,x) → (6-x, y)). Any index slip disagrees on every pixel of the
    probe scenes."""
    patches = landsat.scene_patches(spark).where(landsat.probe_scene())
    return _pixels_long(
        patches, ["scene_id", "station_id"], rot_bands(F.col("bands"), 1), "value"
    )


_ROT90_SQL = """
SELECT scene_id, station_id, band,
       (6 - x) AS y, y AS x, dn AS value
FROM '{fix}/scene_pixels.parquet'
WHERE {probe}
""".format(fix=FIXTURE_DIR, probe=PROBE_SQL)


def aug_explode_4x(spark: SparkSession, sf: str) -> DataFrame:
    """4-way augmentation explode over the 365-feature vectors
    (data_augmentation.py:137-239): original + rot90/180/270. The
    deterministic surface is checked here — per-variant position-
    weighted checksum of the image slice (rotation preserves the value
    multiset, so a plain sum would pass even with wrong indexes; the
    position weights catch that) — while the random jitters live in
    the rows-only queries."""
    pixels, checksums, variants, out = _explode_4x_cols()
    sums = (
        features_with_gt(spark)
        .select(*pixels)
        .groupBy("scene_id", "station_id", "air_temp")
        .agg(*checksums)
    )
    return sums.select(*variants).select(*out)


@recipe
def _explode_4x_cols() -> tuple:
    """aug_explode_4x's (image pixel columns, per-variant checksum
    aggregates, variant explode, output columns).

    Rotation-as-permutation: the checksum Σ out[q]·q over the rotated
    image equals Σ v[p]·w_k(p) over the ORIGINAL flat layout, where
    w_k maps in-position p=(b,y,x) to its out-position under rotation
    k. The flat image therefore posexplodes ONCE and all four
    checksums are conditional sums with w_k as plain integer column
    arithmetic — every operator whole-stage-codegen'd. The r1 form
    (rebuild the nested tensor from the flat vector, rotate with
    element_at arithmetic, reduce with aggregate()) ran interpreted —
    Spark evaluates higher-order-function lambdas per element outside
    codegen — at ~3ms/row (18s at 120 scenes); this is sub-second.
    The flat-layout contract (augmentation indexes the 365 vector,
    data_augmentation.py:160-180) still holds: the input is
    features[1..343]."""
    pixels = (
        F.col("scene_id"),
        F.col("station_id"),
        F.col("air_temp"),
        F.posexplode(F.slice(F.col("features"), 1, IMG_LEN)).alias("p", "v"),
    )
    b = F.floor(F.col("p") / (GRID * GRID)).cast("int")
    r = F.pmod(F.col("p"), GRID * GRID)
    y = F.floor(r / GRID).cast("int")
    x = F.pmod(r, GRID).cast("int")
    n1 = GRID - 1
    w = [
        b * 49 + y * GRID + x,
        b * 49 + (n1 - x) * GRID + y,
        b * 49 + (n1 - y) * GRID + (n1 - x),
        b * 49 + x * GRID + (n1 - y),
    ]
    checksums = tuple(
        F.sum(F.col("v") * w[k].cast("double")).alias(f"_chk{k}")
        for k in range(len(VARIANTS))
    )
    variants = F.array(
        *[
            F.struct(F.lit(v).alias("variant"), F.col(f"_chk{k}").alias("chk"))
            for k, v in enumerate(VARIANTS)
        ]
    )
    keys = (F.col("scene_id"), F.col("station_id"))
    return (
        pixels,
        checksums,
        (*keys, F.col("air_temp"), F.explode(variants).alias("v")),
        (
            *keys,
            F.col("v.variant").alias("variant"),
            F.round(F.col("v.chk") + 1e-9, 2).alias("img_checksum"),
            F.col("air_temp"),
        ),
    )


_EXPLODE4X_SQL = """
WITH {meta},
{radpx},
{sd},
{gt1},
imgpx AS (
  SELECT scene_id, station_id,
         CASE WHEN n_bands = 7 THEN band - 1 ELSE
           CASE band WHEN 2 THEN 0 WHEN 3 THEN 1 WHEN 4 THEN 2 WHEN 5 THEN 3
                     WHEN 6 THEN 4 WHEN 10 THEN 5 WHEN 7 THEN 6 END
         END AS b0,
         y, x, value
  FROM btpx
  WHERE n_bands = 7 OR band IN (2, 3, 4, 5, 6, 10, 7)),
qual AS (
  SELECT p.scene_id, p.station_id, g.air_temp
  FROM (SELECT DISTINCT scene_id, station_id FROM btpx) p
  JOIN scene_dates d ON p.scene_id = d.scene_id
  JOIN gt1 g ON d.yr = g.yr AND d.mo = g.mo AND d.dy = g.dy
            AND p.station_id = g.station_id
  JOIN read_csv('{fix}/stations.csv') s ON p.station_id = s.id)
SELECT i.scene_id, i.station_id, v.variant,
       ROUND(SUM(i.value * (i.b0 * 49 + CASE v.variant
           WHEN 'orig'   THEN i.y * 7 + i.x
           WHEN 'rot90'  THEN (6 - i.x) * 7 + i.y
           WHEN 'rot180' THEN (6 - i.y) * 7 + (6 - i.x)
           WHEN 'rot270' THEN i.x * 7 + (6 - i.y) END)) + 1e-9, 2)
         AS img_checksum,
       q.air_temp
FROM imgpx i
JOIN qual q ON i.scene_id = q.scene_id AND i.station_id = q.station_id
CROSS JOIN (VALUES ('orig'), ('rot90'), ('rot180'), ('rot270')) AS v(variant)
GROUP BY i.scene_id, i.station_id, v.variant, q.air_temp
""".format(
    meta=_META.strip(),
    radpx=_RADPX.strip(),
    sd=_SCENE_DATES.strip(),
    gt1=_GT1.strip(),
    fix=FIXTURE_DIR,
)


def aug_jitter_date(spark: SparkSession, sf: str) -> DataFrame:
    """Date jitter per augmented variant (rows-only: Mersenne-Twister
    order is unreproducible distributed; Spark rand(seed) declared
    instead — bounds asserted in unit tests)."""
    dated = _scene_dates(
        landsat.scene_patches(spark).select("scene_id", "station_id")
    )
    out = dated
    for k, v in enumerate(VARIANTS[1:], start=1):
        d, m = jitter_date(F.col("dy"), F.col("mo"), seed=100 * k)
        out = out.withColumn(f"day_{v}", d).withColumn(f"month_{v}", m)
    return out.select(
        "scene_id", "station_id", "yr", "mo", "dy",
        "day_rot90", "month_rot90",
        "day_rot180", "month_rot180",
        "day_rot270", "month_rot270",
    )


def aug_geo_shift(spark: SparkSession, sf: str) -> DataFrame:
    """Coordinate jitter per variant: 5-10 km (rot90/270) or 5-15 km
    (rot180) random diagonal move (data_augmentation.py:198-200).
    Rows-only; magnitude bounds asserted in unit tests."""
    dim = landsat.stations_dim(spark).select("id", "longitude", "latitude")
    out = dim
    for k, (v, max_km) in enumerate(
        [("rot90", 10.0), ("rot180", 15.0), ("rot270", 10.0)], start=1
    ):
        lon, lat = jitter_geo(
            F.col("longitude"), F.col("latitude"), max_km, seed=1000 * k
        )
        out = out.withColumn(f"lon_{v}", lon).withColumn(f"lat_{v}", lat)
    return out


# documents' columns as the sf tables store them (FIXTURES.md)
DOCUMENTS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def doc_ids(spark: SparkSession, sf: str) -> DataFrame:
    """The ``doc_id`` column of ``documents``: the split and augment
    count keys' input. The read names the table's columns, so a build
    submits no footer schema-inference job; the scan reads doc_id
    alone."""
    return (
        spark.read.schema(DOCUMENTS_SCHEMA)
        .parquet(f"{sf}/documents.parquet")
        .select("doc_id")
    )


def split_train_test(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 80/20 split sizes (feature_extractor.py:159-169:
    split_idx = int(n * 0.8), prefix = train). Assignment is random →
    the deterministic, oracle-checkable surface is the exact sizes."""
    docs = doc_ids(spark, sf)
    return (
        exact_split(docs, seed=42, train_ratio=0.8)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


_SPLIT_SQL = """
WITH n AS (SELECT COUNT(*) AS c FROM documents)
SELECT 'train' AS split, CAST(FLOOR(c * 0.8) AS BIGINT) AS n_rows FROM n
UNION ALL
SELECT 'test' AS split, c - CAST(FLOOR(c * 0.8) AS BIGINT) AS n_rows FROM n
"""


def _mult_hash_key(col: str = "doc_id"):
    """(col * 2654435761) mod 2^32 (Knuth multiplicative hash),
    computed via a 16-bit split so no intermediate exceeds int64 — the
    naive product overflows at id ≥ ~3.47e9, where Spark (non-ANSI)
    would wrap silently and DuckDB would raise: the reproducibility
    contract would break exactly when the data grows. 2041643008 =
    (2654435761·2^16) mod 2^32. Identical values to the naive form
    below the overflow. The SQL twin is _MULT_HASH_SQL."""
    a = F.pmod(F.col(col), F.lit(4294967296))
    lo = F.pmod(a, F.lit(65536))
    hi = F.pmod(F.floor(a / F.lit(65536)), F.lit(65536))
    return F.pmod(
        F.pmod(lo * F.lit(2654435761), F.lit(4294967296))
        + hi * F.lit(2041643008),
        F.lit(4294967296),
    )


# DuckDB twin of _mult_hash_key over a column `a` already normalized
# to ((x % 2^32) + 2^32) % 2^32 (pmod: DuckDB % follows the dividend
# sign, Spark pmod is always non-negative).
_MULT_HASH_SQL = (
    "(((a % 65536) * 2654435761 % 4294967296"
    " + (a // 65536 % 65536) * 2041643008) % 4294967296)"
)


def sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Exact k-per-stratum sampling (the corpus-mixing primitive: take
    exactly k docs per source). Selection key is a declared
    multiplicative-hash permutation of doc_id (Knuth 2654435761 mod
    2^32) rather than rand(): pseudo-random spread, but exactly
    reproducible in any engine — so the oracle checks the SELECTED
    ROWS, not just the counts.

    Scale shape: one shuffle on the stratum key for the window rank;
    k is small so the per-stratum sort is a bounded top-k
    (WindowGroupLimit pushes rank <= k below the sort at the map
    side). A skewed stratum degrades to one fat top-k task, not a
    cross-product."""
    k = 10
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    key = _mult_hash_key()
    w = Window.partitionBy("source").orderBy(key.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "source", key.alias("sample_key"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("source", "doc_id", "sample_key", "rk")
    )


_STRATIFIED_SQL = """
WITH keyed AS (
  SELECT source, doc_id, {hash} AS sample_key
  FROM (SELECT source, doc_id,
               -- pmod: DuckDB % follows the dividend sign, Spark pmod
               -- is always non-negative — normalize so negative ids
               -- hash identically in both engines
               ((doc_id % 4294967296) + 4294967296) % 4294967296 AS a
        FROM documents)),
ranked AS (
  SELECT source, doc_id, sample_key,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY sample_key ASC, doc_id ASC) AS rk
  FROM keyed)
SELECT source, doc_id, sample_key, rk FROM ranked WHERE rk <= 10
""".format(hash=_MULT_HASH_SQL)


_WEIGHTED_K = 100


def sample_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis,
    IPL 2006) — the importance-sampling primitive of corpus curation
    (sample long/high-quality docs proportionally more often): each
    doc draws a pseudo-uniform u from the declared multiplicative-hash
    permutation of doc_id (so the draw is engine-reproducible, the
    house sampling convention) and the k docs minimizing
    −ln(u)/w — equivalently maximizing u^(1/w), weight w = n_chars —
    are the exact ES-sample. u = (hash + 0.5)/2^32 sits strictly
    inside (0, 1), so ln is finite on both engines.

    Scale shape: a global top-k, which Spark executes as
    TakeOrderedAndProject — per-partition bounded heaps merged at the
    driver, k rows each — NOT a global sort; the one shape that takes
    a corpus-wide weighted draw to 100 TB without a shuffle at all.
    Selection orders by the ROUNDED cost with doc_id tiebreak — the
    same rounded value that is surfaced — so the selected set is
    engine-deterministic even at the k-th boundary."""
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    u = (_mult_hash_key() + F.lit(0.5)) / F.lit(4294967296.0)
    cost = -F.log(u) / F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    return (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            # round BEFORE ranking (house convention — see
            # emb_nearest_centroid): Math.log and libm log are each
            # only ulp-accurate, so ordering by the raw float could
            # flip the k/k+1 boundary between engines on an unlucky
            # draw; the rounded cost + doc_id tiebreak is
            # engine-deterministic (r8 review finding)
            F.round(cost + 1e-12, 8).alias("es_cost"),
        )
        .orderBy(F.col("es_cost").asc(), F.col("doc_id").asc())
        .limit(_WEIGHTED_K)
    )


_WEIGHTED_SQL = """
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         ROUND(-LN(({hash} + 0.5) / 4294967296.0)
               / CAST(GREATEST(n_chars, 1) AS DOUBLE) + 1e-12, 8)
           AS es_cost
  FROM (SELECT doc_id, source, n_chars,
               ((doc_id % 4294967296) + 4294967296) % 4294967296 AS a
        FROM documents))
SELECT doc_id, source, n_chars, es_cost
FROM keyed
ORDER BY es_cost ASC, doc_id ASC
LIMIT {k}
""".format(hash=_MULT_HASH_SQL, k=_WEIGHTED_K)


#: Contrastive-sampling geometry: 16 anchors, a 64-doc candidate
#: pool, 4 negatives per anchor.
_NEG_ANCHORS = 16
_NEG_POOL = 64
_NEG_K = 4


def sample_negative_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """CONTRASTIVE NEGATIVE MINING: for each anchor document, draw k
    pseudo-random negatives from a bounded candidate pool, excluding
    the anchor's own source (the in-batch-negatives recipe of
    embedding/contrastive training, made reproducible). Anchors are
    the first _NEG_ANCHORS docs of the house multiplicative-hash
    permutation, the pool is the next _NEG_POOL; each (anchor, cand)
    pair draws a key by re-hashing the XOR of the two elements' own
    hashes (everything stays under 2^32 — no overflow divergence
    between engines at any id scale; collisions just tie, broken by
    cand_id), and the k smallest draws win. XOR-then-hash, not
    hash-of-an-affine-combination: a multiplicative hash of
    f(anchor)+g(cand) is affine in the cand term, which would rank
    the pool in ONE fixed circular order merely rotated per anchor —
    nearby anchors would draw overlapping negative sets. The XOR
    flips different bit patterns per anchor, so per-anchor orders
    are genuinely independent.

    Scale shape: anchor and pool selection are TakeOrdered top-m (no
    global sort); the pair space is anchors x pool — both bounded
    constants — via a broadcast nested-loop over the 64-row pool,
    then one bounded per-anchor top-k window. Nothing touches the
    full corpus except the two top-m scans."""
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "source"
    )
    keyed = docs.select(
        "doc_id", "source", _mult_hash_key("doc_id").alias("hk")
    )
    top = keyed.orderBy(F.asc("hk"), F.asc("doc_id")).limit(
        _NEG_ANCHORS + _NEG_POOL
    )
    w = Window.orderBy(F.asc("hk"), F.asc("doc_id"))
    ranked = top.withColumn("rk", F.row_number().over(w))
    anchors = ranked.where(F.col("rk") <= _NEG_ANCHORS).select(
        F.col("doc_id").alias("anchor_id"),
        F.col("source").alias("anchor_src"),
        F.col("hk").alias("ah"),
    )
    pool = ranked.where(F.col("rk") > _NEG_ANCHORS).select(
        F.col("doc_id").alias("cand_id"),
        F.col("source").alias("cand_src"),
        F.col("hk").alias("ch"),
    )
    pairs = (
        anchors.crossJoin(F.broadcast(pool))
        .where(F.col("cand_src") != F.col("anchor_src"))
        .withColumn("_pk", F.col("ah").bitwiseXOR(F.col("ch")))
    )
    drawn = pairs.withColumn("draw_key", _mult_hash_key("_pk"))
    wk = Window.partitionBy("anchor_id").orderBy(
        F.asc("draw_key"), F.asc("cand_id")
    )
    return (
        drawn.withColumn("neg_rank", F.row_number().over(wk).cast("long"))
        .where(F.col("neg_rank") <= _NEG_K)
        .select(
            "anchor_id",
            "anchor_src",
            F.col("cand_id").alias("neg_id"),
            F.col("cand_src").alias("neg_src"),
            "neg_rank",
            "draw_key",
        )
    )


_NEGATIVES_SQL = """
WITH keyed AS (
  SELECT doc_id, source, {hash} AS hk
  FROM (SELECT doc_id, source,
               ((doc_id % 4294967296) + 4294967296) % 4294967296 AS a
        FROM documents) t),
ranked AS (
  SELECT doc_id, source, hk,
         ROW_NUMBER() OVER (ORDER BY hk, doc_id) AS rk
  FROM keyed ORDER BY hk, doc_id LIMIT {top}),
anchors AS (
  SELECT doc_id AS anchor_id, source AS anchor_src, hk AS ah
  FROM ranked WHERE rk <= {na}),
pool AS (
  SELECT doc_id AS cand_id, source AS cand_src, hk AS ch
  FROM ranked WHERE rk > {na}),
pairs AS (
  SELECT anchor_id, anchor_src, cand_id, cand_src,
         xor(ah, ch) AS a
  FROM anchors CROSS JOIN pool
  WHERE cand_src != anchor_src),
drawn AS (
  SELECT anchor_id, anchor_src, cand_id, cand_src,
         {hash} AS draw_key
  FROM pairs)
SELECT anchor_id, anchor_src, cand_id AS neg_id, cand_src AS neg_src,
       neg_rank, draw_key
FROM (
  SELECT anchor_id, anchor_src, cand_id, cand_src, draw_key,
         ROW_NUMBER() OVER (PARTITION BY anchor_id
                            ORDER BY draw_key, cand_id) AS neg_rank
  FROM drawn) t
WHERE neg_rank <= {k}
""".format(
    hash=_MULT_HASH_SQL,
    top=_NEG_ANCHORS + _NEG_POOL,
    na=_NEG_ANCHORS,
    k=_NEG_K,
)


def aug_train_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """split → 4× augment the train slice ONLY → union test back
    (main.py:74-98; augmentation after split — the code wins over the
    README, SURVEY §2.9). Real explode + union; the deterministic
    surface is the count algebra: 4·floor(0.8n) + (n − floor(0.8n))."""
    docs = doc_ids(spark, sf)
    labeled = exact_split(docs, seed=42, train_ratio=0.8)
    train = labeled.where(F.col("split") == "train")
    test = labeled.where(F.col("split") == "test")
    augmented = train.select(
        "doc_id",
        F.explode(F.array(*[F.lit(v) for v in VARIANTS])).alias("variant"),
    )
    unioned = augmented.unionByName(
        test.select("doc_id", F.lit("orig").alias("variant"))
    )
    return unioned.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.when(F.col("variant") != "orig", 1)).alias("n_augmented"),
    )


_TRAIN_PIPELINE_SQL = """
WITH n AS (SELECT COUNT(*) AS c, CAST(FLOOR(COUNT(*) * 0.8) AS BIGINT) AS k
           FROM documents)
SELECT 4 * k + (c - k) AS n_total, c AS n_docs, 3 * k AS n_augmented FROM n
"""


_MIX_WEIGHTS = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25, "src4": 0.1}
_MIX_DEFAULT = 0.5
_MIX_SCALE = 4294967296  # 2^32, the hash-key range


def _mix_threshold():
    """Integer keep-threshold (weight·2^32) for the row's `source` —
    the Column twin of _MIX_CASE_SQL."""
    m = F.create_map(
        *[
            x
            for s, w in _MIX_WEIGHTS.items()
            for x in (F.lit(s), F.lit(int(w * _MIX_SCALE)))
        ]
    )
    return F.coalesce(
        m[F.col("source")], F.lit(int(_MIX_DEFAULT * _MIX_SCALE))
    )


def sample_source_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted per-source corpus mixing (the GPT-3/Pile recipe:
    sample each source at a declared rate so the training mixture
    matches target proportions). Keep a doc iff its deterministic
    hash fraction falls below the source's weight — reproducible in
    any engine and any partitioning, unlike rand()-thinning, so the
    oracle checks the SELECTED ROWS. Thresholds are integer literals
    (weight·2^32) so the comparison never touches floats.

    Scale shape: narrow map + filter, zero shuffles; the weight table
    rides along as a literal map expression (a real deployment would
    broadcast-join a weights dimension — same plan class)."""
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    key = _mult_hash_key()
    return (
        docs.select("source", "doc_id", key.alias("sample_key"))
        .where(F.col("sample_key") < _mix_threshold())
    )


# the weight-threshold lookup as a SQL expression — shared with the
# composed pipeline oracle (dedup._PIPELINE_V3_SQL) so Spark and every
# oracle select by the identical integer thresholds
_MIX_CASE_SQL = "CASE source {cases} ELSE {default} END".format(
    cases=" ".join(
        f"WHEN '{s}' THEN {int(w * _MIX_SCALE)}"
        for s, w in _MIX_WEIGHTS.items()
    ),
    default=int(_MIX_DEFAULT * _MIX_SCALE),
)

_SOURCE_MIX_SQL = """
WITH keyed AS (
  SELECT source, doc_id, {hash} AS sample_key
  FROM (SELECT source, doc_id,
               ((doc_id % 4294967296) + 4294967296) % 4294967296 AS a
        FROM documents))
SELECT source, doc_id, sample_key
FROM keyed
WHERE sample_key < {mix_case}
""".format(hash=_MULT_HASH_SQL, mix_case=_MIX_CASE_SQL)


_TEMP_ALPHA = 0.3  # XLM-R / mC4 temperature exponent


def sample_temperature(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled source mixing weights (the multilingual-LM
    recipe: XLM-R, mC4 — sample source i with probability ∝ p_i^α,
    α = 0.3): unlike sample_source_mix, which APPLIES declared
    per-source rates, this op COMPUTES the mixture from corpus
    statistics, so a new corpus needs no hand-tuned table. Per
    source: doc count, token mass, natural share p_mix = tokens_i/Σ,
    tempered share q_temp = p^α / Σ p^α, the resulting boost factor
    q/p (> 1 = the source is up-sampled), and the up/down direction
    flag (compared on the ROUNDED boost so the boundary cannot flip
    on pow/Σ last-ulp differences).

    Margin audit (r10 process rule): token sums are int64 (corpus
    tokens ≪ 2^63); p ∈ (0, 1] so pow(p, 0.3) is finite and positive,
    the Σ p^α denominator > 0 whenever the corpus is non-empty;
    cross-engine drift is pow/ln last-ulp plus a 5-term Σ order —
    ~1e-15 against 6dp/4dp readouts.

    Scale shape: ONE map-side-combinable per-source aggregate over the
    token counts (a narrow size() map — document bodies never
    shuffle), then two |sources|-row broadcast reductions. Output is
    |sources| rows; everything after the first aggregate is
    driver-scale arithmetic expressed as broadcast joins."""
    from ..sources.tables import table
    from .text import TOKENS

    docs = table(spark, sf, "documents")
    per_src = persist_tracked(
        docs.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.size(TOKENS())).cast("bigint").alias("n_tokens"),
        )
    )
    tot = per_src.agg(F.sum("n_tokens").alias("tot_tokens"))
    p = F.col("n_tokens").cast("double") / F.col("tot_tokens").cast("double")
    shares = persist_tracked(
        per_src.crossJoin(F.broadcast(tot)).select(
            "source",
            "n_docs",
            "n_tokens",
            p.alias("p"),
            F.pow(p, _TEMP_ALPHA).alias("w"),
        )
    )
    z = shares.agg(F.sum("w").alias("z"))
    q = F.col("w") / F.col("z")
    boost = F.round(q / F.col("p") + 1e-9, 4)
    return shares.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("p") + 1e-9, 6).alias("p_mix"),
        F.round(q + 1e-9, 6).alias("q_temp"),
        boost.alias("boost"),
        F.when(boost > 1.0, "up").otherwise("down").alias("direction"),
    )


_TEMPERATURE_SQL = """
WITH s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({toks})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
t AS (SELECT SUM(n_tokens) AS tot FROM s),
p AS (
  SELECT s.source, s.n_docs, s.n_tokens,
         CAST(s.n_tokens AS DOUBLE) / t.tot AS p,
         pow(CAST(s.n_tokens AS DOUBLE) / t.tot, {alpha}) AS w
  FROM s CROSS JOIN t
),
z AS (SELECT SUM(w) AS z FROM p)
SELECT source, n_docs, n_tokens,
       ROUND(p + 1e-9, 6) AS p_mix,
       ROUND(w / z.z + 1e-9, 6) AS q_temp,
       ROUND(w / z.z / p + 1e-9, 4) AS boost,
       CASE WHEN ROUND(w / z.z / p + 1e-9, 4) > 1.0
            THEN 'up' ELSE 'down' END AS direction
FROM p CROSS JOIN z
""".format(alpha=_TEMP_ALPHA, toks=_TOKS_SQL)


# token budget as a multiple of the corpus's total token mass. 4× —
# the budget at the repeat ceiling — is deliberate for THIS corpus:
# its sources are near-uniform (tempered boost spans only
# 0.89–1.13 across the 3 sfs), so any budget well above 4× flags
# every source and any budget below flags none; at 4× the mixture's
# up/down-sampling is exactly what decides who over-repeats, and both
# verdicts occur at every sf (measured over_repeat counts 11/10/9 of
# 20 at sf0.001/0.01/0.1)
_EPOCH_BUDGET_MULT = 4
_EPOCH_REPEAT_MAX = 4.0


def tokens_epoch_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-epoch token-budget accounting — the data-constrained
    scaling question every training run asks (Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models": repeating data beyond
    ~4 epochs has sharply diminishing returns): given a token budget
    B = 4 × the corpus's total token mass and sample_temperature's
    tempered mixture q, each source is DRAWN B·q_s tokens but only
    OWNS n_tokens_s unique ones — epochs_s = B·q_s / n_tokens_s.
    Because B = 4·Σn and q = (p^α)/Σp^α, epochs_s = 4·q_s/p_s =
    4 × the mixture's boost factor: up-sampled small sources are
    exactly the ones that repeat. Per source: token mass, tempered
    share, epochs, the over-repeat flag (epochs > 4 compared on the
    ROUNDED value, house boundary discipline), and the budget-feasible
    unique-token share — this source's drawn tokens after capping at 4
    epochs, as a fraction of B (the max-unique-mixture surface: how a
    curator would re-allocate the excess).

    Compose-don't-copy: the Spark side rebuilds sample_temperature's
    exact arithmetic (same per-source aggregate, same pow/Σ order);
    the oracle embeds _TEMPERATURE_SQL's CTE chain. Pure deterministic
    arithmetic over |sources| rows — zero new scan shape.

    Margin audit (r14): epochs = 4·(w/z)/p with p ∈ (0,1], w,z > 0 —
    finite positive; the over_repeat comparison runs on the
    4dp-ROUNDED epochs, identical in both engines (cross-engine
    drift ~1e-15 vs a 1e-4 rounding step), so the boolean cannot
    flip cross-engine — its VALUE legitimately tracks each testdata
    regeneration (min |rounded epochs − 4| = 0.0194/0.0089/0.0007
    at sf0.001/0.01/0.1). capped_share's LEAST runs on unrounded
    doubles computed in the same order both sides; a last-ulp arm
    swap only matters within 1e-6 of the cap boundary and the
    readout rounds at 6dp (+1e-9). Measured over_repeat split:
    11/10/9 of 20 sources over at sf0.001/0.01/0.1 — both verdicts
    at every sf."""
    from .text import TOKENS as DOC_TOKENS

    from ..sources.tables import table

    docs = table(spark, sf, "documents")
    per_src = persist_tracked(
        docs.groupBy("source").agg(
            F.sum(F.size(DOC_TOKENS())).cast("bigint").alias("n_tokens"),
        )
    )
    tot = per_src.agg(F.sum("n_tokens").alias("tot_tokens"))
    p = F.col("n_tokens").cast("double") / F.col("tot_tokens").cast("double")
    shares = persist_tracked(
        per_src.crossJoin(F.broadcast(tot)).select(
            "source",
            "n_tokens",
            "tot_tokens",
            p.alias("p"),
            F.pow(p, _TEMP_ALPHA).alias("w"),
        )
    )
    z = shares.agg(F.sum("w").alias("z"))
    q = F.col("w") / F.col("z")
    epochs = F.lit(float(_EPOCH_BUDGET_MULT)) * q / F.col("p")
    budget = (
        F.lit(float(_EPOCH_BUDGET_MULT))
        * F.col("tot_tokens").cast("double")
    )
    drawn = budget * q
    capped = F.least(drawn, F.lit(_EPOCH_REPEAT_MAX) * F.col("n_tokens"))
    repochs = F.round(epochs + 1e-9, 4)
    return shares.crossJoin(F.broadcast(z)).select(
        "source",
        "n_tokens",
        F.round(q + 1e-9, 6).alias("q_temp"),
        repochs.alias("epochs"),
        (repochs > _EPOCH_REPEAT_MAX).alias("over_repeat"),
        F.round(capped / budget + 1e-9, 6).alias("capped_share"),
    )


_EPOCH_BUDGET_SQL = """
WITH s AS (
  SELECT source,
         CAST(SUM(len({toks})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
t AS (SELECT SUM(n_tokens) AS tot FROM s),
p AS (
  SELECT s.source, s.n_tokens, t.tot,
         CAST(s.n_tokens AS DOUBLE) / t.tot AS p,
         pow(CAST(s.n_tokens AS DOUBLE) / t.tot, {alpha}) AS w
  FROM s CROSS JOIN t
),
z AS (SELECT SUM(w) AS z FROM p)
SELECT source, n_tokens,
       ROUND(w / z.z + 1e-9, 6) AS q_temp,
       ROUND({mult} * (w / z.z) / p + 1e-9, 4) AS epochs,
       ROUND({mult} * (w / z.z) / p + 1e-9, 4) > {rmax} AS over_repeat,
       ROUND(LEAST({mult} * CAST(tot AS DOUBLE) * (w / z.z),
                   {rmax} * n_tokens)
             / ({mult} * CAST(tot AS DOUBLE)) + 1e-9, 6) AS capped_share
FROM p CROSS JOIN z
""".format(
    toks=_TOKS_SQL,
    alpha=_TEMP_ALPHA,
    mult=float(_EPOCH_BUDGET_MULT),
    rmax=_EPOCH_REPEAT_MAX,
)


# water-fill budget: 3.9× the corpus token mass — structurally BELOW
# the 4-epoch total capacity (4.0×), so the all-capped branch is
# impossible and the level always sits at a real boundary; on this
# near-uniform corpus 3.9× is also the regime where the cap decision
# splits the sources (11/9/2 of 20 capped at sf0.001/0.01/0.1) —
# at 3.8× nobody caps at sf0.1, at 4.0× the fill is degenerate
# (budget = capacity ⇒ every source exactly capped)
_WF_BUDGET_MULT = 3.9


def tokens_budget_waterfill(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT water-filling token allocation — the closed form of the
    question tokens_epoch_budget only flags: given budget
    B = 3.9 × corpus token mass, tempered demand weights w_s
    (sample_temperature's p^0.3), and per-source unique-token
    capacity c_s = 4·n_s (the Muennighoff repeat ceiling), the
    max-unique-token mixture is alloc_s = min(c_s, λ·w_s) with the
    water level λ solving Σ alloc = B. No iteration: sort sources by
    the level at which each caps (ratio_s = c_s/w_s), prefix-sum
    capacity and weight, and the unique k with
    ratio_k ≤ λ_k = (B − Σ_{i≤k} c_i)/(z − Σ_{i≤k} w_i) < ratio_{k+1}
    is the answer — the classic sorted-breakpoint water-filling
    solve, one |sources|-row window instead of a convergence loop.
    Per source: token mass, capacity, allocation, allocation share of
    B, realized epochs (≤ 4 by construction), and the cap verdict.

    Margin audit (r14): the chosen λ is provably unique when
    B < Σc (structural here: 3.9 < 4.0 exactly, so the all-capped
    k = n branch — whose λ divides by a ±ulp-of-zero weight
    remainder — is excluded by construction, not by a float guard);
    measured validity margins λ−ratio_k / ratio_{k+1}−λ at the 3
    sfs: 96.3/75.5, 143.1/8.9, 1890.3/19.0 — ≥ 8.9 absolute against
    ~1e-9 relative float noise, and both engines compute the prefix
    sums in the same (ratio, source) order so even the partials are
    byte-identical. is_capped compares 2dp-ROUNDED alloc vs
    capacity (identical both engines); cap split 11/9/2 of 20 —
    both verdicts at every sf.

    Scale shape: one map-side-combinable token aggregate, one
    |sources|-row window (dimension-scale — the house's declared
    exception to the no-unpartitioned-window rule), two broadcast
    one-row reductions. Zero corpus-sized shuffles beyond the token
    count every mixture op already pays."""
    from .text import TOKENS as DOC_TOKENS

    from ..sources.tables import table

    docs = table(spark, sf, "documents")
    per_src = persist_tracked(
        docs.groupBy("source").agg(
            F.sum(F.size(DOC_TOKENS())).cast("bigint").alias("n_tokens"),
        )
    )
    tot = per_src.agg(F.sum("n_tokens").alias("tot"))
    p = F.col("n_tokens").cast("double") / F.col("tot").cast("double")
    base = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        "tot",
        F.pow(p, _TEMP_ALPHA).alias("w"),
        (F.lit(4.0) * F.col("n_tokens").cast("double")).alias("c"),
    )
    z = base.agg(F.sum("w").alias("z"))
    budget = F.lit(_WF_BUDGET_MULT) * F.col("tot").cast("double")
    scored = persist_tracked(
        base.crossJoin(F.broadcast(z)).withColumn(
            "ratio", F.col("c") / F.col("w")
        )
    )
    win = Window.orderBy("ratio", "source").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lead_ratio = F.lead("ratio").over(Window.orderBy("ratio", "source"))
    o = scored.select(
        "*",
        F.sum("c").over(win).alias("cpre"),
        F.sum("w").over(win).alias("wpre"),
        F.row_number().over(Window.orderBy("ratio", "source")).alias("k"),
        lead_ratio.alias("rnext"),
    ).withColumn(
        "lam_k",
        # the k = n row divides by z − wpre_n, which is the SAME sum
        # in two evaluation orders — it came out ±1 ulp at sf0.001
        # and EXACTLY 0.0 at sf0.01, where ANSI mode raises
        # (DuckDB's double division would give inf) — so the last
        # row's candidate is nulled BEFORE the division, which also
        # excludes the structurally-impossible all-capped branch
        F.when(
            F.col("rnext").isNotNull(),
            (budget - F.col("cpre")) / (F.col("z") - F.col("wpre")),
        ),
    )
    cand = o.where(
        (F.col("ratio") <= F.col("lam_k")) & (F.col("lam_k") < F.col("rnext"))
    )
    # k = 0 fallback (nobody caps): λ = B/z, valid iff below the first
    # breakpoint — covered by COALESCE because cand is then empty
    lam0 = scored.agg(
        (F.lit(_WF_BUDGET_MULT) * F.max("tot").cast("double") / F.max("z")).alias(
            "lam0"
        )
    )
    lam = (
        cand.agg(F.min_by("lam_k", "k").alias("lam_v"))
        .crossJoin(F.broadcast(lam0))
        .select(F.coalesce("lam_v", "lam0").alias("lam"))
    )
    alloc = F.least(F.col("c"), F.col("lam") * F.col("w"))
    ralloc = F.round(alloc + 1e-9, 2)
    return scored.crossJoin(F.broadcast(lam)).select(
        "source",
        "n_tokens",
        F.round(F.col("c") + 1e-9, 2).alias("capacity_tokens"),
        ralloc.alias("alloc_tokens"),
        F.round(alloc / budget + 1e-9, 6).alias("alloc_share"),
        F.round(alloc / F.col("n_tokens").cast("double") + 1e-9, 4).alias(
            "epochs_alloc"
        ),
        (ralloc >= F.round(F.col("c") + 1e-9, 2)).alias("is_capped"),
    )


_WATERFILL_SQL = """
WITH s AS (
  SELECT source,
         CAST(SUM(len({toks})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
t AS (SELECT SUM(n_tokens) AS tot FROM s),
b AS (
  SELECT s.source, s.n_tokens, t.tot,
         pow(CAST(s.n_tokens AS DOUBLE) / CAST(t.tot AS DOUBLE),
             {alpha}) AS w,
         4.0 * CAST(s.n_tokens AS DOUBLE) AS c
  FROM s CROSS JOIN t
),
z AS (SELECT SUM(w) AS z FROM b),
sc AS (SELECT b.*, z.z, c / w AS ratio FROM b CROSS JOIN z),
o AS (
  SELECT *,
         SUM(c) OVER (ORDER BY ratio, source
                      ROWS UNBOUNDED PRECEDING) AS cpre,
         SUM(w) OVER (ORDER BY ratio, source
                      ROWS UNBOUNDED PRECEDING) AS wpre,
         ROW_NUMBER() OVER (ORDER BY ratio, source) AS k,
         LEAD(ratio) OVER (ORDER BY ratio, source) AS rnext
  FROM sc
),
o2 AS (
  SELECT *,
         CASE WHEN rnext IS NOT NULL
              THEN ({mult} * CAST(tot AS DOUBLE) - cpre) / (z - wpre)
         END AS lam_k
  FROM o
),
l AS (
  SELECT lam_k, k FROM o2
  WHERE ratio <= lam_k AND lam_k < rnext
),
lam AS (
  SELECT COALESCE(
           (SELECT arg_min(lam_k, k) FROM l),
           (SELECT {mult} * CAST(MAX(tot) AS DOUBLE) / MAX(z) FROM sc)
         ) AS lam
)
SELECT sc.source, sc.n_tokens,
       ROUND(sc.c + 1e-9, 2) AS capacity_tokens,
       ROUND(LEAST(sc.c, lam.lam * sc.w) + 1e-9, 2) AS alloc_tokens,
       ROUND(LEAST(sc.c, lam.lam * sc.w)
             / ({mult} * CAST(sc.tot AS DOUBLE)) + 1e-9, 6) AS alloc_share,
       ROUND(LEAST(sc.c, lam.lam * sc.w)
             / CAST(sc.n_tokens AS DOUBLE) + 1e-9, 4) AS epochs_alloc,
       ROUND(LEAST(sc.c, lam.lam * sc.w) + 1e-9, 2)
         >= ROUND(sc.c + 1e-9, 2) AS is_capped
FROM sc CROSS JOIN lam
""".format(toks=_TOKS_SQL, alpha=_TEMP_ALPHA, mult=_WF_BUDGET_MULT)


_SHUFFLE_SEED = "r13"


def sample_shuffle_deterministic(spark: SparkSession, sf: str) -> DataFrame:
    """Seeded REPRODUCIBLE global shuffle — the training-data ordering
    primitive every run script needs: the same (corpus, seed) must
    yield the same example order on any cluster, any partition count,
    any Spark version (an rand()-based shuffle is none of those).
    Position = global rank of md5(seed ‖ ':' ‖ doc_id) with doc_id
    tiebreak (md5 collisions are 2⁻¹²⁸ but the tiebreak makes
    determinism unconditional). Changing the seed re-deals the order;
    the seed is data, not session state.

    Scale shape: one narrow hash map + util.global_prefix's
    range-partitioned distributed rank — never a single-partition
    window; the order key is a uniform 128-bit hex string, so the
    range partitioner gets perfectly spreadable boundaries (no skew
    by construction).

    Margin audit (r13): position is a permutation of 1..n by
    construction in both engines (row_number over a total order);
    md5 of the identical 'seed:id' string matches byte-for-byte
    between Spark and DuckDB (established md5-on-string parity);
    no floats anywhere."""
    from ..sources.tables import table as _table

    docs = _table(spark, sf, "documents").select("doc_id", "source")
    keyed = docs.select(
        "doc_id",
        "source",
        F.md5(
            F.concat_ws(
                ":", F.lit(_SHUFFLE_SEED), F.col("doc_id").cast("string")
            )
        ).alias("shuffle_key"),
    )
    ranked = global_prefix(keyed, ["shuffle_key", "doc_id"])
    return ranked.select(
        "doc_id",
        "source",
        "shuffle_key",
        F.col("_prefix").cast("bigint").alias("position"),
    )


_SHUFFLE_DET_SQL = """
SELECT doc_id, source,
       md5('{seed}:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
       CAST(ROW_NUMBER() OVER (
         ORDER BY md5('{seed}:' || CAST(doc_id AS VARCHAR)), doc_id)
         AS BIGINT) AS position
FROM documents
""".format(seed=_SHUFFLE_SEED)


QUERIES: dict[str, QuerySpec] = {
    "aug_rot90": QuerySpec("aug_rot90", aug_rot90, _ROT90_SQL),
    "aug_explode_4x": QuerySpec("aug_explode_4x", aug_explode_4x, _EXPLODE4X_SQL),
    "aug_jitter_date": QuerySpec("aug_jitter_date", aug_jitter_date, None),
    "aug_geo_shift": QuerySpec("aug_geo_shift", aug_geo_shift, None),
    "split_train_test": QuerySpec("split_train_test", split_train_test, _SPLIT_SQL),
    "sample_stratified": QuerySpec(
        "sample_stratified", sample_stratified, _STRATIFIED_SQL
    ),
    "aug_train_pipeline": QuerySpec(
        "aug_train_pipeline", aug_train_pipeline, _TRAIN_PIPELINE_SQL
    ),
    "sample_source_mix": QuerySpec(
        "sample_source_mix", sample_source_mix, _SOURCE_MIX_SQL
    ),
    # round-8 addition
    "sample_weighted": QuerySpec(
        "sample_weighted", sample_weighted, _WEIGHTED_SQL
    ),
    # r13 addition: seeded reproducible global shuffle
    "sample_shuffle_deterministic": QuerySpec(
        "sample_shuffle_deterministic",
        sample_shuffle_deterministic,
        _SHUFFLE_DET_SQL,
    ),
    # round-9 addition
    "sample_negative_pairs": QuerySpec(
        "sample_negative_pairs",
        sample_negative_pairs,
        _NEGATIVES_SQL,
    ),
    # round-12 second-wave addition
    "sample_temperature": QuerySpec(
        "sample_temperature", sample_temperature, _TEMPERATURE_SQL
    ),
    # r14: data-constrained-scaling epoch accounting (VERDICT r13
    # item 5)
    "tokens_epoch_budget": QuerySpec(
        "tokens_epoch_budget", tokens_epoch_budget, _EPOCH_BUDGET_SQL
    ),
    "tokens_budget_waterfill": QuerySpec(
        "tokens_budget_waterfill", tokens_budget_waterfill, _WATERFILL_SQL
    ),
}
