"""The reference's domain pipeline as engine queries (SURVEY §2.1-§2.6,
§3): raw-source reads, scene-asset joins, the ground-truth lookup,
radiometric conversion, and 365-feature assembly — each oracle-checked
against DuckDB reading the same fixture files.

Pipeline shape (main.py:24-134 re-expressed, SURVEY §3.1), each step
with the queries that check it and, after the semicolon, the one
helper that computes it:

    patches ⋈ metadata ⋈ station-lists        (join_scene_assets)
      → filter valid scenes                    (filt_band_cardinality,
                                                filt_metadata_keys;
                                                _valid_patches,
                                                _scene_band_counts)
      → sensor flag                            (proj_sensor_flag;
                                                radiometry._is_landsat_5)
      → DN → radiance → BT                     (map_dn_to_radiance,
                                                map_bt_l5/map_bt_l89;
                                                radiometry._radiance,
                                                to_brightness_temperature)
      ⋈ ground truths (first-match, sentinel)  (join_gt_lookup;
                                                _scene_dates,
                                                _gt_first_match)
      ⋈ stations dim (broadcast, inner)        (join_station_dim)
      → 365-feature vectors                    (map_concat_features;
                                                features.assemble_features,
                                                features._image343)

Pixel-long outputs go through `_pixels_long`, and only
`landsat._scene_date_parts` reads the scene-id date token.

The reference's O(scenes × stations × |GT|) nested-loop probe
(data_loader.py:62-70) becomes one hash join; the per-row pandas
station scan (feature_extractor.py:98-103) becomes a broadcast join.
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.features import assemble_features
from ..functions.radiometry import (
    _is_landsat_5,
    _radiance,
    _rescaling,
    brightness_temperatures,
    filter_valid_scenes,
    k_constant,
    thermal_band_index,
    to_brightness_temperature,
    with_sensor_flag,
)
from ..registry import QuerySpec
from ..sources import landsat
from ..sources.landsat import FIXTURE_DIR, _scene_date_parts
from ..util import recipe, split_guard

# ---------------------------------------------------------------------------
# Shared SQL fragments (DuckDB reads the same fixture files directly)
# ---------------------------------------------------------------------------

_GT1 = """
gt1 AS (
  SELECT yr, mo, dy, station_id, air_temp FROM (
    SELECT year(utc_date) AS yr, month(utc_date) AS mo, day(utc_date) AS dy,
           station_id, air_temp,
           ROW_NUMBER() OVER (PARTITION BY year(utc_date), month(utc_date),
                              day(utc_date), station_id ORDER BY gt_id) AS rn
    FROM read_csv('{fix}/ground_truths.csv')) t
  WHERE rn = 1)
""".format(fix=FIXTURE_DIR)

_STXT = r"""
stxt AS (
  SELECT scene_id, CAST(i - 1 AS INT) AS station_pos, CAST(toks[i] AS INT) AS station_id
  FROM (
    SELECT regexp_extract(filename, '([^/]+)_stations\.txt$', 1) AS scene_id,
           string_split_regex(regexp_replace(content, '[\[\]]', '', 'g'), ',\s*') AS toks
    FROM read_text('{fix}/scene_stations/*.txt')) f,
    unnest(generate_series(1, len(toks))) AS u(i))
""".format(fix=FIXTURE_DIR)

_META = r"""
meta AS (
  SELECT regexp_extract(filename, '([^/]+)_MTL_metadata\.json$', 1) AS scene_id, content
  FROM read_text('{fix}/metadatas/*.json')),
meta_k AS (
  SELECT scene_id,
    COALESCE(json_extract_string(content, '$.LANDSAT_METADATA_FILE.LEVEL1_THERMAL_CONSTANTS.K1_CONSTANT_BAND_10'),
             json_extract_string(content, '$.LANDSAT_METADATA_FILE.LEVEL1_THERMAL_CONSTANTS.K1_CONSTANT_BAND_6'))::DOUBLE AS k1,
    COALESCE(json_extract_string(content, '$.LANDSAT_METADATA_FILE.LEVEL1_THERMAL_CONSTANTS.K2_CONSTANT_BAND_10'),
             json_extract_string(content, '$.LANDSAT_METADATA_FILE.LEVEL1_THERMAL_CONSTANTS.K2_CONSTANT_BAND_6'))::DOUBLE AS k2
  FROM meta),
coef AS (
  SELECT scene_id,
         CAST(regexp_extract(k, '(\d+)$', 1) AS INT) AS band,
         MAX(CASE WHEN k LIKE 'RADIANCE_MULT%' THEN
           CAST(json_extract_string(content, '$.LANDSAT_METADATA_FILE.LEVEL1_RADIOMETRIC_RESCALING.' || k) AS DOUBLE) END) AS ml,
         MAX(CASE WHEN k LIKE 'RADIANCE_ADD%' THEN
           CAST(json_extract_string(content, '$.LANDSAT_METADATA_FILE.LEVEL1_RADIOMETRIC_RESCALING.' || k) AS DOUBLE) END) AS al
  FROM (SELECT scene_id, content,
               unnest(json_keys(content, '$.LANDSAT_METADATA_FILE.LEVEL1_RADIOMETRIC_RESCALING')) AS k
        FROM meta) kk
  GROUP BY scene_id, band)
""".format(fix=FIXTURE_DIR)

# radiance + BT in pixel-long form; valid patches only (bands ∈ {7,11},
# K constants present — the reference's drop semantics). n_bands is
# PER-PATCH (scene_id, station_id), mirroring the Spark side's
# size("bands") / filter_valid_scenes row predicate: every patch is a
# slice of one scene tensor, so the counts agree scene-wide in real
# data, but a synthetic ragged patch must be judged by its own count
# on both sides.
_RADPX = """
px AS (SELECT * FROM '{fix}/scene_pixels.parquet'),
nb AS (SELECT scene_id, station_id, MAX(band) AS n_bands
       FROM px GROUP BY scene_id, station_id),
radpx AS (
  SELECT p.scene_id, p.station_id, p.band, p.y, p.x, nb.n_bands,
         p.dn * c.ml + c.al AS rad, mk.k1, mk.k2
  FROM px p
  JOIN coef c ON p.scene_id = c.scene_id AND p.band = c.band
  JOIN nb ON p.scene_id = nb.scene_id AND p.station_id = nb.station_id
  JOIN meta_k mk ON p.scene_id = mk.scene_id
  WHERE nb.n_bands IN (7, 11) AND mk.k1 IS NOT NULL AND mk.k2 IS NOT NULL),
btpx AS (
  SELECT scene_id, station_id, band, y, x, n_bands,
         CASE WHEN n_bands = 11 AND band = 10 THEN k2 / (k1 / (rad + 1))
              WHEN n_bands = 7  AND band = 6  THEN k2 / ln(k1 / rad + 1)
              ELSE rad END AS value
  FROM radpx)
""".format(fix=FIXTURE_DIR)

_SCENE_DATES = """
scene_dates AS (
  SELECT DISTINCT scene_id,
         CAST(substring(split_part(scene_id, '_', 4), 1, 4) AS INT) AS yr,
         CAST(substring(split_part(scene_id, '_', 4), 5, 2) AS INT) AS mo,
         CAST(substring(split_part(scene_id, '_', 4), 7, 2) AS INT) AS dy
  FROM '{fix}/scene_patches.parquet')
""".format(fix=FIXTURE_DIR)


# ---------------------------------------------------------------------------
# Spark-side helpers
# ---------------------------------------------------------------------------


def _scene_dates(df: DataFrame) -> DataFrame:
    """proj_scene_date_parse (data_loader.py:56-59): YYYYMMDD token[3]."""
    yr, mo, dy = _scene_date_ints()
    return df.withColumns({"yr": yr, "mo": mo, "dy": dy})


@recipe
def _scene_date_ints() -> tuple[Column, ...]:
    return tuple(p.cast("int") for p in _scene_date_parts())


def _gt_first_match(spark: SparkSession) -> DataFrame:
    """GT deduped to first CSV-order row per (date, station) — the
    reference's iloc[0] (data_loader.py:70) made deterministic."""
    rn, first, cols = _gt_first_match_cols()
    gt = landsat.ground_truths(spark)
    return gt.withColumn("rn", rn).where(first).select(*cols)


@recipe
def _gt_first_match_cols() -> tuple:
    """(row number, its first-row predicate, output columns)."""
    w = Window.partitionBy("year", "month", "day", "station_id").orderBy("gt_id")
    return (
        F.row_number().over(w),
        F.col("rn") == 1,
        (
            F.col("year").alias("yr"),
            F.col("month").alias("mo"),
            F.col("day").alias("dy"),
            F.col("station_id"),
            F.col("air_temp"),
        ),
    )


def _valid_patches(patches: DataFrame) -> DataFrame:
    """patches ⋈ metadata (broadcast), the reference's drop semantics
    applied, with the ``is_landsat_5`` sensor flag."""
    meta = landsat.scene_metadata(patches.sparkSession)
    return with_sensor_flag(
        filter_valid_scenes(patches.join(F.broadcast(meta), "scene_id"))
    )


def _valid_scene_base(spark: SparkSession) -> DataFrame:
    """Every valid patch, spread over the cores. The metadata join is
    broadcast, so BT conversion and feature assembly fuse into the
    patch scan's tasks; a one-file patch table would run them on one
    core (measured 12-17s serial vs ~1s spread), hence
    util.split_guard on the scan."""
    return _valid_patches(split_guard(landsat.scene_patches(spark)))


def _scene_band_counts(spark: SparkSession) -> DataFrame:
    """(scene_id, n_bands): the band count of each scene's widest patch."""
    return (
        landsat.scene_patches(spark)
        .groupBy("scene_id")
        .agg(F.max(F.size("bands")).alias("n_bands"))
    )


def _pixels_long(df: DataFrame, keys: list[str], bands, value: str) -> DataFrame:
    """Nested (bands × rows × cols) ``bands`` (a column name or Column)
    → one row per pixel: ``keys``, band (1-based), y, x, and the pixel
    as ``value``."""
    return (
        df.select(*keys, F.posexplode(bands).alias("band0", "grid"))
        .select(
            *keys,
            (F.col("band0") + 1).alias("band"),
            F.posexplode("grid").alias("y", "row"),
        )
        .select(*keys, "band", "y", F.posexplode("row").alias("x", value))
    )


# ---------------------------------------------------------------------------
# Queries
# ---------------------------------------------------------------------------


def src_csv_ground_truths(spark: SparkSession, sf: str) -> DataFrame:
    return landsat.ground_truths(spark)


_SRC_GT_SQL = """
SELECT utc_date, CAST(station_id AS INT) AS station_id, air_temp, gt_id,
       CAST(year(utc_date) AS INT) AS year,
       CAST(month(utc_date) AS INT) AS month,
       CAST(day(utc_date) AS INT) AS day
FROM read_csv('{fix}/ground_truths.csv')
""".format(fix=FIXTURE_DIR)


def src_station_txt(spark: SparkSession, sf: str) -> DataFrame:
    return landsat.station_lists(spark)


_SRC_STXT_SQL = (
    "WITH " + _STXT.strip() + "\nSELECT scene_id, station_pos, station_id FROM stxt"
)


def src_json_metadata(spark: SparkSession, sf: str) -> DataFrame:
    meta = landsat.scene_metadata(spark)
    return meta.select(
        "scene_id",
        F.size("rescaling").alias("n_rescaling_keys"),
        (F.col("thermal").isNotNull()).cast("int").alias("has_thermal"),
        k_constant("thermal", "K1").alias("k1"),
        k_constant("thermal", "K2").alias("k2"),
    )


_SRC_META_SQL = """
WITH {meta}
SELECT m.scene_id,
       CAST(len(json_keys(m.content, '$.LANDSAT_METADATA_FILE.LEVEL1_RADIOMETRIC_RESCALING')) AS INT)
         AS n_rescaling_keys,
       CAST(json_extract(m.content, '$.LANDSAT_METADATA_FILE.LEVEL1_THERMAL_CONSTANTS') IS NOT NULL AS INT)
         AS has_thermal,
       mk.k1, mk.k2
FROM meta m JOIN meta_k mk ON m.scene_id = mk.scene_id
""".format(meta=_META.strip())


def proj_scene_date_parse(spark: SparkSession, sf: str) -> DataFrame:
    scenes = landsat.scene_patches(spark).select("scene_id").distinct()
    return _scene_dates(scenes)


_SCENE_DATE_SQL = "WITH {sd} SELECT scene_id, yr, mo, dy FROM scene_dates".format(
    sd=_SCENE_DATES.strip()
)


def join_scene_assets(spark: SparkSession, sf: str) -> DataFrame:
    """3-way asset integration by scene_id (data_loader.py:137-159):
    tensor ⋈ station file ⋈ metadata, any missing ⇒ scene dropped.
    The positional station join doubles as join_zip_positional."""
    patches = landsat.scene_patches(spark)
    stxt = landsat.station_lists(spark)
    meta = landsat.scene_metadata(spark).select("scene_id")
    joined = (
        patches.join(stxt, ["scene_id", "station_pos", "station_id"])
        .join(F.broadcast(meta), "scene_id")
    )
    return joined.groupBy("scene_id").agg(
        F.count(F.lit(1)).alias("n_stations"),
        F.max(F.size("bands")).alias("n_bands"),
    )


_ASSETS_SQL = """
WITH {stxt},
{meta},
p AS (SELECT scene_id, station_pos, station_id, len(bands) AS nb
      FROM '{fix}/scene_patches.parquet')
SELECT p.scene_id, COUNT(*) AS n_stations, CAST(MAX(p.nb) AS INT) AS n_bands
FROM p
JOIN stxt s ON p.scene_id = s.scene_id AND p.station_pos = s.station_pos
           AND p.station_id = s.station_id
JOIN (SELECT DISTINCT scene_id FROM meta) m ON p.scene_id = m.scene_id
GROUP BY p.scene_id
""".format(stxt=_STXT.strip(), meta=_META.strip(), fix=FIXTURE_DIR)


def join_gt_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """Per (scene-date, station) GT probe: LEFT join + first-match +
    sentinel (data_loader.py:45-74). The reference's nested-loop scan
    becomes one hash join on (yr, mo, dy, station_id)."""
    stxt = _scene_dates(landsat.station_lists(spark))
    gt1 = _gt_first_match(spark)
    return stxt.join(gt1, ["yr", "mo", "dy", "station_id"], "left").select(
        "scene_id",
        "station_pos",
        "station_id",
        F.coalesce("air_temp", F.lit(-9999.0)).alias("air_temp"),
    )


_GT_LOOKUP_SQL = """
WITH {stxt},
{sd},
{gt1}
SELECT s.scene_id, s.station_pos, s.station_id,
       COALESCE(g.air_temp, -9999.0) AS air_temp
FROM stxt s
JOIN scene_dates d ON s.scene_id = d.scene_id
LEFT JOIN gt1 g ON d.yr = g.yr AND d.mo = g.mo AND d.dy = g.dy
               AND s.station_id = g.station_id
""".format(stxt=_STXT.strip(), sd=_SCENE_DATES.strip(), gt1=_GT1.strip())


def join_station_dim(spark: SparkSession, sf: str) -> DataFrame:
    """Station lon/lat lookup; missing station ⇒ row dropped (inner,
    feature_extractor.py:98-103). Dim always broadcast."""
    stxt = landsat.station_lists(spark)
    dim = landsat.stations_dim(spark)
    return stxt.join(
        F.broadcast(dim), stxt.station_id == dim.id
    ).select("scene_id", "station_pos", "station_id", "longitude", "latitude")


_STATION_DIM_SQL = """
WITH {stxt}
SELECT s.scene_id, s.station_pos, s.station_id, d.longitude, d.latitude
FROM stxt s JOIN read_csv('{fix}/stations.csv') d ON s.station_id = d.id
""".format(stxt=_STXT.strip(), fix=FIXTURE_DIR)


def map_bt_pixels(spark: SparkSession, sf: str) -> DataFrame:
    """The radiometric core, cross-checked two ways: Spark computes
    DN→radiance→BT on the NESTED band arrays (higher-order functions),
    the oracle computes the same from the pixel-long parquet with plain
    column math — layout-independent agreement on every pixel of the
    PROBE scenes (landsat.probe_scene — both sensor families; the
    full-corpus aggregates cover the rest)."""
    base = to_brightness_temperature(
        _valid_scene_base(spark).where(landsat.probe_scene())
    )
    px = _pixels_long(base, ["scene_id", "station_id"], "bt_bands", "v")
    return px.select(
        "scene_id", "station_id", "band", "y", "x",
        F.round(F.col("v") + 1e-9, 6).alias("value"),
    )


_BT_PIXELS_SQL = """
WITH {meta},
{radpx}
SELECT scene_id, station_id, band, y, x, ROUND(value + 1e-9, 6) AS value
FROM btpx WHERE {probe}
""".format(meta=_META.strip(), radpx=_RADPX.strip(), probe=landsat.PROBE_SQL)


# Session-scoped memo for the assembled 365-feature frame — the most
# expensive shared subplan in the domain suite (on the 119-scene
# repository fixture, 4 vCPU: plan build ~3 s in a new process, ~0.3 s
# after; radiometry, joins and assembly ~1.1 s warm, 14.8 MB cached),
# consumed by map_concat_features / domain_pipeline_summary here and
# augment.aug_explode_4x. SINGLE-slot cache
# keyed by a session WEAKREF: a WeakKeyDictionary cannot evict here
# because the cached DataFrame strongly references its own session
# (dict → value → key keeps every key alive forever). One slot bounds
# retention to at most the latest session's frame; switching sessions
# replaces (and thereby releases) the previous entry. The persisted
# frame is one row per qualified (scene, station) — dimension-sized
# even at full reference cardinality — so MEMORY_AND_DISK is safe at
# scale.
#
# Cache entries live in the CacheManager, which every session of one
# SparkContext shares and which matches entries by PLAN, not by
# DataFrame identity. The replaced frame and its successor have the
# same plan, so the replaced frame must be unpersisted BEFORE the new
# one is persisted: unpersisting it afterwards drops the entry the new
# persist() resolved to, and every consumer recomputes the chain.
_FEATURES_MEMO: list = [None]  # [(weakref to session, DataFrame)] | [None]


def features_with_gt(spark: SparkSession) -> DataFrame:
    """Qualified (scene, station) rows with the assembled 365-feature
    vector and ground-truth air_temp, memoized + persisted per
    SparkSession (single-slot: the latest session)."""
    slot = _FEATURES_MEMO[0]
    if slot is not None and slot[0]() is spark:
        out = slot[1]
        # storageLevel asks the CacheManager (is_cached is a Python-side
        # flag): a clearCache() since the memo was filled leaves NONE
        if out.storageLevel == StorageLevel.NONE:
            out.persist(StorageLevel.MEMORY_AND_DISK)
        return out
    if slot is not None and slot[0]() is not None:
        # deterministic release of the replaced frame's entry (waiting
        # for GC + ContextCleaner lets copies accumulate)
        try:
            slot[1].unpersist()
        except Exception:
            pass  # session mid-shutdown; blocks die with it anyway
    base = to_brightness_temperature(_valid_scene_base(spark))
    base = _scene_dates(base)
    gt1 = _gt_first_match(spark)
    dim = landsat.stations_dim(spark)
    # both dimensions broadcast: gt1 is one row per (date, station).
    # With no shuffle on the patch side, the conversion and the
    # 365-array assembly run in the split_guard-spread scan tasks, and
    # AQE has no shuffle it could coalesce to one partition (which
    # would serialize them: 12-17 s serial vs sub-second spread)
    full = (
        base.join(F.broadcast(gt1), ["yr", "mo", "dy", "station_id"])  # sentinel rows drop
        .join(F.broadcast(dim), F.col("station_id") == dim.id)
    )
    # cache only what the consumers read: bands, bt_bands and the
    # metadata maps would triple the cached bytes
    out = (
        assemble_features(full)
        .select("scene_id", "station_id", "air_temp", "features")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _FEATURES_MEMO[0] = (weakref.ref(spark), out)
    return out


def map_concat_features(spark: SparkSession, sf: str) -> DataFrame:
    """Full pipeline to 365-wide feature vectors; the checkable surface
    is the vector length plus probes at every layout boundary
    (SURVEY §1.6): first image value, first coefficient, K2, K1,
    is_landsat_5, longitude, year — any remap/ordering bug moves one."""
    return features_with_gt(spark).select(*_feature_probes())


@recipe
def _feature_probes() -> tuple[Column, ...]:
    f = F.col("features")
    return (
        F.col("scene_id"),
        F.col("station_id"),
        F.size(f).alias("n_features"),
        F.round(F.element_at(f, 1) + 1e-9, 6).alias("f_img0"),
        F.round(F.element_at(f, 344) + 1e-9, 6).alias("f_coeff0"),
        F.round(F.element_at(f, 358) + 1e-9, 6).alias("f_k2"),
        F.round(F.element_at(f, 359) + 1e-9, 6).alias("f_k1"),
        F.element_at(f, 360).alias("f_is5"),
        F.element_at(f, 361).alias("f_lon"),
        F.element_at(f, 363).alias("f_year"),
        F.col("air_temp"),
    )


_FEATURES_SQL = """
WITH {meta},
{radpx},
{sd},
{gt1},
valid AS (SELECT DISTINCT scene_id, station_id, n_bands FROM btpx),
f0 AS (
  SELECT scene_id, station_id, value AS f_img0
  FROM btpx WHERE y = 0 AND x = 0
    AND band = CASE WHEN n_bands = 7 THEN 1 ELSE 2 END),
c0 AS (
  SELECT v.scene_id, v.station_id, c.ml AS f_coeff0
  FROM coef c JOIN valid v ON c.scene_id = v.scene_id
  WHERE c.band = CASE WHEN v.n_bands = 7 THEN 1 ELSE 2 END)
SELECT v.scene_id, v.station_id,
       CAST(365 AS INT) AS n_features,
       ROUND(f0.f_img0 + 1e-9, 6) AS f_img0,
       ROUND(c0.f_coeff0 + 1e-9, 6) AS f_coeff0,
       ROUND(mk.k2 + 1e-9, 6) AS f_k2,
       ROUND(mk.k1 + 1e-9, 6) AS f_k1,
       CASE WHEN v.n_bands = 7 THEN 1.0 ELSE 0.0 END AS f_is5,
       d.longitude AS f_lon,
       CAST(dt.yr AS DOUBLE) AS f_year,
       g.air_temp
FROM valid v
JOIN scene_dates dt ON v.scene_id = dt.scene_id
JOIN gt1 g ON dt.yr = g.yr AND dt.mo = g.mo AND dt.dy = g.dy
          AND v.station_id = g.station_id
JOIN read_csv('{fix}/stations.csv') d ON v.station_id = d.id
JOIN meta_k mk ON v.scene_id = mk.scene_id
JOIN f0 ON v.scene_id = f0.scene_id AND v.station_id = f0.station_id
JOIN c0 ON v.scene_id = c0.scene_id AND v.station_id = c0.station_id
""".format(
    meta=_META.strip(),
    radpx=_RADPX.strip(),
    sd=_SCENE_DATES.strip(),
    gt1=_GT1.strip(),
    fix=FIXTURE_DIR,
)


def domain_pipeline_summary(spark: SparkSession, sf: str) -> DataFrame:
    """The reference main()'s printed counters as one aggregate row
    (main.py:100-113): sample/scene/station counts + air-temp summary.
    Trap: numpy .std() is population std → stddev_pop (SURVEY §2.5)."""
    return map_concat_features(spark, sf).agg(*_summary_aggs())


@recipe
def _summary_aggs() -> tuple[Column, ...]:
    return (
        F.count(F.lit(1)).alias("n_samples"),
        # the size of a collected set, not countDistinct: two distinct
        # counts plan an Expand and a second aggregation (one more job)
        F.size(F.collect_set("scene_id")).cast("long").alias("n_scenes"),
        F.size(F.collect_set("station_id")).cast("long").alias("n_stations"),
        F.min("air_temp").alias("min_temp"),
        F.max("air_temp").alias("max_temp"),
        F.round(F.avg("air_temp") + 1e-9, 4).alias("avg_temp"),
        F.round(F.stddev_pop("air_temp") + 1e-9, 4).alias("std_temp"),
    )


_SUMMARY_SQL = """
WITH feats AS ({feats})
SELECT COUNT(*) AS n_samples,
       COUNT(DISTINCT scene_id) AS n_scenes,
       COUNT(DISTINCT station_id) AS n_stations,
       MIN(air_temp) AS min_temp,
       MAX(air_temp) AS max_temp,
       ROUND(AVG(air_temp) + 1e-9, 4) AS avg_temp,
       ROUND(STDDEV_POP(air_temp) + 1e-9, 4) AS std_temp
FROM feats
""".format(feats=_FEATURES_SQL.strip())


def agg_domain_grouped(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped domain statistics (SURVEY §2.5 note: the reference only
    aggregates globally; the engine adds the natural grouped variants):
    per (sensor, acquisition year) brightness-temperature stats over
    the thermal band.

    Sensor classification is PER-PATCH band count — identical to the
    reference, which detects the sensor per tensor
    (data_processor.py:15-36): every patch row here is a slice of one
    scene tensor, so all patches of a scene share a band count in any
    ingested data, and per-patch size() needs no Window shuffle. The
    oracle's nb CTE computes the same per-patch count from the
    pixel-long table. Only the thermal grid is converted (49 px/patch),
    not all 7-11 bands to_brightness_temperature would process — the
    rest of this query never reads them. BT uses
    radiometry.brightness_temperatures (np_ln / np_div, numpy
    semantics): plain F.log returns NULL on non-positive radiance,
    silently excluding such pixels from min/max/avg/stddev while n_px
    still counts them."""
    px_cols, bt_cols, stats = _grouped_bt_cols()
    base = _scene_dates(_valid_scene_base(spark))
    thermal_px = base.select(*px_cols).select(*bt_cols)
    return thermal_px.groupBy("is_landsat_5", "yr").agg(*stats)


@recipe
def _grouped_bt_cols() -> tuple:
    """agg_domain_grouped's (thermal pixel columns, their BT columns,
    the per-group statistics)."""
    n_bands = F.size("bands")
    band_1b = thermal_band_index(n_bands, base=1)
    thermal_grid = F.element_at("bands", band_1b)
    ml, al = _rescaling(band_1b)
    px_cols = (
        _is_landsat_5(n_bands).alias("is_landsat_5"),
        F.col("yr"),
        F.explode(F.flatten(thermal_grid)).alias("dn"),
        ml.alias("ml"),
        al.alias("al"),
        k_constant("thermal", "K1").alias("k1"),
        k_constant("thermal", "K2").alias("k2"),
    )
    rad = _radiance(F.col("dn"), F.col("ml"), F.col("al"))
    bt_l5, bt_l89 = brightness_temperatures(rad, F.col("k1"), F.col("k2"))
    bt = F.when(F.col("is_landsat_5") == 1, bt_l5).otherwise(bt_l89)
    bt_cols = (F.col("is_landsat_5"), F.col("yr"), bt.alias("bt"))
    stats = (
        F.count(F.lit(1)).alias("n_px"),
        F.round(F.min("bt") + 1e-9, 4).alias("min_bt"),
        F.round(F.max("bt") + 1e-9, 4).alias("max_bt"),
        F.round(F.avg("bt") + 1e-9, 4).alias("avg_bt"),
        F.round(F.stddev_pop("bt") + 1e-9, 4).alias("std_bt"),
    )
    return px_cols, bt_cols, stats


_DOMAIN_GROUPED_SQL = """
WITH {meta},
{radpx},
{sd},
tpx AS (
  SELECT CASE WHEN b.n_bands = 7 THEN 1 ELSE 0 END AS is_landsat_5,
         d.yr, b.value AS bt
  FROM btpx b JOIN scene_dates d ON b.scene_id = d.scene_id
  WHERE (b.n_bands = 7 AND b.band = 6) OR (b.n_bands = 11 AND b.band = 10))
SELECT is_landsat_5, yr,
       COUNT(*) AS n_px,
       ROUND(MIN(bt) + 1e-9, 4) AS min_bt,
       ROUND(MAX(bt) + 1e-9, 4) AS max_bt,
       ROUND(AVG(bt) + 1e-9, 4) AS avg_bt,
       ROUND(STDDEV_POP(bt) + 1e-9, 4) AS std_bt
FROM tpx
GROUP BY is_landsat_5, yr
""".format(meta=_META.strip(), radpx=_RADPX.strip(), sd=_SCENE_DATES.strip())


def filt_sentinel_gt(spark: SparkSession, sf: str) -> DataFrame:
    """Sentinel accounting per scene (feature_extractor.py:44-46):
    how many stations resolved a ground truth vs got -9999.0."""
    looked = join_gt_lookup(spark, sf)
    return looked.groupBy("scene_id").agg(
        F.count(F.lit(1)).alias("n_stations"),
        F.count(F.when(F.col("air_temp") != -9999.0, 1)).alias("n_with_gt"),
        F.count(F.when(F.col("air_temp") == -9999.0, 1)).alias("n_sentinel"),
    )


_SENTINEL_SQL = """
WITH looked AS ({lookup})
SELECT scene_id, COUNT(*) AS n_stations,
       COUNT(CASE WHEN air_temp != -9999.0 THEN 1 END) AS n_with_gt,
       COUNT(CASE WHEN air_temp  = -9999.0 THEN 1 END) AS n_sentinel
FROM looked
GROUP BY scene_id
""".format(lookup=_GT_LOOKUP_SQL.strip())


def proj_sensor_flag(spark: SparkSession, sf: str) -> DataFrame:
    """is_landsat_5 from band count, the sensor discriminator
    (feature_extractor.py:60-71; data_processor.py:15-36)."""
    return _scene_band_counts(spark).select(
        "scene_id",
        "n_bands",
        _is_landsat_5(F.col("n_bands")).alias("is_landsat_5"),
    )


_SENSOR_FLAG_SQL = """
SELECT scene_id, CAST(MAX(len(bands)) AS INT) AS n_bands,
       CASE WHEN MAX(len(bands)) = 7 THEN 1 ELSE 0 END AS is_landsat_5
FROM '{fix}/scene_patches.parquet'
GROUP BY scene_id
""".format(fix=FIXTURE_DIR)


def filt_band_cardinality(spark: SparkSession, sf: str) -> DataFrame:
    """Keep only 7- or 11-band scenes; others logged + dropped
    (data_processor.py:76-82,116-119). Exposes the kept/dropped verdict
    per scene so the malformed fixture scene is visibly rejected."""
    return _scene_band_counts(spark).select(
        "scene_id",
        "n_bands",
        F.col("n_bands").isin(7, 11).cast("int").alias("kept"),
    )


_BAND_CARD_SQL = """
SELECT scene_id, CAST(MAX(len(bands)) AS INT) AS n_bands,
       CAST(MAX(len(bands)) IN (7, 11) AS INT) AS kept
FROM '{fix}/scene_patches.parquet'
GROUP BY scene_id
""".format(fix=FIXTURE_DIR)


def filt_metadata_keys(spark: SparkSession, sf: str) -> DataFrame:
    """Require both metadata sections (KeyError-drop semantics,
    data_processor.py:84-89; feature_extractor.py:51-57): per scene,
    which sections resolved and whether the scene survives."""
    scenes = landsat.scene_patches(spark).select("scene_id").distinct()
    meta = landsat.scene_metadata(spark)
    joined = scenes.join(F.broadcast(meta), "scene_id", "left")
    return joined.select(
        "scene_id",
        F.col("rescaling").isNotNull().cast("int").alias("has_rescaling"),
        F.col("thermal").isNotNull().cast("int").alias("has_thermal"),
        (F.col("rescaling").isNotNull() & F.col("thermal").isNotNull())
        .cast("int")
        .alias("kept"),
    )


_META_KEYS_SQL = """
WITH {meta},
scenes AS (SELECT DISTINCT scene_id FROM '{fix}/scene_patches.parquet'),
sections AS (
  SELECT scene_id,
    CAST(json_extract(content, '$.LANDSAT_METADATA_FILE.LEVEL1_RADIOMETRIC_RESCALING')
         IS NOT NULL AS INT) AS has_rescaling,
    CAST(json_extract(content, '$.LANDSAT_METADATA_FILE.LEVEL1_THERMAL_CONSTANTS')
         IS NOT NULL AS INT) AS has_thermal
  FROM meta)
SELECT s.scene_id,
       COALESCE(x.has_rescaling, 0) AS has_rescaling,
       COALESCE(x.has_thermal, 0) AS has_thermal,
       COALESCE(x.has_rescaling, 0) * COALESCE(x.has_thermal, 0) AS kept
FROM scenes s LEFT JOIN sections x ON s.scene_id = x.scene_id
""".format(meta=_META.strip(), fix=FIXTURE_DIR)


def filt_skip_first(spark: SparkSession, sf: str) -> DataFrame:
    """Drop the first tensor (data_loader.py:125, flag main.py:58). The
    reference's order is os.listdir — OS-dependent; the engine declares
    an explicit order (scene_id asc) to be deterministic (SURVEY §2.3)."""
    scenes = landsat.scene_patches(spark).select("scene_id").distinct()
    w = Window.orderBy("scene_id")
    return (
        scenes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") > 1)
        .select("scene_id")
    )


_SKIP_FIRST_SQL = """
SELECT scene_id FROM (SELECT DISTINCT scene_id FROM '{fix}/scene_patches.parquet')
WHERE scene_id > (SELECT MIN(scene_id) FROM '{fix}/scene_patches.parquet')
""".format(fix=FIXTURE_DIR)


def filt_load_errors(spark: SparkSession, sf: str) -> DataFrame:
    """Per-asset try/except-and-skip accounting (data_loader.py:130-159):
    which scenes are missing which linked asset, and whether the scene
    loads. The permissive-read analog of the reference's printed
    warnings — here as queryable rows instead of stdout."""
    scenes = landsat.scene_patches(spark).select("scene_id").distinct()
    stxt = landsat.station_lists(spark).select("scene_id").distinct()
    meta = landsat.scene_metadata(spark).select("scene_id").distinct()
    out = (
        scenes.join(stxt.withColumn("has_st", F.lit(1)), "scene_id", "left")
        .join(meta.withColumn("has_meta", F.lit(1)), "scene_id", "left")
    )
    return out.select(
        "scene_id",
        F.coalesce("has_st", F.lit(0)).alias("has_stations_file"),
        F.coalesce("has_meta", F.lit(0)).alias("has_metadata"),
        (F.coalesce("has_st", F.lit(0)) * F.coalesce("has_meta", F.lit(0))).alias(
            "loads"
        ),
    )


_LOAD_ERRORS_SQL = r"""
WITH scenes AS (SELECT DISTINCT scene_id FROM '{fix}/scene_patches.parquet'),
st AS (SELECT DISTINCT regexp_extract(filename, '([^/]+)_stations\.txt$', 1)
         AS scene_id FROM read_text('{fix}/scene_stations/*.txt')),
mt AS (SELECT DISTINCT regexp_extract(filename, '([^/]+)_MTL_metadata\.json$', 1)
         AS scene_id FROM read_text('{fix}/metadatas/*.json'))
SELECT s.scene_id,
       CAST(st.scene_id IS NOT NULL AS INT) AS has_stations_file,
       CAST(mt.scene_id IS NOT NULL AS INT) AS has_metadata,
       CAST(st.scene_id IS NOT NULL AND mt.scene_id IS NOT NULL AS INT) AS loads
FROM scenes s
LEFT JOIN st ON s.scene_id = st.scene_id
LEFT JOIN mt ON s.scene_id = mt.scene_id
""".format(fix=FIXTURE_DIR)


def agg_minmax_scene_dates(spark: SparkSession, sf: str) -> DataFrame:
    """Acquisition-date span over scene ids (main.py:52-53)."""
    dated = _scene_dates(landsat.scene_patches(spark).select("scene_id").distinct())
    d = F.make_date("yr", "mo", "dy")
    return dated.agg(
        F.min(d).alias("first_date"),
        F.max(d).alias("last_date"),
        F.countDistinct("scene_id").alias("n_scenes"),
    )


_MINMAX_DATES_SQL = """
WITH {sd}
SELECT MIN(make_date(yr, mo, dy)) AS first_date,
       MAX(make_date(yr, mo, dy)) AS last_date,
       COUNT(DISTINCT scene_id) AS n_scenes
FROM scene_dates
""".format(sd=_SCENE_DATES.strip())


def src_dir_listing(spark: SparkSession, sf: str) -> DataFrame:
    """Directory listing + suffix classification (data_loader.py:94-106,
    .pt vs .txt). Spark side lists via the binaryFile source (distributed
    manifest, no driver-side os.listdir); only names/kinds surface."""
    files = (
        landsat.dir_reader(spark, "txt")
        .format("binaryFile")
        .load(f"{FIXTURE_DIR}/scene_stations")
        .select(F.input_file_name().alias("p"))
        .select(
            F.regexp_extract("p", r"([^/]+)$", 1).alias("file_name"),
            F.lit("stations").alias("kind"),
        )
    )
    metas = (
        landsat.dir_reader(spark, "json")
        .format("binaryFile")
        .load(f"{FIXTURE_DIR}/metadatas")
        .select(F.input_file_name().alias("p"))
        .select(
            F.regexp_extract("p", r"([^/]+)$", 1).alias("file_name"),
            F.lit("metadata").alias("kind"),
        )
    )
    return files.unionByName(metas)


_DIR_LISTING_SQL = r"""
SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
       'stations' AS kind
FROM read_text('{fix}/scene_stations/*.txt')
UNION ALL
SELECT regexp_extract(filename, '([^/]+)$', 1), 'metadata'
FROM read_text('{fix}/metadatas/*.json')
""".format(fix=FIXTURE_DIR)


def sink_csv_stations(spark: SparkSession, sf: str) -> DataFrame:
    """Write-iff-absent stations CSV sink (main.py:116-119:
    ``if not os.path.exists``) → ``mode('ignore')``, then read back.
    Round-trips the dimension through the CSV codec. The output dir is
    content-addressed by the source file's digest: a re-run with the
    same dim hits the ignore path (the reference's os.path.exists
    semantics), while regenerated fixtures get a fresh dir instead of
    silently reading back a stale write."""
    import hashlib
    import os as _os

    with open(f"{FIXTURE_DIR}/stations.csv", "rb") as fh:
        tag = hashlib.md5(fh.read()).hexdigest()[:12]
    out_dir = _os.path.join(
        _os.path.dirname(FIXTURE_DIR), ".scratch", f"stations_csv_{tag}"
    )
    dim = landsat.stations_dim(spark)
    dim.coalesce(1).write.mode("ignore").option("header", True).csv(out_dir)
    return (
        spark.read.option("header", True)
        .schema(dim.schema)
        .csv(out_dir)
        .select("id", "name", "longitude", "latitude")
    )


_SINK_CSV_SQL = """
SELECT id, name, longitude, latitude FROM read_csv('{fix}/stations.csv')
""".format(fix=FIXTURE_DIR)


QUERIES: dict[str, QuerySpec] = {
    "proj_sensor_flag": QuerySpec("proj_sensor_flag", proj_sensor_flag, _SENSOR_FLAG_SQL),
    "filt_band_cardinality": QuerySpec(
        "filt_band_cardinality", filt_band_cardinality, _BAND_CARD_SQL
    ),
    "filt_metadata_keys": QuerySpec(
        "filt_metadata_keys", filt_metadata_keys, _META_KEYS_SQL
    ),
    "filt_skip_first": QuerySpec("filt_skip_first", filt_skip_first, _SKIP_FIRST_SQL),
    "filt_load_errors": QuerySpec(
        "filt_load_errors", filt_load_errors, _LOAD_ERRORS_SQL
    ),
    "agg_minmax_scene_dates": QuerySpec(
        "agg_minmax_scene_dates", agg_minmax_scene_dates, _MINMAX_DATES_SQL
    ),
    "src_dir_listing": QuerySpec("src_dir_listing", src_dir_listing, _DIR_LISTING_SQL),
    "sink_csv_stations": QuerySpec("sink_csv_stations", sink_csv_stations, _SINK_CSV_SQL),
    "src_csv_ground_truths": QuerySpec(
        "src_csv_ground_truths", src_csv_ground_truths, _SRC_GT_SQL
    ),
    "src_station_txt": QuerySpec("src_station_txt", src_station_txt, _SRC_STXT_SQL),
    "src_json_metadata": QuerySpec(
        "src_json_metadata", src_json_metadata, _SRC_META_SQL
    ),
    "proj_scene_date_parse": QuerySpec(
        "proj_scene_date_parse", proj_scene_date_parse, _SCENE_DATE_SQL
    ),
    "join_scene_assets": QuerySpec("join_scene_assets", join_scene_assets, _ASSETS_SQL),
    "join_gt_lookup": QuerySpec("join_gt_lookup", join_gt_lookup, _GT_LOOKUP_SQL),
    "join_station_dim": QuerySpec(
        "join_station_dim", join_station_dim, _STATION_DIM_SQL
    ),
    "map_bt_pixels": QuerySpec("map_bt_pixels", map_bt_pixels, _BT_PIXELS_SQL),
    "map_concat_features": QuerySpec(
        "map_concat_features", map_concat_features, _FEATURES_SQL
    ),
    "domain_pipeline_summary": QuerySpec(
        "domain_pipeline_summary", domain_pipeline_summary, _SUMMARY_SQL
    ),
    "filt_sentinel_gt": QuerySpec("filt_sentinel_gt", filt_sentinel_gt, _SENTINEL_SQL),
    "agg_domain_grouped": QuerySpec(
        "agg_domain_grouped", agg_domain_grouped, _DOMAIN_GROUPED_SQL
    ),
}
