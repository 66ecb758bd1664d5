"""Fine-grained reference-operator queries (SURVEY §2.1/§2.2/§2.4-§2.6
ids that aren't already first-class keys in domain.py) — one registry
key per SURVEY id so the coverage inventory closes line by line.

Each is a small, oracle-checked surface over the shared fixture CTEs in
domain.py. The composite pipelines (map_bt_pixels, map_concat_features)
already cover these end-to-end; these queries isolate each step so a
regression pinpoints the exact operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.features import _coeffs14, _image343, _l8_remap
from ..functions.radiometry import (
    k_constant,
    to_brightness_temperature,
    to_radiance,
)
from ..registry import QuerySpec
from ..sources import landsat
from ..sources.landsat import FIXTURE_DIR
from .augment import VARIANTS, doc_ids, exact_split
from .domain import (
    _GT1,
    _META,
    _RADPX,
    _SCENE_DATES,
    _STXT,
    _pixels_long,
    _scene_band_counts,
    _valid_patches,
    join_gt_lookup,
    map_bt_pixels,
)

# ---------------------------------------------------------------------------
# §2.1 src_pt_tensor — binary tensor ingest with a full oracle
# ---------------------------------------------------------------------------


def _blob_decoder(content: bytes) -> list:
    """fixtures/pt_blobs format: int32[4] shape header then int32 data
    in on-disk (bands, stations, 7, 7) layout; returns the reference's
    post-permute (stations, bands, 7, 7) (data_loader.py:131-132)."""
    import numpy as np

    shape = np.frombuffer(content[:16], dtype=np.int32)
    data = np.frombuffer(content[16:], dtype=np.int32).reshape(tuple(shape))
    return data.transpose(1, 0, 2, 3).tolist()


def _pt_pixels(spark: SparkSession, subdir: str, decoder=None) -> DataFrame:
    """Probe-scene .pt blobs under ``FIXTURE_DIR/subdir`` → pixel-long
    (scene_id, station_pos, band, y, x, dn) rows. The probe predicate
    prunes the MANIFEST: excluded blobs are never read, the binary
    analogue of parquet predicate pushdown."""
    decoded = landsat.ingest_pt_tensors(
        spark,
        f"{FIXTURE_DIR}/{subdir}",
        decoder=decoder,
        scene_predicate=landsat.probe_scene(),
    )
    return _pixels_long(decoded, ["scene_id", "station_pos"], "bands", "dn")


def src_pt_tensor(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed .pt ingest (src_pt_tensor): binaryFile manifest →
    mapInPandas decode → pixel-long rows. The oracle is the pixel
    parquet the blobs were derived from — full value parity for the
    binary path. The torch decoder swaps in via the same injection
    point when the executor image ships it."""
    return _pt_pixels(spark, "pt_blobs", _blob_decoder)


def src_pt_real(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed ingest of REAL torch.save .pt archives
    (fixtures/pt_real, written in the genuine zipfile serialization by
    tools/make_real_pt.py): binaryFile manifest → mapInPandas with the
    default decoder — torch.load where available, else the torch-free
    format reader (sources/torch_pt.py) — → pixel-long rows. Same
    oracle as src_pt_tensor: the pixel parquet the archives derive
    from, restricted to the probe scenes the pt_real dir holds. This
    closes the reference's one previously-unexercised operator
    (torch.load + permute, data_loader.py:131-132) with end-to-end
    evidence in a torch-free environment."""
    return _pt_pixels(spark, "pt_real")


_PT_SQL = """
WITH stxt AS (
  SELECT scene_id, station_pos, station_id FROM (
    SELECT regexp_extract(filename, '([^/]+)_stations\\.txt$', 1) AS scene_id,
           string_split_regex(regexp_replace(content, '[\\[\\]]', '', 'g'), ',\\s*') AS toks
    FROM read_text('{fix}/scene_stations/*.txt')) f,
    LATERAL (SELECT CAST(i - 1 AS INT) AS station_pos,
                    CAST(toks[i] AS INT) AS station_id
             FROM unnest(generate_series(1, len(toks))) AS u(i)) t)
SELECT p.scene_id, s.station_pos, p.band, p.y, p.x, p.dn
FROM '{fix}/scene_pixels.parquet' p
JOIN stxt s ON p.scene_id = s.scene_id AND p.station_id = s.station_id
WHERE substring(split_part(p.scene_id, '_', 4), 7, 2) = '03'
""".format(fix=FIXTURE_DIR)


# ---------------------------------------------------------------------------
# §2.2 projections
# ---------------------------------------------------------------------------


def proj_scene_id_from_filename(spark: SparkSession, sf: str) -> DataFrame:
    """Filename-convention identity (data_loader.py:137): asset file
    name → scene_id, via input_file_name at the scan."""
    return (
        landsat.dir_reader(spark, "txt")
        .format("binaryFile")
        .load(f"{FIXTURE_DIR}/scene_stations")
        .select(F.input_file_name().alias("p"))
        .select(
            F.regexp_extract("p", r"([^/]+)$", 1).alias("file_name"),
            F.regexp_extract("p", r"([^/]+)_stations\.txt$", 1).alias("scene_id"),
        )
    )


_SCENE_ID_SQL = r"""
SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
       regexp_extract(filename, '([^/]+)_stations\.txt$', 1) AS scene_id
FROM read_text('{fix}/scene_stations/*.txt')
""".format(fix=FIXTURE_DIR)


def proj_date_parts_csv(spark: SparkSession, sf: str) -> DataFrame:
    """Eager year/month/day derivation on the GT CSV
    (data_loader.py:86-89) — the CSV-side sibling of proj_date_parts."""
    return landsat.ground_truths(spark).select(
        "gt_id", "utc_date", "year", "month", "day"
    )


_DATE_PARTS_CSV_SQL = """
SELECT gt_id, utc_date,
       CAST(year(utc_date) AS INT) AS year,
       CAST(month(utc_date) AS INT) AS month,
       CAST(day(utc_date) AS INT) AS day
FROM read_csv('{fix}/ground_truths.csv')
""".format(fix=FIXTURE_DIR)


# ---------------------------------------------------------------------------
# §2.4 join_zip_positional
# ---------------------------------------------------------------------------


def join_zip_positional(spark: SparkSession, sf: str) -> DataFrame:
    """Parallel-array correlation by position: the reference zips
    stations[] with ground_truths[] (feature_extractor.py:43,48). Here
    the arrays are rebuilt per scene (position-sorted) and re-related
    with posexplode(arrays_zip(...)) — the declared Spark form of the
    reference's zip+index idiom."""
    with_gt = join_gt_lookup(spark, sf)
    arrays = with_gt.groupBy("scene_id").agg(
        F.array_sort(
            F.collect_list(F.struct("station_pos", "station_id", "air_temp"))
        ).alias("zipped")
    )
    stations_arr = F.transform(F.col("zipped"), lambda s: s["station_id"])
    gts_arr = F.transform(F.col("zipped"), lambda s: s["air_temp"])
    return arrays.select(
        "scene_id",
        F.posexplode(F.arrays_zip(stations_arr, gts_arr)).alias("pos", "z"),
    ).select(
        "scene_id",
        "pos",
        F.col("z")["0"].alias("station_id"),
        F.col("z")["1"].alias("air_temp"),
    )


_ZIP_SQL = """
WITH {stxt},
{sd},
{gt1}
SELECT s.scene_id, s.station_pos AS pos, s.station_id,
       COALESCE(g.air_temp, -9999.0) AS air_temp
FROM stxt s
JOIN scene_dates d ON s.scene_id = d.scene_id
LEFT JOIN gt1 g ON d.yr = g.yr AND d.mo = g.mo AND d.dy = g.dy
               AND s.station_id = g.station_id
""".format(stxt=_STXT.strip(), sd=_SCENE_DATES.strip(), gt1=_GT1.strip())


# ---------------------------------------------------------------------------
# §2.5 agg_count / agg_ratio
# ---------------------------------------------------------------------------


def agg_count(spark: SparkSession, sf: str) -> DataFrame:
    """The reference main()'s stage counters (main.py:42-106) as one
    row: rows per source at load time."""
    gt = landsat.ground_truths(spark).agg(F.count(F.lit(1)).alias("n_gt_rows"))
    sc = (
        landsat.scene_patches(spark)
        .agg(
            F.countDistinct("scene_id").alias("n_scenes"),
            F.count(F.lit(1)).alias("n_patch_rows"),
        )
    )
    st = landsat.station_lists(spark).agg(F.count(F.lit(1)).alias("n_station_rows"))
    mt = landsat.scene_metadata(spark).agg(F.count(F.lit(1)).alias("n_metadata_files"))
    return gt.crossJoin(sc).crossJoin(st).crossJoin(mt)


_AGG_COUNT_SQL = r"""
SELECT
  (SELECT COUNT(*) FROM read_csv('{fix}/ground_truths.csv')) AS n_gt_rows,
  (SELECT COUNT(DISTINCT scene_id) FROM '{fix}/scene_patches.parquet') AS n_scenes,
  (SELECT COUNT(*) FROM '{fix}/scene_patches.parquet') AS n_patch_rows,
  (SELECT COUNT(*) FROM (
     SELECT unnest(string_split_regex(regexp_replace(content, '[\[\]]', '', 'g'), ',\s*'))
     FROM read_text('{fix}/scene_stations/*.txt'))) AS n_station_rows,
  (SELECT COUNT(*) FROM read_text('{fix}/metadatas/*.json')) AS n_metadata_files
""".format(fix=FIXTURE_DIR)


def agg_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """Split/augmentation ratio algebra (main.py:93,107): exact train
    share and the 4× factor, computed from the real split + explode."""
    docs = doc_ids(spark, sf)
    labeled = exact_split(docs, seed=42, train_ratio=0.8)
    train = labeled.where(F.col("split") == "train")
    aug = train.select(
        "doc_id",
        F.explode(F.array(*[F.lit(v) for v in VARIANTS])).alias("variant"),
    )
    counts = (
        labeled.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("split") == "train", 1)).alias("n_train"),
        )
        .crossJoin(aug.agg(F.count(F.lit(1)).alias("n_aug")))
    )
    return counts.select(
        F.round(F.col("n_train") / F.col("n") + 1e-9, 4).alias("train_ratio"),
        F.round(F.col("n_aug") / F.col("n_train") + 1e-9, 4).alias("aug_factor"),
    )


_AGG_RATIO_SQL = """
WITH n AS (SELECT COUNT(*) AS c, CAST(FLOOR(COUNT(*) * 0.8) AS BIGINT) AS k
           FROM documents)
SELECT ROUND(CAST(k AS DOUBLE) / c + 1e-9, 4) AS train_ratio,
       ROUND(4.0 + 1e-9, 4) AS aug_factor
FROM n
"""


# ---------------------------------------------------------------------------
# §2.6 element-wise math, isolated per id
# ---------------------------------------------------------------------------


def map_cast_double(spark: SparkSession, sf: str) -> DataFrame:
    """int32 DN → float64 (data_processor.py:92), checked per pixel of
    the probe scenes."""
    px = landsat.scene_pixels(spark).where(landsat.probe_scene())
    return px.select(
        "scene_id", "station_id", "band", "y", "x",
        F.col("dn").cast("double").alias("dn_f64"),
    )


_CAST_SQL = """
SELECT scene_id, station_id, band, y, x, CAST(dn AS DOUBLE) AS dn_f64
FROM '{fix}/scene_pixels.parquet' WHERE {probe}
""".format(fix=FIXTURE_DIR, probe=landsat.PROBE_SQL)


def map_str_to_float(spark: SparkSession, sf: str) -> DataFrame:
    """E-notation string coefficients → double at every use
    (data_processor.py:97-114): all rescaling entries parsed."""
    meta = landsat.scene_metadata(spark)
    kv = meta.select(
        "scene_id", F.explode("rescaling").alias("key", "raw")
    )
    return kv.select(
        "scene_id", "key", F.col("raw").cast("double").alias("value")
    )


_STR_FLOAT_SQL = """
WITH {meta}
SELECT scene_id, k AS key,
       CAST(json_extract_string(content,
         '$.LANDSAT_METADATA_FILE.LEVEL1_RADIOMETRIC_RESCALING.' || k) AS DOUBLE)
         AS value
FROM (SELECT scene_id, content,
             unnest(json_keys(content,
               '$.LANDSAT_METADATA_FILE.LEVEL1_RADIOMETRIC_RESCALING')) AS k
      FROM meta) t
""".format(meta=_META.strip())


def _radiance_pixels(spark: SparkSession) -> DataFrame:
    """Pixel-long radiance on valid scenes — Spark side computed on the
    NESTED arrays then exploded (layout-independent vs the oracle)."""
    base = _valid_patches(landsat.scene_patches(spark).where(landsat.probe_scene()))
    return _pixels_long(to_radiance(base), ["scene_id", "station_id"], "rad_bands", "rad")


def map_dn_to_radiance(spark: SparkSession, sf: str) -> DataFrame:
    """Per-band affine L = ML·DN + AL (data_processor.py:95-99), every
    band of every valid scene, before any thermal overwrite."""
    return _radiance_pixels(spark).select(
        "scene_id", "station_id", "band", "y", "x",
        F.round(F.col("rad") + 1e-9, 6).alias("radiance"),
    )


_RADIANCE_SQL = """
WITH {meta},
{radpx}
SELECT scene_id, station_id, band, y, x,
       ROUND(rad + 1e-9, 6) AS radiance
FROM radpx WHERE {probe}
""".format(meta=_META.strip(), radpx=_RADPX.strip(), probe=landsat.PROBE_SQL)


def _thermal_cells(
    spark: SparkSession, sf: str, band: int, n_bands: int
) -> DataFrame:
    """map_bt_pixels restricted to ``band`` of the ``n_bands``-band scenes."""
    scenes = (
        _scene_band_counts(spark).where(F.col("n_bands") == n_bands).select("scene_id")
    )
    return map_bt_pixels(spark, sf).where(F.col("band") == band).join(
        scenes, "scene_id"
    )


def map_bt_l5(spark: SparkSession, sf: str) -> DataFrame:
    """L5 thermal band 6: BT = K2 / ln(K1/L + 1)
    (data_processor.py:109-115), isolated to the exact cells it
    touches."""
    return _thermal_cells(spark, sf, 6, 7)


_BT_L5_SQL = """
WITH {meta},
{radpx}
SELECT scene_id, station_id, band, y, x, ROUND(value + 1e-9, 6) AS value
FROM btpx WHERE n_bands = 7 AND band = 6 AND {probe}
""".format(meta=_META.strip(), radpx=_RADPX.strip(), probe=landsat.PROBE_SQL)


def map_bt_l89(spark: SparkSession, sf: str) -> DataFrame:
    """L8/9 thermal band 10: BT = K2 / (K1/(L+1)) — the reference's
    non-USGS form, replicated not fixed (data_processor.py:102-108)."""
    return _thermal_cells(spark, sf, 10, 11)


_BT_L89_SQL = """
WITH {meta},
{radpx}
SELECT scene_id, station_id, band, y, x, ROUND(value + 1e-9, 6) AS value
FROM btpx WHERE n_bands = 11 AND band = 10 AND {probe}
""".format(meta=_META.strip(), radpx=_RADPX.strip(), probe=landsat.PROBE_SQL)


def map_band_remap_l8(spark: SparkSession, sf: str) -> DataFrame:
    """L8/9 band selection/reorder [2,3,4,5,6,10,7] (config.py:19,
    feature_extractor.py:62-69): checked value-level — output position
    → source band plus the (0,0) pixel of the remapped grid."""
    l8 = _valid_patches(landsat.scene_patches(spark)).where(F.size("bands") == 11)
    return l8.select(
        "scene_id",
        "station_id",
        F.posexplode(_l8_remap(F.col("bands"))).alias("out_pos", "grid"),
    ).select(
        "scene_id",
        "station_id",
        "out_pos",
        F.element_at(F.element_at("grid", 1), 1).alias("px00"),
    )


_REMAP_SQL = """
WITH {meta},
{radpx},
m AS (SELECT CAST(unnest([2,3,4,5,6,10,7]) AS INT) AS band,
             CAST(unnest([0,1,2,3,4,5,6]) AS INT) AS out_pos),
px00 AS (SELECT scene_id, station_id, band, dn FROM '{fix}/scene_pixels.parquet'
         WHERE y = 0 AND x = 0),
valid AS (SELECT DISTINCT scene_id FROM btpx WHERE n_bands = 11)
SELECT p.scene_id, p.station_id, m.out_pos, p.dn AS px00
FROM px00 p JOIN m ON p.band = m.band JOIN valid v ON p.scene_id = v.scene_id
""".format(meta=_META.strip(), radpx=_RADPX.strip(), fix=FIXTURE_DIR)


def map_coeff_vector(spark: SparkSession, sf: str) -> DataFrame:
    """The 14-coefficient gather: 7×MULT then 7×ADD in mapped-band
    order (feature_extractor.py:64-76), exploded to (scene, pos,
    coeff)."""
    patches = landsat.scene_patches(spark).select("scene_id", "bands")
    base = _valid_patches(patches).dropDuplicates(["scene_id"])
    return base.select(
        "scene_id",
        F.posexplode(_coeffs14(F.col("is_landsat_5"))).alias("pos", "coeff"),
    ).select("scene_id", "pos", F.round(F.col("coeff") + 1e-9, 6).alias("coeff"))


_COEFF_VEC_SQL = """
WITH {meta},
{radpx},
valid AS (SELECT DISTINCT scene_id, n_bands FROM btpx),
slots AS (SELECT CAST(u AS INT) AS pos FROM unnest(generate_series(0, 13)) AS t(u)),
mapped AS (
  SELECT v.scene_id, s.pos,
         CASE WHEN v.n_bands = 7 THEN (s.pos % 7) + 1
              ELSE [2,3,4,5,6,10,7][(s.pos % 7) + 1] END AS band,
         s.pos < 7 AS is_mult
  FROM valid v CROSS JOIN slots s)
SELECT m.scene_id, m.pos,
       ROUND(CASE WHEN m.is_mult THEN c.ml ELSE c.al END + 1e-9, 6) AS coeff
FROM mapped m JOIN coef c ON m.scene_id = c.scene_id AND m.band = c.band
""".format(meta=_META.strip(), radpx=_RADPX.strip())


def map_k_coeffs(spark: SparkSession, sf: str) -> DataFrame:
    """[K2, K1] — K2 first, BAND_10 probed before BAND_6
    (feature_extractor.py:82-95). The row predicate is the K-constant
    probe itself, not thermal-section presence: a
    LEVEL1_THERMAL_CONSTANTS section lacking both BAND_10 and BAND_6
    keys raises KeyError in the reference (skipped via else-continue,
    feature_extractor.py:82-96) and must drop here and in the oracle
    identically."""
    meta = landsat.scene_metadata(spark).where(
        k_constant("thermal", "K1").isNotNull()
        & k_constant("thermal", "K2").isNotNull()
    )
    return meta.select(
        "scene_id",
        k_constant("thermal", "K2").alias("k2"),
        k_constant("thermal", "K1").alias("k1"),
    )


_K_COEFFS_SQL = """
WITH {meta}
SELECT scene_id, k2, k1 FROM meta_k
WHERE k1 IS NOT NULL AND k2 IS NOT NULL
""".format(meta=_META.strip())


def map_flatten(spark: SparkSession, sf: str) -> DataFrame:
    """(7,7,7) → 343 flatten (feature_extractor.py:112): length plus
    positional probes — flat[b·49 + y·7 + x] must equal the pixel at
    (b, y, x) of the REMAPPED tensor; probes at 0, 170, 342 catch
    any stride error. Probe scenes only: each element_at probe inlines
    the whole flatten tree, so this query evaluates it 3× per row —
    the 10× corpus restriction (both sensor families guaranteed) is
    what keeps that affordable, same policy as map_bt_pixels."""
    patches = landsat.scene_patches(spark).where(landsat.probe_scene())
    bt = to_brightness_temperature(_valid_patches(patches))
    flat = _image343(F.col("bt_bands"))
    probes = [(0, 0, 0, 0), (170, 3, 3, 2), (342, 6, 6, 6)]
    cols = [
        F.round(F.element_at(flat, p + 1) + 1e-9, 6).alias(f"flat_{p}")
        for p, _, _, _ in probes
    ]
    return bt.select("scene_id", "station_id", F.size(flat).alias("n"), *cols)


_FLATTEN_SQL = """
WITH {meta},
{radpx},
mapped AS (
  SELECT scene_id, station_id, y, x, value,
         CASE WHEN n_bands = 7 THEN band - 1 ELSE
           CASE band WHEN 2 THEN 0 WHEN 3 THEN 1 WHEN 4 THEN 2 WHEN 5 THEN 3
                     WHEN 6 THEN 4 WHEN 10 THEN 5 WHEN 7 THEN 6 END
         END AS b0
  FROM btpx WHERE (n_bands = 7 OR band IN (2,3,4,5,6,10,7)) AND {probe})
SELECT s.scene_id, s.station_id, CAST(343 AS INT) AS n,
       ROUND(p0.value + 1e-9, 6) AS flat_0,
       ROUND(p170.value + 1e-9, 6) AS flat_170,
       ROUND(p342.value + 1e-9, 6) AS flat_342
FROM (SELECT DISTINCT scene_id, station_id FROM mapped) s
JOIN mapped p0 ON s.scene_id = p0.scene_id AND s.station_id = p0.station_id
              AND p0.b0 = 0 AND p0.y = 0 AND p0.x = 0
JOIN mapped p170 ON s.scene_id = p170.scene_id AND s.station_id = p170.station_id
              AND p170.b0 = 3 AND p170.y = 3 AND p170.x = 2
JOIN mapped p342 ON s.scene_id = p342.scene_id AND s.station_id = p342.station_id
              AND p342.b0 = 6 AND p342.y = 6 AND p342.x = 6
""".format(meta=_META.strip(), radpx=_RADPX.strip(), probe=landsat.PROBE_SQL)


QUERIES: dict[str, QuerySpec] = {
    "src_pt_tensor": QuerySpec("src_pt_tensor", src_pt_tensor, _PT_SQL),
    "src_pt_real": QuerySpec("src_pt_real", src_pt_real, _PT_SQL),
    "proj_scene_id_from_filename": QuerySpec(
        "proj_scene_id_from_filename", proj_scene_id_from_filename, _SCENE_ID_SQL
    ),
    "proj_date_parts_csv": QuerySpec(
        "proj_date_parts_csv", proj_date_parts_csv, _DATE_PARTS_CSV_SQL
    ),
    "join_zip_positional": QuerySpec(
        "join_zip_positional", join_zip_positional, _ZIP_SQL
    ),
    "agg_count": QuerySpec("agg_count", agg_count, _AGG_COUNT_SQL),
    "agg_ratio": QuerySpec("agg_ratio", agg_ratio, _AGG_RATIO_SQL),
    "map_cast_double": QuerySpec("map_cast_double", map_cast_double, _CAST_SQL),
    "map_str_to_float": QuerySpec("map_str_to_float", map_str_to_float, _STR_FLOAT_SQL),
    "map_dn_to_radiance": QuerySpec(
        "map_dn_to_radiance", map_dn_to_radiance, _RADIANCE_SQL
    ),
    "map_bt_l5": QuerySpec("map_bt_l5", map_bt_l5, _BT_L5_SQL),
    "map_bt_l89": QuerySpec("map_bt_l89", map_bt_l89, _BT_L89_SQL),
    "map_band_remap_l8": QuerySpec(
        "map_band_remap_l8", map_band_remap_l8, _REMAP_SQL
    ),
    "map_coeff_vector": QuerySpec("map_coeff_vector", map_coeff_vector, _COEFF_VEC_SQL),
    "map_k_coeffs": QuerySpec("map_k_coeffs", map_k_coeffs, _K_COEFFS_SQL),
    "map_flatten": QuerySpec("map_flatten", map_flatten, _FLATTEN_SQL),
}
