"""Sources for the reference pipeline's raw inputs (SURVEY §2.1).

Each reader turns one of the reference's ad-hoc formats into a typed
DataFrame:

- ground truths CSV        (data_loader.py:77-91  src_csv_ground_truths)
- stations dimension CSV   (config.py:34-205      — the IMS_STATIONS literal)
- station-list text files  (data_loader.py:15-28  src_station_txt)
- nested metadata JSON     (data_loader.py:31-42  src_json_metadata)
- patch tables (parquet)   (post-ingest form of the .pt tensors)
- .pt tensor ingest        (data_loader.py:131-132 src_pt_tensor — a
  one-time conversion job, torch-gated)

Scale stance: everything lands in Parquet once (patches/pixels); the
raw-format readers exist for ingest parity and are one-pass. The
metadata reader keeps the two consumed sections as map<string,string>
(values stay strings — E-notation coercion happens at use, like the
reference's float(...) calls, data_processor.py:97-114).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import MapType, StringType

from ..util import kernel, recipe

# Env-overridable so the gated full-cardinality validation
# (tools/fullcard_check.py) can point the whole engine — including the
# oracle SQL strings that format this path in at import time — at a
# 1,298-scene fixture set in a fresh process.
FIXTURE_DIR = os.environ.get(
    "SPARK_GRAFT_FIXTURE_DIR",
    os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        ),
        "fixtures",
    ),
)

# PROBE SCENES: the fixtures model the reference's cardinality (120
# scenes × 23-93 stations ≈ 3.1M pixels), which makes full per-pixel
# oracle compares needlessly heavy in the correctness gate. Queries
# whose OUTPUT is pixel-long restrict to scenes acquired on
# day-of-month "03" (~300k pixels, both sensor families guaranteed by
# the generator) — a predicate derived purely from the scene_id string
# so DuckDB applies the identical filter — while every full-corpus
# aggregate still reads all pixels. Filters on scene_id reach the
# parquet scan (PushedFilters), so probe queries also PROCESS ~10×
# less, not just emit less.
PROBE_DAY = "03"
PROBE_SQL = f"substring(split_part(scene_id, '_', 4), 7, 2) = '{PROBE_DAY}'"


@recipe
def _scene_date_parts() -> tuple[Column, Column, Column]:
    """(YYYY, MM, DD) strings of ``scene_id``'s acquisition-date token,
    its fourth ``_``-separated field (LC08_L1TP_174034_20140103_...):
    the one Spark-side reading of the scene-id format."""
    tok = F.split(F.col("scene_id"), "_")[3]
    return F.substring(tok, 1, 4), F.substring(tok, 5, 2), F.substring(tok, 7, 2)


@recipe
def probe_scene() -> Column:
    """Spark predicate: acquisition day-of-month == PROBE_DAY."""
    return _scene_date_parts()[2] == PROBE_DAY


def dir_reader(spark: SparkSession, ext: str) -> DataFrameReader:
    """Reader for the ``*.<ext>`` files of the one directory passed to
    its load. Pass the directory, not a ``dir/*.ext`` glob: a glob that
    expands past Spark's parallel-listing threshold (32 paths, 119 in
    the fixture set) submits a file-listing job at every plan build,
    while one root directory is listed on the driver."""
    return spark.read.option("pathGlobFilter", f"*.{ext}")


def ground_truths(spark: SparkSession) -> DataFrame:
    """GT CSV with eager year/month/day derivation (data_loader.py:86-89).
    gt_id materializes CSV file order so first-match dedup is
    deterministic under distributed reads (data_loader.py:70)."""
    df = (
        spark.read.option("header", True)
        .schema("utc_date timestamp, station_id int, air_temp double, gt_id bigint")
        .csv(f"{FIXTURE_DIR}/ground_truths.csv")
    )
    return df.select(*_ground_truth_cols())


@recipe
def _ground_truth_cols() -> tuple[Column, ...]:
    return (
        F.col("utc_date"),
        F.col("station_id"),
        F.col("air_temp"),
        F.col("gt_id"),
        F.year("utc_date").alias("year"),
        F.month("utc_date").alias("month"),
        F.dayofmonth("utc_date").alias("day"),
    )


def stations_dim(spark: SparkSession) -> DataFrame:
    """Station dimension (easting/northing deliberately strings, like
    config.py's IMS_STATIONS). Always broadcast in joins."""
    return (
        spark.read.option("header", True)
        .schema(
            "id int, name string, longitude double, latitude double,"
            " easting string, northing string"
        )
        .csv(f"{FIXTURE_DIR}/stations.csv")
    )


def station_lists(spark: SparkSession) -> DataFrame:
    """Parse `[26, 41, 42]` station files into relational
    (scene_id, station_pos, station_id) rows. The positional index is
    the reference's implicit list-position correlation made explicit
    (SURVEY §2.4 join_zip_positional)."""
    raw = dir_reader(spark, "txt").text(f"{FIXTURE_DIR}/scene_stations").select(
        F.regexp_extract(F.input_file_name(), r"([^/]+)_stations\.txt$", 1).alias(
            "scene_id"
        ),
        F.split(
            F.regexp_replace(F.col("value"), r"[\[\]]", ""), r",\s*"
        ).alias("toks"),
    )
    return raw.select(
        "scene_id",
        F.posexplode(F.transform(F.col("toks"), lambda t: t.cast("int"))).alias(
            "station_pos", "station_id"
        ),
    )


def scene_metadata(spark: SparkSession) -> DataFrame:
    """Whole-file nested JSON → one row per scene with the two consumed
    sections as map<string,string>. Every leaf in an MTL file is a
    string (SURVEY §1.2), so the whole document reads as
    map<string, map<string,string>> under an EXPLICIT schema — without
    one, multiLine JSON runs an eager schema-inference pass over every
    file at each plan construction (measured: the dominant cost of all
    metadata-touching queries once the corpus hit 120 files). Scenes
    missing the thermal section carry a NULL map (filt_metadata_keys
    probes it); arbitrary per-sensor key sets land in the maps
    unchanged."""
    doc_schema = "LANDSAT_METADATA_FILE map<string, map<string,string>>"
    return (
        dir_reader(spark, "json")
        .option("multiLine", True)
        .schema(doc_schema)
        .json(f"{FIXTURE_DIR}/metadatas")
        .select(*_metadata_cols())
    )


@recipe
def _metadata_cols() -> tuple[Column, ...]:
    """scene_id from the file name, and the two consumed sections."""
    as_map = MapType(StringType(), StringType())
    return (
        F.regexp_extract(
            F.input_file_name(), r"([^/]+)_MTL_metadata\.json$", 1
        ).alias("scene_id"),
        F.element_at(
            "LANDSAT_METADATA_FILE", "LEVEL1_RADIOMETRIC_RESCALING"
        ).cast(as_map).alias("rescaling"),
        F.element_at(
            "LANDSAT_METADATA_FILE", "LEVEL1_THERMAL_CONSTANTS"
        ).cast(as_map).alias("thermal"),
    )


# Read schemas of the two parquet patch tables (FIXTURES.md §A.3). An
# explicit schema spares every spark.read.parquet a schema-inference
# job over the file footers at plan-build time (one Spark job per read).
PARQUET_SCHEMAS = {
    "scene_patches": (
        "scene_id string, station_pos int, station_id int,"
        " bands array<array<array<int>>>"
    ),
    "scene_pixels": (
        "scene_id string, station_id int, band int, y int, x int, dn int"
    ),
}


def scene_patches(spark: SparkSession) -> DataFrame:
    """Nested patch form: one row per (scene, station), bands as
    array<array<array<int>>> (bands × 7 × 7)."""
    return spark.read.schema(PARQUET_SCHEMAS["scene_patches"]).parquet(
        f"{FIXTURE_DIR}/scene_patches.parquet"
    )


def scene_pixels(spark: SparkSession) -> DataFrame:
    """Fully-long pixel form (scene_id, station_id, band, y, x, dn) —
    the 100 TB layout (SURVEY §1.7): plain columns, partition-prunable,
    no nested codegen pressure."""
    return spark.read.schema(PARQUET_SCHEMAS["scene_pixels"]).parquet(
        f"{FIXTURE_DIR}/scene_pixels.parquet"
    )


def _real_pt_decoder(content: bytes) -> list:
    """Default .pt decoder for REAL torch.save archives: decode +
    permute(1,0,2,3) + int (data_loader.py:131-132) → nested
    (stations, bands, 7, 7) ints. Uses torch.load when the executor
    image ships torch; otherwise the torch-free reader of the same
    public zipfile format (sources/torch_pt.py) — so the real ingest
    path runs end to end in this container too."""
    import io

    try:
        import torch

        t = torch.load(io.BytesIO(content), map_location="cpu")
        return t.permute(1, 0, 2, 3).int().tolist()
    except ImportError:
        import numpy as np

        from .torch_pt import load_pt

        arr = load_pt(content)
        return arr.transpose(1, 0, 2, 3).astype(np.int32).tolist()


def ingest_pt_tensors(
    spark: SparkSession,
    pt_dir: str,
    decoder=None,
    scene_predicate=None,
) -> DataFrame:
    """One-time .pt → relational conversion job (src_pt_tensor,
    data_loader.py:131-132).

    binaryFile source → mapInPandas; each executor decodes a tensor
    blob and emits (scene_id, station_pos, bands) rows. The decoder is
    injectable (bytes → nested (stations, bands, 7, 7) list) so the
    distributed plumbing — file manifest, batching, filename→scene_id,
    output schema — is tested with a deterministic fake while the torch
    decoder stays gated behind its missing dependency.
    """
    decode_one = decoder or _real_pt_decoder

    files = (
        spark.read.format("binaryFile")
        .load(pt_dir)
        .filter(F.col("path").endswith(".pt"))
    )
    if scene_predicate is not None:
        # manifest-level pruning: the predicate sees the scene_id derived
        # from the file name, so excluded blobs are never read or decoded
        files = files.withColumn(
            "scene_id",
            F.regexp_extract("path", r"([^/]+)\.pt$", 1),
        ).filter(scene_predicate)
    files = files.select("path", "content")

    out_schema = (
        "scene_id string, station_pos int, bands array<array<array<int>>>"
    )

    def decode(batches):
        import os as _os

        import pandas as pd

        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                scene_id = _os.path.basename(path)[: -len(".pt")]
                for pos, bands in enumerate(decode_one(bytes(content))):
                    rows.append(
                        {
                            "scene_id": scene_id,
                            "station_pos": pos,
                            "bands": bands,
                        }
                    )
            yield pd.DataFrame(rows, columns=["scene_id", "station_pos", "bands"])

    return files.mapInPandas(kernel(decode), schema=out_schema)
