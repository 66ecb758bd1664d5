"""Seeded Landsat fixture set for the ``landsat_chain`` workload.

Writes the same files, columns and trap cases as the engine's in-repo
fixtures (ground truths, station dimension, station-list text files,
nested all-string metadata JSON, the nested patch table and the
pixel-long table), but draws every value from ``seed``. What the seed
does not change is the amount of work: the scene ids, the per-scene
station counts and the scenes that carry the missing-station trap are
the same for every seed, so two seeds cost the chain the same pixel
count and differ only in values, station choices and ground-truth
gaps.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# (scene_id, n_bands, has_metadata, has_thermal) — the hand-checkable
# traps: L5 and L8/9 happy paths, a 5-band malformed scene, metadata
# without thermal constants, and a scene with no metadata file
TRAP_SCENES = [
    ("LT05_L1TP_174038_20100715_20200823_02_T1", 7, True, True),
    ("LT05_L1TP_175038_20101007_20200823_02_T1", 7, True, True),
    ("LC08_L1TP_174038_20190603_20200828_02_T1", 11, True, True),
    ("LC08_L1TP_175037_20140628_20200912_02_T1", 11, True, True),
    ("LC09_L1TP_174038_20220603_20230401_02_T1", 11, True, True),
    ("LC08_L1TP_176039_20150101_20200910_02_T1", 11, True, False),
    ("LT05_L1TP_177040_20090101_20200823_02_T1", 5, True, True),
    ("LC08_L1TP_178041_20160101_20200901_02_T1", 11, False, True),
]
TRAP_STATION_IDS = [2, 6, 8, 10, 13, 16, 21, 28, 29, 30, 41, 42]
MISSING_FROM_DIM = 99  # listed by scenes, absent from stations.csv
N_DIM_STATIONS = 170
STATIONS_PER_SCENE = (23, 93)


def scene_ids(n_generated: int) -> list[tuple[str, int, bool, bool]]:
    """Trap scenes plus ``n_generated`` bulk scenes with deterministic
    ids: mixed L5/L8/L9, dates spread over 2009-2023, and day-03
    acquisitions (the engine's probe-scene predicate) in both sensor
    families."""
    scenes = list(TRAP_SCENES)
    sensors = [("LT05", 7), ("LC08", 11), ("LC09", 11)]
    for i in range(n_generated):
        prefix, n_bands = sensors[i % 3]
        day = 3 if i % 14 == 0 else 1 + (i * 11) % 28
        year = 2009 + (i * 5) % 15
        if prefix == "LT05":
            year = min(year, 2011)
        scenes.append(
            (
                f"{prefix}_L1TP_{170 + i % 12:03d}{30 + (i * 7) % 16:03d}_"
                f"{year:04d}{1 + (i * 3) % 12:02d}{day:02d}_"
                f"{min(year + 1, 2023):04d}0101_02_T1",
                n_bands,
                True,
                True,
            )
        )
    return scenes


def station_counts(n_generated: int) -> list[int]:
    """Stations per scene, trap scenes first: spread over the
    reference's 23-93 range in a fixed scrambled order, the same for
    every seed (so is each scene's band count, hence the pixel count)."""
    lo, hi = STATIONS_PER_SCENE
    bulk = [int(round(c)) for c in np.linspace(lo, hi, n_generated)]
    random.Random(0).shuffle(bulk)
    return [6, 9, 7, 8, 6, 9, 7, 8][: len(TRAP_SCENES)] + bulk


def _metadata(n_bands: int, has_thermal: bool, rng: random.Random) -> dict:
    rescale = {}
    thermal_band = 6 if n_bands == 7 else 10
    for b in range(1, n_bands + 1):
        if b == thermal_band:
            # keeps thermal radiance positive so ln(K1/L + 1) is defined
            rescale[f"RADIANCE_MULT_BAND_{b}"] = f"{rng.uniform(3e-4, 6e-2):.4E}"
            rescale[f"RADIANCE_ADD_BAND_{b}"] = f"{rng.uniform(0.05, 1.5):.5f}"
        else:
            rescale[f"RADIANCE_MULT_BAND_{b}"] = f"{rng.uniform(0.0003, 1.2):.4E}"
            rescale[f"RADIANCE_ADD_BAND_{b}"] = f"{rng.uniform(-65.0, 0.2):.5f}"
    doc = {"LANDSAT_METADATA_FILE": {"LEVEL1_RADIOMETRIC_RESCALING": rescale}}
    if has_thermal:
        thermal = (
            {"K1_CONSTANT_BAND_6": "607.76", "K2_CONSTANT_BAND_6": "1260.56"}
            if n_bands == 7
            else {
                "K1_CONSTANT_BAND_10": "774.8853",
                "K2_CONSTANT_BAND_10": "1321.0789",
                "K1_CONSTANT_BAND_11": "480.8883",
                "K2_CONSTANT_BAND_11": "1201.1442",
            }
        )
        doc["LANDSAT_METADATA_FILE"]["LEVEL1_THERMAL_CONSTANTS"] = thermal
    return doc


def generate(root: str, seed: int, n_generated: int) -> None:
    """Write the fixture set, trap scenes plus ``n_generated`` bulk
    scenes, under ``root`` (which must not hold an older set)."""
    rng = random.Random(seed)
    nprng = np.random.RandomState(seed % 2**32)
    for d in ("scene_stations", "metadatas"):
        os.makedirs(os.path.join(root, d))

    dim_ids = [i for i in range(2, 3 + N_DIM_STATIONS) if i != MISSING_FROM_DIM]
    dim_ids = dim_ids[:N_DIM_STATIONS]
    with open(os.path.join(root, "stations.csv"), "w") as f:
        f.write("id,name,longitude,latitude,easting,northing\n")
        for sid in dim_ids:
            lon = round(34.0 + rng.random() * 2.0, 5)
            lat = round(29.5 + rng.random() * 3.5, 5)
            f.write(
                f"{sid},STATION_{sid},{lon},{lat},"
                f"{600000 + sid * 13},{3300000 + sid * 17}\n"
            )

    scenes = scene_ids(n_generated)
    n_trap = len(TRAP_SCENES)
    counts = station_counts(n_generated)

    patch_rows: list[dict] = []
    px_cols: dict[str, list[np.ndarray]] = {
        k: [] for k in ("scene", "station_id", "band", "y", "x", "dn")
    }
    stations_of: dict[str, list[int]] = {}
    for idx, (scene_id, n_bands, _, _) in enumerate(scenes):
        pool = TRAP_STATION_IDS if idx < n_trap else dim_ids
        stations = sorted(rng.sample(pool, counts[idx]))
        if idx % 2 == 0:  # every other scene lists the missing station
            stations.append(MISSING_FROM_DIM)
        stations_of[scene_id] = stations
        path = os.path.join(root, "scene_stations", f"{scene_id}_stations.txt")
        with open(path, "w") as f:
            f.write("[" + ", ".join(str(s) for s in stations) + "]")
        n_st = len(stations)
        dn = nprng.randint(1, 255, size=(n_st, n_bands, 7, 7)).astype(np.int32)
        for pos, sid in enumerate(stations):
            patch_rows.append(
                {
                    "scene_id": scene_id,
                    "station_pos": pos,
                    "station_id": sid,
                    "bands": dn[pos].tolist(),
                }
            )
        # pixel-long rows in (station, band, y, x) order
        px_cols["scene"].append(np.full(n_st * n_bands * 49, idx, np.int32))
        px_cols["station_id"].append(
            np.repeat(np.array(stations, np.int32), n_bands * 49)
        )
        px_cols["band"].append(
            np.tile(np.repeat(np.arange(1, n_bands + 1, dtype=np.int32), 49), n_st)
        )
        px_cols["y"].append(np.tile(np.repeat(np.arange(7, dtype=np.int32), 7), n_st * n_bands))
        px_cols["x"].append(np.tile(np.arange(7, dtype=np.int32), n_st * n_bands * 7))
        px_cols["dn"].append(dn.reshape(-1))

    names = pa.array([s[0] for s in scenes], pa.string())
    scene_col = pa.DictionaryArray.from_arrays(
        pa.array(np.concatenate(px_cols.pop("scene"))), names
    ).cast(pa.string())
    pixels = pa.table(
        {"scene_id": scene_col}
        | {k: pa.array(np.concatenate(v), pa.int32()) for k, v in px_cols.items()}
    )
    pq.write_table(pixels, os.path.join(root, "scene_pixels.parquet"))
    patch_schema = pa.schema(
        [
            ("scene_id", pa.string()),
            ("station_pos", pa.int32()),
            ("station_id", pa.int32()),
            ("bands", pa.list_(pa.list_(pa.list_(pa.int32())))),
        ]
    )
    pq.write_table(
        pa.Table.from_pylist(patch_rows, schema=patch_schema),
        os.path.join(root, "scene_patches.parquet"),
    )

    for scene_id, n_bands, has_meta, has_thermal in scenes:
        doc = _metadata(n_bands, has_thermal, rng)
        if not has_meta:
            continue  # drawn anyway so later scenes' values do not shift
        path = os.path.join(root, "metadatas", f"{scene_id}_MTL_metadata.json")
        with open(path, "w") as f:
            json.dump(doc, f, indent=2)

    # ground truths: ~15% of (date, station) pairs missing (the -9999.0
    # sentinel path), ~10% duplicated with a later gt_id (first wins)
    gt_id = 0
    seen: set[tuple[str, int]] = set()
    with open(os.path.join(root, "ground_truths.csv"), "w") as f:
        f.write("utc_date,station_id,air_temp,gt_id\n")
        for scene_id, *_ in scenes:
            tok = scene_id.split("_")[3]
            day = f"{tok[:4]}-{tok[4:6]}-{tok[6:8]}"
            for sid in stations_of[scene_id]:
                if (day, sid) in seen:
                    continue
                seen.add((day, sid))
                r = rng.random()
                temp = round(rng.uniform(5.0, 42.0), 2)
                if r < 0.15:
                    continue
                f.write(f"{day} 07:30:00,{sid},{temp},{gt_id}\n")
                gt_id += 1
                if r > 0.9:
                    f.write(f"{day} 08:30:00,{sid},{round(temp + 5.0, 2)},{gt_id}\n")
                    gt_id += 1
