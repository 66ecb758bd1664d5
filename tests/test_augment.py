"""Unit tests for augmentation + split (SURVEY §2.8-§2.9) — the
properties the rows-only queries can't get from the oracle gate:
rotation laws vs numpy, jitter bounds, exact-split invariants.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from landsat_tair_data_pipeline_spark.operators.augment import (
    aug_geo_shift,
    aug_jitter_date,
    exact_split,
    rot_bands,
    rot_grid,
)


# Earth mean radius in meters (the haversine check distance below)
EARTH_R_M = 6371008.8


@pytest.fixture(scope="module")
def patch_df(spark):
    """One deterministic 2-band 7×7 patch."""
    rng = np.random.default_rng(7)
    bands = rng.integers(0, 255, size=(2, 7, 7)).tolist()
    return spark.createDataFrame(
        [(bands,)], "bands array<array<array<int>>>"
    ), np.array(bands)


@pytest.mark.parametrize("k", [1, 2, 3])
def test_rot_matches_numpy(spark, patch_df, k):
    df, arr = patch_df
    got = df.select(rot_bands(F.col("bands"), k).alias("r")).first()["r"]
    want = np.rot90(arr, k=k, axes=(1, 2))  # data_augmentation.py:22-27
    assert (np.array(got) == want).all()


def test_rot_composition_laws(spark, patch_df):
    df, arr = patch_df
    r = df.select(
        rot_grid(rot_grid(rot_grid(rot_grid(F.col("bands")[0], 1), 1), 1), 1).alias(
            "ident"
        ),
        rot_grid(rot_grid(F.col("bands")[0], 1), 1).alias("twice"),
        rot_grid(F.col("bands")[0], 2).alias("r180"),
    ).first()
    assert r["ident"] == arr[0].tolist()  # rot90^4 = id
    assert r["twice"] == r["r180"]  # rot90^2 = rot180


def test_jitter_date_bounds(spark):
    rows = aug_jitter_date(spark, "").collect()
    assert rows
    for r in rows:
        for v in ("rot90", "rot180", "rot270"):
            # (day + [5,15]) % 30 with 0→1 ⇒ 1..29
            assert 1 <= r[f"day_{v}"] <= 29
            assert 1 <= r[f"month_{v}"] <= 11 or r[f"month_{v}"] == 12


def test_jitter_date_shift_range(spark):
    """The day shift itself must be within randint(5,15) of the
    original, mod 30 (data_augmentation.py:42-47)."""
    rows = aug_jitter_date(spark, "").collect()
    for r in rows:
        legal = {
            max(1, (r["dy"] + s) % 30) if (r["dy"] + s) % 30 == 0 else (r["dy"] + s) % 30
            for s in range(5, 16)
        }
        legal = {1 if x == 0 else x for x in legal}
        assert r["day_rot90"] in legal


def test_geo_shift_bounds(spark):
    """Each axis moves 5..max_km — check the haversine-displacement of
    each variant is within [5, max·√2 + slack] km, never zero."""
    rows = aug_geo_shift(spark, "").collect()
    assert rows

    def hav_km(lat1, lon1, lat2, lon2):
        p1, p2 = np.radians([lat1, lat2])
        dl = np.radians(lon2 - lon1)
        dp = p2 - p1
        a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
        return 2 * EARTH_R_M * np.arcsin(np.sqrt(a)) / 1000.0

    for r in rows:
        for v, max_km in (("rot90", 10.0), ("rot180", 15.0), ("rot270", 10.0)):
            d = hav_km(
                r["latitude"], r["longitude"], r[f"lat_{v}"], r[f"lon_{v}"]
            )
            assert 5.0 * 0.95 <= d <= max_km * 2**0.5 * 1.05, (v, d)


def test_exact_split_invariants(spark):
    df = spark.range(1003).withColumnRenamed("id", "k")
    out = exact_split(df, seed=1, train_ratio=0.8).cache()
    counts = dict(
        out.groupBy("split").count().rdd.map(tuple).collect()
    )
    assert counts["train"] == int(1003 * 0.8)  # exact, not Bernoulli
    assert counts["test"] == 1003 - int(1003 * 0.8)
    # permutation: every input row appears exactly once
    assert out.count() == 1003
    assert out.select("k").distinct().count() == 1003
    out.unpersist()


def test_exact_split_deterministic(spark):
    df = spark.range(500).withColumnRenamed("id", "k")
    a = sorted(map(tuple, exact_split(df, seed=9).collect()))
    b = sorted(map(tuple, exact_split(df, seed=9).collect()))
    assert a == b


def test_jitter_geo_factors_are_wgs84_exact(spark):
    """r5: jitter_geo's meters-per-degree are now true WGS-84 geodesics
    (Vincenty inverse — functions/geodesy.py), matching the reference's
    geopy calls (data_augmentation.py:69-99) instead of the spherical
    approximation. Oracle: the public WGS-84 arc-length series — the
    1°-span distance φ→φ+1 equals the instantaneous series at the
    midpoint to sub-meter, and the parallel-vs-geodesic lon difference
    is also sub-meter at these latitudes, so 1e-4 relative bounds both
    (vs 0.35% for the old spherical stand-in — a 35× tightening)."""
    import math

    from landsat_tair_data_pipeline_spark.operators.augment import (
        _wgs84_deg_meters_cols,
    )

    def series_lat_m(phi):
        r = math.radians(phi)
        return (
            111132.954
            - 559.822 * math.cos(2 * r)
            + 1.175 * math.cos(4 * r)
            - 0.0023 * math.cos(6 * r)
        )

    def series_lon_m(phi):
        r = math.radians(phi)
        return (
            111412.84 * math.cos(r)
            - 93.5 * math.cos(3 * r)
            + 0.118 * math.cos(5 * r)
        )

    lats = [29.5, 31.0, 33.0]
    df = spark.createDataFrame([(lat,) for lat in lats], "lat double")
    lon_m, lat_m = _wgs84_deg_meters_cols(F.col("lat"))
    got = {
        r["lat"]: (r["lon_m"], r["lat_m"])
        for r in df.select(
            "lat", lon_m.alias("lon_m"), lat_m.alias("lat_m")
        ).collect()
    }
    for lat in lats:
        g_lon, g_lat = got[lat]
        exp_lon = series_lon_m(lat)
        exp_lat = series_lat_m(lat + 0.5)  # midpoint == 1°-span distance
        assert abs(g_lon - exp_lon) / exp_lon < 1e-4, (lat, g_lon, exp_lon)
        assert abs(g_lat - exp_lat) / exp_lat < 1e-4, (lat, g_lat, exp_lat)
