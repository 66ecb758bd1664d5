"""WGS-84 geodesic distance (Vincenty inverse, vectorized numpy).

The reference's coordinate jitter derives meters-per-degree from geopy
WGS-84 geodesics (reference data_augmentation.py:69-99:
``geodesic((lat, lon), (lat, lon±1)).meters``). The engine's original
stand-in was a spherical haversine (<0.35% off); this module closes
that gap with Vincenty's inverse formula (public, Vincenty 1975),
which agrees with geopy's Karney implementation to sub-millimeter at
1° spans.

Why a Pandas UDF and not column trig: Vincenty iterates on λ, and each
iteration references the prior λ several times — unrolled as a Column
tree the expression DOUBLES per reference per iteration (4^n growth),
blowing up Catalyst analysis. The consumer (jitter_geo) only ever
evaluates this over the stations DIMENSION (hundreds of rows, even at
100 TB fact scale), so an Arrow-batched numpy kernel is the right
trade: exact, vectorized, and off the fact path.
"""

from __future__ import annotations

import numpy as np

# WGS-84 ellipsoid (public constants)
WGS84_A = 6378137.0
WGS84_F = 1 / 298.257223563
WGS84_B = WGS84_A * (1 - WGS84_F)


def vincenty_inverse_m(
    lat1_deg, lon1_deg, lat2_deg, lon2_deg, iters: int = 12
) -> np.ndarray:
    """Geodesic distance in meters between point arrays on WGS-84.

    Vectorized fixed-iteration Vincenty inverse; 12 iterations
    converge far past float64 precision for the ≤ ~2° spans used here
    (the antipodal non-convergence case is out of scope and would
    surface as a visible error in the tests, not silent drift).
    """
    lat1 = np.radians(np.asarray(lat1_deg, dtype=np.float64))
    lon1 = np.radians(np.asarray(lon1_deg, dtype=np.float64))
    lat2 = np.radians(np.asarray(lat2_deg, dtype=np.float64))
    lon2 = np.radians(np.asarray(lon2_deg, dtype=np.float64))

    f = WGS84_F
    u1 = np.arctan((1 - f) * np.tan(lat1))
    u2 = np.arctan((1 - f) * np.tan(lat2))
    big_l = lon2 - lon1
    sin_u1, cos_u1 = np.sin(u1), np.cos(u1)
    sin_u2, cos_u2 = np.sin(u2), np.cos(u2)

    lam = big_l.copy()
    for _ in range(iters):
        sin_lam, cos_lam = np.sin(lam), np.cos(lam)
        sin_sigma = np.sqrt(
            (cos_u2 * sin_lam) ** 2
            + (cos_u1 * sin_u2 - sin_u1 * cos_u2 * cos_lam) ** 2
        )
        cos_sigma = sin_u1 * sin_u2 + cos_u1 * cos_u2 * cos_lam
        sigma = np.arctan2(sin_sigma, cos_sigma)
        with np.errstate(divide="ignore", invalid="ignore"):
            sin_alpha = np.where(
                sin_sigma != 0, cos_u1 * cos_u2 * sin_lam / sin_sigma, 0.0
            )
        cos2_alpha = 1 - sin_alpha**2
        with np.errstate(divide="ignore", invalid="ignore"):
            cos_2sigma_m = np.where(
                cos2_alpha != 0,
                cos_sigma - 2 * sin_u1 * sin_u2 / np.where(
                    cos2_alpha != 0, cos2_alpha, 1.0
                ),
                0.0,  # equatorial line
            )
        c = f / 16 * cos2_alpha * (4 + f * (4 - 3 * cos2_alpha))
        lam = big_l + (1 - c) * f * sin_alpha * (
            sigma
            + c
            * sin_sigma
            * (cos_2sigma_m + c * cos_sigma * (-1 + 2 * cos_2sigma_m**2))
        )

    u_sq = cos2_alpha * (WGS84_A**2 - WGS84_B**2) / WGS84_B**2
    big_a = 1 + u_sq / 16384 * (
        4096 + u_sq * (-768 + u_sq * (320 - 175 * u_sq))
    )
    big_b = u_sq / 1024 * (256 + u_sq * (-128 + u_sq * (74 - 47 * u_sq)))
    delta_sigma = (
        big_b
        * sin_sigma
        * (
            cos_2sigma_m
            + big_b
            / 4
            * (
                cos_sigma * (-1 + 2 * cos_2sigma_m**2)
                - big_b
                / 6
                * cos_2sigma_m
                * (-3 + 4 * sin_sigma**2)
                * (-3 + 4 * cos_2sigma_m**2)
            )
        )
    )
    s = WGS84_B * big_a * (sigma - delta_sigma)
    # coincident points → nan from 0-division guards; distance is 0
    return np.where(np.asarray(sin_sigma) == 0, 0.0, s)


def wgs84_deg_meters(lat_deg) -> tuple[np.ndarray, np.ndarray]:
    """(meters per 1° of longitude at this latitude, meters per 1° of
    latitude northward) — the two factors the reference derives with
    geopy (data_augmentation.py:69-99)."""
    lat = np.asarray(lat_deg, dtype=np.float64)
    zeros = np.zeros_like(lat)
    lon_m = vincenty_inverse_m(lat, zeros, lat, zeros + 1.0)
    lat_m = vincenty_inverse_m(lat, zeros, lat + 1.0, zeros)
    return lon_m, lat_m
