"""Feature assembly: the 365-element vector (feature_extractor.py:17-125).

Layout (SURVEY §1.6 — augmentation depends on it via negative
indexing, so positions are contract):

| slice      | width | content                                            |
|------------|-------|----------------------------------------------------|
| [0, 343)   | 343   | 7-band × 7×7 patch, band-major, BT-converted       |
| [343, 357) | 14    | RADIANCE_MULT ×7 then RADIANCE_ADD ×7, mapped order|
| [357, 359) | 2     | K2 then K1 (order matters)                         |
| [359]      | 1     | is_landsat_5                                       |
| [360, 365) | 5     | longitude, latitude, year, month, day              |

L8/9 band remap: np.take with [1,2,3,4,5,9,6] (0-based) ⇒ 1-based
bands [2,3,4,5,6,10,7] for both the image slice and the coefficient
gather (feature_extractor.py:62-76, config.py:19). The reference keeps
coefficient strings un-floated at this point; the engine casts to
double (SURVEY §1.6 declares the engine's feature type float64).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.landsat import _scene_date_parts
from ..util import recipe
from .radiometry import k_constant

# 0-based band indexes selected for Landsat 8/9 (config.py:19)
L8_BAND_TAKE = [1, 2, 3, 4, 5, 9, 6]
FEATURE_LEN = 365


def _l8_remap(bands: Column) -> Column:
    """The 7 Landsat 8/9 bands the features keep, in feature order."""
    return F.array(*[bands[i] for i in L8_BAND_TAKE])


def _image343(bands: Column) -> Column:
    """The flat 343-value image of a (bands × 7 × 7) patch: Landsat 5
    bands as they are, Landsat 8/9 through ``_l8_remap``, band-major.
    Reads ``is_landsat_5``."""
    remapped = F.when(F.col("is_landsat_5") == 1, bands).otherwise(_l8_remap(bands))
    return F.flatten(F.flatten(remapped))


def _coeffs14(is_l5: Column) -> Column:
    """7 MULT then 7 ADD, in mapped-band order (feature_extractor.py:64-76)."""
    def gather(prefix: str, bands_1based: list[int]) -> list[Column]:
        return [
            F.element_at(F.col("rescaling"), f"{prefix}{b}").cast("double")
            for b in bands_1based
        ]

    l5 = F.array(
        *gather("RADIANCE_MULT_BAND_", list(range(1, 8))),
        *gather("RADIANCE_ADD_BAND_", list(range(1, 8))),
    )
    l8 = F.array(
        *gather("RADIANCE_MULT_BAND_", [i + 1 for i in L8_BAND_TAKE]),
        *gather("RADIANCE_ADD_BAND_", [i + 1 for i in L8_BAND_TAKE]),
    )
    return F.when(is_l5 == 1, l5).otherwise(l8)


def _k2_k1() -> Column:
    """[K2, K1] — K2 first (feature_extractor.py:82-95), BAND_10
    probed before BAND_6 regardless of sensor."""
    return F.array(k_constant("thermal", "K2"), k_constant("thermal", "K1"))


def assemble_features(df: DataFrame) -> DataFrame:
    """Add the 365-wide `features` array<double> column.

    Requires columns: bt_bands (nested double bands), is_landsat_5,
    rescaling, thermal, longitude, latitude, and scene_id (for date
    parts, feature_extractor.py:106-109).
    """
    return df.withColumn("features", _features())


@recipe
def _features() -> Column:
    """The ``features`` column of ``assemble_features``."""
    year, month, day = (p.cast("double") for p in _scene_date_parts())
    return F.concat(
        _image343(F.col("bt_bands")),
        _coeffs14(F.col("is_landsat_5")),
        _k2_k1(),
        F.array(F.col("is_landsat_5").cast("double")),
        F.array(F.col("longitude"), F.col("latitude"), year, month, day),
    )
