"""Radiometric conversion: DN → radiance → brightness temperature.

Faithful re-expression of the reference's math (data_processor.py) as
JVM higher-order array expressions over the nested (bands × 7 × 7)
patch column — no Python in the hot path, whole-stage codegen applies.

Formulas (data_processor.py:95-115, replicated verbatim — including
the non-standard L8/9 BT form; do NOT "fix" it to the USGS formula):

- radiance, every band i:  L = ML_i * DN + AL_i
- Landsat 5  (7 bands),  thermal band 6  (idx 5):
    BT = K2 / ln(K1 / L + 1)
- Landsat 8/9 (11 bands), thermal band 10 (idx 9):
    BT = K2 / (K1 / (L + 1))          # no log; +1 inside on L

BT is computed from the *already radiance-converted* value (the
reference converts in place, then overwrites the thermal band).
Sensor detection is band count, not scene-id prefix
(data_processor.py:15-36). Scenes with other band counts are dropped
(filt_band_cardinality); scenes lacking either metadata section are
dropped (coefficients_from_metadata KeyError, data_processor.py:84-89).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import recipe


def coeff(map_col: str, prefix: str, band: Column) -> Column:
    """String-valued metadata coefficient → double (the reference's
    float('7.6583E-01') coercion, data_processor.py:97-98)."""
    return F.element_at(
        F.col(map_col), F.concat(F.lit(prefix), band.cast("string"))
    ).cast("double")


@recipe
def k_constant(map_col: str, which: str) -> Column:
    """K1/K2 with BAND_10 → BAND_6 fallback (feature_extractor.py:82-95
    probes in exactly this order)."""
    return F.coalesce(
        F.element_at(F.col(map_col), f"{which}_CONSTANT_BAND_10"),
        F.element_at(F.col(map_col), f"{which}_CONSTANT_BAND_6"),
    ).cast("double")


def np_div(a: Column, b: Column) -> Column:
    """numpy division semantics: x/0 → ±inf (sign of x), 0/0 → NaN.
    Spark 4's ANSI mode raises DIVIDE_BY_ZERO instead (found by the
    hypothesis property test on a radiance landing exactly on 0);
    CaseWhen's lazy branches keep the ANSI division from ever seeing a
    zero divisor."""
    return (
        F.when(
            b == 0,
            F.when(a > 0, F.lit(float("inf")))
            .when(a < 0, F.lit(float("-inf")))
            .otherwise(F.lit(float("nan"))),
        )
        .otherwise(a / b)
    )


def np_ln(arg: Column) -> Column:
    """numpy natural-log semantics (the reference uses np.log,
    data_processor.py:113): ln(neg)→NaN, ln(0)→-inf. Spark's log()
    returns NULL for non-positive arguments, which would silently drop
    such pixels from downstream aggregates while still counting them —
    every BT path must use this, never F.log directly."""
    return (
        F.when(arg > 0, F.log(arg))
        .when(arg == 0, F.lit(float("-inf")))
        .otherwise(F.lit(float("nan")))
    )


def brightness_temperatures(
    radiance: Column, k1: Column, k2: Column
) -> tuple[Column, Column]:
    """(Landsat 5, Landsat 8/9) brightness temperature of a thermal-band
    radiance — the two formulas of the module docstring, with numpy
    division/log semantics (np_div, np_ln)."""
    l5 = np_div(k2, np_ln(np_div(k1, radiance) + F.lit(1.0)))
    l89 = np_div(k2, np_div(k1, radiance + F.lit(1.0)))
    return l5, l89


def thermal_band_index(n_bands: Column, base: int = 0) -> Column:
    """The sensor→thermal-band mapping, single source of truth
    (data_processor.py:109/102: L5 band 6, L8/9 band 10). ``base=0``
    for positional array indexing, ``base=1`` for element_at/band ids."""
    return F.when(n_bands == 7, F.lit(5 + base)).otherwise(F.lit(9 + base))


def filter_valid_scenes(df: DataFrame) -> DataFrame:
    """Drop scenes the reference drops before any math:
    band cardinality ∉ {7, 11} (data_processor.py:76-82) and missing
    metadata (KeyError path, data_processor.py:84-89;
    feature_extractor.py:82-96 skips via else-continue). The K-constant
    probe — not mere section presence — is the reference's predicate: a
    LEVEL1_THERMAL_CONSTANTS section lacking both BAND_10 and BAND_6
    constants still raises KeyError there, so it must drop here too
    (and the DuckDB oracle's meta_k WHERE k1/k2 IS NOT NULL agrees)."""
    return df.where(_valid_scene())


@recipe
def _valid_scene() -> Column:
    """The row predicate of ``filter_valid_scenes``."""
    return (
        F.size("bands").isin(7, 11)
        & F.col("rescaling").isNotNull()
        & k_constant("thermal", "K1").isNotNull()
        & k_constant("thermal", "K2").isNotNull()
    )


def _is_landsat_5(n_bands: Column) -> Column:
    """1 for a 7-band (Landsat 5) patch or scene, else 0."""
    return F.when(n_bands == 7, 1).otherwise(0)


def with_sensor_flag(df: DataFrame) -> DataFrame:
    """is_landsat_5 from band count (SURVEY §2.2 proj_sensor_flag)."""
    return df.withColumn("is_landsat_5", _patch_sensor_flag())


@recipe
def _patch_sensor_flag() -> Column:
    return _is_landsat_5(F.size("bands"))


def _rescaling(band: Column) -> tuple[Column, Column]:
    """(ML, AL) radiance rescaling coefficients of a 1-based band."""
    return (
        coeff("rescaling", "RADIANCE_MULT_BAND_", band),
        coeff("rescaling", "RADIANCE_ADD_BAND_", band),
    )


def _radiance(dn: Column, ml: Column, al: Column) -> Column:
    """L = ML·DN + AL (data_processor.py:95-99)."""
    return dn.cast("double") * ml + al


def _per_pixel(grid: Column, fn) -> Column:
    """``fn`` applied to every pixel of one band's 2-D grid."""
    return F.transform(grid, lambda row: F.transform(row, fn))


def _radiance_grid(grid: Column, i: Column) -> Column:
    """One band's DN grid (0-based band index ``i``) → radiance grid."""
    ml, al = _rescaling(i + 1)
    return _per_pixel(grid, lambda px: _radiance(px, ml, al))


def to_brightness_temperature(df: DataFrame) -> DataFrame:
    """bands(int DN) + rescaling/thermal maps → ``bt_bands``, a nested
    double array with radiance everywhere and BT in the thermal band.

    One transform pass with index-aware lambdas; the per-band ML/AL
    map lookups are loop-invariant so Catalyst evaluates them once per
    row, not per pixel.
    """
    return df.withColumn("bt_bands", _bt_bands())


@recipe
def _bt_bands() -> Column:
    """The ``bt_bands`` column of ``to_brightness_temperature``."""
    thermal_idx = thermal_band_index(F.size("bands"), base=0)
    k1 = k_constant("thermal", "K1")
    k2 = k_constant("thermal", "K2")

    def band_expr(grid: Column, i: Column) -> Column:
        ml, al = _rescaling(i + 1)

        def bt(px: Column) -> tuple[Column, Column]:
            return brightness_temperatures(_radiance(px, ml, al), k1, k2)

        return F.when(
            i == thermal_idx,
            F.when(F.size("bands") == 7, _per_pixel(grid, lambda px: bt(px)[0]))
            .otherwise(_per_pixel(grid, lambda px: bt(px)[1])),
        ).otherwise(_radiance_grid(grid, i))

    return F.transform(F.col("bands"), band_expr)
