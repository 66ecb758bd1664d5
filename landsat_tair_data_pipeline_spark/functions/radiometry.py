"""Radiometric conversion: DN → radiance → brightness temperature.

Faithful re-expression of the reference's math (data_processor.py) as
JVM higher-order array expressions over the nested (bands × 7 × 7)
patch column — no Python in the hot path. Spark runs the lambdas
interpreted, so what they read per pixel is kept small (``_per_row``).

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
    """(ML, AL) radiance rescaling coefficients of a 1-based band, as
    doubles (the reference's float('7.6583E-01') coercion,
    data_processor.py:97-98)."""
    return tuple(
        F.element_at(F.col("rescaling"), F.concat(F.lit(prefix), band.cast("string")))
        .cast("double")
        for prefix in ("RADIANCE_MULT_BAND_", "RADIANCE_ADD_BAND_")
    )


def _radiance(dn: Column, ml: Column, al: Column) -> Column:
    """L = ML·DN + AL (data_processor.py:95-99)."""
    return dn.cast("double") * ml + al


# Landsat 8/9 has the most bands; a band past it reads NULL ML and AL,
# as the metadata lookup of a band the metadata does not list does
MAX_BANDS = 11


@recipe
def _row_coefficients() -> Column:
    """The per-row invariants of the conversion as one struct: the band
    count ``n_bands``, ML and AL of bands 1..MAX_BANDS as
    ``array<double>``, K1 and K2."""
    pairs = [_rescaling(F.lit(b)) for b in range(1, MAX_BANDS + 1)]
    return F.struct(
        F.size("bands").alias("n_bands"),
        F.array(*[ml for ml, _ in pairs]).alias("ml"),
        F.array(*[al for _, al in pairs]).alias("al"),
        k_constant("thermal", "K1").alias("k1"),
        k_constant("thermal", "K2").alias("k2"),
    )


def _per_row(convert) -> Column:
    """``convert(c)``, with ``c`` the row's ``_row_coefficients`` bound
    as a lambda variable, so the metadata lookups run once per row.

    A ``transform`` lambda body runs interpreted and whole for every
    element, and Catalyst hoists nothing loop-invariant out of it, so
    a lookup written inside the per-pixel lambdas runs per pixel.
    Projecting the invariants as columns first does not hold either:
    Catalyst inlines a projected column back into a lambda that reads
    it once (CollapseProject), and the filter that a posexplode of the
    converted bands infers is pushed down through the projections into
    the metadata join's condition with every lookup inlined. The
    argument of a one-element ``transform`` is evaluated once per row
    and is never inlined into its lambda."""
    return F.transform(F.array(_row_coefficients()), convert)[0]


def _per_pixel(grid: Column, fn) -> Column:
    """``fn`` applied to every pixel of one band's 2-D grid."""
    return F.transform(grid, lambda row: F.transform(row, fn))


def _band_radiance(c: Column, i: Column):
    """DN → radiance of a pixel of the 0-based band ``i``, with the
    row coefficients ``c`` (``get``: NULL past the end of the arrays,
    never an ANSI index error)."""
    ml, al = F.get(c["ml"], i), F.get(c["al"], i)
    return lambda px: _radiance(px, ml, al)


def to_radiance(df: DataFrame) -> DataFrame:
    """bands(int DN) + rescaling map → ``rad_bands``, the nested double
    radiance of every band, before any thermal overwrite."""
    return df.withColumn("rad_bands", _rad_bands())


@recipe
def _rad_bands() -> Column:
    """The ``rad_bands`` column of ``to_radiance``."""
    return _per_row(
        lambda c: F.transform(
            F.col("bands"), lambda grid, i: _per_pixel(grid, _band_radiance(c, i))
        )
    )


def to_brightness_temperature(df: DataFrame) -> DataFrame:
    """bands(int DN) + rescaling/thermal maps → ``bt_bands``, a nested
    double array with radiance everywhere and BT in the thermal band.

    The metadata lookups run once per row (``_per_row``); the per-pixel
    lambdas read only the row coefficients and their own variables.
    """
    return df.withColumn("bt_bands", _bt_bands())


@recipe
def _bt_bands() -> Column:
    """The ``bt_bands`` column of ``to_brightness_temperature``."""

    def convert(c: Column) -> Column:
        thermal_idx = thermal_band_index(c["n_bands"], base=0)

        def band_expr(grid: Column, i: Column) -> Column:
            radiance = _band_radiance(c, i)

            def bt(px: Column) -> tuple[Column, Column]:
                return brightness_temperatures(radiance(px), c["k1"], c["k2"])

            return F.when(
                i == thermal_idx,
                F.when(c["n_bands"] == 7, _per_pixel(grid, lambda px: bt(px)[0]))
                .otherwise(_per_pixel(grid, lambda px: bt(px)[1])),
            ).otherwise(_per_pixel(grid, radiance))

        return F.transform(F.col("bands"), band_expr)

    return _per_row(convert)
