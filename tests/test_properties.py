"""Property-based tests (SURVEY §5.4): the radiometric math against an
independent numpy reimplementation on random DN patches, and the .pt
ingest plumbing with an injected decoder.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from landsat_tair_data_pipeline_spark.functions.radiometry import (
    to_brightness_temperature,
)


def _numpy_reference(dn, ml, al, k1, k2, n_bands):
    """Independent reimplementation of data_processor.py:92-115."""
    out = dn.astype(np.float64)
    for b in range(n_bands):
        out[b] = out[b] * ml[b] + al[b]
    t = 5 if n_bands == 7 else 9
    L = out[t]
    if n_bands == 7:
        with np.errstate(divide="ignore", invalid="ignore"):
            out[t] = k2 / np.log(k1 / L + 1.0)
    else:
        out[t] = k2 / (k1 / (L + 1.0))
    return out


@st.composite
def scene(draw):
    n_bands = draw(st.sampled_from([7, 11]))
    rng = np.random.default_rng(draw(st.integers(0, 2**31 - 1)))
    dn = rng.integers(1, 255, size=(n_bands, 7, 7)).astype(np.int32)
    ml = [round(draw(st.floats(1e-4, 2.0)), 6) for _ in range(n_bands)]
    al = [round(draw(st.floats(-10.0, 10.0)), 6) for _ in range(n_bands)]
    k1 = round(draw(st.floats(100.0, 1500.0)), 4)
    k2 = round(draw(st.floats(500.0, 2000.0)), 4)
    return n_bands, dn, ml, al, k1, k2


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(scene())
def test_bt_matches_numpy_reference(spark, sc):
    n_bands, dn, ml, al, k1, k2 = sc
    rescaling = {}
    for b in range(n_bands):
        # metadata values are STRINGS incl. E-notation (SURVEY §1.2)
        rescaling[f"RADIANCE_MULT_BAND_{b + 1}"] = f"{ml[b]:.4E}"
        rescaling[f"RADIANCE_ADD_BAND_{b + 1}"] = f"{al[b]:.4E}"
    kband = 6 if n_bands == 7 else 10
    thermal = {
        f"K1_CONSTANT_BAND_{kband}": str(k1),
        f"K2_CONSTANT_BAND_{kband}": str(k2),
    }
    df = spark.createDataFrame(
        [("s", dn.tolist(), rescaling, thermal)],
        "scene_id string, bands array<array<array<int>>>, "
        "rescaling map<string,string>, thermal map<string,string>",
    )
    got = np.array(
        to_brightness_temperature(df).select("bt_bands").first()["bt_bands"]
    )
    # E-notation strings round-trip exactly at 4 sig digits; feed the
    # same parsed values to the reference
    ml_parsed = [float(f"{m:.4E}") for m in ml]
    al_parsed = [float(f"{a:.4E}") for a in al]
    want = _numpy_reference(dn, ml_parsed, al_parsed, k1, k2, n_bands)
    assert np.allclose(got, want, rtol=1e-12, equal_nan=True)


def test_bt_l89_formula_is_the_reference_one(spark):
    """Guard the faithful weirdness: L8/9 BT must be K2/(K1/(L+1)) —
    NOT the USGS K2/ln(K1/L + 1) (SURVEY §2.6 map_bt_l89)."""
    dn = np.full((11, 7, 7), 100, dtype=np.int32)
    rescaling = {
        **{f"RADIANCE_MULT_BAND_{b}": "2.0E-0" for b in range(1, 12)},
        **{f"RADIANCE_ADD_BAND_{b}": "0.0E-0" for b in range(1, 12)},
    }
    thermal = {"K1_CONSTANT_BAND_10": "774.8853", "K2_CONSTANT_BAND_10": "1321.0789"}
    df = spark.createDataFrame(
        [("s", dn.tolist(), rescaling, thermal)],
        "scene_id string, bands array<array<array<int>>>, "
        "rescaling map<string,string>, thermal map<string,string>",
    )
    bt = np.array(
        to_brightness_temperature(df).select("bt_bands").first()["bt_bands"]
    )
    L = 200.0
    assert np.allclose(bt[9], 1321.0789 / (774.8853 / (L + 1.0)))
    assert not np.allclose(bt[9], 1321.0789 / np.log(774.8853 / L + 1.0))


def test_pt_ingest_plumbing(spark, tmp_path):
    """ingest_pt_tensors with an injected decoder: manifest, scene_id
    derivation, per-station fan-out, output schema."""
    from landsat_tair_data_pipeline_spark.sources.landsat import ingest_pt_tensors

    rng = np.random.default_rng(3)
    blobs = {}
    for scene in ("LC08_A", "LT05_B"):
        arr = rng.integers(0, 255, size=(3, 2, 7, 7)).astype(np.int32)
        (tmp_path / f"{scene}.pt").write_bytes(arr.tobytes())
        blobs[scene] = arr

    def fake_decoder(content: bytes) -> list:
        arr = np.frombuffer(content, dtype=np.int32).reshape(3, 2, 7, 7)
        return arr.transpose(1, 0, 2, 3).tolist()  # the permute(1,0,2,3)

    out = ingest_pt_tensors(spark, str(tmp_path), decoder=fake_decoder)
    rows = out.collect()
    assert {(r["scene_id"], r["station_pos"]) for r in rows} == {
        ("LC08_A", 0), ("LC08_A", 1), ("LT05_B", 0), ("LT05_B", 1),
    }
    by_key = {(r["scene_id"], r["station_pos"]): r["bands"] for r in rows}
    want = blobs["LC08_A"].transpose(1, 0, 2, 3)[1].tolist()
    assert by_key[("LC08_A", 1)] == want


def test_real_pt_decoder_rejects_non_pt_bytes():
    from landsat_tair_data_pipeline_spark.sources.landsat import _real_pt_decoder
    from landsat_tair_data_pipeline_spark.sources.torch_pt import (
        UnsupportedPtError,
    )

    with pytest.raises(UnsupportedPtError, match="zip"):
        _real_pt_decoder(b"\x00")


def test_real_pt_decoder_decodes_fixture_without_torch():
    """The default decoder handles REAL torch.save-format archives in
    this torch-free container (sources/torch_pt.py fallback)."""
    import glob
    import os

    import numpy as np

    from landsat_tair_data_pipeline_spark.sources.landsat import (
        FIXTURE_DIR,
        _real_pt_decoder,
    )

    paths = sorted(glob.glob(os.path.join(FIXTURE_DIR, "pt_real", "*.pt")))
    assert paths, "pt_real fixtures missing — run tools/make_real_pt.py"
    with open(paths[0], "rb") as f:
        nested = _real_pt_decoder(f.read())
    arr = np.array(nested)
    assert arr.ndim == 4 and arr.shape[2:] == (7, 7)
    assert arr.shape[1] in (7, 11)  # post-permute (stations, bands, 7, 7)
    assert arr.dtype.kind == "i"


def test_torch_pt_blocks_arbitrary_globals():
    """The allow-list unpickler must refuse non-tensor globals — the
    classic pickle RCE shape (os.system) raises, not executes."""
    import io
    import pickle
    import zipfile

    from landsat_tair_data_pipeline_spark.sources.torch_pt import (
        UnsupportedPtError,
        load_pt,
    )

    class Evil:
        def __reduce__(self):
            import os

            return (os.system, ("true",))

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("x/data.pkl", pickle.dumps(Evil()))
        zf.writestr("x/version", "3")
    with pytest.raises(UnsupportedPtError, match="blocked global"):
        load_pt(buf.getvalue())


def test_pixels_long_is_shape_generic(spark):
    """The pixel-long explode on 2 bands × 2 rows × 3 cols (every
    fixture patch is 7 or 11 bands × 7 × 7): one row per numpy index,
    band 1-based, y the row and x the column."""
    from landsat_tair_data_pipeline_spark.operators.domain import _pixels_long

    arr = np.arange(12, dtype=np.int32).reshape(2, 2, 3) * 10 + 7
    df = spark.createDataFrame(
        [("s", arr.tolist())], "scene_id string, bands array<array<array<int>>>"
    )
    px = _pixels_long(df, ["scene_id"], "bands", "v")
    assert px.columns == ["scene_id", "band", "y", "x", "v"]
    want = {("s", b + 1, y, x, int(arr[b, y, x])) for b, y, x in np.ndindex(arr.shape)}
    got = [tuple(r) for r in px.collect()]
    assert len(got) == arr.size and set(got) == want
