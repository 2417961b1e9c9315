"""Packing, fill values, path parsing (F14-F15, F22) and the geo-dims
heuristic (F21)."""

import pytest

from trefoil_spark.functions.packing import (
    get_fill_value,
    get_pack_atts,
    resolve_dataset_variable,
)


def test_pack_atts_reference_formula():
    # reference utilities.py:385-416: scale=(max-min)/(2^bits-2), offset=min
    scale, offset = get_pack_atts("uint8", 0.0, 254.0)
    assert scale == 1.0 and offset == 0.0
    scale, offset = get_pack_atts("uint16", 1.0, 50.0)
    assert scale == 49.0 / 65534
    with pytest.raises(ValueError):
        get_pack_atts("float32", 0, 1)


def test_fill_values():
    assert get_fill_value("uint16") == 65535
    assert get_fill_value("float32") == pytest.approx(9.969209968386869e36)
    with pytest.raises(ValueError):
        get_fill_value("complex128")


def test_resolve_dataset_variable():
    assert resolve_dataset_variable("file.nc:tmin") == ("file.nc", "tmin")
    assert resolve_dataset_variable("file.nc") == ("file.nc", None)
    assert resolve_dataset_variable("C:\\data\\file.nc") == ("C:\\data\\file.nc", None)
    assert resolve_dataset_variable("/a/b.nc:v2") == ("/a/b.nc", "v2")


def test_detect_geo_dims():
    """F21 heuristic parity (reference describe.py:10-16,95-105)."""
    from trefoil_spark.sources.ingest import detect_geo_dims

    # bare common names
    d = detect_geo_dims(["time", "lat", "lon"], dim_sizes={"time": 12})
    assert d == {"x": "lon", "y": "lat", "time": "time"}
    # standard_name wins over unrecognized bare names
    d = detect_geo_dims(
        ["t", "rlat", "rlon"],
        standard_names={"rlat": "grid_latitude", "rlon": "grid_longitude",
                        "t": "time"},
        dim_sizes={"t": 4},
    )
    assert d == {"x": "rlon", "y": "rlat", "time": "t"}
    # single-step time is NOT a time dimension (reference :104)
    d = detect_geo_dims(["time", "y", "x"], dim_sizes={"time": 1})
    assert d["time"] is None and d["x"] == "x" and d["y"] == "y"
