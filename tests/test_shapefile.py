"""Shapefile source: pure-numpy .shp/.dbf parse, bbox pushdown, writer
roundtrip, and the reference repo's own fixture
(/root/repo/tests/data/tmin_zones/ — the layer its CLI reads
at trefoil/cli/zones.py:85-119)."""

import os

import numpy as np
import pytest

from trefoil_spark.sources.shapefile import (
    read_dbf,
    read_polygon_layer,
    read_shp,
    write_polygon_shapefile,
)
from trefoil_spark.sources.zones import ZONE_LAYER

REF_SHP = "/root/repo/tests/data/tmin_zones/tmin_zones.shp"


def test_writer_reader_roundtrip_bit_exact(tmp_path):
    path = str(tmp_path / "zones.shp")
    write_polygon_shapefile(path, ZONE_LAYER)
    polys = read_polygon_layer(path)
    assert [str(p.value) for p in polys] == [str(p.value) for p in ZONE_LAYER]
    for a, b in zip(ZONE_LAYER, polys):
        assert len(a.rings) == len(b.rings)
        for ra, rb in zip(a.rings, b.rings):
            # same vertex set, bit-exact doubles (orientation may flip
            # to spec-CW, membership is orientation-agnostic)
            assert set(map(tuple, ra.tolist())) == set(map(tuple, rb.tolist()))


def test_roundtrip_preserves_membership(tmp_path):
    path = str(tmp_path / "zones.shp")
    write_polygon_shapefile(path, ZONE_LAYER)
    polys = read_polygon_layer(path)
    rng = np.random.default_rng(7)
    xs = rng.uniform(-125, -113, 500)
    ys = rng.uniform(32, 38, 500)
    for a, b in zip(ZONE_LAYER, polys):
        for x, y in zip(xs, ys):
            assert a.contains(x, y) == b.contains(x, y)


@pytest.mark.skipif(not os.path.exists(REF_SHP), reason="reference absent")
def test_reads_reference_fixture():
    shapes = read_shp(REF_SHP)
    assert len(shapes) == 2
    assert {s[1] for s in shapes} == {5}
    # documented extent of the tmin_zones layer
    b0, b1 = shapes[0][3], shapes[1][3]
    assert round(b0[0], 2) == -117.52 and round(b1[2], 2) == -115.80
    attrs = read_dbf(REF_SHP.replace(".shp", ".dbf"))
    assert attrs[0]["zone"] == 1  # second record's value is eaten by the
    assert attrs[1]["zone"] is None  # file's own EOF-marker quirk
    polys = read_polygon_layer(REF_SHP)
    assert len(polys) == 2 and all(len(p.rings) == 1 for p in polys)


@pytest.mark.skipif(not os.path.exists(REF_SHP), reason="reference absent")
def test_bbox_pushdown_skips_payload():
    full = read_shp(REF_SHP)
    b = full[0][3]
    near = read_shp(REF_SHP, bbox=(b[0], b[1], b[0] + 0.01, b[1] + 0.01))
    assert len(near) == 1 and near[0][0] == 0
    assert read_shp(REF_SHP, bbox=(0.0, 0.0, 1.0, 1.0)) == []


def test_shapefile_layer_df(spark, tmp_path):
    from trefoil_spark.sources.shapefile import read_polygon_layer
    from trefoil_spark.sources.zones import zone_layer_df

    path = str(tmp_path / "zones.shp")
    write_polygon_shapefile(path, ZONE_LAYER)
    df = zone_layer_df(spark, read_polygon_layer(path))
    rows = {r["zone_value"]: r for r in df.collect()}
    assert set(rows) == {"west", "east", "urban"}
    assert rows["urban"]["xmin"] == -118.3503  # exact double round-trip
