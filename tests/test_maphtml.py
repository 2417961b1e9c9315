"""Interactive map preview (the reference's --interactive surface)."""

import os

import numpy as np

from trefoil_spark.functions.color import Color
from trefoil_spark.grid.bbox import BBox
from trefoil_spark.raster.gridspec import GridSpec
from trefoil_spark.raster.maphtml import get_leaflet_anchors, map_html, write_map_preview
from trefoil_spark.raster.render import StretchedRenderer
from trefoil_spark.raster.synth import synthetic_tiles

SPEC = GridSpec.from_bbox(BBox((-125.0, 32.0, -113.0, 38.0), "EPSG:4326"), 512, 256)


def test_leaflet_anchors_rule():
    """Reference cli/utilities.py:110-116: [[ymin,xmin],[ymax,xmax]],
    projected to WGS84 first."""
    assert get_leaflet_anchors(SPEC.bbox) == [[32.0, -125.0], [38.0, -113.0]]
    b3857 = SPEC.bbox.project("EPSG:3857")
    a = get_leaflet_anchors(b3857)
    assert abs(a[0][0] - 32.0) < 1e-9 and abs(a[1][1] + 113.0) < 1e-9


def test_map_html_contract():
    html = map_html({"t=0": "a.png", "t=1": "b.png"}, SPEC.bbox, "tmin")
    assert "imageOverlay" in html and "a.png" in html and "b.png" in html
    assert "[[32.0, -125.0], [38.0, -113.0]]" in html
    assert "tmin_legend.png" in html


def test_write_map_preview(spark, tmp_path):
    renderer = StretchedRenderer(
        [(0.0, Color(0, 0, 0)), (999.0, Color(255, 255, 255))],
        colorspace="rgb", palette_size=90,
    )
    tiles = synthetic_tiles(spark, SPEC, timesteps=2)
    index = write_map_preview(str(tmp_path), tiles, SPEC, renderer)
    assert os.path.exists(index)
    files = set(os.listdir(tmp_path))
    assert {"index.html", "synth_0.png", "synth_1.png", "synth_legend.png"} <= files
    # the stitched frame PNG decodes to the full grid
    from tests.reference import decode_palette_png

    idx, _, _ = decode_palette_png(open(tmp_path / "synth_0.png", "rb").read())
    assert idx.shape == (SPEC.height, SPEC.width)
    html = open(index).read()
    assert "synth_0.png" in html and "synth_1.png" in html


def test_write_map_preview_frame_guard(spark, tmp_path):
    """An oversized timestep axis raises instead of collecting unbounded
    rendered PNGs onto the driver (VERDICT r2 scale caution)."""
    import pytest

    renderer = StretchedRenderer(
        [(0.0, Color(0, 0, 0)), (999.0, Color(255, 255, 255))],
        colorspace="rgb", palette_size=90,
    )
    tiles = synthetic_tiles(spark, SPEC, timesteps=3)
    with pytest.raises(ValueError, match="timesteps"):
        write_map_preview(str(tmp_path), tiles, SPEC, renderer, max_frames=2)
