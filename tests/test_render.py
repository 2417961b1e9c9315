"""Renderer parity with the reference's own test expectations
(trefoil/render/renderers/tests/test_renderers.py) + PNG byte stability."""

import hashlib

import numpy as np

from trefoil_spark.functions.color import Color, interpolate_linear
from tests.reference import decode_palette_png
from trefoil_spark.raster.render import (
    ClassifiedRenderer,
    StretchedRenderer,
    UniqueValuesRenderer,
    renderer_from_dict,
)


def _ramp():
    data = np.zeros((100, 100))
    for i in range(100):
        data[i] = i
    return data


def test_color_roundtrips():
    c = Color(255, 0, 0, 255)
    assert c.to_hex() == "#F00"
    assert Color.from_hex("#F00").to_tuple()[:3] == (255, 0, 0)
    assert Color.from_hex("#1A2B3C").to_tuple()[:3] == (26, 43, 60)
    assert Color.from_hsv(*Color(12, 34, 56).to_hsv()[:3]).to_tuple()[:3] == (12, 34, 56)


def test_stretched_serialize_matches_reference():
    data = _ramp()
    r = StretchedRenderer(
        ((data.min(), Color(255, 0, 0, 255)), (data.max(), Color(0, 0, 255, 255)))
    )
    assert r.name == "stretched"
    assert r.serialize() == {
        "colors": [(0.0, "#F00"), (99.0, "#00F")],
        "type": "stretched",
        "options": {"color_space": "hsv"},
    }
    png = r.render_png(data)
    idx, pal, trans = decode_palette_png(png)
    assert idx.shape == (100, 100)
    assert trans == pal.shape[0] - 1  # background appended, transparent
    # byte stability across runs
    assert hashlib.sha256(png).hexdigest() == hashlib.sha256(r.render_png(data)).hexdigest()


def test_classified_palette_matches_reference():
    data = _ramp()
    r = ClassifiedRenderer(
        (
            (10, Color(255, 0, 0, 255)),
            (50, Color(0, 255, 0, 255)),
            (data.max(), Color(0, 0, 255, 255)),
        )
    )
    assert r.name == "classified"
    png = r.render_png(data)
    idx, pal, trans = decode_palette_png(png)
    # reference asserts PIL palette bytes ff0000 00ff00 0000ff (+ bg 000)
    assert pal.tobytes() == b"\xff\x00\x00\x00\xff\x00\x00\x00\xff\x00\x00\x00"
    # digitize semantics: rows 0..9 (v<10)→0; 10..49→1; 50..98→2;
    # 99 == last break → background index (the reference quirk)
    assert idx[0, 0] == 0 and idx[10, 0] == 1 and idx[50, 0] == 2
    assert idx[99, 0] == 3 == trans
    assert r.serialize() == {
        "colors": [(10, "#F00"), (50, "#0F0"), (99.0, "#00F")],
        "type": "classified",
    }


def test_unique_values_renderer_matches_reference():
    data = np.zeros((100, 100))
    data[10:25] = 10
    data[35:50] = 25
    data[50:75] = 50
    data[85:100] = 100
    r = UniqueValuesRenderer(
        (
            (10, Color(255, 0, 0, 255)),
            (25, Color(255, 255, 255, 255)),
            (50, Color(0, 255, 0, 255)),
            (100, Color(0, 0, 255, 255)),
        ),
        labels=("A", "B", "C", "D"),
    )
    assert r.name == "unique"
    png = r.render_png(data)
    idx, pal, trans = decode_palette_png(png)
    assert pal.tobytes() == (
        b"\xff\x00\x00\xff\xff\xff\x00\xff\x00\x00\x00\xff\x00\x00\x00"
    )
    assert idx[10, 0] == 0 and idx[35, 0] == 1 and idx[50, 0] == 2 and idx[85, 0] == 3
    assert idx[0, 0] == 4 == trans  # unmapped → background
    assert r.serialize()["options"]["labels"] == ["A", "B", "C", "D"]


def test_renderer_from_dict_roundtrip():
    r = StretchedRenderer(((0.0, Color(255, 0, 0, 255)), (99.0, Color(0, 0, 255, 255))))
    r2 = renderer_from_dict(r.serialize())
    assert isinstance(r2, StretchedRenderer)
    assert r2.serialize()["colors"] == r.serialize()["colors"]


def test_interpolate_linear_endpoints():
    colors = np.array([[255, 0, 0], [0, 0, 255]], dtype=np.uint8)
    pal = interpolate_linear(colors, [0, 99], 90, colorspace="hsv")
    assert pal.shape == (90, 3)
    assert tuple(pal[0]) == (255, 0, 0)
    assert tuple(pal[-1]) == (0, 0, 255)
    pal_rgb = interpolate_linear(colors, [0, 99], 90, colorspace="rgb")
    assert tuple(pal_rgb[0]) == (255, 0, 0)
    assert tuple(pal_rgb[-1]) == (0, 0, 255)
    # grey-ramp rule: ramp from grey holds the hue of the colored end
    grey_ramp = interpolate_linear(
        np.array([[128, 128, 128], [255, 0, 0]], dtype=np.uint8), [0, 1], 10, "hsv"
    )
    # no green/blue channels sneaking in mid-ramp
    assert (grey_ramp[:, 1] == grey_ramp[:, 2]).all()


def test_render_tiles_distributed(spark):
    from trefoil_spark.grid.bbox import BBox
    from trefoil_spark.raster.gridspec import GridSpec
    from trefoil_spark.raster.render import render_tiles
    from trefoil_spark.raster.synth import synthetic_tiles

    spec = GridSpec.from_bbox(BBox((-125.0, 32.0, -113.0, 38.0), "EPSG:4326"), 512, 256)
    tiles = synthetic_tiles(spark, spec)
    r = StretchedRenderer(((0.0, Color(255, 0, 0, 255)), (999.0, Color(0, 0, 255, 255))))
    out = render_tiles(tiles, r).collect()
    assert len(out) == 2  # 1x2 tiles
    for row in out:
        idx, pal, trans = decode_palette_png(bytes(row["png"]))
        assert idx.shape == (256, 256)
        assert trans == pal.shape[0] - 1


def test_render_image_png_scale_flip():
    """F11: flip_y + integer nearest upscale through the full PNG path."""
    import numpy as np

    from trefoil_spark.functions.color import Color
    from tests.reference import decode_palette_png
    from trefoil_spark.raster.render import UniqueValuesRenderer, render_image_png

    r = UniqueValuesRenderer([(1, Color(255, 0, 0)), (2, Color(0, 255, 0))])
    data = np.array([[1.0, 2.0], [2.0, np.nan]])
    base_idx, _, _ = decode_palette_png(render_image_png(r, data))

    up, _, _ = decode_palette_png(render_image_png(r, data, scale=3))
    assert up.shape == (6, 6)
    assert np.array_equal(up, np.repeat(np.repeat(base_idx, 3, 0), 3, 1))

    fl, _, _ = decode_palette_png(render_image_png(r, data, flip_y=True))
    assert np.array_equal(fl, base_idx[::-1])

    import pytest

    with pytest.raises(ValueError, match="scale"):
        render_image_png(r, data, scale=0)
