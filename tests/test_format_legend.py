"""F13 PrecisionFormatter parity + F12 legend elements and image."""

import numpy as np

from trefoil_spark.functions.color import Color
from trefoil_spark.functions.format import (
    PrecisionFormatter,
    format_labels,
    legend_elements,
)
from trefoil_spark.raster.render import ClassifiedRenderer, UniqueValuesRenderer


def _reference_formatter(values, max_precision=6):
    """The reference algorithm verbatim-in-behavior (format.py:5-33),
    used as the parity oracle."""
    precision = 0
    decimal_strs = set("{:g}".format(float(x) - int(round(x))) for x in values)
    decimal_strs.discard("0")
    if decimal_strs:
        precision = max(len(x) for x in decimal_strs) - 2
    precision = min(precision, max_precision, 6)

    def fmt(value):
        if precision == 0:
            return str(int(round(float(value), 0)))
        return ("{:.%if}" % precision).format(float(value)).rstrip("0").rstrip(".")

    return fmt


def test_precision_formatter_parity():
    rng = np.random.default_rng(3)
    suites = [
        [1.0, 2.0, 3.0],
        [0.5, 1.25, 2.0],
        [0.125, 1.0],
        [10.0, 12.345, 99.5],
        list(rng.uniform(-5, 5, 40)),
        list(np.round(rng.uniform(0, 100, 40), 3)),
    ]
    for values in suites:
        ref = _reference_formatter(values)
        mine = PrecisionFormatter(values)
        for v in values:
            assert mine.format(v) == ref(v), (v, values)


def test_precision_cap():
    assert PrecisionFormatter([0.1234567890]).precision == 6
    assert PrecisionFormatter([1.0, 2.0]).precision == 0
    assert format_labels([2.50, 5.00]) == ["2.5", "5"]


def test_legend_elements():
    r = UniqueValuesRenderer(
        [(1, Color(255, 0, 0)), (2, Color(0, 255, 0)), (3, Color(0, 0, 255))],
        labels=["low", "mid", "high"],
    )
    els = legend_elements(r)
    assert [e["label"] for e in els] == ["low", "mid", "high"]
    assert els[0]["tick"] == 0.0 and els[-1]["tick"] == 1.0

    c = ClassifiedRenderer([(10.0, Color(0, 0, 0)), (20.5, Color(255, 255, 255))])
    els2 = legend_elements(c)
    assert [e["label"] for e in els2] == ["10", "20.5"]


def test_font_and_legend_image():
    """F12 end-to-end: patches, ticks, and rasterized labels land in the
    composited PNG at the right indices."""
    import numpy as np

    from trefoil_spark.functions.font5x7 import glyph, render_text
    from trefoil_spark.functions.format import legend_image_png
    from tests.reference import decode_palette_png
    from trefoil_spark.raster.render import UniqueValuesRenderer

    # font sanity: every glyph is 7x5; '1' has its stem in the middle col
    g = glyph("1")
    assert g.shape == (7, 5) and g[3, 2]
    t = render_text("a-1")
    assert t.shape == (7, 5 * 3 + 2)

    r = UniqueValuesRenderer(
        [(1, Color(255, 0, 0)), (2, Color(0, 255, 0)), (3, Color(0, 0, 255))],
        labels=["low", "mid", "high"],
    )
    png = legend_image_png(r)
    idx, palette, transparent = decode_palette_png(png)
    n = 3
    # patch pixels carry entry indices, in order, top to bottom
    patch_rows = [idx[i * 16 + 2, 2] for i in range(n)]
    assert patch_rows == [0, 1, 2]
    # text pixels exist and use the text index (n+1)
    assert (idx == n + 1).sum() > 20
    # background is the transparent index
    assert transparent == n + 2 and idx[0, -1] == n + 2
