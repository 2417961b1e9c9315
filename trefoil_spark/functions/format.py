"""Precision formatter + legend building (SURVEY.md F13/F12).

F13 — reference semantics (/root/reference/trefoil/utilities/format.py:
5-33): scan a value set once to find the smallest decimal precision that
represents every value's fractional part under ``%g`` (capped at 6, the
point past which Python's repr truncates anyway), then format each value
at that precision with trailing zeros (and a bare trailing dot) removed.
The reference counts the sign character of negative fractional parts
toward precision (an off-by-one for all-negative inputs); parity keeps
that observable behavior, noted here.

F12 — legend: the reference composites PIL images with TrueType labels
(/root/reference/trefoil/render/renderers/legend.py:7-78). PIL/fonts are
absent here, so the legend surfaces as (a) structured rows — label,
color, tick position — the JSON a web client actually wants, and (b) a
composited PNG (patches, ticks and labels in the engine's own 5×7 bitmap
font) via the engine's own encoder.
"""

from __future__ import annotations

import numpy as np

from .png import encode_palette_png

MAX_PRECISION = 6


class PrecisionFormatter:
    """Minimal-precision numeric labels for a value set."""

    def __init__(self, values, max_precision: int = MAX_PRECISION):
        if max_precision > MAX_PRECISION:
            raise ValueError(f"max_precision must be <= {MAX_PRECISION}")
        need = 0
        for x in values:
            frac = "{:g}".format(float(x) - int(round(x)))
            if frac != "0":
                # "0.125" → 3 digits after the leading "0." (the
                # reference's len-2 rule, sign quirk included)
                need = max(need, len(frac) - 2)
        self.precision = min(need, max_precision, MAX_PRECISION)

    def format(self, value) -> str:
        if self.precision == 0:
            return str(int(round(float(value), 0)))
        s = f"{float(value):.{self.precision}f}"
        return s.rstrip("0").rstrip(".")


def format_labels(values) -> list[str]:
    fmt = PrecisionFormatter(values)
    return [fmt.format(v) for v in values]


def legend_elements(renderer) -> list[dict]:
    """Structured legend rows for a renderer: one per colormap entry,
    labels via PrecisionFormatter (or the renderer's explicit labels),
    ticks normalized bottom(0)→top(1) like the reference's
    LegendElement."""
    values = [v for v, _c in renderer.colormap]
    colors = [c for _v, c in renderer.colormap]
    labels = getattr(renderer, "labels", None) or format_labels(values)
    n = len(values)
    out = []
    for i, (v, c, lab) in enumerate(zip(values, colors, labels)):
        out.append(
            {
                "value": float(v),
                "label": str(lab),
                "color": c.to_hex(),
                "tick": (i / (n - 1)) if n > 1 else 1.0,
            }
        )
    return out


def legend_image_png(
    renderer,
    patch_width: int = 20,
    patch_height: int = 12,
    padding: int = 4,
    label_gap: int = 8,
) -> bytes:
    """F12 CLOSED: the full legend image — color patches + tick lines +
    rasterized text labels — composited like the reference's
    LegendElement.to_image/composite_elements (legend.py:30-78), but
    with the engine's own 5×7 bitmap font and PNG encoder instead of
    PIL/TrueType. Palette layout: [entry colors..., tick grey, text
    black, background]; background is transparent."""
    from .font5x7 import GLYPH_H, render_text

    els = legend_elements(renderer)
    labels = [e["label"] for e in els]
    texts = [render_text(l) for l in labels]
    text_w = max((t.shape[1] for t in texts), default=0)

    n = len(els)
    tick_idx, text_idx, bg_idx = n, n + 1, n + 2
    row_h = max(patch_height, GLYPH_H) + padding
    height = row_h * n - padding if n else 1
    width = patch_width + 2 + label_gap + text_w

    canvas = np.full((max(height, 1), max(width, 1)), bg_idx, dtype=np.uint8)
    for i, (e, txt) in enumerate(zip(els, texts)):
        y0 = i * row_h
        canvas[y0 : y0 + patch_height, 0:patch_width] = i
        ty = y0 + patch_height // 2
        canvas[ty, patch_width : patch_width + 2 + label_gap // 2] = tick_idx
        gy = y0 + max((patch_height - GLYPH_H) // 2, 0)
        gx = patch_width + 2 + label_gap
        h, w = txt.shape
        region = canvas[gy : gy + h, gx : gx + w]
        region[txt[: region.shape[0], : region.shape[1]]] = text_idx

    colors = [c.to_tuple()[:3] for _v, c in renderer.colormap]
    palette = np.array(
        colors + [(150, 150, 150), (0, 0, 0), (255, 255, 255)], dtype=np.uint8
    )
    return encode_palette_png(canvas, palette, transparent_index=bg_idx)
