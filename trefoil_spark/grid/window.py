"""Index-space window over the last two (y, x) dims of a grid.

Parity target: /root/reference/trefoil/utilities/window.py:1-55 (semantics
reimplemented, not copied). In the distributed engine a Window is computed
driver-side from coordinates and turned into (a) a tile-key filter
(partition pruning) and (b) per-tile sub-slices applied inside pandas UDFs.
"""

from __future__ import annotations

import numpy as np


class Window:
    def __init__(self, y_slice, x_slice):
        if isinstance(y_slice, tuple):
            y_slice = slice(*y_slice)
        if isinstance(x_slice, tuple):
            x_slice = slice(*x_slice)
        self.y_slice = y_slice
        self.x_slice = x_slice

    def __repr__(self):
        return f"Window(y={self.y_slice}, x={self.x_slice})"

    def __eq__(self, other):
        return (
            isinstance(other, Window)
            and (self.y_slice.start, self.y_slice.stop)
            == (other.y_slice.start, other.y_slice.stop)
            and (self.x_slice.start, self.x_slice.stop)
            == (other.x_slice.start, other.x_slice.stop)
        )

    @property
    def shape(self):
        return (
            self.y_slice.stop - self.y_slice.start,
            self.x_slice.stop - self.x_slice.start,
        )

    def clip(self, values: np.ndarray, slices=None) -> np.ndarray:
        """Subset view of ``values``; last two dims must be (row, col).

        Matches reference Window.clip (window.py:30-55): leading dims get
        full slices unless given explicitly; dimension-count mismatch raises.
        """
        if slices is None:
            slices = [slice(0, s) for s in values.shape[:-2]]
        elif isinstance(slices, (list, tuple)):
            slices = list(slices)
        else:
            slices = [slices]
        slices.append(self.y_slice)
        slices.append(self.x_slice)
        if len(slices) != len(values.shape):
            raise ValueError("Dimensions of input does not match number of slices")
        return values[tuple(slices)]

    def tile_range(self, tile_size: int = 256):
        """Tile indices (ty0, ty1, tx0, tx1) inclusive that intersect me."""
        ty0 = self.y_slice.start // tile_size
        ty1 = max(self.y_slice.stop - 1, self.y_slice.start) // tile_size
        tx0 = self.x_slice.start // tile_size
        tx1 = max(self.x_slice.stop - 1, self.x_slice.start) // tile_size
        return ty0, ty1, tx0, tx1
