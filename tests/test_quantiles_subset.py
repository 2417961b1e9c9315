"""get_window_for_subset (P6)."""

import numpy as np

from trefoil_spark.grid.coords import CoordinateVariable, SpatialCoordinates
from trefoil_spark.grid.window import Window


def test_get_window_for_subset():
    # P6 parity (variable.py:397-410): exact-coordinate-match offsets
    x = CoordinateVariable(np.arange(0, 10, dtype=float))
    y = CoordinateVariable(np.arange(19, -1, -1, dtype=float))
    coords = SpatialCoordinates(x, y, "EPSG:4326")
    sub = SpatialCoordinates(
        CoordinateVariable(np.arange(3, 7, dtype=float)),
        CoordinateVariable(np.arange(15, 9, -1, dtype=float)),
        "EPSG:4326",
    )
    w = coords.get_window_for_subset(sub)
    assert w == Window((4, 10), (3, 7))
