"""Core grid/coords parity tests — golden values from the reference's own
unit suite (trefoil/netcdf/tests/test_variable.py, geometry/tests/test_bbox.py),
re-derived, not copied."""

import numpy as np
import pytest

from trefoil_spark.grid import BBox, CoordinateVariable, SpatialCoordinates, Window, union_bbox


def test_range_functions():
    # mirrors trefoil/netcdf/tests/test_variable.py:16-48
    data = np.arange(10)
    variable = CoordinateVariable(data)
    assert variable.indices_for_range(2, 5) == (2, 5)
    assert np.array_equal(variable.slice_by_range(2, 5), data[2:6])

    data = data[::-1]
    variable = CoordinateVariable(data)
    assert variable.indices_for_range(2, 5) == (9 - 5, 9 - 2)
    assert np.array_equal(variable.slice_by_range(2, 5), data[4:8])

    variable = CoordinateVariable(np.arange(1, 11))
    assert variable.indices_for_range(-100, 100) == (0, 9)

    variable = CoordinateVariable(np.arange(20, 40))
    assert variable.indices_for_range(0, 10) == (0, 0)
    assert np.array_equal(variable.slice_by_range(0, 10), np.array([]))
    assert np.array_equal(variable.slice_by_range(10, 30), np.arange(20, 31))
    assert variable.indices_for_range(40, 50) == (19, 19)
    assert np.array_equal(variable.slice_by_range(40, 50), np.array([]))


def test_window_for_bbox():
    # mirrors test_variable.py:51-57 (float32 from_bbox accumulation matters)
    coords = SpatialCoordinates.from_bbox(BBox([-124, 82, -122, 90], "EPSG:4326"), 20, 20)
    window = coords.get_window_for_bbox(BBox([-123.9, 82.4, -122.1, 89.6]))
    assert window.x_slice == slice(1, 19)
    assert window.y_slice == slice(1, 19)


def test_edges():
    # mirrors test_variable.py:76-84
    v = CoordinateVariable(np.arange(10))
    assert np.array_equal(v.edges, np.arange(11) - 0.5)
    v = CoordinateVariable(np.arange(9, -1, -1))
    assert np.array_equal(v.edges, np.arange(10, -1, -1) - 0.5)


def test_from_bbox_roundtrip():
    # mirrors test_variable.py:99-104
    bbox = BBox((10.5, 5, 110.5, 55), "EPSG:4326")
    coords = SpatialCoordinates.from_bbox(bbox, 10, 5)
    assert coords.bbox.as_tuple() == bbox.as_tuple()


def test_slice_by_bbox():
    # mirrors test_variable.py:107-117 (descending y)
    lat = CoordinateVariable(np.arange(19, -1, -1))
    lon = CoordinateVariable(np.arange(10))
    coords = SpatialCoordinates(lon, lat, "EPSG:4326")
    subset = coords.slice_by_bbox(BBox((1.75, 3.7, 6.2, 16.7), "EPSG:4326"))
    assert np.array_equal(subset.x.values, np.arange(2, 6))
    assert subset.y.values[0] == 16
    assert subset.y.values[-1] == 4


def test_bbox_projection():
    # golden from reference test_bbox.py:27-34 ("calculated previously under
    # controlled conditions") — validates our from-scratch web-mercator math
    bbox = BBox((-124.75, 48.625, -124.375, 49.0), "EPSG:4326")
    out = bbox.project("EPSG:3857")
    assert np.allclose(
        out.as_tuple(),
        [-13887106.476460878, 6211469.632719522, -13845361.6674134, 6274861.394006577],
    )
    # and back
    back = out.project("EPSG:4326")
    assert np.allclose(back.as_tuple(), bbox.as_tuple())


def test_local_albers_pick():
    # frozen expectation from reference test_bbox.py:20-24 (params only)
    from trefoil_spark.grid.bbox import get_local_albers_projection

    p4 = get_local_albers_projection(
        BBox((-124.75, 48.625, -124.375, 49.0), "EPSG:4326")
    )
    assert "+proj=aea" in p4
    assert "+lon_0=-124.562" in p4  # -124.5625
    assert "+lat_1=48.6875" in p4
    assert "+lat_2=48.9375" in p4
    assert "+lat_0=0" in p4


def test_union_bbox():
    a = BBox((0, 0, 2, 2), "EPSG:4326")
    b = BBox((1, -1, 3, 1), "EPSG:4326")
    assert union_bbox([a, b]).as_tuple() == (0, -1, 3, 2)
    with pytest.raises(ValueError):
        union_bbox([a, BBox((0, 0, 1, 1), "EPSG:3857")])


def test_window_clip():
    # mirrors reference Window.clip semantics (window.py:30-55)
    w = Window((1, 3), (2, 5))
    arr2 = np.arange(30).reshape(5, 6)
    assert np.array_equal(w.clip(arr2), arr2[1:3, 2:5])
    arr3 = np.arange(60).reshape(2, 5, 6)
    assert np.array_equal(w.clip(arr3), arr3[:, 1:3, 2:5])
    with pytest.raises(ValueError):
        w.clip(arr3, slices=[slice(0, 1), slice(0, 1)])
    assert w.shape == (2, 3)


def test_window_tile_range():
    assert Window((0, 256), (0, 256)).tile_range(256) == (0, 0, 0, 0)
    assert Window((100, 600), (256, 513)).tile_range(256) == (0, 2, 1, 2)
