"""Bounding box with CRS tag + densified-edge reprojection.

Parity target: /root/reference/trefoil/geometry/bbox.py:9-129. pyproj is
absent, so projection is a CRS *name* ('EPSG:4326', 'EPSG:3857' or a
supported proj4 string) and transforms use our closed forms
(grid/proj.py over grid/projections.py).
"""

from __future__ import annotations

import numpy as np

from . import proj


class BBox:
    def __init__(self, bbox, projection: str | None = None):
        if isinstance(bbox, BBox):
            projection = projection or bbox.projection
            bbox = bbox.as_tuple()
        if len(bbox) != 4:
            raise ValueError("Must be a 4 tuple: xmin, ymin, xmax, ymax")
        self.xmin, self.ymin, self.xmax, self.ymax = (float(v) for v in bbox)
        self.projection = projection

    def as_tuple(self):
        return (self.xmin, self.ymin, self.xmax, self.ymax)

    def __repr__(self):
        return f"BBox({self.as_tuple()}, crs={self.projection})"

    def __eq__(self, other):
        return (
            isinstance(other, BBox)
            and self.as_tuple() == other.as_tuple()
            and self.projection == other.projection
        )

    @property
    def height(self):
        return self.ymax - self.ymin

    @property
    def width(self):
        return self.xmax - self.xmin

    def project(self, target_projection: str, edge_points: int = 9) -> "BBox":
        """Reproject by sampling densified edges and taking min/max.

        Mirrors reference BBox.project (bbox.py:67-97): `edge_points`
        interior samples per edge bound the curved image of the box.
        """
        if self.projection is None:
            raise ValueError("No projection defined for this bbox")
        if proj.same_crs(self.projection, target_projection):
            return BBox(self.as_tuple(), target_projection)
        if edge_points < 2:
            # corners only
            xs = np.array([self.xmin, self.xmax, self.xmin, self.xmax])
            ys = np.array([self.ymin, self.ymin, self.ymax, self.ymax])
        else:
            x_samples = np.linspace(self.xmin, self.xmax, edge_points)
            y_samples = np.linspace(self.ymin, self.ymax, edge_points)
            xs = np.concatenate(
                [
                    x_samples,
                    x_samples,
                    np.full(edge_points, self.xmin),
                    np.full(edge_points, self.xmax),
                ]
            )
            ys = np.concatenate(
                [
                    np.full(edge_points, self.ymin),
                    np.full(edge_points, self.ymax),
                    y_samples,
                    y_samples,
                ]
            )
        tx, ty = proj.transform(self.projection, target_projection, xs, ys)
        return BBox(
            (tx.min(), ty.min(), tx.max(), ty.max()), projection=target_projection
        )


def get_local_albers_projection(bbox: BBox) -> str:
    """F25 (reference bbox.py:99-114): pick a local Albers equal-area
    projection for a bbox — standard parallels inset 1/6 of the height
    from each edge, central meridian at the bbox center. Returns the
    proj4 string (the projection-PICK rule, validated against the
    reference's frozen test value in tests); :mod:`.proj` transforms it
    like any other supported CRS."""
    if not proj.is_latlong(bbox.projection or "EPSG:4326"):
        raise ValueError("bbox must be geographic (lat/long)")
    sixth = (bbox.ymax - bbox.ymin) / 6.0
    lat_1 = bbox.ymin + sixth
    lat_2 = bbox.ymax - sixth
    lon_0 = (bbox.xmax + bbox.xmin) / 2.0
    return (
        f"+proj=aea +lat_1={lat_1:g} +lat_2={lat_2:g} +lat_0=0 +lon_0={lon_0:g} "
        f"+x_0=0 +y_0=0 +ellps=WGS84 +datum=WGS84 +units=m +no_defs"
    )


def union_bbox(bboxes) -> BBox:
    """Union (min/max envelope); all inputs must share a CRS.

    Parity: reference union_bbox (bbox.py:117-129).
    """
    bboxes = list(bboxes)
    if not bboxes:
        raise ValueError("Must provide at least one bbox")
    crs = bboxes[0].projection
    for b in bboxes:
        if b.projection != crs:
            raise ValueError("All bboxes must be in the same projection")
    return BBox(
        (
            min(b.xmin for b in bboxes),
            min(b.ymin for b in bboxes),
            max(b.xmax for b in bboxes),
            max(b.ymax for b in bboxes),
        ),
        crs,
    )
