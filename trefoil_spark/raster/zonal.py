"""Tile-grain zonal statistics (SURVEY.md A1, J3/J5) — the flagship
raster pipeline: value tiles ⨝ zone tiles → per-tile partial aggregation
(vectorized numpy, no per-row Python) → native final hash aggregate.

Reference semantics (/root/reference/trefoil/analysis/summary.py:116-173):
stats {mean,min,max,std,sum,count}; population std; masked pixels excluded;
all-masked zones skipped (they simply emit no partials).

Physical plan: BroadcastHashJoin on (ty, tx) [zone side small / co-keyed
at scale] → mapInPandas partials (bincount-style numpy per tile, the same
trick the reference uses at summary.py:19-25) → ONE shuffle of tiny
(zone, partial) rows → final agg. Partial rows per tile ≤ #zones, so the
shuffle is O(tiles × zones), independent of pixel count — this is the
map-side-combine structure that makes the job scan-bound at 100 TB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rasterize import FILL

PARTIAL_SCHEMA = (
    "t int, zone int, psum double, psumsq double, pmin double, pmax double, pcount bigint"
)


def tile_zonal_partials(joined: DataFrame) -> DataFrame:
    """Per-tile per-zone partials from rows carrying block + zone_block."""

    def gen(batches):
        for pdf in batches:
            out: list[tuple] = []
            for row in pdf.itertuples(index=False):
                v = np.frombuffer(row.block, dtype=np.float32).astype(np.float64)
                z = np.frombuffer(row.zone_block, dtype=np.uint16)
                ok = ~np.isnan(v) & (z != FILL)
                if not ok.any():
                    continue
                zv = z[ok].astype(np.int64)
                vv = v[ok]
                # bincount partials (vectorized; reference summary.py:19-25)
                nz = int(zv.max()) + 1
                cnt = np.bincount(zv, minlength=nz)
                s = np.bincount(zv, weights=vv, minlength=nz)
                sq = np.bincount(zv, weights=vv * vv, minlength=nz)
                order = np.argsort(zv, kind="stable")
                zs, starts = np.unique(zv[order], return_index=True)
                vmin = np.minimum.reduceat(vv[order], starts)
                vmax = np.maximum.reduceat(vv[order], starts)
                for k, zone in enumerate(zs):
                    out.append(
                        (
                            int(row.t),
                            int(zone),
                            float(s[zone]),
                            float(sq[zone]),
                            float(vmin[k]),
                            float(vmax[k]),
                            int(cnt[zone]),
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=["t", "zone", "psum", "psumsq", "pmin", "pmax", "pcount"],
            )

    return joined.mapInPandas(gen, schema=PARTIAL_SCHEMA)


def finalize_zonal(partials: DataFrame, by_time: bool = False) -> DataFrame:
    """Final agg over partials; mean/std as deterministic expression trees
    over exact sums (engine-portable, see operators/zonal.py)."""
    keys = ["zone", "t"] if by_time else ["zone"]
    g = partials.groupBy(*keys).agg(
        F.sum("psum").alias("_s"),
        F.sum("psumsq").alias("_sq"),
        F.min("pmin").alias("min"),
        F.max("pmax").alias("max"),
        F.sum("pcount").alias("count"),
    )
    return g.select(
        *keys,
        (F.col("_s") / F.col("count")).alias("mean"),
        F.col("min"),
        F.col("max"),
        F.sqrt(
            F.col("_sq") / F.col("count")
            - (F.col("_s") / F.col("count")) * (F.col("_s") / F.col("count"))
        ).alias("std"),
        F.col("_s").alias("sum"),
        F.col("count"),
    )


def tile_zonal_statistics(
    tiles: DataFrame, zone_tiles: DataFrame, by_time: bool = False
) -> DataFrame:
    """values ⨝ zones on (ty, tx) → partials → final agg."""
    joined = tiles.join(F.broadcast(zone_tiles.select("ty", "tx", "zone_block")), ["ty", "tx"])
    return finalize_zonal(tile_zonal_partials(joined), by_time=by_time)


def authalic_row_areas_m2(spec: GridSpec) -> np.ndarray:
    """Exact ellipsoid (WGS84) area of one pixel per grid row, floored to
    integer m² (int64). Uses the same authalic q function as the Albers
    equal-area projection (grid/projections.py — Snyder eq. 3-12): the area of
    the lat band slice is a²/2 · Δλ · (q(top) − q(bot)). This is the
    area-true computation behind the reference's --albers zonal workflow
    (reference zones.py projects to a local AEA before measuring areas;
    an equal-area projection preserves exactly this quantity).

    Floored to integer m² so zone sums are BIGINT-exact and portable:
    numpy's and DuckDB's libm agree on the floor at every row of the
    fixture grids (asserted in tests); a boundary flip would need the
    true area to sit within ~1 ulp of an integer."""
    from ..grid import projections as pj

    y = np.arange(spec.height, dtype=np.float64)
    lat_top = spec.y0 - y * spec.dy
    lat_bot = spec.y0 - (y + 1) * spec.dy
    k = pj.WGS84_A ** 2 / 2.0 * np.radians(spec.dx)
    return np.floor(
        k * (pj._q_be(pj.NP, np.radians(lat_top), pj.WGS84_E2)
             - pj._q_be(pj.NP, np.radians(lat_bot), pj.WGS84_E2))
    ).astype(np.int64)


def zone_true_area(zone_tiles: DataFrame, spec: GridSpec,
                   fill: int = 0xFFFF) -> DataFrame:
    """(zone, area_m2): ellipsoid-true area per rasterized zone.

    Per tile: one numpy bincount per row band × the per-row integer
    pixel area (computed once, broadcast with the closure) → int64
    partials; one exact BIGINT agg. Shuffle-free until the final
    O(zones) aggregation."""
    row_areas = authalic_row_areas_m2(spec)
    tile = spec.tile

    def gen(batches):
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                z = np.frombuffer(row.zone_block, dtype=np.uint16).reshape(
                    row.h, row.w
                )
                oy = int(row.ty) * tile
                areas = row_areas[oy : oy + row.h]
                for zone in np.unique(z):
                    if int(zone) == fill:
                        continue
                    counts = (z == zone).sum(axis=1).astype(np.int64)
                    rows.append((int(zone), int(np.dot(counts, areas))))
            yield pd.DataFrame(rows, columns=["zone", "parea"])

    partials = zone_tiles.mapInPandas(gen, schema="zone int, parea bigint")
    return partials.groupBy("zone").agg(F.sum("parea").alias("area_m2"))
