"""R4 vectorize + R1 warp tests: exact round-trips."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from trefoil_spark.geometry.pip import points_in_rings
from trefoil_spark.grid.bbox import BBox
from trefoil_spark.raster.gridspec import GridSpec
from trefoil_spark.raster.vectorize import (
    boundary_rings,
    label_components,
    vectorize_block,
)

SPEC = GridSpec.from_bbox(BBox((0.0, 0.0, 16.0, 16.0), "EPSG:4326"), 16, 16, tile=16)


def _roundtrip(mask: np.ndarray):
    """PIP of pixel centers over traced rings must equal the mask."""
    rings = boundary_rings(mask)
    h, w = mask.shape
    yy, xx = np.mgrid[0:h, 0:w]
    px = xx.ravel() + 0.5
    py = yy.ravel() + 0.5
    got = points_in_rings(px, py, rings).reshape(h, w)
    assert np.array_equal(got, mask), f"\n{mask.astype(int)}\nvs\n{got.astype(int)}"


def test_label_components():
    m = np.zeros((6, 6), dtype=bool)
    m[0:2, 0:2] = True
    m[4:6, 4:6] = True
    labels = label_components(m)
    assert len(np.unique(labels[labels > 0])) == 2
    # diagonal touch = separate components (4-connectivity)
    m2 = np.eye(4, dtype=bool)
    assert len(np.unique(label_components(m2)[label_components(m2) > 0])) == 4


def test_boundary_rings_simple():
    m = np.zeros((5, 5), dtype=bool)
    m[1:4, 1:4] = True
    _roundtrip(m)
    rings = boundary_rings(m)
    assert len(rings) == 1 and len(rings[0]) == 4  # square


def test_boundary_rings_hole():
    m = np.zeros((7, 7), dtype=bool)
    m[1:6, 1:6] = True
    m[3, 3] = False  # hole
    _roundtrip(m)
    assert len(boundary_rings(m)) == 2  # outer + hole


def test_boundary_rings_diagonal_touch():
    # same component touching itself diagonally via a connecting bridge
    m = np.zeros((5, 5), dtype=bool)
    m[0, 0] = m[1, 1] = True
    m[0, 1] = False
    m[1, 0] = False
    # two separate 4-components here; each traces independently
    _roundtrip(m)
    # L-shape with diagonal self-touch (one component)
    m2 = np.array(
        [
            [1, 1, 0],
            [0, 1, 0],
            [1, 1, 0],
        ],
        dtype=bool,
    )
    _roundtrip(m2)
    # checkerboard stress
    m3 = (np.indices((6, 6)).sum(axis=0) % 2).astype(bool)
    _roundtrip(m3)


def test_boundary_rings_random_masks():
    rng = np.random.default_rng(9)
    for _ in range(20):
        m = rng.random((12, 12)) > 0.5
        _roundtrip(m)


def test_vectorize_block_world_coords():
    classes = np.full((16, 16), 0xFFFF, dtype=np.int64)
    classes[2:6, 3:9] = 7
    out = vectorize_block(classes, SPEC, 0, 0)
    assert len(out) == 1
    value, lab, rings, count, border = out[0]
    assert value == 7 and count == 24
    ring = np.asarray(rings[0]).reshape(-1, 2)
    assert ring[:, 0].min() == 3.0 and ring[:, 0].max() == 9.0
    assert ring[:, 1].min() == 16.0 - 6.0 and ring[:, 1].max() == 16.0 - 2.0


def test_vectorize_tiles_and_merge(spark):
    """Rasterize zones → vectorize → merged global components cover the
    same pixel counts per class (exact round-trip at tile grain)."""
    from trefoil_spark.raster.rasterize import rasterize_zones
    from trefoil_spark.raster.vectorize import merge_components, vectorize_tiles
    from trefoil_spark.sources.zones import ZONE_LAYER

    spec = GridSpec.from_bbox(BBox((-125.0, 32.0, -113.0, 38.0), "EPSG:4326"), 512, 256)
    ztiles = rasterize_zones(spark, spec, ZONE_LAYER)
    vec = vectorize_tiles(ztiles, spec)
    merged = merge_components(vec)

    per_class = {
        r["class"]: r["n"]
        for r in merged.groupBy("class").agg(F.sum("pixel_count").alias("n")).collect()
    }
    # oracle: pixel counts straight from the rasterized blocks
    import pandas as pd

    blocks = ztiles.collect()
    want: dict[int, int] = {}
    for row in blocks:
        z = np.frombuffer(row["zone_block"], dtype=np.uint16)
        for v, c in zip(*np.unique(z[z != 0xFFFF], return_counts=True)):
            want[int(v)] = want.get(int(v), 0) + int(c)
    assert per_class == want

    # zones spanning multiple tiles collapse to one global component
    n_components = merged.select("class", "global_id").distinct().count()
    assert n_components == len(ZONE_LAYER)  # each zone is one connected region


def test_warp_identity_and_3857(spark):
    from trefoil_spark.raster.synth import block_values, synthetic_tiles
    from tests.reference import warp_tile_numpy
    from trefoil_spark.raster.warp import warp_tiles

    src_spec = GridSpec.from_bbox(
        BBox((-125.0, 32.0, -113.0, 38.0), "EPSG:4326"), 512, 256
    )
    # identity warp: same grid → same values
    src = block_values(src_spec, 0, 0, 0)
    out = warp_tile_numpy(
        np.nan_to_num(src, nan=-1), src_spec, src_spec, 0, 0
    )
    assert np.allclose(out, np.nan_to_num(src, nan=-1), equal_nan=True)

    # 4326 → 3857 distributed warp: value at a probe point matches the
    # source pixel containing the back-projected probe
    from trefoil_spark.grid import proj

    b3857 = src_spec.bbox.project("EPSG:3857")
    dst_spec = GridSpec.from_bbox(b3857, 512, 256)
    tiles = synthetic_tiles(spark, src_spec)
    warped = warp_tiles(spark, tiles, src_spec, dst_spec)
    rows = {(r["ty"], r["tx"]): r for r in warped.collect()}
    assert len(rows) == 2
    blk = np.frombuffer(rows[(0, 0)]["block"], dtype=np.float32).reshape(256, 256)

    # probe dst pixel (100, 77)
    dy, dx = 100, 77
    lat = dst_spec.y0 - (dy + 0.5) * dst_spec.dy
    lon = dst_spec.x0 + (dx + 0.5) * dst_spec.dx
    slon, slat = proj.transform("EPSG:3857", "EPSG:4326", lon, lat)
    six = int(np.floor((slon - src_spec.x0) / src_spec.dx))
    siy = int(np.floor((src_spec.y0 - slat) / src_spec.dy))
    src_full = block_values(src_spec, 0, 0, 0)  # tile 0,0 covers x<256
    if six < 256:
        want = src_full[siy, six]
        got = blk[dy, dx]
        assert (np.isnan(want) and np.isnan(got)) or got == want


def test_merge_components_distributed_scale(spark):
    """≥10⁴ interior components never reach the merge mapping (the edge
    graph holds border-touching nodes only), and a component chained
    across 8 tiles collapses to ONE global id through multiple
    large-star/small-star rounds — no driver union-find involved."""
    import pandas as pd

    from trefoil_spark.raster.vectorize import (
        connected_components,
        merge_components,
        vectorize_tiles,
    )

    t = 64
    ntx = 8
    spec = GridSpec.from_bbox(BBox((0.0, 0.0, float(t * ntx), float(t)), "EPSG:4326"),
                              t * ntx, t, tile=t)
    rows = []
    for tx in range(ntx):
        blk = np.full((t, t), 0xFFFF, dtype=np.uint16)
        # global checkerboard of class 1: isolated pixels (4-connectivity),
        # parity continuous across tiles but never adjacent across a border
        gy, gx = np.mgrid[0:t, 0:t]
        blk[((gy + gx + tx * t) % 2 == 0)] = 1
        # class 2 stripe on row 5 crossing every tile: one global component
        blk[5, :] = 2
        rows.append((0, tx, blk.tobytes(), t, t))
    tiles = spark.createDataFrame(
        pd.DataFrame(rows, columns=["ty", "tx", "zone_block", "h", "w"])
    )
    vec = vectorize_tiles(tiles, spec)
    n_local = vec.count()
    assert n_local > 10_000  # speckle components dominate

    merged = merge_components(vec)
    # stripe = exactly one global component; speckle stays per-pixel
    by_class = {
        r["class"]: r["n"]
        for r in merged.groupBy("class")
        .agg(F.countDistinct("global_id").alias("n"))
        .collect()
    }
    assert by_class[2] == 1
    assert by_class[1] == n_local - ntx  # every speckle its own component

    # the distributed-CC mapping itself holds ONLY border-touching nodes:
    # 8 stripe fragments — nothing O(components) ever materializes
    keyed = vec.select(
        "class", "ty", "tx",
        F.concat_ws("_", "class", "ty", "tx", "local_id").alias("node"), "border",
    )
    b = keyed.select("class", "ty", "tx", "node", F.explode("border").alias("e")) \
        .select("class", "ty", "tx", "node", "e.side", "e.pos")
    east = b.filter(F.col("side") == "E").select(
        "class", F.col("ty").alias("nty"), (F.col("tx") + 1).alias("ntx"),
        "pos", F.col("node").alias("node_a"))
    west = b.filter(F.col("side") == "W").select(
        "class", F.col("ty").alias("nty"), F.col("tx").alias("ntx"),
        "pos", F.col("node").alias("node_b"))
    edges = east.join(west, ["class", "nty", "ntx", "pos"]).select("node_a", "node_b")
    mapping = connected_components(edges)
    assert mapping.count() == ntx  # 8 chain members incl. root — not 16k
    # distributed path returns the identical mapping
    dist = connected_components(edges, driver_max_edges=0).toPandas()
    assert sorted(map(tuple, dist.values)) == sorted(
        map(tuple, mapping.toPandas().values)
    )


def test_connected_components_path_graph(spark):
    """Pure CC check: a 64-node path (worst case for min-propagation)
    resolves to one root in O(log²) star rounds."""
    import pandas as pd

    from trefoil_spark.raster.vectorize import connected_components

    n = 64
    e = spark.createDataFrame(
        pd.DataFrame(
            [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n - 1)],
            columns=["node_a", "node_b"],
        )
    )
    m = connected_components(e, driver_max_edges=0).toPandas()  # force star loop
    assert len(m) == n
    assert set(m["global_id"]) == {"n000"}


def test_warp_pair_enumeration_scales(spark):
    """Pair generation is distributed (spark.range + Catalyst corner
    math) — a dst grid with 512× the tiles of the bench spec enumerates
    without any driver-side pair loop, and the covered source ranges
    agree with the driver-math reference for every dst tile."""
    from trefoil_spark.grid import proj
    from trefoil_spark.raster.synth import synthetic_tiles
    from trefoil_spark.raster.warp import warp_tiles

    src_spec = GridSpec.from_bbox(
        BBox((-125.0, 32.0, -113.0, 38.0), "EPSG:4326"), 512, 256
    )
    b3857 = src_spec.bbox.project("EPSG:3857")
    # 64×64 = 4096 dst tiles (vs 8 in the bench spec)
    dst_spec = GridSpec.from_bbox(b3857, 64 * 256, 64 * 256)
    tiles = synthetic_tiles(spark, src_spec)
    warped = warp_tiles(spark, tiles, src_spec, dst_spec)
    # every dst tile covers some source area here → full grid materializes
    assert warped.count() == 4096

    # spot-check covered-range math vs driver reference on a probe tile
    dty, dtx = 17, 39
    y0 = dst_spec.y0 - dty * dst_spec.tile * dst_spec.dy
    x0 = dst_spec.x0 + dtx * dst_spec.tile * dst_spec.dx
    h, w = dst_spec.tile_shape(dty, dtx)
    lon0, lat1 = proj.transform("EPSG:3857", "EPSG:4326", x0, y0 - h * dst_spec.dy)
    lon1, lat0 = proj.transform("EPSG:3857", "EPSG:4326", x0 + w * dst_spec.dx, y0)
    sx0 = int(np.floor((lon0 - src_spec.x0) / src_spec.dx)) // src_spec.tile
    sx1 = int(np.floor((lon1 - src_spec.x0) / src_spec.dx)) // src_spec.tile
    assert 0 <= sx0 <= sx1 < src_spec.ntiles_x


def test_warp_bilinear_exact_on_linear_field(spark):
    """Bilinear interpolation of a linear surface is exact (the defining
    property); nearest is not. Dst grid = src grid shifted 1/4 pixel."""
    import pandas as pd

    from tests.reference import warp_tile_numpy

    spec = GridSpec.from_bbox(BBox((0.0, 0.0, 64.0, 64.0), "EPSG:4326"), 64, 64, tile=64)
    y, x = np.mgrid[0:64, 0:64]
    src = (2.0 * y + 3.0 * x).astype(np.float32)
    dst = GridSpec(x0=spec.x0 + spec.dx / 4, y0=spec.y0 - spec.dy / 4,
                   dx=spec.dx, dy=spec.dy, width=63, height=63,
                   crs=spec.crs, tile=64)
    out = warp_tile_numpy(src, spec, dst, 0, 0, method="bilinear")
    want = (2.0 * (y[:63, :63] + 0.25) + 3.0 * (x[:63, :63] + 0.25)).astype(np.float32)
    assert np.allclose(out, want, atol=1e-4)
    near = warp_tile_numpy(src, spec, dst, 0, 0, method="nearest")
    assert not np.allclose(near, want, atol=1e-4)


def test_warp_tiles_bilinear_matches_numpy(spark):
    """Distributed bilinear warp (mosaic gather + 1px halo) equals the
    full-array kernel on every tile of the 3857 warp."""
    from trefoil_spark.raster.synth import block_values, synthetic_tiles
    from tests.reference import warp_tile_numpy
    from trefoil_spark.raster.warp import warp_tiles

    src_spec = GridSpec.from_bbox(
        BBox((-125.0, 32.0, -113.0, 38.0), "EPSG:4326"), 512, 256
    )
    b3857 = src_spec.bbox.project("EPSG:3857")
    dst_spec = GridSpec.from_bbox(b3857, 512, 256)
    tiles = synthetic_tiles(spark, src_spec)
    got = {(r["ty"], r["tx"]): r for r in
           warp_tiles(spark, tiles, src_spec, dst_spec, method="bilinear").collect()}

    full = np.full((src_spec.height, src_spec.width), np.nan, dtype=np.float32)
    for ty in range(src_spec.ntiles_y):
        for tx in range(src_spec.ntiles_x):
            b = block_values(src_spec, 0, ty, tx)
            full[ty * 256 : ty * 256 + b.shape[0], tx * 256 : tx * 256 + b.shape[1]] = b
    for (ty, tx), row in got.items():
        blk = np.frombuffer(row["block"], dtype=np.float32).reshape(row["h"], row["w"])
        want = warp_tile_numpy(full, src_spec, dst_spec, ty, tx, method="bilinear")
        assert np.array_equal(blk, want, equal_nan=True), (ty, tx)
    # nodata propagated: the synth scatter mask produces NaNs in output
    assert any(np.isnan(np.frombuffer(r["block"], dtype=np.float32)).any()
               for r in got.values())


def test_warp_mode_majority_and_ties():
    """Mode downsample 2x: each dst pixel = majority class of its 2x2
    box; ties break to the SMALLEST class; all-nodata boxes → NaN;
    nodata candidates don't vote."""
    from tests.reference import warp_tile_numpy

    spec = GridSpec.from_bbox(BBox((0.0, 0.0, 8.0, 8.0), "EPSG:4326"), 8, 8, tile=8)
    dst = GridSpec.from_bbox(BBox((0.0, 0.0, 8.0, 8.0), "EPSG:4326"), 4, 4, tile=4)
    src = np.zeros((8, 8), dtype=np.float32)
    src[0:2, 0:2] = [[1, 1], [1, 2]]        # majority 1
    src[0:2, 2:4] = [[3, 4], [4, 3]]        # tie 3/4 → 3
    src[0:2, 4:6] = [[np.nan, np.nan], [np.nan, 7]]  # single voter 7
    src[0:2, 6:8] = np.nan                  # no voters → NaN
    out = warp_tile_numpy(src, spec, dst, 0, 0, method="mode")
    assert out.shape == (4, 4)
    assert out[0, 0] == 1 and out[0, 1] == 3 and out[0, 2] == 7
    assert np.isnan(out[0, 3])
    assert (out[1:] == 0).all()


def test_warp_tiles_mode_matches_numpy(spark):
    """Distributed mode warp equals the full-array kernel on a
    classified grid downsampled 2x (the categorical use case)."""
    from trefoil_spark.raster.classify import classify_block, equal_interval_breaks
    from trefoil_spark.raster.synth import block_values, synthetic_tiles
    from tests.reference import warp_tile_numpy
    from trefoil_spark.raster.warp import warp_tiles

    src_spec = GridSpec.from_bbox(
        BBox((-125.0, 32.0, -113.0, 38.0), "EPSG:4326"), 512, 256
    )
    dst_spec = GridSpec.from_bbox(src_spec.bbox, 256, 128)
    breaks = equal_interval_breaks(0.0, 999.0, 5)

    import pandas as pd

    def classify(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                blk = np.frombuffer(r.block, dtype=np.float32).reshape(r.h, r.w)
                cls = classify_block(blk, breaks).astype(np.float32)
                cls[np.isnan(blk)] = np.nan
                rows.append((r.var, r.t, r.ty, r.tx, r.cell, cls.tobytes(), r.h, r.w))
            yield pd.DataFrame(rows, columns=["var", "t", "ty", "tx", "cell", "block", "h", "w"])

    tiles = synthetic_tiles(spark, src_spec).mapInPandas(
        classify, schema="var string, t int, ty int, tx int, cell bigint, block binary, h int, w int"
    )
    got = {(r["ty"], r["tx"]): r for r in
           warp_tiles(spark, tiles, src_spec, dst_spec, method="mode").collect()}
    assert len(got) == 1

    full = np.full((src_spec.height, src_spec.width), np.nan, dtype=np.float32)
    for ty in range(src_spec.ntiles_y):
        for tx in range(src_spec.ntiles_x):
            b = block_values(src_spec, 0, ty, tx)
            c = classify_block(b, breaks).astype(np.float32)
            c[np.isnan(b)] = np.nan
            full[ty * 256 : ty * 256 + b.shape[0], tx * 256 : tx * 256 + b.shape[1]] = c
    want = warp_tile_numpy(full, src_spec, dst_spec, 0, 0, method="mode")
    blk = np.frombuffer(got[(0, 0)]["block"], dtype=np.float32).reshape(128, 256)
    assert np.array_equal(blk, want, equal_nan=True)


def test_warp_tiles_lcc_matches_numpy(spark):
    """Distributed warp into a Lambert Conformal Conic destination grid
    (the F20 breadth path: Catalyst corner math runs the lcc inverse,
    the gather kernel the numpy twin) equals the full-array kernel."""
    from trefoil_spark.grid import proj
    from trefoil_spark.raster.synth import block_values, synthetic_tiles
    from tests.reference import warp_tile_numpy
    from trefoil_spark.raster.warp import warp_tiles

    src_spec = GridSpec.from_bbox(
        BBox((-125.0, 32.0, -113.0, 38.0), "EPSG:4326"), 512, 256
    )
    lcc = "+proj=lcc +lat_1=33 +lat_2=37 +lat_0=32 +lon_0=-119 +ellps=WGS84"
    # dst grid: project the region corners, take the covering box
    xs, ys = proj.transform("EPSG:4326", lcc,
                            np.array([-125.0, -113.0, -125.0, -113.0, -119.0]),
                            np.array([32.0, 32.0, 38.0, 38.0, 38.0]))
    dst_spec = GridSpec(
        x0=float(xs.min()), y0=float(ys.max()),
        dx=float(xs.max() - xs.min()) / 512.0, dy=float(ys.max() - ys.min()) / 256.0,
        width=512, height=256, crs=lcc,
    )
    tiles = synthetic_tiles(spark, src_spec)
    got = {(r["ty"], r["tx"]): r for r in
           warp_tiles(spark, tiles, src_spec, dst_spec).collect()}
    assert len(got) == 2

    full = np.full((src_spec.height, src_spec.width), np.nan, dtype=np.float32)
    for ty in range(src_spec.ntiles_y):
        for tx in range(src_spec.ntiles_x):
            b = block_values(src_spec, 0, ty, tx)
            full[ty * 256 : ty * 256 + b.shape[0], tx * 256 : tx * 256 + b.shape[1]] = b
    for (ty, tx), row in got.items():
        blk = np.frombuffer(row["block"], dtype=np.float32).reshape(row["h"], row["w"])
        want = warp_tile_numpy(full, src_spec, dst_spec, ty, tx)
        assert np.array_equal(blk, want, equal_nan=True), (ty, tx)
        assert np.isfinite(blk).any()


def test_warp_cubic_exact_on_cubic_polys():
    """Keys a=-0.5 reproduces constants and linear surfaces exactly and
    beats bilinear by orders of magnitude on a smooth field."""
    from tests.reference import warp_tile_numpy

    spec = GridSpec.from_bbox(BBox((0.0, 0.0, 64.0, 64.0), "EPSG:4326"), 64, 64, tile=64)
    dst = GridSpec(x0=spec.x0 + spec.dx / 4, y0=spec.y0 - spec.dy / 4,
                   dx=spec.dx, dy=spec.dy, width=63, height=63,
                   crs=spec.crs, tile=64)
    y, x = np.mgrid[0:64, 0:64]
    const = np.full((64, 64), 7.25, dtype=np.float32)
    out = warp_tile_numpy(const, spec, dst, 0, 0, method="cubic")
    assert np.nanmax(np.abs(out - 7.25)) < 1e-6
    lin = (2.0 * y + 3.0 * x).astype(np.float32)
    out = warp_tile_numpy(lin, spec, dst, 0, 0, method="cubic")
    want = (2.0 * (y[:63, :63] + 0.25) + 3.0 * (x[:63, :63] + 0.25)).astype(np.float32)
    # the 4x4 kernel reads 2 px out: judge the interior
    assert np.allclose(out[2:-2, 2:-2], want[2:-2, 2:-2], atol=1e-3)

    smooth = (np.sin(x * 0.1) * np.cos(y * 0.08)).astype(np.float32)
    cub = warp_tile_numpy(smooth, spec, dst, 0, 0, method="cubic")
    bil = warp_tile_numpy(smooth, spec, dst, 0, 0, method="bilinear")
    truth = np.sin((x[:63, :63] + 0.25) * 0.1) * np.cos((y[:63, :63] + 0.25) * 0.08)
    c_err = np.abs(cub - truth)[4:-4, 4:-4].max()
    b_err = np.abs(bil - truth)[4:-4, 4:-4].max()
    assert c_err < b_err / 20


def test_warp_tiles_cubic_matches_numpy(spark):
    """Distributed cubic warp (mosaic gather + 2px halo) equals the
    full-array kernel on every tile of the 3857 warp."""
    from trefoil_spark.raster.synth import block_values, synthetic_tiles
    from tests.reference import warp_tile_numpy
    from trefoil_spark.raster.warp import warp_tiles

    src_spec = GridSpec.from_bbox(
        BBox((-125.0, 32.0, -113.0, 38.0), "EPSG:4326"), 512, 256
    )
    dst_spec = GridSpec.from_bbox(src_spec.bbox.project("EPSG:3857"), 512, 256)
    tiles = synthetic_tiles(spark, src_spec)
    got = {(r["ty"], r["tx"]): r for r in
           warp_tiles(spark, tiles, src_spec, dst_spec, method="cubic").collect()}

    full = np.full((src_spec.height, src_spec.width), np.nan, dtype=np.float32)
    for ty in range(src_spec.ntiles_y):
        for tx in range(src_spec.ntiles_x):
            b = block_values(src_spec, 0, ty, tx)
            full[ty * 256 : ty * 256 + b.shape[0], tx * 256 : tx * 256 + b.shape[1]] = b
    assert got
    for (ty, tx), row in got.items():
        blk = np.frombuffer(row["block"], dtype=np.float32).reshape(row["h"], row["w"])
        want = warp_tile_numpy(full, src_spec, dst_spec, ty, tx, method="cubic")
        assert np.array_equal(blk, want, equal_nan=True), (ty, tx)


def test_warp_lanczos_kernel_quality():
    """Lanczos-3: constants exact (normalized weights), linear surfaces
    near-exact in the interior, and a smooth field beats bilinear."""
    from tests.reference import warp_tile_numpy

    spec = GridSpec.from_bbox(BBox((0.0, 0.0, 64.0, 64.0), "EPSG:4326"), 64, 64, tile=64)
    dst = GridSpec(x0=spec.x0 + spec.dx / 4, y0=spec.y0 - spec.dy / 4,
                   dx=spec.dx, dy=spec.dy, width=63, height=63,
                   crs=spec.crs, tile=64)
    y, x = np.mgrid[0:64, 0:64]
    const = np.full((64, 64), 7.25, dtype=np.float32)
    out = warp_tile_numpy(const, spec, dst, 0, 0, method="lanczos")
    assert np.nanmax(np.abs(out - 7.25)) < 1e-6

    # mid-band field (1.0 rad/sample ≈ Nyquist/3): the windowed sinc
    # shines here; at very LOW frequencies its truncation ripple makes
    # it comparable to bilinear, so a low-freq field can't discriminate
    smooth = (np.sin(x * 1.0) * np.cos(y * 0.9)).astype(np.float32)
    lcz = warp_tile_numpy(smooth, spec, dst, 0, 0, method="lanczos")
    bil = warp_tile_numpy(smooth, spec, dst, 0, 0, method="bilinear")
    truth = np.sin((x[:63, :63] + 0.25) * 1.0) * np.cos((y[:63, :63] + 0.25) * 0.9)
    l_err = np.abs(lcz - truth)[6:-6, 6:-6].max()
    b_err = np.abs(bil - truth)[6:-6, 6:-6].max()
    assert l_err < b_err / 10


def test_warp_tiles_lanczos_matches_numpy(spark):
    """Distributed lanczos warp (mosaic gather + 3px halo) equals the
    full-array kernel on every tile of the 3857 warp — proves the halo
    covers the 6x6 support across tile borders."""
    from trefoil_spark.raster.synth import block_values, synthetic_tiles
    from tests.reference import warp_tile_numpy
    from trefoil_spark.raster.warp import warp_tiles

    src_spec = GridSpec.from_bbox(
        BBox((-125.0, 32.0, -113.0, 38.0), "EPSG:4326"), 512, 256
    )
    dst_spec = GridSpec.from_bbox(src_spec.bbox.project("EPSG:3857"), 512, 256)
    tiles = synthetic_tiles(spark, src_spec)
    got = {(r["ty"], r["tx"]): r for r in
           warp_tiles(spark, tiles, src_spec, dst_spec, method="lanczos").collect()}

    full = np.full((src_spec.height, src_spec.width), np.nan, dtype=np.float32)
    for ty in range(src_spec.ntiles_y):
        for tx in range(src_spec.ntiles_x):
            b = block_values(src_spec, 0, ty, tx)
            full[ty * 256 : ty * 256 + b.shape[0], tx * 256 : tx * 256 + b.shape[1]] = b
    assert got
    for (ty, tx), row in got.items():
        blk = np.frombuffer(row["block"], dtype=np.float32).reshape(row["h"], row["w"])
        want = warp_tile_numpy(full, src_spec, dst_spec, ty, tx, method="lanczos")
        assert np.array_equal(blk, want, equal_nan=True), (ty, tx)


def test_mode_kernel_at_cap_memory():
    """The run-length mode gather stays O(H*W*K): an 8x8 box (K=64, the
    cap) over a 256-wide tile must not materialize a (H,W,K,K) tensor."""
    import tracemalloc

    from tests.reference import warp_tile_numpy

    src = GridSpec.from_bbox(BBox((0.0, 0.0, 256.0, 256.0), "EPSG:4326"),
                             256, 256, tile=256)
    dst = GridSpec(x0=0.0, y0=256.0, dx=8.0, dy=8.0, width=32, height=32,
                   crs="EPSG:4326", tile=256)
    rng = np.random.default_rng(3)
    arr = rng.integers(0, 5, size=(256, 256)).astype(np.float32)
    tracemalloc.start()
    out = warp_tile_numpy(arr, src, dst, 0, 0, method="mode")
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    # old pairwise tensor would be 32*32*64*64*(1+8) bytes ≈ 38MB here;
    # run-length path peaks well under 8MB
    assert peak < 8 * 1024 * 1024, f"peak {peak/1e6:.1f}MB"
    # majority ground truth per dst pixel via bincount
    want = np.empty((32, 32), dtype=np.float32)
    for dy in range(32):
        for dx in range(32):
            box = arr[dy*8:(dy+1)*8, dx*8:(dx+1)*8].astype(np.int64).ravel()
            counts = np.bincount(box)
            want[dy, dx] = counts.argmax()  # first max = smallest class
    assert np.array_equal(out, want)
