"""The four benchmark workloads.

Each workload generates its inputs from the seed (``make_inputs``) and
writes them where the engine reads them (``write_inputs``), both part of
set-up; it computes its expected answers outside the engine
(``expect``, untimed), runs one operation per call to ``run_op`` through
the package's public functions, and checks each operation's output
(``check``, untimed). ``Clock`` times every public call so the traced run
can report driver-side plan time per module.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq

from . import inputs, oracle


class Clock:
    """Accumulates wall seconds per named span for one operation."""

    def __init__(self):
        self.spans: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name] = self.spans.get(name, 0.0) + time.perf_counter() - t0


class Op:
    """One operation: what ran, how long, and what it produced."""

    def __init__(self, index: int, kind: str, tag: str):
        self.index = index
        self.kind = kind
        self.tag = tag
        self.set_index = 0
        self.clock = Clock()
        self.wall_s = 0.0
        self.result = None
        self.png_tiles = 0  # tiles rendered by a raster operation
        self.png_bytes = 0
        self.error: str | None = None


def _execute(df, clock: Clock, action):
    """Force analysis, optimisation and physical planning, then act."""
    with clock.span("catalyst.plan_s"):
        df._jdf.queryExecution().executedPlan()
    with clock.span("action_s"):
        return action(df)


def _zone_layer():
    from trefoil_spark.sources.zones import ZONE_LAYER

    return ZONE_LAYER


class Workload:
    name = ""
    round_kinds: tuple[str, ...] = ("op",)
    item_unit = "rows"

    def __init__(self, work_dir: str, seed: int):
        self.seed = seed
        self.input_dir = os.path.join(work_dir, "inputs")
        self.out_dir = os.path.join(work_dir, "out")

    # -- set-up ------------------------------------------------------
    def make_inputs(self) -> str:
        """Generate the seeded inputs in memory; returns their digest."""
        raise NotImplementedError

    def write_inputs(self, spark) -> None:
        pass

    def expect(self) -> None:
        raise NotImplementedError

    # -- operations --------------------------------------------------
    def items(self, op: Op) -> int:
        raise NotImplementedError

    def run_op(self, spark, op: Op) -> None:
        raise NotImplementedError

    def check(self, op: Op) -> str | None:
        raise NotImplementedError

    def boundary_rows(self, op: Op) -> int:
        return 0

    def knn_expected_pairs(self, op: Op) -> int:
        return 0


class _PagesWorkload(Workload):
    factor = 1

    def make_inputs(self) -> str:
        self.docs = inputs.documents(self.seed)
        return inputs.digest(self.docs, self.factor)

    def write_inputs(self, spark) -> None:
        inputs.write_documents(self.docs, self.input_dir)

    def _points(self, factor: int):
        pids = oracle.page_ids(self.docs["doc_id"].to_numpy(), factor)
        lon, lat = oracle.page_points(pids)
        return pids, lon, lat

    def _boundary(self, lon: np.ndarray, lat: np.ndarray) -> int:
        """Rows the covering index leaves for the exact test: coarse cell
        on a boundary and fine cell on a boundary."""
        from trefoil_spark.grid import cells
        from trefoil_spark.operators.pip_join import build_covering_index

        idx = build_covering_index(_zone_layer())
        fine_cell = cells.latlon_to_cell(lat, lon, idx["fine_res"])
        coarse_cell = cells.parent(fine_cell, idx["fine_res"] - idx["res"])
        coarse_bd = np.array([c for c, _, r in idx["coarse"] if r is None], dtype=np.int64)
        fine_res = np.array([c for c, r in idx["fine"] if r is not None], dtype=np.int64)
        return int((np.isin(coarse_cell, coarse_bd) & ~np.isin(fine_cell, fine_res)).sum())


class ZonalPages(_PagesWorkload):
    """pages -> pip_join -> zonal_statistics over the zone layer."""

    name = "zonal-pages"
    factor = 400  # 5000 docs x 400 = 2M page rows per job, as bench.py's zonal_scaled

    def items(self, op: Op) -> int:
        return inputs.N_DOCS * self.factor

    def expect(self) -> None:
        pids, lon, lat = self._points(self.factor)
        fid = oracle.pip_brute(lon, lat, _zone_layer())
        n_chars = np.repeat(self.docs["text"].str.len().to_numpy(), self.factor)
        names = [str(p.value) for p in _zone_layer()]
        self.expected = oracle.zonal_expected(fid, n_chars, names)
        self.unmatched = int((fid < 0).sum())
        self.n_rows = int(pids.size)
        self.n_boundary = self._boundary(lon, lat)

    def run_op(self, spark, op: Op) -> None:
        from pyspark.sql import functions as F

        from trefoil_spark.operators.pip_join import pip_join
        from trefoil_spark.operators.zonal import zonal_statistics
        from trefoil_spark.sources.pages import build_pages_scaled

        c = op.clock
        with c.span("sources.pages.plan_s"):
            pages = build_pages_scaled(spark, self.input_dir, self.factor)
            slim = pages.select("lat", "lon", F.length("text").alias("n_chars"))
        with c.span("operators.pip_join.plan_s"):
            joined = pip_join(slim, _zone_layer())
        with c.span("operators.zonal.plan_s"):
            stats = zonal_statistics(joined, "zone_value", "n_chars")
        rows = _execute(stats, c, lambda df: df.collect())
        op.result = [r.asDict() for r in rows]

    def check(self, op: Op) -> str | None:
        return oracle.zonal_mismatch(op.result, self.expected, self.n_rows, self.unmatched)

    def boundary_rows(self, op: Op) -> int:
        return self.n_boundary


class TagWide(_PagesWorkload):
    """pip_join(how='left') on wide pages rows, zone-tagged rows to parquet."""

    name = "tag-wide"
    factor = 100  # 500k wide page rows per job

    def items(self, op: Op) -> int:
        return inputs.N_DOCS * self.factor

    def expect(self) -> None:
        pids, lon, lat = self._points(self.factor)
        fid = oracle.pip_brute(lon, lat, _zone_layer())
        names = np.array([str(p.value) for p in _zone_layer()] + [None], dtype=object)
        self.pids = pids
        self.zone = names[fid]  # fid -1 picks the trailing None
        self.doc_md5 = np.array(oracle.md5_hex(self.docs["text"]), dtype=object)
        self.doc_ids = self.docs["doc_id"].to_numpy()
        self.sources = self.docs["source"].to_numpy()
        self.n_boundary = self._boundary(lon, lat)

    def run_op(self, spark, op: Op) -> None:
        from trefoil_spark.operators.pip_join import pip_join
        from trefoil_spark.sources.pages import build_pages_scaled

        c = op.clock
        path = os.path.join(self.out_dir, op.tag.replace(":", "_"))
        with c.span("sources.pages.plan_s"):
            pages = build_pages_scaled(spark, self.input_dir, self.factor)
            wide = pages.select("url", "text", "lang", "lat", "lon")
        with c.span("operators.pip_join.plan_s"):
            tagged = pip_join(wide, _zone_layer(), how="left")
        _execute(tagged, c, lambda df: df.write.mode("overwrite").parquet(path))
        op.result = path

    def check(self, op: Op) -> str | None:
        t = pq.read_table(op.result, columns=["url", "text", "zone_value"])
        urls = t.column("url").to_pylist()
        if len(urls) != self.pids.size or len(set(urls)) != len(urls):
            return f"{len(urls)} rows / {len(set(urls))} distinct urls, want {self.pids.size}"
        pid = np.array([int(u.rsplit("/", 1)[1]) for u in urls], dtype=np.int64)
        doc_pos = np.searchsorted(self.doc_ids, pid // self.factor)
        doc_pos = np.clip(doc_pos, 0, self.doc_ids.size - 1)
        if not (self.doc_ids[doc_pos] == pid // self.factor).all():
            return "url names a page id outside the input"
        want_urls = [f"https://{s}.example.com/doc/{p}" for s, p in zip(self.sources[doc_pos], pid)]
        if want_urls != urls:
            return "url does not match its page's source"
        got_md5 = np.array(oracle.md5_hex(t.column("text").to_pylist()), dtype=object)
        if not (got_md5 == self.doc_md5[doc_pos]).all():
            return "text md5 differs from the input document"
        order = np.searchsorted(self.pids, pid)
        want_zone = self.zone[order]
        got_zone = np.array(t.column("zone_value").to_pylist(), dtype=object)
        if not (got_zone == want_zone).all():
            return f"{int((got_zone != want_zone).sum())} rows carry the wrong zone"
        shutil.rmtree(op.result, ignore_errors=True)
        return None

    def boundary_rows(self, op: Op) -> int:
        return self.n_boundary


def _tile_specs(seed: int, width: int, height: int):
    """Seeded EPSG:4326 source grid and the EPSG:3857 grid over its bbox."""
    from trefoil_spark.raster.gridspec import GridSpec

    x0, y0 = inputs.tile_origin(seed, width, height)
    src = GridSpec(x0=x0, y0=y0, dx=inputs.PIXEL_DEG, dy=inputs.PIXEL_DEG,
                   width=width, height=height)
    dst = GridSpec.from_bbox(src.bbox.project("EPSG:3857"), width=width, height=height)
    return src, dst


# stretched renderer fixture: two colours over the synth value range
VMIN, VMAX, N_COLORS = 0.0, 999.0, 90


def _renderer():
    from trefoil_spark.functions.color import Color
    from trefoil_spark.raster.render import StretchedRenderer

    return StretchedRenderer(
        [(VMIN, Color(30, 60, 200)), (VMAX, Color(230, 40, 20))],
        background_color=Color(255, 255, 255, 0),
    )


class Tiles(Workload):
    """synthetic_tiles -> warp_tiles 4326->3857 -> render_tiles -> parquet."""

    name = "tiles"
    item_unit = "pixels"
    width, height = 2048, 1024  # 32 source and 32 destination 256x256 tiles

    def make_inputs(self) -> str:
        self.src, self.dst = _tile_specs(self.seed, self.width, self.height)
        return inputs.digest(self.src, self.dst)

    def items(self, op: Op) -> int:
        return self.dst.width * self.dst.height

    def expect(self) -> None:
        warped = oracle.warp_nearest_3857(self.src, self.dst)
        self.expected_idx = oracle.stretched_indices(warped, VMIN, VMAX, N_COLORS)

    def run_op(self, spark, op: Op) -> None:
        from trefoil_spark.raster.render import render_tiles
        from trefoil_spark.raster.synth import synthetic_tiles
        from trefoil_spark.raster.warp import warp_tiles

        c = op.clock
        path = os.path.join(self.out_dir, op.tag.replace(":", "_"))
        with c.span("raster.plan_s"):
            src = synthetic_tiles(spark, self.src)
            warped = warp_tiles(spark, src, self.src, self.dst)
            rendered = render_tiles(warped, _renderer())
        _execute(rendered, c, lambda df: df.write.mode("overwrite").parquet(path))
        op.result = path
        t = pq.read_table(path, columns=["png"])
        op.png_tiles = t.num_rows
        op.png_bytes = sum(len(b) for b in t.column("png").to_pylist())

    def check(self, op: Op) -> str | None:
        err = _png_mismatch(pq.read_table(op.result).to_pylist(), self.dst, self.expected_idx)
        if err is None:
            shutil.rmtree(op.result, ignore_errors=True)
        return err


def _png_mismatch(rows: list[dict], dst, expected_idx: np.ndarray) -> str | None:
    """Every destination tile present once, each PNG equal, pixel for
    pixel, to the recomputed warp's palette indices."""
    tile = dst.tile
    want_tiles = {(ty, tx) for ty in range(dst.ntiles_y) for tx in range(dst.ntiles_x)}
    if {(r["ty"], r["tx"]) for r in rows} != want_tiles or len(rows) != len(want_tiles):
        return f"{len(rows)} tiles rendered, want {len(want_tiles)}"
    for r in rows:
        idx, n_pal, transparent = oracle.png_indices(r["png"])
        want = expected_idx[r["ty"] * tile:(r["ty"] + 1) * tile, r["tx"] * tile:(r["tx"] + 1) * tile]
        if n_pal != N_COLORS + 1 or transparent != N_COLORS:
            return f"tile {r['ty']},{r['tx']}: palette {n_pal}, transparent {transparent}"
        if idx.shape != want.shape or not (idx == want).all():
            return f"tile {r['ty']},{r['tx']}: pixels differ from the recomputed warp"
    return None


class Interactive(_PagesWorkload):
    """Closed loop, one client: zonal bbox query, kNN, window extract and
    an on-demand warp + render of a few tiles."""

    name = "interactive"
    round_kinds = ("zonal", "knn", "window", "tile")
    item_unit = "queries"
    factor = 4  # 20k pages behind the small queries
    n_sets = 8
    k = 5
    # res 7 cells hold about as many of the 20k pages as res 6 cells hold
    # of the 5k pages in bench.py's knn leaf
    knn_res = 7
    bbox_w, bbox_h = 2.0, 3.0  # ~1.3k rural pages per zonal query
    win_deg = 0.25
    tiles_w, tiles_h = 1024, 512  # a stored table of 8 tiles
    render_box = (0.75, 0.5)  # degrees; rendered as 512 x 512 EPSG:3857 pixels

    def make_inputs(self) -> str:
        from trefoil_spark.grid.bbox import BBox
        from trefoil_spark.raster.gridspec import GridSpec

        self.docs = inputs.documents(self.seed)
        self.bboxes = [b for b in inputs.query_bboxes(self.seed, 64, self.bbox_w, self.bbox_h)
                       if not _overlaps_hot_box(b)][: self.n_sets]
        self.points = inputs.query_points(self.seed, self.n_sets, 5)
        self.spec, _ = _tile_specs(self.seed, self.tiles_w, self.tiles_h)
        b = self.spec.bbox
        extent = (b.xmin, b.ymin, b.xmax, b.ymax)
        self.windows = inputs.query_bboxes(self.seed, self.n_sets, self.win_deg, self.win_deg, extent)
        self.render_specs = [
            GridSpec.from_bbox(BBox(box, "EPSG:4326").project("EPSG:3857"), width=512, height=512)
            for box in inputs.query_bboxes(self.seed, self.n_sets, *self.render_box, extent)
        ]
        return inputs.digest(self.docs, self.factor, self.bboxes, *self.points, self.spec,
                             self.windows, self.render_specs)

    def write_inputs(self, spark) -> None:
        from trefoil_spark.raster.synth import synthetic_tiles

        inputs.write_documents(self.docs, self.input_dir)
        self.tile_path = os.path.join(self.input_dir, "tiles.parquet")
        synthetic_tiles(spark, self.spec).write.mode("overwrite").parquet(self.tile_path)

    def items(self, op: Op) -> int:
        return 1

    def expect(self) -> None:
        from trefoil_spark.grid.bbox import BBox

        pids, lon, lat = self._points(self.factor)
        fid = oracle.pip_brute(lon, lat, _zone_layer())
        n_chars = np.repeat(self.docs["text"].str.len().to_numpy(), self.factor)
        names = [str(p.value) for p in _zone_layer()]
        self.zonal_want, self.zonal_boundary = [], []
        for b in self.bboxes:
            sel = (lon > b[0]) & (lon < b[2]) & (lat > b[1]) & (lat < b[3])
            self.zonal_want.append(
                (oracle.zonal_expected(fid[sel], n_chars[sel], names), int(sel.sum()),
                 int((fid[sel] < 0).sum()))
            )
            self.zonal_boundary.append(self._boundary(lon[sel], lat[sel]))
        self.knn_want = [oracle.knn_brute(lon, lat, pids, q, self.k) for q in self.points]
        self.win_want = []
        for w in self.windows:
            win = self.spec.window_for_bbox(BBox(w, "EPSG:4326"))
            self.win_want.append(oracle.window_sum_count(
                win.y_slice.start, win.y_slice.stop, win.x_slice.start, win.x_slice.stop))
        self.tile_want = [
            oracle.stretched_indices(oracle.warp_nearest_3857(self.spec, dst), VMIN, VMAX, N_COLORS)
            for dst in self.render_specs
        ]

    def run_op(self, spark, op: Op) -> None:
        i = op.index // len(self.round_kinds) % self.n_sets
        op.set_index = i
        getattr(self, "_" + op.kind)(spark, op, i)

    def _zonal(self, spark, op: Op, i: int) -> None:
        from pyspark.sql import functions as F

        from trefoil_spark.operators.pip_join import pip_join
        from trefoil_spark.operators.zonal import zonal_statistics
        from trefoil_spark.sources.pages import build_pages_scaled

        b = self.bboxes[i]
        c = op.clock
        with c.span("sources.pages.plan_s"):
            pages = build_pages_scaled(spark, self.input_dir, self.factor)
            sel = pages.filter(
                (F.col("lon") > b[0]) & (F.col("lon") < b[2])
                & (F.col("lat") > b[1]) & (F.col("lat") < b[3])
            ).select("lat", "lon", F.length("text").alias("n_chars"))
        with c.span("operators.pip_join.plan_s"):
            joined = pip_join(sel, _zone_layer())
        with c.span("operators.zonal.plan_s"):
            stats = zonal_statistics(joined, "zone_value", "n_chars")
        op.result = [r.asDict() for r in _execute(stats, c, lambda df: df.collect())]

    def _knn(self, spark, op: Op, i: int) -> None:
        from trefoil_spark.operators.knn import knn_join_cells
        from trefoil_spark.sources.pages import build_pages_scaled

        c = op.clock
        with c.span("sources.pages.plan_s"):
            pages = build_pages_scaled(spark, self.input_dir, self.factor)
            pts = pages.select("doc_id", "lon", "lat")
            queries = spark.createDataFrame(self.points[i])
        with c.span("operators.knn.plan_s"):
            nn = knn_join_cells(pts, queries, k=self.k, res=self.knn_res, ring=1)
        rows = _execute(nn, c, lambda df: df.collect())
        op.result = sorted((int(r.query_id), int(r.neighbor_id), int(r.rank)) for r in rows)

    def _window(self, spark, op: Op, i: int) -> None:
        from pyspark.sql import functions as F

        from trefoil_spark.grid.bbox import BBox
        from trefoil_spark.raster.window_ops import extract_window_pixels

        c = op.clock
        with c.span("raster.window_ops.plan_s"):
            tiles = spark.read.parquet(self.tile_path)
            px = extract_window_pixels(tiles, self.spec, BBox(self.windows[i], "EPSG:4326"))
            agg = px.agg(F.sum("v").alias("s"), F.count("v").alias("n"))
        r = _execute(agg, c, lambda df: df.collect())[0]
        op.result = (float(r["s"] or 0.0), int(r["n"]))

    def _tile(self, spark, op: Op, i: int) -> None:
        from trefoil_spark.raster.render import render_tiles
        from trefoil_spark.raster.warp import warp_tiles

        c = op.clock
        with c.span("raster.plan_s"):
            tiles = spark.read.parquet(self.tile_path)
            warped = warp_tiles(spark, tiles, self.spec, self.render_specs[i])
            rendered = render_tiles(warped, _renderer()).select("ty", "tx", "png")
        op.result = [r.asDict() for r in _execute(rendered, c, lambda df: df.collect())]
        op.png_tiles = len(op.result)
        op.png_bytes = sum(len(r["png"]) for r in op.result)

    def check(self, op: Op) -> str | None:
        i = op.set_index
        if op.kind == "tile":
            return _png_mismatch(op.result, self.render_specs[i], self.tile_want[i])
        if op.kind == "zonal":
            want, n_rows, unmatched = self.zonal_want[i]
            return oracle.zonal_mismatch(op.result, want, n_rows, unmatched)
        if op.kind == "knn":
            return None if op.result == self.knn_want[i] else "kNN differs from brute force"
        if op.result != self.win_want[i]:
            return f"window sum/count {op.result} != {self.win_want[i]}"
        return None

    def boundary_rows(self, op: Op) -> int:
        return self.zonal_boundary[op.set_index] if op.kind == "zonal" else 0

    def knn_expected_pairs(self, op: Op) -> int:
        return self.k * len(self.points[op.set_index]) if op.kind == "knn" else 0


def _overlaps_hot_box(b) -> bool:
    # the pages' hot urban box (-118.30..-118.10, 33.90..34.10)
    return b[0] < -118.10 and b[2] > -118.30 and b[1] < 34.10 and b[3] > 33.90


WORKLOADS = {w.name: w for w in (ZonalPages, TagWide, Tiles, Interactive)}
