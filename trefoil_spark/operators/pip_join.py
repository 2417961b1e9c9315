"""Distributed point-in-polygon join (SURVEY.md J1/J2; reference
rasterize-centroid semantics at /root/reference/trefoil/cli/zones.py:136-144).

Physical strategy (scale-first, one plan):

1. **Two-level quadtree covering index** (driver, memoized): polygons →
   qcell covering at a coarse res; every cell is classified as
   *interior* (whole cell inside its burn-order winner → resolved with
   no runtime test), *uniformly outside* (resolved to no-match), or
   *boundary*. Boundary coarse cells subdivide into a fine-res covering
   classified the same way. Interior area scales O(area) while boundary
   scales O(perimeter·cell_size), so the unresolved fraction shrinks
   quadratically with the fine res — this is what tames hot small
   polygons (dense urban cells) that would otherwise push their whole
   point mass through the exact test.
2. **One broadcast hash join** on the coarse cell: a coarse cell's fine
   children are one block of 4^(fine_res−res) Morton codes, so a boundary
   coarse row carries its fine level as one array, and its candidate
   polygons' ring edges as data. The point side derives fine cell, coarse
   cell and array slot with pure Catalyst integer expressions —
   whole-stage codegen, no shuffle.
3. **JVM resolution ladder**: rows in resolved cells (either level) get
   their feature_id from the broadcast row or its array slot.
4. **Exact refine** in the JVM: one SQL ``aggregate`` over the cell's
   candidates, highest feature_id first (= GDAL rasterize overwrite
   order), with an inner ``aggregate`` of the even-odd crossing test over
   each candidate's edges — the expression tree of ``points_in_rings``
   and ``pip_sql_expr``, so membership is bit-identical. Only
   fine-boundary rows evaluate it.

Plan: Scan → codegen cell exprs → BHJ → codegen slot read → refine
Project (interpreted: higher-order functions do not codegen) → ladder.
Zero shuffles, one scan, no Python worker.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geometry import Polygon, points_in_rings
from ..grid import cells

DEFAULT_RES = 9
DEFAULT_FINE_RES = 14
SLOTS = 4 ** (DEFAULT_FINE_RES - DEFAULT_RES)  # fine cells per coarse cell
BOUNDARY = -2  # covering sentinel: cell needs the exact per-point test


def _segments_intersect_boxes(rings, bx0, by0, bx1, by1) -> np.ndarray:
    """Vectorized: does any polygon edge intersect each of N boxes?

    Standard separating-axis test (edge bbox overlaps box AND the box's
    corners straddle the edge's supporting line); corner-exactly-on-line
    counts as intersecting (conservative → extra exact tests, never wrong).
    """
    n = bx0.shape[0]
    hit = np.zeros(n, dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
        x1, y1 = r[:, 0], r[:, 1]
        x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
        overlap = (
            (np.maximum(x1, x2)[None, :] >= bx0[:, None])
            & (np.minimum(x1, x2)[None, :] <= bx1[:, None])
            & (np.maximum(y1, y2)[None, :] >= by0[:, None])
            & (np.minimum(y1, y2)[None, :] <= by1[:, None])
        )
        dx, dy = (x2 - x1)[None, :], (y2 - y1)[None, :]
        xa, ya = x1[None, :], y1[None, :]
        allpos = np.ones_like(overlap)
        allneg = np.ones_like(overlap)
        for cx, cy in ((bx0, by0), (bx1, by0), (bx1, by1), (bx0, by1)):
            side = dx * (cy[:, None] - ya) - dy * (cx[:, None] - xa)
            allpos &= side > 0
            allneg &= side < 0
        straddle = ~(allpos | allneg)
        hit |= (overlap & straddle).any(axis=1)
    return hit


def _classify_cells(polygons: list[Polygon], cell_ids: np.ndarray, cand: np.ndarray):
    """Burn-order classification of cells: (resolved[int], is_boundary[bool]).

    resolved: winning fid, or -1 = uniformly outside all candidates.
    is_boundary: needs an exact per-point test at runtime.
    """
    lat0, lon0, dlat, dlon = cells.cell_to_latlon(cell_ids)
    cx, cy = lon0 + dlon / 2.0, lat0 + dlat / 2.0
    nf, nc = cand.shape
    boundary = np.zeros((nf, nc), dtype=bool)
    inside = np.zeros((nf, nc), dtype=bool)
    for fid, poly in enumerate(polygons):
        idx = np.flatnonzero(cand[fid])
        if idx.size == 0:
            continue
        boundary[fid, idx] = _segments_intersect_boxes(
            poly.rings, lon0[idx], lat0[idx], (lon0 + dlon)[idx], (lat0 + dlat)[idx]
        )
        inside[fid, idx] = points_in_rings(cx[idx], cy[idx], poly.rings)

    resolved = np.full(nc, -1, dtype=np.int64)
    is_boundary = np.zeros(nc, dtype=bool)
    undecided = np.ones(nc, dtype=bool)
    for fid in range(nf - 1, -1, -1):  # burn order: highest first
        consider = undecided & cand[fid]
        b = consider & boundary[fid]
        is_boundary |= b
        undecided &= ~b
        i = consider & ~boundary[fid] & inside[fid]
        resolved[i] = fid
        undecided &= ~i
    return resolved, is_boundary


_COVERING_CACHE: dict = {}


def build_covering_index(
    polygons: list[Polygon], res: int = DEFAULT_RES, fine_res: int = DEFAULT_FINE_RES
):
    """Two-level covering index (memoized).

    ``fine_res`` must be strictly finer than ``res`` (an equal or coarser
    fine level would make the fine index empty, silently dropping every
    boundary point), and ≤ 24: a fine cell there is 180°/2^24 ≈ 1e-5° of
    latitude, and a finer covering resolves nothing that the exact refine
    does not, while each boundary coarse cell carries 4^(fine_res − res)
    slots.

    Returns dict with:
      coarse: [(cell, fids_desc, resolved|None)]   (None = boundary)
      fine:   [(cell, resolved|None)]              (children of boundary
               coarse cells at fine_res; None = still boundary)
      rings_by_fid: {fid: rings}
    """
    if not res < fine_res <= 24:
        raise ValueError(
            f"require res < fine_res <= 24 (got res={res}, fine_res={fine_res}): "
            "fine_res == res would produce an empty fine index (boundary "
            "points silently unresolved); fine_res > 24 is finer than the "
            "covering ever needs to be"
        )
    key = (
        res,
        fine_res,
        tuple((str(p.value), tuple(r.tobytes() for r in p.rings)) for p in polygons),
    )
    cached = _COVERING_CACHE.get(key)
    if cached is not None:
        return cached

    by_cell: dict[int, list[int]] = {}
    for fid, poly in enumerate(polygons):
        xmin, ymin, xmax, ymax = poly.bbox
        for c in cells.covering_cells(xmin, ymin, xmax, ymax, res).tolist():
            by_cell.setdefault(int(c), []).append(fid)

    cell_ids = np.fromiter(by_cell.keys(), dtype=np.int64, count=len(by_cell))
    pos = {int(c): i for i, c in enumerate(cell_ids)}
    nf, nc = len(polygons), cell_ids.shape[0]
    cand = np.zeros((nf, nc), dtype=bool)
    for c, fids in by_cell.items():
        for fid in fids:
            cand[fid, pos[c]] = True
    resolved, is_boundary = _classify_cells(polygons, cell_ids, cand)

    coarse = []
    for c, fids in by_cell.items():
        k = pos[c]
        coarse.append(
            (c, sorted(fids, reverse=True), None if is_boundary[k] else int(resolved[k]))
        )

    # subdivide boundary coarse cells to fine_res
    steps = fine_res - res
    fine: list[tuple[int, int | None]] = []
    b_idx = np.flatnonzero(is_boundary)
    if steps > 0 and b_idx.size:
        per = 1 << steps
        bix, biy = cells.cell_to_xy(cell_ids[b_idx])
        # enumerate all fine children of each boundary coarse cell
        off = np.arange(per, dtype=np.int64)
        fx = (bix[:, None, None] << steps) + off[None, None, :]
        fy = (biy[:, None, None] << steps) + off[None, :, None]
        f_cells = cells.xy_to_cell(
            np.broadcast_to(fx, (b_idx.size, per, per)).ravel(),
            np.broadcast_to(fy, (b_idx.size, per, per)).ravel(),
            fine_res,
        )
        parent_row = np.repeat(b_idx, per * per)
        f_cand = cand[:, parent_row]  # candidates inherited from parent
        f_resolved, f_boundary = _classify_cells(polygons, f_cells, f_cand)
        fine = [
            (fc, None if b else int(r))
            for fc, b, r in zip(f_cells.tolist(), f_boundary.tolist(), f_resolved.tolist())
        ]

    rings_by_fid = {fid: [r.copy() for r in poly.rings] for fid, poly in enumerate(polygons)}
    out = {
        "coarse": coarse,
        "fine": fine,
        "rings_by_fid": rings_by_fid,
        "res": res,
        "fine_res": fine_res,
    }
    _COVERING_CACHE[key] = out
    return out


def _edges(rings) -> np.ndarray:
    """(n, 4) x1, y1, x2, y2 of every non-horizontal ring edge.

    A horizontal edge never straddles a point's latitude, and dropping
    it keeps a zero ``y2 - y1`` (an ANSI division error) out of the
    refine.
    """
    e = np.vstack([np.hstack([r, np.roll(r, -1, axis=0)]) for r in rings])
    return e[e[:, 1] != e[:, 3]]


def _lat_band(cell_ids: np.ndarray, res: int, fine_res: int):
    """(lo, hi) latitude band of each cell, widened by one fine cell.

    Every point the ladder assigns to a cell lies in its band: the cell
    arithmetic is off by float rounding at most, far below a fine cell.
    The grid's first and last rows are open-ended, because latitudes
    outside [-90, 90] (and ±inf) clamp into them.
    """
    lat0, _, dlat, _ = cells.cell_to_latlon(cell_ids)
    _, iy = cells.cell_to_xy(cell_ids)
    pad = 180.0 / (1 << fine_res)
    lo = np.where(iy == 0, -np.inf, lat0 - pad)
    hi = np.where(iy == (1 << res) - 1, np.inf, lat0 + dlat + pad)
    return lo, hi


def _covering_rows(index: dict) -> list[tuple]:
    """(c1, r1, fine, cand) rows of the broadcast covering table.

    r1: winner, -1 (outside) or BOUNDARY. fine and cand are None unless
    c1 is a boundary cell. Then slot ``(c >> 5) & (slots - 1)`` of fine
    holds fine child c's winner, -1 or BOUNDARY (slots are placed by that
    arithmetic, not by position: ``index["fine"]`` is enumerated y-outer,
    x-inner), and cand lists the cell's candidate polygons highest fid
    first (burn order), each with the edges the refine tests: those of
    ``_edges`` whose y-range meets the cell's ``_lat_band``. An edge
    entirely above or below every point of the cell never straddles, so
    the pruning is exact, and a candidate left with no edge is dropped.
    """
    res, fine_res = index["res"], index["fine_res"]
    steps = fine_res - res
    morton = np.array([c for c, _ in index["fine"]], dtype=np.int64) >> 5
    parents, row = np.unique(((morton >> 2 * steps) << 5) + res, return_inverse=True)
    arrays = np.full((parents.size, 1 << 2 * steps), BOUNDARY, dtype=np.int32)
    arrays[row, morton & ((1 << 2 * steps) - 1)] = [
        BOUNDARY if r is None else r for _, r in index["fine"]
    ]
    fine = dict(zip(parents.tolist(), arrays.tolist()))
    band = dict(zip(parents.tolist(), zip(*_lat_band(parents, res, fine_res))))
    edges = {fid: _edges(rings) for fid, rings in index["rings_by_fid"].items()}

    rows = []
    for c, fids, r in index["coarse"]:
        if r is not None:
            rows.append((c, r, None, None))
            continue
        lo, hi = band[c]
        cand = []
        for fid in fids:
            e = edges[fid]
            e = e[(np.maximum(e[:, 1], e[:, 3]) >= lo) & (np.minimum(e[:, 1], e[:, 3]) <= hi)]
            if len(e):
                cand.append((fid, e.tolist()))
        rows.append((c, BOUNDARY, fine[c], cand))
    return rows


COVERING_SCHEMA = (
    "c1 bigint, r1 bigint, fine array<int>, "
    "cand array<struct<fid: bigint, e: array<struct<x1: double, y1: double, x2: double, y2: double>>>>"
)


def _session_memo(spark: SparkSession, index: dict, polygons: list[Polygon]):
    """(broadcast covering table, feature_id -> value map) for this
    session, memoized.

    The index is a pure function of the polygon layer (values included),
    so the table is uploaded and persisted once and each query's
    broadcast build reads the cached block; the broadcast hint and the
    map Column are built once too. The memo is the index's one
    per-session entry, keyed on the session object: newSession()s share
    one applicationId but each has its own SQL conf. A new session
    rebuilds the entry and unpersists the table it evicts; a ~300-row
    re-upload is cheap.

    r1 uses an INTEGER SENTINEL (BOUNDARY) instead of NULL, so NULL keeps
    the one meaning the left join gives it: no covering cell.
    """
    memo = index.get("_session_df")
    if memo is not None:
        if memo[0] is spark:
            return memo[2:]
        if memo[0].sparkContext is spark.sparkContext:  # else already gone
            memo[1].unpersist()
    # coalesce(1): one task per broadcast build, not defaultParallelism
    df = spark.createDataFrame(_covering_rows(index), COVERING_SCHEMA).coalesce(1).persist()
    value_map = F.create_map(
        *[x for fid, poly in enumerate(polygons) for x in (F.lit(fid), F.lit(str(poly.value)))]
    )
    index["_session_df"] = (spark, df, F.broadcast(df), value_map)
    return index["_session_df"][2:]


# Exact refine over a boundary row's cand: the first candidate (highest
# fid) with odd crossing parity wins, else NULL. The point rides in the
# accumulator (p.x, p.y), so the lambdas reference no column and a lon or
# lat column named like a lambda variable cannot be shadowed by it. The
# crossing test is the tree of points_in_rings / pip_sql_expr.
REFINE_SQL = (
    "aggregate(cand, named_struct('x', {lon}, 'y', {lat}, 'fid', CAST(-1 AS BIGINT)), "
    "(p, c) -> CASE WHEN p.fid < 0 AND aggregate(c.e, false, (odd, s) -> odd != ("
    "((s.y1 > p.y) != (s.y2 > p.y)) "
    "AND (p.x < (s.x2 - s.x1) * (p.y - s.y1) / (s.y2 - s.y1) + s.x1))) "
    "THEN named_struct('x', p.x, 'y', p.y, 'fid', c.fid) ELSE p END, "
    "p -> CASE WHEN p.fid >= 0 THEN p.fid END)"
)


def pip_join(
    points: DataFrame,
    polygons: list[Polygon],
    lon_col: str = "lon",
    lat_col: str = "lat",
    how: str = "inner",
) -> DataFrame:
    """Join points to the polygon layer; adds ``feature_id`` + ``zone_value``.

    Zero-shuffle; interior cells resolve JVM-side at two index levels;
    only fine-boundary rows (measured 0.83% on the flagship layer) run
    the exact test, against the candidate edges their covering row
    carries (pruned to the cell's latitude band, so complex layers keep
    a small broadcast).

    Points matching no polygon are dropped under ``how='inner'``
    (reference zone-raster fill semantics) or kept with nulls under 'left'.
    """
    index = build_covering_index(polygons)
    cov, value_map = _session_memo(points.sparkSession, index, polygons)

    # compute the integer coords ONCE as columns; the spread-bits morton
    # references them several times and CollapseProject declines to inline
    # non-cheap exprs used more than once, so the plan stays linear-sized
    # and codegen evaluates each coord once per row
    pts = points.withColumns({
        "_qx": F.expr(cells.ix_sql_expr(lon_col, DEFAULT_FINE_RES)),
        "_qy": F.expr(cells.iy_sql_expr(lat_col, DEFAULT_FINE_RES)),
    }).withColumn("_cf", F.expr(cells.morton_fast_sql("_qx", "_qy", DEFAULT_FINE_RES)))
    # coarse cell (the join key) and array slot: the high and low bits of
    # the fine Morton code (bits 5+ of a cell id; the low 5 hold its res)
    coarse = f"shiftleft(shiftrightunsigned(_cf, {5 + 2 * (DEFAULT_FINE_RES - DEFAULT_RES)}), 5)"
    r2 = f"element_at(fine, CAST(shiftrightunsigned(_cf, 5) & {SLOTS - 1} AS INT) + 1)"
    # Still in the scan stage (codegen): read the slot, and keep cand on
    # boundary rows only. The refine Project below cannot codegen
    # (higher-order functions), so every column it reads is copied out of
    # this stage per row: it must see neither the 1,024-slot fine array
    # nor the edges of rows that need no test.
    joined = pts.join(
        cov, on=F.expr(f"{coarse} + {DEFAULT_RES}") == cov["c1"], how="left"
    ).withColumns({
        "r2": F.expr(r2),
        "cand": F.expr(f"CASE WHEN {r2} = {BOUNDARY} THEN cand END"),
    })

    # resolution ladder: coarse-resolved → fine-resolved → refine (cand
    # is non-NULL exactly on boundary rows; CASE really short-circuits, so
    # only they pay for the test, and a union branch for boundary rows,
    # which measured slower when the refine was an Arrow UDF, would only
    # add a second scan). spark_partition_id() makes the Project
    # nondeterministic: a barrier that keeps the inner filter from being
    # pushed below it, which would inline the slot read and the refine
    # into a non-codegen Filter and drag fine out of the scan stage
    # (without it, zonal-pages op_s.p50 0.96 → 3.4 s and peak_rss_mb
    # 1.7 → 2.8 GB; perfbench seed 1, local[4]).
    feature = (
        "CASE WHEN r1 >= 0 THEN r1 WHEN r2 >= 0 THEN r2 "
        "WHEN cand IS NOT NULL AND spark_partition_id() >= 0 THEN "
        f"{REFINE_SQL.format(lon=lon_col, lat=lat_col)} END"
    )
    keep = [
        F.col("`" + c.replace("`", "``") + "`")
        for c in points.columns
        if c not in ("feature_id", "zone_value")
    ]
    joined = joined.select(*keep, F.expr(feature).alias("feature_id")).withColumn(
        "zone_value", value_map[F.col("feature_id")]
    )
    if how == "inner":
        joined = joined.filter("feature_id IS NOT NULL")
    return joined
