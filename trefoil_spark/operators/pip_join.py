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
   coarse row carries its fine level as one array. The point side derives
   fine cell, coarse cell and array slot with pure Catalyst integer
   expressions — whole-stage codegen, no shuffle.
3. **JVM resolution ladder**: rows in resolved cells (either level) get
   their feature_id from the broadcast row or its array slot.
4. **Exact refine** in one Arrow-batched pandas UDF running the chunked
   vectorized even-odd crossing test, burn order resolved in-UDF
   (highest feature_id wins = GDAL rasterize overwrite order). Every row
   rides the Arrow pipe, but only fine-boundary rows carry a cell; the
   rest pass NULL and cost the UDF no math.

Plan: Scan → codegen cell exprs → BHJ → ArrowEvalPython → ladder
projection. Zero shuffles, one scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

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
    boundary point), and ≤ 24: fine cell ids pass through a float64
    na_value round-trip in the winner UDF, and 2·24+6 = 54 bits is the
    last size exactly representable in a double's 53-bit mantissa.

    Returns dict with:
      coarse: [(cell, fids_desc, resolved|None)]   (None = boundary)
      fine:   [(cell, resolved|None)]              (children of boundary
               coarse cells at fine_res; None = still boundary)
      fine_fids: {fine_cell: fids_desc} for boundary fine cells (UDF map)
      rings_by_fid: {fid: rings}
    """
    if not res < fine_res <= 24:
        raise ValueError(
            f"require res < fine_res <= 24 (got res={res}, fine_res={fine_res}): "
            "fine_res == res would produce an empty fine index (boundary "
            "points silently unresolved); fine_res > 24 would corrupt cell "
            "ids in the winner UDF's float64 round-trip"
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
    fine_fids: dict[int, list[int]] = {}
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
        for i, fc in enumerate(f_cells.tolist()):
            if f_boundary[i]:
                fine.append((fc, None))
                parent_fids = sorted(
                    np.flatnonzero(cand[:, parent_row[i]]).tolist(), reverse=True
                )
                fine_fids[fc] = parent_fids
            else:
                fine.append((fc, int(f_resolved[i])))

    rings_by_fid = {fid: [r.copy() for r in poly.rings] for fid, poly in enumerate(polygons)}
    out = {
        "coarse": coarse,
        "fine": fine,
        "fine_fids": fine_fids,
        "rings_by_fid": rings_by_fid,
        "res": res,
        "fine_res": fine_res,
    }
    _COVERING_CACHE[key] = out
    return out


def _covering_rows(index: dict) -> list[tuple]:
    """(c1, r1, fine) rows of the broadcast covering table.

    r1: winner, -1 (outside) or BOUNDARY. fine: None unless c1 is a
    boundary cell; then slot ``(c >> 5) & (slots - 1)`` holds fine child
    c's winner, -1 or BOUNDARY. Slots are placed by that arithmetic, not
    by position: ``index["fine"]`` is enumerated y-outer, x-inner.
    """
    steps = index["fine_res"] - index["res"]
    morton = np.array([c for c, _ in index["fine"]], dtype=np.int64) >> 5
    parents, row = np.unique(((morton >> 2 * steps) << 5) + index["res"], return_inverse=True)
    arrays = np.full((parents.size, 1 << 2 * steps), BOUNDARY, dtype=np.int32)
    arrays[row, morton & ((1 << 2 * steps) - 1)] = [
        BOUNDARY if r is None else r for _, r in index["fine"]
    ]
    fine = dict(zip(parents.tolist(), arrays.tolist()))
    return [(c, BOUNDARY if r is None else r, fine.get(c)) for c, _, r in index["coarse"]]


def _session_memo(spark: SparkSession, index: dict, polygons: list[Polygon]):
    """(covering table, winner UDF, feature_id -> value map) for this
    session, memoized.

    The index is a pure function of the polygon layer (values included),
    so the table is uploaded and persisted once and each query's
    broadcast build reads the cached block; the UDF is built (and
    pickled on first use) once, the map Column too.
    The memo is the index's one per-session entry, keyed on the session
    object: newSession()s share one applicationId but each has its own
    SQL conf. A new session rebuilds all three (the UDF's JVM function
    binds to the live SparkContext) and unpersists the table it evicts;
    a ~300-row re-upload is cheap.

    r1 uses an INTEGER SENTINEL (BOUNDARY) instead of NULL: nullable ints
    round-tripped through pandas turn into DOUBLE NaN when the session
    has arrow.pyspark.enabled=false (NaN is not NULL → silently corrupts
    the resolution ladder and then explodes under ANSI casts), and NULL
    keeps the one meaning the left join gives it: no covering cell.
    """
    memo = index.get("_session_df")
    if memo is not None:
        if memo[0] is spark:
            return memo[1:]
        if memo[0].sparkContext is spark.sparkContext:  # else already gone
            memo[1].unpersist()
    # coalesce(1): one task per broadcast build, not defaultParallelism
    df = spark.createDataFrame(
        _covering_rows(index), "c1 bigint, r1 bigint, fine array<int>"
    ).coalesce(1).persist()
    winner = _make_winner_udf(index)
    value_map = F.create_map(
        *[x for fid, poly in enumerate(polygons) for x in (F.lit(fid), F.lit(str(poly.value)))]
    )
    index["_session_df"] = (spark, df, winner, value_map)
    return df, winner, value_map


def _make_winner_udf(index: dict):
    """Vectorized pandas UDF: (lon, lat, fine_cell) -> feature_id|null.

    r8: rows are grouped per distinct CANDIDATE FID LIST, not per
    distinct fine cell. A point's exact tests depend only on its cell's
    (burn-ordered) candidate list, and the number of distinct lists is
    bounded by polygon-overlap combinations (a handful) while distinct
    boundary cells number in the hundreds per batch — the per-cell loop
    paid points_in_rings' fixed numpy setup ~800x per batch for ~500
    boundary rows (measured 35-130 ms/batch; now ~#groups x #fids
    calls). The cell -> group mapping is two sorted int64 arrays built
    once per index (vectorized searchsorted lookup, no per-row Python);
    per-point test order (descending fid burn order within the point's
    list) is unchanged, so results are identical.
    """
    rings_by_fid = index["rings_by_fid"]
    groups = index.get("_fid_groups")
    if groups is None:
        cell_fids = index["fine_fids"]
        gid_by_list: dict[tuple, int] = {}
        group_fids: list[tuple] = []
        keys = np.empty(len(cell_fids), dtype=np.int64)
        gids = np.empty(len(cell_fids), dtype=np.int64)
        for i, (c, fids) in enumerate(cell_fids.items()):
            t = tuple(fids)
            g = gid_by_list.get(t)
            if g is None:
                g = gid_by_list[t] = len(group_fids)
                group_fids.append(t)
            keys[i] = c
            gids[i] = g
        order = np.argsort(keys)
        groups = index["_fid_groups"] = (keys[order], gids[order], group_fids)
    cell_keys, cell_gids, group_fids = groups

    @F.pandas_udf(LongType())
    def winner(lon: pd.Series, lat: pd.Series, cell: pd.Series) -> pd.Series:
        cells_v = cell.to_numpy(dtype="float64", na_value=np.nan)
        out = np.full(len(cells_v), -1, dtype=np.int64)
        active = np.flatnonzero(~np.isnan(cells_v))
        if active.size and cell_keys.size:
            lon_v = lon.to_numpy(dtype=np.float64)
            lat_v = lat.to_numpy(dtype=np.float64)
            cells_i = cells_v[active].astype(np.int64)
            pos = np.searchsorted(cell_keys, cells_i)
            pos = np.clip(pos, 0, cell_keys.size - 1)
            known = cell_keys[pos] == cells_i  # guard: unknown cell -> -1
            g = np.where(known, cell_gids[pos], -1)
            for gid in np.unique(g[g >= 0]).tolist():
                idx = active[g == gid]
                for fid in group_fids[gid]:  # descending = burn order
                    if idx.size == 0:
                        break
                    inside = points_in_rings(lon_v[idx], lat_v[idx], rings_by_fid[fid])
                    out[idx[inside]] = fid
                    idx = idx[~inside]
        # plain int64 with -1 = no match: an object series with Nones
        # degrades to NaN doubles when the session runs the non-Arrow UDF
        # serializer (arrow.pyspark.enabled=false), silently corrupting
        # results — the NULL translation happens JVM-side instead
        return pd.Series(out)

    # deterministic in fact, but marked otherwise so Catalyst doesn't
    # duplicate the (expensive) UDF when pushing filters through projects
    return winner.asNondeterministic()


def pip_join(
    points: DataFrame,
    polygons: list[Polygon],
    lon_col: str = "lon",
    lat_col: str = "lat",
    how: str = "inner",
) -> DataFrame:
    """Join points to the polygon layer; adds ``feature_id`` + ``zone_value``.

    Zero-shuffle; interior cells resolve JVM-side at two index levels;
    only fine-boundary rows (measured 0.83% on the flagship layer) need
    the exact test, which the Arrow-batched ``winner`` UDF runs with
    per-candidate-list pruning (scales to arbitrarily complex layers).

    Points matching no polygon are dropped under ``how='inner'``
    (reference zone-raster fill semantics) or kept with nulls under 'left'.
    """
    index = build_covering_index(polygons)
    cov, winner, value_map = _session_memo(points.sparkSession, index, polygons)

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
    slot = f"CAST(shiftrightunsigned(_cf, 5) & {SLOTS - 1} AS INT) + 1"
    joined = pts.join(
        F.broadcast(cov), on=F.expr(f"{coarse} + {DEFAULT_RES}") == cov["c1"], how="left"
    ).withColumn("r2", F.expr(f"element_at(fine, {slot})"))

    # resolution ladder (pure JVM; SQL text, one parse instead of a py4j
    # call per Column node): coarse-resolved → fine-resolved → refine
    # (r2 is non-NULL only in boundary coarse cells)
    jvm_feature = "CASE WHEN r1 >= 0 THEN r1 WHEN r2 >= 0 THEN r2 END"
    is_py = f"coalesce(r2 = {BOUNDARY}, false)"

    # Single pass on purpose: every row rides the Arrow pipe, and
    # non-boundary rows pass a NULL cell so the UDF does no math for them.
    # Splitting boundary rows into their own union branch (interior rows
    # never touch Arrow) measured slower on 2M-row zonal-pages
    # (op_s.p50 3.42-3.99 s single-pass vs 3.66-4.51 s split) and on the
    # interactive closed loop (1.11-1.26 s vs 1.51-1.83 s; perfbench on
    # local[4], 14 s runs, seeds 101-103): the union's second pass over
    # the input and through the broadcast join costs more than the
    # Arrow traffic it saves. The refine stays in Python rather than a
    # Catalyst CASE chain of crossing tests: that chain exceeds
    # whole-stage-codegen limits and drops the whole scan stage to
    # interpreted evaluation.
    # The raw UDF output uses -1 for "no match"; the NULL translation is a
    # separate JVM step (the UDF is nondeterministic-marked, so Catalyst
    # cannot collapse/duplicate it into downstream expressions).
    joined = joined.withColumn(
        "_fid_raw", winner(lon_col, lat_col, F.expr(f"CASE WHEN {is_py} THEN _cf END"))
    )
    feature = F.expr(
        f"CASE WHEN {is_py} THEN CASE WHEN _fid_raw >= 0 THEN _fid_raw END "
        f"ELSE {jvm_feature} END"
    )
    joined = joined.withColumns(
        {"feature_id": feature, "zone_value": value_map[feature]}
    ).drop("_qx", "_qy", "_cf", "c1", "r1", "fine", "r2", "_fid_raw")
    if how == "inner":
        joined = joined.filter(F.col("feature_id").isNotNull())
    return joined
