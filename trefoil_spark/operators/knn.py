"""kNN join on geotagged records (north-rule operator; SURVEY.md §2.3 "—").

Two physical strategies, the second with two ways to size its ring:

- **Brute force** (exactness baseline): queries broadcast against all
  points, ranking window per query. WindowGroupLimit gives partial top-k
  before the exchange, so the shuffle carries ≤ k rows per (query,
  partition) — correct at any scale, O(N·Q) distance evaluations.
- **Cell ring join** (the scale path): both sides keyed by qcell at
  ``res``; each query row carries its ring ``_R`` and explodes one range
  of columns (wrapped in longitude) and one range of rows (clipped to the
  grid), so its (2·_R+1)² neighbourhood is one Morton expression over two
  columns, whatever the ring. The neighbourhood rows are broadcast and
  equi-joined on cell against the big point side, which computes one
  cell id and is never shuffled. :func:`knn_join_cells` gives every
  query the caller's ring; :func:`knn_join_adaptive` gives each query
  the ring a per-cell count table proves exact.

Distance: squared Euclidean in degrees (deterministic rational ops on
exact inputs → bit-identical ranking in the DuckDB oracle; ties broken
by neighbor id)."""

from __future__ import annotations

import json
import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..grid import cells as _cells


def sq_dist(qlon, qlat, plon, plat) -> Column:
    dx = F.col(qlon) - F.col(plon)
    dy = F.col(qlat) - F.col(plat)
    return dx * dx + dy * dy


def _rank(cand: DataFrame, k: int) -> DataFrame:
    w = W.partitionBy("query_id").orderBy(
        sq_dist("_qlon", "_qlat", "_plon", "_plat"), F.col("neighbor_id")
    )
    return (
        cand.filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
    )


# Both sides drop rows with a NULL coordinate: an unlocated point is no
# one's neighbour (its distance is NULL, which the window would rank
# first) and an unlocated query has no neighbourhood. One rule for every
# kernel.

def _points(points: DataFrame, id_col: str, lon_col: str, lat_col: str) -> DataFrame:
    return points.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(lon_col).alias("_plon"),
        F.col(lat_col).alias("_plat"),
    ).filter(F.col("_plon").isNotNull() & F.col("_plat").isNotNull())


def _queries(queries: DataFrame, id_col: str, lon_col: str, lat_col: str) -> DataFrame:
    return queries.select(
        F.col(id_col).alias("query_id"),
        F.col(lon_col).alias("_qlon"),
        F.col(lat_col).alias("_qlat"),
    ).filter(F.col("_qlon").isNotNull() & F.col("_qlat").isNotNull())


def knn_join_bruteforce(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "doc_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    q = _queries(queries, id_col, lon_col, lat_col)
    return _rank(_points(points, id_col, lon_col, lat_col).crossJoin(F.broadcast(q)), k)


def _ring_join(p: DataFrame, q: DataFrame, k: int, res: int) -> DataFrame:
    """The candidate kernel: ``p`` is :func:`_points`; ``q`` holds
    query_id, _qlon, _qlat, the query's cell coords _ix/_iy and its
    ring _R.

    Columns wrap in longitude and rows clip to the grid, the same cell
    set as wrapping and clamping every (dx, dy) offset. When 2·_R+1 ≥ n
    the column range stops after n columns, so the exploded cells are
    distinct without an ``array_distinct``."""
    n = 1 << res
    q_exp = (
        q.withColumn(
            "_x",
            F.explode(F.expr(
                f"transform(sequence(-_R, least(_R, {n - 1} - _R)), d -> pmod(_ix + d, {n}))"
            )),
        )
        .withColumn(
            "_y",
            F.explode(F.expr(f"sequence(greatest(_iy - _R, 0), least(_iy + _R, {n - 1}))")),
        )
        .select("query_id", "_qlon", "_qlat",
                F.expr(_cells.morton_fast_sql("_x", "_y", res)).alias("_cell"))
    )

    # NOTE (r8, measured and rejected): a conditional round-robin
    # repartition of a 1-partition points side DID distribute the
    # candidate scoring, but each of the 32 post-exchange tasks paid
    # ~150 ms of fixed cost (exchange + per-task broadcast/codegen
    # setup) — more than the ~300 ms serial scoring it replaced at this
    # scale. At real scale the scan arrives in >= cores partitions and
    # the question is moot, so the operator stays exchange-free.
    # coords as named columns, morton over the attributes (r8): the
    # spread-bits ladder references its input ~32x textually, so the
    # coord expressions must be attributes (cheap re-reads), not inlined
    # trees — same shape as pip_join's _qx/_qy
    p = p.withColumns({
        "_px": F.expr(_cells.ix_sql_expr("_plon", res)),
        "_py": F.expr(_cells.iy_sql_expr("_plat", res)),
    }).withColumn("_pcell", F.expr(_cells.morton_fast_sql("_px", "_py", res)))

    return _rank(p.join(F.broadcast(q_exp), F.col("_pcell") == F.col("_cell")), k)


def _cell_queries(
    queries: DataFrame, id_col: str, lon_col: str, lat_col: str, res: int
) -> DataFrame:
    """Queries with their cell coords _ix/_iy."""
    return _queries(queries, id_col, lon_col, lat_col).withColumns({
        "_ix": F.expr(_cells.ix_sql_expr("_qlon", res)),
        "_iy": F.expr(_cells.iy_sql_expr("_qlat", res)),
    })


def knn_join_cells(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "doc_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = 7,
    ring: int = 1,
) -> DataFrame:
    """Grid kNN at a fixed ring: every query's candidates are the points
    in its cell's (2·ring+1)² neighbourhood. Exact only when that
    neighbourhood holds each query's true k nearest; for a proven-exact
    ring per query use :func:`knn_join_adaptive`."""
    q = _cell_queries(queries, id_col, lon_col, lat_col, res).withColumn("_R", F.lit(ring))
    return _ring_join(_points(points, id_col, lon_col, lat_col), q, k, res)


def _exact_rings(counts: np.ndarray, k: int, max_ring: int) -> np.ndarray:
    """Per-cell ring that provably holds the k nearest neighbours.

    ``counts[iy, ix]`` are the located points per cell of the n×n grid.
    A summed-area table gives each cell the smallest r whose (2r+1)² box
    (not wrapped) holds ≥ k+1 points — the +1 because the query may be
    one of them. Then the k-th neighbour of any query in the cell lies
    within D = (r+1)·hypot(cell_w, cell_h), and every point outside the
    query's ring R is more than R·min(cell_w, cell_h) away: strictly,
    so a same-distance point outside the ring can never displace a
    returned neighbour on an id tie-break. R is the smallest integer
    with R·min(cell_w, cell_h) > D. Rings are capped at n−1, which
    covers the whole grid from any cell (so a grid holding fewer than
    k+1 points is exact too), and at ``max_ring``, beyond which there is
    no guarantee."""
    n = counts.shape[0]
    sat = np.zeros((n + 1, n + 1), dtype=np.int64)
    sat[1:, 1:] = counts.cumsum(0).cumsum(1)
    i = np.arange(n)

    def box(r):
        x0, x1 = np.clip(i[None, :] - r, 0, n), np.clip(i[None, :] + r + 1, 0, n)
        y0, y1 = np.clip(i[:, None] - r, 0, n), np.clip(i[:, None] + r + 1, 0, n)
        return sat[y1, x1] - sat[y0, x1] - sat[y1, x0] + sat[y0, x0]

    # bitwise binary search for the largest r whose box holds ≤ k points
    # (box(r) grows with r); one more is the smallest that holds k+1
    r = np.full((n, n), -1)
    for b in reversed(range(n.bit_length() - 1)):
        step = r + (1 << b)
        r = np.where(box(step) <= k, step, r)
    w, h = 360.0 / n, 180.0 / n
    ring = np.floor((r + 2) * math.hypot(w, h) / min(w, h)).astype(np.int64) + 1
    return np.minimum(ring, min(n - 1, max_ring))


def knn_join_adaptive(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "doc_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = 7,
    max_ring: int = 8,
) -> DataFrame:
    """Complete grid kNN in one pass (SURVEY.md §4.2 item 4): each query
    runs the cell ring kernel at the ring :func:`_exact_rings` proves
    exact for its cell.

    Three steps, a fixed number of Spark jobs whatever the density:
    one aggregate of in-range point counts per cell (the driver holds
    the n×n count grid, O(4^res), never O(points) or O(queries)); a
    numpy summed-area table turning counts into a ring per cell; and
    the kernel, with the 4^res rings riding in the plan as one constant
    array that each query indexes by its cell. Points outside
    lon [-180, 180] / lat [-90, 90] are not counted, because their
    clamped cell does not bound their distance; a query out there gets
    the ring covering the whole grid. Rings above ``max_ring`` are cut
    to it without the completeness guarantee."""
    n = 1 << res
    in_range = "({lon} BETWEEN -180 AND 180) AND ({lat} BETWEEN -90 AND 90)"
    p = _points(points, id_col, lon_col, lat_col)
    counts = np.zeros((n, n), dtype=np.int64)
    for r in (
        p.filter(F.expr(in_range.format(lon="_plon", lat="_plat")))
        .groupBy(
            F.expr(_cells.ix_sql_expr("_plon", res)).alias("ix"),
            F.expr(_cells.iy_sql_expr("_plat", res)).alias("iy"),
        )
        .count()
        .collect()
    ):
        counts[r["iy"], r["ix"]] = r["count"]
    # one constant array: Catalyst folds the parse away, so no join,
    # broadcast or job carries the rings (a one-row broadcast table cost
    # a job and a nested-loop join, 0.2 s per query at sf0.1)
    rings = F.from_json(F.lit(json.dumps(_exact_rings(counts, k, max_ring).ravel().tolist())),
                        "array<int>")
    q = _cell_queries(queries, id_col, lon_col, lat_col, res).withColumn(
        "_R",
        F.when(
            F.expr(in_range.format(lon="_qlon", lat="_qlat")),
            F.element_at(rings, F.expr(f"CAST(_iy * {n} + _ix + 1 AS INT)")),
        ).otherwise(min(n - 1, max_ring)),
    )
    return _ring_join(p, q, k, res)
