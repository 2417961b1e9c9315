"""kNN join on geotagged records (north-rule operator; SURVEY.md §2.3 "—").

Two physical strategies:

- **Brute force** (exactness baseline): queries broadcast against all
  points, ranking window per query. WindowGroupLimit gives partial top-k
  before the exchange, so the shuffle carries ≤ k rows per (query,
  partition) — correct at any scale, O(N·Q) distance evaluations.
- **Cell-bucketed ring join** (the scale path): both sides keyed by
  qcell at ``res``; candidates = points in the query's cell + its ring-R
  neighborhood (driver-enumerated neighbor offsets exploded on the SMALL
  query side, broadcast, equi-join on cell). Exact iff the true k-th
  neighbor lies within the ring — guaranteed when ring_radius·cell_size
  ≥ the k-th-neighbor distance bound; callers pick (res, ring) from
  point density, the classic grid-kNN trade.

Distance: squared Euclidean in degrees (deterministic rational ops on
exact inputs → bit-identical ranking in the DuckDB oracle; ties broken
by neighbor id)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..grid import cells as _cells


def sq_dist(qlon, qlat, plon, plat) -> Column:
    dx = F.col(qlon) - F.col(plon)
    dy = F.col(qlat) - F.col(plat)
    return dx * dx + dy * dy


def knn_join_bruteforce(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "doc_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(lon_col).alias("_qlon"),
        F.col(lat_col).alias("_qlat"),
    )
    p = points.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(lon_col).alias("_plon"),
        F.col(lat_col).alias("_plat"),
    )
    cand = p.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.withColumn("_d", sq_dist("_qlon", "_qlat", "_plon", "_plat"))
    w = W.partitionBy("query_id").orderBy(F.col("_d"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


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
    """Grid kNN: equi-join on the qcell neighborhood instead of cross join.

    The query side explodes its cell's (2·ring+1)² neighborhood (pure
    integer cell arithmetic via ix/iy offsets) and broadcasts; the big
    point side computes one cell id — no shuffle of points, candidates
    shrink from N to N·(ring²·cellarea/worldarea)."""
    n = 1 << res
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(lon_col).alias("_qlon"),
        F.col(lat_col).alias("_qlat"),
    )
    # neighborhood cells via ix/iy offsets (clamp lat, wrap lon) — built
    # as ONE SQL expression string (r8): the former per-offset Column-op
    # loop cost ~0.9 s of py4j round trips per plan build
    q = q.withColumn(
        "_ix", F.expr(_cells.ix_sql_expr("_qlon", res))
    ).withColumn("_iy", F.expr(_cells.iy_sql_expr("_qlat", res)))
    offsets = [(dx, dy) for dx in range(-ring, ring + 1) for dy in range(-ring, ring + 1)]
    elems = ", ".join(
        _cells.morton_fn_sql(
            f"pmod(_ix + {dx}, {n})",
            f"least(greatest(_iy + {dy}, 0), {n - 1})",
            res,
        )
        for dx, dy in offsets
    )
    cells_arr = F.expr(f"array_distinct(array({elems}))")
    q_exp = q.withColumn("_cell", F.explode(cells_arr)).drop("_ix", "_iy")

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
    p = points.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(lon_col).alias("_plon"),
        F.col(lat_col).alias("_plat"),
    ).withColumn(
        "_px", F.expr(_cells.ix_sql_expr("_plon", res))
    ).withColumn(
        "_py", F.expr(_cells.iy_sql_expr("_plat", res))
    ).withColumn(
        "_pcell", F.expr(_cells.morton_fast_sql("_px", "_py", res))
    ).drop("_px", "_py")

    cand = p.join(F.broadcast(q_exp), F.col("_pcell") == F.col("_cell")).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cand.withColumn("_d", sq_dist("_qlon", "_qlat", "_plon", "_plat"))
    w = W.partitionBy("query_id").orderBy(F.col("_d"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def knn_join_adaptive(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "doc_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = 7,
    max_ring: int = 8,
    metrics: dict | None = None,
) -> DataFrame:
    """Complete grid kNN via ring EXPANSION (SURVEY.md §4.2 item 4).

    A ring-R result for a query is PROVEN complete when its k-th neighbor
    distance is strictly inside R cells' guaranteed reach: any point
    outside the (2R+1)² neighborhood is at least R·min(cell_w, cell_h)
    away (in the same-latitude band approximation used by the
    squared-degree metric) — strict inequality, so a same-distance point
    just outside the ring can never displace a returned neighbor on an
    id tie-break. Queries failing the guarantee (or finding < k
    candidates) re-run at ring 2R; the loop doubles until max_ring. Each
    iteration is a broadcast equi-join — the big point table is never
    shuffled, and the fraction of re-run queries drops geometrically for
    non-adversarial densities.

    The done/remaining split stays DataFrame-only (left_semi/left_anti
    on the guard flag): nothing O(queries) is ever collected to the
    driver, so 10⁸-query workloads are fine. Per-iteration results are
    localCheckpoint-ed (eager) — that both materializes the ≤k·|remaining|
    rows once (each feeds two consumers) and truncates the iterative
    lineage. Each eager checkpoint runs its own Spark jobs, so the
    per-job durations that ``tools/profile_layers.py`` prints split the
    time ring by ring.

    ``metrics`` (optional dict, mutated in place) makes the operator
    report its own worst case — essential observability at 100 TB where
    a single adversarial density pocket can silently quadruple ring
    work.  Keys written: ``rings_used`` (deepest ring executed),
    ``escalated_per_ring`` ({ring: queries still unproven after that
    ring's guard}), ``cap_queries`` (queries emitted at ``max_ring``
    WITHOUT the completeness guarantee — 0 unless the cap was hit).
    Costs one count() job per iteration on the checkpointed remaining
    set (replacing the isEmpty probe), driver memory O(#rings).
    """
    n = 1 << res
    cell_h_deg = 180.0 / n
    cell_w_deg = 360.0 / n
    guarantee_unit = min(cell_h_deg, cell_w_deg)

    remaining = queries
    results = []
    ring = 1
    while True:
        got = knn_join_cells(
            points, remaining, k, id_col, lon_col, lat_col, res, ring
        ).localCheckpoint(eager=True)
        if ring >= max_ring:
            results.append(got)
            if metrics is not None:
                metrics["rings_used"] = ring
                # ring == 1 means max_ring == 1: nothing ever escalated,
                # but the guard never ran either, so every query is
                # unproven; count the full remaining set in both cases
                metrics["cap_queries"] = remaining.count()
            break
        # completeness per query: found k candidates AND the k-th distance
        # is STRICTLY within the ring guarantee radius
        guard = (ring * guarantee_unit) ** 2
        kth_d = (
            got.filter(F.col("rank") == k)
            .join(
                remaining.select(
                    F.col(id_col).alias("query_id"),
                    F.col(lon_col).alias("_qlon"),
                    F.col(lat_col).alias("_qlat"),
                ),
                "query_id",
            )
            .join(
                points.select(
                    F.col(id_col).alias("neighbor_id"),
                    F.col(lon_col).alias("_plon"),
                    F.col(lat_col).alias("_plat"),
                ),
                "neighbor_id",
            )
            .withColumn("_d", sq_dist("_qlon", "_qlat", "_plon", "_plat"))
        )
        done_q = (
            kth_d.filter(F.col("_d") < F.lit(guard))
            .select("query_id")
            .localCheckpoint(eager=True)
        )
        results.append(got.join(done_q, "query_id", "left_semi"))
        remaining = remaining.join(
            done_q,
            remaining[id_col] == done_q["query_id"],
            "left_anti",
        ).localCheckpoint(eager=True)
        if metrics is not None:
            n_rem = remaining.count()
            metrics.setdefault("escalated_per_ring", {})[ring] = n_rem
            metrics["rings_used"] = ring
            metrics.setdefault("cap_queries", 0)
            empty = n_rem == 0
        else:
            empty = remaining.isEmpty()
        if empty:
            break
        ring *= 2

    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


