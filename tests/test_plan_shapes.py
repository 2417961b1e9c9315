"""Physical-plan shape assertions — the scale-hygiene contract.

These lock in the properties the engine is designed around: broadcast
joins for the vector side, zero shuffles of the big table in the PIP
join, column pruning + filter pushdown reaching the parquet scan, and
map-side partial aggregation.
"""

import os
import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


@pytest.fixture(scope="module")
def pages_parquet(spark, sf_dir, tmp_path_factory):
    from trefoil_spark.sources.pages import build_pages

    path = str(tmp_path_factory.mktemp("plans") / "pages.parquet")
    build_pages(spark, sf_dir, with_html=False).write.parquet(path)
    return path


def test_pip_join_plan_zero_shuffles(spark, pages_parquet):
    from trefoil_spark.operators.pip_join import pip_join
    from trefoil_spark.sources.zones import ZONE_LAYER

    pages = spark.read.parquet(pages_parquet)
    plan = _plan(pip_join(pages, ZONE_LAYER))
    # one covering table: the fine level rides the coarse rows as arrays
    assert plan.count("BroadcastHashJoin") == 1, plan
    # the only exchanges are broadcasts — no shuffle of the point table
    for line in plan.splitlines():
        if "Exchange" in line and "BroadcastExchange" not in line:
            raise AssertionError(f"unexpected shuffle in PIP join plan: {line}")
    # one physical path over one scan, no interior/boundary union
    # branches, and the exact refine runs in the JVM
    assert plan.count("ArrowEvalPython") == 0, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Union" not in plan, plan
    lines = plan.splitlines()
    refine = [i for i, l in enumerate(lines) if "Project" in l and "aggregate(" in l]
    assert len(refine) == 1, plan
    # the inner filter stays above the refine Project (not pushed below
    # it, which would inline the slot read and the refine into the filter)
    filters = [i for i, l in enumerate(lines) if "Filter isnotnull(feature_id#" in l]
    assert len(filters) == 1 and filters[0] < refine[0], plan
    # the refine Project's input (the next line) no longer carries the
    # 1,024-slot fine array, only the slot read from it
    child = lines[refine[0] + 1]
    assert "Project" in child and " AS r2#" in child, plan
    assert not re.search(r"(\[|, )fine#\d+(,|\])", child), child


def test_zonal_pipeline_single_shuffle(spark, pages_parquet):
    from trefoil_spark.operators.pip_join import pip_join
    from trefoil_spark.operators.zonal import zonal_statistics
    from trefoil_spark.sources.zones import ZONE_LAYER

    pages = spark.read.parquet(pages_parquet)
    slim = pages.select("lat", "lon", F.length("text").alias("n_chars"))
    zs = zonal_statistics(pip_join(slim, ZONE_LAYER), "zone_value", "n_chars")
    plan = _plan(zs)
    shuffles = [
        l for l in plan.splitlines()
        if "Exchange" in l and "BroadcastExchange" not in l
    ]
    assert len(shuffles) == 1, shuffles  # the final agg exchange only
    # partial+final hash aggregation (map-side combine)
    assert plan.count("HashAggregate") >= 2


def test_column_pruning_reaches_scan(spark, pages_parquet):
    from trefoil_spark.operators.pip_join import pip_join
    from trefoil_spark.sources.zones import ZONE_LAYER

    pages = spark.read.parquet(pages_parquet)
    out = pip_join(pages, ZONE_LAYER).select("doc_id", "zone_value")
    plan = _plan(out)
    # text/url never read: ReadSchema holds only what the query needs
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines, plan
    assert "text" not in scan_lines[0] and "url" not in scan_lines[0]


def test_filter_pushdown_reaches_scan(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    out = pages.filter((F.col("cell") == 1234) & (F.col("lang") == "en")).select("doc_id")
    plan = _plan(out)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "EqualTo(cell,1234)" in pushed[0], plan


def test_knn_cells_plan_broadcasts_queries(spark, pages_parquet):
    from trefoil_spark.operators.knn import knn_join_cells

    pages = spark.read.parquet(pages_parquet).select("doc_id", "lon", "lat")
    queries = pages.filter(F.col("doc_id") % 100 == 0)
    plan = _plan(knn_join_cells(pages, queries, k=5))
    assert "BroadcastHashJoin" in plan
    # ranking uses the partial top-k before the exchange
    assert "WindowGroupLimit" in plan


def test_knn_cells_plan_size_does_not_grow_with_ring(spark, pages_parquet):
    """The query side explodes a column range and a row range and
    applies one Morton expression, so a wider ring is a different
    literal, not (2·ring+1)² pasted Morton ladders."""
    from trefoil_spark.operators.knn import knn_join_cells

    pages = spark.read.parquet(pages_parquet).select("doc_id", "lon", "lat")
    queries = pages.filter(F.col("doc_id") % 100 == 0)

    def size(ring):
        df = knn_join_cells(pages, queries, k=5, res=7, ring=ring)
        return len(df._jdf.queryExecution().analyzed().toJSON())

    assert size(8) <= 1.5 * size(1)
