"""Driver-environment robustness: results must be identical under a PLAIN
SparkSession (no engine conf: ANSI on, arrow.pyspark off) — the grading
driver builds its own session, so any conf-sensitivity is a silent
correctness bug (regression guard for the NaN-vs-NULL fine-index issue)."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys
sys.path.insert(0, %(repo)r)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]").appName("raw")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
sf = %(sf)r
out = {
    "pip": e.q_pip_join(spark, sf).count(),
    "zonal": sorted(map(str, e.q_zonal_stats(spark, sf).collect())),
    "lsh": e.q_similarity_ann(spark, sf).count(),
}
print("RESULT" + json.dumps(out))
"""


def test_raw_session_matches_engine_session(spark, sf_dir):
    import __spark_entry__ as e

    want = {
        "pip": e.q_pip_join(spark, sf_dir).count(),
        "zonal": sorted(map(str, e.q_zonal_stats(spark, sf_dir).collect())),
        "lsh": e.q_similarity_ann(spark, sf_dir).count(),
    }
    out = subprocess.run(
        [sys.executable, "-c", CHILD % {"repo": REPO, "sf": sf_dir}],
        capture_output=True, text=True, cwd=REPO, timeout=400,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("RESULT")]
    assert lines, out.stdout[-1500:] + out.stderr[-1500:]
    got = json.loads(lines[-1][len("RESULT"):])
    assert got == want


def test_build_pages_binds_to_calling_session(spark, sf_dir):
    """build_pages memoizes its lazy plan; every newSession() shares the
    applicationId, so a memo keyed on it handed one session's DataFrame
    (and SQL conf) to another."""
    from trefoil_spark.sources.pages import build_pages

    other = spark.newSession()
    for s in (spark, other, spark):
        assert build_pages(s, sf_dir).sparkSession is s


def test_build_pages_scaled_binds_to_calling_session(spark, sf_dir):
    """build_pages_scaled memoizes its lazy plan like build_pages: each
    session gets its own, and a repeated call returns the memoized one."""
    from trefoil_spark.sources.pages import build_pages_scaled

    other = spark.newSession()
    for s in (spark, other, spark):
        df = build_pages_scaled(s, sf_dir, 3)
        assert df.sparkSession is s
        assert build_pages_scaled(s, sf_dir, 3) is df


def test_pip_join_binds_to_calling_session(spark, sf_dir):
    """pip_join memoizes its persisted covering table; keyed on the
    applicationId, a newSession() joined against (and broadcast) the
    first session's table."""
    from trefoil_spark.operators.pip_join import build_covering_index, pip_join
    from trefoil_spark.sources.pages import build_pages
    from trefoil_spark.sources.zones import ZONE_LAYER

    other = spark.newSession()
    results = []
    for s in (spark, other, spark):
        pts = build_pages(s, sf_dir).select("doc_id", "lon", "lat")
        joined = pip_join(pts, ZONE_LAYER, how="left")
        results.append(sorted(joined.select("doc_id", "feature_id").collect()))
        assert build_covering_index(ZONE_LAYER)["_session_df"][1].sparkSession is s
    assert results[0] == results[1] == results[2]
