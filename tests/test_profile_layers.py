"""tools/profile_layers.py end to end: one row per query, build jobs kept
out of the action, and the parts adding up to each query's wall time."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(ROOT, "tools", "profile_layers.py")
# a bench.py leaf, a leaf whose build runs eager jobs, and a declared query
NAMES = ("cell_assign", "vectorize", "knn_join")
TAG = "layerstest"


def test_profile_layers_rows(sf_dir):
    plans = [os.path.join(ROOT, "plans", "r08", f"{n}_{TAG}.txt") for n in NAMES]
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS="2")
    try:
        out = subprocess.run(
            [sys.executable, TOOL, TAG, *NAMES], env=env, cwd=ROOT,
            capture_output=True, text=True, timeout=600,
        )
        assert out.returncode == 0, out.stderr[-3000:]
        for p in plans:
            assert os.path.getsize(p) > 0, p
    finally:
        for p in plans:
            if os.path.exists(p):
                os.remove(p)

    lines = [line.split() for line in out.stdout.splitlines() if not line.startswith("#")]
    header, rows = lines[0], lines[1:]
    assert header[0] == "query"
    rows = {r[0]: dict(zip(header[1:], r[1:])) for r in rows}
    assert sorted(rows) == sorted(NAMES)
    assert int(rows["vectorize"]["bjobs"]) > 0
    for name, r in rows.items():
        v = {k: float(r[k]) for k in ("wall_s", "build_s", "bbusy_s", "catalyst_s",
                                      "busy_s", "gap_s")}
        assert v["gap_s"] >= 0, (name, r)
        assert v["build_s"] >= 0, (name, r)
        parts = v["build_s"] + v["bbusy_s"] + v["catalyst_s"] + v["busy_s"] + v["gap_s"]
        assert abs(parts - v["wall_s"]) <= 0.1 * v["wall_s"], (name, r)
