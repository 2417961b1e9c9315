"""Scaling-evidence probes (companion to bench_scaling.py).

Separates the three questions the N-vs-4N number conflates on a single
box:

1. ``alu``     — what can this box show AT ALL? An embarrassingly
   parallel, zero-memory, zero-Python JVM loop (range → xxhash64 →
   bit_xor). Any efficiency below 1.0 here is hardware (frequency
   scaling under load / hypervisor caps), not software.
2. ``flagship`` — the real job (narrow-scan pages → PIP join → zonal)
   at a given core count.
3. ``gen``     — deterministic 320M-row narrow pages table (lat, lon,
   n_chars, cell) = the column-pruned shape a columnar store feeds the
   operator at scale; derived from the cached wide table.

Usage:
  python tools/bench_scaling_probes.py gen
  python tools/bench_scaling_probes.py alu <cores> [runs]
  python tools/bench_scaling_probes.py flagship <cores> [runs]

Each invocation is one clean JVM (scaling runs must be exclusive on the
box); prints one JSON line. Efficiency for a pair (N, 4N) =
(T_N / T_4N) / 4; normalized efficiency divides by the alu probe's
efficiency at the same pair, isolating algorithm from hardware ceiling.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CACHE = os.environ.get("SPARK_GRAFT_BENCH_CACHE", "/tmp/trefoil_bench")
NARROW = os.path.join(CACHE, "pages_narrow_320m.parquet")
WIDE = os.path.join(CACHE, "pages_sf0.1_f8000.parquet")


def _spark(name: str, cores: int):
    from trefoil_spark.session import get_spark

    s = get_spark(
        app_name=f"{name}_{cores}", master=f"local[{cores}]",
        shuffle_partitions=max(cores, 1),
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def _force(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, runs: int) -> list[float]:
    fn()  # warmup, discarded
    ts = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    ts.sort()
    return ts


def cmd_gen():
    from pyspark.sql import functions as F

    if os.path.exists(os.path.join(NARROW, "_SUCCESS")):
        print(json.dumps({"status": "exists", "path": NARROW}))
        return
    spark = _spark("gen_narrow", 16)
    base = spark.read.parquet(WIDE).select(
        "lat", "lon", F.length("text").alias("n_chars"), "cell"
    )
    # deterministic 4x expansion, tiny coordinate jitter from the copy
    # index (keeps the spatial distribution; no RNG)
    rep = base.withColumn("_k", F.explode(F.array(*[F.lit(i) for i in range(4)])))
    rep = rep.select(
        (F.col("lat") + (F.col("_k") - 1.5) * 1e-6).alias("lat"),
        (F.col("lon") + (F.col("_k") - 1.5) * 1e-6).alias("lon"),
        "n_chars", "cell",
    )
    rep.sortWithinPartitions("cell").write.mode("overwrite").parquet(NARROW)
    print(json.dumps({"status": "wrote", "path": NARROW}))


def cmd_alu(cores: int, runs: int):
    from pyspark.sql import functions as F

    spark = _spark("alu", cores)

    def job():
        spark.range(0, 40_000_000_000, 1, cores * 4).select(
            F.expr("bit_xor(xxhash64(id))").alias("s")
        ).collect()

    ts = _timed(job, runs)
    print(json.dumps({"probe": "alu", "cores": cores,
                      "med": round(ts[len(ts) // 2], 2),
                      "all": [round(t, 2) for t in ts]}))


def cmd_flagship(cores: int, runs: int):
    from trefoil_spark.operators.pip_join import pip_join
    from trefoil_spark.operators.zonal import zonal_statistics
    from trefoil_spark.sources.zones import ZONE_LAYER

    spark = _spark("flag", cores)
    n = spark.read.parquet(NARROW).count()

    def job():
        slim = spark.read.parquet(NARROW).select("lat", "lon", "n_chars")
        _force(zonal_statistics(pip_join(slim, ZONE_LAYER),
                                "zone_value", "n_chars"))

    ts = _timed(job, runs)
    med = ts[len(ts) // 2]
    print(json.dumps({"probe": "flagship", "cores": cores,
                      "rows": n, "med": round(med, 2),
                      "rows_per_sec": round(n / med, 1),
                      "all": [round(t, 2) for t in ts]}))


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "gen":
        cmd_gen()
    elif cmd == "alu":
        cmd_alu(int(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 3)
    elif cmd == "flagship":
        cmd_flagship(
            int(sys.argv[2]),
            int(sys.argv[3]) if len(sys.argv) > 3 else 3,
        )
    else:
        raise SystemExit(f"unknown probe {cmd}")
