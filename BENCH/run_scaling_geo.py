"""Geodesic scaling-efficiency evidence (north_rule ≥ 0.8 from N to 4N),
round-5 tail: the spherical-grid radius join and the map-only nearest-
tile assignment at local[1] (N) vs local[4] (4N) in separate JVMs —
the same N/4N pair the headline scaling table uses (above ~8 local
threads this box hits a memory-bandwidth ceiling a real multi-node
cluster does not have; see BENCH/BASELINE.md round-3 note).

Input: the deterministic 913,722-point sf0.1 media-point table mapped
worldwide (lat = 3x, lon = 6y); the radius join runs on the FULL set
(≈143M output pairs — first calibration on a 1/2 subset produced
~29 s local[1] walls where fixed job/Arrow overheads distorted the
ratio) and the nearest-tile stage on a ×4 replication (3.65M points)
for the same reason. Per level, REPS runs; per-stage minima are kept
(min is the noise-robust estimator in this shared sandbox).

    python BENCH/run_scaling_geo.py [reps]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPS = int(sys.argv[1]) if len(sys.argv) > 1 else 2

JOB = r"""
import json, sys, time
sys.path.insert(0, sys.argv[2])  # the launching checkout
from pyspark.sql import functions as F
from ffcl_spark import get_spark
from ffcl_spark.sources.docs import synth_docs
from ffcl_spark.sources.points import media_points
from ffcl_spark.operators.geo import (
    geo_nearest_tile,
    geo_radius_join,
    geo_zonal_stats,
    sphere_tiles,
)

cpus = int(sys.argv[1])
spark = get_spark(
    app_name=f"geo_scaling_{cpus}", master=f"local[{cpus}]",
    shuffle_partitions=max(cpus * 2, 2),
)
SF = "/root/testdata/sf0.1"
li = (
    spark.read.parquet(f"{SF}/lineitem.parquet")
    .select((F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("pid"))
    .distinct()
)
pts = media_points(synth_docs(li, "pid", None)).select("id", "x", "y")
geo = pts.select(
    "id", (F.col("x") * 3).alias("lat"), (F.col("y") * 6).alias("lon")
).cache()
n = geo.count()

t0 = time.time()
rad_rows = geo_radius_join(geo, geo, 100_000.0).count()
t_rad = time.time() - t0

big = geo.crossJoin(
    spark.range(4).select(F.col("id").alias("rep"))
).select(F.concat_ws("#", "id", "rep").alias("id"), "lat", "lon").cache()
n_big = big.count()
tiles = sphere_tiles(spark)
t0 = time.time()
near_rows = geo_nearest_tile(big, tiles).count()
t_near = time.time() - t0

# zonal statistics over the same x4 replication: carry-through PIP
# pass + |tiles|-row partial agg
vals = big.withColumn("v", F.pmod(F.xxhash64("id"), F.lit(1000)))
t0 = time.time()
zon_rows = geo_zonal_stats(vals, tiles, values=("v",)).count()
t_zonal = time.time() - t0

print(json.dumps({
    "cpus": cpus, "n_points": n, "n_big": n_big,
    "geo_radius": round(t_rad, 2), "geo_radius_rows": rad_rows,
    "geo_nearest": round(t_near, 2), "geo_nearest_rows": near_rows,
    "geo_zonal": round(t_zonal, 2), "geo_zonal_rows": zon_rows,
}))
spark.stop()
"""


def run_once(cpus: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", JOB, str(cpus), REPO],
        capture_output=True, text=True, timeout=7200,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(
            f"job failed at {cpus} cpus:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
        )
    return json.loads(lines[-1])


def main() -> None:
    res = {}
    for cpus in (1, 4):
        runs = [run_once(cpus) for _ in range(REPS)]
        best = dict(runs[0])
        for k in ("geo_radius", "geo_nearest", "geo_zonal"):
            best[k] = min(r[k] for r in runs)
            best[f"{k}_raw"] = [r[k] for r in runs]
        res[cpus] = best
        print(json.dumps(best), flush=True)
    for k in ("geo_radius", "geo_nearest", "geo_zonal"):
        eff = res[1][k] / (4.0 * res[4][k])
        print(json.dumps({"stage": k, "eff_n_to_4n": round(eff, 3)}), flush=True)


if __name__ == "__main__":
    main()
