"""Geodesic kNN-join scaling-efficiency evidence (north_rule ≥ 0.8,
N → 4N), round 6: the one headline geodesic stage that had no scaling
row in r5 (VERDICT #1 "done" criterion). Same protocol as
``run_scaling_geo.py``: identical input at local[1] (N per core) vs
local[4] (4N per core count — strong scaling) in separate JVMs, REPS
runs per level, per-level minima (min is the noise-robust estimator in
this shared sandbox), raw samples disclosed.

Input: the full deterministic 913,722-point sf0.1 media-point table
mapped worldwide (lat = 3x, lon = 6y), self kNN join k = 5 through the
r6 tiered local-density plan.

    python BENCH/run_scaling_geo_knn.py [reps]
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
from ffcl_spark.operators.geo import sphere_knn_join
from ffcl_spark.plans.cache import release

cpus = int(sys.argv[1])
spark = get_spark(
    app_name=f"geo_knn_scaling_{cpus}", master=f"local[{cpus}]",
    shuffle_partitions=max(cpus * 2, 2),
)
SF = "/root/testdata/sf0.1"
li = (
    spark.read.parquet(f"{SF}/lineitem.parquet")
    .select((F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("pid"))
    .distinct()
)
geo = (
    media_points(synth_docs(li, "pid", None))
    .select("id", (F.col("x") * 3).alias("lat"), (F.col("y") * 6).alias("lon"))
    .persist()
)
n = geo.count()
t0 = time.time()
out = sphere_knn_join(geo, geo, 5)
rows = out.count()
dt = time.time() - t0
release(out)
print(json.dumps({"cpus": cpus, "n": n, "rows": rows, "sec": round(dt, 2)}))
spark.stop()
"""


def run(cpus: int) -> dict:
    best = None
    raw = []
    for _ in range(REPS):
        p = subprocess.run(
            [sys.executable, "-c", JOB, str(cpus), REPO],
            capture_output=True, text=True, cwd=REPO,
        )
        line = [ln for ln in p.stdout.splitlines() if ln.startswith("{")][-1]
        d = json.loads(line)
        raw.append(d["sec"])
        if best is None or d["sec"] < best["sec"]:
            best = d
    best["raw"] = raw
    return best


if __name__ == "__main__":
    r1 = run(1)
    r4 = run(4)
    eff = r1["sec"] / (4.0 * r4["sec"])
    print(json.dumps({"local1": r1, "local4": r4, "eff_n_to_4n": round(eff, 3)}))
