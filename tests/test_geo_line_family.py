"""The polyline family returns the same rows, bit for bit, whatever the
Arrow batch size: every line join and both ``geo_nearest_polyline``
plans at ``maxRecordsPerBatch`` 1, 7 and the session default."""

from __future__ import annotations

import numpy as np
import pytest

from ffcl_spark.operators import geo as G
from tests.test_geo import world_pdf

PATH_TYPE = "line_id string, path array<struct<lat double, lon double>>"


def _walks(spark, n: int, seed: int, prefix: str):
    """``n`` random-walk chains of 4–10 vertices, worldwide, some
    crossing the antimeridian."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        m = int(rng.integers(4, 11))
        lat0 = float(np.degrees(np.arcsin(rng.uniform(-0.9, 0.9))))
        lon0 = float(rng.uniform(-180.0, 180.0))
        steps = rng.normal(0.0, 4.0, (m, 2)).cumsum(axis=0)
        path = [
            {"lat": float(np.clip(lat0 + a, -89.0, 89.0)),
             "lon": float((lon0 + b + 180.0) % 360.0 - 180.0)}
            for a, b in steps
        ]
        rows.append((f"{prefix}-{i:03d}", path))
    return spark.createDataFrame(rows, PATH_TYPE)


FORMS = {
    "line_tile": lambda a, b, t, p: G.geo_line_tile_join(a, t),
    "line_line": lambda a, b, t, p: G.geo_line_line_join(a, b),
    "line_line_self": lambda a, b, t, p: G.geo_line_line_join(a.unionByName(b)),
    "frechet": lambda a, b, t, p: G.trajectory_frechet_join(a, b),
    "frechet_self": lambda a, b, t, p: G.trajectory_frechet_join(a),
    "frechet_cap": lambda a, b, t, p: G.trajectory_frechet_join(
        a, b, max_dist_m=3_000_000.0
    ),
    "hausdorff": lambda a, b, t, p: G.trajectory_hausdorff_join(a, b),
    "hausdorff_self": lambda a, b, t, p: G.trajectory_hausdorff_join(a),
    "hausdorff_cap": lambda a, b, t, p: G.trajectory_hausdorff_join(
        a, b, max_dist_m=3_000_000.0
    ),
    "nearest_closure": lambda a, b, t, p: G.geo_nearest_polyline(
        p, a, max_dist_m=1_500_000.0
    ),
    "nearest_cover": lambda a, b, t, p: G.geo_nearest_polyline(
        p, a, max_dist_m=1_500_000.0, plan="cover"
    ),
}


def _rows(df) -> list[tuple]:
    """Sorted rows with every float as its exact hex spelling."""
    return sorted(
        tuple(v.hex() if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


@pytest.mark.parametrize("form", sorted(FORMS))
def test_line_family_invariant_to_arrow_batches(spark, form):
    a = G.sphere_routes(spark).unionByName(_walks(spark, 30, 5, "wa"))
    b = G.sphere_routes_b(spark).unionByName(_walks(spark, 30, 6, "wb"))
    tiles = G.sphere_tiles(spark)
    pts = spark.createDataFrame(world_pdf(200, seed=4))
    run = FORMS[form]
    want = _rows(run(a, b, tiles, pts))
    assert want
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        for size in ("1", "7"):
            spark.conf.set(key, size)
            assert _rows(run(a, b, tiles, pts)) == want, size
    finally:
        spark.conf.set(key, old)
