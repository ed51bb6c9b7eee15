"""Exactness of the r6 tiered local-density start path of
``sphere_knn_join`` (n_refs > 4096 activates it) against the brute
NumPy oracle, on a deliberately skewed fixture: a dense polar cluster,
a dense city cluster, and a sparse ocean scatter — the regime the
per-query start radius exists for. The per-round resolution rule is
start-radius-invariant by construction; this pins it."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ffcl_spark.kernels.geo import geo_brute_knn
from ffcl_spark.operators import geo as G
from ffcl_spark.operators.geo import sphere_knn_join
from ffcl_spark.plans.cache import release

K = 4


@pytest.fixture(scope="module")
def skewed_geo(spark):
    rng = np.random.default_rng(11)
    # 3000 points crowding a "city", 2500 near the north pole (the
    # lat-uniform pathological regime), 800 spread over the oceans
    city = np.stack(
        [48.8 + rng.normal(0, 0.05, 3000), 2.35 + rng.normal(0, 0.08, 3000)],
        axis=1,
    )
    pole = np.stack(
        [89.2 + rng.random(2500) * 0.79, rng.uniform(-180, 180, 2500)], axis=1
    )
    ocean = np.stack(
        [rng.uniform(-65, 65, 800), rng.uniform(-180, 180, 800)], axis=1
    )
    pts = np.concatenate([city, pole, ocean])
    rows = [
        (int(i), float(lat), float(lon)) for i, (lat, lon) in enumerate(pts)
    ]
    df = spark.createDataFrame(rows, "id long, lat double, lon double").persist()
    df.count()
    yield df, pts
    df.unpersist()


def test_tiered_local_start_matches_brute(spark, skewed_geo):
    df, pts = skewed_geo
    assert df.count() > 4096  # the tiered path is actually active
    out = sphere_knn_join(df, df, K)
    got = {
        (r["q_id"], r["rank"]): (r["r_id"], r["dist_m"])
        for r in out.collect()
    }
    release(out)
    n = len(pts)
    assert len(got) == n * K
    ids = np.arange(n)
    # spot-check a deterministic slice of queries from each regime
    # against the exact oracle (full brute at 6300² is test-budget
    # heavy; 90 queries cover city / pole / ocean)
    probe = list(range(0, 30)) + list(range(3000, 3030)) + list(range(5500, 5530))
    oracle = geo_brute_knn(
        pts[probe, 0], pts[probe, 1], pts[:, 0], pts[:, 1], ids, K
    )
    for qi, (oids, odists) in zip(probe, oracle):
        for rank in range(K):
            rid, dist = got[(qi, rank + 1)]
            assert rid == oids[rank], (qi, rank)
            # same metric, different expression trees (haversine column
            # vs numpy) — equal to float slack
            assert abs(dist - odists[rank]) < 1e-6


@pytest.mark.parametrize("max_rounds", [1, 2])
def test_round_budget_exhausted_searches_whole_sphere(spark, max_rounds, monkeypatch):
    """A start radius far below the neighbour spacing and a round
    budget too small to grow out of it: the last round must still
    search the whole sphere and return k rows per query. 300 refs
    would take the closure plan, so the test turns it off."""
    monkeypatch.setattr(G, "SPHERE_CLOSURE_REFS", 0)
    monkeypatch.setattr(G, "SPHERE_INIT_RADIUS_M", 1000.0)
    monkeypatch.setattr(G, "SPHERE_MAX_ROUNDS", max_rounds)
    rng = np.random.default_rng(5)
    n = 300
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    lon = rng.uniform(-180.0, 180.0, n)
    rows = [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(lat, lon))]
    df = spark.createDataFrame(rows, "id long, lat double, lon double")
    out = sphere_knn_join(df, df, K)
    got = out.toPandas().sort_values(["q_id", "rank"])
    release(out)
    assert len(got) == n * K
    oracle = geo_brute_knn(lat, lon, lat, lon, np.arange(n), K)
    for qi, (oids, odists) in enumerate(oracle):
        sub = got[got.q_id == qi]
        assert list(sub.r_id) == list(oids), qi
        np.testing.assert_allclose(sub.dist_m.to_numpy(), odists, rtol=1e-9, atol=1e-6)
