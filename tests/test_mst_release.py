"""The MST and cluster-label family leaves nothing resident: once a
call's result is collected and ``release``d, ``getPersistentRDDs()``
holds no RDD the call created — no cached frame and no localCheckpoint
(Borůvka's passes and merges, its kNN lists and core distances,
connected components). Also pins ``UnionFind.canonical``, the one
min-member relabel that Borůvka's merges and DBSCAN share."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ffcl_spark.config import EngineConfig
from ffcl_spark.operators.boruvka import minimum_spanning_tree
from ffcl_spark.operators.dbscan import UnionFind
from ffcl_spark.operators.geo import geo_hdbscan, geo_single_linkage_cut
from ffcl_spark.operators.hdbscan import hdbscan, single_linkage_cut
from ffcl_spark.plans.cache import release
from tests.conftest import points_pdf

R3, R4 = EngineConfig(resolution=3), EngineConfig(resolution=4)


def _clustered() -> pd.DataFrame:
    # 300 points (> 256, so the Kruskal bootstrap runs) in four blobs
    # whose gaps exceed the base kNN horizon
    rng = np.random.default_rng(23)
    xy = np.concatenate(
        [
            np.stack([cx + rng.normal(0, 1.2, 75), cy + rng.normal(0, 1.2, 75)], axis=1)
            for cx, cy in [(-20, -20), (-20, 18), (15, -15), (22, 20)]
        ]
    )
    return pd.DataFrame({"id": np.arange(len(xy), dtype=np.int64), "x": xy[:, 0], "y": xy[:, 1]})


def _sphere(n: int = 200) -> pd.DataFrame:
    rng = np.random.default_rng(5)
    return pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "lat": np.degrees(np.arcsin(rng.uniform(-1, 1, n))),
            "lon": rng.uniform(-180, 180, n),
        }
    )


CASES = {
    "bootstrap": (_clustered, lambda p: minimum_spanning_tree(p, R4)),
    "bootstrap_core": (_clustered, lambda p: minimum_spanning_tree(p, R4, core_k=5)),
    "distributed_merge": (
        lambda: points_pdf("blobs", 120),
        lambda p: minimum_spanning_tree(p, R3, driver_cutoff=0),
    ),
    "single_linkage_cut": (
        lambda: points_pdf("blobs", 120),
        lambda p: single_linkage_cut(p, R3, 0.5),
    ),
    "hdbscan": (
        lambda: points_pdf("blobs", 150),
        lambda p: hdbscan(p, R3, k_nearest_neighbors=4),
    ),
    "geo_single_linkage_cut": (_sphere, lambda p: geo_single_linkage_cut(p, 500_000.0, 2)),
    "geo_hdbscan": (_sphere, lambda p: geo_hdbscan(p, 3, 5)),
}


@pytest.mark.parametrize("case", list(CASES))
def test_release_leaves_no_rdd_behind(spark, case):
    make, run = CASES[case]

    def persistent_ids():
        return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}

    pts = spark.createDataFrame(make()).persist()
    n = pts.count()
    floor = max(persistent_ids(), default=-1)
    out = run(pts)
    rows = out.collect()
    release(out)
    assert len(rows) in (n, n - 1)  # labels per point, or MST edges
    assert {i for i in persistent_ids() if i > floor} == set()
    pts.unpersist()


def test_union_find_canonical():
    uf = UnionFind()
    # union by rank roots {1, 3, 5} at 5 and {2, 9} at 9: neither set's
    # minimum is its root
    uf.merge(5, 1)
    uf.merge(5, 3)
    uf.merge(9, 2)
    assert uf.find(1) == 5 and uf.find(2) == 9
    assert sorted(uf.canonical([1, 2, 3, 5, 9, 7])) == [(3, 1), (5, 1), (9, 2)]
    # minima are taken over the keys given, and a key never seen is
    # its own singleton set
    assert sorted(uf.canonical([3, 5, 9, 2])) == [(5, 3), (9, 2)]
    assert uf.canonical([4]) == [] and uf.canonical([]) == []

    # string keys order as strings: "10" < "9"
    uf = UnionFind()
    uf.merge("9", "10")
    uf.merge("9", "b")
    assert uf.find("10") == "9"
    assert sorted(uf.canonical(["9", "10", "b"])) == [("9", "10"), ("b", "10")]
