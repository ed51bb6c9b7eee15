"""Skew handling: hot-cell salting keeps results identical and keys even."""

import numpy as np
import pandas as pd
import pytest
from dataclasses import replace

from ffcl_spark import EngineConfig
from ffcl_spark.kernels import neighbors as K
from ffcl_spark.operators import search as S
from ffcl_spark.operators.knn_kernel import knn_join_grid


def _skewed(spark, n=2000, seed=5):
    # 90% of points crammed into one cell, rest uniform
    rng = np.random.default_rng(seed)
    hot = rng.uniform(0.0, 0.4, (int(n * 0.9), 2))  # one res-4 cell is 3.75 wide
    cold = rng.uniform(-29, 29, (n - len(hot), 2))
    xy = np.concatenate([hot, cold])
    pdf = pd.DataFrame({"id": np.arange(n, dtype=np.int64), "x": xy[:, 0], "y": xy[:, 1]})
    return spark.createDataFrame(pdf).cache(), pdf


def test_salted_radius_join_exact_on_skew(spark):
    cfg = replace(EngineConfig(resolution=4), hot_cell_rows=200, salt_buckets=8)
    df, pdf = _skewed(spark)
    r = 0.5
    got = S.radius_join(df, df, r, cfg, salt_hot_cells=True).toPandas()
    plain = S.radius_join(df, df, r, cfg, salt_hot_cells=False).toPandas()
    xy = pdf[["x", "y"]].to_numpy()
    oa, ob, _ = K.radius_pairs(xy, pdf.id.to_numpy(), xy, pdf.id.to_numpy(), r)
    exp = set(zip(oa, ob))
    assert set(zip(got.q_id, got.r_id)) == exp
    assert set(zip(plain.q_id, plain.r_id)) == exp


def test_knn_grid_correct_on_skew(spark):
    cfg = EngineConfig(resolution=5)
    df, pdf = _skewed(spark, n=1500)
    got = knn_join_grid(df, df, 5, cfg).toPandas()
    oq, on, _ = K.knn(
        pdf[["x", "y"]].to_numpy(), pdf[["x", "y"]].to_numpy(), pdf.id.to_numpy(), 5
    )
    assert set(zip(got.q_id, got.r_id)) == set(zip(pdf.id.to_numpy()[oq], on))


def test_knn_grid_adaptive_split_on_hot_group(spark, cfg, blobs):
    """hot_group_rows small enough that every group splits to fine
    cells: result identical to the unsplit plan and the oracle."""
    import numpy as np

    from ffcl_spark.kernels import neighbors as NK
    from ffcl_spark.operators.knn_kernel import knn_join_grid

    df, pdf = blobs
    k = 4
    split = knn_join_grid(df, df, k, cfg, hot_group_rows=10).toPandas()
    plain = knn_join_grid(df, df, k, cfg, hot_group_rows=None).toPandas()
    key = lambda p: set(zip(p.q_id, p.r_id, p.dist))
    assert key(split) == key(plain)
    xy = pdf[["x", "y"]].to_numpy()
    qi, ni, dd = NK.knn(xy, xy, pdf.id.to_numpy(), k)
    exp = {(pdf.id.to_numpy()[q], n, d) for q, n, d in zip(qi, ni, dd)}
    assert key(split) == exp


def test_knn_grid_adaptive_split_single_hot_cell(spark, cfg):
    """Pathological skew: most points in ONE fine cell. The split plan
    must stay exact (ring-1 refs of every query present per group)."""
    import numpy as np
    import pandas as pd

    from ffcl_spark.kernels import neighbors as NK
    from ffcl_spark.operators.knn_kernel import knn_join_grid

    rng = np.random.default_rng(3)
    hot = rng.uniform(0.0, 0.4, size=(400, 2))  # inside one fine cell
    rest = rng.uniform(-12.0, 12.0, size=(100, 2))
    xy = np.vstack([hot, rest])
    pdf = pd.DataFrame({"id": np.arange(len(xy)), "x": xy[:, 0], "y": xy[:, 1]})
    df = spark.createDataFrame(pdf)
    k = 5
    got = knn_join_grid(df, df, k, cfg, hot_group_rows=50).toPandas()
    qi, ni, dd = NK.knn(xy, xy, pdf.id.to_numpy(), k)
    exp = {(int(q), int(n_), d) for q, n_, d in zip(qi, ni, dd)}
    assert set(zip(got.q_id, got.r_id, got.dist)) == exp


def test_stale_catalog_row_count_keeps_salting(spark, tmp_path):
    """A catalog rowCount from an old ANALYZE says the ref set is tiny,
    but files added since make one cell hot: the skew defence must not
    trust the statistic, so the hot cell is still salted."""
    rng = np.random.default_rng(9)

    def frame(ids, lo, hi):
        xy = rng.uniform(lo, hi, (len(ids), 2))
        return pd.DataFrame({"id": ids, "x": xy[:, 0], "y": xy[:, 1]})

    path = str(tmp_path / "refs")
    small = frame(np.arange(20, dtype=np.int64), -29, 29)
    hot = frame(np.arange(20, 1020, dtype=np.int64), 0.0, 0.4)
    spark.createDataFrame(small).write.parquet(path)
    spark.sql(f"CREATE TABLE stale_refs USING parquet LOCATION '{path}'")
    try:
        spark.sql("ANALYZE TABLE stale_refs COMPUTE STATISTICS")
        spark.createDataFrame(hot).write.mode("append").parquet(path)
        spark.sql("REFRESH TABLE stale_refs")
        spark.conf.set("spark.sql.cbo.planStats.enabled", "true")
        refs = spark.table("stale_refs")
        assert str(refs._jdf.queryExecution().optimizedPlan().stats().rowCount()) == "Some(20)"
        cfg = replace(EngineConfig(resolution=4), hot_cell_rows=200, salt_buckets=8)
        out = S.radius_join(refs, refs, 0.5, cfg)
        assert "xxhash64" in out._jdf.queryExecution().optimizedPlan().toString()
        got = out.toPandas()
    finally:
        spark.conf.unset("spark.sql.cbo.planStats.enabled")
        spark.sql("DROP TABLE IF EXISTS stale_refs")
    pdf = pd.concat([small, hot], ignore_index=True)
    xy = pdf[["x", "y"]].to_numpy()
    oa, ob, _ = K.radius_pairs(xy, pdf.id.to_numpy(), xy, pdf.id.to_numpy(), 0.5)
    assert set(zip(got.q_id, got.r_id)) == set(zip(oa, ob))


@pytest.mark.parametrize("res", [0, 5])
def test_knn_grid_blocked_fine_cell_scan(spark, monkeypatch, res):
    """A PAIR_BUDGET small enough that the hot fine cell splits into
    many query blocks: distances and ranks stay bit-equal to the
    brute-force oracle, at one group (resolution 0) and at fine
    resolution with group splitting off."""
    from ffcl_spark.operators import knn_kernel

    monkeypatch.setattr(knn_kernel, "PAIR_BUDGET", 64)
    df, pdf = _skewed(spark, n=1200, seed=8)
    k = 5
    got = (
        knn_join_grid(df, df, k, EngineConfig(resolution=res), hot_group_rows=None)
        .toPandas()
        .sort_values(["q_id", "rank"])
        .reset_index(drop=True)
    )
    xy = pdf[["x", "y"]].to_numpy()
    oq, on, od = K.knn(xy, xy, pdf.id.to_numpy(), k)
    assert list(got.q_id) == list(pdf.id.to_numpy()[oq])
    assert list(got.r_id) == list(on)
    assert (got.dist.to_numpy() == od).all()
    assert (got["rank"].to_numpy() == np.tile(np.arange(1, k + 1), len(pdf))).all()


def test_plan_walks_off_on_unknown_spark_major(spark, monkeypatch):
    """On a Spark major version whose plan classes the walks do not
    know, every statistic reads as unknown and checkpoint release
    falls back to the ContextCleaner: results stay the same."""
    from ffcl_spark.plans import stats

    cached = spark.range(10).cache()
    cached.count()
    ckpt = spark.range(10).localCheckpoint()
    assert stats.exact_row_count(cached) == 10
    assert stats.is_checkpointed(ckpt)

    monkeypatch.setattr(stats, "_PLAN_WALKS", False)
    assert stats.exact_row_count(cached) is None
    assert stats.plan_size_bytes(cached) == 1 << 62
    assert not stats.is_checkpointed(ckpt)
    stats.free_checkpoint(ckpt)
    stats.free_checkpoint_tree(ckpt)
    assert ckpt.count() == 10  # blocks were left alone
    # same answer, from the detection job instead of the exact count
    assert stats.hot_keys(cached.withColumnRenamed("id", "k"), "k", 10) == []
    assert stats.row_count(cached) == 10  # DataFrame.count()
    cached.unpersist()


def test_plan_statistics_see_cache_added_after_first_read(spark):
    """A frame's QueryExecution memoizes its plan on first read. The
    statistics must still see a cache added after that read."""
    from ffcl_spark.plans import stats

    frame = spark.range(0, 2049, 1, 4).selectExpr("id", "id * 2 AS v")
    assert stats.exact_row_count(frame) is None
    stats.plan_size_bytes(frame)
    frame.persist()
    try:
        frame.count()
        assert stats.exact_row_count(frame) == 2049
        twin = spark.range(0, 2049, 1, 4).selectExpr("id", "id * 2 AS v")
        cached_size = int(twin._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        assert stats.plan_size_bytes(frame) == cached_size
    finally:
        frame.unpersist()
    local = spark.sql("SELECT * FROM VALUES (1), (2), (3) AS t(id)")
    assert stats.exact_row_count(local) == 3


def test_row_count_one_job_and_reads_cache(spark):
    from ffcl_spark.plans import stats

    sc = spark.sparkContext
    frame = spark.range(0, 5000, 1, 8).where("id % 3 = 0")
    sc.setJobGroup("row_count_jobs", "row_count_jobs")
    try:
        n = stats.row_count(frame)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n == frame.count() == 1667
    assert len(sc.statusTracker().getJobIdsForGroup("row_count_jobs")) == 1
    # an unfilled cache is filled by the count, then read exactly
    cached = frame.persist()
    try:
        assert stats.row_count(cached) == 1667
        assert stats.exact_row_count(cached) == 1667
    finally:
        cached.unpersist()
