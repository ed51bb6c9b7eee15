"""The closure plan of ``sphere_knn_join`` (ref sets up to
``SPHERE_CLOSURE_REFS``): bit-equal to the ``geo_brute_knn`` oracle,
independent of how the queries are chunked or batched, the same rows
as the round plan, and one job with no shuffle."""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest

from ffcl_spark.kernels.geo import geo_brute_knn
from ffcl_spark.operators import geo as G
from ffcl_spark.operators import search_nd as SN
from ffcl_spark.plans.cache import release
from ffcl_spark.plans.stats import row_count
from tests.test_geo import world_pdf

K = 5


def _frame(spark, pdf: pd.DataFrame, id_type: str = "long"):
    rows = [(i, float(a), float(b)) for i, a, b in zip(pdf.id, pdf.lat, pdf.lon)]
    return spark.createDataFrame(rows, f"id {id_type}, lat double, lon double")


def _sorted(df) -> pd.DataFrame:
    return df.toPandas().sort_values(["q_id", "rank"]).reset_index(drop=True)


def _oracle(qpdf: pd.DataFrame, rpdf: pd.DataFrame, k: int) -> pd.DataFrame:
    rows = []
    want = geo_brute_knn(
        qpdf.lat.values, qpdf.lon.values, rpdf.lat.values, rpdf.lon.values,
        rpdf.id.values, k,
    )
    for q, (ids, dists) in zip(qpdf.id, want):
        for rank, (r, d) in enumerate(zip(ids, dists), start=1):
            rows.append((q, r, d, rank))
    out = pd.DataFrame(rows, columns=["q_id", "r_id", "dist_m", "rank"])
    return out.sort_values(["q_id", "rank"]).reset_index(drop=True)


def _assert_bit_equal(got: pd.DataFrame, want: pd.DataFrame) -> None:
    assert len(got) == len(want)
    for c in ("q_id", "r_id", "rank"):
        assert list(got[c]) == list(want[c]), c
    assert np.array_equal(got.dist_m.to_numpy(), want.dist_m.to_numpy())


def _with_ties() -> pd.DataFrame:
    """The world fixture (pole cap, antimeridian straddle) plus exact
    duplicates: K + 1 refs at one coordinate tie across the k-th rank."""
    pdf = world_pdf(240)
    dup = pdf.iloc[::24]
    extra = [dup.assign(id=dup.id + 1000 * (j + 1)) for j in range(K)]
    return pd.concat([pdf, *extra], ignore_index=True)


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_closure_matches_brute_bitwise(spark, id_type):
    # pole cap, antimeridian straddle and exact duplicate coordinates
    pdf = _with_ties()
    if id_type == "string":
        pdf = pdf.assign(id=[f"p{i:05d}" for i in pdf.id])
    df = _frame(spark, pdf, id_type)
    qpdf = pdf.iloc[::7].reset_index(drop=True)
    got = _sorted(G.sphere_knn_join(_frame(spark, qpdf, id_type), df, K))
    _assert_bit_equal(got, _oracle(qpdf, pdf, K))


def test_closure_k_above_refs_and_empty_refs(spark):
    pdf = world_pdf(40, seed=5)
    refs = pdf.iloc[:3]
    got = _sorted(G.sphere_knn_join(_frame(spark, pdf), _frame(spark, refs), 10))
    # min(k, n_refs) rows per query
    _assert_bit_equal(got, _oracle(pdf, refs, 10))
    assert set(got["rank"]) == {1, 2, 3}
    empty = _frame(spark, pdf).limit(0)
    assert G.sphere_knn_join(_frame(spark, pdf), empty, K).count() == 0
    # a stale caller count still finds no ref to return
    assert G.sphere_knn_join(_frame(spark, pdf), empty, K, n_refs=7).count() == 0


def test_closure_invariant_to_chunks_and_arrow_batches(spark):
    pdf = _with_ties()
    df = _frame(spark, pdf)
    one = _sorted(G.sphere_knn_join(df, df, K))
    a, b = df.where("id % 2 = 0"), df.where("id % 2 = 1")
    chunks = _sorted(G.sphere_knn_join(a, df, K).unionByName(G.sphere_knn_join(b, df, K)))
    _assert_bit_equal(chunks, one)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        for size in ("1", "7"):
            spark.conf.set(key, size)
            _assert_bit_equal(_sorted(G.sphere_knn_join(df, df, K)), one)
    finally:
        spark.conf.set(key, old)


def test_closure_and_round_plans_agree_with_null_and_nan(spark, monkeypatch):
    # a query with a NULL or NaN coordinate gets no rows and such a ref
    # is never a neighbour, in both plans
    pdf = world_pdf(120, seed=9)
    rows = [(int(i), float(a), float(b)) for i, a, b in zip(pdf.id, pdf.lat, pdf.lon)]
    rows[3] = (3, None, 10.0)
    rows[4] = (4, float("nan"), 20.0)
    rows[5] = (5, 30.0, None)
    rows[6] = (6, -40.0, float("nan"))
    df = spark.createDataFrame(rows, "id long, lat double, lon double")
    closure = _sorted(G.sphere_knn_join(df, df, K))
    monkeypatch.setattr(G, "SPHERE_CLOSURE_REFS", 0)
    out = G.sphere_knn_join(df, df, K)
    rounds = _sorted(out)
    release(out)
    bad = {3, 4, 5, 6}
    assert not bad & set(closure.q_id)
    assert not bad & set(closure.r_id)
    assert len(closure) == (len(rows) - len(bad)) * K
    for c in ("q_id", "r_id", "rank"):
        assert list(closure[c]) == list(rounds[c]), c
    np.testing.assert_allclose(closure.dist_m, rounds.dist_m, rtol=1e-14, atol=0)


@contextmanager
def _job_group(sc, name: str):
    sc.setJobGroup(name, name)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(name))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_closure_plan_jobs_and_no_exchange(spark, monkeypatch):
    df = _frame(spark, world_pdf())
    small = df.persist()
    try:
        small.count()
        with _job_group(spark.sparkContext, "sphere_closure_sized") as jobs:
            out = G.sphere_knn_join(df, small, K)
            # the refs collect only
            assert jobs() == 1
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Window" not in plan
    finally:
        small.unpersist()
    refs = df.where("lat > -91")  # a plan that does not know its size
    with _job_group(spark.sparkContext, "sphere_count_unsized") as jobs:
        row_count(refs)  # the sizing count the plan runs
        count_jobs = jobs()
    with _job_group(spark.sparkContext, "sphere_closure_unsized") as jobs:
        G.sphere_knn_join(df, refs, K)
        # the sizing count and the refs collect
        assert jobs() == count_jobs + 1
    # past the limit an unsized ref set runs its count and is never
    # collected, however many partitions it has; a persisted ref set
    # knows its size and runs no job before the rounds
    monkeypatch.setattr(G, "sphere_radius_join", _stop_at_rounds)

    def big(parts: int):
        return spark.range(0, G.SPHERE_CLOSURE_REFS + 1, 1, parts).selectExpr(
            "id", "cast(id % 170 as double) - 85 as lat", "cast(id % 359 as double) - 179 as lon"
        )

    unsized = big(16).where("lat > -91")

    def no_collect(self):
        raise AssertionError("refs collected past the closure limit")

    with _job_group(spark.sparkContext, "sphere_count_big") as jobs:
        row_count(unsized)
        count_jobs = jobs()
    monkeypatch.setattr(type(unsized), "toPandas", no_collect)
    assert _jobs_before_rounds(spark, df, unsized) == count_jobs
    # persisted before its first action, so its plan reads the cache
    sized = big(2).persist()
    try:
        sized.count()
        assert _jobs_before_rounds(spark, df, sized) == 0
    finally:
        sized.unpersist()


class _RoundPlan(Exception):
    pass


def _stop_at_rounds(*args, **kwargs):
    raise _RoundPlan


def _jobs_before_rounds(spark, queries, refs) -> int:
    with _job_group(spark.sparkContext, f"sphere_sizing_{refs.is_cached}") as jobs:
        with pytest.raises(_RoundPlan):
            G.sphere_knn_join(queries, refs, K)
        return jobs()


def test_knn_nd_auto_skips_count_on_persisted_refs(spark):
    from ffcl_spark.operators.geo import GEO_CFG, geo_points

    refs = geo_points(_frame(spark, world_pdf())).persist()
    try:
        refs.count()
        with _job_group(spark.sparkContext, "nd_auto_sized") as jobs:
            SN.knn_join_nd(refs, refs, K, GEO_CFG)
            # the closure plan's refs collect only
            assert jobs() == 1
    finally:
        refs.unpersist()


def test_knn_nd_low_dim_closure_limit(spark, monkeypatch):
    # at dims ≤ 4 the closure plan stops at LOW_DIM_LOCAL_PAIRS
    # query-ref pairs, so a few queries against many refs keep it;
    # above 4 dims and under an explicit local_refs_limit the pair
    # count does not matter
    picked = []
    monkeypatch.setattr(SN, "LOW_DIM_LOCAL_PAIRS", 50 * 50)
    monkeypatch.setattr(SN, "_knn_nd_local_refs", lambda *a: picked.append("local"))
    monkeypatch.setattr(SN, "knn_join_nd_blocked", lambda *a: picked.append("blocked"))
    monkeypatch.setattr(SN, "knn_join_grid", lambda *a, **kw: picked.append("grid"))
    rng = np.random.default_rng(1)

    def pts(n, dims):
        rows = [(i, [float(v) for v in rng.normal(size=dims)]) for i in range(n)]
        return spark.createDataFrame(rows, "id long, features array<double>")

    low, high = pts(80, 3), pts(80, 6)
    SN.knn_join_nd(low, low, K, G.GEO_CFG)
    SN.knn_join_nd(pts(40, 3), pts(40, 3), K, G.GEO_CFG)
    SN.knn_join_nd(pts(10, 3), low, K, G.GEO_CFG)
    SN.knn_join_nd(high, high, K, G.GEO_CFG)
    SN.knn_join_nd(low, low, K, G.GEO_CFG, local_refs_limit=100)
    assert picked == ["grid", "local", "local", "local", "local"]


def test_closure_plans_pass_the_pair_budget(spark, monkeypatch, tmp_path):
    # both closure plans hand topk_blocks the kernel's PAIR_BUDGET, and
    # every distance block they build stays within it; the spy runs in
    # the Python workers, so it logs to a file
    from ffcl_spark.kernels import neighbors as NK
    from ffcl_spark.operators.geo import geo_points
    from ffcl_spark.operators.knn_kernel import PAIR_BUDGET

    log = str(tmp_path / "blocks")
    real = NK.topk_blocks

    def spy(qids, rids, k, dist, budget):
        def logged(s, e):
            d = dist(s, e)
            with open(log, "a") as f:
                f.write(f"{budget} {d.shape[0]} {d.shape[1]}\n")
            return d

        return real(qids, rids, k, logged, budget)

    monkeypatch.setattr(NK, "topk_blocks", spy)
    monkeypatch.setattr(SN, "topk_blocks", spy)
    df = _frame(spark, world_pdf())
    n = df.count()
    emb = geo_points(df)
    for out in (G.sphere_knn_join(df, df, K), SN.knn_join_nd(emb, emb, K, G.GEO_CFG, plan="local")):
        open(log, "w").close()
        assert out.count() == n * K
        blocks = [tuple(map(int, line.split())) for line in open(log)]
        assert {b for b, _, _ in blocks} == {PAIR_BUDGET}
        assert sum(q for _, q, _ in blocks) == n
        assert all(q * r <= PAIR_BUDGET for _, q, r in blocks)
