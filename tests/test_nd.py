"""n-dimensional operator suite: exact parity of the distributed n-D
plans against the fold-order NumPy oracles on arbitrary-float blobs
(reference n-features contract, ``KDTree.hpp:137``; MNIST-style
high-D usage ``KMeansTest.cpp``)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ffcl_spark import EngineConfig
from ffcl_spark.kernels import neighbors as NK
from ffcl_spark.kernels.mst_local import prim_mst
from ffcl_spark.operators import search_nd as SN

DIMS = 6
N = 300


def _blob_matrix(n=N, dims=DIMS, seed=11):
    rng = np.random.default_rng(seed)
    centers = rng.uniform(-6, 6, size=(4, dims))
    assign = rng.integers(0, 4, size=n)
    return centers[assign] + rng.normal(0, 0.8, size=(n, dims))


@pytest.fixture(scope="module")
def nd_points(spark):
    mat = _blob_matrix()
    ids = np.arange(N, dtype=np.int64)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )
    pdf = pd.DataFrame({"id": ids, "features": [list(row) for row in mat]})
    return spark.createDataFrame(pdf, schema).cache(), ids, mat


@pytest.fixture(scope="module")
def nd_cfg():
    return EngineConfig(x0=-10.0, y0=-10.0, domain=20.0, resolution=3)


def _oracle_knn(mat, ids, k, metric="euclidean"):
    oq, on_, od = NK.knn_nd(mat, mat, ids, k, metric)
    odf = pd.DataFrame({"q_id": ids[oq], "r_id": on_, "dist": od})
    odf["rank"] = odf.groupby("q_id").cumcount() + 1
    return odf.sort_values(["q_id", "rank"]).reset_index(drop=True)


@pytest.mark.parametrize("metric", ["euclidean", "manhattan"])
@pytest.mark.parametrize("plan", ["local", "grid", "blocked"])
def test_knn_nd_matches_oracle_bitwise(nd_points, nd_cfg, metric, plan):
    # all three physical plans (closure-shipped refs, the grid kernel
    # on the flattened vector, blocked brute) must match the oracle
    # bitwise
    df, ids, mat = nd_points
    sdf = (
        SN.knn_join_nd(df, df, 4, nd_cfg, metric=metric, plan=plan)
        .toPandas()
        .sort_values(["q_id", "rank"])
        .reset_index(drop=True)
    )
    odf = _oracle_knn(mat, ids, 4, metric)
    assert len(sdf) == len(odf)
    assert (sdf["q_id"].to_numpy() == odf["q_id"].to_numpy()).all()
    assert (sdf["r_id"].to_numpy() == odf["r_id"].to_numpy()).all()
    # bit-equality: the JVM fold and the NumPy fold share the IEEE
    # operation order
    assert np.array_equal(sdf["dist"].to_numpy(), odf["dist"].to_numpy())


@pytest.mark.parametrize("metric", ["euclidean", "manhattan"])
def test_knn_nd_grid_3d_matches_oracle_bitwise(spark, nd_cfg, metric):
    # the low-dimension shape the grid plan serves (the sphere
    # embedding is 3-D), with grid axes that are not the first two
    # dimensions, so a non-grid coordinate sits between them
    mat = _blob_matrix(dims=3, seed=4)
    ids = np.arange(N, dtype=np.int64)
    df = spark.createDataFrame(
        pd.DataFrame({"id": ids, "features": [list(r) for r in mat]}),
        "id long, features array<double>",
    )
    sdf = (
        SN.knn_join_nd(df, df, 5, nd_cfg, axes=(0, 2), metric=metric, plan="grid")
        .toPandas()
        .sort_values(["q_id", "rank"])
        .reset_index(drop=True)
    )
    odf = _oracle_knn(mat, ids, 5, metric)
    for c in ("q_id", "r_id", "rank"):
        assert (sdf[c].to_numpy() == odf[c].to_numpy()).all()
    assert np.array_equal(sdf["dist"].to_numpy(), odf["dist"].to_numpy())


def test_fold_dist_is_the_planar_and_sql_fold():
    # one fold serves both callers: in 2-D it is the planar kernel's
    # sqrt(dx*dx + dy*dy) / abs(dx) + abs(dy), and in n-D it equals the
    # SQL fold that starts from 0.0
    rng = np.random.default_rng(2)
    q, r = rng.normal(0, 3, (40, 2)), rng.normal(0, 3, (50, 2))
    dx = q[:, 0][:, None] - r[:, 0][None, :]
    dy = q[:, 1][:, None] - r[:, 1][None, :]
    assert np.array_equal(NK.fold_dist(q.T, r.T), np.sqrt(dx * dx + dy * dy))
    assert np.array_equal(NK.fold_dist(q.T, r.T, "manhattan"), np.abs(dx) + np.abs(dy))
    q, r = rng.normal(0, 3, (40, 5)), rng.normal(0, 3, (50, 5))
    acc = np.zeros((40, 50))
    for j in range(5):
        d = q[:, j][:, None] - r[:, j][None, :]
        acc = acc + d * d
    assert np.array_equal(NK.pairwise_fold_nd(q, r), np.sqrt(acc))


def test_local_refs_blocks_stay_within_pair_budget():
    # the closure plans scan query blocks against every ref; a block
    # must hold at most PAIR_BUDGET distances whatever the ref count
    # (a fixed 2048-row block against 50k refs peaked at 2.4 GB)
    from ffcl_spark.operators.knn_kernel import PAIR_BUDGET

    rng = np.random.default_rng(0)
    nr, nq = 50_000, 200
    rmat, qmat = rng.normal(size=(nr, 3)), rng.normal(size=(nq, 3))
    rids = np.arange(nr, dtype=np.int64)
    shapes = []

    def dist(s, e):
        shapes.append((e - s, nr))
        return NK.pairwise_fold_nd(qmat[s:e], rmat)

    blocks = list(NK.topk_blocks(np.arange(nq), rids, 2, dist, PAIR_BUDGET))
    on = np.concatenate([r for _, r, _, _ in blocks])
    dd = np.concatenate([d for _, _, d, _ in blocks])
    assert len(on) == 2 * nq
    assert sum(n for n, _ in shapes) == nq
    assert max(n * m for n, m in shapes) <= PAIR_BUDGET
    _, want_n, want_d = NK.knn_nd(qmat, rmat, rids, 2)
    assert (on == want_n).all()
    assert np.array_equal(dd, want_d)


def test_knn_nd_parallelism_invariant(nd_points, nd_cfg):
    df, ids, mat = nd_points
    a = SN.knn_join_nd(df.repartition(1), df, 3, nd_cfg).toPandas()
    b = SN.knn_join_nd(df.repartition(13), df, 3, nd_cfg).toPandas()
    key = ["q_id", "rank"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert a.equals(b)


def test_knn_nd_selected_axes(nd_points, nd_cfg):
    df, ids, mat = nd_points
    axes = SN.select_axes(df, DIMS)
    assert axes[0] < axes[1]
    # max-spread choice matches NumPy
    spread = mat.max(axis=0) - mat.min(axis=0)
    exp = tuple(sorted(sorted(range(DIMS), key=lambda j: (-spread[j], j))[:2]))
    assert axes == exp
    sdf = SN.knn_join_nd(df, df, 4, nd_cfg, axes=axes).toPandas()
    odf = _oracle_knn(mat, ids, 4)
    sdf = sdf.sort_values(["q_id", "rank"]).reset_index(drop=True)
    assert (sdf["r_id"].to_numpy() == odf["r_id"].to_numpy()).all()


@pytest.mark.parametrize("metric", ["euclidean", "manhattan"])
@pytest.mark.parametrize(
    "axes,dtype",
    [((0, 1), "double"), ((0, 2), "double"), ((0, 1), "float")],
    ids=["axes01", "axes02", "axes01-float32"],
)
def test_radius_nd_matches_oracle(nd_points, nd_cfg, metric, axes, dtype):
    """Rows and distance bits equal the fold-order oracle, for both
    metrics, grid axes other than the first two, and float32 vectors
    (the join folds their double values, never float32 arithmetic)."""
    df, ids, mat = nd_points
    if dtype == "float":
        df = df.select("id", F.col("features").cast("array<float>").alias("features"))
        mat = mat.astype(np.float32).astype(np.float64)
    r = 2.5
    sdf = SN.radius_join_nd(df, df, r, nd_cfg, axes=axes, metric=metric).toPandas()
    a, b, d = NK.radius_pairs_nd(mat, ids, mat, ids, r, metric)
    assert len(sdf) == len(a)
    assert set(zip(sdf["q_id"], sdf["r_id"])) == set(zip(a.tolist(), b.tolist()))
    sd = sdf.sort_values(["q_id", "r_id"])["dist"].to_numpy()
    od = pd.DataFrame({"a": a, "b": b, "d": d}).sort_values(["a", "b"])["d"].to_numpy()
    assert np.array_equal(sd, od)


def test_core_distances_nd(nd_points, nd_cfg):
    df, ids, mat = nd_points
    k = 5
    sdf = SN.core_distances_nd(df, k, nd_cfg).toPandas().sort_values("id")
    _, _, od = NK.knn_nd(mat, mat, ids, k)
    kth = od.reshape(len(ids), k)[:, -1]
    assert np.array_equal(sdf["core_distance"].to_numpy(), kth)


def test_box_search_nd(nd_points):
    df, ids, mat = nd_points
    bounds = [(-4.0, 4.0)] * DIMS
    got = set(SN.box_search_nd(df, bounds).toPandas()["id"])
    exp = set(ids[np.all((mat >= -4.0) & (mat <= 4.0), axis=1)].tolist())
    assert got == exp


def test_mst_nd_matches_prim(nd_points, nd_cfg):
    from ffcl_spark.operators.boruvka import minimum_spanning_tree, mst_edges_local

    df, ids, mat = nd_points
    edges = mst_edges_local(minimum_spanning_tree(df, nd_cfg, features_col="features"))
    exp = prim_mst(mat, ids)
    assert len(edges) == len(exp) == N - 1
    # identical total weight and identical edge set under (min,max) id
    # normalization (the MST is unique up to tie-handling; weights here
    # are tie-free floats)
    norm = lambda es: sorted((min(a, b), max(a, b), w) for a, b, w in es)
    ge, pe = norm(edges), norm(exp)
    assert [e[:2] for e in ge] == [e[:2] for e in pe]
    assert np.allclose([e[2] for e in ge], [e[2] for e in pe], rtol=0, atol=0)


def test_mst_nd_runs_each_pass_knn_once(spark, nd_points, nd_cfg, monkeypatch):
    """Borůvka keeps only its own per-pass state (the pending ids, the
    best-edge table) and releases each pass's kNN, so no later pass
    recomputes an earlier one: every query of every kNN call is scanned
    once. An accumulator keyed by (call, q_id) counts the rows the
    closure-plan kernel emits; a recomputed call shows 2·k rows."""
    from pyspark.accumulators import AccumulatorParam

    from ffcl_spark.operators.boruvka import minimum_spanning_tree, mst_edges_local

    class CountsParam(AccumulatorParam):
        def zero(self, value):
            return {}

        def addInPlace(self, a, b):
            for key, v in b.items():
                a[key] = a.get(key, 0) + v
            return a

    rows = spark.sparkContext.accumulator({}, CountsParam())
    calls = []
    knn_join_nd = SN.knn_join_nd

    def tallied(q, r, k, *a, **kw):
        c = len(calls)
        calls.append(min(k, N))
        out = knn_join_nd(q, r, k, *a, **kw)

        def tally(batches):
            for pdf in batches:
                rows.add({(c, int(i)): int(m) for i, m in pdf.q_id.value_counts().items()})
                yield pdf

        return out.mapInPandas(tally, out.schema)

    monkeypatch.setattr(SN, "knn_join_nd", tallied)
    df, ids, mat = nd_points
    edges = mst_edges_local(minimum_spanning_tree(df, nd_cfg, features_col="features"))
    assert abs(sum(e[2] for e in edges) - sum(e[2] for e in prim_mst(mat, ids))) < 1e-9
    assert len(calls) >= 3
    assert {c for c, _ in rows.value} == set(range(len(calls)))
    assert {key: m for key, m in rows.value.items() if m != calls[key[0]]} == {}


def test_mst_nd_mreach_matches_prim(nd_points, nd_cfg):
    from ffcl_spark.operators.boruvka import minimum_spanning_tree, mst_edges_local

    df, ids, mat = nd_points
    edges = mst_edges_local(
        minimum_spanning_tree(df, nd_cfg, core_k=4, features_col="features")
    )
    exp = prim_mst(mat, ids, core_k=4)
    assert abs(sum(e[2] for e in edges) - sum(e[2] for e in exp)) < 1e-12


def test_knn_nd_blocked_matches_oracle(nd_points, nd_cfg):
    """Blocked brute cogroup (high-d scale path) == brute oracle,
    bitwise, forced onto multiple query/ref blocks (per-block top-k +
    segment merge must agree with a single global scan)."""
    import ffcl_spark.operators.search_nd as SN
    from ffcl_spark.kernels import neighbors as NK

    df, ids, mat = nd_points
    k = 4
    got = SN.knn_join_nd_blocked(
        df, df, k, ref_block_rows=64, query_block_rows=32, chunk=16
    ).toPandas()
    qi, ni, dd = NK.knn_nd(mat, mat, ids, k)
    exp = {(ids[q], n, d) for q, n, d in zip(qi, ni, dd)}
    assert set(zip(got.q_id, got.r_id, got.dist)) == exp
    # auto-routing: >4 dims past the closure limit goes blocked
    auto = SN.knn_join_nd(df, df, k, nd_cfg, local_refs_limit=1, plan="auto").toPandas()
    assert set(zip(auto.q_id, auto.r_id, auto.dist)) == exp


def test_dbscan_nd_matches_brute(nd_points, nd_cfg):
    from ffcl_spark.operators.dbscan import dbscan_nd

    df, ids, mat = nd_points
    radius, min_samples = 2.0, 5
    got = (
        dbscan_nd(df, radius, min_samples, nd_cfg)
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    # brute-force oracle with identical semantics
    d = NK.pairwise_fold_nd(mat, mat)
    is_core = (d < radius).sum(axis=1) > min_samples
    # core-core components (min-id canonical labels)
    lab = {int(i): None for i in ids}
    parent = {int(i): int(i) for i in ids[is_core]}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ci = np.nonzero(is_core)[0]
    for a in ci:
        for b in ci:
            if a < b and d[a, b] < radius:
                ra, rb = find(int(ids[a])), find(int(ids[b]))
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    for i in ci:
        lab[int(ids[i])] = find(int(ids[i]))
    for i in np.nonzero(~is_core)[0]:
        cores_in = [int(ids[j]) for j in ci if d[i, j] < radius]
        if cores_in:
            lab[int(ids[i])] = min(find(c) for c in cores_in)
    exp = pd.DataFrame(
        {
            "id": list(lab),
            "elabel": [v if v is not None else 0 for v in lab.values()],
            "enoise": [v is None for v in lab.values()],
        }
    ).sort_values("id").reset_index(drop=True)
    assert (got["label"].to_numpy() == exp["elabel"].to_numpy()).all()
    assert (got["is_noise"].to_numpy() == exp["enoise"].to_numpy()).all()


def test_kmeans_nd_matches_numpy_lloyd(nd_points):
    from ffcl_spark.operators.kmeans import kmeans_nd, kmeanspp_init

    df, ids, mat = nd_points
    k, iters, seed = 4, 8, 7
    cents, loss, labels = kmeans_nd(df, k, max_iters=iters, seed=seed)
    # NumPy Lloyd from the same kmeans++ init over the same full sample
    order = np.argsort(ids, kind="stable")
    sample = mat[order]
    c = kmeanspp_init(sample, k, seed)
    for _ in range(iters):
        d2 = ((sample[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        newc = c.copy()
        for j in range(k):
            m = a == j
            if m.any():
                newc[j] = sample[m].mean(axis=0)
        if np.max(np.sqrt(((newc - c) ** 2).sum(axis=1))) < 1e-6:
            c = newc
            break
        c = newc
    assert np.allclose(cents, c, rtol=1e-9, atol=1e-9)
    got = labels.toPandas().sort_values("id")["label"].to_numpy()
    d2 = ((sample[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
    assert (got == d2.argmin(axis=1)).all()


def test_hdbscan_nd_runs(nd_points, nd_cfg):
    from ffcl_spark.operators.hdbscan import hdbscan

    df, ids, mat = nd_points
    out = hdbscan(df, nd_cfg, min_cluster_size=8, features_col="features", local_cutoff=0)
    pdf = out.toPandas()
    assert len(pdf) == N
    assert set(pdf.columns) == {"id", "label", "is_noise"}
    # the 4 planted blobs should be recovered as ≥2 non-noise clusters
    assert pdf.loc[~pdf["is_noise"], "label"].nunique() >= 2


def test_knn_nd_k_exceeds_refs(spark, nd_cfg):
    mat = np.array([[0.0] * DIMS, [1.0] * DIMS, [2.0] * DIMS])
    pdf = pd.DataFrame({"id": [0, 1, 2], "features": [list(r) for r in mat]})
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )
    df = spark.createDataFrame(pdf, schema)
    for plan in ("local", "grid", "blocked"):
        out = SN.knn_join_nd(df, df, 10, nd_cfg, plan=plan).toPandas()
        # min(k, n_refs) = 3 neighbors per query — FFCL result-set size
        assert len(out) == 9
        assert out.groupby("q_id")["rank"].max().eq(3).all()


@pytest.mark.parametrize("plan", ["local", "grid", "blocked"])
def test_knn_nd_empty_refs_returns_no_rows(nd_points, nd_cfg, plan):
    # no ref, no neighbor: min(k, 0) = 0 rows per query (the closure
    # plan divided its block size by the ref count)
    df, _, _ = nd_points
    assert SN.knn_join_nd(df, df.limit(0), 3, nd_cfg, plan=plan).count() == 0


def test_knn_nd_out_of_domain_queries(nd_points, nd_cfg):
    # queries far outside the grid domain clamp to border cells and
    # must still return exact results (the grid plan leaves them to
    # its broadcast pass)
    df, ids, mat = nd_points
    far = np.full((3, DIMS), 50.0) + np.arange(3)[:, None]
    pdf = pd.DataFrame(
        {"id": [9001, 9002, 9003], "features": [list(r) for r in far]}
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )
    qdf = df.sparkSession.createDataFrame(pdf, schema)
    oq, on_, od = NK.knn_nd(far, mat, ids, 2)
    for plan in ("local", "grid", "blocked"):
        got = (
            SN.knn_join_nd(qdf, df, 2, nd_cfg, plan=plan)
            .toPandas()
            .sort_values(["q_id", "rank"])
            .reset_index(drop=True)
        )
        assert (got["r_id"].to_numpy() == on_).all()
        assert np.array_equal(got["dist"].to_numpy(), od)


def test_radius_nd_hot_cell_salting_exact(spark, nd_cfg):
    # one cell holds 60% of all points (projected axes) — salting path
    # must produce the identical pair set as the unsalted plan
    rng = np.random.default_rng(5)
    hot = rng.uniform(-0.4, 0.4, size=(300, DIMS))  # one projected cell
    cold = rng.uniform(-9.0, 9.0, size=(200, DIMS))
    mat = np.vstack([hot, cold])
    ids = np.arange(len(mat), dtype=np.int64)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )
    df = spark.createDataFrame(
        pd.DataFrame({"id": ids, "features": [list(r) for r in mat]}), schema
    ).cache()
    import dataclasses

    cfg = dataclasses.replace(nd_cfg, hot_cell_rows=50, salt_buckets=4)
    r = 1.5
    salted = SN.radius_join_nd(df, df, r, cfg, salt_hot_cells=True).toPandas()
    plain = SN.radius_join_nd(df, df, r, cfg, salt_hot_cells=False).toPandas()
    a, b, _ = NK.radius_pairs_nd(mat, ids, mat, ids, r)
    exp = set(zip(a.tolist(), b.tolist()))
    assert set(zip(salted.q_id, salted.r_id)) == exp
    assert set(zip(plain.q_id, plain.r_id)) == exp
    assert len(salted) == len(plain) == len(a)


def test_knn_nd_blocked_fast_path_same_neighbors(nd_points):
    """precise=False (BLAS throughput path) must return the same
    neighbor id sets per query as the fold path; on the dyadic
    fixture both distance forms are exact, so rows match fully."""
    import ffcl_spark.operators.search_nd as SN

    df, ids, mat = nd_points
    k = 4
    a = SN.knn_join_nd_blocked(df, df, k, ref_block_rows=64).toPandas()
    b = SN.knn_join_nd_blocked(df, df, k, ref_block_rows=64, precise=False).toPandas()
    key = lambda p: set(zip(p.q_id, p.r_id, p["rank"]))
    assert key(a) == key(b)


def test_radius_nd_blocked_matches_oracle(nd_points):
    """Blocked exact radius join == brute oracle (ids and bitwise
    distances), forced onto multiple blocks."""
    import ffcl_spark.operators.search_nd as SN
    from ffcl_spark.kernels import neighbors as NK

    df, ids, mat = nd_points
    r = 2.5
    got = SN.radius_join_nd_blocked(
        df, df, r, ref_block_rows=64, query_block_rows=32, chunk=16
    ).toPandas()
    a, b, d = NK.radius_pairs_nd(mat, ids, mat, ids, r)
    assert len(got) == len(a)
    assert set(zip(got.q_id, got.r_id, got.dist)) == set(zip(a.tolist(), b.tolist(), d.tolist()))
