"""Distributed result sets == NumPy brute force — the reference's own
oracle-test pattern (SearchTest.cpp:954-995)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ffcl_spark import EngineConfig
from ffcl_spark.kernels import neighbors as K
from ffcl_spark.operators import search as S


def knn_sets(pdf):
    return set(zip(pdf.q_id, pdf.r_id))


def test_knn_matches_oracle(spark, cfg, blobs):
    df, pdf = blobs
    k = 5
    got = S.knn_join(df, df, k, cfg).toPandas()
    oq, on, od = K.knn(pdf[["x", "y"]].to_numpy(), pdf[["x", "y"]].to_numpy(), pdf.id.to_numpy(), k)
    assert knn_sets(got) == set(zip(pdf.id.to_numpy()[oq], on))
    # self included at distance 0
    selfs = got[got.q_id == got.r_id]
    assert len(selfs) == len(pdf)
    assert (selfs.dist == 0).all()


def test_knn_deterministic_ties(spark, cfg, grid_exact):
    # exact lattice: massive distance ties; (dist, id) tie-break must
    # give identical sets at different resolutions and parallelism
    df, pdf = grid_exact
    a = S.knn_join(df, df, 4, EngineConfig(resolution=0)).toPandas()
    b = S.knn_join(df, df, 4, EngineConfig(resolution=4)).toPandas()
    assert knn_sets(a) == knn_sets(b)
    oq, on, _ = K.knn(pdf[["x", "y"]].to_numpy(), pdf[["x", "y"]].to_numpy(), pdf.id.to_numpy(), 4)
    assert knn_sets(a) == set(zip(pdf.id.to_numpy()[oq], on))


def test_knn_query_not_in_refs(spark, cfg, blobs, circles):
    dq, pq = circles
    dr, pr = blobs
    got = S.knn_join(dq.where(F.col("id") < 50), dr, 3, cfg).toPandas()
    qp = pq[pq.id < 50]
    oq, on, od = K.knn(qp[["x", "y"]].to_numpy(), pr[["x", "y"]].to_numpy(), pr.id.to_numpy(), 3)
    assert knn_sets(got) == set(zip(qp.id.to_numpy()[oq], on))


def test_radius_matches_oracle(spark, cfg, circles):
    df, pdf = circles
    r = 3.0
    got = S.radius_join(df, df, r, cfg).toPandas()
    xy = pdf[["x", "y"]].to_numpy()
    oa, ob, od = K.radius_pairs(xy, pdf.id.to_numpy(), xy, pdf.id.to_numpy(), r)
    assert set(zip(got.q_id, got.r_id)) == set(zip(oa, ob))
    # strictness: no pair at exactly dist == r
    assert (got.dist < r).all()


def test_box_search_inclusive(spark, cfg, blobs):
    df, pdf = blobs
    got = S.box_search(df, -5.0, -5.0, 5.0, 5.0).toPandas()
    m = (
        (pdf.x >= -5.0) & (pdf.x <= 5.0) & (pdf.y >= -5.0) & (pdf.y <= 5.0)
    )
    assert set(got.id) == set(pdf.id[m])


def test_core_distances_match_oracle(spark, cfg, blobs):
    df, pdf = blobs
    k = 5
    got = S.core_distances(df, k, cfg).toPandas().set_index("id").core_distance
    exp = K.core_distance(pdf[["x", "y"]].to_numpy(), pdf.id.to_numpy(), k)
    assert np.allclose(got.loc[pdf.id].to_numpy(), exp, atol=1e-9)


def test_mutual_reachability(spark, cfg, blobs):
    df, pdf = blobs
    core = S.core_distances(df, 3, cfg)
    edges = S.knn_join(df, df, 3, cfg).where(F.col("q_id") != F.col("r_id"))
    mr = S.mutual_reachability(edges, core).toPandas()
    cd = S.core_distances(df, 3, cfg).toPandas().set_index("id").core_distance
    exp = np.maximum(
        np.maximum(cd.loc[mr.q_id].to_numpy(), cd.loc[mr.r_id].to_numpy()), mr.dist
    )
    assert np.allclose(mr.mreach, exp)


def test_knn_kernel_bit_equal_to_oracle(spark, cfg, blobs):
    from ffcl_spark.operators.knn_kernel import knn_join_kernel

    df, pdf = blobs
    k = 5
    got = knn_join_kernel(df, df, k, cfg).toPandas()
    ids = pdf.id.to_numpy()
    oq, on, od = K.knn(pdf[["x", "y"]].to_numpy(), pdf[["x", "y"]].to_numpy(), ids, k)
    exp = pd.DataFrame({"q_id": ids[oq], "r_id": on, "dist": od})
    # bit-equal distances, row for row in (q_id, rank) order
    a = got.sort_values(["q_id", "rank"]).reset_index(drop=True)
    assert (a.q_id.to_numpy() == exp.q_id.to_numpy()).all()
    assert (a.r_id.to_numpy() == exp.r_id.to_numpy()).all()
    assert (a.dist.to_numpy() == exp.dist.to_numpy()).all()


def test_knn_kernel_ties_and_resolutions(spark, grid_exact):
    from ffcl_spark.operators.knn_kernel import knn_join_kernel

    df, pdf = grid_exact
    for res in (0, 2, 5):
        got = knn_join_kernel(df, df, 4, EngineConfig(resolution=res)).toPandas()
        oq, on, _ = K.knn(
            pdf[["x", "y"]].to_numpy(), pdf[["x", "y"]].to_numpy(), pdf.id.to_numpy(), 4
        )
        assert knn_sets(got) == set(zip(pdf.id.to_numpy()[oq], on)), res


def test_knn_kernel_string_ids(spark, cfg):
    from ffcl_spark.datagen import docs_from_points
    from ffcl_spark.operators.knn_kernel import knn_join_kernel
    from ffcl_spark.sources import points as P

    docs = docs_from_points(spark, "noisy_moons", 200)
    pts = P.media_points(docs).cache()
    got = knn_join_kernel(pts, pts, 3, cfg).toPandas()
    pdf = pts.toPandas()
    oq, on, _ = K.knn(
        pdf[["x", "y"]].to_numpy(), pdf[["x", "y"]].to_numpy(),
        pdf.id.to_numpy(), 3,
    )
    assert knn_sets(got) == set(zip(pdf.id.to_numpy()[oq], on))


def test_knn_grid_matches_oracle_and_jvm(spark, cfg, blobs, grid_exact, circles):
    from ffcl_spark.operators.knn_kernel import knn_join_grid

    for df, pdf, k in [(blobs[0], blobs[1], 5), (grid_exact[0], grid_exact[1], 4), (circles[0], circles[1], 7)]:
        got = knn_join_grid(df, df, k, EngineConfig(resolution=4)).toPandas()
        oq, on, _ = K.knn(
            pdf[["x", "y"]].to_numpy(), pdf[["x", "y"]].to_numpy(), pdf.id.to_numpy(), k
        )
        assert knn_sets(got) == set(zip(pdf.id.to_numpy()[oq], on))


def test_knn_grid_cross_set_and_resolutions(spark, blobs, circles):
    from ffcl_spark.operators.knn_kernel import knn_join_grid

    dq, pq = circles
    dr, pr = blobs
    for res in (0, 1, 3, 6):
        got = knn_join_grid(
            dq.where(F.col("id") < 40), dr, 3, EngineConfig(resolution=res)
        ).toPandas()
        qp = pq[pq.id < 40]
        oq, on, _ = K.knn(qp[["x", "y"]].to_numpy(), pr[["x", "y"]].to_numpy(), pr.id.to_numpy(), 3)
        assert knn_sets(got) == set(zip(qp.id.to_numpy()[oq], on)), res


def test_knn_with_memory_excludes_visited(spark, cfg, blobs):
    df, pdf = blobs
    visited = df.where(F.col("id") % 3 == 0).select("id")
    got = S.knn_with_memory(df, df, visited, 4, cfg).toPandas()
    assert not (got.r_id % 3 == 0).any()
    keep = pdf[pdf.id % 3 != 0]
    oq, on, _ = K.knn(
        pdf[["x", "y"]].to_numpy(), keep[["x", "y"]].to_numpy(), keep.id.to_numpy(), 4
    )
    assert knn_sets(got) == set(zip(pdf.id.to_numpy()[oq], on))


def test_closest_pair_matches_bruteforce(spark, cfg, blobs, circles):
    da, pa = blobs
    db, pb = circles
    got = S.closest_pair(da, db, cfg).toPandas()
    assert len(got) == 1
    axy = pa[["x", "y"]].to_numpy()
    bxy = pb[["x", "y"]].to_numpy()
    d = np.sqrt(((axy[:, None, :] - bxy[None, :, :]) ** 2).sum(-1))
    d[d == 0] = np.inf
    i, j = np.unravel_index(d.argmin(), d.shape)
    assert got.src[0] == pa.id.to_numpy()[i]
    assert got.dst[0] == pb.id.to_numpy()[j]
    assert abs(got.dist[0] - d[i, j]) < 1e-12


def test_manhattan_radius_and_knn(spark, cfg, blobs):
    df, pdf = blobs
    xy = pdf[["x", "y"]].to_numpy()
    d1 = np.abs(xy[:, None, :] - xy[None, :, :]).sum(-1)

    r = 4.0
    got = S.radius_join(df, df, r, cfg, metric="manhattan").toPandas()
    qi, ri = np.nonzero(d1 < r)
    ids = pdf.id.to_numpy()
    assert set(zip(got.q_id, got.r_id)) == set(zip(ids[qi], ids[ri]))

    k = 4
    nn = S.knn_join(df, df, k, cfg, metric="manhattan").toPandas()
    expected = set()
    for i in range(len(xy)):
        order = np.lexsort((ids, d1[i]))[:k]
        expected |= {(ids[i], ids[j]) for j in order}
    assert knn_sets(nn) == expected


def test_closest_pair_with_many_coincident_refs(spark, cfg):
    """≥2 refs coincident with a query must not crowd positive edges
    out of the per-query buffer (ADVICE round-2): the k shortest
    positive edges stay exact at any duplicate multiplicity."""
    import pandas as pd

    # 4 queries; ref set = 3 exact copies of every query location plus
    # a few positive-distance refs
    q = pd.DataFrame({"id": [0, 1, 2, 3], "x": [0.0, 5.0, -5.0, 9.0], "y": [0.0, 5.0, -5.0, -9.0]})
    dup = pd.concat([q.assign(id=q.id + 100 * (i + 1)) for i in range(3)])
    extra = pd.DataFrame(
        {"id": [900, 901, 902], "x": [0.5, 5.7, -4.4], "y": [0.0, 5.0, -5.0]}
    )
    refs = pd.concat([dup, extra], ignore_index=True)
    qdf = spark.createDataFrame(q)
    rdf = spark.createDataFrame(refs)
    k = 3
    got = S.closest_pair(qdf, rdf, cfg, k=k).toPandas()
    # brute oracle: all positive edges, k smallest by (dist, src, dst)
    qxy = q[["x", "y"]].to_numpy()
    rxy = refs[["x", "y"]].to_numpy()
    d = np.sqrt(((qxy[:, None, :] - rxy[None, :, :]) ** 2).sum(-1))
    edges = [
        (d[i, j], int(q.id[i]), int(refs.id[j]))
        for i in range(len(q))
        for j in range(len(refs))
        if d[i, j] > 0
    ]
    exp = sorted(edges)[:k]
    got_edges = sorted(zip(got.dist, got.src, got.dst))
    assert [(s, t) for _, s, t in got_edges] == [(s, t) for _, s, t in exp]
    assert np.allclose([w for w, *_ in got_edges], [w for w, *_ in exp])


def brute_knn(qpdf, rpdf, k, metric):
    """(q_id, r_id, dist, rank) of every query against every ref: the
    SQL distance expressions' IEEE operations, ties by r_id."""
    dx = qpdf.x.to_numpy()[:, None] - rpdf.x.to_numpy()[None, :]
    dy = qpdf.y.to_numpy()[:, None] - rpdf.y.to_numpy()[None, :]
    d = np.abs(dx) + np.abs(dy) if metric == "manhattan" else np.sqrt(dx * dx + dy * dy)
    rids = rpdf.id.to_numpy()
    rows = []
    for i, qid in enumerate(qpdf.id.to_numpy()):
        order = np.lexsort((rids, d[i]))[:k]
        rows += [(qid, rids[j], d[i, j], rank) for rank, j in enumerate(order, 1)]
    return pd.DataFrame(rows, columns=["q_id", "r_id", "dist", "rank"])


def logical_rdd_leaves(df):
    stack, n = [df._jdf.queryExecution().analyzed()], 0
    while stack:
        node = stack.pop()
        n += node.getClass().getName().endswith(".LogicalRDD")
        kids = node.children()
        stack += [kids.apply(i) for i in range(kids.size())]
    return n


@pytest.mark.parametrize("metric", ["euclidean", "manhattan"])
@pytest.mark.parametrize("res", [2, 4, 6])
def test_knn_grid_straggler_levels_exact(spark, res, metric):
    """Queries in an empty region against skewed refs: none is done at
    ring 1 of the query resolution, so the straggler pass scans them
    against every ref. Rows are bit-equal to the brute oracle."""
    from ffcl_spark.operators.knn_kernel import knn_join_grid

    rng = np.random.default_rng(res)
    # refs: a dense blob near one corner plus a thin scatter
    rxy = np.vstack(
        [rng.normal((-24.0, -24.0), 0.8, (300, 2)), rng.uniform(-29, 0, (12, 2))]
    )
    # queries: an empty quadrant far from every ref
    qxy = rng.uniform(12.0, 28.0, (40, 2))
    rpdf = pd.DataFrame({"id": np.arange(len(rxy), dtype=np.int64), "x": rxy[:, 0], "y": rxy[:, 1]})
    qpdf = pd.DataFrame({"id": np.arange(len(qxy), dtype=np.int64) + 10_000, "x": qxy[:, 0], "y": qxy[:, 1]})
    k = 5
    out = knn_join_grid(
        spark.createDataFrame(qpdf), spark.createDataFrame(rpdf), k,
        EngineConfig(resolution=res), checkpoint=True, metric=metric,
    )
    got = out.toPandas().sort_values(["q_id", "rank"]).reset_index(drop=True)
    exp = brute_knn(qpdf, rpdf, k, metric)
    assert (got.q_id.to_numpy() == exp.q_id.to_numpy()).all()
    assert (got.r_id.to_numpy() == exp.r_id.to_numpy()).all()
    assert (got["rank"].to_numpy() == exp["rank"].to_numpy()).all()
    assert (got.dist.to_numpy() == exp.dist.to_numpy()).all()
    # one checkpointed part per pass: the grid pass and the straggler pass
    assert logical_rdd_leaves(out) == 2


@pytest.mark.parametrize("res", [0, 3])
def test_knn_grid_no_refs_returns_no_rows(spark, res):
    """Every query is pending and the straggler pass has no ref to scan:
    no rows, at any resolution (resolution 0 included)."""
    from ffcl_spark.operators.knn_kernel import knn_join_grid

    q = spark.createDataFrame(pd.DataFrame({"id": [1, 2], "x": [0.5, -3.0], "y": [0.5, 2.0]}))
    refs = q.where("id < 0")
    got = knn_join_grid(q, refs, 3, EngineConfig(resolution=res), checkpoint=True)
    assert got.count() == 0


def test_knn_with_memory_all_visited_returns_no_rows(spark, cfg, blobs):
    df, _ = blobs
    assert S.knn_with_memory(df, df, df.select("id"), 4, cfg).count() == 0


def test_core_distances_checkpoint_leaves_nothing_behind(spark, monkeypatch):
    """Borůvka's contract for ``checkpoint=True``: after the call only
    the checkpointed rows the result reads are left; freeing those
    leaves no persisted or checkpointed RDD from the call. 2-D points
    run ``search.core_distances``; 3-D points run
    ``search_nd.core_distances_nd`` on the same grid kernel."""
    import functools

    from ffcl_spark.operators import search_nd as SN
    from ffcl_spark.plans.stats import free_checkpoint_tree

    # refs this few auto-pick the n-D closure plan; force the grid plan
    monkeypatch.setattr(SN, "knn_join_nd", functools.partial(SN.knn_join_nd, plan="grid"))

    def persistent_ids():
        return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}

    rng = np.random.default_rng(3)
    cfg = EngineConfig(resolution=6)
    k = 4
    for dims in (2, 3):
        # a blob plus far outliers, so some queries need the straggler pass
        pts = np.vstack([rng.normal(0.0, 1.0, (300, dims)), rng.uniform(-29, 29, (6, dims))])
        ids = np.arange(len(pts), dtype=np.int64)
        if dims == 2:
            df = spark.createDataFrame(pd.DataFrame({"id": ids, "x": pts[:, 0], "y": pts[:, 1]}))
            core = functools.partial(S.core_distances, df, k, cfg, checkpoint=True)
        else:
            df = spark.createDataFrame(
                pd.DataFrame({"id": ids, "features": [list(p) for p in pts]}),
                "id long, features array<double>",
            )
            core = functools.partial(SN.core_distances_nd, df, k, cfg, checkpoint=True)
        id_floor = max(persistent_ids(), default=-1)
        out = core()
        assert logical_rdd_leaves(out) >= 2  # the straggler pass ran
        got = out.toPandas().set_index("id").core_distance.loc[ids].to_numpy()
        _, _, od = K.knn_nd(pts, pts, ids, k)
        assert (got == od.reshape(len(pts), k)[:, -1]).all()
        assert not getattr(out, "_ffcl_cached", [])
        free_checkpoint_tree(out)
        assert {i for i in persistent_ids() if i > id_floor} == set()


@pytest.mark.parametrize("plan", ["planar", "nd"])
def test_radius_box_prune_sound_across_rounded_edge(spark, plan):
    """The cell edge x0 + ix*s rounds up to 0.45 while a ref at the
    double just below it still floors into cell 3. The query's true
    distance is below r, but its gap to the rounded edge is above r:
    the prune must not drop that cell. ``nd`` runs the same pair as
    3-D vectors with the grid on axes (0, 2)."""
    cfg = EngineConfig(x0=-0.3, y0=-0.3, domain=1.0)
    r = 0.3  # the join re-cells at resolution 2: s = 0.25
    q = pd.DataFrame({"id": [0], "x": [0.15], "y": [0.0]})
    refs = pd.DataFrame({"id": [1], "x": [0.44999999999999996], "y": [0.0]})
    if plan == "planar":
        qm, rm = q[["x", "y"]].to_numpy(), refs[["x", "y"]].to_numpy()
        got = S.radius_join(spark.createDataFrame(q), spark.createDataFrame(refs), r, cfg)
    else:
        from ffcl_spark.operators.search_nd import radius_join_nd

        qm = np.column_stack([q.x, np.full(1, 0.25), q.y])
        rm = np.column_stack([refs.x, np.full(1, 0.25), refs.y])

        def vecs(ids, m):
            return spark.createDataFrame(
                [(int(i), [float(v) for v in row]) for i, row in zip(ids, m)],
                "id long, features array<double>",
            )

        got = radius_join_nd(vecs(q.id, qm), vecs(refs.id, rm), r, cfg, axes=(0, 2))
    got = got.toPandas()
    oracle = K.radius_pairs if plan == "planar" else K.radius_pairs_nd
    oa, ob, od = oracle(qm, q.id.to_numpy(), rm, refs.id.to_numpy(), r)
    assert len(oa) == 1
    assert set(zip(got.q_id, got.r_id)) == set(zip(oa, ob))
    assert (got.dist.to_numpy() == od).all()


def test_knn_grid_done_rule_sound_across_rounded_edge(spark):
    """Ring 1 of the query's cell ends at the rounded edge 0.45; ref 2
    at the double just below it floors into the cell beyond. Its
    distance is below the query's gap to that edge, so the ring-1
    candidate (ref 1, distance 0.3) must not finish the query."""
    from ffcl_spark.operators.knn_kernel import knn_join_grid

    cfg = EngineConfig(x0=-0.3, y0=-0.3, domain=1.0, resolution=2)
    q = pd.DataFrame({"id": [0], "x": [0.15], "y": [0.0]})
    refs = pd.DataFrame({"id": [1, 2], "x": [-0.15, 0.44999999999999996], "y": [0.0, 0.0]})
    got = knn_join_grid(spark.createDataFrame(q), spark.createDataFrame(refs), 1, cfg).toPandas()
    _, on, od = K.knn(q[["x", "y"]].to_numpy(), refs[["x", "y"]].to_numpy(), refs.id.to_numpy(), 1)
    assert list(on) == [2]
    assert list(got.r_id) == [2]
    assert (got.dist.to_numpy() == od).all()
