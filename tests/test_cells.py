import numpy as np
from pyspark.sql import functions as F

from ffcl_spark import EngineConfig
from ffcl_spark.functions import cells as C
from ffcl_spark.kernels import grid as G


def test_cell_roundtrip(spark, cfg):
    df = spark.range(100).select(
        (F.rand(7) * 60 - 30).alias("x"), (F.rand(11) * 60 - 30).alias("y")
    )
    out = df.select(
        "x",
        "y",
        C.cell_id(F.col("x"), F.col("y"), cfg).alias("cell"),
    )
    pdf = out.toPandas()
    expected = G.cell_id(pdf.x.to_numpy(), pdf.y.to_numpy(), cfg)
    assert (pdf.cell.to_numpy() == expected).all()
    ix, iy = G.cell_ixy(pdf.cell.to_numpy())
    assert (ix >= 0).all() and (ix < cfg.grid_n).all()
    assert (iy >= 0).all() and (iy < cfg.grid_n).all()


def test_neighbor_and_ring_counts(spark, cfg):
    # interior cell: full (2r+1)^2 neighborhood; ring = difference
    df = spark.createDataFrame([(0.5, 0.5)], "x double, y double").select(
        C.cell_id(F.col("x"), F.col("y"), cfg).alias("cell")
    )
    row = df.select(
        F.size(C.neighbor_cells(F.col("cell"), 1, cfg)).alias("n1"),
        F.size(C.neighbor_cells(F.col("cell"), 2, cfg)).alias("n2"),
        F.size(C.ring_cells(F.col("cell"), 2, cfg)).alias("r2"),
    ).collect()[0]
    assert row["n1"] == 9 and row["n2"] == 25 and row["r2"] == 16


def test_neighbor_cells_clipped_at_border(spark, cfg):
    df = spark.createDataFrame([(-30.0, -30.0)], "x double, y double").select(
        C.cell_id(F.col("x"), F.col("y"), cfg).alias("cell")
    )
    n = df.select(F.size(C.neighbor_cells(F.col("cell"), 1, cfg)).alias("n")).collect()[0]["n"]
    assert n == 4  # corner cell: 2x2


def test_guaranteed_radius_is_safe(spark, cfg):
    # any point at distance < guaranteed_radius must fall in the
    # neighborhood cell set
    rng = np.random.default_rng(3)
    pts = rng.uniform(-29, 29, (50, 2))
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in pts], "x double, y double"
    ).select(
        "x", "y", C.cell_id(F.col("x"), F.col("y"), cfg).alias("cell")
    )
    pdf = df.select(
        "x",
        "y",
        "cell",
        C.guaranteed_radius(F.col("x"), F.col("y"), F.col("cell"), 1, cfg).alias("g"),
    ).toPandas()
    s = cfg.cell_size
    e = cfg.edge_slack
    ixs, iys = G.cell_ixy(pdf.cell.to_numpy())  # keep int64 (iterrows would coerce to float64)
    for x, y, g, ix, iy in zip(pdf.x, pdf.y, pdf.g, ixs, iys):
        # exact expected value: min over non-domain-clipped sides of the
        # ring-1 box (clipped sides cover everything via cell clamping),
        # each rounded edge moved in by the edge slack
        exp = []
        if ix - 1 > 0:
            exp.append(x - ((cfg.x0 + (ix - 1) * s) + e))
        if ix + 1 < cfg.grid_n - 1:
            exp.append(((cfg.x0 + (ix + 2) * s) - e) - x)
        if iy - 1 > 0:
            exp.append(y - ((cfg.y0 + (iy - 1) * s) + e))
        if iy + 1 < cfg.grid_n - 1:
            exp.append(((cfg.y0 + (iy + 2) * s) - e) - y)
        expected = min(exp) if exp else float("inf")
        assert g == expected or (np.isinf(g) and np.isinf(expected))


def test_parent_cell(spark):
    cfg = EngineConfig(resolution=4)
    df = spark.createDataFrame([(10.0, -7.0)], "x double, y double").select(
        C.cell_id(F.col("x"), F.col("y"), cfg).alias("cell")
    )
    parent = df.select(C.parent_cell(F.col("cell"), cfg).alias("p")).collect()[0]["p"]
    up = EngineConfig(resolution=3)
    expected = G.cell_id(np.array([10.0]), np.array([-7.0]), up)[0]
    assert parent == expected


def test_index_tree_snapshot(spark, cfg, blobs):
    """Hierarchical index snapshot: leaf level == cell_stats, rollups
    conserve counts and tighten bounds exactly, parent links follow the
    bit-shift relation, JSON export reconstructs the hierarchy."""
    from ffcl_spark.functions.cells import AXIS_MOD, RES_SHIFT
    from ffcl_spark.sources.points import cell_stats, index_tree, tree_to_json

    df, pdf = blobs
    tree = index_tree(df, cfg).toPandas()
    n = len(pdf)
    depths = sorted(tree.depth.unique())
    assert depths == list(range(cfg.resolution + 1))
    for d in depths:
        assert tree[tree.depth == d]["n"].sum() == n
    leaf = tree[tree.depth == cfg.resolution].set_index("cell").sort_index()
    cs = cell_stats(df, cfg).toPandas().set_index("cell").sort_index()
    assert (leaf["n"] == cs["n"]).all()
    for c in ("x_min", "x_max", "y_min", "y_max"):
        assert (leaf[c] == cs[c]).all()
    # root bound == global tight bound
    root = tree[tree.depth == 0].iloc[0]
    assert root.x_min == pdf.x.min() and root.x_max == pdf.x.max()
    assert root.parent_cell == -1
    # parent linkage: child (ix, iy) >> 1 under the parent's depth tag
    kids = tree[tree.depth > 0]
    ix = (kids.cell.to_numpy() >> 26) & (AXIS_MOD - 1)
    iy = kids.cell.to_numpy() & (AXIS_MOD - 1)
    exp_parent = (kids.depth.to_numpy() - 1) * (1 << RES_SHIFT) + (ix // 2) * AXIS_MOD + (iy // 2)
    assert (kids.parent_cell.to_numpy().astype(np.int64) == exp_parent).all()
    parents = set(tree.cell)
    assert set(kids.parent_cell.astype(np.int64)) <= parents
    # cut axis = MaximumSpread on the tight bound
    exp_cut = np.where(
        (tree.x_max - tree.x_min) >= (tree.y_max - tree.y_min), 0, 1
    )
    assert (tree.cut_axis.to_numpy() == exp_cut).all()
    # nested JSON export
    rows = index_tree(df, cfg).collect()
    j = tree_to_json(rows)
    assert len(j["roots"]) == 1
    def count_nodes(node):
        return 1 + sum(count_nodes(c) for c in node["children"])
    assert count_nodes(j["roots"][0]) == len(tree)
    assert j["roots"][0]["n"] == n


def test_point_index_at_rest(spark, cfg, blobs, tmp_path):
    import numpy as np

    from ffcl_spark.operators import search as S
    from ffcl_spark.sources.points import (
        box_search_indexed,
        radius_probe_indexed,
        read_point_index,
        write_point_index,
    )

    df, pdf = blobs
    path = str(tmp_path / "pt_idx")
    write_point_index(df, path, cfg)

    # stored == fly: box over the index equals the on-the-fly operator
    box = (-5.0, -5.0, 5.0, 5.0)
    got = set(box_search_indexed(spark, path, *box).toPandas()["id"])
    want = set(S.box_search(df, *box).toPandas()["id"])
    assert got == want and len(want) > 0

    # radius probe: strict < r vs NumPy brute force
    qx, qy, r = float(pdf.x.iloc[0]), float(pdf.y.iloc[0]), 3.0
    got_r = radius_probe_indexed(spark, path, qx, qy, r).toPandas()
    d = np.sqrt((pdf.x - qx) ** 2 + (pdf.y - qy) ** 2)
    want_ids = set(pdf.id[d < r])
    assert set(got_r["id"]) == want_ids and len(want_ids) > 1

    # the probed read partition-prunes at the scan
    pts, c = read_point_index(spark, path, cells=[int(
        spark.read.parquet(f"{path}/points").agg({"cell": "min"}).first()[0]
    )])
    txt = pts._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in txt
    assert "cell" in txt.split("PartitionFilters", 1)[1][:200]


def test_knn_probe_indexed(spark, cfg, blobs, tmp_path):
    import numpy as np

    from ffcl_spark.sources.points import knn_probe_indexed, write_point_index

    df, pdf = blobs
    path = str(tmp_path / "pt_idx_knn")
    write_point_index(df, path, cfg)
    X = pdf[["x", "y"]].to_numpy()
    ids = pdf.id.to_numpy()

    probes = [
        (float(pdf.x.iloc[3]), float(pdf.y.iloc[3]), 5),   # on a stored point
        (0.0, 0.0, 1),                                     # domain center
        (-29.9, 29.9, 7),                                  # domain corner
        (500.0, -500.0, 3),                                # far outside domain
        (1.0, 2.0, len(pdf) + 10),                         # k > n → all points
    ]
    for qx, qy, k in probes:
        got = knn_probe_indexed(spark, path, qx, qy, k).toPandas()
        d = np.sqrt((X[:, 0] - qx) ** 2 + (X[:, 1] - qy) ** 2)
        order = np.lexsort((ids, d))[: min(k, len(pdf))]
        want = [(ids[i], d[i]) for i in order]
        assert list(zip(got.id, got.dist)) == want, (qx, qy, k)
        assert list(got["rank"]) == list(range(1, len(want) + 1))


def test_append_point_index_epochs(spark, cfg, blobs, tmp_path):
    import numpy as np

    from ffcl_spark.sources.points import (
        append_point_index,
        radius_probe_indexed,
        read_point_index,
        write_point_index,
    )

    df, pdf = blobs
    half = len(pdf) // 2
    base_ids = set(pdf.id.iloc[:half])
    d0 = df.where(F.col("id").isin([int(i) for i in base_ids]))
    d1 = df.where(~F.col("id").isin([int(i) for i in base_ids]))
    path = str(tmp_path / "pt_idx_epochs")
    write_point_index(d0, path, cfg)

    pts, _ = read_point_index(spark, path)
    assert set(r.id for r in pts.select("id").collect()) == base_ids

    # append epoch 1: probes now see the full set
    append_point_index(d1, path, epoch=1)
    pts, _ = read_point_index(spark, path)
    assert pts.count() == len(pdf)
    qx, qy, r = float(pdf.x.iloc[0]), float(pdf.y.iloc[0]), 3.0
    got = set(radius_probe_indexed(spark, path, qx, qy, r).toPandas()["id"])
    d = np.sqrt((pdf.x - qx) ** 2 + (pdf.y - qy) ** 2)
    assert got == set(pdf.id[d < r])

    # replaying epoch 1 is idempotent (dynamic overwrite of its own
    # partitions — no duplicate rows)
    append_point_index(d1, path, epoch=1)
    pts, _ = read_point_index(spark, path)
    assert pts.count() == len(pdf)


def test_knn_probe_indexed_string_ids(spark, cfg, tmp_path):
    """Production extraction ids are strings ('doc#offset') — the
    probe's result schema must follow the stored id type (regression:
    it hardcoded longs)."""
    from ffcl_spark.sources.points import knn_probe_indexed, write_point_index

    pts = spark.createDataFrame(
        [(f"d{i}#0", float(i), 0.0) for i in range(8)],
        "id string, x double, y double",
    )
    path = str(tmp_path / "pt_idx_str")
    write_point_index(pts, path, cfg)
    got = knn_probe_indexed(spark, path, 2.2, 0.0, 3).collect()
    assert [r.id for r in got] == ["d2#0", "d3#0", "d1#0"]
    assert got[0].dist == 0.20000000000000018  # exact IEEE sqrt((2.0-2.2)^2)


def test_compact_point_index(spark, cfg, blobs, tmp_path):
    import glob

    from ffcl_spark.sources.points import (
        append_point_index,
        compact_point_index,
        radius_probe_indexed,
        write_point_index,
    )

    df, pdf = blobs
    path = str(tmp_path / "pt_idx_compact")
    write_point_index(df.limit(400), path, cfg)
    append_point_index(df.subtract(df.limit(400)), path, epoch=1)
    qx, qy, r = float(pdf.x.iloc[0]), float(pdf.y.iloc[0]), 4.0
    before = set(radius_probe_indexed(spark, path, qx, qy, r).toPandas()["id"])
    compact_point_index(spark, path)
    assert {d.split("epoch=")[1] for d in glob.glob(f"{path}/points/cell=*/epoch=*")} == {"0"}
    after = set(radius_probe_indexed(spark, path, qx, qy, r).toPandas()["id"])
    assert after == before and len(before) > 0


def test_pip_probe_indexed(spark, cfg, blobs, tmp_path):
    from ffcl_spark.kernels.pip import points_in_polygon
    from ffcl_spark.sources.points import pip_probe_indexed, write_point_index

    df, pdf = blobs
    path = str(tmp_path / "pt_idx_pip")
    write_point_index(df, path, cfg)
    # a non-convex (arrow-head) polygon, unclosed on purpose
    ring = [(-8.0, -8.0), (8.0, -6.0), (0.0, 0.0), (8.0, 8.0), (-8.0, 6.0)]
    got = set(pip_probe_indexed(spark, path, ring).toPandas()["id"])
    closed = np.array(ring + [ring[0]])
    mask = points_in_polygon(pdf.x.to_numpy(), pdf.y.to_numpy(), closed)
    want = set(pdf.id[mask])
    assert got == want and 0 < len(want) < len(pdf)


def test_cell_rollup_matches_per_level_stats(spark, cfg, blobs):
    # the rollup's re-aggregated partials must equal cell_stats
    # computed directly from the points at every resolution — the
    # associativity proof of the hypertable shape (and of `n` being a
    # sum of sums, the bboxes min-of-mins/max-of-maxes)
    from ffcl_spark.plans.cache import release
    from ffcl_spark.sources.points import cell_rollup, cell_stats

    df, _ = blobs
    out = cell_rollup(df, cfg, min_res=0)
    got = out.toPandas().sort_values(["res", "cell"]).reset_index(drop=True)
    assert sorted(got.res.unique()) == list(range(0, cfg.resolution + 1))
    for res in range(0, cfg.resolution + 1):
        direct = (
            cell_stats(df, cfg.with_resolution(res))
            .toPandas()
            .sort_values("cell")
            .reset_index(drop=True)
        )
        lvl = (
            got[got.res == res]
            .drop(columns="res")
            .sort_values("cell")
            .reset_index(drop=True)
        )
        assert len(lvl) == len(direct)
        assert (lvl.cell.to_numpy() == direct.cell.to_numpy()).all()
        assert (lvl.n.to_numpy() == direct.n.to_numpy()).all()
        for c in ("x_min", "x_max", "y_min", "y_max"):
            assert (lvl[c].to_numpy() == direct[c].to_numpy()).all()
    # root level is the global tight bound over one cell
    root = got[got.res == 0]
    assert len(root) == 1 and int(root.n.iloc[0]) == df.count()
    release(out)
