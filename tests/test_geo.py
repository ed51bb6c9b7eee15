"""Geodesic search: sphere-embedding reduction to the n-D operators.

The adversarial cases a planar lat/lon grid gets wrong — antimeridian
wrap and pole adjacency — fall out of the 3-D embedding for free; the
brute-parity tests pin exactness against the NumPy haversine oracle.
"""

import math

import numpy as np
import pandas as pd
import pytest

from ffcl_spark.kernels.geo import (
    geo_brute_knn,
    geo_brute_pairs,
    haversine_np,
)
from ffcl_spark.operators.geo import (
    EARTH_RADIUS_M,
    GEO_CFG,
    arc_of_chord_m,
    chord_of_arc,
    geo_box_search,
    geo_knn_join,
    geo_radius_join,
    haversine_m,
)


def world_pdf(n: int = 300, seed: int = 11) -> pd.DataFrame:
    """Deterministic world-wide fixture with the adversarial clusters:
    a pole cap, an antimeridian straddle, and a uniform background."""
    rng = np.random.default_rng(seed)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))  # uniform on sphere
    lon = rng.uniform(-180.0, 180.0, n)
    # pole cap: 12 points within ~20 km of the north pole, lons spread
    lat[:12] = 89.9 + rng.uniform(0, 0.08, 12)
    lon[:12] = np.linspace(-170, 170, 12)
    # antimeridian straddle: 10 points hugging ±180 at lat 10
    lat[12:22] = 10.0 + rng.uniform(-0.05, 0.05, 10)
    lon[12:22] = np.where(rng.uniform(size=10) < 0.5, 1, -1) * (
        179.9 + rng.uniform(0, 0.09, 10)
    )
    return pd.DataFrame(
        {"id": np.arange(n, dtype=np.int64), "lat": lat, "lon": lon}
    )


@pytest.fixture(scope="module")
def world(spark):
    pdf = world_pdf()
    return spark.createDataFrame(pdf).cache(), pdf


def test_haversine_expr_matches_numpy(spark):
    pdf = world_pdf(80, seed=3)
    a, b = pdf.iloc[:40].reset_index(drop=True), pdf.iloc[40:].reset_index(drop=True)
    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                "lat1": a.lat, "lon1": a.lon,
                "lat2": b.lat.values, "lon2": b.lon.values,
            }
        )
    )
    from pyspark.sql import functions as F

    got = (
        pairs.select(
            haversine_m(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("d")
        )
        .toPandas()["d"]
        .to_numpy()
    )
    want = haversine_np(a.lat.values, a.lon.values, b.lat.values, b.lon.values)
    np.testing.assert_allclose(got, want, rtol=1e-9)


def test_chord_arc_roundtrip():
    for r in [1.0, 1e3, 1e6, 1e7, math.pi * EARTH_RADIUS_M * 0.999]:
        c = chord_of_arc(r)
        back = 2 * EARTH_RADIUS_M * math.asin(min(1.0, c / 2))
        assert back == pytest.approx(r, rel=1e-12)
    # ≥ half circumference: bound exceeds the max chord, keeps all pairs
    assert chord_of_arc(math.pi * EARTH_RADIUS_M) > 2.0


@pytest.mark.parametrize("plan", ["sphere", "embed"])
def test_geo_radius_brute_parity(spark, world, plan):
    df, pdf = world
    radius = 900_000.0  # 900 km
    qs = df.where("id % 7 = 0")
    qpdf = pdf[pdf.id % 7 == 0].reset_index(drop=True)
    # fixture margin: no pair may sit near the float boundary
    d = haversine_np(
        qpdf.lat.values[:, None], qpdf.lon.values[:, None],
        pdf.lat.values[None, :], pdf.lon.values[None, :],
    )
    assert np.abs(d - radius).min() > 1.0  # ≥ 1 m of slack
    got = (
        geo_radius_join(qs, df, radius, plan=plan)
        .toPandas()
        .sort_values(["q_id", "r_id"])
        .reset_index(drop=True)
    )
    mask = geo_brute_pairs(
        qpdf.lat.values, qpdf.lon.values, pdf.lat.values, pdf.lon.values, radius
    )
    want = [
        (int(qpdf.id[i]), int(pdf.id[j]))
        for i in range(mask.shape[0])
        for j in np.nonzero(mask[i])[0]
    ]
    want = sorted(want)
    assert list(zip(got.q_id, got.r_id)) == want
    # distances match the haversine oracle through the chord mapping
    want_d = {
        (int(qpdf.id[i]), int(pdf.id[j])): d[i, j]
        for i in range(mask.shape[0])
        for j in np.nonzero(mask[i])[0]
    }
    for row in got.itertuples():
        assert row.dist_m == pytest.approx(want_d[(row.q_id, row.r_id)], rel=1e-9)


def test_geo_radius_antimeridian_and_pole(spark, world):
    df, pdf = world
    # the straddle points are within ~50 km of each other across ±180;
    # the pole cap points are within ~50 km of each other at any lon
    straddle = df.where("id >= 12 and id < 22")
    out = geo_radius_join(straddle, straddle, 60_000.0).toPandas()
    # every straddle point must find every other (cluster diameter < 60 km)
    dd = haversine_np(
        pdf.lat.values[12:22, None], pdf.lon.values[12:22, None],
        pdf.lat.values[None, 12:22], pdf.lon.values[None, 12:22],
    )
    assert dd.max() < 60_000.0
    assert len(out) == 100  # 10×10 incl. self-pairs at dist 0
    cap = df.where("id < 12")
    pole_out = geo_radius_join(cap, cap, 60_000.0).toPandas()
    assert len(pole_out) == 144


@pytest.mark.parametrize("plan", ["sphere", "rounds", "embed", "grid"])
def test_geo_knn_brute_parity(spark, world, plan, monkeypatch):
    df, pdf = world
    k = 5
    if plan == "rounds":
        # the sphere plan's radius rounds, which larger ref sets run
        import ffcl_spark.operators.geo as G

        monkeypatch.setattr(G, "SPHERE_CLOSURE_REFS", 0)
        plan = "sphere"
    qs = df.where("id % 11 = 0")
    qpdf = pdf[pdf.id % 11 == 0].reset_index(drop=True)
    got = (
        geo_knn_join(qs, df, k, plan=plan)
        .toPandas()
        .sort_values(["q_id", "rank"])
        .reset_index(drop=True)
    )
    want = geo_brute_knn(
        qpdf.lat.values, qpdf.lon.values, pdf.lat.values, pdf.lon.values,
        pdf.id.values, k,
    )
    for i, (ids, dists) in enumerate(want):
        sub = got[got.q_id == int(qpdf.id[i])]
        assert list(sub.r_id) == list(ids)
        np.testing.assert_allclose(sub.dist_m.values, dists, rtol=1e-9, atol=1e-6)


def test_geo_knn_blocked_plan_same_result(spark, world):
    df, _ = world
    qs = df.where("id % 29 = 0")
    ring = geo_knn_join(qs, df, 3).toPandas().sort_values(["q_id", "rank"])
    blocked = geo_knn_join(qs, df, 3, plan="blocked").toPandas().sort_values(
        ["q_id", "rank"]
    )
    assert list(ring.q_id) == list(blocked.q_id)
    assert list(ring.r_id) == list(blocked.r_id)


def test_geo_box_search_wrap(spark, world):
    df, pdf = world
    # plain box
    got = geo_box_search(df, -10, 30, 20, 70).toPandas()
    want = pdf[
        pdf.lat.between(-10, 30) & pdf.lon.between(20, 70)
    ]
    assert sorted(got.id) == sorted(want.id)
    # antimeridian box: lon 170 → -170
    got_w = geo_box_search(df, 0, 20, 170, -170).toPandas()
    want_w = pdf[
        pdf.lat.between(0, 20) & ((pdf.lon >= 170) | (pdf.lon <= -170))
    ]
    assert sorted(got_w.id) == sorted(want_w.id)
    assert len(got_w) >= 10  # the straddle cluster is inside


def test_arc_of_chord_clamps_antipodal(spark):
    # a chord fold landing at 2 + 1ulp must not produce NaN
    from pyspark.sql import functions as F

    row = spark.range(1).select(
        arc_of_chord_m(F.lit(2.0 + 1e-12)).alias("d")
    ).collect()[0]
    assert row.d == pytest.approx(math.pi * EARTH_RADIUS_M, rel=1e-12)


def test_sphere_cover_superset_invariant(spark, world):
    """For every (query, ref) pair within arc r, the query's cover
    must contain the ref's cell — the property that makes the one-
    shuffle sphere plan exact. Checked over the world fixture at a
    radius large enough to cross bands, poles, and the antimeridian."""
    from pyspark.sql import functions as F

    from ffcl_spark.functions import sphere as S

    df, _ = world
    radius = 1_500_000.0  # 1500 km: caps span many cells
    r_deg = math.degrees(radius / EARTH_RADIUS_M)
    delta = r_deg  # band height matched to the radius
    q = df.select(
        F.col("id").alias("q_id"),
        F.col("lat").alias("q_lat"),
        F.col("lon").alias("q_lon"),
        S.cover_cells(F.col("lat"), F.col("lon"), r_deg, delta).alias("cover"),
    )
    r = df.select(
        F.col("id").alias("r_id"),
        F.col("lat").alias("r_lat"),
        F.col("lon").alias("r_lon"),
        S.sphere_cell(F.col("lat"), F.col("lon"), delta).alias("cell"),
    )
    dist = haversine_m(
        F.col("q_lat"), F.col("q_lon"), F.col("r_lat"), F.col("r_lon")
    )
    missed = (
        q.crossJoin(r)
        .where(dist < radius)
        .where(~F.array_contains(F.col("cover"), F.col("cell")))
        .count()
    )
    assert missed == 0
    # covers are duplicate-free (pmod wrap capped at one full circle)
    dup = q.where(
        F.size("cover") != F.size(F.array_distinct("cover"))
    ).count()
    assert dup == 0


def test_sphere_and_embed_identical_pairsets(spark, world):
    """The two independent geodesic plans (on-sphere grid vs 3-D
    embedding) must return the same (q_id, r_id) sets — pole caps and
    antimeridian straddles included (both live in the fixture)."""
    df, _ = world
    qs = df.where("id % 5 = 0")
    a = geo_radius_join(qs, df, 700_000.0, plan="sphere").select("q_id", "r_id")
    b = geo_radius_join(qs, df, 700_000.0, plan="embed").select("q_id", "r_id")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    ka = geo_knn_join(qs, df, 4, plan="sphere").select("q_id", "r_id", "rank")
    kb = geo_knn_join(qs, df, 4, plan="embed").select("q_id", "r_id", "rank")
    assert ka.exceptAll(kb).count() == 0
    assert kb.exceptAll(ka).count() == 0


def brute_geo_dbscan(pdf: pd.DataFrame, radius_m: float, min_samples: int):
    """Independent oracle: DBSCAN.hpp semantics under haversine —
    strict dist < radius, core iff strictly more than min_samples
    in-radius neighbors (self included), border = min core label,
    canonical label = min member id of the component's core set."""
    lat, lon = pdf["lat"].to_numpy(), pdf["lon"].to_numpy()
    ids = pdf["id"].to_numpy()
    n = len(ids)
    within = geo_brute_pairs(lat, lon, lat, lon, radius_m)
    core = within.sum(axis=1) > min_samples
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    ci = np.where(core)[0]
    for a in ci:
        for b in ci:
            if a < b and within[a, b]:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict = {}
    for a in ci:
        r = find(a)
        comp_min[r] = min(comp_min.get(r, ids[a]), ids[a])
    labels = np.zeros(n, dtype=np.int64)
    noise = np.ones(n, dtype=bool)
    for a in ci:
        labels[a] = comp_min[find(a)]
        noise[a] = False
    for i in range(n):
        if core[i]:
            continue
        nb = [labels[j] for j in ci if within[i, j]]
        if nb:
            labels[i] = min(nb)
            noise[i] = False
    return labels, noise


def test_geo_dbscan_brute_parity(spark, world):
    from ffcl_spark.operators.geo import geo_dbscan

    df, pdf = world
    radius_m, min_samples = 50_000.0, 4
    # float-boundary margin: no pair may sit within 1 m of the radius,
    # so engine/oracle double rounding cannot flip a membership
    d = haversine_np(
        pdf.lat.to_numpy()[:, None], pdf.lon.to_numpy()[:, None],
        pdf.lat.to_numpy()[None, :], pdf.lon.to_numpy()[None, :],
    )
    assert np.abs(d - radius_m).min() > 1.0
    exp_label, exp_noise = brute_geo_dbscan(pdf, radius_m, min_samples)
    got = (
        geo_dbscan(df, radius_m, min_samples)
        .toPandas()
        .set_index("id")
        .sort_index()
    )
    assert (got.label.to_numpy() == exp_label).all()
    assert (got.is_noise.to_numpy() == exp_noise).all()
    # the fixture's adversarial clusters must actually cluster: the
    # pole cap (ids 0..11) and the antimeridian straddle (ids 12..21)
    # are each one non-noise component
    assert not exp_noise[:22].any()
    assert len(set(exp_label[:12])) == 1
    assert len(set(exp_label[12:22])) == 1
    assert set(exp_label[:12]) != set(exp_label[12:22])


# --------------------------------------------------------- geodesic PIP

def _convex_inside_np(p_lat, p_lon, ring):
    """Independent oracle for CONVEX spherical polygons: a point is
    inside iff it lies on the interior side of every great-circle edge
    plane — pure half-space algebra, no projection (the operator uses
    gnomonic + even-odd, a different formulation)."""
    from ffcl_spark.kernels.geo import unit_vector_np

    v = unit_vector_np(ring[:, 0], ring[:, 1])
    c = v.mean(0)
    c = c / np.linalg.norm(c)
    nrm = np.cross(v, np.roll(v, -1, axis=0))
    s = nrm @ c
    if (s < 0).all():
        nrm = -nrm
    else:
        assert (s > 0).all(), "fixture polygon not convex"
    p = unit_vector_np(np.asarray(p_lat, float), np.asarray(p_lon, float))
    return (p @ nrm.T >= 0).all(axis=1)


def test_spherical_pip_matches_halfspace_oracle():
    from ffcl_spark.kernels.geo import spherical_pip_np
    from ffcl_spark.operators.geo import sphere_tile_rings

    rng = np.random.default_rng(42)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 20000)))
    lon = rng.uniform(-180.0, 180.0, 20000)
    hits = 0
    for tid, ring in sphere_tile_rings():
        ring = np.array(ring)
        got = spherical_pip_np(lat, lon, ring)
        exp = _convex_inside_np(lat, lon, ring)
        assert (got == exp).all(), tid
        # polygon vertices are boundary points → inside by engine rule
        assert spherical_pip_np(ring[:, 0], ring[:, 1], ring).all(), tid
        hits += int(got.sum())
    assert hits > 100  # fixture actually exercises interiors


def test_spherical_pip_nonconvex_lobes():
    """Non-convex ring (two lobes joined by a neck): membership decided
    by construction — lobe centers inside, the notch point outside."""
    from ffcl_spark.kernels.geo import destination_point_np, spherical_pip_np

    clat, clon = 20.0, 40.0
    # arrow-head: far tip, two barbs, notch pulled back toward center
    brg = np.array([0.0, 90.0, 180.0, 270.0])
    arc = np.array([8.0, 6.0, 1.0, 6.0])
    la, lo = destination_point_np(clat, clon, brg, arc)
    ring = np.stack([la, lo], axis=1)
    # the notch vertex sits 1° south; a probe 3° south is OUTSIDE even
    # though it is inside the convex hull of the vertices
    p_lat, p_lon = destination_point_np(clat, clon, np.array([0.0, 180.0]), np.array([4.0, 3.0]))
    got = spherical_pip_np(p_lat, p_lon, ring)
    assert got[0] and not got[1]


def test_geo_pip_join_paths_match_twin(spark):
    from ffcl_spark.kernels.geo import spherical_pip_np
    from ffcl_spark.operators.geo import geo_pip_join, sphere_tile_rings, sphere_tiles

    rng = np.random.default_rng(7)
    n = 3000
    pdf = pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "lat": np.degrees(np.arcsin(rng.uniform(-1, 1, n))),
            "lon": rng.uniform(-180.0, 180.0, n),
        }
    )
    # adversarial probes: the pole itself, both sides of ±180, a vertex
    pdf.loc[:5, ["lat", "lon"]] = [
        [90.0, 0.0],
        [89.0, 120.0],
        [10.0, 179.8],
        [10.0, -179.8],
        [9.0, 180.0],
        [-75.0, 30.0],
    ]
    pts = spark.createDataFrame(pdf)
    tiles = sphere_tiles(spark)
    closure = geo_pip_join(pts, tiles)
    bcast = geo_pip_join(pts, tiles, closure_tile_limit=0)
    ka = {(r["id"], r["tile_id"]) for r in closure.collect()}
    kb = {(r["id"], r["tile_id"]) for r in bcast.collect()}
    assert ka == kb
    exp = set()
    for tid, ring in sphere_tile_rings():
        m = spherical_pip_np(
            pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), np.array(ring)
        )
        exp |= {(int(i), tid) for i in pdf["id"].to_numpy()[m]}
    assert ka == exp
    # the pole cap caught the pole; the straddler caught both sides
    assert (0, "gtile-0") in ka and (2, "gtile-1") in ka and (3, "gtile-1") in ka


def test_geo_pip_hemisphere_contract():
    from ffcl_spark.kernels.geo import tile_frame_np

    ring = np.array([[0.0, 0.0], [0.0, 120.0], [0.0, -120.0]])
    with pytest.raises(ValueError):
        tile_frame_np(ring)


def test_cover_cells_py_superset_of_jvm_assignment(spark):
    """Every point within the cap must land in a covered cell under the
    JVM table-driven assignment — the property the PIP candidate
    pruning relies on."""
    from pyspark.sql import functions as F

    from ffcl_spark.functions import sphere as S
    from ffcl_spark.kernels.geo import destination_point_np

    delta = 5.0
    m_table = S.band_m_table(delta)
    rng = np.random.default_rng(3)
    caps = [(88.5, 0.0, 2.5), (10.0, 180.0, 4.0), (-75.0, 30.0, 6.0), (0.1, -179.9, 9.0)]
    rows = []
    for ci, (clat, clon, rad) in enumerate(caps):
        brg = rng.uniform(0, 360, 400)
        arc = rad * np.sqrt(rng.uniform(0, 1, 400))
        la, lo = destination_point_np(clat, clon, brg, arc)
        rows.append(pd.DataFrame({"cap": ci, "lat": la, "lon": lo}))
    pdf = pd.concat(rows, ignore_index=True)
    got = (
        spark.createDataFrame(pdf)
        .select(
            "cap",
            S.sphere_cell_table(F.col("lat"), F.col("lon"), delta, m_table).alias("cell"),
        )
        .collect()
    )
    covers = {
        ci: S.cover_cells_py(clat, clon, rad * (1 + 1e-9) + 1e-9, delta, m_table)
        for ci, (clat, clon, rad) in enumerate(caps)
    }
    for r in got:
        assert r["cell"] in covers[r["cap"]]


def test_sphere_rasterize_vectorize_roundtrip(spark):
    """raster→vector closure: a point's assigned cell, vectorized,
    yields a lat/lon quad that contains the point (inclusive bounds) —
    and rasterize's cover for each fixture tile contains every cell an
    inside point maps to."""
    from pyspark.sql import functions as F

    from ffcl_spark.functions import sphere as S
    from ffcl_spark.operators.geo import (
        geo_pip_join,
        sphere_rasterize,
        sphere_tiles,
        sphere_vectorize,
    )

    delta = 5.0
    m_table = S.band_m_table(delta)
    rng = np.random.default_rng(5)
    n = 2000
    pdf = pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "lat": np.degrees(np.arcsin(rng.uniform(-1, 1, n))),
            "lon": rng.uniform(-180.0, 180.0, n),
        }
    )
    pts = spark.createDataFrame(pdf)
    cells = pts.select(
        "id",
        "lat",
        "lon",
        S.sphere_cell_table(F.col("lat"), F.col("lon"), delta, m_table).alias("cell"),
    )
    vec = cells.join(
        sphere_vectorize(cells.select("cell").distinct(), delta, m_table=m_table),
        "cell",
    ).collect()
    assert len(vec) == n
    for r in vec:
        lats = [v["lat"] for v in r["ring"]]
        lons = [v["lon"] for v in r["ring"]]
        assert min(lats) - 1e-9 <= r["lat"] <= max(lats) + 1e-9
        assert min(lons) - 1e-9 <= r["lon"] <= max(lons) + 1e-9

    tiles = sphere_tiles(spark)
    ras = sphere_rasterize(tiles, delta, m_table=m_table)
    cover = {}
    for r in ras.collect():
        cover.setdefault(r["tile_id"], set()).add(r["cell"])
    inside = geo_pip_join(pts, tiles, delta_deg=delta).join(cells, "id").collect()
    # geo_pip_join emits (id, tile_id); joining back the cell says the
    # rasterized cover held the candidate
    for r in inside:
        assert r["cell"] in cover[r["tile_id"]]


# --------------------------------------------------- geodesic clustering

def _hav_matrix(pdf: pd.DataFrame) -> np.ndarray:
    la, lo = pdf.lat.to_numpy(), pdf.lon.to_numpy()
    return haversine_np(la[:, None], lo[:, None], la[None, :], lo[None, :])


def _prim_hav(ids: np.ndarray, d: np.ndarray, core_k: int | None = None):
    """Independent Prim over a precomputed haversine matrix (mutual
    reachability when ``core_k``) — the metre-space twin of the
    engine's chord-space Borůvka. [(src_id, dst_id, w_m), ...]."""
    n = len(ids)
    d = d.copy()
    if core_k is not None:
        core = np.sort(d, axis=1)[:, core_k - 1]
        d = np.maximum(d, np.maximum(core[:, None], core[None, :]))
        np.fill_diagonal(d, 0.0)
    start = int(np.argmin(ids))
    in_tree = np.zeros(n, bool)
    in_tree[start] = True
    best = d[start].copy()
    src = np.full(n, start)
    edges = []
    for _ in range(n - 1):
        j = int(np.where(in_tree, np.inf, best).argmin())
        edges.append((int(ids[src[j]]), int(ids[j]), float(best[j])))
        in_tree[j] = True
        upd = d[j] < best
        best[upd] = d[j][upd]
        src[upd] = j
    return edges


def geo_cluster_pdf(seed: int = 7) -> pd.DataFrame:
    """Three tight geographic clusters (pole cap, antimeridian
    straddler, mid-latitude) + worldwide background noise."""
    from ffcl_spark.kernels.geo import destination_point_np

    rng = np.random.default_rng(seed)
    las, los = [], []
    for clat, clon in [(89.8, 0.0), (10.0, 179.95), (-35.0, 40.0)]:
        la, lo = destination_point_np(
            clat, clon, rng.uniform(0, 360, 30), rng.uniform(0, 0.35, 30)
        )
        las.append(la)
        los.append(lo)
    las.append(np.degrees(np.arcsin(rng.uniform(-1, 1, 40))))
    los.append(rng.uniform(-180.0, 180.0, 40))
    lat, lon = np.concatenate(las), np.concatenate(los)
    return pd.DataFrame(
        {"id": np.arange(len(lat), dtype=np.int64), "lat": lat, "lon": lon}
    )


@pytest.mark.parametrize("cutoff", [1000, 0])
def test_geo_mst_matches_haversine_prim(spark, cutoff):
    from ffcl_spark.operators.geo import geo_mst

    pdf = world_pdf(80, seed=23)
    df = spark.createDataFrame(pdf)
    got = geo_mst(df, local_cutoff=cutoff).toPandas()
    want = _prim_hav(pdf.id.to_numpy(), _hav_matrix(pdf))
    np.testing.assert_allclose(
        np.sort(got.w.to_numpy()),
        np.sort([w for *_, w in want]),
        rtol=1e-9, atol=1e-6,
    )
    got_set = {frozenset((int(s), int(t))) for s, t in zip(got.src, got.dst)}
    assert got_set == {frozenset((s, t)) for s, t, _ in want}


def test_geo_mst_mutual_reachability(spark):
    # core_k routes through mutual reachability: max(core, core, d)
    # commutes with the chord→metre transform, so the twin computes it
    # directly in metre space
    from ffcl_spark.operators.geo import geo_mst

    pdf = world_pdf(70, seed=5)
    df = spark.createDataFrame(pdf)
    got = geo_mst(df, core_k=3, local_cutoff=1000).toPandas()
    want = _prim_hav(pdf.id.to_numpy(), _hav_matrix(pdf), core_k=3)
    np.testing.assert_allclose(
        np.sort(got.w.to_numpy()),
        np.sort([w for *_, w in want]),
        rtol=1e-9, atol=1e-6,
    )
    got_set = {frozenset((int(s), int(t))) for s, t in zip(got.src, got.dst)}
    assert got_set == {frozenset((s, t)) for s, t, _ in want}


@pytest.mark.parametrize("knn_k", [1, 3])
def test_geo_hdbscan_matches_local_pipeline(spark, knn_k):
    from ffcl_spark.kernels.hierarchy import hdbscan_labels
    from ffcl_spark.operators.geo import geo_hdbscan

    pdf = geo_cluster_pdf()
    df = spark.createDataFrame(pdf)
    got = (
        geo_hdbscan(
            df, k_nearest_neighbors=knn_k, min_cluster_size=8,
            allow_single_cluster=False, local_cutoff=1000,
        )
        .toPandas()
        .set_index("id")
        .sort_index()
    )
    edges = _prim_hav(
        pdf.id.to_numpy(), _hav_matrix(pdf),
        core_k=knn_k if knn_k > 1 else None,
    )
    want = hdbscan_labels(sorted(pdf.id.tolist()), edges, 8, False)
    for pid, row in got.iterrows():
        exp = want[pid]
        if exp is None:
            assert row.is_noise and row.label == 0
        else:
            assert not row.is_noise and row.label == exp
    # the three planted clusters exist and are distinct
    labs = [int(got.loc[i].label) for i in (0, 30, 60)]
    assert len(set(labs)) == 3
    assert not any(got.loc[i].is_noise for i in (0, 30, 60))


def test_geo_single_linkage_cut_matches_local(spark):
    from ffcl_spark.operators.geo import geo_single_linkage_cut

    pdf = geo_cluster_pdf(seed=9)
    df = spark.createDataFrame(pdf)
    cut, min_size = 150_000.0, 5
    edges = _prim_hav(pdf.id.to_numpy(), _hav_matrix(pdf))
    # float-boundary margin: no merge level within 1 m of the cut
    assert min(abs(w - cut) for *_, w in edges) > 1.0
    parent = {int(i): int(i) for i in pdf.id}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, t, w in edges:
        if w < cut:
            parent[find(s)] = find(t)
    comps: dict[int, list[int]] = {}
    for i in pdf.id:
        comps.setdefault(find(int(i)), []).append(int(i))
    want = {}
    for mem in comps.values():
        lab = min(mem) if len(mem) >= min_size else 0
        for m in mem:
            want[m] = (lab, len(mem) < min_size)
    got = (
        geo_single_linkage_cut(df, cut, min_cluster_size=min_size, local_cutoff=1000)
        .toPandas()
        .set_index("id")
        .sort_index()
    )
    for pid, row in got.iterrows():
        assert (int(row.label), bool(row.is_noise)) == want[pid]


def test_geo_closest_pair_brute(spark, world):
    from ffcl_spark.operators.geo import geo_closest_pair

    df, pdf = world
    a_pd = pdf[pdf.id % 2 == 0].reset_index(drop=True)
    b_pd = pdf[pdf.id % 2 == 1].reset_index(drop=True)
    d = haversine_np(
        a_pd.lat.to_numpy()[:, None], a_pd.lon.to_numpy()[:, None],
        b_pd.lat.to_numpy()[None, :], b_pd.lon.to_numpy()[None, :],
    )
    flat = sorted(
        (float(d[i, j]), int(a_pd.id[i]), int(b_pd.id[j]))
        for i in range(len(a_pd))
        for j in range(len(b_pd))
        if d[i, j] > 0
    )
    got = (
        geo_closest_pair(df.where("id % 2 = 0"), df.where("id % 2 = 1"), k=3)
        .toPandas()
        .sort_values("rank")
    )
    for r, (w, s, t) in zip(got.itertuples(), flat[:3]):
        assert (r.src, r.dst) == (s, t)
        assert r.dist_m == pytest.approx(w, rel=1e-9)


def test_geo_closest_pair_skips_zero_distance(spark):
    # three refs at EXACTLY a query's coordinates: the zero-distance
    # multiplicity bound must still surface the true positive edge
    from ffcl_spark.operators.geo import geo_closest_pair

    q = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2], "lat": [10.0, -70.0], "lon": [30.0, 120.0]})
    )
    r = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [11, 12, 13, 14, 15],
                "lat": [10.0, 10.0, 10.0, 10.001, -60.0],
                "lon": [30.0, 30.0, 30.0, 30.0, -100.0],
            }
        )
    )
    got = geo_closest_pair(q, r, k=1).toPandas()
    assert len(got) == 1
    assert (int(got.src[0]), int(got.dst[0])) == (1, 14)
    assert got.dist_m[0] > 0


def test_geo_core_distances_brute(spark, world):
    from ffcl_spark.operators.geo import geo_core_distances

    df, pdf = world
    k = 4
    got = geo_core_distances(df, k).toPandas().set_index("id").sort_index()
    want = np.sort(_hav_matrix(pdf), axis=1)[:, k - 1]  # self at column 0
    np.testing.assert_allclose(
        got.core_distance_m.to_numpy(), want, rtol=1e-9, atol=1e-6
    )


# ----------------------------------------------------- nearest sphere tile

def _sampled_boundary_dist(p, ring, steps=2500):
    """Sampling twin: min angular distance from unit vectors p to
    dense slerp samples of every arc (upper-bounds the true distance
    by ~(arc/steps)^2/8 radians)."""
    from ffcl_spark.kernels.geo import unit_vector_np

    v = unit_vector_np(ring[:, 0], ring[:, 1])
    best = np.full(len(p), np.inf)
    for i in range(len(v)):
        a, b = v[i], v[(i + 1) % len(v)]
        ang = math.atan2(np.linalg.norm(np.cross(a, b)), float(a @ b))
        t = np.linspace(0.0, 1.0, steps)
        s = (np.sin((1 - t) * ang)[:, None] * a + np.sin(t * ang)[:, None] * b)
        s /= np.linalg.norm(s, axis=1)[:, None]
        d = np.arctan2(
            np.linalg.norm(np.cross(p[:, None, :], s[None, :, :]), axis=2),
            p @ s.T,
        ).min(axis=1)
        best = np.minimum(best, d)
    return best


def test_arc_boundary_distance_matches_sampling():
    from ffcl_spark.kernels.geo import arc_boundary_distance_np, unit_vector_np
    from ffcl_spark.operators.geo import sphere_tile_rings

    rng = np.random.default_rng(4)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 40)))
    lon = rng.uniform(-180, 180, 40)
    p = unit_vector_np(lat, lon)
    for _, ring in sphere_tile_rings(12):
        ring = np.array(ring)
        got = arc_boundary_distance_np(p, ring)
        want = _sampled_boundary_dist(p, ring)
        # sampling yields an upper bound within its quantization error
        assert (got <= want + 1e-12).all()
        np.testing.assert_allclose(got, want, atol=2e-8)  # ~0.13 m


def test_geo_nearest_tile_exact_offsets(spark):
    # construct points at EXACTLY theta radians from an edge midpoint,
    # perpendicular to the edge's great circle: the boundary distance
    # is theta by construction (foot = the midpoint, inside the arc)
    from ffcl_spark.kernels.geo import unit_vector_np
    from ffcl_spark.operators.geo import (
        geo_nearest_tile,
        sphere_tile_rings,
        sphere_tiles,
    )

    tid, ring = sphere_tile_rings(12)[7]  # (-5, -60), cap 7 deg, 6 verts
    ring = np.array(ring)
    v = unit_vector_np(ring[:, 0], ring[:, 1])
    a, b = v[0], v[1]
    g = a + b
    g = g / np.linalg.norm(g)
    n = np.cross(a, b)
    n = n / np.linalg.norm(n)
    rows = []
    want = {}
    for s, sign in (("out", 1.0), ("in", -1.0)):
        for theta_deg in (0.05, 0.2):
            th = math.radians(theta_deg)
            q = g * math.cos(th) + sign * n * math.sin(th)
            la = math.degrees(math.asin(q[2]))
            lo = math.degrees(math.atan2(q[1], q[0]))
            pid = f"{s}-{theta_deg}"
            rows.append({"id": pid, "lat": la, "lon": lo})
            want[pid] = (s, th)
    pts = spark.createDataFrame(pd.DataFrame(rows))
    got = (
        geo_nearest_tile(pts, sphere_tiles(spark))
        .toPandas()
        .set_index("id")
    )
    from ffcl_spark.operators.geo import EARTH_RADIUS_M as R

    # one of the two signs is inside the tile (dist 0), the other is
    # outside at exactly theta*R
    sides = {s: got.loc[f"{s}-0.05"].dist_m for s in ("out", "in")}
    out_side = max(sides, key=sides.get)
    in_side = "in" if out_side == "out" else "out"
    for theta_deg in (0.05, 0.2):
        r_out = got.loc[f"{out_side}-{theta_deg}"]
        assert r_out.tile_id == tid
        assert r_out.dist_m == pytest.approx(math.radians(theta_deg) * R, rel=1e-9)
        r_in = got.loc[f"{in_side}-{theta_deg}"]
        assert r_in.tile_id == tid and r_in.dist_m == 0.0


def test_geo_nearest_tile_matches_sampling_twin(spark, world):
    from ffcl_spark.kernels.geo import unit_vector_np
    from ffcl_spark.operators.geo import (
        EARTH_RADIUS_M as R,
        geo_nearest_tile,
        sphere_tile_rings,
        sphere_tiles,
    )

    df, pdf = world
    sub = pdf.iloc[:60]
    p = unit_vector_np(sub.lat.to_numpy(), sub.lon.to_numpy())
    rings = sphere_tile_rings(12)
    dmat = np.stack(
        [_sampled_boundary_dist(p, np.array(r)) * R for _, r in rings], axis=1
    )
    # inside points are distance 0 in the operator; mark them in the twin
    from ffcl_spark.kernels.geo import spherical_pip_np

    for j, (_, r) in enumerate(rings):
        ins = spherical_pip_np(sub.lat.to_numpy(), sub.lon.to_numpy(), np.array(r))
        dmat[ins, j] = 0.0
    got = (
        geo_nearest_tile(
            df.where(df.id < 60), sphere_tiles(spark)
        )
        .toPandas()
        .set_index("id")
        .sort_index()
    )
    best = dmat.min(axis=1)
    for i in range(len(sub)):
        row = got.loc[int(sub.id.iloc[i])]
        assert row.dist_m == pytest.approx(best[i], abs=1.0)
        # argmin tile matches unless two tiles are sampling-close
        order = np.sort(dmat[i])
        if order[1] - order[0] > 2.0:
            assert row.tile_id == rings[int(dmat[i].argmin())][0]


def test_geo_nearest_tile_max_dist_and_pip_parity(spark, world):
    from ffcl_spark.operators.geo import (
        geo_nearest_tile,
        geo_pip_join,
        sphere_tiles,
    )

    df, _ = world
    tiles = sphere_tiles(spark)
    near = geo_nearest_tile(df, tiles).toPandas()
    assert len(near) == df.count()  # total assignment without a cap
    pip = geo_pip_join(df, tiles).toPandas()
    # every pip containment appears as a zero-distance assignment (the
    # fixture tiles are disjoint, so the nearest tile IS the container)
    zero = near[near.dist_m == 0.0]
    assert set(zip(pip.id, pip.tile_id)) == set(zip(zero.id, zero.tile_id))
    capped = geo_nearest_tile(df, tiles, max_dist_m=500_000.0).toPandas()
    assert (capped.dist_m <= 500_000.0).all()
    assert len(capped) == (near.dist_m <= 500_000.0).sum()


# ------------------------------------------------------ spherical overlay

def shifted_tile_rings(arc_deg: float = 2.0, bearing: float = 40.0):
    from ffcl_spark.operators.geo import sphere_tile_rings_shifted

    return sphere_tile_rings_shifted(arc_deg, bearing)


def _rings_df(spark, rings):
    from ffcl_spark.operators.geo import GEO_RING_TYPE

    rows = [
        {"tile_id": tid, "ring": [{"lat": la, "lon": lo} for la, lo in ring]}
        for tid, ring in rings
    ]
    return spark.createDataFrame(rows, f"tile_id string, ring {GEO_RING_TYPE}")


def test_sphere_overlay_matches_brute(spark):
    from ffcl_spark.kernels.geo import sphere_polys_intersect
    from ffcl_spark.operators.geo import sphere_overlay_join, sphere_tile_rings, sphere_tiles

    a_rings = sphere_tile_rings(12)
    b_rings = shifted_tile_rings()
    want = {
        (ta, tb)
        for ta, ra in a_rings
        for tb, rb in b_rings
        if sphere_polys_intersect(np.array(ra), np.array(rb))
    }
    got = sphere_overlay_join(sphere_tiles(spark), _rings_df(spark, b_rings)).toPandas()
    assert set(zip(got.a_id, got.b_id)) == want
    # every shifted tile overlaps its own original (2 deg shift < tile size)
    assert all((tid, f"s-{tid}") in want for tid, _ in a_rings)


def test_sphere_overlay_self_join_disjoint_fixture(spark):
    from ffcl_spark.operators.geo import sphere_overlay_join, sphere_tiles

    tiles = sphere_tiles(spark)
    got = sphere_overlay_join(tiles, tiles).toPandas()
    # the 12 fixture caps are pairwise disjoint: only self pairs
    assert sorted(zip(got.a_id, got.b_id)) == sorted(
        (t, t) for t in got.a_id.unique()
    )
    assert len(got) == 12


def test_sphere_overlay_containment_no_edge_cross(spark):
    from ffcl_spark.operators.geo import sphere_overlay_join

    sq = lambda clat, clon, h: [  # noqa: E731
        (clat - h, clon - h), (clat - h, clon + h),
        (clat + h, clon + h), (clat + h, clon - h),
    ]
    big = _rings_df(spark, [("big", sq(10.0, 20.0, 12.0))])
    small = _rings_df(spark, [("small", sq(10.0, 20.0, 2.0))])
    far = _rings_df(spark, [("far", sq(-40.0, -120.0, 2.0))])
    got = sphere_overlay_join(big, small.unionByName(far)).toPandas()
    assert set(zip(got.a_id, got.b_id)) == {("big", "small")}


# ------------------------------------------------------ spherical measures

def test_sphere_ring_measures_octant_exact():
    from ffcl_spark.kernels.geo import sphere_ring_measures

    # octant triangle (0,0)-(0,90)-(90,0): solid angle exactly pi/2,
    # perimeter exactly 3*(pi/2)
    ring = np.array([[0.0, 0.0], [0.0, 90.0], [90.0, 0.0]])
    omega, per = sphere_ring_measures(ring)
    assert omega == pytest.approx(math.pi / 2, rel=1e-12)
    assert per == pytest.approx(3 * math.pi / 2, rel=1e-12)


def test_sphere_ring_measures_fan_invariance_nonconvex():
    # the signed fan about v0 must equal the fan about the frame
    # center for a NON-convex ring (an independent decomposition)
    from ffcl_spark.kernels.geo import (
        sphere_ring_measures,
        tile_frame_np,
        unit_vector_np,
    )

    ring = np.array(
        [[0.0, 0.0], [0.0, 8.0], [4.0, 8.0], [1.5, 4.0], [4.0, 0.0]]
    )  # notch at (1.5, 4) makes it non-convex
    omega, _ = sphere_ring_measures(ring)
    v = unit_vector_np(ring[:, 0], ring[:, 1])
    c, *_ = tile_frame_np(ring)
    om2 = 0.0
    for i in range(len(v)):
        b, d = v[i], v[(i + 1) % len(v)]
        num = float(c @ np.cross(b, d))
        den = 1.0 + float(c @ b) + float(b @ d) + float(d @ c)
        om2 += 2.0 * math.atan2(num, den)
    assert omega == pytest.approx(abs(om2), rel=1e-12)


def test_sphere_tile_measures_df(spark):
    from ffcl_spark.operators.geo import (
        EARTH_RADIUS_M as R,
        sphere_tile_measures,
        sphere_tile_rings,
        sphere_tiles,
    )
    from ffcl_spark.kernels.geo import sphere_ring_measures

    got = sphere_tile_measures(sphere_tiles(spark)).toPandas().set_index("tile_id")
    for tid, ring in sphere_tile_rings(12):
        omega, per = sphere_ring_measures(np.array(ring))
        row = got.loc[tid]
        assert row.area_m2 == pytest.approx(omega * R * R, rel=1e-12)
        assert row.perimeter_m == pytest.approx(per * R, rel=1e-12)
    # the pole cap's vertex polygon is inscribed in its 2.5 deg cap:
    # area below the cap area, above the planar n-gon lower bound
    cap = 2 * math.pi * (1 - math.cos(math.radians(2.5))) * R * R
    assert 0.5 * cap < got.loc["gtile-0"].area_m2 < cap
    assert abs(got.loc["gtile-0"].clat - 88.5) < 0.2


def test_geo_zonal_stats_matches_twin(spark, world):
    """Zonal stats under the great-circle metric: counts and integer
    sums per spherical tile equal the pip-assignment + groupby twin on
    BOTH physical plans (closure and broadcast-join)."""
    from pyspark.sql import functions as F

    from ffcl_spark.operators.geo import geo_pip_join, geo_zonal_stats, sphere_tiles

    df, pdf = world
    vals = df.withColumn("v", (F.col("id") % 89).cast("long"))
    tiles = sphere_tiles(spark)

    asg = geo_pip_join(df, tiles).toPandas()
    vpdf = pdf.assign(v=(pdf.id % 89).astype("int64"))
    j = asg.merge(vpdf[["id", "v"]], on="id")
    want = (
        j.groupby("tile_id")
        .agg(n_points=("id", "size"), sum_v=("v", "sum"),
             min_v=("v", "min"), max_v=("v", "max"))
        .sort_index()
    )
    assert want.n_points.sum() > 20  # fixture exercises interiors

    for limit in (4096, 0):  # closure path, then forced broadcast path
        got = (
            geo_zonal_stats(vals, tiles, values=("v",), closure_tile_limit=limit)
            .toPandas()
            .set_index("tile_id")
            .sort_index()
        )
        assert list(got.index) == list(want.index), limit
        for c in ("n_points", "sum_v", "min_v", "max_v"):
            assert (got[c].to_numpy() == want[c].to_numpy()).all(), (limit, c)


def test_arc_distance_open_polyline_kernel():
    """closed=False skips the wrap edge: a point sitting on the would-be
    closing edge is near the CLOSED ring but far from the OPEN chain."""
    import math

    from ffcl_spark.kernels.geo import arc_boundary_distance_np, unit_vector_np

    chain = np.array([[0.0, 0.0], [0.0, 20.0], [20.0, 20.0]])
    # midpoint of the (absent) closing edge from (20,20) back to (0,0)
    probe = unit_vector_np(np.array([10.2]), np.array([9.8]))
    d_closed = arc_boundary_distance_np(probe, chain, closed=True)[0]
    d_open = arc_boundary_distance_np(probe, chain, closed=False)[0]
    assert d_closed < math.radians(1.0)
    assert d_open > math.radians(5.0)
    # exact cross-track: equator segment, point due north of it
    seg = np.array([[0.0, 0.0], [0.0, 10.0]])
    p = unit_vector_np(np.array([3.0]), np.array([5.0]))
    d = arc_boundary_distance_np(p, seg, closed=False)[0]
    assert abs(d - math.radians(3.0)) < 1e-12
    # endpoint resolution: beyond the segment's east end
    p2 = unit_vector_np(np.array([0.0]), np.array([25.0]))
    d2 = arc_boundary_distance_np(p2, seg, closed=False)[0]
    assert abs(d2 - math.radians(15.0)) < 1e-12


def test_geo_nearest_polyline_matches_sampling_twin(spark, world):
    """Exact snap distance vs a dense slerp-sampled twin on worldwide
    points against three routes (one crossing the antimeridian)."""
    import math

    from ffcl_spark.kernels.geo import haversine_np, unit_vector_np
    from ffcl_spark.operators.geo import EARTH_RADIUS_M, geo_nearest_polyline

    df, pdf = world
    routes = {
        "r-equator": [(0.0, -30.0), (0.0, 30.0), (15.0, 60.0)],
        "r-pacific": [(10.0, 170.0), (5.0, -175.0), (-5.0, -165.0)],
        "r-polar": [(80.0, 0.0), (85.0, 90.0), (80.0, 180.0)],
    }
    lines = spark.createDataFrame(
        [
            (lid, [{"lat": la, "lon": lo} for la, lo in path])
            for lid, path in routes.items()
        ],
        "line_id string, path array<struct<lat double, lon double>>",
    )
    got = geo_nearest_polyline(df, lines).toPandas().set_index("id")
    assert len(got) == len(pdf)

    def slerp_samples(path, m=4000):
        pts = []
        v = unit_vector_np(
            np.array([p[0] for p in path]), np.array([p[1] for p in path])
        )
        for a, b in zip(v[:-1], v[1:]):
            ang = math.atan2(np.linalg.norm(np.cross(a, b)), float(a @ b))
            ts = np.linspace(0.0, 1.0, m)
            sa = np.sin((1 - ts) * ang)[:, None] * a
            sb = np.sin(ts * ang)[:, None] * b
            s = (sa + sb) / max(math.sin(ang), 1e-300)
            s /= np.linalg.norm(s, axis=1)[:, None]
            pts.append(s)
        return np.vstack(pts)

    samp = {lid: slerp_samples(path) for lid, path in routes.items()}
    p = unit_vector_np(pdf.lat.to_numpy(), pdf.lon.to_numpy())
    # dense-sample bound: exact ≤ sampled min, gap ≤ half sample spacing
    for lid, s in samp.items():
        # angular distances point → samples of this route
        dots = np.clip(p @ s.T, -1.0, 1.0)
        d_samp = np.arccos(dots).min(axis=1) * EARTH_RADIUS_M
        sel = got.line_id == lid
        if not sel.any():
            continue
        ids = got.index[sel]
        mask = pdf.id.isin(ids).to_numpy()
        exact = got.dist_m[sel].to_numpy()
        assert (exact <= d_samp[mask] + 1e-6).all(), lid
        assert (d_samp[mask] - exact < 30_000.0).all(), lid  # sampling gap
    # the winning route really is the minimum across routes
    all_d = np.stack(
        [np.arccos(np.clip(p @ s.T, -1, 1)).min(axis=1) for s in samp.values()]
    )
    best_route = np.array(list(samp.keys()))[all_d.argmin(axis=0)]
    agree = (got.loc[pdf.id].line_id.to_numpy() == best_route).mean()
    assert agree > 0.99  # sampled argmin can flip only on near-ties

    # max_dist_m drops far points
    capped = geo_nearest_polyline(df, lines, max_dist_m=500_000.0).toPandas()
    assert len(capped) < len(pdf)
    assert (capped.dist_m <= 500_000.0).all()


def test_geo_nearest_polyline_cover_plan_matches_closure(spark, world):
    """The million-route cover plan (distributed rasterization +
    broadcast candidates + exact verify) is bitwise result-identical
    to the closure plan under the same cap."""
    from ffcl_spark.operators.geo import geo_nearest_polyline, sphere_routes

    df, pdf = world
    lines = sphere_routes(spark)
    for cap in (500_000.0, 3_000_000.0):
        a = (
            geo_nearest_polyline(df, lines, max_dist_m=cap)
            .toPandas()
            .sort_values("id")
            .reset_index(drop=True)
        )
        b = (
            geo_nearest_polyline(df, lines, max_dist_m=cap, plan="cover")
            .toPandas()
            .sort_values("id")
            .reset_index(drop=True)
        )
        assert len(a) == len(b) and len(a) > 5, cap
        assert a.id.equals(b.id) and a.line_id.equals(b.line_id), cap
        assert (a.dist_m.to_numpy() == b.dist_m.to_numpy()).all(), cap
    # cover plan refuses the uncapped form (nearest-anything needs
    # the closure plan or an expanding search)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        geo_nearest_polyline(df, lines, plan="cover")


def test_sphere_cell_rollup_matches_twin(spark, world):
    """Multi-level spherical occupancy rollup (+ a spatiotemporal
    variant) vs a NumPy/pandas twin built on the shared band_m_table."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ffcl_spark.functions.sphere import band_m_table, n_bands
    from ffcl_spark.operators.geo import sphere_cell_rollup

    df, pdf = world
    deltas = (2.0, 8.0, 30.0)

    def twin_cells(d):
        m_table = band_m_table(d)
        nb = n_bands(d)
        band = np.clip(
            np.floor((pdf.lat.to_numpy() + 90.0) / d), 0, nb - 1
        ).astype(np.int64)
        m = np.array([m_table[b] for b in band], dtype=np.int64)
        j = np.clip(
            np.floor((pdf.lon.to_numpy() + 180.0) * m / 360.0), 0, m - 1
        ).astype(np.int64)
        return band * (1 << 32) + j

    got = sphere_cell_rollup(df, deltas).toPandas()
    for level, d in enumerate(deltas):
        cells = twin_cells(d)
        t = (
            pd.DataFrame(
                {"cell": cells, "lat": pdf.lat, "lon": pdf.lon}
            )
            .groupby("cell")
            .agg(
                n_points=("lat", "size"),
                lat_min=("lat", "min"), lat_max=("lat", "max"),
                lon_min=("lon", "min"), lon_max=("lon", "max"),
            )
            .sort_index()
        )
        g = got[got.level == level].set_index("cell").sort_index()
        assert list(g.index) == list(t.index), d
        assert (g.n_points.to_numpy() == t.n_points.to_numpy()).all(), d
        for c in ("lat_min", "lat_max", "lon_min", "lon_max"):
            assert (g[c].to_numpy() == t[c].to_numpy()).all(), (d, c)
    # total occupancy per level == n
    assert (got.groupby("level").n_points.sum() == len(pdf)).all()

    # spatiotemporal: synthetic hourly timestamps from the id
    ts = df.withColumn(
        "ts",
        F.to_timestamp(F.lit("2026-01-01 00:00:00"))
        + F.make_interval(hours=(F.col("id") % 5).cast("int")),
    )
    st = sphere_cell_rollup(ts, (30.0,), ts_col="ts").toPandas()
    cells30 = twin_cells(30.0)
    tw = (
        pd.DataFrame({"cell": cells30, "h": (pdf.id % 5).astype(int)})
        .groupby(["cell", "h"])
        .size()
    )
    assert len(st) == len(tw)
    assert st.n_points.sum() == len(pdf)


def test_geo_kmeans_matches_spherical_lloyd_twin(spark):
    """Spherical k-means vs a local NumPy spherical-Lloyd twin run on
    the SAME engine-computed embedding (same kmeans++ seed path, same
    assignment tie rule, mean-then-renormalize update) — labels exact
    and centroids bitwise-close on a well-separated fixture."""
    from ffcl_spark.operators.geo import geo_kmeans, geo_points
    from ffcl_spark.operators.kmeans import kmeanspp_init

    rng = np.random.default_rng(3)
    centers = [(89.9, 0.0), (10.0, 179.95), (-45.0, 60.0)]
    rows = []
    i = 0
    for clat, clon in centers:
        for _ in range(40):
            lat = float(np.clip(clat + rng.normal(0, 0.05), -90, 90))
            lon = ((clon + rng.normal(0, 0.05) + 180.0) % 360.0) - 180.0
            rows.append((i, lat, float(lon)))
            i += 1
    pdf = pd.DataFrame(rows, columns=["id", "lat", "lon"])
    df = spark.createDataFrame(pdf)

    cents_ll, loss, labels = geo_kmeans(df, 3, seed=5, max_iters=10)
    got = labels.toPandas().sort_values("id").label.to_numpy()

    # twin on the engine's own embedding (avoids libm-vs-JVM trig ulps)
    feats = (
        geo_points(df).toPandas().sort_values("id")["features"].tolist()
    )
    X = np.array(feats, dtype=np.float64)
    C = kmeanspp_init(X, 3, 5)
    for _ in range(10):
        d2 = ((X[:, None, :] - C[None]) ** 2).sum(-1)
        lab = d2.argmin(1)
        newC = C.copy()
        for c in range(3):
            mem = X[lab == c]
            if len(mem):
                m = mem.mean(0)
                n = np.sqrt((m * m).sum())
                if n > 0:
                    newC[c] = m / n
        move = np.sqrt(((newC - C) ** 2).sum(1)).max()
        C = newC
        if 2 * EARTH_RADIUS_M * np.arcsin(min(1.0, move / 2)) < 1.0:
            break
    lab = ((X[:, None, :] - C[None]) ** 2).sum(-1).argmin(1)

    assert (got == lab).all()
    # centroids on the sphere, at the twin's positions
    want_ll = np.stack(
        [
            np.degrees(np.arcsin(np.clip(C[:, 2], -1, 1))),
            np.degrees(np.arctan2(C[:, 1], C[:, 0])),
        ],
        axis=1,
    )
    assert np.allclose(cents_ll, want_ll, atol=1e-9)
    # loss: sum of great-circle distances to assigned centroid
    d = 2 * EARTH_RADIUS_M * np.arcsin(
        np.minimum(1.0, np.sqrt(((X - C[lab]) ** 2).sum(1)) / 2)
    )
    assert abs(loss - d.sum()) < 1e-4 * max(1.0, d.sum())
    # every fixture cluster recovered: one centroid within 20 km of
    # each true center
    for clat, clon in centers:
        dd = haversine_np(
            np.full(3, clat), np.full(3, clon), want_ll[:, 0], want_ll[:, 1]
        )
        assert dd.min() < 20_000


def test_geo_kmeans_world_invariants(spark, world):
    """Sanity on the adversarial world fixture: unit-sphere centroids,
    labels cover [0, k), non-increasing loss vs k=1, n_init keeps the
    better run."""
    from ffcl_spark.operators.geo import geo_kmeans

    df, pdf = world
    cents5, loss5, labels5 = geo_kmeans(df, 5, seed=9, max_iters=6)
    lp = labels5.toPandas()
    assert len(lp) == len(pdf)
    assert set(lp.label.unique()) <= set(range(5))
    assert np.isfinite(loss5) and loss5 > 0
    assert np.abs(cents5[:, 0]).max() <= 90.0
    assert np.abs(cents5[:, 1]).max() <= 180.0

    _, loss1, _ = geo_kmeans(df, 1, seed=9, max_iters=6)
    assert loss5 < loss1

    _, loss_multi, _ = geo_kmeans(df, 5, seed=9, max_iters=6, n_init=3)
    assert loss_multi <= loss5 + 1e-6


def test_geodesy_destination_matches_numpy_twin(spark):
    """Column destination vs kernels.geo.destination_point_np over a
    start/bearing/arc grid including pole starts and antimeridian
    wrap — agreement to 1e-9 degrees."""
    from pyspark.sql import functions as F

    from ffcl_spark.functions.geodesy import destination
    from ffcl_spark.kernels.geo import destination_point_np

    starts = [(0.0, 0.0), (45.0, 100.0), (-60.0, -170.0), (89.95, 30.0), (10.0, 179.9)]
    bearings = np.array([0.0, 37.0, 90.0, 180.0, 271.5, 359.0])
    arcs = np.array([0.001, 0.5, 5.0, 45.0, 120.0, 179.0])
    rows, want = [], []
    i = 0
    for la, lo in starts:
        for b in bearings:
            for a in arcs:
                rows.append((i, la, lo, float(b), float(a)))
                wl, wo = destination_point_np(la, lo, np.array([b]), np.array([a]))
                want.append((wl[0], wo[0]))
                i += 1
    df = spark.createDataFrame(rows, "id long, lat double, lon double, b double, a double")
    got = (
        df.select("id", destination(F.col("lat"), F.col("lon"), F.col("b"), F.col("a")).alias("d"))
        .select("id", "d.lat", "d.lon")
        .toPandas()
        .sort_values("id")
    )
    w = np.array(want)
    assert np.abs(got.lat.to_numpy() - w[:, 0]).max() < 1e-9
    # lon wrap: compare on the circle
    dl = np.abs(got.lon.to_numpy() - w[:, 1])
    assert np.minimum(dl, 360.0 - dl).max() < 1e-9


def test_geodesy_bearing_and_interpolate(spark):
    """initial_bearing cardinal directions + round trip through
    destination; gc_interpolate endpoints, midpoint equidistance, and
    additivity along the arc."""
    from pyspark.sql import functions as F

    from ffcl_spark.functions.geodesy import (
        destination,
        gc_interpolate,
        gc_midpoint,
        initial_bearing,
    )

    one = spark.range(1)
    card = one.select(
        initial_bearing(F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(10.0)).alias("e"),
        initial_bearing(F.lit(0.0), F.lit(0.0), F.lit(10.0), F.lit(0.0)).alias("n"),
        initial_bearing(F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(-10.0)).alias("w"),
        initial_bearing(F.lit(0.0), F.lit(0.0), F.lit(-10.0), F.lit(0.0)).alias("s"),
    ).first()
    assert abs(card.e - 90.0) < 1e-9
    assert abs(card.n - 0.0) < 1e-9
    assert abs(card.w - 270.0) < 1e-9
    assert abs(card.s - 180.0) < 1e-9

    # round trip: bearing from start to destination(b) == b
    rows = [(i, 20.0, 50.0, float(b)) for i, b in enumerate([10.0, 95.0, 200.0, 340.0])]
    df = spark.createDataFrame(rows, "id long, lat double, lon double, b double")
    rt = (
        df.select(
            "id",
            "b",
            destination(F.col("lat"), F.col("lon"), F.col("b"), F.lit(3.0)).alias("d"),
        )
        .select(
            "b",
            initial_bearing(F.lit(20.0), F.lit(50.0), F.col("d.lat"), F.col("d.lon")).alias("bb"),
        )
        .toPandas()
    )
    assert np.abs(rt.b - rt.bb).max() < 1e-7

    pairs = [
        (0, 10.0, 179.5, -5.0, -178.0),   # antimeridian arc
        (1, 50.0, -30.0, 52.0, 28.0),
        (2, -80.0, 10.0, -70.0, -120.0),  # near-pole
    ]
    pdf = spark.createDataFrame(
        pairs, "id long, lat1 double, lon1 double, lat2 double, lon2 double"
    )
    cols = [F.col(c) for c in ("lat1", "lon1", "lat2", "lon2")]
    ip = (
        pdf.select(
            "id", *[c.alias(str(i)) for i, c in enumerate(cols)],
            gc_interpolate(*cols, F.lit(0.0)).alias("p0"),
            gc_interpolate(*cols, F.lit(1.0)).alias("p1"),
            gc_midpoint(*cols).alias("mid"),
            gc_interpolate(*cols, F.lit(0.25)).alias("q"),
        )
        .toPandas()
        .sort_values("id")
    )
    for _, r in ip.iterrows():
        assert abs(r.p0["lat"] - r["0"]) < 1e-9
        dl = abs(r.p0["lon"] - r["1"]) % 360.0
        assert min(dl, 360.0 - dl) < 1e-9
        assert abs(r.p1["lat"] - r["2"]) < 1e-9
        dl = abs(r.p1["lon"] - r["3"]) % 360.0
        assert min(dl, 360.0 - dl) < 1e-9
        full = haversine_np(
            np.array([r["0"]]), np.array([r["1"]]), np.array([r["2"]]), np.array([r["3"]])
        )[0]
        d1 = haversine_np(
            np.array([r["0"]]), np.array([r["1"]]),
            np.array([r.mid["lat"]]), np.array([r.mid["lon"]]),
        )[0]
        d2 = haversine_np(
            np.array([r.mid["lat"]]), np.array([r.mid["lon"]]),
            np.array([r["2"]]), np.array([r["3"]]),
        )[0]
        assert abs(d1 - d2) < 1e-6 * full + 1e-6
        assert abs((d1 + d2) - full) < 1e-9 * full + 1e-6
        # quarter point sits at 1/4 of the arc
        dq = haversine_np(
            np.array([r["0"]]), np.array([r["1"]]),
            np.array([r.q["lat"]]), np.array([r.q["lon"]]),
        )[0]
        assert abs(dq - 0.25 * full) < 1e-6 * full + 1e-6


def test_sphere_cell_api_roundtrip_and_area(spark):
    """Cell API over EVERY cell of three grid levels: center round-trips
    through sphere_cell, bounds contain the center, and the exact
    hat-box areas sum to the full sphere 4πR² per level."""
    from pyspark.sql import functions as F

    from ffcl_spark.functions.sphere import (
        band_m_table,
        cell_area_m2,
        cell_bounds,
        cell_center,
        sphere_cell,
    )

    R = EARTH_RADIUS_M
    for d in (30.0, 8.0, 2.0):
        cells = [
            b * (1 << 32) + j
            for b, m in enumerate(band_m_table(d))
            for j in range(m)
        ]
        df = spark.createDataFrame([(c,) for c in cells], "cell long")
        out = (
            df.select(
                "cell",
                cell_center(F.col("cell"), d).alias("ctr"),
                cell_bounds(F.col("cell"), d).alias("b"),
                cell_area_m2(F.col("cell"), d).alias("area"),
            )
            .withColumn("back", sphere_cell(F.col("ctr.lat"), F.col("ctr.lon"), d))
            .toPandas()
        )
        assert (out.back == out.cell).all(), d
        for _, r in out.iterrows():
            assert r.b["lat_lo"] <= r.ctr["lat"] <= r.b["lat_hi"]
            assert r.b["lon_lo"] <= r.ctr["lon"] <= r.b["lon_hi"]
            assert r.b["lat_hi"] <= 90.0 and r.b["lat_lo"] >= -90.0
        total = out.area.sum()
        assert abs(total - 4 * math.pi * R * R) < 1e-6 * 4 * math.pi * R * R, d


def test_sphere_cell_neighbors_match_brute_adjacency(spark):
    """cell_neighbors vs an exact-rational brute twin: two cells are
    ring-1 adjacent iff bands differ by ≤ 1 and the closed longitude
    arcs intersect on the circle (corner + date-line touches
    included) — checked for every cell at two levels."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from ffcl_spark.functions.sphere import band_m_table, cell_neighbors

    def brute(d):
        mt = band_m_table(d)
        cells = [(b, j) for b, m in enumerate(mt) for j in range(m)]
        ids = {c: c[0] * (1 << 32) + c[1] for c in cells}

        def arcs_touch(j1, m1, j2, m2):
            if m1 == 1 or m2 == 1:
                return True
            a_lo, a_hi = Fraction(j1, m1), Fraction(j1 + 1, m1)
            b_lo, b_hi = Fraction(j2, m2), Fraction(j2 + 1, m2)
            if a_lo <= b_hi and b_lo <= a_hi:
                return True
            # date-line corner: one arc ends at 1, the other starts at 0
            return (a_hi == 1 and b_lo == 0) or (b_hi == 1 and a_lo == 0)

        adj = {}
        for b1, j1 in cells:
            s = set()
            for b2, j2 in cells:
                if (b1, j1) == (b2, j2) or abs(b1 - b2) > 1:
                    continue
                if arcs_touch(j1, mt[b1], j2, mt[b2]):
                    s.add(ids[(b2, j2)])
            adj[ids[(b1, j1)]] = s
        return adj

    for d in (30.0, 11.0):
        want = brute(d)
        df = spark.createDataFrame([(c,) for c in want], "cell long")
        got = df.select(
            "cell", cell_neighbors(F.col("cell"), d).alias("nbrs")
        ).toPandas()
        for _, r in got.iterrows():
            assert set(r.nbrs) == want[r.cell], (d, r.cell)
        # symmetry is implied by the brute construction; spot-pin that
        # the column sets are symmetric too
        gmap = {r.cell: set(r.nbrs) for _, r in got.iterrows()}
        for c, s in gmap.items():
            for o in s:
                assert c in gmap[o]


def test_chain_poly_kernel_matches_overlay_on_closed_chains():
    """Feeding a closed ring as an open chain (first vertex appended)
    must reproduce the gate-proven polygon-overlay decision for every
    base×shifted tile pair — the chain kernel's independent parity
    anchor (no containment-only divergence exists here: same-scale
    tiles can't nest)."""
    from ffcl_spark.kernels.geo import (
        sphere_chain_poly_intersect,
        sphere_polys_intersect,
    )
    from ffcl_spark.operators.geo import (
        sphere_tile_rings,
        sphere_tile_rings_shifted,
    )

    base = sphere_tile_rings()
    shifted = sphere_tile_rings_shifted()
    hits = 0
    for ta, ra in base:
        ra = np.array(ra)
        for tb, rb in shifted:
            rb = np.array(rb)
            chain = np.vstack([ra, ra[:1]])  # ring walked as a chain
            want = sphere_polys_intersect(ra, rb)
            got = sphere_chain_poly_intersect(chain, rb)
            assert got == want, (ta, tb)
            hits += int(want)
    assert hits >= 12  # every tile overlaps its own shifted twin


def test_geo_line_tile_join_matches_brute_kernel(spark):
    """Operator output == brute per-pair kernel over ALL route×tile
    pairs (proves the bounding-cap prune never drops a touching
    pair), and the known fixture certainties hold: the equator route
    pierces the equator tile, the Pacific route hits the antimeridian
    straddler, and a fully-interior chain is caught by the
    containment witness."""
    from ffcl_spark.kernels.geo import sphere_chain_poly_intersect
    from ffcl_spark.operators.geo import (
        geo_line_tile_join,
        sphere_route_paths,
        sphere_routes,
        sphere_tile_rings,
        sphere_tiles,
    )

    routes = sphere_routes(spark)
    tiles = sphere_tiles(spark)
    got = {
        (r.line_id, r.tile_id)
        for r in geo_line_tile_join(routes, tiles).collect()
    }
    want = set()
    for lid, path in sphere_route_paths():
        for tid, ring in sphere_tile_rings():
            if sphere_chain_poly_intersect(np.array(path), np.array(ring)):
                want.add((lid, tid))
    assert got == want
    assert ("route-0", "gtile-3") in got      # equator pass-through
    assert ("route-1", "gtile-1") in got      # antimeridian straddler
    assert ("route-3", "gtile-2") not in got  # southern route, far tile

    # containment witness: a two-vertex chain strictly inside gtile-5
    # (center (-30, 150), cap 8°) crosses no edge but must hit
    import pandas as pd

    inner = spark.createDataFrame(
        pd.DataFrame(
            {
                "line_id": ["inner-0"],
                "path": [
                    [
                        {"lat": -30.5, "lon": 149.5},
                        {"lat": -29.5, "lon": 150.5},
                    ]
                ],
            }
        ),
        "line_id string, path array<struct<lat: double, lon: double>>",
    )
    hits = geo_line_tile_join(inner, tiles).collect()
    assert {(r.line_id, r.tile_id) for r in hits} == {("inner-0", "gtile-5")}

def test_geo_line_line_join_matches_brute_kernel(spark):
    """Operator output == brute per-pair kernel over ALL A×B route
    pairs (proves the bounding-cap prune never drops a touching
    pair), and the four designed crossings hold: the equatorial,
    antimeridian, polar, and southern legs are each cut by their
    xroute; the far negative pairs with nothing."""
    from ffcl_spark.kernels.geo import sphere_chains_cross
    from ffcl_spark.operators.geo import (
        geo_line_line_join,
        sphere_route_paths,
        sphere_route_paths_b,
        sphere_routes,
        sphere_routes_b,
    )

    got = {
        (r.line_id, r.other_id)
        for r in geo_line_line_join(
            sphere_routes(spark), sphere_routes_b(spark)
        ).collect()
    }
    want = set()
    for aid, ap in sphere_route_paths():
        for bid, bp in sphere_route_paths_b():
            if sphere_chains_cross(np.array(ap), np.array(bp)):
                want.add((aid, bid))
    assert got == want
    assert want == {
        ("route-0", "xroute-0"),
        ("route-1", "xroute-1"),
        ("route-2", "xroute-2"),
        ("route-3", "xroute-4"),
    }
    assert not any(b == "xroute-3" for _, b in got)  # the far negative


def test_geo_line_line_self_join(spark):
    """Self-join form: pairs within one table come out once with
    line_id < other_id, no self pairs; parity vs the brute kernel
    over the unioned A+B family (whose only crossings are the four
    A×B cuts — neither family self-crosses)."""
    from ffcl_spark.kernels.geo import sphere_chains_cross
    from ffcl_spark.operators.geo import (
        geo_line_line_join,
        sphere_route_paths,
        sphere_route_paths_b,
        sphere_routes,
        sphere_routes_b,
    )

    both = sphere_routes(spark).unionByName(sphere_routes_b(spark))
    got = {
        (r.line_id, r.other_id) for r in geo_line_line_join(both).collect()
    }
    allp = sphere_route_paths() + sphere_route_paths_b()
    want = set()
    for i, (aid, ap) in enumerate(allp):
        for bid, bp in allp[i + 1 :]:
            lo, hi = sorted((aid, bid))
            if sphere_chains_cross(np.array(ap), np.array(bp)):
                want.add((lo, hi))
    assert got == want and len(want) == 4
    assert all(a < b for a, b in got)


def test_geo_line_line_touch_and_degenerate(spark):
    """Endpoint touch counts (shared vertex => pair emitted); a
    single-vertex chain has no edges and pairs with nothing."""
    import pandas as pd

    from ffcl_spark.operators.geo import geo_line_line_join

    schema = "line_id string, path array<struct<lat: double, lon: double>>"
    a = spark.createDataFrame(
        pd.DataFrame(
            {
                "line_id": ["t-0", "t-1"],
                "path": [
                    [{"lat": 0.0, "lon": 0.0}, {"lat": 10.0, "lon": 10.0}],
                    [{"lat": 50.0, "lon": 50.0}],  # degenerate: 1 vertex
                ],
            }
        ),
        schema,
    )
    b = spark.createDataFrame(
        pd.DataFrame(
            {
                "line_id": ["u-0", "u-1"],
                "path": [
                    # shares t-0's far endpoint exactly
                    [{"lat": 10.0, "lon": 10.0}, {"lat": 20.0, "lon": 0.0}],
                    # near the degenerate vertex: still no pair
                    [{"lat": 49.0, "lon": 50.0}, {"lat": 51.0, "lon": 50.0}],
                ],
            }
        ),
        schema,
    )
    got = {(r.line_id, r.other_id) for r in geo_line_line_join(a, b).collect()}
    assert got == {("t-0", "u-0")}

def _densify_route(path, per_edge=24, jitter_deg=0.01, seed=3):
    """Slerp-densify an open chain, nudging interior samples a
    deterministic sub-`jitter_deg` amount so they are near — but not
    exactly on — the original arcs (latlon [n, 2] out)."""
    from ffcl_spark.kernels.geo import unit_vector_np

    rng = np.random.default_rng(seed)
    v = unit_vector_np(
        np.array([p[0] for p in path]), np.array([p[1] for p in path])
    )
    out = [v[0]]
    for a, b in zip(v[:-1], v[1:]):
        ang = math.atan2(np.linalg.norm(np.cross(a, b)), float(a @ b))
        for t in np.linspace(0.0, 1.0, per_edge + 2)[1:-1]:
            s = (math.sin((1 - t) * ang) * a + math.sin(t * ang) * b) / max(
                math.sin(ang), 1e-300
            )
            s = s / np.linalg.norm(s)
            s = s + rng.uniform(-1, 1, 3) * math.radians(jitter_deg)
            out.append(s / np.linalg.norm(s))
        out.append(b)
    u = np.vstack(out)
    lat = np.degrees(np.arcsin(np.clip(u[:, 2], -1, 1)))
    lon = np.degrees(np.arctan2(u[:, 1], u[:, 0]))
    return np.column_stack([lat, lon])


def test_sphere_simplify_error_bound_and_twin(spark):
    """Operator output == the NumPy DP kernel per route (twin parity),
    every ORIGINAL vertex stays within tol of the simplified chain
    (the DP guarantee under the exact arc distance), endpoints
    survive, and the densified fixture actually compresses. Includes
    the antimeridian crosser and the polar chain."""
    from ffcl_spark.kernels.geo import (
        arc_boundary_distance_np,
        sphere_simplify_indices_np,
        unit_vector_np,
    )
    from ffcl_spark.operators.geo import (
        EARTH_RADIUS_M,
        simplify_polylines,
        sphere_route_paths,
    )

    tol_m = 2000.0
    dense = {
        lid: _densify_route(path, seed=7 + i)
        for i, (lid, path) in enumerate(sphere_route_paths())
    }
    df = spark.createDataFrame(
        [
            (lid, [{"lat": float(la), "lon": float(lo)} for la, lo in ch])
            for lid, ch in dense.items()
        ],
        "line_id string, path array<struct<lat double, lon double>>",
    )
    got = {
        r.line_id: np.array([[v["lat"], v["lon"]] for v in r.path])
        for r in simplify_polylines(df, tol_m).collect()
    }
    assert set(got) == set(dense)
    for lid, chain in dense.items():
        idx = sphere_simplify_indices_np(chain, tol_m / EARTH_RADIUS_M)
        np.testing.assert_array_equal(got[lid], chain[idx])  # twin parity
        assert idx[0] == 0 and idx[-1] == len(chain) - 1     # endpoints
        assert 2 <= len(idx) < len(chain)                    # compressed
        # DP guarantee: every original vertex within tol of the result
        p = unit_vector_np(chain[:, 0], chain[:, 1])
        d = arc_boundary_distance_np(p, got[lid], closed=False)
        assert (d * EARTH_RADIUS_M <= tol_m + 1e-6).all()


def test_sphere_simplify_tolerance_monotone_and_degenerate(spark):
    """tol=0 keeps every off-arc vertex (only exact on-arc points can
    drop); larger tolerances keep monotonically fewer vertices; ≤ 2
    vertex chains pass through unchanged."""
    from ffcl_spark.kernels.geo import sphere_simplify_indices_np
    from ffcl_spark.operators.geo import (
        EARTH_RADIUS_M,
        simplify_polylines,
        sphere_route_paths,
    )

    chain = _densify_route(sphere_route_paths()[0][1], jitter_deg=0.02)
    sizes = [
        len(sphere_simplify_indices_np(chain, t / EARTH_RADIUS_M))
        for t in (0.0, 500.0, 5000.0, 50000.0)
    ]
    assert sizes[0] == len(chain)  # jittered: nothing exactly on-arc
    assert sizes == sorted(sizes, reverse=True) and sizes[-1] >= 2

    short = spark.createDataFrame(
        [
            ("one", [{"lat": 1.0, "lon": 2.0}]),
            ("two", [{"lat": 0.0, "lon": 0.0}, {"lat": 5.0, "lon": 5.0}]),
        ],
        "line_id string, path array<struct<lat double, lon double>>",
    )
    got = {r.line_id: r.path for r in simplify_polylines(short, 1e6).collect()}
    assert len(got["one"]) == 1 and len(got["two"]) == 2

def test_geo_st_join_brute_parity(spark, world):
    """Spatiotemporal join == NumPy haversine × integer time-band
    brute over the world fixture (pole cap + antimeridian straddle
    included): pair set, distances, and signed dt_us all exact."""
    from ffcl_spark.operators.geo import geo_st_join

    df, pdf = world
    radius = 900_000.0
    # deterministic timestamps: point i at i*11 minutes since epoch
    ts_us = (pdf.id.to_numpy() * 11 * 60 * 1_000_000).astype(np.int64)
    F_ = pytest.importorskip("pyspark.sql.functions")
    with_ts = df.withColumn(
        "ts", F_.timestamp_micros(F_.col("id") * (11 * 60 * 1_000_000))
    )
    qs = with_ts.where("id % 7 = 0")
    lo_s, hi_s = -3000 * 60.0, 1200 * 60.0  # asymmetric band
    got = (
        geo_st_join(qs, with_ts, radius, lower_s=lo_s, upper_s=hi_s)
        .toPandas()
        .sort_values(["q_id", "r_id"])
        .reset_index(drop=True)
    )
    qpdf = pdf[pdf.id % 7 == 0].reset_index(drop=True)
    d = haversine_np(
        qpdf.lat.values[:, None], qpdf.lon.values[:, None],
        pdf.lat.values[None, :], pdf.lon.values[None, :],
    )
    qus = ts_us[pdf.id % 7 == 0]
    dt = ts_us[None, :] - qus[:, None]
    mask = (
        (d < radius)
        & (dt >= int(lo_s * 1e6))
        & (dt <= int(hi_s * 1e6))
    )
    want = sorted(
        (int(qpdf.id[i]), int(pdf.id[j]), int(dt[i, j]))
        for i in range(mask.shape[0])
        for j in np.nonzero(mask[i])[0]
    )
    assert [
        (r.q_id, r.r_id, r.dt_us) for r in got.itertuples()
    ] == want
    for r in got.itertuples():
        i = int(np.nonzero(qpdf.id.values == r.q_id)[0][0])
        assert r.dist_m == pytest.approx(d[i, int(r.r_id)], rel=1e-9)
    # the band actually cuts: unbounded-time pair count is strictly larger
    assert mask.sum() < (d < radius).sum()


def test_geo_st_join_wide_band_equals_radius_join(spark, world):
    """With a band wider than the fixture's whole time extent the ST
    join degrades to exactly the radius join's pair set."""
    from ffcl_spark.operators.geo import geo_st_join

    df, pdf = world
    from pyspark.sql import functions as F_

    with_ts = df.withColumn(
        "ts", F_.timestamp_micros(F_.col("id") * 60_000_000)
    )
    qs = with_ts.where("id % 13 = 0")
    wide = 10 * len(pdf) * 60.0
    got = {
        (r.q_id, r.r_id)
        for r in geo_st_join(
            qs, with_ts, 700_000.0, lower_s=-wide, upper_s=wide
        ).collect()
    }
    want = {
        (r.q_id, r.r_id)
        for r in geo_radius_join(
            qs.drop("ts"), df, 700_000.0
        ).collect()
    }
    assert got == want and len(got) > 0

def test_geo_map_match_brute_sequence_oracle(spark):
    """Viterbi output == exhaustive enumeration of ALL route
    sequences (the true global argmin, L^t sequences) on small
    trajectories over the 4-route fixture — generic float distances
    make cost ties measure-zero, so the argmin is unique and the
    comparison is exact."""
    import itertools

    from ffcl_spark.kernels.geo import (
        arc_boundary_distance_np,
        unit_vector_np,
    )
    from ffcl_spark.operators.geo import (
        EARTH_RADIUS_M,
        geo_map_match,
        sphere_route_paths,
        sphere_routes,
    )

    rng = np.random.default_rng(21)
    rows = []
    paths = dict(sphere_route_paths())
    # three entities wandering near different routes, 6 pings each
    for e, base in enumerate(["route-0", "route-1", "route-3"]):
        ch = np.array(paths[base])
        for t in range(6):
            f = t / 5.0
            la = ch[0, 0] * (1 - f) + ch[-1, 0] * f + rng.uniform(-1.5, 1.5)
            lo = ch[0, 1] * (1 - f) + ch[-1, 1] * f + rng.uniform(-1.5, 1.5)
            rows.append((f"e{e}", t * 60, float(la), float(lo)))
    df = spark.createDataFrame(
        rows, "entity_id string, ts long, lat double, lon double"
    )
    switch = 150_000.0  # 150 km — forces real smoothing at this noise
    got = {
        (r.entity_id, r.ts): r.line_id
        for r in geo_map_match(
            df, sphere_routes(spark), switch_cost_m=switch
        ).collect()
    }

    chains = [np.array(p) for _, p in sorted(paths.items())]
    names = [lid for lid, _ in sorted(paths.items())]
    for e in ["e0", "e1", "e2"]:
        mine = sorted([r for r in rows if r[0] == e], key=lambda r: r[1])
        p = unit_vector_np(
            np.array([r[2] for r in mine]), np.array([r[3] for r in mine])
        )
        emis = np.column_stack(
            [
                arc_boundary_distance_np(p, ch, closed=False) * EARTH_RADIUS_M
                for ch in chains
            ]
        )
        best, best_cost = None, np.inf
        for seq in itertools.product(range(len(chains)), repeat=len(mine)):
            c = sum(emis[t, j] for t, j in enumerate(seq)) + switch * sum(
                a != b for a, b in zip(seq[:-1], seq[1:])
            )
            if c < best_cost - 1e-9:
                best, best_cost = seq, c
        want = [names[j] for j in best]
        assert [got[(e, r[1])] for r in mine] == want, e


def test_geo_map_match_smoothing_and_zero_switch(spark):
    """switch_cost_m=0 reproduces the independent nearest-route snap
    exactly; a high switch cost holds a noisy mid-trajectory ping on
    its route even when a parallel route is momentarily closer."""
    from ffcl_spark.operators.geo import (
        geo_map_match,
        geo_nearest_polyline,
        sphere_routes,
    )

    # route-0 runs (0,-30)->(0,30); route-3 passes (-45..-55, -60..60).
    # Entity follows route-0; ping 2 is nudged 3 deg south (still far
    # from route-3, but used to check flicker under a synthetic twin).
    rows = [("w", t * 10, 0.4 if t != 2 else -5.0, -25.0 + 10.0 * t)
            for t in range(6)]
    df = spark.createDataFrame(
        rows, "entity_id string, ts long, lat double, lon double"
    )
    routes = sphere_routes(spark)
    from pyspark.sql import functions as F

    zero = geo_map_match(df, routes, switch_cost_m=0.0)
    snap = geo_nearest_polyline(
        df.withColumn("id", F.concat_ws("#", "entity_id", "ts")),
        routes,
    )
    zmap = {(r.entity_id, r.ts): (r.line_id, r.dist_m) for r in zero.collect()}
    smap = {tuple(r.id.split("#")): (r.line_id, r.dist_m) for r in snap.collect()}
    assert {(e, int(t)): v for (e, t), v in smap.items()} == zmap

    # two parallel synthetic routes 0.2 deg apart; ping 2 drifts onto B
    two = spark.createDataFrame(
        [
            ("A", [{"lat": 0.0, "lon": float(x)} for x in range(-3, 4)]),
            ("B", [{"lat": 0.2, "lon": float(x)} for x in range(-3, 4)]),
        ],
        "line_id string, path array<struct<lat double, lon double>>",
    )
    traj = spark.createDataFrame(
        [("p", t, 0.02 if t != 2 else 0.15, -2.0 + t) for t in range(5)],
        "entity_id string, ts long, lat double, lon double",
    )
    loose = {r.ts: r.line_id for r in
             geo_map_match(traj, two, switch_cost_m=0.0).collect()}
    tight = {r.ts: r.line_id for r in
             geo_map_match(traj, two, switch_cost_m=50_000.0).collect()}
    assert loose[2] == "B" and all(loose[t] == "A" for t in loose if t != 2)
    assert all(tight[t] == "A" for t in tight)  # smoothed


def test_geo_map_match_partitioning_invariance(spark):
    """Result is identical at any input partitioning (one shuffle on
    the entity key defines the order; ties pinned by (ts, lat, lon))."""
    from ffcl_spark.operators.geo import geo_map_match, sphere_routes

    rng = np.random.default_rng(5)
    rows = [
        (f"e{i % 7}", int(t), float(rng.uniform(-80, 80)),
         float(rng.uniform(-179, 179)))
        for i, t in enumerate(rng.integers(0, 1000, 140))
    ]
    df = spark.createDataFrame(
        rows, "entity_id string, ts long, lat double, lon double"
    )
    routes = sphere_routes(spark)
    a = sorted(map(tuple, geo_map_match(
        df.repartition(1), routes).collect()))
    b = sorted(map(tuple, geo_map_match(
        df.repartition(16), routes).collect()))
    assert a == b

def test_discrete_frechet_recursive_twin_and_invariants():
    """Rolling-row DP == an independent recursive-memo formulation on
    random chains; identity is 0; symmetric; a shifted parallel
    equatorial chain gives EXACTLY the latitude offset (lat separation
    lower-bounds every pairwise distance, the diagonal coupling
    attains it)."""
    import functools

    from ffcl_spark.kernels.geo import discrete_frechet_rad, unit_vector_np

    def frechet_recursive(a, b):
        va = unit_vector_np(a[:, 0], a[:, 1])
        vb = unit_vector_np(b[:, 0], b[:, 1])
        d = np.arctan2(
            np.linalg.norm(np.cross(va[:, None, :], vb[None, :, :]), axis=2),
            va @ vb.T,
        )

        @functools.lru_cache(maxsize=None)
        def c(i, j):
            if i == 0 and j == 0:
                return d[0, 0]
            opts = []
            if i > 0:
                opts.append(c(i - 1, j))
            if j > 0:
                opts.append(c(i, j - 1))
            if i > 0 and j > 0:
                opts.append(c(i - 1, j - 1))
            return max(min(opts), d[i, j])

        return c(len(a) - 1, len(b) - 1)

    rng = np.random.default_rng(17)
    for _ in range(20):
        m, n = rng.integers(2, 12, 2)
        a = np.column_stack(
            [rng.uniform(-80, 80, m), rng.uniform(-179, 179, m)]
        )
        b = np.column_stack(
            [rng.uniform(-80, 80, n), rng.uniform(-179, 179, n)]
        )
        got = discrete_frechet_rad(a, b)
        assert got == pytest.approx(frechet_recursive(a, b), abs=0)
        assert got == pytest.approx(discrete_frechet_rad(b, a), abs=0)
    eq = np.array([[0.0, x] for x in range(-3, 4)], float)
    sh = eq.copy()
    sh[:, 0] = 0.5
    assert discrete_frechet_rad(eq, eq) == 0.0
    assert discrete_frechet_rad(eq, sh) == pytest.approx(
        math.radians(0.5), rel=1e-15
    )


def test_trajectory_frechet_join_brute_and_cap(spark):
    """Operator == per-pair kernel brute over routes × shifted routes
    (proves the cap prune's lower bounds never drop a qualifying
    pair); self-join form; max_dist_m == post-filter of the uncapped
    result."""
    import numpy as np

    from ffcl_spark.kernels.geo import discrete_frechet_rad
    from ffcl_spark.operators.geo import (
        EARTH_RADIUS_M,
        sphere_route_paths,
        sphere_route_paths_b,
        sphere_routes,
        sphere_routes_b,
        trajectory_frechet_join,
    )

    a_paths, b_paths = sphere_route_paths(), sphere_route_paths_b()
    got = {
        (r.line_id, r.other_id): r.frechet_m
        for r in trajectory_frechet_join(
            sphere_routes(spark), sphere_routes_b(spark)
        ).collect()
    }
    want = {
        (aid, bid): discrete_frechet_rad(np.array(ap), np.array(bp))
        * EARTH_RADIUS_M
        for aid, ap in a_paths
        for bid, bp in b_paths
    }
    assert got == want  # bit-equal: the operator adds no arithmetic

    cap = 3_000_000.0  # 3000 km
    capped = {
        (r.line_id, r.other_id): r.frechet_m
        for r in trajectory_frechet_join(
            sphere_routes(spark), sphere_routes_b(spark), max_dist_m=cap
        ).collect()
    }
    assert capped == {k: v for k, v in got.items() if v <= cap}
    assert 0 < len(capped) < len(got)  # the cap actually cuts

    selfp = {
        (r.line_id, r.other_id)
        for r in trajectory_frechet_join(sphere_routes(spark)).collect()
    }
    assert selfp == {
        (x, y)
        for x, _ in a_paths
        for y, _ in a_paths
        if x < y
    }


def test_hausdorff_kernel_invariants():
    """Kernel vs an independent double-loop brute (haversine angles),
    swap symmetry of the directed pair, H <= Frechet on every fixture
    pair, an exact analytic parallel-chain value, and the sub-route
    asymmetry signal (leg inside a longer route: h_ab ~ 0, h_ba big)."""
    import numpy as np

    from ffcl_spark.kernels.geo import (
        discrete_frechet_rad,
        hausdorff_rad,
        unit_vector_np,
    )
    from ffcl_spark.operators.geo import (
        sphere_route_paths,
        sphere_route_paths_b,
    )

    def angle(u, w):
        # per-pair scalar folds in the kernel's stated order
        dot = (u[0] * w[0] + u[1] * w[1]) + u[2] * w[2]
        cx = u[1] * w[2] - u[2] * w[1]
        cy = u[2] * w[0] - u[0] * w[2]
        cz = u[0] * w[1] - u[1] * w[0]
        return float(np.arctan2(np.sqrt((cx * cx + cy * cy) + cz * cz), dot))

    def brute(a, b):
        va = unit_vector_np(np.array(a)[:, 0], np.array(a)[:, 1])
        vb = unit_vector_np(np.array(b)[:, 0], np.array(b)[:, 1])
        h_ab = max(min(angle(u, w) for w in vb) for u in va)
        h_ba = max(min(angle(u, w) for u in va) for w in vb)
        return h_ab, h_ba

    for _, ap in sphere_route_paths():
        for _, bp in sphere_route_paths_b():
            a, b = np.array(ap, float), np.array(bp, float)
            got = hausdorff_rad(a, b)
            assert got == pytest.approx(brute(ap, bp), abs=0)
            assert hausdorff_rad(b, a) == (got[1], got[0])  # swap = flip
            assert max(got) <= discrete_frechet_rad(a, b) + 1e-15

    # parallel 10°-long chains 5° apart on meridians: every vertex's
    # nearest counterpart sits on its own meridian, exactly 5° away
    eq = np.array([[0.0, 0.0], [0.0, 10.0]])
    sh = np.array([[5.0, 0.0], [5.0, 10.0]])
    h_ab, h_ba = hausdorff_rad(eq, sh)
    assert max(h_ab, h_ba) == pytest.approx(np.radians(5.0), rel=1e-12)

    # leg contained in a longer route: directed asymmetry
    leg = np.array([[0.0, 0.0], [0.0, 10.0]])
    route = np.array([[0.0, 0.0], [0.0, 10.0], [0.0, 60.0]])
    h_ab, h_ba = hausdorff_rad(leg, route)
    assert h_ab == 0.0
    assert h_ba == pytest.approx(np.radians(50.0), rel=1e-12)


def test_trajectory_hausdorff_join_brute_and_cap(spark):
    """Operator == per-pair kernel brute over routes × second family
    (proves the cap-gap prune never drops a qualifying pair);
    self-join form; max_dist_m == post-filter of the uncapped run."""
    import numpy as np

    from ffcl_spark.kernels.geo import hausdorff_rad
    from ffcl_spark.operators.geo import (
        EARTH_RADIUS_M,
        sphere_route_paths,
        sphere_route_paths_b,
        sphere_routes,
        sphere_routes_b,
        trajectory_hausdorff_join,
    )

    a_paths, b_paths = sphere_route_paths(), sphere_route_paths_b()
    got = {
        (r.line_id, r.other_id): (r.hausdorff_m, r.h_ab_m, r.h_ba_m)
        for r in trajectory_hausdorff_join(
            sphere_routes(spark), sphere_routes_b(spark)
        ).collect()
    }
    want = {}
    for aid, ap in a_paths:
        for bid, bp in b_paths:
            h_ab, h_ba = hausdorff_rad(np.array(ap), np.array(bp))
            want[(aid, bid)] = (
                max(h_ab, h_ba) * EARTH_RADIUS_M,
                h_ab * EARTH_RADIUS_M,
                h_ba * EARTH_RADIUS_M,
            )
    assert got == want  # bit-equal: the operator adds no arithmetic

    cap = 3_000_000.0  # 3000 km
    capped = {
        (r.line_id, r.other_id)
        for r in trajectory_hausdorff_join(
            sphere_routes(spark), sphere_routes_b(spark), max_dist_m=cap
        ).collect()
    }
    assert capped == {k for k, v in got.items() if v[0] <= cap}
    assert 0 < len(capped) < len(got)  # the cap actually cuts

    selfp = {
        (r.line_id, r.other_id)
        for r in trajectory_hausdorff_join(sphere_routes(spark)).collect()
    }
    assert selfp == {
        (x, y) for x, _ in a_paths for y, _ in a_paths if x < y
    }


def test_geo_convex_hull_global_and_grouped(spark):
    """Global two-stage hull == the single-frame NumPy hull of all
    points (proving per-partition reduction in the shared frame is
    exact), every input point lies inside-or-on the hull, the result
    is partitioning-invariant, and the grouped form returns one exact
    hull per key; hull ring feeds sphere_ring_measures (positive
    area bounded by its cap)."""
    from ffcl_spark.kernels.geo import (
        sphere_hull_indices_np,
        spherical_pip_np,
        sphere_ring_measures,
    )
    from ffcl_spark.operators.geo import geo_convex_hull

    rng = np.random.default_rng(31)
    # two clusters, both within hemispheres
    a = np.column_stack(
        [20 + rng.uniform(-10, 10, 400), 50 + rng.uniform(-14, 14, 400)]
    )
    b = np.column_stack(
        [-40 + rng.uniform(-6, 6, 300), -120 + rng.uniform(-9, 9, 300)]
    )
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "g": ["a"] * len(a) + ["b"] * len(b),
            "lat": np.concatenate([a[:, 0], b[:, 0]]),
            "lon": np.concatenate([a[:, 1], b[:, 1]]),
        }
    )
    df = spark.createDataFrame(pdf)

    # grouped: one exact hull per key
    got = {
        r.group: np.array([[v["lat"], v["lon"]] for v in r.ring])
        for r in geo_convex_hull(df, group_col="g").collect()
    }
    for key, pts in (("a", a), ("b", b)):
        idx = sphere_hull_indices_np(pts)
        np.testing.assert_array_equal(got[key], pts[idx])
        assert spherical_pip_np(pts[:, 0], pts[:, 1], got[key]).all()
        area_sr, _ = sphere_ring_measures(got[key])
        assert area_sr > 0

    # global over ONE hemisphere-compatible cluster: two-stage == local
    dfa = spark.createDataFrame(pdf[pdf.g == "a"][["lat", "lon"]])
    row1 = geo_convex_hull(dfa.repartition(1)).collect()[0]
    row16 = geo_convex_hull(dfa.repartition(16)).collect()[0]
    assert row1.ring == row16.ring  # partitioning invariance
    assert row1.n_points == len(a) and row1.n_hull == len(row1.ring)
    # matches the one-shot kernel in the same frame
    from ffcl_spark.kernels.geo import unit_vector_np

    v = unit_vector_np(a[:, 0], a[:, 1])
    c = v.sum(axis=0)
    c = c / np.linalg.norm(c)
    idx = sphere_hull_indices_np(a, c)
    want = [
        {"lat": float(a[i, 0]), "lon": float(a[i, 1])} for i in idx
    ]
    assert [r.asDict() for r in row1.ring] == want


def test_geo_convex_hull_exact_small_and_hemisphere_guard(spark):
    """Interior points never surface: the hull of octant corners plus
    strictly interior points is exactly the 3 corners; a set spanning
    a hemisphere raises."""
    from ffcl_spark.operators.geo import geo_convex_hull

    rows = [
        (0.0, 0.0),
        (0.0, 89.0),
        (89.0, 45.0),  # near-octant corners
        (30.0, 45.0),
        (20.0, 30.0),
        (45.0, 45.0),  # interior
    ]
    df = spark.createDataFrame(rows, "lat double, lon double")
    ring = geo_convex_hull(df).collect()[0].ring
    assert {(v["lat"], v["lon"]) for v in ring} == set(rows[:3])

    wide = spark.createDataFrame(
        [(0.0, 0.0), (0.0, 175.0), (0.0, -175.0), (80.0, 0.0)],
        "lat double, lon double",
    )
    with pytest.raises(Exception, match="hemisphere|degenerate"):
        geo_convex_hull(wide).collect()


def test_stay_points_twin_and_invariants(spark):
    """Operator == an independent pure-Python haversine scan of the
    same spec on a two-entity fixture (dwell / transit / dwell /
    short trailing dwell); strict-< ball membership; min-duration
    filter; trailing-stay emission; per-entity stay numbering;
    partitioning invariance."""
    import math

    import numpy as np

    from ffcl_spark.operators.geo import EARTH_RADIUS_M, geo_stay_points

    def mk(entity, spec):
        # spec: list of (t, lat, lon)
        return [(entity, float(t), la, lo) for t, la, lo in spec]

    jit = 0.0005  # ≈ 55 m — deep inside the 500 m ball
    e1 = mk(
        "e1",
        # dwell A: 0..600 s around (10, 20)
        [(i * 120, 10.0 + (jit if i % 2 else -jit), 20.0) for i in range(6)]
        # transit: big hops, never 2 pings in one ball
        + [(700, 11.0, 21.0), (800, 12.0, 22.0), (900, 13.0, 23.0)]
        # dwell B: 1000..1600 s around (14, 24)
        + [(1000 + i * 150, 14.0, 24.0 + (jit if i % 2 else -jit)) for i in range(5)]
        # trailing dwell C: only 100 s — below min_duration, no stay
        + [(2000, 15.0, 25.0), (2100, 15.0, 25.0 + jit)],
    )
    e2 = mk(
        "e2",
        # one long dwell that never exits — trailing emission
        [(i * 200, -5.0 + (jit if i % 3 == 0 else 0.0), 100.0) for i in range(5)],
    )
    df = spark.createDataFrame(
        e1 + e2, "entity_id string, ts double, lat double, lon double"
    )

    RAD, DUR = 500.0, 300.0

    def hav_m(a, b):
        la1, lo1, la2, lo2 = map(math.radians, (a[0], a[1], b[0], b[1]))
        h = (
            math.sin((la2 - la1) / 2) ** 2
            + math.cos(la1) * math.cos(la2) * math.sin((lo2 - lo1) / 2) ** 2
        )
        return 2 * EARTH_RADIUS_M * math.asin(math.sqrt(h))

    def twin(pings):
        pings = sorted(pings)  # (ts, lat, lon)
        n, i, out = len(pings), 0, []
        while i < n:
            j = i + 1
            while j < n and hav_m(pings[i][1:], pings[j][1:]) < RAD:
                j += 1
            if j == i + 1:
                i += 1
                continue
            if pings[j - 1][0] - pings[i][0] >= DUR:
                out.append((pings[i][0], pings[j - 1][0], j - i))
                i = j
            else:
                i += 1
        return out

    got = geo_stay_points(
        df, radius_m=RAD, min_duration_s=DUR
    ).toPandas()
    for ent, rows in (("e1", e1), ("e2", e2)):
        want = twin([(t, la, lo) for _, t, la, lo in rows])
        g = got[got.entity_id == ent].sort_values("stay_id")
        assert list(g.stay_id) == list(range(len(want)))
        assert [
            (r.t_start, r.t_end, r.n_pings) for r in g.itertuples()
        ] == want
    # e1: exactly dwell A and dwell B; trailing C filtered by duration
    assert len(got[got.entity_id == "e1"]) == 2
    # e2: the never-exiting trailing dwell emits
    assert len(got[got.entity_id == "e2"]) == 1
    # centroids sit inside their ball (≈ the dwell center)
    a = got[(got.entity_id == "e1")].iloc[0]
    assert hav_m((a.lat, a.lon), (10.0, 20.0)) < RAD

    rep = geo_stay_points(
        df.repartition(13), radius_m=RAD, min_duration_s=DUR
    ).toPandas()
    assert sorted(map(tuple, rep.to_numpy().tolist())) == sorted(
        map(tuple, got.to_numpy().tolist())
    )


def test_stay_transitions(spark):
    """OD trips from stays: one row per consecutive stay pair, exact
    depart/arrive/transit times, trip length == haversine of the two
    stay centroids, single-stay entities emit nothing."""
    import math

    from ffcl_spark.operators.geo import (
        EARTH_RADIUS_M,
        geo_stay_points,
        stay_transitions,
    )

    jit = 0.0005
    rows = (
        [("e1", float(i * 120), 10.0 + (jit if i % 2 else -jit), 20.0)
         for i in range(6)]
        + [("e1", 700.0, 11.0, 21.0), ("e1", 800.0, 12.0, 22.0)]
        + [("e1", 1000.0 + i * 150, 14.0, 24.0 + (jit if i % 2 else -jit))
           for i in range(5)]
        + [("e2", float(i * 200), -5.0, 100.0) for i in range(4)]
    )
    df = spark.createDataFrame(
        rows, "entity_id string, ts double, lat double, lon double"
    )
    stays = geo_stay_points(df, radius_m=500.0, min_duration_s=300.0)
    got = stay_transitions(stays).collect()
    assert len(got) == 1  # e1: A→B; e2: single stay → nothing
    t = got[0]
    assert (t.entity_id, t.from_stay, t.to_stay) == ("e1", 0, 1)
    assert (t.depart_t, t.arrive_t, t.transit_s) == (600.0, 1000.0, 400.0)

    def hav(a, b):
        la1, lo1, la2, lo2 = map(math.radians, (a[0], a[1], b[0], b[1]))
        h = (
            math.sin((la2 - la1) / 2) ** 2
            + math.cos(la1) * math.cos(la2) * math.sin((lo2 - lo1) / 2) ** 2
        )
        return 2 * EARTH_RADIUS_M * math.asin(math.sqrt(h))

    assert t.trip_m == pytest.approx(
        hav((t.from_lat, t.from_lon), (t.to_lat, t.to_lon)), rel=1e-12
    )
    assert t.trip_m > 500_000  # (10,20)→(14,24) is a real trip


def test_sphere_tile_raster_center_rule(spark):
    """Exact vector→raster == brute center rule over EVERY grid cell
    (centers via the same packing, containment via the NumPy gnomonic
    kernel applied independently per tile); subset of the padded
    cover; raster_to_tiles round-trips the cell rectangles."""
    import numpy as np

    from ffcl_spark.functions.sphere import band_m_table
    from ffcl_spark.kernels.geo import spherical_pip_np
    from ffcl_spark.operators.geo import (
        raster_to_tiles,
        sphere_rasterize,
        sphere_tile_raster,
        sphere_tile_rings,
        sphere_tiles,
    )

    DD_ = 6.0
    tiles = sphere_tiles(spark)
    got = {
        (r.tile_id, r.cell)
        for r in sphere_tile_raster(tiles, DD_).collect()
    }

    # brute: every cell of the grid
    mt = band_m_table(DD_)
    cells, lats, lons = [], [], []
    for band, m in enumerate(mt):
        lat_lo = band * DD_ - 90.0
        lat_hi = min(90.0, lat_lo + DD_)
        for j in range(m):
            cells.append(band * (1 << 32) + j)
            lats.append(min(lat_hi, 90.0) / 2 + lat_lo / 2)
            lons.append(
                ((j * 360.0 / m - 180.0) + ((j + 1) * 360.0 / m - 180.0)) / 2
            )
    P = np.column_stack([np.array(lats), np.array(lons)])
    want = set()
    for tid, ring in sphere_tile_rings(12):
        inside = spherical_pip_np(P[:, 0], P[:, 1], np.array(ring, float))
        for k in np.nonzero(inside)[0]:
            want.add((tid, cells[k]))
    assert got == want and len(got) > 0

    # exact raster ⊆ conservative cover
    cov = {
        (r.tile_id, r.cell)
        for r in sphere_rasterize(tiles, DD_).collect()
    }
    assert got <= cov

    # raster→vector: rectangles round-trip the bounds, area via
    # hat-box matches the zone closed form
    from ffcl_spark.functions.sphere import cell_area_m2
    from pyspark.sql import functions as SF

    cell_df = spark.createDataFrame(
        [(c,) for c in cells[:200]], "cell long"
    )
    rt = raster_to_tiles(cell_df, DD_)
    row = rt.where(SF.col("cell") == cells[50]).collect()[0]
    band, j = cells[50] >> 32, cells[50] & 0xFFFFFFFF
    m = mt[band]
    assert row.ring[0]["lat"] == band * DD_ - 90.0
    assert row.ring[0]["lon"] == j * 360.0 / m - 180.0
    assert row.ring[2]["lat"] == min(90.0, band * DD_ - 90.0 + DD_)
    assert row.tile_id == f"cell-{cells[50]}"
    # ring corners ordered CCW rectangle (lo,lo)→(lo,hi)→(hi,hi)→(hi,lo)
    assert [v["lat"] for v in row.ring] == [
        row.ring[0]["lat"], row.ring[0]["lat"],
        row.ring[2]["lat"], row.ring[2]["lat"],
    ]
    area = cell_df.select(
        SF.sum(cell_area_m2(SF.col("cell"), DD_)).alias("a")
    ).collect()[0]["a"]
    assert area > 0


def test_geo_od_flows(spark):
    """Flow matrix == pandas twin over the transitions (cell
    assignment by the shared packing, count + means exact on this
    2-entity fixture); self-loop kept."""
    from ffcl_spark.functions.sphere import band_m_table
    from ffcl_spark.operators.geo import (
        geo_od_flows,
        geo_stay_points,
        stay_transitions,
    )

    jit = 0.0005
    rows = (
        [("e1", float(i * 120), 10.0 + (jit if i % 2 else -jit), 20.0)
         for i in range(6)]
        + [("e1", 700.0, 11.0, 21.0), ("e1", 800.0, 12.0, 22.0)]
        + [("e1", 1000.0 + i * 150, 14.0, 24.0 + (jit if i % 2 else -jit))
           for i in range(5)]
        # e2: two dwells in the SAME 5° cell (band [-5,0), one lon cell)
        + [("e2", float(i * 200), -4.5, 100.0) for i in range(4)]
        + [("e2", 1500.0, -6.0, 99.0), ("e2", 1600.0, -7.0, 98.0)]
        + [("e2", 2000.0 + i * 200, -3.0, 100.5) for i in range(4)]
    )
    df = spark.createDataFrame(
        rows, "entity_id string, ts double, lat double, lon double"
    )
    tr = stay_transitions(
        geo_stay_points(df, radius_m=500.0, min_duration_s=300.0)
    ).toPandas()
    got = geo_od_flows(
        spark.createDataFrame(tr), delta_deg=5.0
    ).toPandas()

    mt = band_m_table(5.0)

    def cell(lat, lon):
        b = min(len(mt) - 1, max(0, int((lat + 90.0) // 5.0)))
        m = mt[b]
        j = min(m - 1, max(0, int((lon + 180.0) * m / 360.0)))
        return b * (1 << 32) + j

    want = {}
    for r in tr.itertuples():
        k = (cell(r.from_lat, r.from_lon), cell(r.to_lat, r.to_lon))
        want.setdefault(k, []).append((r.transit_s, r.trip_m))
    assert {
        (r.from_cell, r.to_cell): r.n_trips for r in got.itertuples()
    } == {k: len(v) for k, v in want.items()}
    assert len(got) >= 2  # e1's inter-cell trip + e2's self-loop
    self_loops = got[got.from_cell == got.to_cell]
    assert len(self_loops) == 1 and self_loops.iloc[0].n_trips == 1
