"""Geodesic (great-circle) spatial search over (lat, lon) columns.

The reference engine is metric-generic (``Distances.hpp:44-117`` takes
any pairwise kernel) but only ships planar metrics; a geospatial tile
engine needs the sphere. Rather than porting a lat/lon-aware grid with
antimeridian and pole special cases, the engine reduces the sphere to
the n-D machinery it already trusts:

    (lat, lon)  →  unit vector (cos φ cos λ, cos φ sin λ, sin φ)

The default geodesic kNN, :func:`sphere_knn_join`, works on (lat, lon)
directly and picks one of two plans from the ref count alone: up to
``SPHERE_CLOSURE_REFS`` refs it ships them whole to the tasks and runs
one NumPy haversine top-k pass over the queries (``dist_m`` bit-equal
to the ``kernels.geo.geo_brute_knn`` oracle); above that it runs
expanding-radius rounds over the latitude-band spherical grid
(``dist_m`` from the SQL :func:`haversine_m`, equal to the NumPy form
to a relative 2.5e-15).

Chord distance on the embedded points is STRICTLY MONOTONE with
great-circle distance (gc = 2·R·asin(chord/2)), so the embedding
twins are exact too:

- geodesic kNN  == 3-D Euclidean kNN over the embedding
  (:func:`ffcl_spark.operators.search_nd.knn_join_nd` — its closure,
  grid-kernel and blocked plans, exact, ties by r_id preserved);
- geodesic radius r == 3-D radius 2·sin(r/2R) over the embedding
  (:func:`radius_join_nd` — the planar radius join on the flattened
  embedding: radius-matched a-priori Chebyshev cell cover, cell box
  prune, refs-side build, hot-cell salting).

Longitude wrap-around and pole adjacency come FREE: points straddling
the ±180° meridian or clustered at a pole are near each other in the
3-D embedding, so the projected grid covers them with no special
cases. The embedding is three map-side JVM trig expressions — no
Python per row, no extra shuffle.

Boundary caveat (documented contract): the radius predicate is
evaluated on chord floats, so a pair whose great-circle distance sits
within ~1 ulp of ``radius_m`` may land on either side — same
float-boundary contract as every planar radius join in the engine.
"""

from __future__ import annotations

import math
from typing import Any, NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ffcl_spark.config import EngineConfig
from ffcl_spark.functions import sphere as S
from ffcl_spark.operators.search_nd import knn_join_nd, radius_join_nd
from ffcl_spark.plans.cache import carry
from ffcl_spark.plans.stats import free_checkpoint, row_count, salt_hot_keys

# IUGG mean Earth radius, metres.
EARTH_RADIUS_M = 6_371_008.8

# The embedding lives in [-1, 1]^3; the grid covers it with headroom.
GEO_CFG = EngineConfig(x0=-1.024, y0=-1.024, domain=2.048, resolution=4)

# sphere_knn_join ships ref sets up to this size to the tasks (closure
# plan) and runs radius rounds above it. 2 048 refs is the measured
# break-even at large query counts (uniform sphere points, k=5,
# local[2] on a 4-core host); below it the closure plan also saves the
# round plan's fixed cost of about 2 s per call.
SPHERE_CLOSURE_REFS = 2048
# The round plan's schedule: the start radius in metres (None: sized
# from the ref density, and each query's tier from its own cell's; a
# pinned radius starts every query there), the radius factor between
# rounds, and the rounds after the last tier, the final one searching
# the whole sphere.
SPHERE_INIT_RADIUS_M: float | None = None
SPHERE_GROWTH = 3.0
SPHERE_MAX_ROUNDS = 10


def haversine_m(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column,
    radius_m: float = EARTH_RADIUS_M,
) -> Column:
    """Great-circle distance in metres as a pure column expression."""
    p1 = F.radians(lat1)
    p2 = F.radians(lat2)
    sp = F.sin((p2 - p1) / 2)
    sl = F.sin((F.radians(lon2) - F.radians(lon1)) / 2)
    h = sp * sp + F.cos(p1) * F.cos(p2) * sl * sl
    # clamp: float fold can land an antipodal h at 1 + 1ulp → NaN asin.
    # F.when, not F.least — least() SKIPS nulls, so a NULL coordinate
    # (e.g. the first row's lag in a trajectory scan) would clamp to
    # asin(1) = an antipodal hop instead of propagating NULL. NaN must
    # propagate too: Spark orders NaN above every double, so h > 1
    # holds for a NaN coordinate's h
    h = F.when((h > F.lit(1.0)) & ~F.isnan(h), F.lit(1.0)).otherwise(h)
    return F.lit(2.0 * radius_m) * F.asin(F.sqrt(h))


def unit_vector(lat: Column, lon: Column) -> Column:
    """(lat°, lon°) → unit sphere embedding, ``array<double>``."""
    phi = F.radians(lat)
    lam = F.radians(lon)
    return F.array(
        F.cos(phi) * F.cos(lam), F.cos(phi) * F.sin(lam), F.sin(phi)
    )


def geo_points(
    df: DataFrame, id_col: str = "id", lat_col: str = "lat", lon_col: str = "lon"
) -> DataFrame:
    """(id, features) embedding view consumed by the n-D operators."""
    return df.select(
        F.col(id_col).alias("id"),
        unit_vector(F.col(lat_col), F.col(lon_col)).alias("features"),
    )


def chord_of_arc(radius_m: float, earth_radius_m: float = EARTH_RADIUS_M) -> float:
    """Chord length on the unit sphere subtending a ``radius_m`` arc.
    Arcs ≥ half the circumference cover every pair: return a bound
    strictly above the max chord 2 so the strict ``<`` keeps them."""
    half = radius_m / (2.0 * earth_radius_m)
    if half >= math.pi / 2:
        return 2.0 + 1e-9
    return 2.0 * math.sin(half)


def arc_of_chord_m(chord: Column, earth_radius_m: float = EARTH_RADIUS_M) -> Column:
    """Unit-sphere chord column → great-circle metres. NULL-propagating
    clamp (F.when, not F.least — least() skips nulls; see haversine_m)."""
    half = chord / 2
    half = F.when(half > F.lit(1.0), F.lit(1.0)).otherwise(half)
    return F.lit(2.0 * earth_radius_m) * F.asin(half)


def sphere_radius_join(
    queries: DataFrame,
    refs: DataFrame,
    radius_m: float,
    *,
    delta_deg: float | None = None,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    earth_radius_m: float = EARTH_RADIUS_M,
    salt_hot_cells: bool = True,
) -> DataFrame:
    """All (q_id, r_id, dist_m) with great-circle dist < radius_m
    (strict) via the latitude-band spherical grid — the corpus-scale
    geodesic plan (``functions/sphere.py`` explains why the embedded
    2-axis grid can't be it).

    One shuffle on the spherical cell key: refs assign to exactly one
    cell, queries explode over the exact cap cover (≈9 cells when the
    band height matches the radius), the equi-join's candidates are
    bounded by true surface density, and the haversine predicate is
    one codegen expression. Skewed corpora (real data clusters in
    cities) get the planar plan's hot-cell salting,
    :func:`ffcl_spark.plans.stats.salt_hot_keys`, at the
    ``EngineConfig`` defaults of ``hot_cell_rows`` and
    ``salt_buckets``."""
    # the cover is a superset bound — pad it a few ulps so a pair whose
    # haversine lands strictly inside the radius can never be excluded
    # by rounding in the deg↔rad conversions of the cap bounds
    r_deg = math.degrees(radius_m / earth_radius_m) * (1 + 1e-9) + 1e-9
    if delta_deg is None:
        delta_deg = min(max(r_deg, 0.05), 30.0)
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(lat_col).alias("q_lat"),
        F.col(lon_col).alias("q_lon"),
    ).withColumn(
        "cell",
        F.explode(S.cover_cells(F.col("q_lat"), F.col("q_lon"), r_deg, delta_deg)),
    )
    r = refs.select(
        F.col(id_col).alias("r_id"),
        F.col(lat_col).alias("r_lat"),
        F.col(lon_col).alias("r_lon"),
    ).withColumn("cell", S.sphere_cell(F.col("r_lat"), F.col("r_lon"), delta_deg))
    keys = ["cell"]
    if salt_hot_cells:
        q, r, keys = salt_hot_keys(q, r, EngineConfig())
    dist = haversine_m(
        F.col("q_lat"), F.col("q_lon"), F.col("r_lat"), F.col("r_lon"),
        earth_radius_m,
    )
    return (
        q.join(r, keys)
        .withColumn("dist_m", dist)
        .where(F.col("dist_m") < F.lit(radius_m))
        .select("q_id", "r_id", "dist_m")
    )


def _sphere_knn_closure(
    queries: DataFrame,
    rpdf,
    k: int,
    earth_radius_m: float,
    out_schema: str,
) -> DataFrame:
    """The closure plan of :func:`sphere_knn_join`: the collected refs
    ``rpdf`` (id, lat, lon) ship in the task closure, and one
    ``mapInPandas`` pass over the queries ``(id, lat, lon)`` takes each
    query's exact top-k with
    :func:`ffcl_spark.kernels.neighbors.topk_blocks` over
    ``kernels.geo.haversine_np``, the oracle's own expression. No
    shuffle, no window, nothing persisted.

    A NaN distance is never a neighbour, as in the round plan, whose
    strict ``dist_m < r`` filter drops it: a query with a NULL or NaN
    coordinate gets no rows, and such a ref is never returned."""
    import numpy as np
    import pandas as pd

    from ffcl_spark.kernels.geo import haversine_np
    from ffcl_spark.kernels.neighbors import topk_blocks
    from ffcl_spark.operators.knn_kernel import PAIR_BUDGET

    rpdf = rpdf.sort_values("id", kind="stable")
    rids = rpdf["id"].to_numpy()
    rlat = rpdf["lat"].to_numpy(dtype=np.float64)[None, :]
    rlon = rpdf["lon"].to_numpy(dtype=np.float64)[None, :]

    def kernel(batches):
        for pdf in batches:
            qlat = pdf["lat"].to_numpy(dtype=np.float64)[:, None]
            qlon = pdf["lon"].to_numpy(dtype=np.float64)[:, None]
            blocks = topk_blocks(
                pdf["id"].to_numpy(), rids, k,
                lambda s, e: haversine_np(qlat[s:e], qlon[s:e], rlat, rlon, earth_radius_m),
                PAIR_BUDGET,
            )
            for q, r, d, rank in blocks:
                ok = ~np.isnan(d)
                yield pd.DataFrame(
                    {"q_id": q[ok], "r_id": r[ok], "dist_m": d[ok], "rank": rank[ok]}
                )

    return queries.mapInPandas(kernel, out_schema)


def sphere_knn_join(
    queries: DataFrame,
    refs: DataFrame,
    k: int,
    *,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    earth_radius_m: float = EARTH_RADIUS_M,
    n_refs: int | None = None,
) -> DataFrame:
    """Exact geodesic kNN join (q_id, r_id, dist_m, rank): each query's
    ``min(k, n_refs)`` nearest refs by great-circle distance, ties by
    r_id (``KDTree.hpp:137`` exactness contract).

    Two plans; the ref count alone picks one, so chunking or batching
    the queries never changes the plan or its bits. ``n_refs`` is that
    count when the caller knows it, and must then be exact; otherwise
    ``plans.stats.row_count`` reads it from the plan's exact statistics
    (a persisted or local ref set) or else runs one count job.

    CLOSURE plan, ``n_refs ≤ SPHERE_CLOSURE_REFS``: the refs are
    collected once, sorted by id, and shipped in the task closure; one
    narrow ``mapInPandas`` pass over the queries computes the exact
    top-k (:func:`_sphere_knn_closure`). The refs collect is the only
    job before return besides the sizing count. The result is lazy and
    carries nothing to release. Its ``dist_m`` is
    ``kernels.geo.haversine_np``, bit-equal to ``geo_brute_knn``.

    ROUND plan, larger ref sets: expanding radius over the spherical
    grid — the sphere's analogue of the planar ring expansion (a query
    with ≥ k refs strictly inside radius r has its true top-k among
    those candidates, because every point at distance < r is a
    candidate). Its ``dist_m`` is the SQL :func:`haversine_m`, which
    differs from ``haversine_np`` only in the last bits (a relative
    2.5e-15 at most over 2.25M measured pairs). Its schedule is
    ``SPHERE_INIT_RADIUS_M``, ``SPHERE_GROWTH`` and
    ``SPHERE_MAX_ROUNDS``.

    Rounds: strict radius join at r → per-query window rank by
    (dist_m, r_id) → queries with ≥ k in-radius candidates resolve;
    the rest retry at ``growth·r`` (cap area ×growth², unresolved
    count shrinks geometrically). The final round (cap ≥ hemisphere+)
    covers the whole sphere, so termination is unconditional; refs
    with fewer than k rows total emit what exists. Resolved batches
    are localCheckpointed (bounded rounds, scalar rows) and carried on
    the result for ``plans.cache.release``.

    Start radius: unless ``SPHERE_INIT_RADIUS_M`` pins one, each query
    enters the loop at a radius sized from its own cell's ref density — one
    ref-count aggregation on an equal-area spherical grid (~64
    refs/cell), broadcast-joined to the queries — targeting an
    expected ~4k in-cap count locally. Queries are processed in radius
    TIERS (powers of ``growth`` over the global-density base):
    dense-city queries search tiny caps and sparse-ocean queries start
    straight at a cap that can actually hold k neighbours, instead of
    every query starting at the global average and skewed regions
    paying candidate windows ×E[1/cos φ] (unbounded at the poles for
    lat-uniform corpora) or escalating through quadratically growing
    covers. A per-query start radius cannot change the result: the
    resolution rule (≥ k candidates strictly inside the searched cap,
    exact cover) yields the true top-k at ANY radius that satisfies
    it. A pinned ``SPHERE_INIT_RADIUS_M`` keeps the single-entry
    behaviour; ref sets ≤ 4096 rows skip the density pass (one tier is
    optimal there)."""
    spark = queries.sparkSession
    if n_refs is None:
        n_refs = row_count(refs)
    id_type = queries.schema[id_col].dataType.simpleString()
    out_schema = f"q_id {id_type}, r_id {id_type}, dist_m double, rank int"
    if n_refs == 0:
        return spark.createDataFrame([], out_schema)

    def points(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("id"),
            F.col(lat_col).cast("double").alias("lat"),
            F.col(lon_col).cast("double").alias("lon"),
        )

    q_pts, refs_n = points(queries), points(refs)
    if n_refs <= SPHERE_CLOSURE_REFS:
        return _sphere_knn_closure(q_pts, refs_n.toPandas(), k, earth_radius_m, out_schema)
    init_radius_m = SPHERE_INIT_RADIUS_M
    local_start = init_radius_m is None
    if local_start:
        # expected in-cap count n·(r/2R)² ≈ 4k at this start radius
        init_radius_m = 4.0 * math.sqrt(k / n_refs) * earth_radius_m
        init_radius_m = max(init_radius_m, 1.0)
    half_circ = math.pi * earth_radius_m
    handles: list[DataFrame] = []
    tiered: DataFrame | None = None
    t_lo = 0
    n_tiers = 1
    if local_start and n_refs > 4096:
        # equal-area density grid at ~64 refs/cell (sphere ≈ 41253 deg²)
        delta_loc = min(30.0, max(0.05, math.sqrt(41253.0 * 64.0 / n_refs)))
        cnts = refs_n.groupBy(
            S.sphere_cell(F.col("lat"), F.col("lon"), delta_loc).alias("_c")
        ).agg(F.count(F.lit(1)).alias("_cnt"))
        # local start radius: expected in-cap ≈ 4k at the cell's own
        # density (cell area ≈ δ² deg² by the equal-area construction);
        # empty cells assume a quarter-ref so isolated queries open wide
        r_q_deg = F.lit(delta_loc) * F.sqrt(
            F.lit(4.0 * k / math.pi) / F.coalesce(F.col("_cnt"), F.lit(0.25))
        )
        r_q_m = F.radians(r_q_deg) * F.lit(earth_radius_m)
        tier = F.ceil(
            F.log(F.greatest(r_q_m, F.lit(1.0)) / F.lit(float(init_radius_m)))
            / F.lit(math.log(SPHERE_GROWTH))
        ).cast("int")
        tiered = (
            q_pts.withColumn(
                "_c", S.sphere_cell(F.col("lat"), F.col("lon"), delta_loc)
            )
            .join(cnts, "_c", "left")
            .select("id", "lat", "lon", tier.alias("_t"))
            .persist()
        )
        handles.append(tiered)
        rng = tiered.agg(
            F.min("_t").alias("lo"), F.max("_t").alias("hi")
        ).first()
        t_lo = int(rng["lo"]) if rng["lo"] is not None else 0
        n_tiers = max(1, int(rng["hi"]) - t_lo + 1)
    parts: list[DataFrame] = []
    prev_remaining: DataFrame | None = None
    r_m = float(init_radius_m) * (SPHERE_GROWTH ** t_lo)
    remaining = None
    for rnd in range(SPHERE_MAX_ROUNDS + n_tiers - 1):
        t = t_lo + rnd
        if tiered is not None and rnd < n_tiers:
            entering = tiered.where(F.col("_t") <= F.lit(t)) if rnd == 0 else (
                tiered.where(F.col("_t") == F.lit(t))
            )
            entering = entering.select("id", "lat", "lon")
            remaining = (
                entering if remaining is None else remaining.unionByName(entering)
            )
        elif remaining is None:
            remaining = q_pts
        more_tiers = tiered is not None and rnd + 1 < n_tiers
        last = (rnd == SPHERE_MAX_ROUNDS + n_tiers - 2 or r_m >= half_circ) and not more_tiers
        # the last round must cover the whole sphere, however small
        # the radius is when the round budget runs out
        cand = sphere_radius_join(
            remaining,
            refs_n,
            half_circ * 1.001 if last else min(r_m, half_circ * 1.001),
            id_col="id",
            lat_col="lat",
            lon_col="lon",
            earth_radius_m=earth_radius_m,
            salt_hot_cells=False,
        )
        w = Window.partitionBy("q_id").orderBy("dist_m", "r_id")
        ranked = cand.withColumn("rank", F.row_number().over(w)).withColumn(
            "cnt", F.count(F.lit(1)).over(Window.partitionBy("q_id"))
        )
        keep = F.col("rank") <= k
        if not last:
            keep = keep & (F.col("cnt") >= k)
        resolved = (
            ranked.where(keep)
            .select("q_id", "r_id", "dist_m", F.col("rank").cast("int").alias("rank"))
            .localCheckpoint()
        )
        parts.append(resolved)
        handles.append(resolved)
        if last:
            break
        nxt = remaining.join(
            resolved.select(F.col("q_id").alias("id")).distinct(), "id", "left_anti"
        ).localCheckpoint()
        if prev_remaining is not None:
            free_checkpoint(prev_remaining)
        prev_remaining = nxt
        remaining = nxt
        if not more_tiers and remaining.isEmpty():
            break
        r_m *= SPHERE_GROWTH
    if prev_remaining is not None:
        free_checkpoint(prev_remaining)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return carry(out, *handles)


def geo_radius_join(
    queries: DataFrame,
    refs: DataFrame,
    radius_m: float,
    cfg: EngineConfig = GEO_CFG,
    lat_col: str = "lat",
    lon_col: str = "lon",
    earth_radius_m: float = EARTH_RADIUS_M,
    salt_hot_cells: bool = True,
    plan: str = "sphere",
) -> DataFrame:
    """All (q_id, r_id, dist_m) with great-circle dist < radius_m
    (strict — FFCL ``Ball.hpp:91-97`` semantics on the sphere).

    ``plan="sphere"`` (default): latitude-band spherical grid — one
    shuffle on the on-sphere cell key, candidates bounded by true
    surface density (the corpus-scale path; see functions/sphere.py).
    ``plan="embed"``: the 3-D unit-vector embedding through the planar
    n-D machinery — kept as the independent-plan twin for correctness
    cross-checks (its projected grid double-sheets the sphere, so it
    is NOT the scale path). Both return identical pairs; dist_m floats
    differ only in rounding path (chord-asin vs haversine)."""
    if plan == "sphere":
        return sphere_radius_join(
            queries,
            refs,
            radius_m,
            lat_col=lat_col,
            lon_col=lon_col,
            earth_radius_m=earth_radius_m,
            salt_hot_cells=salt_hot_cells,
        )
    chord = chord_of_arc(radius_m, earth_radius_m)
    out = radius_join_nd(
        geo_points(queries, lat_col=lat_col, lon_col=lon_col),
        geo_points(refs, lat_col=lat_col, lon_col=lon_col),
        chord,
        cfg,
        salt_hot_cells=salt_hot_cells,
    )
    return out.select(
        "q_id", "r_id", arc_of_chord_m(F.col("dist"), earth_radius_m).alias("dist_m")
    )


def geo_knn_join(
    queries: DataFrame,
    refs: DataFrame,
    k: int,
    cfg: EngineConfig = GEO_CFG,
    lat_col: str = "lat",
    lon_col: str = "lon",
    earth_radius_m: float = EARTH_RADIUS_M,
    plan: str = "sphere",
    **knn_kwargs,
) -> DataFrame:
    """Exact geodesic kNN join (q_id, r_id, dist_m, rank).

    ``plan="sphere"`` (default): :func:`sphere_knn_join`. Up to
    ``SPHERE_CLOSURE_REFS`` refs it ships the refs to the tasks and
    takes each query's top-k in one narrow pass, with ``dist_m``
    bit-equal to ``kernels.geo.geo_brute_knn``; above that it runs
    expanding-radius rounds over the latitude-band spherical grid (the
    corpus-scale path), with ``dist_m`` from the SQL
    :func:`haversine_m`, equal to the NumPy form to a relative
    2.5e-15. The ref count alone picks the plan, so splitting the
    queries into chunks never changes a bit. ``plan="embed"``: the 3-D
    embedding through
    :func:`ffcl_spark.operators.search_nd.knn_join_nd`'s automatic plan
    choice — the independent correctness twin; ``"local"``, ``"grid"``
    and ``"blocked"`` force one of its plans.
    Rank order under chord == rank order under great-circle distance
    (strict monotonicity), ties broken by r_id in both framings — so
    the planar kNN result-set contract (k smallest, deterministic
    ties, self included when queries ⊆ refs) transfers verbatim."""
    if plan == "sphere":
        return sphere_knn_join(
            queries,
            refs,
            k,
            lat_col=lat_col,
            lon_col=lon_col,
            earth_radius_m=earth_radius_m,
            **knn_kwargs,
        )
    # any plan other than sphere/embed names an n-D physical plan
    # (local/grid/blocked) and is forwarded to the embedding machinery
    out = knn_join_nd(
        geo_points(queries, lat_col=lat_col, lon_col=lon_col),
        geo_points(refs, lat_col=lat_col, lon_col=lon_col),
        k,
        cfg,
        plan="auto" if plan == "embed" else plan,
        **knn_kwargs,
    )
    return out.select(
        "q_id",
        "r_id",
        arc_of_chord_m(F.col("dist"), earth_radius_m).alias("dist_m"),
        "rank",
    )


def geo_box_search(
    points: DataFrame,
    lat_lo: float,
    lat_hi: float,
    lon_lo: float,
    lon_hi: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """All points inside a lat/lon box, bounds inclusive.

    ``lon_lo > lon_hi`` means the box crosses the antimeridian (e.g.
    170 → -170 spans the Pacific): the longitude predicate becomes a
    disjunction of two ranges. Both forms are plain Catalyst
    predicates, pushed to the parquet scan."""
    lat_ok = F.col(lat_col).between(lat_lo, lat_hi)
    if lon_lo <= lon_hi:
        lon_ok = F.col(lon_col).between(lon_lo, lon_hi)
    else:
        lon_ok = (F.col(lon_col) >= lon_lo) | (F.col(lon_col) <= lon_hi)
    return points.where(lat_ok & lon_ok)


def geo_dbscan(
    points: DataFrame,
    radius_m: float,
    min_samples: int,
    *,
    delta_deg: float | None = None,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    earth_radius_m: float = EARTH_RADIUS_M,
) -> DataFrame:
    """DBSCAN on the sphere: the reference's exact point semantics
    (``DBSCAN.hpp:103-191`` — core iff strictly more than
    ``min_samples`` neighbors at great-circle distance strictly below
    ``radius_m``, self included; border points take the min core
    label; canonical labels = min member id) with the geodesic metric.

    Pure composition: in-radius pairs come from ``sphere_radius_join``
    (one equi-join on the latitude-band cell key), the per-cell
    pre-merge keys on the same spherical cell, and everything
    downstream is the dimension-agnostic label machinery shared with
    the planar and n-D plans (``operators/dbscan.py``) — longitude
    wrap and pole adjacency are handled by the cap cover, not by any
    DBSCAN-specific code."""
    from ffcl_spark.operators.dbscan import _dbscan_from_pairs

    r_deg = math.degrees(radius_m / earth_radius_m) * (1 + 1e-9) + 1e-9
    if delta_deg is None:
        delta_deg = min(max(r_deg, 0.05), 30.0)
    pairs = sphere_radius_join(
        points,
        points,
        radius_m,
        delta_deg=delta_deg,
        id_col=id_col,
        lat_col=lat_col,
        lon_col=lon_col,
        earth_radius_m=earth_radius_m,
    ).persist()
    pts_cell = points.select(
        F.col(id_col).alias("id"),
        S.sphere_cell(F.col(lat_col), F.col(lon_col), delta_deg).alias("cell"),
    )
    ids = points.select(F.col(id_col).alias("id"))
    return _dbscan_from_pairs(ids, pairs, pts_cell, min_samples)


# ------------------------------------------------------ geodesic clustering
#
# Chord distance is strictly monotone with great-circle distance
# (gc = 2·R·asin(chord/2)), and max() commutes with any monotone
# increasing transform — so the MST edge SET under the geodesic metric
# (plain or mutual-reachability) equals the chord-space MST over the
# 3-D embedding, and only the WEIGHTS need converting. Weight-dependent
# stages (dendrogram levels, HDBSCAN stability λ = 1/level, cut
# thresholds) are NOT reparameterization-invariant, so the conversion
# to metres happens on the MST edges BEFORE any of them run.


def geo_core_distances(
    points: DataFrame,
    k: int,
    *,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    earth_radius_m: float = EARTH_RADIUS_M,
) -> DataFrame:
    """(id, core_distance_m): great-circle distance to the k-th nearest
    neighbor, self counted — the reference core-distance contract
    (``CoreDistances.hpp:39-54``) under the geodesic metric. Composition
    of :func:`sphere_knn_join` (self appears at rank 1, distance 0) and
    a max-of-k aggregation, exactly like the planar operator."""
    knn = sphere_knn_join(
        points, points, k,
        id_col=id_col, lat_col=lat_col, lon_col=lon_col,
        earth_radius_m=earth_radius_m,
    )
    out = (
        knn.groupBy("q_id")
        .agg(F.max("dist_m").alias("core_distance_m"))
        .select(F.col("q_id").alias("id"), "core_distance_m")
    )
    return carry(out, knn)


def geo_mst(
    points: DataFrame,
    *,
    core_k: int | None = None,
    local_cutoff: int = 0,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    earth_radius_m: float = EARTH_RADIUS_M,
    ckpt_dir: str | None = None,
) -> DataFrame:
    """Exact geodesic MST edges (src, dst, w) with ``w`` in great-circle
    METRES — the reference Borůvka contract
    (``BoruvkasAlgorithm.hpp:420-460``) on the sphere.

    Plan: embed (lat, lon) → 3-D unit vectors (three JVM trig
    expressions) and run the gate-proven n-D Borůvka
    (:func:`ffcl_spark.operators.boruvka.minimum_spanning_tree`,
    ``features_col`` routing) in CHORD space; convert edge weights to
    metres on the way out. Monotonicity makes this exact: every
    pairwise comparison Borůvka performs has the same outcome in chord
    and great-circle space, including mutual-reachability weights when
    ``core_k`` is set (max of chords → max of geodesics under the
    transform). Longitude wrap and pole adjacency are not special
    cases in the embedding."""
    from ffcl_spark.operators.boruvka import minimum_spanning_tree

    pts = geo_points(points, id_col=id_col, lat_col=lat_col, lon_col=lon_col)
    edges = minimum_spanning_tree(
        pts, GEO_CFG, core_k=core_k, local_cutoff=local_cutoff,
        features_col="features", ckpt_dir=ckpt_dir,
    )
    return carry(
        edges.select("src", "dst", arc_of_chord_m(F.col("w"), earth_radius_m).alias("w")),
        edges,
    )


def geo_single_linkage_cut(
    points: DataFrame,
    cut_m: float,
    min_cluster_size: int = 1,
    *,
    local_cutoff: int = 0,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    earth_radius_m: float = EARTH_RADIUS_M,
) -> DataFrame:
    """Flat single-linkage clustering at ``cut_m`` great-circle metres
    (reference ``SingleLinkageClusterTree.hpp:151-175`` under the
    geodesic metric). (id, label, is_noise); canonical labels (min
    member id), components below ``min_cluster_size`` are noise 0.
    Fully distributed: the cut at λ is the connected components of the
    strict ``w < λ`` subset of the metre-weighted MST."""
    from ffcl_spark.operators.hdbscan import _cut_labels

    edges_m = geo_mst(
        points, local_cutoff=local_cutoff, id_col=id_col,
        lat_col=lat_col, lon_col=lon_col, earth_radius_m=earth_radius_m,
    )
    ids = points.select(F.col(id_col).alias("id"))
    return _cut_labels(ids, edges_m, cut_m, min_cluster_size)


def geo_hdbscan(
    points: DataFrame,
    k_nearest_neighbors: int = 1,
    min_cluster_size: int = 5,
    allow_single_cluster: bool = True,
    *,
    local_cutoff: int = 0,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    earth_radius_m: float = EARTH_RADIUS_M,
) -> DataFrame:
    """HDBSCAN under the geodesic metric: (id, label, is_noise),
    canonical labels, noise 0 — the reference pipeline
    (``HDBSCAN.hpp:91-116``) with great-circle mutual reachability.

    The MST comes from :func:`geo_mst` (chord-space Borůvka, exact by
    monotonicity); its metre weights feed the SAME dendrogram plan +
    distributed emission as the planar/n-D pipelines. The conversion
    must happen here and not later: condensed-tree stability
    (λ = 1/level, ``CondensedClusterNode.hpp:83-88``) is not invariant
    under reparameterizing the weight axis, so selecting clusters on
    chord weights would answer a different (chord-metric) question."""
    from ffcl_spark.operators.hdbscan import _hdbscan_labels

    core_k = k_nearest_neighbors if k_nearest_neighbors > 1 else None
    edges_m = geo_mst(
        points, core_k=core_k, local_cutoff=local_cutoff, id_col=id_col,
        lat_col=lat_col, lon_col=lon_col, earth_radius_m=earth_radius_m,
    )
    ids = points.select(F.col(id_col).alias("id"))
    return _hdbscan_labels(ids, edges_m, min_cluster_size, allow_single_cluster)


def geo_closest_pair(
    queries: DataFrame,
    refs: DataFrame,
    k: int = 1,
    *,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    earth_radius_m: float = EARTH_RADIUS_M,
) -> DataFrame:
    """The ``k`` globally shortest geodesic edges between two sets —
    the dual-tree k-th-shortest-edge search (``Search.hpp:169-194``)
    under the great-circle metric. Returns (src, dst, dist_m, rank),
    ordered/tie-broken by (dist_m, src, dst); zero-distance pairs are
    skipped like the reference oracle (``ClosestPairOfSamples.hpp:54``).

    Per-query exact geodesic (k+z)-NN over the spherical grid, then a
    global top-k. ``z`` is the max number of refs at one exact
    (lat, lon) — under the engine's float haversine, dist == 0.0 iff
    the coordinate doubles are identical (any nonzero Δlon or Δlat,
    including ±180° aliases and pole longitudes, yields h > 0), so the
    coordinate group count is exactly the zero-distance multiplicity
    and at least k positive edges survive each query's buffer."""
    max_dup = (
        refs.groupBy(lat_col, lon_col).count().agg(F.max("count")).first()[0]
        or 1
    )
    knn = sphere_knn_join(
        queries, refs, k + int(max_dup),
        id_col=id_col, lat_col=lat_col, lon_col=lon_col,
        earth_radius_m=earth_radius_m,
    )
    nn = knn.where(F.col("dist_m") > 0)
    out = (
        nn.orderBy("dist_m", "q_id", "r_id")
        .limit(k)
        .select(
            F.col("q_id").alias("src"),
            F.col("r_id").alias("dst"),
            F.col("dist_m"),
        )
    )
    if k > 1:
        w = Window.orderBy("dist_m", "src", "dst")
        out = out.withColumn("rank", F.row_number().over(w).cast("int"))
    return carry(out, knn)


def geo_kmeans(
    df: DataFrame,
    k: int,
    *,
    n_init: int = 1,
    max_iters: int = 20,
    tol_m: float = 1.0,
    seed: int = 7,
    sample_rows: int = 50_000,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
):
    """Spherical k-means under the great-circle metric — the centroid
    member of the geodesic clustering family (Lloyd semantics per the
    reference ``Lloyd.hpp:91-166`` + kmeans++ seeding
    ``KMeansPlusPlus.hpp:40-65``, transported to the sphere).

    Mechanics: points embed to 3-D unit vectors; centroids live ON the
    sphere (each update renormalizes the per-cluster mean — the
    spherical-k-means closed form, which minimizes summed great-circle
    distance direction-wise). Assignment by the shared chord-space
    argmin expression is EXACT for the geodesic metric because chord ↔
    arc is strictly monotone and every centroid is unit-norm, so
    argmin chord == argmin great-circle. An empty cluster keeps its
    previous centroid (``Lloyd.hpp:114-118``); a zero-mean cluster
    (members cancel exactly) does too, since the mean has no
    direction.

    Spark shape per iteration: the assignment is a pure JVM column
    expression over k literal centroids, the update is ONE
    posexplode(3) + partial-agg shuffle, and the driver touches k·3
    rows — nothing N-dependent. ``n_init`` restarts keep the min-loss
    run; early stop when every centroid moves < ``tol_m`` metres along
    the sphere.

    Returns ``(centroids, loss_m, labels)``: centroids as a (k, 2)
    lat/lon-degree array, total great-circle deviation in metres, and
    an (id, label) DataFrame."""
    import numpy as np

    from ffcl_spark.operators.kmeans import _INITS, _assign_expr_nd

    pts = geo_points(df, id_col, lat_col, lon_col)
    n = pts.count()
    m = max(1, math.ceil(n / sample_rows))
    basis = pts
    if m > 1:
        basis = pts.where(
            F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(m)) == 0
        )
    pdf = basis.select("id", "features").toPandas().sort_values("id")
    sample = np.array(pdf["features"].tolist()[:sample_rows], dtype=np.float64)
    init_fn = _INITS["pp"]

    def _one_run(cents0: np.ndarray):
        cents = cents0.copy()
        for _ in range(max_iters):
            best = _assign_expr_nd(cents, "features")
            agg = (
                pts.select(
                    best["cid"].alias("label"),
                    F.posexplode(F.col("features")).alias("pos", "val"),
                )
                .groupBy("label", "pos")
                .agg(F.avg("val").alias("m"))
                .collect()
            )
            means = cents.copy()  # empty cluster keeps previous centroid
            for row in agg:
                means[row["label"], row["pos"]] = row["m"]
            norms = np.sqrt(np.sum(means * means, axis=1))
            new_cents = cents.copy()
            ok = norms > 0
            new_cents[ok] = means[ok] / norms[ok, None]
            # centroid travel in great-circle metres (chord → arc)
            chord = np.sqrt(np.sum((new_cents - cents) ** 2, axis=1))
            move = 2.0 * EARTH_RADIUS_M * np.arcsin(
                np.minimum(1.0, chord / 2.0)
            )
            cents = new_cents
            if float(move.max(initial=0.0)) < tol_m:
                break
        best = _assign_expr_nd(cents, "features")
        arc = arc_of_chord_m(F.sqrt(best["d2"]))
        loss = pts.select(arc.alias("d")).agg(F.sum("d")).collect()[0][0]
        labels = pts.select("id", _assign_expr_nd(cents, "features")["cid"].alias("label"))
        return cents, float(loss), labels

    best_run = None
    for trial in range(n_init):
        cents0 = init_fn(sample, k, seed + trial)
        run = _one_run(cents0)
        if best_run is None or run[1] < best_run[1]:
            best_run = run
    cents, loss, labels = best_run
    latlon = np.stack(
        [
            np.degrees(np.arcsin(np.clip(cents[:, 2], -1.0, 1.0))),
            np.degrees(np.arctan2(cents[:, 1], cents[:, 0])),
        ],
        axis=1,
    )
    return latlon, loss, labels


# ------------------------------------------------------------ geodesic PIP

GEO_RING_TYPE = (
    "array<struct<lat: double, lon: double>>"
)


def _latlon(pts):
    """One ``GEO_RING_TYPE`` value (ring or path) as a float64 [n, 2]
    array of (lat, lon) rows."""
    import numpy as np

    return np.array([[v["lat"], v["lon"]] for v in pts], dtype=np.float64)


def sphere_tile_rings(n_tiles: int = 12) -> list[tuple[str, list[tuple[float, float]]]]:
    """Deterministic convex spherical tile fixture: ``n_tiles`` cap
    polygons (vertices on a small circle around a center → convex on
    the sphere), including the two adversarial placements a planar
    lat/lon treatment gets wrong — a north-pole cap and an
    antimeridian straddler. Pure NumPy (no Spark): the driver gate's
    oracle re-derives each tile's great-circle edge normals from the
    same vertices."""
    import numpy as np

    from ffcl_spark.kernels.geo import destination_point_np

    # (center lat, center lon, cap arc radius °, vertex count)
    specs = [
        (88.5, 0.0, 2.5, 6),       # pole cap: contains the north pole
        (10.0, 180.0, 4.0, 5),     # antimeridian straddler
        (-75.0, 30.0, 6.0, 4),
        (0.0, 0.0, 3.0, 7),
        (45.0, -120.0, 5.0, 6),
        (-30.0, 150.0, 8.0, 5),
        (60.0, 60.0, 4.5, 4),
        (-5.0, -60.0, 7.0, 6),
        (25.0, 95.0, 2.0, 5),
        (-50.0, -150.0, 5.5, 7),
        (70.0, -30.0, 3.5, 5),
        (-15.0, 75.0, 6.5, 4),
    ]
    out = []
    for t, (clat, clon, rad, m) in enumerate(specs[:n_tiles]):
        bearings = (np.arange(m) * (360.0 / m) + 10.0 * t) % 360.0
        lat2, lon2 = destination_point_np(clat, clon, bearings, rad)
        out.append((f"gtile-{t}", list(zip(lat2.tolist(), lon2.tolist()))))
    return out


def sphere_route_paths() -> list[tuple[str, list[tuple[float, float]]]]:
    """Deterministic worldwide polyline fixture: open great-circle
    vertex chains including the adversarial placements — a Pacific
    route crossing the antimeridian and a polar chain. Pure literals:
    the driver gate's oracle re-derives each segment's endpoint
    vectors and edge normal from the same vertices."""
    return [
        ("route-0", [(0.0, -30.0), (0.0, 30.0), (15.0, 60.0), (25.0, 85.0)]),
        ("route-1", [(10.0, 170.0), (5.0, -175.0), (-5.0, -165.0)]),
        ("route-2", [(80.0, 0.0), (85.0, 90.0), (80.0, 180.0)]),
        ("route-3", [(-45.0, -60.0), (-55.0, 0.0), (-45.0, 60.0)]),
    ]


def sphere_routes(spark) -> DataFrame:
    """The :func:`sphere_route_paths` fixture as a (line_id, path)
    DataFrame for :func:`geo_nearest_polyline`."""
    return spark.createDataFrame(
        [
            (lid, [{"lat": la, "lon": lo} for la, lo in path])
            for lid, path in sphere_route_paths()
        ],
        "line_id string, path array<struct<lat double, lon double>>",
    )


def sphere_tiles(spark, n_tiles: int = 12) -> DataFrame:
    """The :func:`sphere_tile_rings` fixture as a DataFrame
    (tile_id, ring: array<struct<lat, lon>>)."""
    rows = [
        {"tile_id": tid, "ring": [{"lat": la, "lon": lo} for la, lo in ring]}
        for tid, ring in sphere_tile_rings(n_tiles)
    ]
    return spark.createDataFrame(rows, f"tile_id string, ring {GEO_RING_TYPE}")


def sphere_tile_rings_shifted(
    arc_deg: float = 2.0, bearing_deg: float = 40.0, n_tiles: int = 12
) -> list[tuple[str, list[tuple[float, float]]]]:
    """The fixture tiles with every vertex moved ``arc_deg`` along
    ``bearing_deg`` — a deterministic partially-overlapping second
    layer for the overlay tests and gate."""
    import numpy as np

    from ffcl_spark.kernels.geo import destination_point_np

    out = []
    for tid, ring in sphere_tile_rings(n_tiles):
        moved = []
        for la0, lo0 in ring:
            la, lo = destination_point_np(la0, lo0, np.array([bearing_deg]), arc_deg)
            moved.append((float(la[0]), float(lo[0])))
        out.append((f"s-{tid}", moved))
    return out


def sphere_tiles_shifted(
    spark, arc_deg: float = 2.0, bearing_deg: float = 40.0, n_tiles: int = 12
) -> DataFrame:
    """:func:`sphere_tile_rings_shifted` as a DataFrame."""
    rows = [
        {"tile_id": tid, "ring": [{"lat": la, "lon": lo} for la, lo in ring]}
        for tid, ring in sphere_tile_rings_shifted(arc_deg, bearing_deg, n_tiles)
    ]
    return spark.createDataFrame(rows, f"tile_id string, ring {GEO_RING_TYPE}")


def _deg_of_unit(c) -> tuple[float, float]:
    """(lat, lon) degrees of the unit vector ``c``."""
    lat = math.degrees(math.asin(max(-1.0, min(1.0, float(c[2])))))
    return lat, math.degrees(math.atan2(float(c[1]), float(c[0])))


def _tile_cap_cells(c, cap_deg: float, delta_deg: float, m_table: list[int]):
    """Cell cover of a tile's bounding cap (centre ``c``, radius
    ``cap_deg``), padded so rounding never drops a covered cell."""
    clat, clon = _deg_of_unit(c)
    return S.cover_cells_py(
        clat, clon, cap_deg * (1 + 1e-9) + 1e-9, delta_deg, m_table
    )


def _tile_locals(tiles_rows, delta_deg: float, m_table: list[int]):
    """Collected tile rows → per-tile closure payload: (tile_id,
    gnomonic frame, projected ring, padded spherical cell cover)."""
    import numpy as np

    from ffcl_spark.kernels.geo import tile_frame_np

    local = []
    for row in tiles_rows:
        c, e1, e2, ring_xy, cap_deg = tile_frame_np(_latlon(row["ring"]))
        cover = np.fromiter(
            _tile_cap_cells(c, cap_deg, delta_deg, m_table), dtype=np.int64
        )
        local.append((row["tile_id"], c, e1, e2, ring_xy, cover))
    return local


def geo_pip_join(
    points: DataFrame,
    tiles: DataFrame,
    *,
    delta_deg: float = 5.0,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    closure_tile_limit: int = 4096,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Geodesic tile assignment: (id, tile_id) for every point inside
    (or on the boundary of) a spherical tile polygon — the north
    star's point-in-polygon operator under the great-circle metric.

    Tiles carry (tile_id, ring: array<struct<lat, lon>>); edges are
    minor great-circle arcs, rings convex or not, each tile smaller
    than a hemisphere (``kernels.geo.tile_frame_np`` enforces the cap
    contract). The containment test is EXACT spherical geometry with
    the planar kernel: gnomonic projection about the tile center maps
    great circles to straight lines, so ``kernels.pip``'s even-odd
    test decides arc-bounded containment with no small-angle
    approximation — poles and the antimeridian are not special cases.

    Physical plan (mirrors :func:`ffcl_spark.operators.tiles.pip_join`):
    points get a latitude-band spherical cell key (one JVM expression);
    each tile precomputes a padded cell cover of its bounding cap.

    - ≤ ``closure_tile_limit`` tiles: tile frames ship in the task
      closure; ZERO shuffle — one map-only Arrow pass over the points.
    - larger tile tables: covers are computed DISTRIBUTED (Arrow batch
      kernel over the tiles), exploded to (cell, tile) rows, and
      broadcast-joined against the point cells; the exact gnomonic
      test runs per candidate group. AQE demotes to a shuffle join if
      the tile side outgrows the broadcast threshold.

    Both sides of the cell equi-key derive from ONE Python
    ``band_m_table`` (see ``functions/sphere.py``), so cover and
    assignment can never disagree on grid topology.

    ``carry_cols``: point columns that ride through the kernel
    unchanged onto the output rows — aggregating consumers (zonal
    statistics) get their values WITHOUT a join-back shuffle on id."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ffcl_spark.kernels.geo import tile_frame_np, unit_vector_np
    from ffcl_spark.kernels.pip import points_in_polygon

    m_table = S.band_m_table(delta_deg)
    pts = points.select(
        F.col(id_col).alias("id"),
        F.col(lat_col).alias("lat"),
        F.col(lon_col).alias("lon"),
        S.sphere_cell_table(
            F.col(lat_col), F.col(lon_col), delta_deg, m_table
        ).alias("cell"),
        *[F.col(c) for c in carry_cols],
    )
    out_schema = T.StructType(
        [
            T.StructField("id", points.schema[id_col].dataType),
            T.StructField("tile_id", T.StringType()),
        ]
        + [T.StructField(c, points.schema[c].dataType) for c in carry_cols]
    )

    n_tiles = tiles.count()
    if n_tiles <= closure_tile_limit:
        local = _tile_locals(
            tiles.select("tile_id", "ring").collect(), delta_deg, m_table
        )

        def kernel(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                cells = pdf["cell"].to_numpy()
                p = unit_vector_np(
                    pdf["lat"].to_numpy(), pdf["lon"].to_numpy()
                )
                ids = pdf["id"]
                outs = []
                for tile_id, c, e1, e2, ring_xy, cover in local:
                    cand = np.isin(cells, cover)
                    if not cand.any():
                        continue
                    idx = np.nonzero(cand)[0]
                    t = p[idx] @ c
                    ok = t > 1e-12
                    if not ok.any():
                        continue
                    idx = idx[ok]
                    x = (p[idx] @ e1) / t[ok]
                    y = (p[idx] @ e2) / t[ok]
                    mask = points_in_polygon(x, y, ring_xy)
                    if mask.any():
                        hit = idx[mask]
                        row = {"id": ids.iloc[hit], "tile_id": tile_id}
                        for cc in carry_cols:
                            row[cc] = pdf[cc].iloc[hit].to_numpy()
                        outs.append(pd.DataFrame(row))
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        return pts.mapInPandas(kernel, out_schema)

    # large tile tables: distributed cover computation, broadcast join
    t_cov = sphere_rasterize(tiles, delta_deg, m_table=m_table)
    cand = pts.join(F.broadcast(t_cov), "cell").select(
        "id", "lat", "lon", "tile_id", "ring", *[F.col(c) for c in carry_cols]
    )

    def verify_kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            outs = []
            for tile_id, grp in pdf.groupby("tile_id", sort=False):
                c, e1, e2, ring_xy, _ = tile_frame_np(_latlon(grp["ring"].iloc[0]))
                p = unit_vector_np(
                    grp["lat"].to_numpy(), grp["lon"].to_numpy()
                )
                t = p @ c
                ok = t > 1e-12
                if not ok.any():
                    continue
                x = (p[ok] @ e1) / t[ok]
                y = (p[ok] @ e2) / t[ok]
                mask = points_in_polygon(x, y, ring_xy)
                if mask.any():
                    row = {
                        "id": grp["id"].to_numpy()[ok][mask],
                        "tile_id": tile_id,
                    }
                    for cc in carry_cols:
                        row[cc] = grp[cc].to_numpy()[ok][mask]
                    outs.append(pd.DataFrame(row))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return cand.mapInPandas(verify_kernel, out_schema)


def geo_zonal_stats(
    points: DataFrame,
    tiles: DataFrame,
    values: tuple[str, ...] = (),
    *,
    delta_deg: float = 5.0,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    closure_tile_limit: int = 4096,
) -> DataFrame:
    """Zonal statistics under the great-circle metric: per spherical
    tile, the point count plus sum/min/max of each ``values`` column —
    the classic raster/vector zonal-stats operator a tiling engine
    serves (counts per zone, total payload bytes per zone, extreme
    values per zone).

    Plan: the exact gnomonic PIP pass with the value columns riding
    the kernel (``carry_cols`` — no join-back shuffle on id), then one
    partial aggregation whose shuffle is |tiles| rows: map-side
    combine reduces each task's output to one row per tile before
    anything moves. A point inside several overlapping tiles counts in
    each (PIP semantics, not nearest-assignment — use
    :func:`geo_nearest_tile` + groupBy for partition-of-space zones).

    Exactness contract: counts and integer sums are order-free exact;
    float sums carry the usual reorder caveat (min/max are exact)."""
    asg = geo_pip_join(
        points,
        tiles,
        delta_deg=delta_deg,
        id_col=id_col,
        lat_col=lat_col,
        lon_col=lon_col,
        closure_tile_limit=closure_tile_limit,
        carry_cols=tuple(values),
    )
    aggs = [F.count(F.lit(1)).alias("n_points")]
    for c in values:
        aggs += [
            F.sum(c).alias(f"sum_{c}"),
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
        ]
    return asg.groupBy("tile_id").agg(*aggs)


def nearest_tile_locals(tiles: DataFrame) -> list[tuple]:
    """Collect a (bounded) tile table into the per-tile closure payload
    :func:`geo_nearest_tile` ships to tasks: (tile_id, gnomonic frame,
    projected ring, vertex ring), sorted by tile_id (the tie order).
    Iterative/streaming callers compute this ONCE and pass it via
    ``tile_locals=`` so a static tile set is not re-collected per
    epoch (the ``hot_coarse_groups`` hoisting discipline)."""
    import numpy as np

    from ffcl_spark.kernels.geo import tile_frame_np

    rows = sorted(
        tiles.select("tile_id", "ring").collect(), key=lambda r: r["tile_id"]
    )
    local = []
    for row in rows:
        ring = _latlon(row["ring"])
        c, e1, e2, ring_xy, cap_deg = tile_frame_np(ring)
        local.append(
            (row["tile_id"], c, e1, e2, ring_xy, ring, np.radians(cap_deg))
        )
    return local


def geo_nearest_tile(
    points: DataFrame,
    tiles: DataFrame | None,
    *,
    max_dist_m: float | None = None,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    earth_radius_m: float = EARTH_RADIUS_M,
    tile_locals: list[tuple] | None = None,
) -> DataFrame:
    """Nearest spherical tile per point: (id, tile_id, dist_m) where
    ``dist_m`` is the great-circle distance to the tile REGION (0 for
    points inside or on the boundary), ties broken by ascending
    tile_id. The geodesic twin of ``tiles.nearest_tile`` — the
    nearest-zone assignment a tiling engine needs when no tile
    contains the point.

    Exact spherical geometry: containment via the gnomonic even-odd
    kernel (great circles → straight lines), boundary distance via
    per-edge perpendicular-foot / endpoint resolution
    (``kernels.geo.arc_boundary_distance_np``). MAP-ONLY plan: tile
    frames ship in the task closure (bounded tile-table contract,
    same as the planar literal fold); one Arrow pass over the points,
    no join, no shuffle. ``max_dist_m`` drops assignments farther than
    the cap (the bounded-search form). ``tile_locals``: precomputed
    :func:`nearest_tile_locals` payload for callers with a static tile
    set (streaming epochs) — skips the per-call collect."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ffcl_spark.kernels.geo import arc_boundary_distance_np, unit_vector_np
    from ffcl_spark.kernels.pip import points_in_polygon

    local = (
        tile_locals if tile_locals is not None else nearest_tile_locals(tiles)
    )

    pts = points.select(
        F.col(id_col).alias("id"),
        F.col(lat_col).alias("lat"),
        F.col(lon_col).alias("lon"),
    )
    out_schema = T.StructType(
        [
            T.StructField("id", points.schema[id_col].dataType),
            T.StructField("tile_id", T.StringType()),
            T.StructField("dist_m", T.DoubleType()),
        ]
    )

    # lazy sequential argmin (r6): tiles are scanned in ascending
    # tile_id with a strictly-better running minimum — identical
    # verdicts to the old full distance matrix + first-min argmin, but
    # (a) points already resolved at distance 0 (inside an earlier
    # tile — the common case with a covering tile set) skip every
    # remaining tile's exact boundary-distance evaluation, and (b) a
    # per-tile CAP lower bound (angle to the tile center minus the cap
    # radius, with a 1 cm slack dominating all rounding) skips tiles
    # that provably cannot beat the running best. Guide §1.2: cut
    # per-task work after the plan shape (map-only, no shuffle) is
    # already right.
    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            p = unit_vector_np(pdf["lat"].to_numpy(), pdf["lon"].to_numpy())
            n = len(pdf)
            best_d = np.full(n, np.inf)
            best_j = np.zeros(n, dtype=np.int64)
            for j, (_, c, e1, e2, ring_xy, ring, cap_rad) in enumerate(local):
                active = np.nonzero(best_d > 0.0)[0]
                if len(active) == 0:
                    break
                pa = p[active]
                ct = pa @ c
                lb_m = (np.arccos(np.clip(ct, -1.0, 1.0)) - cap_rad) * earth_radius_m
                cand = lb_m - 0.01 <= best_d[active]
                if not cand.any():
                    continue
                act = active[cand]
                pa = pa[cand]
                ct = ct[cand]
                d = arc_boundary_distance_np(pa, ring) * earth_radius_m
                ok = ct > 1e-12
                if ok.any():
                    x = (pa[ok] @ e1) / ct[ok]
                    y = (pa[ok] @ e2) / ct[ok]
                    inside = points_in_polygon(x, y, ring_xy)
                    d[np.nonzero(ok)[0][inside]] = 0.0
                upd = d < best_d[act]
                tgt = act[upd]
                best_d[tgt] = d[upd]
                best_j[tgt] = j
            out = pd.DataFrame(
                {
                    "id": pdf["id"],
                    "tile_id": [local[j][0] for j in best_j],
                    "dist_m": best_d,
                }
            )
            if max_dist_m is not None:
                out = out[out["dist_m"] <= max_dist_m]
            if len(out):
                yield out

    return pts.mapInPandas(kernel, out_schema)


def sphere_cell_rollup(
    points: DataFrame,
    deltas: tuple[float, ...] = (2.0, 8.0, 30.0),
    *,
    ts_col: str | None = None,
    bucket: str = "hour",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Multi-resolution (and optionally spatiotemporal) occupancy
    rollup on the sphere: per grid LEVEL (one per ``deltas`` band
    height), per spherical cell — and per ``bucket`` time window when
    ``ts_col`` is given — the point count and tight lat/lon bbox. The
    geodesic member of the hypertable-rollup family
    (``sources/points.cell_rollup`` is the planar quad-tree form).

    Latitude-band grids do NOT nest across band heights (each level's
    per-band longitude split ``m(b)`` is independent), so coarse
    levels cannot re-aggregate fine partials the way the planar
    quad-tree does; instead ONE scan materializes every level's cell
    key as an array and explodes it — map-side expansion is
    ``len(deltas)`` (small), then one partial aggregation whose
    shuffle is bounded by occupied (level, cell[, window]) keys. Count
    and min/max are order-free exact at any parallelism."""
    keys = [
        S.sphere_cell_table(
            F.col(lat_col), F.col(lon_col), d, S.band_m_table(d)
        )
        for d in deltas
    ]
    base = points.select(
        F.col(lat_col).alias("lat"),
        F.col(lon_col).alias("lon"),
        F.posexplode(F.array(*keys)).alias("level", "cell"),
        *([F.date_trunc(bucket, F.col(ts_col)).alias("window")] if ts_col else []),
    )
    group = ["level", "cell"] + (["window"] if ts_col else [])
    return base.groupBy(*group).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("lat").alias("lat_min"),
        F.max("lat").alias("lat_max"),
        F.min("lon").alias("lon_min"),
        F.max("lon").alias("lon_max"),
    )


def polyline_locals(lines: DataFrame) -> list[tuple]:
    """Collect a (bounded) polyline table — (line_id, path:
    array<struct<lat, lon>>) — into the per-line closure payload
    :func:`geo_nearest_polyline` and :func:`geo_map_match` ship to
    tasks, sorted by line_id (the tie order). Iterative callers of
    :func:`geo_map_match` compute this ONCE (``line_locals=``)."""
    rows = sorted(
        lines.select("line_id", "path").collect(), key=lambda r: r["line_id"]
    )
    return [(row["line_id"], _latlon(row["path"])) for row in rows]


def geo_nearest_polyline(
    points: DataFrame,
    lines: DataFrame | None,
    *,
    max_dist_m: float | None = None,
    plan: str = "closure",
    delta_deg: float | None = None,
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    earth_radius_m: float = EARTH_RADIUS_M,
) -> DataFrame:
    """Snap each point to its nearest great-circle polyline (route,
    coastline, transmission line): (id, line_id, dist_m), ties by
    ascending line_id, ``max_dist_m`` drops points farther than the
    cap (the map-matching candidate filter). Lines are OPEN vertex
    chains — segments are minor great-circle arcs; the distance is the
    exact per-edge perpendicular-foot / endpoint resolution
    (``kernels.geo.arc_boundary_distance_np(closed=False)``), so
    antimeridian-crossing and polar routes are not special cases.

    ``plan="closure"`` (default): MAP-ONLY, mirroring
    :func:`geo_nearest_tile` — line vertex arrays ride the task
    closure (bounded line-table contract), one Arrow pass over the
    points, no join, no shuffle.

    ``plan="cover"`` (requires ``max_dist_m``): the million-route
    scale path — each route's ``max_dist_m`` neighborhood is
    rasterized DISTRIBUTED to spherical cells (slerp-subdivided
    samples, padded caps — conservative superset), broadcast-joined
    against the point cells, and only the candidate (point, route)
    pairs pay the exact kernel; the per-point argmin is one
    ``min_by``-style struct aggregation. Every point whose true
    nearest route is within the cap has that route among its
    candidates (cover-superset invariant), so the plans are
    result-identical (pinned)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ffcl_spark.kernels.geo import arc_boundary_distance_np, unit_vector_np

    if plan == "cover":
        if max_dist_m is None:
            raise ValueError("plan='cover' requires max_dist_m (the candidate cap)")
        return _nearest_polyline_cover(
            points, lines, max_dist_m,
            delta_deg=delta_deg, id_col=id_col, lat_col=lat_col,
            lon_col=lon_col, earth_radius_m=earth_radius_m,
        )
    if plan != "closure":
        raise ValueError(f"unknown plan {plan!r}")

    local = polyline_locals(lines)

    pts = points.select(
        F.col(id_col).alias("id"),
        F.col(lat_col).alias("lat"),
        F.col(lon_col).alias("lon"),
    )
    out_schema = T.StructType(
        [
            T.StructField("id", points.schema[id_col].dataType),
            T.StructField("line_id", T.StringType()),
            T.StructField("dist_m", T.DoubleType()),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            p = unit_vector_np(pdf["lat"].to_numpy(), pdf["lon"].to_numpy())
            dmat = np.empty((len(pdf), len(local)), dtype=np.float64)
            for j, (_, path) in enumerate(local):
                dmat[:, j] = (
                    arc_boundary_distance_np(p, path, closed=False)
                    * earth_radius_m
                )
            best = dmat.argmin(axis=1)  # first minimum = smallest line_id
            out = pd.DataFrame(
                {
                    "id": pdf["id"],
                    "line_id": [local[j][0] for j in best],
                    "dist_m": dmat[np.arange(len(pdf)), best],
                }
            )
            if max_dist_m is not None:
                out = out[out["dist_m"] <= max_dist_m]
            if len(out):
                yield out

    return pts.mapInPandas(kernel, out_schema)


def _nearest_polyline_cover(
    points: DataFrame,
    lines: DataFrame,
    max_dist_m: float,
    *,
    delta_deg: float | None,
    id_col: str,
    lat_col: str,
    lon_col: str,
    earth_radius_m: float,
) -> DataFrame:
    """Cover-plan body of :func:`geo_nearest_polyline` (``plan="cover"``).

    Route rasterization (distributed Arrow kernel — a million-route
    table never funnels through the driver): each segment is
    slerp-subdivided into sub-arcs of length ≤ one cell height; each
    sample contributes its spherical-cap cell cover padded by
    ``max_dist + step/2``. Any point within ``max_dist`` of the route
    is within ``max_dist + step/2`` of SOME sample, so it lands in a
    covered cell — the conservative-superset contract every candidate
    generator in the engine carries. Exact per-candidate verification
    uses the same open-chain kernel as the closure plan, so the two
    plans are bitwise result-identical; the per-point argmin is a
    struct-min aggregation (dist, then line_id — the deterministic tie
    order)."""
    import math as _math

    import numpy as np
    import pandas as pd

    from ffcl_spark.kernels.geo import arc_boundary_distance_np, unit_vector_np

    r_deg = _math.degrees(max_dist_m / earth_radius_m)
    if delta_deg is None:
        delta_deg = min(max(r_deg, 0.5), 30.0)
    m_table = S.band_m_table(delta_deg)
    step_rad = _math.radians(delta_deg)
    pad_deg = (
        r_deg * (1 + 1e-9)
        + _math.degrees(step_rad) / 2.0
        + 1e-9
    )

    def route_cells(path) -> set[int]:
        v = unit_vector_np(path[:, 0], path[:, 1])
        cells: set[int] = set()
        for a, b in zip(v[:-1], v[1:]):
            ang = _math.atan2(float(np.linalg.norm(np.cross(a, b))), float(a @ b))
            m = max(2, _math.ceil(ang / step_rad) + 1)
            ts = np.linspace(0.0, 1.0, m)
            if ang < 1e-12:
                s = np.broadcast_to(a, (m, 3)).copy()
            else:
                s = (
                    np.sin((1 - ts) * ang)[:, None] * a
                    + np.sin(ts * ang)[:, None] * b
                ) / _math.sin(ang)
                s /= np.linalg.norm(s, axis=1)[:, None]
            lats = np.degrees(np.arcsin(np.clip(s[:, 2], -1.0, 1.0)))
            lons = np.degrees(np.arctan2(s[:, 1], s[:, 0]))
            for la, lo in zip(lats, lons):
                cells |= S.cover_cells_py(
                    float(la), float(lo), pad_deg, delta_deg, m_table
                )
        return cells

    line_cov = _cover_rows(lines, "line_id", "path", route_cells)

    pts = points.select(
        F.col(id_col).alias("id"),
        F.col(lat_col).alias("lat"),
        F.col(lon_col).alias("lon"),
        S.sphere_cell_table(
            F.col(lat_col), F.col(lon_col), delta_deg, m_table
        ).alias("cell"),
    )
    cand = pts.join(F.broadcast(line_cov), "cell").select(
        "id", "lat", "lon", "line_id", "path"
    )

    from pyspark.sql import types as T

    ver_schema = T.StructType(
        [
            T.StructField("id", points.schema[id_col].dataType),
            T.StructField("line_id", T.StringType()),
            T.StructField("dist_m", T.DoubleType()),
        ]
    )

    def verify_kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            outs = []
            for line_id, grp in pdf.groupby("line_id", sort=False):
                path = _latlon(grp["path"].iloc[0])
                p = unit_vector_np(grp["lat"].to_numpy(), grp["lon"].to_numpy())
                d = arc_boundary_distance_np(p, path, closed=False) * earth_radius_m
                keep = d <= max_dist_m
                if keep.any():
                    outs.append(
                        pd.DataFrame(
                            {
                                "id": grp["id"].to_numpy()[keep],
                                "line_id": line_id,
                                "dist_m": d[keep],
                            }
                        )
                    )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    verified = cand.mapInPandas(verify_kernel, ver_schema)
    best = F.min(F.struct(F.col("dist_m"), F.col("line_id"))).alias("b")
    return (
        verified.groupBy("id")
        .agg(best)
        .select("id", F.col("b.line_id").alias("line_id"),
                F.col("b.dist_m").alias("dist_m"))
    )


def sphere_rasterize(
    tiles: DataFrame, delta_deg: float, *, m_table: list[int] | None = None
) -> DataFrame:
    """Spherical raster form of a tile table: (tile_id, ring, cell) —
    one row per latitude-band grid cell in the tile's padded
    bounding-cap cover (a conservative superset, the candidate-
    generation contract; the planar twin is ``tiles.rasterize``).
    Covers are computed DISTRIBUTED in an Arrow batch kernel, so a
    million-tile table never funnels through the driver."""
    from ffcl_spark.kernels.geo import tile_frame_np

    if m_table is None:
        m_table = S.band_m_table(delta_deg)

    def tile_cells(ring) -> set[int]:
        c, _, _, _, cap_deg = tile_frame_np(ring)
        return _tile_cap_cells(c, cap_deg, delta_deg, m_table)

    return _cover_rows(tiles, "tile_id", "ring", tile_cells)


def _cover_rows(geoms: DataFrame, id_col: str, geom_col: str, cells_fn) -> DataFrame:
    """(``id_col``, ``geom_col``, cell) rows: each geometry repeated
    over the cell set ``cells_fn`` returns for its (lat, lon) vertex
    array — the distributed Arrow kernel behind every raster and cover
    candidate generator (a million-row table never reaches the
    driver)."""
    import numpy as np
    import pandas as pd

    def cover_kernel(batches):
        for pdf in batches:
            outs = []
            for gid, geom in zip(pdf[id_col], pdf[geom_col]):
                cells = cells_fn(_latlon(geom))
                outs.append(
                    pd.DataFrame(
                        {
                            id_col: gid,
                            geom_col: [geom] * len(cells),
                            "cell": np.fromiter(cells, dtype=np.int64),
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    schema = f"{id_col} string, {geom_col} {GEO_RING_TYPE}, cell long"
    return geoms.select(id_col, geom_col).mapInPandas(cover_kernel, schema)


def sphere_tile_raster(
    tiles: DataFrame, delta_deg: float, *, m_table: list[int] | None = None
) -> DataFrame:
    """EXACT vector→raster under the GIS cell-center rule: (tile_id,
    cell) for every latitude-band grid cell whose CENTER lies inside
    (or on the boundary of) the tile — the deterministic rasterization
    the raster↔vector loop needs, distinct from
    :func:`sphere_rasterize`'s conservative padded cover (that one is
    the candidate-generation superset; this one is the exact raster).

    Plan: candidate cells from the distributed cover, their centers
    from one JVM expression (`functions.sphere.cell_center`), then the
    gate-proven gnomonic even-odd containment kernel decides each
    center exactly (:func:`geo_pip_join` — map-only for bounded tile
    tables, broadcast-cover path beyond). Cost scales with covered
    cells, never with the grid."""
    from ffcl_spark.functions import sphere as S

    cand = (
        sphere_rasterize(tiles, delta_deg, m_table=m_table)
        .select("cell")
        .distinct()
    )
    centers = cand.select(
        F.col("cell").alias("id"),
        S.cell_center(F.col("cell"), delta_deg).alias("c"),
    ).select("id", F.col("c.lat").alias("lat"), F.col("c.lon").alias("lon"))
    return geo_pip_join(centers, tiles, delta_deg=delta_deg).select(
        "tile_id", F.col("id").alias("cell")
    )


def raster_to_tiles(
    cells: DataFrame, delta_deg: float, *, cell_col: str = "cell"
) -> DataFrame:
    """Raster→vector: each grid cell as a tile row (tile_id =
    'cell-<id>', ring = the cell's exact lat/lon rectangle corners,
    CCW) — pure JVM column expressions, no Python, no shuffle. The
    inverse face of :func:`sphere_tile_raster`: occupancy rollups,
    probe covers, and rasterized footprints become polygon tables the
    measure/PIP/overlay family consumes.

    Geometry caveat (documented, inherent to any raster→vector): the
    cell's north/south edges are PARALLELS, while the tile family
    interprets ring edges as great-circle arcs — exact for the
    east/west (meridian) edges, a one-cell-height approximation for
    the other two at coarse ``delta_deg``. Use
    ``functions.sphere.cell_area_m2`` (Archimedes hat-box, exact) for
    areas rather than the ring shoelace."""
    from ffcl_spark.functions import sphere as S

    b = S.cell_bounds(F.col(cell_col), delta_deg)

    def v(lat, lon):
        return F.struct(lat.alias("lat"), lon.alias("lon"))

    ring = F.array(
        v(b["lat_lo"], b["lon_lo"]),
        v(b["lat_lo"], b["lon_hi"]),
        v(b["lat_hi"], b["lon_hi"]),
        v(b["lat_hi"], b["lon_lo"]),
    )
    return cells.select(
        F.concat(F.lit("cell-"), F.col(cell_col).cast("string")).alias(
            "tile_id"
        ),
        ring.alias("ring"),
        F.col(cell_col),
    )


def sphere_overlay_join(
    tiles_a: DataFrame,
    tiles_b: DataFrame,
    delta_deg: float = 5.0,
) -> DataFrame:
    """Spherical polygon-polygon overlay: (a_id, b_id) pairs of tiles
    that share at least one point (boundary touch counts) — the
    geodesic twin of ``tiles.overlay_join``, exact great-circle
    geometry throughout.

    Candidates come from the spherical raster form: both sides explode
    over their padded cap-cover cells (``sphere_rasterize``, computed
    DISTRIBUTED) and equi-join on the latitude-band cell key. The
    cover is a conservative superset, so intersecting tiles always
    share a cell — no false negatives; pair work is candidate-bounded,
    never |A|·|B|. The exact test runs Arrow-batched per candidate
    pair (``kernels.geo.sphere_polys_intersect``: transversal arc
    crossings via ±(n̂1×n̂2) within-both-arcs sign tests, a
    same-great-circle overlap branch, and mutual vertex containment
    via the gnomonic kernel). Poles and the antimeridian are not
    special cases. Self-pairs appear when both sides are one table."""
    import pandas as pd
    from pyspark.sql import types as T

    from ffcl_spark.kernels.geo import sphere_polys_intersect

    m_table = S.band_m_table(delta_deg)
    a = sphere_rasterize(tiles_a, delta_deg, m_table=m_table).select(
        F.col("tile_id").alias("a_id"), F.col("ring").alias("ring_a"), "cell"
    )
    b = sphere_rasterize(tiles_b, delta_deg, m_table=m_table).select(
        F.col("tile_id").alias("b_id"), F.col("ring").alias("ring_b"), "cell"
    )
    cand = a.join(b, "cell").dropDuplicates(["a_id", "b_id"])

    out_schema = T.StructType(
        [T.StructField("a_id", T.StringType()), T.StructField("b_id", T.StringType())]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep_a, keep_b = [], []
            for row in pdf.itertuples(index=False):
                if sphere_polys_intersect(_latlon(row.ring_a), _latlon(row.ring_b)):
                    keep_a.append(row.a_id)
                    keep_b.append(row.b_id)
            if keep_a:
                yield pd.DataFrame({"a_id": keep_a, "b_id": keep_b})

    return cand.select("a_id", "b_id", "ring_a", "ring_b").mapInPandas(
        kernel, out_schema
    )


class _Chain(NamedTuple):
    """One vertex chain (route, or tile ring) as the polyline family's
    pair kernels see it: its (lat, lon) rows, their unit vectors and
    its bounding cap (:func:`_chain_cap`)."""

    latlon: Any
    v: Any
    c: Any
    r: float


def _chain_cap(v) -> tuple[Any, float]:
    """Bounding cap of the unit vectors ``v`` [n, 3]: (centre, radius
    rad) — the normalised vertex mean and the largest arc from it, or
    radius π (no usable cap) when the mean vanishes."""
    import numpy as np

    c = v.mean(axis=0)
    nrm = float(np.linalg.norm(c))
    if not nrm > 0:
        return c, float(np.pi)
    c = c / nrm
    return c, float(np.arccos(np.clip(v @ c, -1.0, 1.0)).max())


def _chain(pts) -> _Chain:
    """A ``GEO_RING_TYPE`` value as a :class:`_Chain` record."""
    from ffcl_spark.kernels.geo import unit_vector_np

    latlon = _latlon(pts)
    v = unit_vector_np(latlon[:, 0], latlon[:, 1])
    return _Chain(latlon, v, *_chain_cap(v))


def _ang(u, w) -> float:
    """Great-circle angle (rad) between the unit vectors ``u`` and ``w``."""
    import numpy as np

    return float(np.arctan2(np.linalg.norm(np.cross(u, w)), float(u @ w)))


def _caps_apart(a: _Chain, b: _Chain) -> bool:
    """True when two chains provably share no point because their caps
    are apart. Only caps of radius ≤ π/2 prove it: such a cap is
    geodesically convex, so it holds every minor arc between its
    vertices, while a chain spanning more than a hemisphere has arcs
    that leave its vertex cap."""
    import numpy as np

    if not (a.r <= np.pi / 2 and b.r <= np.pi / 2):
        return False
    return float(np.arccos(np.clip(a.c @ b.c, -1.0, 1.0))) > a.r + b.r + 1e-9


def _line_pair_join(
    stream: DataFrame,
    bounded: DataFrame,
    pair_fn,
    *,
    self_join: bool = False,
    id_col: str = "line_id",
    geom_col: str = "path",
    other_col: str = "other_id",
    value_fields: tuple[str, ...] = (),
) -> DataFrame:
    """The polyline family's pair join: (line_id, ``other_col``,
    *``value_fields``) for every streamed (line_id, path) chain ``a``
    and bounded (``id_col``, ``geom_col``) chain ``b`` for which
    ``pair_fn(a, b)`` returns a tuple of doubles (empty for a plain
    match) rather than None. Both arguments are :class:`_Chain`
    records, so the pair kernel can prune on the caps before its exact
    test; ``other_col`` takes the bounded id's type.

    MAP-ONLY plan: the bounded side is collected once, sorted by id,
    and rides the task closure (the bounded-table contract of the
    closure family); the streamed side is one Arrow pass, no join, no
    shuffle. Self-join form (``self_join``, ``bounded`` being the
    streamed table): each unordered pair once, line_id < other id."""
    import pandas as pd
    from pyspark.sql import types as T

    rows = sorted(
        bounded.select(id_col, geom_col).collect(), key=lambda r: r[id_col]
    )
    local = [(row[id_col], _chain(row[geom_col])) for row in rows]
    out_schema = T.StructType(
        [
            T.StructField("line_id", stream.schema["line_id"].dataType),
            T.StructField(other_col, bounded.schema[id_col].dataType),
        ]
        + [T.StructField(f, T.DoubleType()) for f in value_fields]
    )
    names = out_schema.fieldNames()

    def kernel(batches):
        for pdf in batches:
            out = []
            for lid, path in zip(pdf["line_id"], pdf["path"]):
                a = _chain(path)
                for oid, b in local:
                    if self_join and not lid < oid:
                        continue
                    vals = pair_fn(a, b)
                    if vals is not None:
                        out.append((lid, oid, *vals))
            if out:
                yield pd.DataFrame(out, columns=names)

    return stream.select("line_id", "path").mapInPandas(kernel, out_schema)


def geo_line_tile_join(lines: DataFrame, tiles: DataFrame) -> DataFrame:
    """Polyline ↔ tile crossing join: (line_id, tile_id) for every
    route whose open great-circle vertex chain meets the tile —
    interior passage or boundary touch (the routes-crossing-zones
    join completing the engine's spherical join matrix: point↔tile =
    :func:`geo_pip_join`, tile↔tile = :func:`sphere_overlay_join`,
    point↔line = :func:`geo_nearest_polyline`, line↔tile = here).

    Exactness: per candidate pair the decision is
    ``kernels.geo.sphere_chain_poly_intersect`` — transversal
    great-circle arc sign tests + the gnomonic containment witness,
    no small-angle or planar approximation; antimeridian-crossing and
    polar routes are not special cases.

    Plan: :func:`_line_pair_join` with the tiles as the bounded side;
    pairs whose caps are apart (:func:`_caps_apart`) skip the exact
    kernel, never a touching pair."""
    from ffcl_spark.kernels.geo import sphere_chain_poly_intersect

    def pair(a: _Chain, t: _Chain):
        if _caps_apart(a, t) or not sphere_chain_poly_intersect(a.latlon, t.latlon):
            return None
        return ()

    return _line_pair_join(
        lines, tiles, pair, id_col="tile_id", geom_col="ring", other_col="tile_id"
    )


def sphere_vectorize(
    cells: DataFrame,
    delta_deg: float,
    *,
    cell_col: str = "cell",
    m_table: list[int] | None = None,
) -> DataFrame:
    """Vector form of spherical grid cells: (cell, ring) where ring is
    the cell's lat/lon bounding quad (closed, counterclockwise) — the
    sphere twin of ``tiles.vectorize``. Pure column arithmetic off the
    packed cell id; the band's longitude split comes from the same
    literal ``band_m_table`` used at assignment time."""
    if m_table is None:
        m_table = S.band_m_table(delta_deg)
    band = (F.col(cell_col) / F.lit(S._BAND_SHIFT)).cast("long")
    j = F.col(cell_col) % F.lit(S._BAND_SHIFT)
    m = F.element_at(F.lit(m_table), (band + 1).cast("int")).cast("double")
    lat_lo = band.cast("double") * F.lit(delta_deg) - F.lit(90.0)
    lat_hi = F.least(F.lit(90.0), lat_lo + F.lit(delta_deg))
    lon_lo = j.cast("double") * F.lit(360.0) / m - F.lit(180.0)
    lon_hi = (j + 1).cast("double") * F.lit(360.0) / m - F.lit(180.0)

    def pt(lat, lon):
        return F.struct(lat.alias("lat"), lon.alias("lon"))

    ring = F.array(
        pt(lat_lo, lon_lo),
        pt(lat_lo, lon_hi),
        pt(lat_hi, lon_hi),
        pt(lat_hi, lon_lo),
        pt(lat_lo, lon_lo),
    )
    return cells.select(F.col(cell_col).alias("cell"), ring.alias("ring"))


def sphere_tile_measures(
    tiles: DataFrame, earth_radius_m: float = EARTH_RADIUS_M
) -> DataFrame:
    """(tile_id, area_m2, perimeter_m, clat, clon): exact spherical
    measures per tile — the geodesic twin of ``tiles.tile_measures``.
    Area = |signed solid angle|·R² (Van Oosterom–Strackee fan, exact
    for simple polygons, convex or not), perimeter = Σ great-circle
    edge arcs·R, (clat, clon) = the tile's gnomonic frame center (the
    normalized vertex mean — the anchor every other geo-tile operator
    uses, not the mass centroid). MAP-ONLY Arrow pass over the tile
    table — no join, no shuffle."""
    import pandas as pd
    from pyspark.sql import types as T

    from ffcl_spark.kernels.geo import sphere_ring_measures, tile_frame_np

    out_schema = T.StructType(
        [
            T.StructField("tile_id", T.StringType()),
            T.StructField("area_m2", T.DoubleType()),
            T.StructField("perimeter_m", T.DoubleType()),
            T.StructField("clat", T.DoubleType()),
            T.StructField("clon", T.DoubleType()),
        ]
    )
    r2 = earth_radius_m * earth_radius_m

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for row in pdf.itertuples(index=False):
                ring = _latlon(row.ring)
                omega, per = sphere_ring_measures(ring)
                c, *_ = tile_frame_np(ring)
                rows.append(
                    (row.tile_id, omega * r2, per * earth_radius_m, *_deg_of_unit(c))
                )
            yield pd.DataFrame(
                rows, columns=["tile_id", "area_m2", "perimeter_m", "clat", "clon"]
            )

    return tiles.select("tile_id", "ring").mapInPandas(kernel, out_schema)


def sphere_route_paths_b() -> list[tuple[str, list[tuple[float, float]]]]:
    """Deterministic second polyline family for the line ↔ line
    crossing join: one chain cutting each of the first four fixture
    routes (equatorial, antimeridian, polar, southern legs) plus a
    far-from-everything negative. Margins audited against
    :func:`sphere_route_paths` (see the gate's llpairs CTE comment)."""
    return [
        ("xroute-0", [(-10.0, 10.0), (15.0, 5.0)]),
        ("xroute-1", [(-3.0, -170.0), (12.0, -179.0)]),
        ("xroute-2", [(81.0, 60.0), (88.0, 120.0)]),
        ("xroute-3", [(40.0, -100.0), (50.0, -80.0)]),
        ("xroute-4", [(-60.0, -5.0), (-45.0, 5.0)]),
    ]


def sphere_routes_b(spark) -> DataFrame:
    """The :func:`sphere_route_paths_b` fixture as a (line_id, path)
    DataFrame."""
    return spark.createDataFrame(
        [
            (lid, [{"lat": la, "lon": lo} for la, lo in path])
            for lid, path in sphere_route_paths_b()
        ],
        "line_id string, path array<struct<lat double, lon double>>",
    )


def geo_line_line_join(
    lines_a: DataFrame, lines_b: DataFrame | None = None
) -> DataFrame:
    """Polyline ↔ polyline crossing join: (line_id, other_id) for
    every pair of open great-circle vertex chains that share at least
    one point — the route-intersection join completing the engine's
    spherical join matrix (point↔point = radius/kNN, point↔tile =
    :func:`geo_pip_join`, point↔line = :func:`geo_nearest_polyline`,
    tile↔tile = :func:`sphere_overlay_join`, line↔tile =
    :func:`geo_line_tile_join`, line↔line = here).

    Exactness: per candidate pair the decision is
    ``kernels.geo.sphere_chains_cross`` — transversal great-circle
    sign tests plus the same-great-circle overlap branch; chains have
    no interior, so no containment term exists. Antimeridian-crossing
    and polar routes are not special cases (everything runs in unit-
    vector space).

    Self-join form (``lines_b=None``): pairs within ``lines_a`` with
    ``line_id < other_id`` — touching-at-a-shared-vertex counts, a
    route never pairs with itself.

    Plan: :func:`_line_pair_join` with ``lines_b`` as the bounded side;
    pairs whose caps are apart (:func:`_caps_apart`) skip the exact
    kernel, never a touching pair."""
    from ffcl_spark.kernels.geo import sphere_chains_cross

    def pair(a: _Chain, b: _Chain):
        if _caps_apart(a, b) or not sphere_chains_cross(a.latlon, b.latlon):
            return None
        return ()

    self_join = lines_b is None
    return _line_pair_join(
        lines_a, lines_a if self_join else lines_b, pair, self_join=self_join
    )


def simplify_polylines(
    lines: DataFrame,
    tol_m: float,
    *,
    earth_radius_m: float = EARTH_RADIUS_M,
) -> DataFrame:
    """Douglas–Peucker polyline simplification under the exact
    great-circle metric (the ST_Simplify of the geodesic family):
    per route, drop every vertex lying within ``tol_m`` metres of the
    chord arc of its containing kept-vertex pair — the vertex-budget
    reducer for million-route tables feeding
    :func:`geo_nearest_polyline`'s cover plan, :func:`geo_line_tile_join`,
    or :func:`geo_line_line_join` (candidate-generation cost in all
    three scales with vertex count, and the simplification error bound
    composes additively with their caps/pads).

    Semantics (``kernels.geo.sphere_simplify_indices_np``): endpoints
    always survive; the split vertex is the first index attaining the
    maximum deviation (deterministic under ties); every ORIGINAL
    vertex ends within ``tol_m`` of the simplified chain — the
    deviation test is the exact perpendicular-foot / endpoint
    resolution, not a planar projection, so antimeridian-crossing and
    polar routes are not special cases. Chains of ≤ 2 vertices pass
    through unchanged.

    MAP-ONLY plan: one Arrow pass over (line_id, path), no join, no
    shuffle; output schema equals the input's (line_id, path), so the
    result plugs into every line-consuming operator."""
    import pandas as pd
    from pyspark.sql import types as T

    from ffcl_spark.kernels.geo import sphere_simplify_indices_np

    tol_rad = float(tol_m) / float(earth_radius_m)

    out_schema = T.StructType(
        [
            T.StructField("line_id", lines.schema["line_id"].dataType),
            T.StructField(
                "path",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("lat", T.DoubleType()),
                            T.StructField("lon", T.DoubleType()),
                        ]
                    )
                ),
            ),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, paths = [], []
            for row in pdf.itertuples(index=False):
                chain = _latlon(row.path)
                idx = sphere_simplify_indices_np(chain, tol_rad)
                ids.append(row.line_id)
                paths.append(
                    [
                        {"lat": float(chain[i, 0]), "lon": float(chain[i, 1])}
                        for i in idx
                    ]
                )
            yield pd.DataFrame({"line_id": ids, "path": paths})

    return lines.select("line_id", "path").mapInPandas(kernel, out_schema)


def geo_st_join(
    queries: DataFrame,
    refs: DataFrame,
    radius_m: float,
    *,
    lower_s: float = 0.0,
    upper_s: float = 0.0,
    ts_col: str = "ts",
    id_col: str = "id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    delta_deg: float | None = None,
    earth_radius_m: float = EARTH_RADIUS_M,
) -> DataFrame:
    """Spatiotemporal join: all (q_id, r_id, dist_m, dt_us) with
    great-circle ``dist_m < radius_m`` (strict — the spatial family's
    contract) AND ``lower_s <= r_ts - q_ts <= upper_s`` (inclusive
    band edges — the temporal family's contract; ``dt_us`` is the
    signed microsecond delta). The proximity-in-space-AND-time join a
    trajectory/contact pipeline needs, composed from the two
    gate-proven grids: the latitude-band spherical cells of
    :func:`sphere_radius_join` × the band-width time buckets of
    ``temporal.band_join``.

    ONE shuffle on the composite (cell, bucket) key: refs land in
    exactly one cell and one bucket; queries explode over the exact
    spherical-cap cover (≈9 cells at matched band height) × the ≤ 2
    buckets their time band overlaps — candidates are bounded by true
    density in space-time, both exact predicates run in codegen, and
    nothing is N-dependent on the driver. Time bucketing dilutes
    spatial hot cells by the band fraction, so the composite key
    needs no extra salting below city-scale-per-band skew.

    ``ts_col`` is TIMESTAMP (or NTZ — exact under the engine's pinned
    UTC session timezone); the dt arithmetic is exact int64 micros."""
    if upper_s < lower_s:
        raise ValueError("upper_s must be >= lower_s")
    width_us = max(int(round((upper_s - lower_s) * 1_000_000)), 1)
    lo_us = int(round(lower_s * 1_000_000))
    hi_us = int(round(upper_s * 1_000_000))
    r_deg = math.degrees(radius_m / earth_radius_m) * (1 + 1e-9) + 1e-9
    if delta_deg is None:
        delta_deg = min(max(r_deg, 0.05), 30.0)

    r_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    r = refs.select(
        F.col(id_col).alias("r_id"),
        F.col(lat_col).alias("r_lat"),
        F.col(lon_col).alias("r_lon"),
        r_us.alias("__rus"),
    ).withColumn(
        "cell", S.sphere_cell(F.col("r_lat"), F.col("r_lon"), delta_deg)
    ).withColumn("__bucket", F.floor(F.col("__rus") / F.lit(width_us)))

    q_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    q = (
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(lat_col).alias("q_lat"),
            F.col(lon_col).alias("q_lon"),
            q_us.alias("__lus"),
        )
        .withColumn(
            "cell",
            F.explode(
                S.cover_cells(F.col("q_lat"), F.col("q_lon"), r_deg, delta_deg)
            ),
        )
        .withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.floor((F.col("__lus") + F.lit(lo_us)) / F.lit(width_us)),
                    F.floor((F.col("__lus") + F.lit(hi_us)) / F.lit(width_us)),
                )
            ),
        )
    )
    dist = haversine_m(
        F.col("q_lat"), F.col("q_lon"), F.col("r_lat"), F.col("r_lon"),
        earth_radius_m,
    )
    return (
        q.join(r, ["cell", "__bucket"])
        .withColumn("dist_m", dist)
        .withColumn("dt_us", F.col("__rus") - F.col("__lus"))
        .where(
            (F.col("dist_m") < F.lit(radius_m))
            & (F.col("dt_us") >= F.lit(lo_us))
            & (F.col("dt_us") <= F.lit(hi_us))
        )
        .select("q_id", "r_id", "dist_m", "dt_us")
    )


def geo_map_match(
    pings: DataFrame,
    lines: DataFrame | None,
    *,
    switch_cost_m: float = 200.0,
    entity_col: str = "entity_id",
    ts_col: str = "ts",
    lat_col: str = "lat",
    lon_col: str = "lon",
    earth_radius_m: float = EARTH_RADIUS_M,
    line_locals: list[tuple] | None = None,
) -> DataFrame:
    """Map matching: assign every ping of every trajectory to a route
    so that the WHOLE sequence is most plausible — the sequence-aware
    upgrade of :func:`geo_nearest_polyline` (which snaps each ping
    independently and flickers between parallel routes under GPS
    noise). Output: (entity, ts, lat, lon, line_id, dist_m) with
    dist_m the exact great-circle snap distance to the matched route.

    Model (simplified Newson–Krumm HMM, costs in metres): emission
    cost of route j at ping t = exact snap distance; transition cost
    = ``switch_cost_m`` whenever consecutive pings change route, 0
    otherwise — "switching routes must buy at least this many metres
    of snap improvement". ``switch_cost_m=0`` degrades exactly to the
    independent nearest-route snap. Viterbi solves the global argmin
    per entity (``kernels.geo.viterbi_match_np``), deterministic
    under cost ties (stay beats switch, first route in line_id order
    wins), pings in (ts, lat, lon) order — the trajectory_stats
    determinism contract.

    Plan: routes ride the task closure (bounded route-table contract
    of the snap family; ``line_locals=`` hoists the collect for
    streaming/iterative callers); pings shuffle ONCE on the entity
    key into ``applyInPandas``, where the per-entity [t, L] distance
    matrix comes from the exact arc kernel and the Viterbi recurrence
    is O(t·L) NumPy — nothing N-dependent on the driver, wall clock
    scales with max trajectory length × route count per task."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ffcl_spark.kernels.geo import (
        arc_boundary_distance_np,
        unit_vector_np,
        viterbi_match_np,
    )

    if switch_cost_m < 0:
        raise ValueError("switch_cost_m must be >= 0")
    local = line_locals if line_locals is not None else polyline_locals(lines)
    if not local:
        raise ValueError("empty route table")
    ids = [lid for lid, _ in local]
    chains = [chain for _, chain in local]

    out_schema = T.StructType(
        [
            T.StructField("entity_id", pings.schema[entity_col].dataType),
            T.StructField("ts", pings.schema[ts_col].dataType),
            T.StructField("lat", T.DoubleType()),
            T.StructField("lon", T.DoubleType()),
            T.StructField("line_id", T.StringType()),
            T.StructField("dist_m", T.DoubleType()),
        ]
    )

    sel = pings.select(
        F.col(entity_col).alias("entity_id"),
        F.col(ts_col).alias("ts"),
        F.col(lat_col).cast("double").alias("lat"),
        F.col(lon_col).cast("double").alias("lon"),
    )

    def match(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "lat", "lon"], kind="mergesort")
        p = unit_vector_np(pdf["lat"].to_numpy(), pdf["lon"].to_numpy())
        emis = np.column_stack(
            [
                arc_boundary_distance_np(p, ch, closed=False) * earth_radius_m
                for ch in chains
            ]
        )
        idx = viterbi_match_np(emis, switch_cost_m)
        return pd.DataFrame(
            {
                "entity_id": pdf["entity_id"].to_numpy(),
                "ts": pdf["ts"].to_numpy(),
                "lat": pdf["lat"].to_numpy(),
                "lon": pdf["lon"].to_numpy(),
                "line_id": [ids[i] for i in idx],
                "dist_m": emis[np.arange(len(idx)), idx],
            }
        )

    return sel.groupBy("entity_id").applyInPandas(match, out_schema)


def geo_stay_points(
    pings: DataFrame,
    *,
    radius_m: float,
    min_duration_s: float,
    entity_col: str = "entity_id",
    ts_col: str = "ts",
    lat_col: str = "lat",
    lon_col: str = "lon",
    earth_radius_m: float = EARTH_RADIUS_M,
) -> DataFrame:
    """Stay-point detection — segment each entity's ping stream into
    dwell episodes (the Li/Zheng GeoLife rule): a stay is a maximal
    run of pings all within ``radius_m`` great-circle metres of its
    anchor ping (strict ``<`` — the point-in-ball convention) that
    lasts at least ``min_duration_s``. The trip-mining primitive that
    turns raw pings into visits: home/work extraction, POI dwell
    counting, trip segmentation for :func:`geo_map_match` (match the
    between-stay legs, not the dwell noise).

    Output: (entity_id, stay_id, lat, lon, t_start, t_end, n_pings)
    — stay_id numbers episodes 0.. per entity in time order; lat/lon
    is the spherical centroid of the episode's pings (normalized
    mean unit vector — well-defined inside a small ball); t_start/
    t_end are the anchor and last-inside ping's ``ts`` cast to
    double seconds.

    Deterministic: pings ordered (ts, lat, lon) — the
    trajectory_stats contract — and the scan has no float order
    freedom (exact angles via ``kernels.geo.stay_points_np``).

    Plan: ONE shuffle on the entity key into ``applyInPandas``; the
    per-entity scan is O(#anchors) vectorized angle rows (the
    Viterbi cost shape), nothing N-dependent on the driver —
    embarrassingly parallel across entities at any corpus size."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ffcl_spark.kernels.geo import stay_points_np, unit_vector_np

    if radius_m <= 0 or min_duration_s < 0:
        raise ValueError("radius_m must be > 0 and min_duration_s >= 0")
    radius_rad = float(radius_m) / earth_radius_m

    out_schema = T.StructType(
        [
            T.StructField("entity_id", pings.schema[entity_col].dataType),
            T.StructField("stay_id", T.IntegerType()),
            T.StructField("lat", T.DoubleType()),
            T.StructField("lon", T.DoubleType()),
            T.StructField("t_start", T.DoubleType()),
            T.StructField("t_end", T.DoubleType()),
            T.StructField("n_pings", T.IntegerType()),
        ]
    )

    sel = pings.select(
        F.col(entity_col).alias("entity_id"),
        F.col(ts_col).cast("double").alias("ts"),
        F.col(lat_col).cast("double").alias("lat"),
        F.col(lon_col).cast("double").alias("lon"),
    )

    def segment(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "lat", "lon"], kind="mergesort")
        latlon = pdf[["lat", "lon"]].to_numpy(np.float64)
        ts = pdf["ts"].to_numpy(np.float64)
        spans = stay_points_np(latlon, ts, radius_rad, float(min_duration_s))
        if not spans:
            return pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in out_schema}
            )
        v = unit_vector_np(latlon[:, 0], latlon[:, 1])
        rows = []
        for sid, (a, b) in enumerate(spans):
            c = v[a : b + 1].mean(axis=0)
            c = c / np.linalg.norm(c)
            rows.append(
                (
                    pdf["entity_id"].iloc[0],
                    sid,
                    float(np.degrees(np.arcsin(min(1.0, max(-1.0, c[2]))))),
                    float(np.degrees(np.arctan2(c[1], c[0]))),
                    float(ts[a]),
                    float(ts[b]),
                    b - a + 1,
                )
            )
        return pd.DataFrame(
            rows,
            columns=[f.name for f in out_schema],
        )

    return sel.groupBy("entity_id").applyInPandas(segment, out_schema)


def stay_transitions(stays: DataFrame) -> DataFrame:
    """Origin→destination trips from :func:`geo_stay_points` output:
    one row per consecutive stay pair of an entity — (entity_id,
    from_stay, to_stay, from_lat, from_lon, to_lat, to_lon,
    depart_t, arrive_t, transit_s, trip_m) where transit_s =
    to.t_start − from.t_end (time between dwells) and trip_m the
    great-circle metres between the two stay centroids. The OD-flow
    primitive: `groupBy` the endpoints (or their spherical cells) for
    a flow matrix, feed the legs to :func:`geo_map_match`.

    Pure JVM plan: ONE window over (entity_id ORDER BY stay_id) —
    rides the stays' existing partitioning, no Python, no extra
    scan. Deterministic: stay_id is the per-entity time order."""
    from pyspark.sql import Window

    w = Window.partitionBy("entity_id").orderBy("stay_id")
    nxt = lambda c: F.lead(c).over(w)  # noqa: E731
    out = stays.select(
        "entity_id",
        F.col("stay_id").alias("from_stay"),
        nxt("stay_id").alias("to_stay"),
        F.col("lat").alias("from_lat"),
        F.col("lon").alias("from_lon"),
        nxt("lat").alias("to_lat"),
        nxt("lon").alias("to_lon"),
        F.col("t_end").alias("depart_t"),
        nxt("t_start").alias("arrive_t"),
        (nxt("t_start") - F.col("t_end")).alias("transit_s"),
        haversine_m(
            F.col("lat"), F.col("lon"), nxt("lat"), nxt("lon")
        ).alias("trip_m"),
    )
    return out.where(F.col("to_stay").isNotNull())


def geo_od_flows(
    transitions: DataFrame, delta_deg: float = 5.0
) -> DataFrame:
    """Origin→destination FLOW MATRIX at spherical-cell granularity
    from :func:`stay_transitions` output: (from_cell, to_cell,
    n_trips, mean_transit_s, mean_trip_m) — the mobility-analytics
    aggregate (commute matrices, inter-region demand) that closes the
    pings → stays → trips → flows chain.

    Pure JVM: one ``sphere_cell`` expression per endpoint and ONE
    partial-aggregated groupBy whose shuffle is |occupied cell pairs|
    rows (map-side combine) — nothing scales with trips. Self-loops
    (both stays in one cell) are kept; filter ``from_cell != to_cell``
    for strict inter-cell demand."""
    from ffcl_spark.functions import sphere as S

    return (
        transitions.select(
            S.sphere_cell(
                F.col("from_lat"), F.col("from_lon"), delta_deg
            ).alias("from_cell"),
            S.sphere_cell(F.col("to_lat"), F.col("to_lon"), delta_deg).alias(
                "to_cell"
            ),
            "transit_s",
            "trip_m",
        )
        .groupBy("from_cell", "to_cell")
        .agg(
            F.count(F.lit(1)).alias("n_trips"),
            F.avg("transit_s").alias("mean_transit_s"),
            F.avg("trip_m").alias("mean_trip_m"),
        )
    )


def trajectory_frechet_join(
    trajs: DataFrame,
    refs: DataFrame | None = None,
    *,
    max_dist_m: float | None = None,
    earth_radius_m: float = EARTH_RADIUS_M,
) -> DataFrame:
    """Trajectory-similarity join: (line_id, other_id, frechet_m) =
    the discrete Fréchet (dog-leash) distance between every pair of
    open great-circle vertex chains — trajectory ↔ trajectory, the
    similarity face of the line family (:func:`geo_map_match` matches
    pings to routes; this matches routes to routes — duplicate-route
    detection, trip clustering, trajectory retrieval).

    Exactness: ``kernels.geo.discrete_frechet_rad`` — the
    Eiter–Mannila coupled-walk min-max DP over exact pairwise
    great-circle angles; pure float64 with no order freedom, so the
    value is bitwise partitioning-invariant. Antimeridian/polar
    chains are not special cases.

    ``max_dist_m``: emit only pairs with Fréchet ≤ cap. Pruning is by
    a true LOWER bound before the O(m·n) DP: the leash must cover the
    coupled first pair and the coupled last pair, and the chains'
    bounding caps must approach within the cap (gap − r_a − r_b) —
    both conservative, so no qualifying pair is dropped.

    Self-join form (``refs=None``): each unordered pair once,
    ``line_id < other_id``. Plan: :func:`_line_pair_join` with
    ``refs`` as the bounded side."""
    from ffcl_spark.kernels.geo import discrete_frechet_rad

    cap_rad = None if max_dist_m is None else float(max_dist_m) / earth_radius_m

    def pair(a: _Chain, b: _Chain):
        if cap_rad is not None:
            lb = max(
                _ang(a.v[0], b.v[0]),
                _ang(a.v[-1], b.v[-1]),
                _ang(a.c, b.c) - a.r - b.r,
            )
            if lb > cap_rad + 1e-12:
                return None
        fr = discrete_frechet_rad(a.latlon, b.latlon)
        if cap_rad is not None and fr > cap_rad:
            return None
        return (fr * earth_radius_m,)

    self_join = refs is None
    return _line_pair_join(
        trajs, trajs if self_join else refs, pair,
        self_join=self_join, value_fields=("frechet_m",),
    )


def trajectory_hausdorff_join(
    trajs: DataFrame,
    refs: DataFrame | None = None,
    *,
    max_dist_m: float | None = None,
    earth_radius_m: float = EARTH_RADIUS_M,
) -> DataFrame:
    """Trajectory-similarity join under the discrete Hausdorff metric:
    (line_id, other_id, hausdorff_m, h_ab_m, h_ba_m) for every chain
    pair — the symmetric Hausdorff distance plus both DIRECTED
    components (``h_ab`` = how far A strays from B; the asymmetry is
    the sub-route signal: a leg contained in a longer route has small
    h_ab and large h_ba, which Fréchet's endpoint coupling hides).

    Exactness: ``kernels.geo.hausdorff_rad`` — max-min over the exact
    pairwise great-circle angle matrix; pure float64 reductions with
    no order freedom, so values are bitwise partitioning-invariant.
    The vertex SETS are compared (discrete Hausdorff); densify chains
    first if the continuous metric is wanted — same contract as the
    simplification/Fréchet family. Antimeridian/polar chains are not
    special cases.

    ``max_dist_m`` emits only pairs with symmetric Hausdorff ≤ cap;
    pruning uses the bounding-cap gap (every pairwise angle ≥
    cap-to-cap gap ⇒ H ≥ gap — conservative, no qualifying pair
    dropped). Self-join form (``refs=None``): each unordered pair
    once, ``line_id < other_id``, with h_ab/h_ba oriented by the id
    order. Plan: :func:`_line_pair_join` with ``refs`` as the bounded
    side."""
    from ffcl_spark.kernels.geo import hausdorff_rad

    cap_rad = None if max_dist_m is None else float(max_dist_m) / earth_radius_m

    def pair(a: _Chain, b: _Chain):
        # the vertex sets lie inside their caps (the discrete metric
        # needs no convexity), so the cap gap bounds both directed maxima
        if cap_rad is not None and _ang(a.c, b.c) - a.r - b.r > cap_rad + 1e-12:
            return None
        h_ab, h_ba = hausdorff_rad(a.latlon, b.latlon)
        h = max(h_ab, h_ba)
        if cap_rad is not None and h > cap_rad:
            return None
        return (h * earth_radius_m, h_ab * earth_radius_m, h_ba * earth_radius_m)

    self_join = refs is None
    return _line_pair_join(
        trajs, trajs if self_join else refs, pair,
        self_join=self_join, value_fields=("hausdorff_m", "h_ab_m", "h_ba_m"),
    )


def geo_convex_hull(
    points: DataFrame,
    *,
    group_col: str | None = None,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Spherical convex hull of a point set (coverage footprint of a
    corpus, a cluster, a trajectory): (``group_col``?, ring, n_points,
    n_hull) where ring is the CCW hull polygon — directly consumable
    by :func:`sphere_tile_measures` (hull area/perimeter),
    :func:`geo_pip_join`, and the overlay family.

    Exactness (``kernels.geo.sphere_hull_indices_np``): hull membership
    = extreme-ray test of the generated convex cone, decided by the
    planar monotone chain in a gnomonic frame — exact while each hull's
    points fit in an open hemisphere (documented contract; raises
    otherwise).

    Plans: with ``group_col`` — one shuffle groups each key into an
    Arrow task (per-cluster hulls; bounded-group contract). Without —
    a GLOBAL hull via exact two-stage reduction: one scan computes
    per-partition hulls in a SHARED frame (the summed unit vector from
    one tiny agg — sharing the frame is what makes partial hulls
    mergeable), only hull candidates leave the executors (extreme
    points of a partition ⊇ global extremes in it), and the final
    monotone chain runs over that small union. Nothing N-dependent
    moves: candidate count is Σ per-partition hull sizes (typically
    O(log) each), not n."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ffcl_spark.kernels.geo import sphere_hull_indices_np

    ring_t = T.ArrayType(
        T.StructType(
            [
                T.StructField("lat", T.DoubleType()),
                T.StructField("lon", T.DoubleType()),
            ]
        )
    )

    def hull_pdf(pdf: pd.DataFrame, center=None):
        pts = np.column_stack(
            [pdf["lat"].to_numpy(np.float64), pdf["lon"].to_numpy(np.float64)]
        )
        idx = sphere_hull_indices_np(pts, center)
        return pts, idx

    if group_col is not None:
        out_schema = T.StructType(
            [
                T.StructField("group", points.schema[group_col].dataType),
                T.StructField("ring", ring_t),
                T.StructField("n_points", T.LongType()),
                T.StructField("n_hull", T.IntegerType()),
            ]
        )

        def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
            pts, idx = hull_pdf(pdf)
            return pd.DataFrame(
                {
                    "group": [pdf["group"].iloc[0]],
                    "ring": [
                        [
                            {"lat": float(pts[i, 0]), "lon": float(pts[i, 1])}
                            for i in idx
                        ]
                    ],
                    "n_points": [len(pdf)],
                    "n_hull": [len(idx)],
                }
            )

        sel = points.select(
            F.col(group_col).alias("group"),
            F.col(lat_col).cast("double").alias("lat"),
            F.col(lon_col).cast("double").alias("lon"),
        )
        return sel.groupBy("group").applyInPandas(per_group, out_schema)

    sel = points.select(
        F.col(lat_col).cast("double").alias("lat"),
        F.col(lon_col).cast("double").alias("lon"),
    )
    # stage 0: the shared gnomonic frame — one 3-double aggregate of
    # the unit vectors (the normalized sum is the mean direction)
    rlat, rlon = F.radians("lat"), F.radians("lon")
    s = sel.agg(
        F.sum(F.cos(rlat) * F.cos(rlon)).alias("sx"),
        F.sum(F.cos(rlat) * F.sin(rlon)).alias("sy"),
        F.sum(F.sin(rlat)).alias("sz"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    c = np.array([s["sx"], s["sy"], s["sz"]], dtype=np.float64)
    nc = float(np.linalg.norm(c))
    if s["n"] == 0 or nc < 1e-12:
        raise ValueError("empty or degenerate point set")
    center = c / nc
    n_total = int(s["n"])

    cand_schema = T.StructType(
        [
            T.StructField("lat", T.DoubleType()),
            T.StructField("lon", T.DoubleType()),
        ]
    )

    def partial(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pts, idx = hull_pdf(pdf, center)
            yield pd.DataFrame(
                {"lat": pts[idx, 0], "lon": pts[idx, 1]}
            )

    cand = sel.mapInPandas(partial, cand_schema).toPandas()
    pts = cand.to_numpy(np.float64)
    idx = sphere_hull_indices_np(pts, center)
    out_schema = T.StructType(
        [
            T.StructField("ring", ring_t),
            T.StructField("n_points", T.LongType()),
            T.StructField("n_hull", T.IntegerType()),
        ]
    )
    ring = [
        {"lat": float(pts[i, 0]), "lon": float(pts[i, 1])} for i in idx
    ]
    return points.sparkSession.createDataFrame(
        [(ring, n_total, len(idx))], out_schema
    )
