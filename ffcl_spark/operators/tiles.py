"""Tiling: tile polygon table, point-in-polygon join, raster↔vector.

Tiles (FIXTURES.md §3) carry both representations:
  tile_id: string
  ring:    array<struct<x double, y double>>   -- vector form (closed)
  cells:   array<long>                         -- raster form (covering
                                                  cells at cfg resolution)

The PIP join is the tile-assignment operator of the north_star: tiles
are small → exploded by covering cell and **broadcast**; points join
on their cell (no shuffle of the big side beyond the scan), then the
exact even-odd PIP test runs as a vectorized Arrow-batched kernel
(``kernels.pip``) — never per-row Python. Axis-aligned tiles can use
the pure-SQL fast path (inclusive box predicates — the reference's
AABB search semantics, ``LowerBoundAndUpperBound.hpp:76-78``).

raster↔vector:
- rasterize: polygon → covering cells (bbox cells whose center lies in
  the polygon, plus cells whose bbox intersects an edge — conservative
  cover for candidate generation).
- vectorize: cell set → tight bbox ring (min/max corners).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ffcl_spark.config import EngineConfig
from ffcl_spark.functions.cells import AXIS_MOD, RES_SHIFT
from ffcl_spark.kernels import grid as G
from ffcl_spark.kernels.pip import points_in_polygon

RING_TYPE = T.ArrayType(
    T.StructType([T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())])
)


from ffcl_spark.sources.points import cover_cells as _cover_cells_box  # noqa: E402
# the one canonical driver-side box→cells cover (sources.points)


def grid_tiles(spark: SparkSession, cfg: EngineConfig, side: float = 6.0) -> DataFrame:
    """Deterministic axis-aligned square tile grid over the domain
    (FIXTURES.md: side 6.0 over [-30, 30]² → 100 tiles)."""
    n = int(round(cfg.domain / side))
    rows = []
    for tx in range(n):
        for ty in range(n):
            x_lo = cfg.x0 + tx * side
            y_lo = cfg.y0 + ty * side
            x_hi, y_hi = x_lo + side, y_lo + side
            ring = [
                {"x": x_lo, "y": y_lo},
                {"x": x_hi, "y": y_lo},
                {"x": x_hi, "y": y_hi},
                {"x": x_lo, "y": y_hi},
                {"x": x_lo, "y": y_lo},
            ]
            rows.append(
                {
                    "tile_id": f"tile-{tx}-{ty}",
                    "ring": ring,
                    "cells": _cover_cells_box(x_lo, y_lo, x_hi, y_hi, cfg),
                }
            )
    schema = T.StructType(
        [
            T.StructField("tile_id", T.StringType()),
            T.StructField("ring", RING_TYPE),
            T.StructField("cells", T.ArrayType(T.LongType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def convex_tiles(spark: SparkSession, cfg: EngineConfig, n_tiles: int = 8, seed: int = 7) -> DataFrame:
    """Seeded convex polygons (5–9 vertices) for non-rectangular PIP —
    FIXTURES.md §3."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_tiles):
        nv = int(rng.integers(5, 10))
        cx, cy = rng.uniform(cfg.x0 + 8, cfg.x0 + cfg.domain - 8, size=2)
        radii = rng.uniform(3.0, 8.0, size=nv)
        angles = np.sort(rng.uniform(0, 2 * np.pi, size=nv))
        vx = cx + radii * np.cos(angles)
        vy = cy + radii * np.sin(angles)
        # convex hull of the generated star → convex polygon (gift wrap
        # not needed: sorting by angle around centroid of a star is not
        # necessarily convex, so take the hull via monotone chain)
        pts = sorted(zip(vx.tolist(), vy.tolist()))

        def half(points):
            h = []
            for p in points:
                while (
                    len(h) >= 2
                    and (h[-1][0] - h[-2][0]) * (p[1] - h[-2][1])
                    - (h[-1][1] - h[-2][1]) * (p[0] - h[-2][0])
                    <= 0
                ):
                    h.pop()
                h.append(p)
            return h

        hull = half(pts)[:-1] + half(pts[::-1])[:-1]
        ring = [{"x": float(x), "y": float(y)} for x, y in hull] + [
            {"x": float(hull[0][0]), "y": float(hull[0][1])}
        ]
        xs = [p["x"] for p in ring]
        ys = [p["y"] for p in ring]
        cand = _cover_cells_box(min(xs), min(ys), max(xs), max(ys), cfg)
        rows.append({"tile_id": f"poly-{i}", "ring": ring, "cells": cand})
    schema = T.StructType(
        [
            T.StructField("tile_id", T.StringType()),
            T.StructField("ring", RING_TYPE),
            T.StructField("cells", T.ArrayType(T.LongType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def pip_join(
    points: DataFrame,
    tiles: DataFrame,
    cfg: EngineConfig,
    closure_tile_limit: int = 4096,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Tile assignment: (id, tile_id) for every point inside (or on
    the boundary of) a tile polygon.

    Two physical plans, same result:

    - tile count ≤ ``closure_tile_limit``: tiles ship in the task
      closure (the moral equivalent of a broadcast variable); the big
      points side never shuffles and never serializes polygon rows.
    - larger tile tables: :func:`pip_join_broadcast` — cell-exploded
      tiles as a broadcast-hinted DataFrame join on the point's cell
      (AQE demotes to a shuffle join if the tile side outgrows the
      broadcast threshold), exact PIP in an Arrow kernel over the
      candidate rows. This is the path that survives a million-tile
      table at 100×.
    """
    from ffcl_spark.functions import cells as C

    n_tiles = tiles.count()
    if n_tiles > closure_tile_limit:
        return pip_join_broadcast(points, tiles, cfg, carry_cols=carry_cols)

    # tiles are small by contract → collected once and shipped in the
    # task closure (the moral equivalent of a broadcast variable); the
    # big points side never shuffles and never serializes polygon rows.
    # Candidate generation is an INVERTED cell→tile index (r6): one
    # sorted (cell, tile_idx) pair table probed with two searchsorted
    # calls per batch, instead of one np.isin scan of the batch per
    # tile — per-batch work drops from O(|tiles|·|batch|) to
    # O(|batch|·log|pairs| + |candidates|). Same candidate set, same
    # exact even-odd PIP verdicts, same rows.
    local = [
        (
            t["tile_id"],
            np.array([[v["x"], v["y"]] for v in t["ring"]], dtype=np.float64),
            np.array(t["cells"], dtype=np.int64),
        )
        for t in tiles.select("tile_id", "ring", "cells").collect()
    ]
    if local:
        # np.unique per tile: duplicate cover cells in a caller-built
        # tile table must not yield duplicate assignment rows (isin
        # semantics of the pre-r6 kernel)
        uniq = [np.unique(tc) for _, _, tc in local]
        pair_cells = np.concatenate(uniq)
        pair_tidx = np.concatenate(
            [np.full(len(tc), i, dtype=np.int64) for i, tc in enumerate(uniq)]
        )
        order = np.argsort(pair_cells, kind="stable")
        pair_cells = pair_cells[order]
        pair_tidx = pair_tidx[order]
    else:
        pair_cells = np.empty(0, dtype=np.int64)
        pair_tidx = np.empty(0, dtype=np.int64)

    pts = points.select(
        "id",
        "x",
        "y",
        C.cell_id(F.col("x"), F.col("y"), cfg).alias("cell"),
        *[F.col(c) for c in carry_cols],
    )
    out_schema = T.StructType(
        [
            T.StructField("id", points.schema["id"].dataType),
            T.StructField("tile_id", T.StringType()),
        ]
        + [T.StructField(c, points.schema[c].dataType) for c in carry_cols]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(pair_cells) == 0:
                continue
            cells = pdf["cell"].to_numpy()
            px = pdf["x"].to_numpy()
            py = pdf["y"].to_numpy()
            ids = pdf["id"]
            lo = np.searchsorted(pair_cells, cells, side="left")
            hi = np.searchsorted(pair_cells, cells, side="right")
            counts = hi - lo
            total = int(counts.sum())
            if total == 0:
                continue
            # flat index into the pair table for every (point, tile)
            # candidate: lo_i + within-group offset
            pt_idx = np.repeat(np.arange(len(cells)), counts)
            cum = np.concatenate(([0], np.cumsum(counts)))
            flat = np.arange(total) - np.repeat(cum[:-1], counts) + np.repeat(lo, counts)
            cand_tile = pair_tidx[flat]
            # group candidates by tile, verify each group vectorized
            torder = np.argsort(cand_tile, kind="stable")
            cand_tile = cand_tile[torder]
            pt_idx = pt_idx[torder]
            bounds = np.nonzero(np.diff(cand_tile))[0] + 1
            outs = []
            for grp in np.split(np.arange(total), bounds):
                ti = int(cand_tile[grp[0]])
                tile_id, ring, _ = local[ti]
                idx = pt_idx[grp]
                mask = points_in_polygon(px[idx], py[idx], ring)
                if mask.any():
                    hit = idx[mask]
                    row = {"id": ids.iloc[hit], "tile_id": tile_id}
                    for cc in carry_cols:
                        row[cc] = pdf[cc].iloc[hit].to_numpy()
                    outs.append(pd.DataFrame(row))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return pts.mapInPandas(kernel, out_schema)


def pip_join_broadcast(
    points: DataFrame,
    tiles: DataFrame,
    cfg: EngineConfig,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """PIP join for tile tables too large for the task closure: tiles
    explode by covering cell into a broadcast-hinted join against the
    point's cell (candidate generation — one narrow pass over points),
    then the exact even-odd test runs vectorized per (batch × tile)
    group inside an Arrow kernel. Identical results to the closure
    path (tested both ways)."""
    from ffcl_spark.functions import cells as C

    t = tiles.select("tile_id", "ring", F.explode("cells").alias("cell"))
    pts = points.select(
        "id",
        "x",
        "y",
        C.cell_id(F.col("x"), F.col("y"), cfg).alias("cell"),
        *[F.col(c) for c in carry_cols],
    )
    cand = pts.join(F.broadcast(t), "cell").select(
        "id", "x", "y", "tile_id", "ring", *[F.col(c) for c in carry_cols]
    )

    out_schema = T.StructType(
        [
            T.StructField("id", points.schema["id"].dataType),
            T.StructField("tile_id", T.StringType()),
        ]
        + [T.StructField(c, points.schema[c].dataType) for c in carry_cols]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            outs = []
            for tile_id, grp in pdf.groupby("tile_id", sort=False):
                ring = np.array(
                    [[v["x"], v["y"]] for v in grp["ring"].iloc[0]], dtype=np.float64
                )
                mask = points_in_polygon(
                    grp["x"].to_numpy(), grp["y"].to_numpy(), ring
                )
                if mask.any():
                    row = {"id": grp["id"].to_numpy()[mask], "tile_id": tile_id}
                    for cc in carry_cols:
                        row[cc] = grp[cc].to_numpy()[mask]
                    outs.append(pd.DataFrame(row))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return cand.mapInPandas(kernel, out_schema)


def zonal_stats(
    points: DataFrame,
    tiles: DataFrame,
    cfg: EngineConfig,
    values: tuple[str, ...] = (),
    closure_tile_limit: int = 4096,
) -> DataFrame:
    """Zonal statistics: per tile polygon, the point count plus
    sum/min/max of each ``values`` column — the classic raster/vector
    zonal-stats aggregate over the exact PIP assignment.

    Plan: the PIP kernel with the value columns riding through
    (``carry_cols`` — no join-back shuffle on id), then ONE partial
    aggregation; map-side combine collapses each task to a row per
    tile before the |tiles|-row shuffle. Points inside several
    overlapping tiles count in each (PIP semantics). Counts and
    integer sums are order-free exact; float sums carry the usual
    reorder caveat (min/max are exact). Geodesic twin:
    ``operators.geo.geo_zonal_stats``."""
    asg = pip_join(
        points, tiles, cfg, closure_tile_limit, carry_cols=tuple(values)
    )
    aggs = [F.count(F.lit(1)).alias("n_points")]
    for c in values:
        aggs += [
            F.sum(c).alias(f"sum_{c}"),
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
        ]
    return asg.groupBy("tile_id").agg(*aggs)


def rasterize(tiles: DataFrame, cfg: EngineConfig) -> DataFrame:
    """(tile_id, cell) rows: cells whose center lies inside the
    polygon or whose box intersects the polygon boundary — the raster
    form of the tile at engine resolution."""
    exploded = tiles.select("tile_id", "ring", F.explode("cells").alias("cell"))

    out_schema = T.StructType(
        [T.StructField("tile_id", T.StringType()), T.StructField("cell", T.LongType())]
    )
    s = cfg.cell_size
    x0, y0 = cfg.x0, cfg.y0

    def kernel(key, pdf):
        ring = np.array([[v["x"], v["y"]] for v in pdf["ring"].iloc[0]])
        ix, iy = G.cell_ixy(pdf["cell"].to_numpy())
        # test the cell center and the 4 corners — inside if any hits
        hit = np.zeros(len(pdf), dtype=bool)
        for fx, fy in [(0.5, 0.5), (0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (1.0, 1.0)]:
            cx = x0 + (ix + fx) * s
            cy = y0 + (iy + fy) * s
            hit |= points_in_polygon(cx, cy, ring)
        return pdf.loc[hit, ["tile_id", "cell"]]

    return exploded.groupBy("tile_id").applyInPandas(kernel, out_schema)


def vectorize(tile_cells: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Inverse of rasterize: per tile, the tight bbox of its cell set
    as (tile_id, x_lo, y_lo, x_hi, y_hi) — pure aggregation."""
    from ffcl_spark.functions import cells as C

    b = tile_cells.select(
        "tile_id",
        C.cell_ix(F.col("cell")).alias("ix"),
        C.cell_iy(F.col("cell")).alias("iy"),
    )
    s = F.lit(cfg.cell_size)
    return b.groupBy("tile_id").agg(
        (F.lit(cfg.x0) + F.min("ix").cast("double") * s).alias("x_lo"),
        (F.lit(cfg.y0) + F.min("iy").cast("double") * s).alias("y_lo"),
        (F.lit(cfg.x0) + (F.max("ix") + 1).cast("double") * s).alias("x_hi"),
        (F.lit(cfg.y0) + (F.max("iy") + 1).cast("double") * s).alias("y_hi"),
    )


# ------------------------------------------------- nearest-tile join

def _fold_min_tile(tiles_arr, dist_fn):
    """Fold a literal tile array to the per-row argmin struct
    ``(dist, tile_id)`` with the deterministic (dist, tile_id)
    tie-break. ``dist_fn(tile_struct) -> Column(double)``."""
    init = F.struct(
        F.lit(float("inf")).alias("dist"), F.lit("").alias("tile_id")
    )

    def step(acc, t):
        d = dist_fn(t)
        cand = F.struct(d.alias("dist"), t["tile_id"].alias("tile_id"))
        better = (d < acc["dist"]) | (
            (d == acc["dist"]) & (t["tile_id"] < acc["tile_id"])
        )
        return F.when(better, cand).otherwise(acc)

    return F.aggregate(tiles_arr, init, step)


def nearest_tile_boxes(points: DataFrame, boxes: DataFrame) -> DataFrame:
    """Nearest-box join: for every point, the closest axis-aligned
    tile ``(id, tile_id, dist)`` — dist 0 when inside (boundary
    inclusive, matching ``pip_join``'s BETWEEN semantics), else the
    Euclidean distance to the box; ties break to the smallest tile_id.

    Plan: MAP-ONLY. The box table is bounded by contract (same
    contract as ``pip_join``'s closure path) and ships as ONE literal
    array of structs folded per row with ``aggregate`` — no join, no
    shuffle, nothing N-dependent; at 1000 executors every task scans
    only its own point partition. The distance is a single expression
    ``sqrt(gx² + gy²)``, ``gx = greatest(0, x_lo − x, x − x_hi)`` —
    bit-reproducible in any engine evaluating the same tree (the gate
    oracle recomputes it in SQL)."""
    rows = boxes.select("tile_id", "x_lo", "y_lo", "x_hi", "y_hi").collect()
    if not rows:
        raise ValueError("nearest_tile_boxes: empty tile table")
    tiles_arr = F.array(
        *[
            F.struct(
                F.lit(r["tile_id"]).alias("tile_id"),
                F.lit(float(r["x_lo"])).alias("x_lo"),
                F.lit(float(r["y_lo"])).alias("y_lo"),
                F.lit(float(r["x_hi"])).alias("x_hi"),
                F.lit(float(r["y_hi"])).alias("y_hi"),
            )
            for r in sorted(rows, key=lambda r: r["tile_id"])
        ]
    )
    x, y = F.col("x"), F.col("y")

    def dist(t):
        gx = F.greatest(F.lit(0.0), t["x_lo"] - x, x - t["x_hi"])
        gy = F.greatest(F.lit(0.0), t["y_lo"] - y, y - t["y_hi"])
        return F.sqrt(gx * gx + gy * gy)

    best = _fold_min_tile(tiles_arr, dist)
    return points.select(
        "id",
        best["tile_id"].alias("tile_id"),
        best["dist"].alias("dist"),
    )


def nearest_tile(points: DataFrame, tiles: DataFrame) -> DataFrame:
    """Nearest-polygon join for general (convex or not) rings:
    ``(id, tile_id, dist)`` with dist 0 inside (even–odd rule) and the
    exact minimum point-to-boundary segment distance outside; ties
    break to the smallest tile_id. Same map-only literal-fold plan as
    :func:`nearest_tile_boxes`; the per-tile work is O(edges) inside
    the JVM's array-expression interpreter — no Python rows, no
    shuffle. NumPy-twin parity pinned in pytest (float expression
    trees differ from any SQL restatement, so this form is not a
    hash-gate; the axis-aligned fast path above is)."""
    rows = tiles.select("tile_id", "ring").collect()
    if not rows:
        raise ValueError("nearest_tile: empty tile table")
    tile_structs = []
    for r in sorted(rows, key=lambda r: r["tile_id"]):
        ring = r["ring"]
        edges = [
            F.struct(
                F.lit(float(a["x"])).alias("ax"),
                F.lit(float(a["y"])).alias("ay"),
                F.lit(float(b["x"])).alias("bx"),
                F.lit(float(b["y"])).alias("by"),
            )
            for a, b in zip(ring[:-1], ring[1:])
        ]
        tile_structs.append(
            F.struct(
                F.lit(r["tile_id"]).alias("tile_id"),
                F.array(*edges).alias("edges"),
            )
        )
    tiles_arr = F.array(*tile_structs)
    x, y = F.col("x"), F.col("y")

    def seg_dist(e):
        vx, vy = e["bx"] - e["ax"], e["by"] - e["ay"]
        den = vx * vx + vy * vy
        t = F.when(
            den > 0,
            F.greatest(
                F.lit(0.0),
                F.least(
                    F.lit(1.0), ((x - e["ax"]) * vx + (y - e["ay"]) * vy) / den
                ),
            ),
        ).otherwise(F.lit(0.0))
        dx = x - (e["ax"] + t * vx)
        dy = y - (e["ay"] + t * vy)
        return F.sqrt(dx * dx + dy * dy)

    def crosses(e):
        # even–odd ray cast to +x: edge straddles the horizontal line
        # through y AND the intersection lies right of x
        straddle = (e["ay"] > y) != (e["by"] > y)
        xint = e["ax"] + (y - e["ay"]) / (e["by"] - e["ay"]) * (
            e["bx"] - e["ax"]
        )
        return straddle & (x < xint)

    def dist(t):
        boundary = F.array_min(F.transform(t["edges"], seg_dist))
        inside = (
            F.size(F.filter(t["edges"], crosses)) % 2 == 1
        )
        return F.when(inside, F.lit(0.0)).otherwise(boundary)

    best = _fold_min_tile(tiles_arr, dist)
    return points.select(
        "id",
        best["tile_id"].alias("tile_id"),
        best["dist"].alias("dist"),
    )


def overlay_join(tiles_a: DataFrame, tiles_b: DataFrame) -> DataFrame:
    """Polygon-polygon overlay: (a_id, b_id) pairs of tiles that share
    at least one point (boundary touch counts — same semantics as the
    PIP kernel).

    Candidate generation is the raster form: both sides explode by
    covering cell and equi-join on cell. The cover is conservative
    (every cell containing any point of the polygon is in ``cells``),
    so two intersecting polygons always share a covering cell — no
    false negatives. The exact test (edge-grid orientation straddle +
    mutual-containment vertex check, ``kernels.overlay``) runs
    Arrow-batched per candidate pair; pair count is candidate-bounded,
    never |A|·|B|. Self-pairs appear when both sides are one table."""
    a = tiles_a.select(
        F.col("tile_id").alias("a_id"),
        F.col("ring").alias("ring_a"),
        F.explode("cells").alias("cell"),
    )
    b = tiles_b.select(
        F.col("tile_id").alias("b_id"),
        F.col("ring").alias("ring_b"),
        F.explode("cells").alias("cell"),
    )
    cand = a.join(b, "cell").dropDuplicates(["a_id", "b_id"])

    out_schema = T.StructType(
        [T.StructField("a_id", T.StringType()), T.StructField("b_id", T.StringType())]
    )

    def kernel(batches):
        from ffcl_spark.kernels.overlay import polys_intersect

        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep_a, keep_b = [], []
            for row in pdf.itertuples(index=False):
                ra = np.array([[v["x"], v["y"]] for v in row.ring_a], dtype=np.float64)
                rb = np.array([[v["x"], v["y"]] for v in row.ring_b], dtype=np.float64)
                if polys_intersect(ra, rb):
                    keep_a.append(row.a_id)
                    keep_b.append(row.b_id)
            if keep_a:
                yield pd.DataFrame({"a_id": keep_a, "b_id": keep_b})

    return cand.select("a_id", "b_id", "ring_a", "ring_b").mapInPandas(
        kernel, out_schema
    )


def tile_measures(tiles: DataFrame) -> DataFrame:
    """(tile_id, area, perimeter, centroid_x, centroid_y) — shoelace
    measures as pure column expressions (map-only, WholeStageCodegen;
    the NumPy twin is ``kernels.overlay.ring_area``/``ring_centroid``).
    ``area`` is the absolute area; rings are stored closed (first
    vertex repeated), so edges are consecutive pairs. The fold order
    is the array order in both the JVM fold and the NumPy twin —
    bit-identical sums."""
    ring = F.col("ring")
    n = F.size(ring)
    idx = F.sequence(F.lit(1), n - 1)  # element_at is 1-based; edges i -> i+1

    def at(i):
        return F.element_at(ring, i)

    cross = F.transform(
        idx, lambda i: at(i)["x"] * at(i + 1)["y"] - at(i + 1)["x"] * at(i)["y"]
    )
    signed2 = F.aggregate(cross, F.lit(0.0), lambda acc, v: acc + v)
    edge_len = F.transform(
        idx,
        lambda i: F.sqrt(
            (at(i + 1)["x"] - at(i)["x"]) * (at(i + 1)["x"] - at(i)["x"])
            + (at(i + 1)["y"] - at(i)["y"]) * (at(i + 1)["y"] - at(i)["y"])
        ),
    )
    mx = F.aggregate(
        F.zip_with(cross, idx, lambda c, i: (at(i)["x"] + at(i + 1)["x"]) * c),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    my = F.aggregate(
        F.zip_with(cross, idx, lambda c, i: (at(i)["y"] + at(i + 1)["y"]) * c),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return tiles.select(
        "tile_id",
        F.abs(signed2 / 2).alias("area"),
        F.aggregate(edge_len, F.lit(0.0), lambda acc, v: acc + v).alias("perimeter"),
        (mx / (F.lit(3.0) * signed2)).alias("centroid_x"),
        (my / (F.lit(3.0) * signed2)).alias("centroid_y"),
    )
