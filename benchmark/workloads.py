"""The benchmark's two workloads: inputs from a seed, one timed pass,
and the checks every pass's output must pass.

Each workload builds its inputs from the seed alone and hands the
program only the resulting DataFrames. A pass is the unit that is timed;
``check`` runs after the pass's clock has stopped and returns
``(attempted, failed, problems)`` for the pass.

Why these two (each stresses layers the other bypasses):

- ``spatial_pipeline`` is the north-star headline: uniform docs through
  point extraction, the grid kNN self-join and tile assignment. Both are
  Arrow kernels, so most of the Python-boundary work is here, and with
  uniform density almost every query resolves at ring 1. A resumable
  stage follows, in the shape of ``scripts/run_pipeline.py``: the points
  of an equatorial band go onto the sphere (lat = 3x, lon = 6y) and
  through ``plans.checkpoint.run_checkpointed`` with a geodesic chunk op
  (sphere kNN, then nearest sphere tile). The run crashes halfway
  through the chunks and resumes to completion. It is the only stage
  that exercises ``operators.geo`` and ``plans.checkpoint``, with
  parquet writes and lineage beside the reads.
- ``density_cluster`` is skewed: three unbalanced blobs. DBSCAN (radius
  join, core flags, per-cell components, driver union-find) and
  ``core_distances`` run many small jobs and driver-side work, and they
  use the second kNN plan (``search.knn_join``) and the radius join,
  which the spatial pipeline bypasses. Sizing note: ``core_distances``
  grows much faster than DBSCAN with the point count on this skew. An
  earlier probe on a 4-core host measured 51-61 s for it on only 20k
  skewed points, against ~9 s for ``knn_join_grid`` on 400k uniform
  points, and at 100k skewed points it spilled more than 16 GB without
  finishing in 5 minutes. The size below keeps the two calls at
  comparable shares of the pass.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ffcl_spark import EngineConfig
from ffcl_spark.datagen import docs_from_points, make_points
from ffcl_spark.kernels import neighbors
from ffcl_spark.kernels.dbscan import neighbor_counts_and_adj
from ffcl_spark.kernels.geo import geo_brute_knn
from ffcl_spark.kernels.pip import points_in_polygon
from ffcl_spark.operators import tiles as TL
from ffcl_spark.operators.dbscan import dbscan
from ffcl_spark.operators.geo import (
    geo_nearest_tile,
    nearest_tile_locals,
    sphere_knn_join,
    sphere_tiles,
)
from ffcl_spark.operators.knn_kernel import knn_join_grid, knn_resolution
from ffcl_spark.operators.search import core_distances
from ffcl_spark.plans.cache import carry, release
from ffcl_spark.plans.checkpoint import job_metrics, read_output, run_checkpointed
from ffcl_spark.sources import docs as D
from ffcl_spark.sources.points import media_points, with_cell

K = 5
SAMPLE = 32  # query points checked against the NumPy oracles per pass


# --------------------------------------------------------------- helpers


def summarize(df: DataFrame, cols: list[str], key: str, sample: list) -> tuple:
    """ONE action over ``df``: row count, an order-free digest of every
    row (sum of 32-bit slices of xxhash64, which sees every bit of a
    double), and the rows whose ``key`` is in ``sample``."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 32))).alias("h"),
        F.collect_list(F.when(F.col(key).isin(sample), F.struct(*cols))).alias("s"),
    ).collect()[0]
    return row["n"], row["h"], [tuple(r) for r in row["s"]]


def tile_dists(df: DataFrame) -> dict:
    """q_id -> tile_dist_m of a resumable-stage output."""
    return dict(df.select("q_id", "tile_dist_m").distinct().collect())


def uniform_points(seed: int, n_docs: int):
    """The ids and coordinates ``synth_docs`` derives for docs
    ``base .. base + n_docs - 1``, computed with the same int64
    arithmetic in NumPy (the ``%.3f`` round trip through the media ref
    is exact, see ``sources.docs``). ``base`` keeps ``pid * mul`` inside
    int64, so Spark's ANSI arithmetic never overflows."""
    base = int(np.random.default_rng(seed).integers(0, 10**9))
    doc = base + np.arange(n_docs, dtype=np.int64)
    ids, xs, ys = [], [], []
    for m, off in ((0, 0), (1, 2)):
        pid = doc * 2 + m
        ax = (pid * D.AX_MUL + D.AX_ADD) % D.MOD32
        ay = (pid * D.AY_MUL + D.AY_ADD) % D.MOD32
        xs.append(((ax % D.COORD_MOD) - 30000).astype(np.float64) / 1000.0)
        ys.append(((ay % D.COORD_MOD) - 30000).astype(np.float64) / 1000.0)
        ids.append(np.array([f"doc-{d}#{off}" for d in doc], dtype=object))
    xy = np.stack([np.concatenate(xs), np.concatenate(ys)], axis=1)
    return base, np.concatenate(ids), xy


def knn_expected(xy: np.ndarray, ids: np.ndarray, rows: np.ndarray, k: int) -> dict:
    """NumPy oracle: q_id -> [(r_id, dist, rank), ...] for query rows."""
    qi, nid, dist = neighbors.knn(xy[rows], xy, ids, k)
    out: dict = {}
    for q, r, d in zip(qi, nid, dist):
        lst = out.setdefault(ids[rows[q]], [])
        lst.append((r, float(d), len(lst) + 1))
    return out


def group_rows(rows: list[tuple]) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(r[0], []).append(tuple(r[1:]))
    return out


class Workload:
    """Base: one workload in one Spark session."""

    name = ""
    units_per_pass = 1  # attempted units a pass counts for in fail_frac

    def __init__(self, spark, seed: int, tracer, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.work_dir = work_dir
        self.rng = np.random.default_rng(seed)
        self.docs: DataFrame | None = None
        self.ref_digest = None

    # build + persist + count the input tables, replacing earlier ones
    def make_inputs(self) -> None:
        if self.docs is not None:
            self.docs.unpersist(blocking=True)
        self.docs = self.synth().persist()
        self.docs.count()

    def recache_inputs(self) -> None:
        """Persist the inputs again after ``clearCache``."""
        self.docs.persist()
        self.docs.count()

    def same_digest(self, digest) -> bool:
        if self.ref_digest is None:
            self.ref_digest = digest
        return digest == self.ref_digest

    def span(self, name: str, part: str = "call_s"):
        return self.tracer.span(name, part)


# ------------------------------------------------------- spatial_pipeline


class SpatialPipeline(Workload):
    name = "spatial_pipeline"
    N_DOCS = 12_000
    TILE_SIDE = 6.0
    # the resumable stage: the points with |x| < BAND (about 1 300),
    # split into N_CHUNKS by cell; the first run crashes after
    # FAIL_AFTER chunks, the second resumes
    BAND = 1.6
    N_CHUNKS = 2
    FAIL_AFTER = 1
    JOB = "geo"
    GEO_COLS = ["q_id", "r_id", "dist_m", "rank", "tile_id", "tile_dist_m"]
    EXACT_COLS = GEO_COLS[:-1]
    units_per_pass = 1 + N_CHUNKS  # the pass, and each chunk's lineage

    def __init__(self, *a):
        super().__init__(*a)
        self.base, self.ids, self.xy = uniform_points(self.seed, self.N_DOCS)
        self.n_docs = self.N_DOCS
        self.n_pts = len(self.ids)
        self.cfg = knn_resolution(self.n_pts, K, EngineConfig())
        self.band = np.nonzero(np.abs(self.xy[:, 0]) < self.BAND)[0]
        self.pass_no = 0

    def synth(self) -> DataFrame:
        src = self.spark.range(self.base, self.base + self.N_DOCS)
        return D.synth_docs(src, "id", None)

    def make_inputs(self) -> None:
        super().make_inputs()
        self.tiles = TL.grid_tiles(self.spark, self.cfg, side=self.TILE_SIDE)
        # a static tile set, collected once as an iterative caller would
        self.geo_tiles = nearest_tile_locals(sphere_tiles(self.spark))

    def prepare_checks(self) -> None:
        rings = [
            (t["tile_id"], np.array([[v["x"], v["y"]] for v in t["ring"]]))
            for t in self.tiles.select("tile_id", "ring").collect()
        ]
        # the even-odd oracle over each tile's bounding-box candidates
        x, y = self.xy[:, 0], self.xy[:, 1]
        member = np.zeros((self.n_pts, len(rings)), dtype=bool)
        for j, (_, ring) in enumerate(rings):
            lo, hi = ring.min(axis=0), ring.max(axis=0)
            cand = np.nonzero((x >= lo[0]) & (x <= hi[0]) & (y >= lo[1]) & (y <= hi[1]))[0]
            member[cand, j] = points_in_polygon(x[cand], y[cand], ring)
        self.tiles_per_point = member.sum(axis=1)
        rows = self.rng.choice(self.n_pts, SAMPLE, replace=False)
        self.sample = [str(s) for s in self.ids[rows]]
        self.want_knn = knn_expected(self.xy, self.ids, rows, K)
        names = np.array([t for t, _ in rings], dtype=object)
        self.want_tiles = {self.ids[r]: sorted(names[member[r]]) for r in rows}
        # the geodesic oracle over the band
        lat, lon, band_ids = x[self.band] * 3, y[self.band] * 6, self.ids[self.band]
        rows = self.rng.choice(len(self.band), SAMPLE, replace=False)
        self.geo_sample = [str(s) for s in band_ids[rows]]
        self.want_geo = dict(
            zip(band_ids[rows], geo_brute_knn(lat[rows], lon[rows], lat, lon, band_ids, K))
        )
        self.oneshot = None  # the chunk op over the whole band: (rows, digest), tile distances

    @staticmethod
    def to_sphere(df: DataFrame) -> DataFrame:
        return df.select("id", (F.col("x") * 3).alias("lat"), (F.col("y") * 6).alias("lon"))

    def geo_op(self, refs: DataFrame):
        """The chunk op: each chunk point's k nearest band points by
        great-circle distance, with the chunk point's nearest sphere
        tile."""
        refs = self.to_sphere(refs)

        def op(chunk: DataFrame) -> DataFrame:
            q = self.to_sphere(chunk)
            with self.span("operators.geo.sphere_knn_join"):
                nn = sphere_knn_join(q, refs, K, n_refs=len(self.band))
            with self.span("operators.geo.geo_nearest_tile"):
                nt = geo_nearest_tile(q, None, tile_locals=self.geo_tiles)
            nt = nt.select(F.col("id").alias("q_id"), "tile_id", F.col("dist_m").alias("tile_dist_m"))
            return carry(nn.join(nt, "q_id", "left").select(*self.GEO_COLS), nn)

        return op

    def run_pass(self):
        with self.span("sources.points.media_points"):
            pts = with_cell(media_points(self.docs), self.cfg)
        with self.span("sources.points.media_points", "action_s"):
            self.pts = pts.persist()
            n_pts = self.pts.count()
        xy = self.pts.select("id", "x", "y")
        with self.span("operators.knn_kernel.knn_join_grid"):
            nn = knn_join_grid(xy, xy, K, self.cfg)
        with self.span("operators.knn_kernel.knn_join_grid", "action_s"):
            knn = summarize(nn, ["q_id", "r_id", "dist", "rank"], "q_id", self.sample)
        release(nn)
        with self.span("operators.tiles.pip_join"):
            pip = TL.pip_join(xy, self.tiles, self.cfg)
        with self.span("operators.tiles.pip_join", "action_s"):
            tiles = summarize(pip, ["id", "tile_id"], "id", self.sample)

        self.pass_no += 1
        root = os.path.join(self.work_dir, f"pass{self.pass_no}")
        shutil.rmtree(root, ignore_errors=True)
        band = self.pts.where(F.abs(F.col("x")) < self.BAND)
        args = (
            self.spark, band.select("id", "x", "y", "cell"), self.geo_op(band.select("id", "x", "y")),
            F.col("cell"), self.N_CHUNKS, os.path.join(root, "out"), os.path.join(root, "_ckpt"),
        )
        with self.span("plans.checkpoint.run_checkpointed"):
            try:
                run_checkpointed(*args, job_id=self.JOB, fail_after=self.FAIL_AFTER)
                crashed = False
            except RuntimeError as exc:
                if "simulated failure" not in str(exc):
                    raise
                crashed = True
            run_checkpointed(*args, job_id=self.JOB)
        return n_pts, knn, tiles, root, crashed

    def check(self, result):
        n_pts, (kn, kh, ks), (pn, ph, ps), root, crashed = result
        problems = []
        if n_pts != self.n_pts:
            problems.append(f"points: {n_pts} rows, want {self.n_pts}")
        if kn != self.n_pts * K:
            problems.append(f"knn: {kn} rows, want {self.n_pts * K}")
        want_pip = int(self.tiles_per_point.sum())
        if pn != want_pip:
            problems.append(f"pip: {pn} rows, want {want_pip}")
        got = {q: sorted(v, key=lambda r: r[2]) for q, v in group_rows(ks).items()}
        if got != self.want_knn:
            problems.append("knn sample differs from neighbors.knn")
        got_tiles = {q: sorted(t for (t,) in v) for q, v in group_rows(ps).items()}
        want_tiles = {q: t for q, t in self.want_tiles.items() if t}
        if got_tiles != want_tiles:
            problems.append("pip sample differs from pip.points_in_polygon")

        # the resumable stage
        spark = self.spark
        band = self.pts.where(F.abs(F.col("x")) < self.BAND).select("id", "x", "y")
        # Against the one-shot run every column must match exactly but
        # the nearest-tile distance, which must match to rel 1e-9, the
        # tolerance the engine's own tests hold it to: the last bit of
        # that NumPy kernel's result depends on which points share an
        # Arrow batch, and the chunks batch the points differently.
        if self.oneshot is None:
            df = self.geo_op(band)(band)
            self.oneshot = summarize(df, self.EXACT_COLS, "q_id", [])[:2], tile_dists(df)
            release(df)
        if not crashed:
            problems.append("fail_after did not interrupt the job")
        out = read_output(spark, os.path.join(root, "out")).select(*self.GEO_COLS)
        gn, gh, gs = summarize(out, self.EXACT_COLS, "q_id", self.geo_sample)
        td = tile_dists(out)
        (one_n, one_h), one_td = self.oneshot
        if gn != len(self.band) * K:
            problems.append(f"geo: {gn} rows, want {len(self.band) * K}")
        if (gn, gh) != (one_n, one_h):
            problems.append(f"resumed output {gn, gh} != one-shot {one_n, one_h}")
        if td.keys() != one_td.keys() or not np.allclose(
            [td[q] for q in one_td], list(one_td.values()), rtol=1e-9, atol=0
        ):
            problems.append("resumed nearest-tile distances differ from the one-shot run")
        if not self.same_digest((kh, ph, gh, sorted(td.items()))):
            problems.append("output digest differs from the first pass")
        geo = group_rows(gs)
        for q, (want_ids, want_d) in self.want_geo.items():
            got = sorted(geo.get(q, []), key=lambda r: r[2])
            if [r[0] for r in got] != list(want_ids) or not np.allclose(
                [r[1] for r in got], want_d, rtol=1e-9, atol=1e-6
            ):
                problems.append(f"geodesic knn of {q} differs from geo_brute_knn")
                break
        lineage = {
            r["chunk"]: (r["n"], r["rows_out"])
            for r in job_metrics(spark, os.path.join(root, "_ckpt"), self.JOB)
            .groupBy("chunk")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("rows_out").alias("rows_out"))
            .collect()
        }
        chunk_problems = []
        for chunk in range(self.N_CHUNKS):
            done = lineage.get(chunk, (0, 0))[0]
            if done != 1:
                chunk_problems.append(f"chunk {chunk} done {done} times in the lineage")
        if sum(r for _, r in lineage.values()) != gn:
            problems.append("lineage rows_out do not add up to the output rows")
        shutil.rmtree(root, ignore_errors=True)
        self.pts.unpersist()
        return self.units_per_pass, int(bool(problems)) + len(chunk_problems), problems + chunk_problems


# -------------------------------------------------------- density_cluster


class DensityCluster(Workload):
    name = "density_cluster"
    N_POINTS = 1_000
    KIND = "unbalanced_blobs"
    MIN_SAMPLES = 10

    def __init__(self, *a):
        super().__init__(*a)
        xy = make_points(self.KIND, self.N_POINTS, self.seed)
        # the docs carry each coordinate as %.6f text; the program
        # parses that text back, so the oracle does too
        self.xy = np.vectorize(lambda v: float(f"{v:.6f}"))(xy)
        self.ids = np.array(
            [f"doc-{i // 2}#{0 if i % 2 == 0 else 2}" for i in range(len(xy))], dtype=object
        )
        self.n_pts = len(xy)
        self.n_docs = self.n_pts // 2
        self.cfg = knn_resolution(self.n_pts, K, EngineConfig())
        # The blob scale after standardization depends on how far apart
        # the seeded centres fall, so a fixed radius would give some
        # seeds ~40x the neighbour pairs of others. The radius is instead
        # the median distance at which a point becomes core (its
        # MIN_SAMPLES+1-th neighbour, self included), rounded to 3
        # digits so that no pair distance sits on the boundary.
        _, _, d = neighbors.knn(self.xy, self.xy, self.ids, self.MIN_SAMPLES + 1)
        kth = d.reshape(self.n_pts, self.MIN_SAMPLES + 1)[:, -1]
        self.radius = float(f"{np.median(kth):.3g}")

    def synth(self) -> DataFrame:
        return docs_from_points(self.spark, self.KIND, self.N_POINTS, self.seed)

    def prepare_checks(self) -> None:
        rows = self.rng.choice(self.n_pts, SAMPLE, replace=False)
        self.sample = [str(s) for s in self.ids[rows]]
        counts, adj = neighbor_counts_and_adj(self.xy, self.radius)
        core = counts > self.MIN_SAMPLES  # strict, self included
        self.want_noise = {self.ids[r]: not (core[r] or core[adj[r]].any()) for r in rows}
        _, _, d = neighbors.knn(self.xy[rows], self.xy, self.ids, K)
        kth = d.reshape(len(rows), K)[:, -1]
        self.want_core = {self.ids[r]: float(v) for r, v in zip(rows, kth)}

    def run_pass(self):
        with self.span("sources.points.media_points"):
            pts = media_points(self.docs).select("id", "x", "y")
        with self.span("sources.points.media_points", "action_s"):
            pts = pts.persist()
            n_pts = pts.count()
        with self.span("operators.dbscan.dbscan"):
            labels = dbscan(pts, self.radius, self.MIN_SAMPLES, self.cfg)
        with self.span("operators.dbscan.dbscan", "action_s"):
            db = summarize(labels, ["id", "label", "is_noise"], "id", self.sample)
        release(labels)
        with self.span("operators.search.core_distances"):
            cd = core_distances(pts, K, self.cfg)
        with self.span("operators.search.core_distances", "action_s"):
            core = summarize(cd, ["id", "core_distance"], "id", self.sample)
        release(cd)
        pts.unpersist()
        return n_pts, db, core

    def check(self, result):
        n_pts, (dn, dh, ds), (cn, ch, cs) = result
        problems = []
        for what, n in (("points", n_pts), ("dbscan", dn), ("core_distances", cn)):
            if n != self.n_pts:
                problems.append(f"{what}: {n} rows, want {self.n_pts}")
        if not self.same_digest((dh, ch)):
            problems.append("output digest differs from the first pass")
        if {r[0]: bool(r[2]) for r in ds} != self.want_noise:
            problems.append("dbscan noise flags differ from the neighbor-count oracle")
        if {r[0]: r[1] for r in cs} != self.want_core:
            problems.append("core_distances sample differs from neighbors.knn")
        return 1, int(bool(problems)), problems


WORKLOADS = {w.name: w for w in (SpatialPipeline, DensityCluster)}
