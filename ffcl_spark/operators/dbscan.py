"""Distributed DBSCAN with the reference's exact point semantics.

Reference ``DBSCAN.hpp:103-191``; semantics contract (SURVEY.md §7):
core iff |N_radius(p)| > min_samples (strict, self included, strict
dist < radius); noise = 0; labels canonicalized to the minimum point
id in each cluster's core set (the reference's raw labels are
scan-order dependent and irreproducible distributedly — FIXTURES.md §4
mandates the canonical comparison).

Distributed decomposition (order-free, so the result is exactly
deterministic at any parallelism):

1. core flags: radius self-join count per point (one shuffle).
2. local components: per cell, union cores of the same cell that are
   within radius (vectorized kernel inside ``applyInPandas``).
3. boundary merge: core-core pairs within radius that span cells are
   produced by the same radius join restricted to cross-cell pairs;
   their *component-id* pairs (few — only cells' worth of labels, not
   points) are collected and merged with a driver union-find
   (path-halving / union-by-rank — reference ``UnionFind.hpp:11-79``).
4. relabel: broadcast the component→canonical-label map; border
   points (non-core with ≥1 in-radius core) take the min cluster label
   among their cores; noise stays 0.

Step 3's collected set scales with the number of *cross-cell adjacent
core components*, not points — at 100 TB this is the per-cell-boundary
metadata, bounded by cells × constant, and the anti-scale piece (the
union-find) is O(edges α(n)) on the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ffcl_spark.config import EngineConfig
from ffcl_spark.functions import cells as C
from ffcl_spark.kernels.neighbors import pairwise_sq_2d
from ffcl_spark.operators.search import radius_join
from ffcl_spark.plans.cache import carry


class UnionFind:
    """Path-halving find + union-by-rank merge — same structure as the
    reference ``UnionFind.hpp:48-79``, keyed by arbitrary hashables."""

    def __init__(self):
        self.parent: dict = {}
        self.rank: dict = {}

    def find(self, x):
        p = self.parent.setdefault(x, x)
        self.rank.setdefault(x, 0)
        while p != self.parent[p]:
            self.parent[x] = self.parent[self.parent[x]]  # path halving
            x = self.parent[x]
            p = self.parent[x]
        return p

    def merge(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return ra
        if self.rank[ra] < self.rank[rb]:
            ra, rb = rb, ra
        self.parent[rb] = ra
        if self.rank[ra] == self.rank[rb]:
            self.rank[ra] += 1
        return ra


def dbscan(
    points: DataFrame,
    radius: float,
    min_samples: int,
    cfg: EngineConfig,
) -> DataFrame:
    """(id, label, is_noise): canonical DBSCAN labels; noise label is
    NULL-free 0 (the string "0" when ids are strings — label dtype
    follows the id column so canonical labels are min point ids), and
    ``is_noise`` is the unambiguous flag (a cluster whose min member id
    is 0 would otherwise collide with the sentinel)."""
    pairs = radius_join(points, points, radius, cfg).persist()
    pts_cell = points.select(
        "id", C.cell_id(F.col("x"), F.col("y"), cfg).alias("cell")
    )
    return _dbscan_from_pairs(points.select("id"), pairs, pts_cell, min_samples)


def dbscan_nd(
    points: DataFrame,
    radius: float,
    min_samples: int,
    cfg: EngineConfig,
    vec_col: str = "features",
    axes: tuple[int, int] = (0, 1),
    metric: str = "euclidean",
) -> DataFrame:
    """n-D DBSCAN over an ``array<double>`` feature column — identical
    decomposition, pairs from the n-D radius join (full-metric
    distances), cells on the projected grid axes. Reference
    ``DBSCAN.hpp:103-191`` is dimension-generic; this is its n-features
    form."""
    from ffcl_spark.operators.search_nd import _proj, radius_join_nd

    pairs = radius_join_nd(
        points, points, radius, cfg, vec_col, axes, metric
    ).persist()
    v = F.col(vec_col)
    pts_cell = points.select(
        "id", C.cell_id(_proj(v, axes[0]), _proj(v, axes[1]), cfg).alias("cell")
    )
    return _dbscan_from_pairs(points.select("id"), pairs, pts_cell, min_samples)


def _dbscan_from_pairs(
    ids_df: DataFrame,
    pairs: DataFrame,
    pts_cell: DataFrame,
    min_samples: int,
) -> DataFrame:
    """Shared label machinery: (all ids, in-radius pairs, id→cell) →
    canonical labels. Dimension-agnostic — everything downstream of the
    radius join operates on ids, cells, and counts only."""
    points = ids_df

    # 1. core flags: strict count > min_samples, self pair included
    counts = pairs.groupBy("q_id").agg(F.count(F.lit(1)).alias("n"))
    core = counts.where(F.col("n") > min_samples).select(
        F.col("q_id").alias("id")
    )
    core = core.persist()

    # 2. core-core edges + per-cell pre-merge
    core_q = core.select(F.col("id").alias("q_id"))
    core_r = core.select(F.col("id").alias("r_id"))
    cc = (
        pairs.join(core_q, "q_id")
        .join(core_r, "r_id")
        .where(F.col("q_id") < F.col("r_id"))
    )
    cc_cells = (
        cc.join(pts_cell.withColumnRenamed("id", "q_id").withColumnRenamed("cell", "q_cell"), "q_id")
        .join(pts_cell.withColumnRenamed("id", "r_id").withColumnRenamed("cell", "r_cell"), "r_id")
    )

    # same-cell core edges → local components inside a kernel
    id_type = points.schema["id"].dataType
    local_schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("comp", id_type)]
    )

    def local_components(key, pdf):
        # fully vectorized connected components: min-label propagation
        # with pointer jumping (Shiloach–Vishkin style) — no per-edge
        # Python loop, so a dense hot cell stays NumPy-bound.
        # factorize(sort=True) ranks ids, so the min label IS the min id.
        both = pd.concat([pdf["q_id"], pdf["r_id"]], ignore_index=True)
        codes, uniq = pd.factorize(both, sort=True)
        n_nodes = len(uniq)
        m_edges = len(pdf)
        qi = codes[:m_edges].astype(np.int64)
        ri = codes[m_edges:].astype(np.int64)
        lab = np.arange(n_nodes, dtype=np.int64)
        while True:
            nxt = lab.copy()
            np.minimum.at(nxt, qi, lab[ri])
            np.minimum.at(nxt, ri, lab[qi])
            nxt = np.minimum(nxt[nxt], nxt)  # pointer jump (path halving)
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        uniq = np.asarray(uniq)
        return pd.DataFrame({"id": uniq, "comp": uniq[lab]})

    same_cell = cc_cells.where(F.col("q_cell") == F.col("r_cell")).select(
        "q_cell", "q_id", "r_id"
    )
    local_comp = same_cell.groupBy("q_cell").applyInPandas(
        local_components, local_schema
    )
    # cores isolated within their cell (no same-cell core edge) are
    # their own component
    comp = (
        core.join(local_comp, "id", "left")
        .select("id", F.coalesce("comp", "id").alias("comp"))
        .persist()
    )

    # 3. cross-cell core edges → component-id pairs → driver union-find
    cross = cc_cells.where(F.col("q_cell") != F.col("r_cell")).select("q_id", "r_id")
    comp_q = comp.select(F.col("id").alias("q_id"), F.col("comp").alias("q_comp"))
    comp_r = comp.select(F.col("id").alias("r_id"), F.col("comp").alias("r_comp"))
    comp_edges = (
        cross.join(comp_q, "q_id")
        .join(comp_r, "r_id")
        .select("q_comp", "r_comp")
        .distinct()
        .collect()
    )
    uf = UnionFind()
    for row in comp_edges:
        uf.merge(row["q_comp"], row["r_comp"])
    roots: dict = {}
    canon: dict = {}
    for row in comp_edges:
        for c in (row["q_comp"], row["r_comp"]):
            roots[c] = uf.find(c)
    for c, r in roots.items():
        m = canon.get(r)
        if m is None or c < m:
            canon[r] = c
    mapping = [(c, canon[roots[c]]) for c in roots]

    spark = points.sparkSession
    if mapping:
        map_df = spark.createDataFrame(
            mapping, T.StructType([T.StructField("comp", id_type), T.StructField("glabel", id_type)])
        )
        core_label = comp.join(F.broadcast(map_df), "comp", "left").select(
            "id", F.coalesce("glabel", "comp").alias("label")
        )
    else:
        core_label = comp.select("id", F.col("comp").alias("label"))

    # 4. border points: non-core with ≥1 in-radius core → min core label
    core_lbl_r = core_label.select(
        F.col("id").alias("r_id"), F.col("label").alias("r_label")
    )
    border = (
        pairs.join(core_lbl_r, "r_id")
        .join(core_label.select(F.col("id").alias("q_id")), "q_id", "left_anti")
        .groupBy("q_id")
        .agg(F.min("r_label").alias("label"))
        .select(F.col("q_id").alias("id"), "label")
    )

    labeled = core_label.unionByName(border)
    # noise keeps the 0 sentinel for backward compatibility, but the
    # explicit is_noise flag disambiguates a cluster whose canonical
    # (min member) id happens to BE 0 — ids may start at 0
    noise_label = F.lit(0).cast(id_type)
    out = (
        points.select("id")
        .join(labeled, "id", "left")
        .select(
            "id",
            F.coalesce("label", noise_label).alias("label"),
            F.col("label").isNull().alias("is_noise"),
        )
    )
    # persisted intermediates (the caller's pairs join + core/comp)
    # ride the result for plans.cache.release — the one-shot-caller
    # hand-off discipline every other persisting operator follows
    return carry(out, pairs, core, comp)
