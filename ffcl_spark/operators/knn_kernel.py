"""The engine's grid kNN join: a two-level cogrouped NumPy kernel.

:func:`knn_join_grid` keeps the grid decomposition (grid = the global
kd-tree levels) and runs the leaf scan as a *cogrouped Arrow kernel*.
The grid lives on the two columns ``x``, ``y``; the distance is a left
fold over a tuple of coordinate columns (``coords``), so the same
kernel serves planar points (``("x", "y")``) and low-dimension n-D
points projected onto two grid axes
(:func:`ffcl_spark.operators.search_nd.knn_join_nd`):

- queries and refs group by a coarse cell (refs replicated to the
  groups their fine ring-1 neighborhood touches, one shuffle);
- per fine query cell, a NumPy block scan computes exact top-k against
  the 3×3 fine neighborhood (float64, same IEEE operation order as the
  SQL distance expressions → bit-equal distances), in query blocks of
  at most ``PAIR_BUDGET`` distances. A projection never exceeds the
  full distance, so the grid prune stays exact in n-D;
- the FFCL sibling-prune termination (``KDNodeView.hpp:235-243``) is
  evaluated *inside* the kernel: a query whose k-th distance is
  strictly below the guaranteed-covered radius is done; the (rare)
  rest are scanned against every ref in one broadcast pass.

``search.knn_join``, ``search.core_distances`` and the low-dimension
plan of ``search_nd.knn_join_nd`` run on it.
``knn_join_kernel``, the former fine-cell cogroup plan, is an alias:
the grouping decides which task scans a fine cell, never which rows
the scan returns.

Resolution should put O(max(48, 3k)) points per cell
(``knn_resolution``) — the analogue of FFCL's bucket_size leaf cutoff
(``KDTree.hpp:60-67``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ffcl_spark.config import EngineConfig
from ffcl_spark.functions import cells as C
from ffcl_spark.kernels import grid as G
from ffcl_spark.kernels.neighbors import fold_dist, topk_rows
from ffcl_spark.plans.cache import carry
from ffcl_spark.plans.stats import hot_keys

PAIR_BUDGET = 4_000_000  # elements per distance block inside the kernel


def knn_resolution(n_rows: int, k: int, cfg: EngineConfig) -> EngineConfig:
    """Deepest resolution keeping ≈max(48, 3k) rows per cell.

    (r6 note: a finer target — max(12, 2k), 4× fewer candidate
    distances per query — was measured at the bench scale and was NOT
    faster: the grouped kernel is bounded by per-group/py-boundary
    overhead and output construction, not by the NumPy distance scan,
    and the 4× group count outweighed the saved flops. Kept at the
    r5 value; see OPTIMIZATION_r06.md.)"""
    target = max(48, 3 * k)
    res = 0
    while res < 14 and n_rows / (4 ** (res + 1)) >= target:
        res += 1
    return cfg.with_resolution(res)


def _coarse_key_expr(ixc, iyc, gshift: int):
    return F.shiftleft(F.shiftright(ixc, gshift), 26) + F.shiftright(iyc, gshift)


def hot_coarse_groups(
    refs: DataFrame,
    cfg: EngineConfig,
    group_delta: int = 2,
    hot_group_rows: int = 2_000_000,
) -> list[int]:
    """Coarse group keys whose ref count exceeds ``hot_group_rows`` —
    ONE ref-set aggregation. Iterative callers (Borůvka escalation
    rounds, chunked pipelines) whose ref set is fixed compute this once
    and pass it to every ``knn_join_grid`` call via ``hot_groups``,
    instead of paying a full ref scan per call (round-3 ADVICE). The
    list is grid-bounded metadata (≤ #coarse cells), never point-sized."""
    if cfg.resolution < group_delta:
        return []
    # hot_keys skips the detection job when the ref set's exact row
    # count is at or below the threshold. Plan-only: hot
    # classification never changes results, only the physical grouping.
    fcell = refs.select(C.cell_id(F.col("x"), F.col("y"), cfg).alias("fcell"))
    key = _coarse_key_expr(C.cell_ix(F.col("fcell")), C.cell_iy(F.col("fcell")), group_delta)
    return hot_keys(fcell.select(key.alias("g")), "g", hot_group_rows)


def knn_join_grid(
    queries: DataFrame,
    refs: DataFrame,
    k: int,
    cfg: EngineConfig,
    group_delta: int = 2,
    checkpoint: bool = False,
    hot_group_rows: int | None = 2_000_000,
    hot_groups: list[int] | None = None,
    metric: str = "euclidean",
    coords: tuple[str, ...] = ("x", "y"),
) -> DataFrame:
    """(q_id, r_id, dist, rank) — exact kNN, FFCL semantics, ties by
    r_id; self included when queries ⊆ refs. A two-level decomposition
    that minimizes both shuffle volume and per-group overhead:

    - *outside*: grouping happens at the coarse resolution
      ``cfg.resolution - group_delta`` (16× fewer pandas groups at
      delta=2; ``group_delta`` is clamped to ``cfg.resolution``, so at
      resolution ≤ delta all points form one group). Refs are
      replicated only to the coarse groups their fine ring-1
      neighborhood touches — replication factor ≈ 1 + perimeter/area
      (~1.5) instead of the 9× of fine-cell cogrouping.
    - *inside*: the kernel buckets refs by fine cell (lexsort +
      searchsorted — the top levels of a local kd-tree) and scans each
      query fine-cell block against its 3×3 fine neighborhood with the
      vectorized leaf kernel (``topk_rows``: exact (dist, id) ties),
      ``PAIR_BUDGET`` distances per query block so a dense fine cell
      never builds an unbounded queries × candidates matrix.

    ``metric``: 'euclidean' (``sqrt(dx*dx + dy*dy)``) or 'manhattan'
    (``abs(dx) + abs(dy)``, the reference's L1 dispatch for integral
    data, ``Distances.hpp:94-117``) — the same IEEE operations as the
    SQL fold of :func:`ffcl_spark.operators.search.radius_join`, so
    distances are bit-equal.

    ``coords``: the double columns the distance folds over, in
    dimension order (:func:`ffcl_spark.kernels.neighbors.fold_dist`).
    Grid keys, hot groups and the done rule always use ``x`` and
    ``y``; they must be a projection of ``coords`` (two of them), so
    the projected distance never exceeds the full one and the done
    rule stays exact. ``("x", "y")`` is the planar join;
    ``search_nd.knn_join_nd`` passes the flattened vector.

    Termination is the FFCL sibling-prune rule at fine ring 1
    (``KDNodeView.hpp:235-243``): a query is done when its k-th
    distance is strictly below the L∞ distance to the searched box's
    border. L2 ≥ L∞ and L1 ≥ L∞, so the rule holds for both metrics.
    Straggler pass: the queries that are not done are collected to the
    driver and scanned against every ref (:func:`_broadcast_pass`) —
    exact, no ref shuffle, no task holding more than one Arrow batch of
    refs however skewed they are. It costs pending × refs distances;
    14 of 100 000 skewed-blob queries were pending at
    ``knn_resolution``.

    Skew (``hot_group_rows``): one cheap ref-count aggregation finds
    coarse groups whose ref count exceeds the threshold; points of hot
    groups key by their FINE cell instead (adaptive group splitting —
    the engine's analogue of the reference's hot-node median split,
    ``KDTreeAlgorithms.hpp:157-223``), so a pathological hot spot
    becomes up-to-16 independently-sized Arrow tasks instead of one
    straggler. Refs near a hot region replicate to the fine groups
    their ring-1 neighborhood touches (~9×, but only there); the
    kernel and the termination rule are unchanged. ``None`` disables
    the stats pass. ``hot_groups``: a precomputed list from
    :func:`hot_coarse_groups` — iterative callers with a fixed ref set
    pass it to skip the per-call detection scan (round-3 ADVICE).

    ``checkpoint``: cache hand-off mode (see ``plans.cache``) — False
    (default, one-shot callers) returns a view over the persisted
    kernel output, no second materialization; True (iterative callers
    like Borůvka) checkpoints the grid pass's and the straggler pass's
    final rows and releases every intermediate before returning.
    """
    if metric not in ("euclidean", "manhattan"):
        raise ValueError(f"unknown metric {metric!r}")
    group_delta = min(group_delta, cfg.resolution)
    if hot_groups is not None:
        hot = list(hot_groups)
    elif hot_group_rows is not None:
        hot = hot_coarse_groups(refs, cfg, group_delta, hot_group_rows)
    else:
        hot = []

    grouped = _grid_pass(queries, refs, k, cfg, group_delta, hot, metric, coords).persist()
    out = grouped.where(F.col("done")).select("q_id", "r_id", "dist", "rank")
    if checkpoint:
        # iterative callers: checkpoint final rows off the cached
        # kernel output, then drop the cache — Borůvka calls this per
        # escalation round and must not accumulate cached partitions
        out = out.localCheckpoint()
    # every query is represented in `grouped` (placeholders for the
    # candidate-less case), so the pending check is a cached scan, no
    # join — the common case returns here. This isEmpty is the action
    # that materializes the kernel output into the cache; the one-shot
    # caller's own action then reads the cache (the r1-floor plan —
    # the unconditional localCheckpoint cost the headline join ~1.5x
    # in round 2).
    not_done = grouped.where(~F.col("done")).select(F.col("q_id").alias("id"))
    if not not_done.isEmpty():
        pend = queries.join(not_done.distinct(), "id", "left_semi").select("id", *coords)
        tail = _broadcast_pass(
            pend.toPandas(), queries.schema["id"].dataType, refs, k, metric, coords
        )
        if checkpoint:
            tail = tail.localCheckpoint()
        out = out.unionByName(tail)
    if checkpoint:
        grouped.unpersist()
        return out
    return carry(out, grouped)


def _broadcast_pass(
    pend: pd.DataFrame,
    q_type: T.DataType,
    refs: DataFrame,
    k: int,
    metric: str,
    coords: tuple[str, ...],
) -> DataFrame:
    """Exact (q_id, r_id, dist, rank) of the few pending queries
    against every ref: the queries ship with the task closure, the refs
    are scanned where they lie (no ref shuffle) one Arrow batch at a
    time, and a window over q_id merges the per-batch top-k by
    (dist, r_id). Work is pending × refs distances."""
    qids = pend["id"].to_numpy()
    qcols = [pend[c].to_numpy() for c in coords]

    def scan(batches):
        for b in batches:
            if len(b) == 0:
                continue
            o = np.argsort(b["id"].to_numpy(), kind="stable")  # columns in id order
            rids = b["id"].to_numpy()[o]
            rcols = [b[c].to_numpy()[o] for c in coords]
            kk = min(k, len(rids))
            step = max(16, PAIR_BUDGET // len(rids))
            for s in range(0, len(qids), step):
                d = fold_dist([qc[s : s + step] for qc in qcols], rcols, metric)
                part, dd = topk_rows(d, kk)
                yield pd.DataFrame(
                    {
                        "q_id": np.repeat(qids[s : s + step], kk),
                        "r_id": rids[part].ravel(),
                        "dist": dd.ravel(),
                    }
                )

    schema = T.StructType(
        [
            T.StructField("q_id", q_type),
            T.StructField("r_id", refs.schema["id"].dataType),
            T.StructField("dist", T.DoubleType()),
        ]
    )
    w = Window.partitionBy("q_id").orderBy("dist", "r_id")
    return (
        refs.select("id", *coords)
        .mapInPandas(scan, schema)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _grid_pass(
    queries: DataFrame,
    refs: DataFrame,
    k: int,
    cfg: EngineConfig,
    group_delta: int,
    hot: list[int],
    metric: str,
    coords: tuple[str, ...],
) -> DataFrame:
    """The grid pass of :func:`knn_join_grid`: the cogrouped kernel's
    (q_id, r_id, dist, rank, done) rows, one row set per query (a
    NaN placeholder row for a query with no candidate)."""
    id_type = queries.schema["id"].dataType
    grid_n = cfg.grid_n
    # the grid columns ship once even when they are also coordinates
    shipped = list(dict.fromkeys(("x", "y", *coords)))

    FINE_FLAG = 1 << 53  # keeps fine-cell group keys disjoint from coarse keys

    fcell = C.cell_id(F.col("x"), F.col("y"), cfg)
    r_base = refs.select(
        F.col("id").alias("r_id"),
        *[F.col(c).alias(f"r_{c}") for c in shipped],
        fcell.alias("fcell"),
    )

    def gkey(ixc, iyc):
        ck = _coarse_key_expr(ixc, iyc, group_delta)
        if not hot:
            return ck
        return F.when(
            ck.isin(hot), F.shiftleft(ixc, 26) + iyc + F.lit(FINE_FLAG)
        ).otherwise(ck)

    q = queries.select(
        F.col("id").alias("q_id"),
        *[F.col(c).alias(f"q_{c}") for c in shipped],
        fcell.alias("fcell"),
    ).withColumn(
        "grp", gkey(C.cell_ix(F.col("fcell")), C.cell_iy(F.col("fcell")))
    )

    # serving groups of a ref = group keys of its fine ring-1
    # neighborhood (distinct; with no hot groups this reduces to the
    # coarse parents — ~1.5× replication — and to ≤9 fine groups only
    # inside split hot regions)
    rix = C.cell_ix(F.col("fcell"))
    riy = C.cell_iy(F.col("fcell"))
    neigh_keys = []
    for dxx in (-1, 0, 1):
        for dyy in (-1, 0, 1):
            cx = F.greatest(F.lit(0), F.least(F.lit(grid_n - 1), rix + dxx))
            cy = F.greatest(F.lit(0), F.least(F.lit(grid_n - 1), riy + dyy))
            neigh_keys.append(gkey(cx, cy))
    r = (
        r_base.withColumn("grp", F.explode(F.array_distinct(F.array(*neigh_keys))))
        .drop("fcell")
    )

    out_schema = T.StructType(
        [
            T.StructField("q_id", id_type),
            T.StructField("r_id", refs.schema["id"].dataType),
            T.StructField("dist", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
            T.StructField("done", T.BooleanType()),
        ]
    )
    empty = pd.DataFrame(
        {"q_id": [], "r_id": [], "dist": [], "rank": [], "done": []}
    ).astype({"rank": "int32", "done": "bool"})

    def kernel(qpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        nq = len(qpdf)
        if nq == 0:
            return empty
        qx = qpdf["q_x"].to_numpy()
        qy = qpdf["q_y"].to_numpy()
        qcols = [qpdf[f"q_{c}"].to_numpy() for c in coords]
        qids = qpdf["q_id"].to_numpy()
        qfx, qfy = G.cell_ixy(qpdf["fcell"].to_numpy())
        nr = len(rpdf)
        # bucket refs by fine cell. Ids are ranked into integer codes
        # ONCE per group (one object sort) so all per-block tie-break
        # work is integer-only.
        rids = rpdf["r_id"].to_numpy()
        id_rank = np.empty(nr, dtype=np.int64)
        id_rank[np.argsort(rids, kind="stable")] = np.arange(nr)
        rfx = G.axis_index(rpdf["r_x"].to_numpy(), cfg.x0, cfg.cell_size, grid_n)
        rfy = G.axis_index(rpdf["r_y"].to_numpy(), cfg.y0, cfg.cell_size, grid_n)
        rkey = rfx * grid_n + rfy
        order = np.lexsort((id_rank, rkey))
        rcols = [rpdf[f"r_{c}"].to_numpy()[order] for c in coords]
        rids, rkey = rids[order], rkey[order]
        rcode = id_rank[order]

        qkey = qfx * grid_n + qfy
        qorder = np.argsort(qkey, kind="stable")
        bounds = np.nonzero(np.diff(qkey[qorder]))[0] + 1
        blocks = np.split(qorder, bounds)

        # accumulate flat numpy arrays; build ONE frame per group
        acc_q: list[np.ndarray] = []
        acc_r: list[np.ndarray] = []
        acc_d: list[np.ndarray] = []
        acc_rank: list[np.ndarray] = []
        acc_done: list[np.ndarray] = []
        for blk in blocks:
            a = int(qfx[blk[0]])
            b = int(qfy[blk[0]])
            slices = []
            for dxx in (-1, 0, 1):
                cx = a + dxx
                if cx < 0 or cx >= grid_n:
                    continue
                lo = np.searchsorted(rkey, cx * grid_n + max(0, b - 1), side="left")
                hi = np.searchsorted(rkey, cx * grid_n + min(grid_n - 1, b + 1), side="right")
                if hi > lo:
                    slices.append((lo, hi))
            if not slices:
                # placeholder rows keep every query represented so the
                # pending check never needs an anti-join against queries
                acc_q.append(qids[blk])
                acc_r.append(qids[blk])
                acc_d.append(np.full(len(blk), np.nan))
                acc_rank.append(np.zeros(len(blk), dtype="int32"))
                acc_done.append(np.zeros(len(blk), dtype=bool))
                continue
            cand = (
                np.arange(*slices[0])
                if len(slices) == 1
                else np.concatenate([np.arange(lo, hi) for lo, hi in slices])
            )
            # candidate columns in ascending id-code order (int sort)
            cid_order = np.argsort(rcode[cand], kind="stable")
            cand = cand[cid_order]
            ccols = [rc[cand] for rc in rcols]
            kk = min(k, len(cand))
            ranks = np.arange(1, kk + 1, dtype="int32")
            step = max(16, PAIR_BUDGET // len(cand))
            for s in range(0, len(blk), step):
                sub = blk[s : s + step]
                # sqrt before ranking — tie-break is on the final distance
                d = fold_dist([qc[sub] for qc in qcols], ccols, metric)
                part, dd = topk_rows(d, kk)
                gr = G.guaranteed_radius(qx[sub], qy[sub], a, b, 1, cfg)
                done = (grid_n <= 1) | ((kk >= k) & (dd[:, -1] < gr))
                acc_q.append(np.repeat(qids[sub], kk))
                acc_r.append(rids[cand[part.ravel()]])
                acc_d.append(dd.ravel())
                acc_rank.append(np.tile(ranks, len(sub)))
                acc_done.append(np.repeat(done, kk))
        return pd.DataFrame(
            {
                "q_id": np.concatenate(acc_q),
                "r_id": np.concatenate(acc_r),
                "dist": np.concatenate(acc_d),
                "rank": np.concatenate(acc_rank),
                "done": np.concatenate(acc_done),
            }
        )

    return q.groupBy("grp").cogroup(r.groupBy("grp")).applyInPandas(kernel, out_schema)


# the former fine-cell cogroup plan; the name stays for existing callers
knn_join_kernel = knn_join_grid
