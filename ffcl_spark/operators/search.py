"""Distributed spatial search operators: box, radius join, kNN join.

All three take a "points" DataFrame with columns ``(id, x, y)`` (id:
any orderable atomic type) and reproduce the reference's result-set
semantics (SURVEY.md §7 contract). The grid cell column is the
partition key — the distributed stand-in for the reference kd-tree's
upper levels; candidate generation mirrors its traversal:

- box search → plain column predicates (Catalyst-native; pushed to the
  parquet scan). Reference: AABB search, ``AABBWithCentroid.hpp``,
  inclusive bounds ``LowerBoundAndUpperBound.hpp:76-78``.
- radius join → queries explode to the Chebyshev-``ceil(r/s)`` cell
  neighborhood, equi-join on cell, strict ``dist < r`` post-filter.
  Reference: ``Ball.hpp:91-97,208-216`` + traversal. n-D runs it on
  the flattened vector (``coords``, ``search_nd.radius_join_nd``).
- kNN join and core distances → the cogrouped grid plan
  (:func:`ffcl_spark.operators.knn_kernel.knn_join_grid`) with the
  furthest-distance termination rule — the distributed form of the
  kd-tree sibling prune (``KDNodeView.hpp:235-243``). ``knn_join`` is
  its alias here.

Box search and the radius join are 100% JVM (explode/join,
WholeStageCodegen); no Python executes per row. Distance =
sqrt(dx*dx + dy*dy) in float64 — bit-identical to the NumPy kernels.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ffcl_spark.config import EngineConfig
from ffcl_spark.functions import cells as C
from ffcl_spark.operators.knn_kernel import knn_join_grid
from ffcl_spark.plans.cache import carry
from ffcl_spark.plans.stats import broadcast_threshold_bytes, plan_size_bytes, salt_hot_keys

def box_search(points: DataFrame, x_lo: float, y_lo: float, x_hi: float, y_hi: float) -> DataFrame:
    """All points inside the axis-aligned box, bounds inclusive."""
    return points.where(
        F.col("x").between(x_lo, x_hi) & F.col("y").between(y_lo, y_hi)
    )


def _tag(df: DataFrame, prefix: str, coords: tuple[str, ...]) -> DataFrame:
    cols = ["x", "y", *(c for c in coords if c not in ("x", "y"))]
    return df.select(
        F.col("id").alias(f"{prefix}_id"), *(F.col(c).alias(f"{prefix}_{c}") for c in cols)
    )


def _fold(coords: tuple[str, ...], term) -> Column:
    # ((t0 + t1) + t2) + …, the order of kernels.neighbors.fold_dist
    acc = None
    for c in coords:
        t = term(F.col(f"q_{c}") - F.col(f"r_{c}"))
        acc = t if acc is None else acc + t
    return acc


def radius_join(
    queries: DataFrame,
    refs: DataFrame,
    radius: float,
    cfg: EngineConfig,
    salt_hot_cells: bool = True,
    metric: str = "euclidean",
    coords: tuple[str, ...] = ("x", "y"),
) -> DataFrame:
    """All (q_id, r_id, dist) with dist < radius (strict).

    ``metric``: 'euclidean' (default) or 'manhattan'. The cell-cover
    bound is metric-safe: an L1 (or L2) ball of radius r fits inside
    the L∞ box of radius r, so the same Chebyshev ring cover applies.

    ``coords``: the double columns the distance left-folds over in
    dimension order (``(q_c - r_c) * (q_c - r_c)`` summed then
    ``sqrt``, or ``abs(q_c - r_c)`` summed — the IEEE operations of
    ``kernels.neighbors.fold_dist``). The cover, prune, salting and
    join strategy use ``x`` and ``y``, a projection of ``coords``
    whose distance never exceeds the full one.

    One shuffle on the cell key; the Chebyshev ring radius needed to
    cover an L2 radius r is ceil(r / cell_size), known a priori, so no
    iteration. Self-pairs appear when queries is refs (FFCL includes
    the query point at distance 0).

    Plan (r6 optimization pass — results unchanged, exactness argued
    inline):

    - *radius-matched resolution*: candidate pairs scale with the area
      of the probed neighborhood, ≈(2r + s)² per query at cell side s,
      so the join re-cells internally at the deepest resolution whose
      cell side lands in s ∈ [r/2, r), instead of using whatever
      resolution the caller's cfg carries. The grid is only a
      candidate plan; the exact dist predicate decides membership, so
      the result is resolution-independent.
    - *cell box-distance prune*: an exploded (query, cell) row whose
      cell box lies entirely ≥ r away can contribute no pair and is
      dropped BEFORE the join (before the exchange — guide §2.3).
      Sound in float: each box edge is moved out by
      ``cfg.edge_slack``, which covers the rounding of the edge and of
      the ref's cell assignment, and the gap is one rounded
      subtraction from that edge, so 0 ≤ gx ≤ |dx| for every ref in
      the cell (domain-clamped edge cells treat the clamped side as
      unbounded). Correctly-rounded ops are monotone and fold terms
      are ≥ 0, so fl(gx² + gy²) ≤ the full fold over ``coords`` and
      fl(gx + gy) ≤ the L1 fold. Cuts candidates ≈2-3× on top of
      the resolution match.
    - *deliberate join strategy*: broadcast the (unexploded) refs side
      when Catalyst's own estimate fits the broadcast threshold —
      never the exploded query side, whose post-Generate estimate is
      unreliable — else force a shuffled-hash join (build = refs;
      sorting candidate pairs would be pure waste).
    - *deferred sqrt* (euclidean): candidates are filtered on the
      squared form first — dist < r ⟹ d2 < r² (monotone correctly-
      rounded sqrt with r exactly representable), so the prefilter
      keeps a superset and the exact ``sqrt(d2) < r`` decides; sqrt
      runs only on survivors.

    Skew: cells whose ref count exceeds ``cfg.hot_cell_rows`` are
    salted over ``cfg.salt_buckets`` sub-keys by
    :func:`ffcl_spark.plans.stats.salt_hot_keys` (AQE skew-join
    splitting remains on as the second line of defense). Its detection
    job is skipped when the refs' exact row count is at or below the
    threshold.
    """
    if metric not in ("euclidean", "manhattan"):
        raise ValueError(f"unknown metric {metric!r}")
    if radius > 0:
        res_star = max(0, min(14, math.ceil(math.log2(cfg.domain / radius))))
        cfg = cfg.with_resolution(res_star)
    rings = max(1, math.ceil(radius / cfg.cell_size))
    q = _tag(queries, "q", coords).withColumn(
        "cell",
        F.explode(
            C.neighbor_cells(C.cell_id(F.col("q_x"), F.col("q_y"), cfg), rings, cfg)
        ),
    )
    # box-distance prune: drop (query, cell) rows whose cell box cannot
    # hold any point strictly closer than r. Edge cells absorb the
    # whole out-of-domain half-plane (axis_index clamps), so their
    # clamped sides must not bound the gap. The box edge x0 + ix*s is
    # rounded, and a ref's cell comes from the rounded
    # floor((x - x0) / s), so a ref can sit a few ulps of the domain's
    # magnitude outside its nominal box: each edge moves out by
    # cfg.edge_slack before the (monotone) gap subtraction.
    n = cfg.grid_n
    s = F.lit(cfg.cell_size)
    slack = F.lit(cfg.edge_slack)
    ix = C.cell_ix(F.col("cell"))
    iy = C.cell_iy(F.col("cell"))
    x_lo = F.lit(cfg.x0) + ix.cast("double") * s
    y_lo = F.lit(cfg.y0) + iy.cast("double") * s
    zero = F.lit(0.0)
    gx = F.greatest(
        zero,
        F.when(ix > 0, (x_lo - slack) - F.col("q_x")).otherwise(zero),
        F.when(ix < n - 1, F.col("q_x") - ((x_lo + s) + slack)).otherwise(zero),
    )
    gy = F.greatest(
        zero,
        F.when(iy > 0, (y_lo - slack) - F.col("q_y")).otherwise(zero),
        F.when(iy < n - 1, F.col("q_y") - ((y_lo + s) + slack)).otherwise(zero),
    )
    # non-strict bounds: a passing pair can sit exactly AT d2 == r·r
    # in float (its sqrt rounding down below r), so the superset
    # filters must keep the equality boundary
    if metric == "manhattan":
        q = q.where(gx + gy < radius)  # fl(gx+gy) ≤ fl(|dx|+|dy|) < r
    else:
        q = q.where(gx * gx + gy * gy <= radius * radius)
    r = _tag(refs, "r", coords).withColumn(
        "cell", C.cell_id(F.col("r_x"), F.col("r_y"), cfg)
    )
    keys = ["cell"]
    if salt_hot_cells:
        q, r, keys = salt_hot_keys(q, r, cfg)
    # join strategy: build on the compact refs side, never the exploded
    # query side (guide §3.1) — broadcast when it truly fits, else a
    # shuffled-hash join (candidate pairs are filtered immediately, so
    # a sort-merge's sorts would be pure overhead)
    if plan_size_bytes(r) <= broadcast_threshold_bytes(refs):
        joined = q.join(F.broadcast(r), keys)
    else:
        joined = q.join(r.hint("shuffle_hash"), keys)
    if metric == "euclidean":
        out = (
            joined.withColumn("d2", _fold(coords, lambda d: d * d))
            # non-strict superset prefilter: dist < r ⟹ d2 ≤ fl(r·r)
            # (the only double in [fl(r²), r²) is fl(r²) itself, and a
            # pair there can still round its sqrt below r)
            .where(F.col("d2") <= radius * radius)
            .withColumn("dist", F.sqrt(F.col("d2")))
        )
    else:
        # Manhattan — the reference's auto_distance dispatches L1 for
        # integral data (Distances.hpp:94-117, 261-300)
        out = joined.withColumn("dist", _fold(coords, F.abs))
    return out.where(F.col("dist") < radius).select("q_id", "r_id", "dist")


def knn_join(
    queries: DataFrame,
    refs: DataFrame,
    k: int,
    cfg: EngineConfig,
    metric: str = "euclidean",
) -> DataFrame:
    """k nearest refs per query: (q_id, r_id, dist, rank) — the grid
    plan :func:`ffcl_spark.operators.knn_kernel.knn_join_grid` under
    this module's name.

    Semantics: k smallest distances, ties broken by r_id (deterministic
    engine tie-break; reference keeps first-encountered,
    ``StaticBuffer.hpp:169``); self included when queries ⊆ refs.
    ``metric``: 'euclidean' or 'manhattan'. Free the result's carried
    intermediates with ``plans.cache.release``."""
    return knn_join_grid(queries, refs, k, cfg, metric=metric)


def core_distances(points: DataFrame, k: int, cfg: EngineConfig) -> DataFrame:
    """(id, core_distance): distance to the k-th NN, self counted —
    reference ``CoreDistances.hpp:39-54``. The self-pair contributes
    distance 0, so this is the max distance of the self-kNN(k) set.
    The kNN's intermediates ride the result (``plans.cache.release``)."""
    nn = knn_join_grid(points, points, k, cfg)
    out = nn.groupBy("q_id").agg(F.max("dist").alias("core_distance")).select(
        F.col("q_id").alias("id"), "core_distance"
    )
    return carry(out, nn)


def mutual_reachability(
    edges: DataFrame, core: DataFrame
) -> DataFrame:
    """max(core(a), core(b), dist) per edge — reference
    ``BoruvkasAlgorithm.hpp:307-308``. ``edges``: (q_id, r_id, dist);
    ``core``: (id, core_distance)."""
    ca = core.select(F.col("id").alias("q_id"), F.col("core_distance").alias("core_q"))
    cb = core.select(F.col("id").alias("r_id"), F.col("core_distance").alias("core_r"))
    return (
        edges.join(F.broadcast(ca), "q_id")
        .join(F.broadcast(cb), "r_id")
        .withColumn("mreach", F.greatest("core_q", "core_r", "dist"))
        .select("q_id", "r_id", "dist", "mreach")
    )


def knn_with_memory(
    queries: DataFrame,
    refs: DataFrame,
    visited: DataFrame,
    k: int,
    cfg: EngineConfig,
) -> DataFrame:
    """kNN excluding an explicit visited set — reference
    ``WithMemory.hpp:90-120`` (candidate skipped if in
    visited_indices). Distributed form: LEFT ANTI JOIN of the refs
    against ``visited`` (column ``id``) before the search — the
    anti-join runs JVM-side and prunes before any shuffle."""
    pruned = refs.join(visited.select("id"), "id", "left_anti")
    return knn_join_grid(queries, pruned, k, cfg)


def closest_pair(
    queries: DataFrame,
    refs: DataFrame,
    cfg: EngineConfig,
    k: int = 1,
) -> DataFrame:
    """The ``k`` globally shortest edges between two sets — reference
    dual-tree k-th-shortest-edge search (``Search.hpp:169-194``: a
    k-bounded edge priority queue, ``IndicesToBuffersMap.hpp:393-459``);
    zero-distance self pairs are skipped like the brute-force reference
    oracle (``ClosestPairOfSamples.hpp:54`` ``samples_distance > 0``).
    Returns ``k`` rows (src, dst, dist, rank); ordered / tie-broken by
    (dist, src, dst).

    Plan: per-query exact (k+z)-NN (cell-pruned — the dual-tree pruning
    is replaced by grid locality), then a global top-k — an O(n·k) →
    O(k)-row aggregation, no full pair materialization. ``z`` is the
    maximum number of refs sharing one exact location (one cheap
    aggregation): a query can coincide with at most z refs, so after
    dropping zero-distance pairs at least k positive edges survive per
    buffer — exact even with many coincident refs (ADVICE round-2 fix;
    the previous k+1 assumed at most one zero-distance twin). Every one
    of the k globally shortest edges is one of its own query's k
    nearest positive-distance refs, so the per-query bound is exact."""
    max_dup = (
        refs.groupBy("x", "y").count().agg(F.max("count")).first()[0] or 1
    )
    raw = knn_join_grid(queries, refs, k + int(max_dup), cfg)
    nn = raw.where(F.col("dist") > 0)
    out = (
        nn.orderBy("dist", "q_id", "r_id")
        .limit(k)
        .select(
            F.col("q_id").alias("src"), F.col("r_id").alias("dst"), F.col("dist")
        )
    )
    if k == 1:
        return carry(out, raw)
    w = Window.orderBy("dist", "src", "dst")
    return carry(out.withColumn("rank", F.row_number().over(w).cast("int")), raw)
