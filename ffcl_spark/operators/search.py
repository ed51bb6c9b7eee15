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
  Reference: ``Ball.hpp:91-97,208-216`` + traversal.
- kNN join → iterative ring expansion with the furthest-distance
  termination rule — the distributed form of the kd-tree sibling prune
  (``KDNodeView.hpp:235-243``): a query stops expanding once its k-th
  distance is strictly smaller than the guaranteed-covered radius of
  the rings searched so far.

The hot path is 100% JVM (explode/join/window, WholeStageCodegen); no
Python executes per row. Distance = sqrt(dx*dx + dy*dy) in float64 —
bit-identical to the NumPy kernels.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ffcl_spark.config import EngineConfig
from ffcl_spark.functions import cells as C
from ffcl_spark.plans.stats import broadcast_threshold_bytes, plan_size_bytes, salt_hot_keys

DIST = "sqrt((q_x - r_x) * (q_x - r_x) + (q_y - r_y) * (q_y - r_y))"
# Manhattan — the reference's auto_distance dispatches L1 for integral
# data (Distances.hpp:94-117, 261-300)
DIST_L1 = "abs(q_x - r_x) + abs(q_y - r_y)"


def dist_expr(metric: str) -> str:
    if metric == "euclidean":
        return DIST
    if metric == "manhattan":
        return DIST_L1
    raise ValueError(f"unknown metric {metric!r}")


def box_search(points: DataFrame, x_lo: float, y_lo: float, x_hi: float, y_hi: float) -> DataFrame:
    """All points inside the axis-aligned box, bounds inclusive."""
    return points.where(
        F.col("x").between(x_lo, x_hi) & F.col("y").between(y_lo, y_hi)
    )


def _tag(df: DataFrame, prefix: str) -> DataFrame:
    return df.select(
        F.col("id").alias(f"{prefix}_id"),
        F.col("x").alias(f"{prefix}_x"),
        F.col("y").alias(f"{prefix}_y"),
    )


def radius_join(
    queries: DataFrame,
    refs: DataFrame,
    radius: float,
    cfg: EngineConfig,
    salt_hot_cells: bool = True,
    metric: str = "euclidean",
) -> DataFrame:
    """All (q_id, r_id, dist) with dist < radius (strict).

    ``metric``: 'euclidean' (default) or 'manhattan'. The cell-cover
    bound is metric-safe: an L1 (or L2) ball of radius r fits inside
    the L∞ box of radius r, so the same Chebyshev ring cover applies.

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
      Sound in float: the box gap per axis is a single rounded
      subtraction of exact inputs and correctly-rounded ops are
      monotone, so fl(gap²·sum) ≤ fl(dx²+dy²) for every ref in the
      cell (domain-clamped edge cells treat the clamped side as
      unbounded). Cuts candidates ≈2-3× on top of the resolution
      match.
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
    if radius > 0:
        res_star = max(0, min(14, math.ceil(math.log2(cfg.domain / radius))))
        cfg = cfg.with_resolution(res_star)
    rings = max(1, math.ceil(radius / cfg.cell_size))
    q = _tag(queries, "q").withColumn(
        "cell",
        F.explode(
            C.neighbor_cells(C.cell_id(F.col("q_x"), F.col("q_y"), cfg), rings, cfg)
        ),
    )
    # box-distance prune: drop (query, cell) rows whose cell box cannot
    # hold any point strictly closer than r. Edge cells absorb the
    # whole out-of-domain half-plane (axis_index clamps), so their
    # clamped sides must not bound the gap.
    n = cfg.grid_n
    s = F.lit(cfg.cell_size)
    ix = C.cell_ix(F.col("cell"))
    iy = C.cell_iy(F.col("cell"))
    x_lo = F.lit(cfg.x0) + ix.cast("double") * s
    y_lo = F.lit(cfg.y0) + iy.cast("double") * s
    zero = F.lit(0.0)
    gx = F.greatest(
        zero,
        F.when(ix > 0, x_lo - F.col("q_x")).otherwise(zero),
        F.when(ix < n - 1, F.col("q_x") - (x_lo + s)).otherwise(zero),
    )
    gy = F.greatest(
        zero,
        F.when(iy > 0, y_lo - F.col("q_y")).otherwise(zero),
        F.when(iy < n - 1, F.col("q_y") - (y_lo + s)).otherwise(zero),
    )
    # non-strict bounds: a passing pair can sit exactly AT d2 == r·r
    # in float (its sqrt rounding down below r), so the superset
    # filters must keep the equality boundary
    if metric == "manhattan":
        q = q.where(gx + gy < radius)  # fl(gx+gy) ≤ fl(|dx|+|dy|) < r
    else:
        q = q.where(gx * gx + gy * gy <= radius * radius)
    r = _tag(refs, "r").withColumn(
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
        d2 = "(q_x - r_x) * (q_x - r_x) + (q_y - r_y) * (q_y - r_y)"
        out = (
            joined.withColumn("d2", F.expr(d2))
            # non-strict superset prefilter: dist < r ⟹ d2 ≤ fl(r·r)
            # (the only double in [fl(r²), r²) is fl(r²) itself, and a
            # pair there can still round its sqrt below r)
            .where(F.col("d2") <= radius * radius)
            .withColumn("dist", F.sqrt(F.col("d2")))
        )
    else:
        out = joined.withColumn("dist", F.expr(dist_expr(metric)))
    return out.where(F.col("dist") < radius).select("q_id", "r_id", "dist")


def knn_join(
    queries: DataFrame,
    refs: DataFrame,
    k: int,
    cfg: EngineConfig,
    start_ring: int = 1,
    metric: str = "euclidean",
    checkpoint: bool = False,
) -> DataFrame:
    """k nearest refs per query: (q_id, r_id, dist, rank).

    Semantics: k smallest Euclidean distances, ties broken by r_id
    (deterministic engine tie-break; reference keeps first-encountered,
    ``StaticBuffer.hpp:169``); self included when queries ⊆ refs.

    Algorithm (ring expansion — FFCL sibling-prune rule distributed):
      round 0: search the Chebyshev-``start_ring`` neighborhood of the
      query's cell; keep top-k per query.
      A query is DONE when it has k candidates and its k-th distance is
      strictly < the guaranteed-covered radius of the searched region
      (``functions.cells.guaranteed_radius``), or the region already
      covers the whole grid.
      Pending queries search only the *incremental* ring(s) next round;
      survivors' top-k candidate sets carry forward.

    ``metric``: 'euclidean' or 'manhattan' — the guaranteed-radius
    termination bound is the L∞ distance to the searched box border,
    and L1 ≥ L∞, so the same rule is valid for both metrics.

    Each round = one shuffle join on cell for the pending queries only.
    At sane resolutions (cfg.auto_resolution) almost all queries finish
    in round 0. After ``cfg.max_rounds`` the (rare) stragglers fall
    back to a brute-force join against all refs — the correctness
    backstop; at that point they are few, so the broadcast of the
    pending queries is small.

    Cache discipline (see ``plans.cache``): with ``checkpoint=True``
    (iterative callers) each round's done rows are locally
    checkpointed and every intermediate is unpersisted before return,
    so repeated calls never accumulate cached partitions. With the
    default ``checkpoint=False`` (one-shot callers) the per-round
    top-k stays persisted and the output reads it directly — the
    round's pending-count action is the materialization, and the
    caller's single action is a cache read; the persisted handles ride
    on the returned DataFrame for ``plans.cache.release``.
    """
    from ffcl_spark.plans.cache import carry

    w = Window.partitionBy("q_id").orderBy("dist", "r_id")

    r = _tag(refs, "r").withColumn("cell", C.cell_id(F.col("r_x"), F.col("r_y"), cfg))
    r = r.persist()

    pending = _tag(queries, "q").withColumn(
        "q_cell", C.cell_id(F.col("q_x"), F.col("q_y"), cfg)
    )
    done_parts: list[DataFrame] = []
    retained: list[DataFrame] = []  # persisted topk per round (checkpoint=False)
    survivors: DataFrame | None = None  # carried top-k candidates of pending queries
    ring_lo = 0
    ring_hi = start_ring
    max_ring = cfg.grid_n  # covers everything

    for _ in range(cfg.max_rounds):
        # candidate cells: full neighborhood minus what previous rounds saw
        probe = pending.withColumn(
            "cell",
            F.explode(
                F.array_except(
                    C.neighbor_cells(F.col("q_cell"), ring_hi, cfg),
                    C.neighbor_cells(F.col("q_cell"), ring_lo - 1, cfg)
                    if ring_lo > 0
                    else F.array().cast("array<long>"),
                )
            ),
        )
        cand = (
            probe.join(r, "cell")
            .withColumn("dist", F.expr(dist_expr(metric)))
            .select("q_id", "q_x", "q_y", "q_cell", "r_id", "dist")
        )
        if survivors is not None:
            cand = cand.unionByName(survivors)
        topk = (
            cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
        ).persist()

        gr = C.guaranteed_radius(F.col("q_x"), F.col("q_y"), F.col("q_cell"), ring_hi, cfg)
        covers_all = ring_hi >= max_ring
        per_q = topk.groupBy("q_id", "q_x", "q_y", "q_cell").agg(
            F.count(F.lit(1)).alias("n_cand"),
            F.max("dist").alias("kth"),
        )
        done_q = per_q.where(
            F.lit(covers_all) | ((F.col("n_cand") >= k) & (F.col("kth") < gr))
        ).select("q_id")
        done = topk.join(done_q, "q_id").select("q_id", "r_id", "dist", "rank")
        if checkpoint:
            # done rows are final output — checkpoint them (reads the
            # cached topk once) so the final union never re-executes
            # round joins after topk unpersists
            done = done.localCheckpoint()
        done_parts.append(done)
        # pending from the QUERY set, not the candidate set — a query
        # with zero candidates this round must stay pending
        pend_q = pending.join(done_q, "q_id", "left_anti").persist()
        if not checkpoint:
            retained.append(topk)
        n_pend = pend_q.count()  # materializes topk into its cache
        if n_pend == 0:
            pend_q.unpersist()
            if checkpoint:
                topk.unpersist()
            pending = None
            break
        survivors = topk.join(pend_q.select("q_id"), "q_id").select(
            "q_id", "q_x", "q_y", "q_cell", "r_id", "dist"
        ).localCheckpoint()
        pending = pend_q.select("q_id", "q_x", "q_y", "q_cell").localCheckpoint()
        pend_q.unpersist()
        if checkpoint:
            topk.unpersist()
        ring_lo = ring_hi + 1
        ring_hi = min(max_ring, ring_hi * 2)  # geometric expansion

    if pending is not None:
        # brute-force backstop: few queries remain; cross join via
        # cell-less join against all refs
        brute = (
            pending.crossJoin(r.drop("cell"))
            .withColumn("dist", F.expr(dist_expr(metric)))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("q_id", "r_id", "dist", "rank")
            .localCheckpoint()
        )
        done_parts.append(brute)

    r.unpersist()
    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.unionByName(p)
    return out if checkpoint else carry(out, *retained)


def core_distances(
    points: DataFrame, k: int, cfg: EngineConfig, checkpoint: bool = False
) -> DataFrame:
    """(id, core_distance): distance to the k-th NN, self counted —
    reference ``CoreDistances.hpp:39-54``. The self-pair contributes
    distance 0, so this is the max distance of the self-kNN(k) set."""
    from ffcl_spark.plans.cache import carry

    nn = knn_join(points, points, k, cfg, checkpoint=checkpoint)
    out = nn.groupBy("q_id").agg(F.max("dist").alias("core_distance")).select(
        F.col("q_id").alias("id"), "core_distance"
    )
    return out if checkpoint else carry(out, nn)


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
    from ffcl_spark.operators.knn_kernel import knn_join_grid

    pruned = refs.join(visited.select("id"), "id", "left_anti")
    return knn_join_grid(queries, pruned, k, cfg)


def _carry_through(out: DataFrame, src: DataFrame) -> DataFrame:
    from ffcl_spark.plans.cache import carry

    return carry(out, src)


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
    from ffcl_spark.operators.knn_kernel import knn_join_grid

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
        return _carry_through(out, raw)
    w = Window.orderBy("dist", "src", "dst")
    return _carry_through(out.withColumn("rank", F.row_number().over(w).cast("int")), raw)
