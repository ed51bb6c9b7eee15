"""n-dimensional spatial search over an ``array<double>`` feature
column — the reference's n-features contract made distributed.

The reference kd-tree is dimension-generic (``KDTree.hpp:137`` takes
``n_features``; distance kernels ``Distances.hpp:44-117`` loop over
features; MNIST 784-d in ``KMeansTest.cpp``). The 2-D operators in
``operators.search`` hard-wire (x, y); this module generalizes the
same physical plans to ``(id, features: array<double>)`` inputs:

- the GRID lives on two selected axes (default (0, 1); the
  MaximumSpread policy of ``AxisSelectionPolicy.hpp:46-71`` is
  available via :func:`select_axes`) — the distributed analogue of the
  kd-tree's top-level split axes;
- DISTANCE is the full n-D metric as a sequential fold over the
  dimensions: a JVM column fold in the radius join, NumPy-side
  ``kernels.neighbors.fold_dist`` in the kNN plans — bit-equal to the
  oracle ``kernels.neighbors.pairwise_fold_nd``.

Correctness of the projection pruning (both metrics): the projected
2-D distance never exceeds the full n-D distance, so
  * radius: full-dist < r ⇒ projected dist < r ⇒ the candidate lies in
    the Chebyshev-``ceil(r/s)`` cell cover of the query → complete;
  * kNN termination: every point with full-dist < gr has projected
    dist < gr and is therefore inside the searched region → the FFCL
    sibling-prune rule (``KDNodeView.hpp:235-243``) remains exact. The
    prune weakens as dimensionality grows (curse of dimensionality:
    the projection covers more candidates), but never admits a wrong
    answer — the queries it leaves open go to the grid kernel's
    broadcast pass against every ref.

Scale shape: the radius join and the low-dimension kNN plan flatten
each vector into double columns and run the planar plans on them
(``search.radius_join``, ``knn_kernel.knn_join_grid``), so no array
crosses Arrow or a join; the blocked plans' merge windows run on
(id, id, dist) scalars.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ffcl_spark.config import EngineConfig
from ffcl_spark.kernels.neighbors import pairwise_fold_nd, pairwise_sq, topk_blocks, topk_rows
from ffcl_spark.operators.knn_kernel import PAIR_BUDGET, knn_join_grid
from ffcl_spark.operators.search import radius_join
from ffcl_spark.plans.cache import carry
from ffcl_spark.plans.stats import row_count


def select_axes(
    df: DataFrame, dims: int, vec_col: str = "features", policy: str = "max_spread"
) -> tuple[int, int]:
    """Grid-axis selection — reference ``AxisSelectionPolicy.hpp``:
    ``max_spread`` = MaximumSpread (46-71): the two axes with the
    largest (max − min) extent; ``cycle`` = CycleThroughAxes (115-140):
    axes (0, 1). One aggregation over the table; per-axis metadata only.
    (HighestVariance has its analogue in ``stats.argmax_variance_axis``.)
    """
    if policy == "cycle":
        return (0, 1 % dims)
    aggs = []
    for j in range(dims):
        e = F.element_at(F.col(vec_col), j + 1)
        aggs.append((F.max(e) - F.min(e)).alias(f"s_{j}"))
    row = df.agg(*aggs).collect()[0]
    spreads = sorted(range(dims), key=lambda j: (-row[f"s_{j}"], j))
    a0, a1 = sorted(spreads[:2])
    return (a0, a1)


def _proj(vec: Column, axis: int) -> Column:
    return F.element_at(vec, axis + 1).cast("double")


def _flatten(queries: DataFrame, refs: DataFrame, vec_col: str, axes: tuple[int, int], first=None):
    """Both sides as ``(id, one double column per dimension)`` and the
    names in dimension order, for the planar plans' ``coords``. The
    grid axes are ``x`` and ``y`` in place, the rest ``c{j}``. Cast to
    double first: float32 vectors must not fold in float32. The length
    comes from ``first`` (a row) or one ``first()`` job."""
    a0, a1 = axes
    if first is None:
        first = refs.select(vec_col).first() or queries.select(vec_col).first()
    dims = len(first[0]) if first is not None else max(a0, a1) + 1
    names = tuple("x" if j == a0 else "y" if j == a1 else f"c{j}" for j in range(dims))

    def flat(df: DataFrame) -> DataFrame:
        v = F.col(vec_col).cast("array<double>")
        cols = [F.element_at(v, j + 1).alias(n) for j, n in enumerate(names)]
        if a0 == a1:
            cols.append(F.element_at(v, a1 + 1).alias("y"))
        return df.select("id", *cols)

    return flat(queries), flat(refs), names


def box_search_nd(
    df: DataFrame, bounds: list[tuple[float, float]], vec_col: str = "features"
) -> DataFrame:
    """All points inside the axis-aligned n-D box, bounds inclusive per
    dimension (reference AABB semantics,
    ``LowerBoundAndUpperBound.hpp:76-78``). Pure column predicates."""
    cond = F.lit(True)
    for j, (lo, hi) in enumerate(bounds):
        cond = cond & F.element_at(F.col(vec_col), j + 1).between(lo, hi)
    return df.where(cond)


def radius_join_nd(
    queries: DataFrame,
    refs: DataFrame,
    radius: float,
    cfg: EngineConfig,
    vec_col: str = "features",
    axes: tuple[int, int] = (0, 1),
    metric: str = "euclidean",
    salt_hot_cells: bool = True,
) -> DataFrame:
    """All (q_id, r_id, dist) with full n-D dist < radius (strict):
    :func:`ffcl_spark.operators.search.radius_join` on the flattened
    vector, grid on the projected ``axes`` — its radius-matched
    resolution (not ``cfg.resolution``), box prune, build side and
    hot-cell salting. The vector length costs one ``first()`` job."""
    q, r, names = _flatten(queries, refs, vec_col, axes)
    return radius_join(q, r, radius, cfg, salt_hot_cells, metric, coords=names)


def _knn_nd_local_refs(
    queries: DataFrame,
    refs: DataFrame,
    k: int,
    vec_col: str,
    metric: str,
) -> DataFrame:
    """Exact n-D kNN with the refs shipped in the task closure: ONE
    narrow pass over the queries (mapInPandas),
    :func:`ffcl_spark.kernels.neighbors.topk_blocks` over fold-order
    distances per batch — no shuffle at all.

    This is the reference's own regime (FFCL is a single-node
    in-memory engine; ``KDTree.hpp`` holds the whole ref set), kept
    for ref sets up to ``LOCAL_REFS_LIMIT`` (and at dims ≤ 4 up to
    ``LOW_DIM_LOCAL_PAIRS`` query-ref pairs, see :func:`knn_join_nd`):
    in high dimensions the projected-grid prune weakens (curse of
    dimensionality), and a blocked brute scan of closure-sized refs is
    exact with no shuffle."""
    rpdf = (
        refs.select("id", F.col(vec_col).cast("array<double>").alias("v"))
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    rmat = np.array(rpdf["v"].tolist(), dtype=np.float64)
    rids = rpdf["id"].to_numpy()
    id_type = queries.schema["id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("q_id", id_type),
            T.StructField("r_id", refs.schema["id"].dataType),
            T.StructField("dist", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )
    sel = queries.select("id", F.col(vec_col).cast("array<double>").alias("v"))

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qmat = np.array(pdf["v"].tolist(), dtype=np.float64)
            blocks = topk_blocks(
                pdf["id"].to_numpy(), rids, k,
                lambda s, e: pairwise_fold_nd(qmat[s:e], rmat, metric), PAIR_BUDGET,
            )
            for q, r, d, rank in blocks:
                yield pd.DataFrame({"q_id": q, "r_id": r, "dist": d, "rank": rank})

    return sel.mapInPandas(kernel, out_schema)


LOCAL_REFS_LIMIT = 100_000
# At dims ≤ 4 the grid plan overtakes the closure plan once a call
# holds about this many query-ref pairs. On skewed 3-D sphere points
# (70 % in 20 blobs, self-join, k=5, local[4], 4 cores) the closure
# plan took 1.3 s against the grid's 2.9 s at 8k points, 1.8 s against
# 1.9 s at 12k, 3.0 s against 1.5 s at 16k and 4.4 s against 2.2 s at
# 20k. Its cost is one distance per pair, so a few pending queries
# against many refs (Borůvka's escalation) stay in the closure plan.
LOW_DIM_LOCAL_PAIRS = 12_000 * 12_000

def _blocked_inputs(
    queries: DataFrame,
    refs: DataFrame,
    vec_col: str,
    ref_block_rows: int,
    query_block_rows: int,
) -> tuple[DataFrame, DataFrame]:
    """The blocked brute cogroup's two sides, (q_id, v, blk) and
    (r_id, v, blk): refs hash into ⌈nr/ref_block_rows⌉ blocks (more
    when the cores would sit idle), queries into
    ⌈nq/query_block_rows⌉; each query replicates to every ref block
    and each ref to every query block, so group ``blk`` pairs one
    query block with one ref block."""
    # exact cache statistics replace the sizing count jobs when known
    # (persisted inputs — the common iterative-caller shape)
    nq = row_count(queries)
    nr = row_count(refs)
    n_rb = max(1, math.ceil(nr / ref_block_rows))
    n_qb = max(1, math.ceil(nq / query_block_rows))
    # scale-adaptive parallelism floor (guide §2): the cogroup gets
    # exactly n_qb·n_rb group keys, hashed into shuffle partitions —
    # so a ref set of a few × ref_block_rows would otherwise occupy a
    # handful of cores, and with exactly `par` keys the balls-in-bins
    # collision tail still leaves cores idle. Split refs until the key
    # count reaches ~4× the scheduler's parallelism (evens the hash
    # tail) — but never below ~2k refs per block (keeps each block's
    # NumPy scan fat enough to stay vectorization-bound). Queries
    # replicate ×n_rb (the cheap side); refs still shuffle exactly
    # once when n_qb == 1.
    par = queries.sparkSession.sparkContext.defaultParallelism
    n_rb = max(n_rb, min(math.ceil(4 * par / n_qb), max(1, nr // 2000)))

    q = (
        queries.select(
            F.col("id").alias("q_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
            F.pmod(F.xxhash64("id"), F.lit(n_qb)).alias("qb"),
        )
        .withColumn("rb", F.explode(F.sequence(F.lit(0), F.lit(n_rb - 1))))
        .select("q_id", "v", (F.col("qb") * n_rb + F.col("rb")).alias("blk"))
    )
    r = (
        refs.select(
            F.col("id").alias("r_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
            F.pmod(F.xxhash64("id"), F.lit(n_rb)).alias("rb"),
        )
        .withColumn("qb", F.explode(F.sequence(F.lit(0), F.lit(n_qb - 1))))
        .select("r_id", "v", (F.col("qb") * n_rb + F.col("rb")).alias("blk"))
    )
    return q, r


def radius_join_nd_blocked(
    queries: DataFrame,
    refs: DataFrame,
    radius: float,
    vec_col: str = "features",
    metric: str = "euclidean",
    ref_block_rows: int = 20_000,
    query_block_rows: int = 8_192,
    chunk: int = 512,
) -> DataFrame:
    """Exact n-D radius join (strict ``dist < radius``) with no index
    assumption — the high-dimension companion of
    :func:`knn_join_nd_blocked`: at high dims the projected-grid cover
    of :func:`radius_join_nd` prunes nothing, so the exact plan is the
    blocked brute cogroup. Same block/replication scheme; the kernel
    emits only the passing pairs, so output volume is the true result
    size. No merge stage is needed (radius is per-pair, not per-query
    ranking)."""
    q, r = _blocked_inputs(queries, refs, vec_col, ref_block_rows, query_block_rows)

    out_schema = T.StructType(
        [
            T.StructField("q_id", queries.schema["id"].dataType),
            T.StructField("r_id", refs.schema["id"].dataType),
            T.StructField("dist", T.DoubleType()),
        ]
    )

    def kernel(qpdf: pd.DataFrame, rpdf: pd.DataFrame):
        if len(qpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame({"q_id": [], "r_id": [], "dist": []})
        rmat = np.array(rpdf["v"].tolist(), dtype=np.float64)
        rids = rpdf["r_id"].to_numpy()
        qmat = np.array(qpdf["v"].tolist(), dtype=np.float64)
        qids = qpdf["q_id"].to_numpy()
        outs = []
        for s in range(0, len(qmat), chunk):
            e = min(s + chunk, len(qmat))
            d = pairwise_fold_nd(qmat[s:e], rmat, metric)
            qi, ri = np.nonzero(d < radius)
            outs.append(
                pd.DataFrame(
                    {"q_id": qids[s:e][qi], "r_id": rids[ri], "dist": d[qi, ri]}
                )
            )
        return pd.concat(outs, ignore_index=True)

    return q.groupBy("blk").cogroup(r.groupBy("blk")).applyInPandas(kernel, out_schema)


def knn_join_nd_blocked(
    queries: DataFrame,
    refs: DataFrame,
    k: int,
    vec_col: str = "features",
    metric: str = "euclidean",
    ref_block_rows: int = 20_000,
    query_block_rows: int = 8_192,
    chunk: int = 512,
    precise: bool = True,
) -> DataFrame:
    """Exact n-D kNN join with NO index assumption — the high-
    dimension scale path past the closure limit, where the projected-
    2-axis grid prune admits nearly everything (curse of
    dimensionality) and the grid pass degenerates to a near-brute
    scan that leaves most queries to the broadcast pass.

    Plan (one shuffle + one scalar merge, reference contract
    ``KDTree.hpp:137`` — exact any-d):
    - refs hash into ⌈nr/ref_block_rows⌉ blocks, queries into
      ⌈nq/query_block_rows⌉ blocks; each (query-block × ref-block)
      pair cogroups into one Arrow task (queries replicated B times,
      refs QB times — the inherent cost of exact blocked brute);
    - per pair, a fold-order NumPy block scan (bit-equal distances to
      the SQL fold) emits the block-local top-k with the exact
      (dist, id) tie-break;
    - the global merge is ONE window over (q_id, dist, r_id) on
      scalar rows (≤ B·k candidates per query — arrays never ride the
      second shuffle). Every global top-k element is in its own
      block's top-k under the same order, so the merge is exact.

    ``precise=True`` (default) computes distances in the engine's
    left-fold IEEE order — bit-equal to the SQL fold, required when
    distance VALUES are compared downstream. ``precise=False`` uses
    the BLAS |q|²+|r|²−2q·r form (one dgemm per block — several times
    faster, the euclidean throughput path): the same exact neighbor
    sets, with distance values differing only in rounding order.
    """
    if metric != "euclidean":
        precise = True  # BLAS form is euclidean-only

    q, r = _blocked_inputs(queries, refs, vec_col, ref_block_rows, query_block_rows)

    id_type = queries.schema["id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("q_id", id_type),
            T.StructField("r_id", refs.schema["id"].dataType),
            T.StructField("dist", T.DoubleType()),
        ]
    )

    def kernel(qpdf: pd.DataFrame, rpdf: pd.DataFrame):
        if len(qpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame({"q_id": [], "r_id": [], "dist": []})
        rmat = np.array(rpdf["v"].tolist(), dtype=np.float64)
        rids = rpdf["r_id"].to_numpy()
        order = np.argsort(rids, kind="stable")
        rmat, rids = rmat[order], rids[order]
        qmat = np.array(qpdf["v"].tolist(), dtype=np.float64)
        qids = qpdf["q_id"].to_numpy()
        kk = min(k, len(rids))
        outs = []
        for s in range(0, len(qmat), chunk):
            e = min(s + chunk, len(qmat))
            if precise:
                d = pairwise_fold_nd(qmat[s:e], rmat, metric)
            else:
                d = np.sqrt(pairwise_sq(qmat[s:e], rmat))
            part, dd = topk_rows(d, kk)
            outs.append(
                pd.DataFrame(
                    {
                        "q_id": np.repeat(qids[s:e], kk),
                        "r_id": rids[part.ravel()],
                        "dist": dd.ravel(),
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    cands = q.groupBy("blk").cogroup(r.groupBy("blk")).applyInPandas(kernel, out_schema)
    w = Window.partitionBy("q_id").orderBy("dist", "r_id")
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "r_id", "dist", F.col("rank").cast("int").alias("rank"))
    )


def knn_join_nd(
    queries: DataFrame,
    refs: DataFrame,
    k: int,
    cfg: EngineConfig,
    vec_col: str = "features",
    axes: tuple[int, int] = (0, 1),
    metric: str = "euclidean",
    local_refs_limit: int | None = None,
    plan: str = "auto",
) -> DataFrame:
    """Exact n-D kNN join (q_id, r_id, dist, rank) — FFCL result-set
    semantics (k smallest full-metric distances, ties by r_id, self
    included when queries ⊆ refs).

    Physical plan (``plan="auto"`` picks by refs size and dimension;
    every plan returns the same rows, tested):
    - ``"local"``, refs ≤ ``local_refs_limit``: closure-shipped refs,
      one narrow pass over queries (``_knn_nd_local_refs``) — the
      reference's own single-node regime, no shuffle. When
      ``local_refs_limit`` is None it is ``LOCAL_REFS_LIMIT``, and at
      dims ≤ 4 the call must also hold at most ``LOW_DIM_LOCAL_PAIRS``
      query-ref pairs, past which the grid plan wins. An explicit
      value overrides both; 0 turns the closure plan off;
    - ``"blocked"``, larger refs with dims > 4: blocked brute cogroup
      (``knn_join_nd_blocked``) — in high dimensions the projected-
      grid prune admits nearly everything;
    - ``"grid"``, larger refs in low dims: the planar grid kernel
      (:func:`ffcl_spark.operators.knn_kernel.knn_join_grid`) with the
      grid on the projected ``axes`` and the distance folded over
      every dimension. The vector is flattened into double columns
      first, so no array crosses Arrow; the projected ring-1 radius is
      a valid full-metric termination bound (see module docstring),
      and the queries it leaves open are scanned against every ref in
      the kernel's broadcast pass.

    The grid plan's result carries its persisted kernel output; the
    closure and blocked plans persist nothing and carry nothing. Free
    any result with ``plans.cache.release``."""
    first = None
    if plan == "auto":
        n_refs = row_count(refs)
        if local_refs_limit is not None:
            local = bool(local_refs_limit) and n_refs <= local_refs_limit
        elif n_refs > LOCAL_REFS_LIMIT:
            local = False
        else:
            n_q = n_refs if queries is refs else row_count(queries)
            local = n_q * n_refs <= LOW_DIM_LOCAL_PAIRS
        if not local:
            first = refs.select(vec_col).first()
        high_dim = first is not None and len(first[0]) > 4
        if high_dim and local_refs_limit is None:
            # the pair limit is for dims ≤ 4 only
            local = n_refs <= LOCAL_REFS_LIMIT
        plan = "local" if local else "blocked" if high_dim else "grid"
    if plan == "local":
        return _knn_nd_local_refs(queries, refs, k, vec_col, metric)
    if plan == "blocked":
        return knn_join_nd_blocked(queries, refs, k, vec_col, metric)
    if plan != "grid":
        raise ValueError(f"unknown plan {plan!r}")
    q, r, names = _flatten(queries, refs, vec_col, axes, first)
    return knn_join_grid(q, r, k, cfg, metric=metric, coords=names)


def core_distances_nd(
    points: DataFrame,
    k: int,
    cfg: EngineConfig,
    vec_col: str = "features",
    axes: tuple[int, int] = (0, 1),
    metric: str = "euclidean",
) -> DataFrame:
    """(id, core_distance) — n-D form of ``CoreDistances.hpp:39-54``
    (k-th NN distance, self counted). The kNN's intermediates ride the
    result (``plans.cache.release``)."""
    nn = knn_join_nd(points, points, k, cfg, vec_col, axes, metric)
    out = nn.groupBy("q_id").agg(F.max("dist").alias("core_distance")).select(
        F.col("q_id").alias("id"), "core_distance"
    )
    return carry(out, nn)
