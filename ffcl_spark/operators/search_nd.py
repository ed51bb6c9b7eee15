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
- DISTANCE is the full n-D metric, evaluated JVM-side as a sequential
  fold ``aggregate(zip_with(q, r, (a,b)->(a-b)*(a-b)), 0.0, acc+v)``
  — bit-equal to the NumPy oracle ``kernels.neighbors.pairwise_fold_nd``.

Correctness of the projection pruning (both metrics): the projected
2-D distance never exceeds the full n-D distance, so
  * radius: full-dist < r ⇒ projected dist < r ⇒ the candidate lies in
    the Chebyshev-``ceil(r/s)`` cell cover of the query → complete;
  * kNN termination: every point with full-dist < gr has projected
    dist < gr and is therefore inside the searched region → the FFCL
    sibling-prune rule (``KDNodeView.hpp:235-243``) remains exact. The
    prune weakens as dimensionality grows (curse of dimensionality:
    the projection covers more candidates), but never admits a wrong
    answer — stragglers fall through to the brute backstop.

Scale shape: arrays ride the shuffle only up to the moment the
distance is computed; the rank/window and every iterative round
operate on (id, id, dist) scalars.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ffcl_spark.config import EngineConfig
from ffcl_spark.functions import cells as C
from ffcl_spark.plans.stats import exact_row_count, salt_hot_keys


def dist_nd(q: Column, r: Column, metric: str = "euclidean") -> Column:
    """Full n-D distance as a JVM fold (no Python per row)."""
    if metric == "euclidean":
        return F.sqrt(
            F.aggregate(
                F.zip_with(q, r, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )
    if metric == "manhattan":
        return F.aggregate(
            F.zip_with(q, r, lambda a, b: F.abs(a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    raise ValueError(f"unknown metric {metric!r}")


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


def _tag_nd(df: DataFrame, prefix: str, vec_col: str) -> DataFrame:
    # cast to array<double> up front: float32 inputs (e.g. parquet
    # embeddings) must not run the distance fold in float32 arithmetic
    return df.select(
        F.col("id").alias(f"{prefix}_id"),
        F.col(vec_col).cast("array<double>").alias(f"{prefix}_vec"),
    )


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
    """All (q_id, r_id, dist) with full n-D dist < radius (strict).
    One shuffle on the projected cell key; same a-priori Chebyshev
    cover as the 2-D plan, and the same hot-cell salting
    (:func:`ffcl_spark.plans.stats.salt_hot_keys`: cells above
    ``cfg.hot_cell_rows`` refs spread over ``cfg.salt_buckets``
    sub-keys)."""
    a0, a1 = axes
    rings = max(1, math.ceil(radius / cfg.cell_size))
    q = _tag_nd(queries, "q", vec_col).withColumn(
        "cell",
        F.explode(
            C.neighbor_cells(
                C.cell_id(_proj(F.col("q_vec"), a0), _proj(F.col("q_vec"), a1), cfg),
                rings,
                cfg,
            )
        ),
    )
    r = _tag_nd(refs, "r", vec_col).withColumn(
        "cell", C.cell_id(_proj(F.col("r_vec"), a0), _proj(F.col("r_vec"), a1), cfg)
    )
    keys = ["cell"]
    if salt_hot_cells:
        q, r, keys = salt_hot_keys(q, r, cfg)
    joined = q.join(r, keys)
    return (
        joined.withColumn("dist", dist_nd(F.col("q_vec"), F.col("r_vec"), metric))
        .where(F.col("dist") < radius)
        .select("q_id", "r_id", "dist")
    )


def _knn_nd_local_refs(
    queries: DataFrame,
    refs: DataFrame,
    k: int,
    vec_col: str,
    metric: str,
) -> DataFrame:
    """Exact n-D kNN with the refs shipped in the task closure: ONE
    narrow pass over the queries (mapInPandas), fold-order NumPy block
    scan + exact (dist, id) tie-break per batch — no shuffle at all.

    This is the reference's own regime (FFCL is a single-node
    in-memory engine; ``KDTree.hpp`` holds the whole ref set), kept
    for ref sets up to ``LOCAL_REFS_LIMIT``: in high dimensions the
    projected-grid prune weakens (curse of dimensionality), so for
    closure-sized refs a blocked brute scan is both exact and strictly
    faster than iterative ring rounds."""
    import pandas as pd
    from pyspark.sql import types as T

    from ffcl_spark.kernels.neighbors import BLOCK, pairwise_fold_nd, topk_rows

    rpdf = (
        refs.select("id", F.col(vec_col).cast("array<double>").alias("v"))
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    import numpy as np

    rmat = np.array(rpdf["v"].tolist(), dtype=np.float64)
    rids = rpdf["id"].to_numpy()
    kk = min(k, len(rids))
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
            qids = pdf["id"].to_numpy()
            for s in range(0, len(qmat), BLOCK):
                e = min(s + BLOCK, len(qmat))
                d = pairwise_fold_nd(qmat[s:e], rmat, metric)
                part, dd = topk_rows(d, kk)
                yield pd.DataFrame(
                    {
                        "q_id": np.repeat(qids[s:e], kk),
                        "r_id": rids[part.ravel()],
                        "dist": dd.ravel(),
                        "rank": np.tile(
                            np.arange(1, kk + 1, dtype="int32"), e - s
                        ),
                    }
                )

    return sel.mapInPandas(kernel, out_schema)


LOCAL_REFS_LIMIT = 100_000


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
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ffcl_spark.kernels.neighbors import pairwise_fold_nd

    # exact cache statistics replace the sizing count jobs when known
    # (persisted inputs — the common iterative-caller shape)
    nq = exact_row_count(queries) or queries.count()
    nr = exact_row_count(refs) or refs.count()
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
    dimensionality) and ring expansion degenerates to iterated
    near-brute rounds with window shuffles.

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
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ffcl_spark.kernels.neighbors import pairwise_fold_nd, pairwise_sq, topk_rows

    if metric != "euclidean":
        precise = True  # BLAS form is euclidean-only

    # exact cache statistics replace the sizing count jobs when known
    # (persisted inputs — the common iterative-caller shape)
    nq = exact_row_count(queries) or queries.count()
    nr = exact_row_count(refs) or refs.count()
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
    start_ring: int = 1,
    local_refs_limit: int = LOCAL_REFS_LIMIT,
    checkpoint: bool = False,
    plan: str = "auto",
) -> DataFrame:
    """Exact n-D kNN join (q_id, r_id, dist, rank) — FFCL result-set
    semantics (k smallest full-metric distances, ties by r_id, self
    included when queries ⊆ refs).

    Physical plan by refs size (same result either way, tested):
    - refs ≤ ``local_refs_limit``: closure-shipped refs, one narrow
      pass over queries (``_knn_nd_local_refs``) — the reference's own
      single-node regime, no shuffle;
    - larger refs, dims > 4: blocked brute cogroup
      (``knn_join_nd_blocked``) — in high dimensions the projected-
      grid prune admits nearly everything, so exact blocking beats
      iterated ring rounds;
    - larger refs, low dims: iterative ring expansion on the projected
      grid; the guaranteed-covered radius of the searched projection
      region is a valid full-metric termination bound (see module
      docstring). Arrays are dropped the moment the distance is
      computed — every window/aggregation and all survivor state is
      (id, id, dist) + two projected scalars."""
    from ffcl_spark.plans.cache import carry

    if plan == "auto":
        if local_refs_limit and refs.count() <= local_refs_limit:
            plan = "local"
        else:
            first = refs.select(vec_col).first()
            plan = "blocked" if first is not None and len(first[0]) > 4 else "ring"
    if plan == "local":
        return _knn_nd_local_refs(queries, refs, k, vec_col, metric)
    if plan == "blocked":
        return knn_join_nd_blocked(queries, refs, k, vec_col, metric)
    a0, a1 = axes
    w = Window.partitionBy("q_id").orderBy("dist", "r_id")

    r = _tag_nd(refs, "r", vec_col).withColumn(
        "cell", C.cell_id(_proj(F.col("r_vec"), a0), _proj(F.col("r_vec"), a1), cfg)
    ).persist()

    pending = _tag_nd(queries, "q", vec_col).withColumn(
        "q_px", _proj(F.col("q_vec"), a0)
    ).withColumn("q_py", _proj(F.col("q_vec"), a1)).withColumn(
        "q_cell", C.cell_id(F.col("q_px"), F.col("q_py"), cfg)
    )
    done_parts: list[DataFrame] = []
    retained: list[DataFrame] = []  # persisted topk per round (checkpoint=False)
    survivors: DataFrame | None = None
    ring_lo = 0
    ring_hi = start_ring
    max_ring = cfg.grid_n

    for _ in range(cfg.max_rounds):
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
            .withColumn("dist", dist_nd(F.col("q_vec"), F.col("r_vec"), metric))
            .select("q_id", "q_px", "q_py", "q_cell", "r_id", "dist")
        )
        if survivors is not None:
            cand = cand.unionByName(survivors)
        topk = (
            cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
        ).persist()

        gr = C.guaranteed_radius(
            F.col("q_px"), F.col("q_py"), F.col("q_cell"), ring_hi, cfg
        )
        covers_all = ring_hi >= max_ring
        per_q = topk.groupBy("q_id", "q_px", "q_py", "q_cell").agg(
            F.count(F.lit(1)).alias("n_cand"),
            F.max("dist").alias("kth"),
        )
        done_q = per_q.where(
            F.lit(covers_all) | ((F.col("n_cand") >= k) & (F.col("kth") < gr))
        ).select("q_id")
        done = topk.join(done_q, "q_id").select("q_id", "r_id", "dist", "rank")
        if checkpoint:
            done = done.localCheckpoint()
        done_parts.append(done)
        pend_q = pending.join(done_q, "q_id", "left_anti").persist()
        if not checkpoint:
            retained.append(topk)
        n_pend = pend_q.count()
        if n_pend == 0:
            pend_q.unpersist()
            if checkpoint:
                topk.unpersist()
            pending = None
            break
        survivors = topk.join(pend_q.select("q_id"), "q_id").select(
            "q_id", "q_px", "q_py", "q_cell", "r_id", "dist"
        ).localCheckpoint()
        pending = pend_q.select(
            "q_id", "q_vec", "q_px", "q_py", "q_cell"
        ).localCheckpoint()
        pend_q.unpersist()
        if checkpoint:
            topk.unpersist()
        ring_lo = ring_hi + 1
        ring_hi = min(max_ring, ring_hi * 2)

    if pending is not None:
        brute = (
            pending.crossJoin(r.drop("cell"))
            .withColumn("dist", dist_nd(F.col("q_vec"), F.col("r_vec"), metric))
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


def core_distances_nd(
    points: DataFrame,
    k: int,
    cfg: EngineConfig,
    vec_col: str = "features",
    axes: tuple[int, int] = (0, 1),
    metric: str = "euclidean",
    checkpoint: bool = False,
) -> DataFrame:
    """(id, core_distance) — n-D form of ``CoreDistances.hpp:39-54``
    (k-th NN distance, self counted)."""
    from ffcl_spark.plans.cache import carry

    nn = knn_join_nd(points, points, k, cfg, vec_col, axes, metric, checkpoint=checkpoint)
    out = nn.groupBy("q_id").agg(F.max("dist").alias("core_distance")).select(
        F.col("q_id").alias("id"), "core_distance"
    )
    return out if checkpoint else carry(out, nn)
