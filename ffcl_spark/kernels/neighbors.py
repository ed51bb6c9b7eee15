"""Vectorized NumPy neighbor kernels + brute-force oracles.

These implement the reference's query semantics exactly (the
"semantics contract", SURVEY.md §7):

- kNN: k smallest Euclidean distances, self included when the query is
  in the reference set, replace-on-full only when *strictly* closer
  (reference ``StaticBuffer.hpp:143-182``); ties at the k-th distance
  broken by neighbor id (engine-defined determinism — the reference
  keeps the first-encountered candidate, which is traversal-order
  dependent; fixtures are tie-free floats).
- radius: strict ``dist < radius`` (reference ``Ball.hpp:91-97,
  208-216``), query point included at distance 0.
- box: inclusive bounds (reference ``LowerBoundAndUpperBound.hpp:76-78``).
- core distance: distance to the k-th NN with self counted
  (reference ``CoreDistances.hpp:39-54``).

The brute-force forms double as test oracles (mirroring the
reference's oracle-test style, ``SearchTest.cpp:954-995``: accelerated
== brute force) and as the leaf-scan of the per-cell pandas kernel —
at cell granularity a vectorized O(n·m) block scan beats a pointer
kd-tree in Python, so the "local kd-tree" is grid-refined blocking +
vectorized scan.

2-D distances use the elementwise difference formula
``dx*dx + dy*dy`` in float64 — the identical IEEE operation sequence
as the engine's SQL expression, so the pandas-kernel path and the
all-JVM path produce bit-equal distances.
"""

from __future__ import annotations

import numpy as np

BLOCK = 2048  # query rows per distance block (bounds peak memory)


def pairwise_sq_2d(q_xy: np.ndarray, r_xy: np.ndarray) -> np.ndarray:
    """Squared Euclidean distances for 2-D points, float64,
    shape (len(q), len(r)); bit-compatible with the SQL expression
    ``(qx-rx)*(qx-rx) + (qy-ry)*(qy-ry)``."""
    q = np.asarray(q_xy, dtype=np.float64)
    r = np.asarray(r_xy, dtype=np.float64)
    dx = q[:, 0][:, None] - r[:, 0][None, :]
    dy = q[:, 1][:, None] - r[:, 1][None, :]
    return dx * dx + dy * dy


def pairwise_sq(q: np.ndarray, r: np.ndarray) -> np.ndarray:
    """General-dimension squared distances (BLAS |q|²+|r|²−2q·r path;
    fast for embeddings, not bit-stable — use only where ranking, not
    exact values, matters)."""
    q = np.asarray(q, dtype=np.float64)
    r = np.asarray(r, dtype=np.float64)
    d = (
        np.sum(q * q, axis=1)[:, None]
        + np.sum(r * r, axis=1)[None, :]
        - 2.0 * (q @ r.T)
    )
    np.maximum(d, 0.0, out=d)
    return d


def fold_dist(q_cols, r_cols, metric: str = "euclidean") -> np.ndarray:
    """Distances between every query and every ref as a LEFT FOLD over
    paired coordinate columns, in dimension order: ``((t0 + t1) + t2)
    + …`` with ``t = d*d`` (euclidean, sqrt'd at the end) or
    ``t = abs(d)`` (manhattan), ``d = q - r``. Columns are 1-D float64
    arrays; the result has shape (len(q), len(r)).

    The fold starts from the first term, as the SQL column fold of
    ``search.radius_join`` does (a fold from 0.0 would give the same
    bits: every term is ≥ 0 or NaN, so ``0.0 + t == t``). In 2-D it is
    exactly ``sqrt(dx*dx + dy*dy)`` / ``abs(dx) + abs(dy)``, the planar
    SQL distance expressions."""
    if metric not in ("euclidean", "manhattan"):
        raise ValueError(f"unknown metric {metric!r}")
    l1 = metric == "manhattan"
    acc = None
    for qc, rc in zip(q_cols, r_cols):
        d = qc[:, None] - rc[None, :]
        t = np.abs(d) if l1 else d * d
        acc = t if acc is None else acc + t
    return acc if l1 else np.sqrt(acc)


def pairwise_fold_nd(q: np.ndarray, r: np.ndarray, metric: str = "euclidean") -> np.ndarray:
    """n-D distances in LEFT-FOLD accumulation order (:func:`fold_dist`
    over the matrix columns) — the identical IEEE operation sequence as
    the engine's SQL fold over the flattened vector
    (``search.radius_join(coords=...)``), so the NumPy oracle and the
    SQL n-D path produce bit-equal distances. Returns the final (sqrt'd for euclidean) distance
    matrix, shape (len(q), len(r)).

    Reference n-features contract: ``KDTree.hpp:137`` (ctor takes
    n_features; all distance kernels are dimension-generic,
    ``Distances.hpp:44-117``)."""
    q = np.asarray(q, dtype=np.float64)
    r = np.asarray(r, dtype=np.float64)
    return fold_dist(q.T, r.T, metric)


def knn_nd(
    q_vec: np.ndarray,
    r_vec: np.ndarray,
    r_ids: np.ndarray,
    k: int,
    metric: str = "euclidean",
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Brute-force n-D kNN oracle with the engine's (dist, id)
    tie-break; distances in fold order (bit-equal to the SQL path)."""
    nq, nr = len(q_vec), len(r_vec)
    kk = min(k, nr)
    order_ids = np.argsort(r_ids, kind="stable")
    r_sorted = np.asarray(r_vec, dtype=np.float64)[order_ids]
    ids_sorted = np.asarray(r_ids)[order_ids]
    out_q = np.empty(nq * kk, dtype=np.int64)
    out_n = np.empty(nq * kk, dtype=ids_sorted.dtype)
    out_d = np.empty(nq * kk, dtype=np.float64)
    for s in range(0, nq, BLOCK):
        e = min(s + BLOCK, nq)
        d = pairwise_fold_nd(q_vec[s:e], r_sorted, metric)
        part, dd = topk_rows(d, kk)
        span = slice(s * kk, e * kk)
        out_q[span] = np.repeat(np.arange(s, e), kk)
        out_n[span] = ids_sorted[part].ravel()
        out_d[span] = dd.ravel()
    return out_q, out_n, out_d


def radius_pairs_nd(
    q_vec: np.ndarray,
    q_ids: np.ndarray,
    r_vec: np.ndarray,
    r_ids: np.ndarray,
    radius: float,
    metric: str = "euclidean",
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """n-D all pairs with dist < radius (strict), fold-order distances."""
    out_a, out_b, out_d = [], [], []
    for s in range(0, len(q_vec), BLOCK):
        e = min(s + BLOCK, len(q_vec))
        d = pairwise_fold_nd(q_vec[s:e], r_vec, metric)
        qi, ri = np.nonzero(d < radius)
        out_a.append(np.asarray(q_ids)[s:e][qi])
        out_b.append(np.asarray(r_ids)[ri])
        out_d.append(d[qi, ri])
    if not out_a:
        return np.array([]), np.array([]), np.array([])
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_d)


def knn(
    q_xy: np.ndarray,
    r_xy: np.ndarray,
    r_ids: np.ndarray,
    k: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Brute-force kNN of every query row against the reference set.

    Returns (query_row_index, neighbor_id, distance) flat arrays with
    exactly ``min(k, len(r))`` neighbors per query, ordered by
    (distance, neighbor_id) — FFCL result-set semantics with the
    engine's deterministic tie-break.
    """
    nq, nr = len(q_xy), len(r_xy)
    kk = min(k, nr)
    # pre-sort references by id so that a stable distance sort breaks
    # exact ties toward the smaller id
    order_ids = np.argsort(r_ids, kind="stable")
    r_sorted = np.asarray(r_xy, dtype=np.float64)[order_ids]
    ids_sorted = np.asarray(r_ids)[order_ids]
    out_q = np.empty(nq * kk, dtype=np.int64)
    out_n = np.empty(nq * kk, dtype=ids_sorted.dtype)
    out_d = np.empty(nq * kk, dtype=np.float64)
    for s in range(0, nq, BLOCK):
        e = min(s + BLOCK, nq)
        # rank on the FINAL distance (sqrt applied before sorting):
        # sqrt rounding can collapse distinct squared distances into an
        # exact tie, and the (dist, id) tie-break is defined on the
        # sqrt'd value — the same one the SQL expression produces
        d = np.sqrt(pairwise_sq_2d(q_xy[s:e], r_sorted))
        part, dd = topk_rows(d, kk)
        span = slice(s * kk, e * kk)
        out_q[span] = np.repeat(np.arange(s, e), kk)
        out_n[span] = ids_sorted[part].ravel()
        out_d[span] = dd.ravel()
    return out_q, out_n, out_d


def topk_rows(d: np.ndarray, kk: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-row top-``kk`` of a distance matrix whose COLUMNS are in
    ascending id order, with exact (distance, id) tie-break.

    argpartition alone picks arbitrarily among exact distance ties at
    the k-th boundary (a real hazard: lattice fixtures tie massively).
    Strategy: partition a padded slice (kk + headroom), sort the slice
    by (distance, column) — column order = id order — and fall back to
    a full-row sort for the rare rows where ties could extend past the
    padding (slice max == selected k-th distance).
    Returns (column_indices, squared_distances), each (rows, kk).
    """
    nrows, nr = d.shape
    if kk >= nr:
        part = np.broadcast_to(np.arange(nr), (nrows, nr)).copy()
        dd = d.copy()
    else:
        m = min(nr, kk + max(3 * kk, 16))
        part = np.argpartition(d, m - 1, axis=1)[:, :m]
        rows = np.arange(nrows)[:, None]
        dd = d[rows, part]
    # sort the slice by (distance, column/id): column-ascending first
    # (stable), then stable distance sort
    idsort = np.argsort(part, axis=1, kind="stable")
    part = np.take_along_axis(part, idsort, axis=1)
    dd = np.take_along_axis(dd, idsort, axis=1)
    dsort = np.argsort(dd, axis=1, kind="stable")
    part = np.take_along_axis(part, dsort, axis=1)
    dd = np.take_along_axis(dd, dsort, axis=1)
    if kk < d.shape[1]:
        # rows where the padding may not cover all k-th-distance ties:
        # slice max distance equals the selected k-th distance AND the
        # slice is a strict subset of the row
        if part.shape[1] < d.shape[1]:
            risky = np.nonzero(dd[:, -1] <= dd[:, kk - 1])[0]
            for ri in risky:
                order = np.lexsort((np.arange(d.shape[1]), d[ri]))[:kk]
                part[ri, :kk] = order
                dd[ri, :kk] = d[ri, order]
    return part[:, :kk], dd[:, :kk]


def topk_blocks(qids: np.ndarray, rids: np.ndarray, k: int, dist, budget: int):
    """Exact top-k of every query against every ref, in query blocks
    of at most ``budget`` distances, so a block stays the same size
    however many refs there are. ``dist(s, e)`` returns the distance
    matrix of queries ``s:e`` against every ref, its columns in
    ``rids`` order, which must be ascending id order: :func:`topk_rows`
    breaks exact ties by column. Yields flat ``(q_ids, r_ids, dists,
    ranks)`` arrays per block, ``min(k, len(rids))`` rows per query,
    ranks from 1. A NaN distance sorts after every number."""
    kk = min(k, len(rids))
    if kk == 0:
        return
    step = max(16, budget // len(rids))
    ranks = np.arange(1, kk + 1, dtype="int32")
    for s in range(0, len(qids), step):
        e = min(s + step, len(qids))
        part, dd = topk_rows(dist(s, e), kk)
        yield np.repeat(qids[s:e], kk), rids[part.ravel()], dd.ravel(), np.tile(ranks, e - s)


def radius_pairs(
    q_xy: np.ndarray,
    q_ids: np.ndarray,
    r_xy: np.ndarray,
    r_ids: np.ndarray,
    radius: float,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All pairs with dist < radius (strict). Self-pairs included at
    distance 0 when ids coincide (FFCL includes the query point)."""
    out_a, out_b, out_d = [], [], []
    for s in range(0, len(q_xy), BLOCK):
        e = min(s + BLOCK, len(q_xy))
        # strict < on the sqrt'd distance — matches the SQL filter
        # exactly (a squared compare differs at 1-ulp boundaries)
        d = np.sqrt(pairwise_sq_2d(q_xy[s:e], r_xy))
        qi, ri = np.nonzero(d < radius)
        out_a.append(np.asarray(q_ids)[s:e][qi])
        out_b.append(np.asarray(r_ids)[ri])
        out_d.append(d[qi, ri])
    if not out_a:
        return np.array([]), np.array([]), np.array([])
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_d)


def core_distance(xy: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Distance to the k-th nearest neighbor, self counted
    (reference ``CoreDistances.hpp:39-54``)."""
    _, _, d = knn(xy, xy, np.asarray(ids), k)
    return d.reshape(len(xy), min(k, len(xy)))[:, -1]
