"""NumPy twins of the geodesic column expressions (test oracles)."""

from __future__ import annotations

import math

import numpy as np

EARTH_RADIUS_M = 6_371_008.8


def haversine_np(
    lat1: np.ndarray,
    lon1: np.ndarray,
    lat2: np.ndarray,
    lon2: np.ndarray,
    radius_m: float = EARTH_RADIUS_M,
) -> np.ndarray:
    p1, p2 = np.radians(lat1), np.radians(lat2)
    sp = np.sin((p2 - p1) / 2)
    sl = np.sin((np.radians(lon2) - np.radians(lon1)) / 2)
    h = sp * sp + np.cos(p1) * np.cos(p2) * sl * sl
    return 2.0 * radius_m * np.arcsin(np.sqrt(np.minimum(1.0, h)))


def unit_vector_np(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    phi, lam = np.radians(lat), np.radians(lon)
    return np.stack(
        [np.cos(phi) * np.cos(lam), np.cos(phi) * np.sin(lam), np.sin(phi)], axis=1
    )


def geo_brute_pairs(
    q_lat, q_lon, r_lat, r_lon, radius_m: float, earth_radius_m: float = EARTH_RADIUS_M
) -> np.ndarray:
    """Boolean matrix [n_q, n_r]: great-circle dist < radius_m (strict)."""
    d = haversine_np(
        np.asarray(q_lat)[:, None],
        np.asarray(q_lon)[:, None],
        np.asarray(r_lat)[None, :],
        np.asarray(r_lon)[None, :],
        earth_radius_m,
    )
    return d < radius_m


def destination_point_np(
    lat_deg: float, lon_deg: float, bearing_deg, arc_deg
) -> tuple[np.ndarray, np.ndarray]:
    """Great-circle destination: start at (lat, lon), travel ``arc_deg``
    along initial ``bearing_deg`` (clockwise from north). Vectorized
    over bearings/arcs; the standard aviation formulae."""
    phi1 = math.radians(lat_deg)
    lam1 = math.radians(lon_deg)
    th = np.radians(np.asarray(bearing_deg, dtype=np.float64))
    d = np.radians(np.asarray(arc_deg, dtype=np.float64))
    sphi2 = np.sin(phi1) * np.cos(d) + np.cos(phi1) * np.sin(d) * np.cos(th)
    phi2 = np.arcsin(np.clip(sphi2, -1.0, 1.0))
    lam2 = lam1 + np.arctan2(
        np.sin(th) * np.sin(d) * np.cos(phi1),
        np.cos(d) - np.sin(phi1) * sphi2,
    )
    lon2 = np.degrees(lam2)
    lon2 = (lon2 + 180.0) % 360.0 - 180.0
    return np.degrees(phi2), lon2


def tile_frame_np(ring_latlon: np.ndarray):
    """Per-tile gnomonic frame: (center unit vector, basis e1, e2,
    projected ring vertices [m, 2], cap radius in degrees).

    Center = normalized mean of the vertex unit vectors; cap radius =
    max arc from the center to a vertex. A spherical cap of radius
    ≤ 90° is geodesically convex, so the polygon (vertices in the cap,
    edges = minor great-circle arcs) lies entirely inside the cap —
    which is both the candidate-cover bound and the gnomonic validity
    region. Tiles spanning a hemisphere or more are rejected
    (documented contract: tile polygons are local objects)."""
    ring = np.asarray(ring_latlon, dtype=np.float64)
    v = unit_vector_np(ring[:, 0], ring[:, 1])
    c = v.mean(axis=0)
    nc = np.linalg.norm(c)
    if nc < 1e-12:
        raise ValueError("degenerate spherical ring (vertices cancel)")
    c = c / nc
    # deterministic orthonormal basis in the tangent plane at c
    a = np.array([0.0, 0.0, 1.0]) if abs(c[2]) < 0.9 else np.array([1.0, 0.0, 0.0])
    e1 = a - np.dot(a, c) * c
    e1 = e1 / np.linalg.norm(e1)
    e2 = np.cross(c, e1)
    t = v @ c
    if np.any(t <= 1e-9):
        raise ValueError("spherical tile spans a hemisphere or more")
    ring_xy = np.stack([(v @ e1) / t, (v @ e2) / t], axis=1)
    cap_deg = math.degrees(math.acos(float(np.clip(t.min(), -1.0, 1.0))))
    return c, e1, e2, ring_xy, cap_deg


def spherical_pip_np(
    p_lat: np.ndarray, p_lon: np.ndarray, ring_latlon: np.ndarray
) -> np.ndarray:
    """Boolean mask: point inside-or-on-boundary of the spherical
    polygon whose edges are minor great-circle arcs between consecutive
    (lat, lon) vertices. Gnomonic projection about the tile center maps
    great circles to straight lines EXACTLY, so the planar even-odd
    kernel (``kernels.pip``) decides spherical containment; points
    outside the open hemisphere at the center are outside the polygon
    by the cap bound."""
    from ffcl_spark.kernels.pip import points_in_polygon

    c, e1, e2, ring_xy, _ = tile_frame_np(ring_latlon)
    p = unit_vector_np(np.asarray(p_lat, float), np.asarray(p_lon, float))
    t = p @ c
    ok = t > 1e-12
    out = np.zeros(len(p), dtype=bool)
    if ok.any():
        x = (p[ok] @ e1) / t[ok]
        y = (p[ok] @ e2) / t[ok]
        out[ok] = points_in_polygon(x, y, ring_xy)
    return out


def geo_brute_knn(
    q_lat, q_lon, r_lat, r_lon, r_ids, k: int, earth_radius_m: float = EARTH_RADIUS_M
):
    """Exact geodesic kNN with (dist, id) ties — list of id arrays."""
    d = haversine_np(
        np.asarray(q_lat)[:, None],
        np.asarray(q_lon)[:, None],
        np.asarray(r_lat)[None, :],
        np.asarray(r_lon)[None, :],
        earth_radius_m,
    )
    r_ids = np.asarray(r_ids)
    out = []
    for row in d:
        order = np.lexsort((r_ids, row))[:k]
        out.append((r_ids[order], row[order]))
    return out


def _dot3(p: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Row dot products ``p @ x`` (p [n, 3]) folded elementwise in one
    stated order, ``(px*x0 + py*x1) + pz*x2``. A BLAS matrix-vector
    product rounds a row by its place in the batch, which would make a
    per-point distance depend on how the rows were batched."""
    return (p[:, 0] * x[0] + p[:, 1] * x[1]) + p[:, 2] * x[2]


def arc_boundary_distance_np(
    p: np.ndarray, ring_latlon: np.ndarray, closed: bool = True
) -> np.ndarray:
    """Angular distance (radians) from unit vectors ``p`` [n, 3] to the
    CLOSED boundary of the spherical polygon ``ring_latlon`` [m, 2]
    (edges = minor great-circle arcs) — exact spherical geometry.
    ``closed=False`` treats the vertex chain as an OPEN polyline (no
    wrap edge) — the point-to-route distance for snapping/map-matching.

    Per edge (a, b) with great-circle normal n̂ = a×b/|a×b|: the foot
    of the perpendicular from p onto the great circle is
    g = normalize(p − (p·n̂)n̂); if g lies within the arc (same
    orientation as a→b on both sides: (a×g)·n̂ ≥ 0 and (g×b)·n̂ ≥ 0)
    the distance is the cross-track |asin(p·n̂)|, else the smaller
    endpoint distance. atan2(|p×q|, p·q) is used for endpoint angles
    (robust near 0 and π where acos loses precision). Points at the
    great circle's pole (|p·n̂| → 1, foot undefined) fall through to
    the endpoint branch, whose value π/2 is then exact. Each point's
    value is independent of the other rows of ``p`` (:func:`_dot3`)."""
    ring = np.asarray(ring_latlon, dtype=np.float64)
    v = unit_vector_np(ring[:, 0], ring[:, 1])
    if closed:
        a = v
        b = np.roll(v, -1, axis=0)
    else:
        a = v[:-1]
        b = v[1:]
    p = np.asarray(p, dtype=np.float64)
    best = np.full(len(p), np.inf)
    for i in range(len(a)):
        ai, bi = a[i], b[i]
        ni = np.cross(ai, bi)
        nn = np.linalg.norm(ni)
        if nn < 1e-15:
            # degenerate edge (duplicate or antipodal vertices): treat
            # as the endpoint pair
            on = np.zeros(len(p), dtype=bool)
            d_ct = np.full(len(p), np.inf)
        else:
            ni = ni / nn
            dt = _dot3(p, ni)
            g = p - dt[:, None] * ni
            gn = np.linalg.norm(g, axis=1)
            safe = gn > 1e-12
            g = np.where(safe[:, None], g / np.where(safe, gn, 1.0)[:, None], g)
            on = (
                safe
                & (_dot3(np.cross(np.broadcast_to(ai, p.shape), g), ni) >= 0)
                & (_dot3(np.cross(g, np.broadcast_to(bi, p.shape)), ni) >= 0)
            )
            d_ct = np.abs(np.arcsin(np.clip(dt, -1.0, 1.0)))
        d_a = np.arctan2(np.linalg.norm(np.cross(p, ai), axis=1), _dot3(p, ai))
        d_b = np.arctan2(np.linalg.norm(np.cross(p, bi), axis=1), _dot3(p, bi))
        d = np.where(on, d_ct, np.minimum(d_a, d_b))
        best = np.minimum(best, d)
    return best


OVERLAY_EPS = 1e-12


def _within_arc_grid(P, A1, A2, n1):
    """Boolean [m, k]: P[j] lies on the minor arc A1[i]→A2[i] side
    tests (assumes P on the arc's great circle; tolerance counts
    endpoint touches). All inputs unit vectors."""
    c1 = (np.cross(A1[:, None, :], P[None, :, :]) * n1[:, None, :]).sum(-1)
    c2 = (np.cross(P[None, :, :], A2[:, None, :]) * n1[:, None, :]).sum(-1)
    return (c1 >= -OVERLAY_EPS) & (c2 >= -OVERLAY_EPS)


def sphere_arcs_cross(
    va: np.ndarray, vb: np.ndarray, *, closed_a: bool = True,
    closed_b: bool = True,
) -> bool:
    """True iff some edge arc of A meets some edge arc of B (proper
    crossing, T-touch, endpoint touch, or same-great-circle overlap) —
    the spherical twin of ``kernels.overlay.segments_cross``. Inputs
    are vertex sequences of unit vectors [m, 3] / [k, 3]; edges are
    minor great-circle arcs (the tile cap contract). ``closed_*``
    selects ring edges (wrap arc included) vs OPEN chain edges
    (consecutive pairs only — the polyline form).

    Transversal case: the two great circles meet at ±t with
    t = n̂1×n̂2; the arcs share a point iff one of ±t lies within both
    arcs (orientation sign tests). Degenerate case (same great circle,
    |t| ≈ 0): the arcs overlap iff an endpoint of one lies within the
    other arc."""
    A1, A2 = (va, np.roll(va, -1, axis=0)) if closed_a else (va[:-1], va[1:])
    B1, B2 = (vb, np.roll(vb, -1, axis=0)) if closed_b else (vb[:-1], vb[1:])
    n1 = np.cross(A1, A2)
    n1 = n1 / np.linalg.norm(n1, axis=1, keepdims=True)
    n2 = np.cross(B1, B2)
    n2 = n2 / np.linalg.norm(n2, axis=1, keepdims=True)
    t = np.cross(n1[:, None, :], n2[None, :, :])  # [m, k, 3]
    tn = np.linalg.norm(t, axis=2)
    transversal = tn > 1e-12
    tt = t / np.where(transversal, tn, 1.0)[..., None]
    hit = np.zeros(tn.shape, dtype=bool)
    for sign in (1.0, -1.0):
        s = sign * tt
        wa = (
            ((np.cross(A1[:, None, :], s) * n1[:, None, :]).sum(-1) >= -OVERLAY_EPS)
            & ((np.cross(s, A2[:, None, :]) * n1[:, None, :]).sum(-1) >= -OVERLAY_EPS)
        )
        wb = (
            ((np.cross(B1[None, :, :], s) * n2[None, :, :]).sum(-1) >= -OVERLAY_EPS)
            & ((np.cross(s, B2[None, :, :]) * n2[None, :, :]).sum(-1) >= -OVERLAY_EPS)
        )
        hit |= transversal & wa & wb
    if hit.any():
        return True
    if (~transversal).any():
        # same great circle: endpoint-membership overlap test
        inb = (
            _within_arc_grid(B1, A1, A2, n1)
            | _within_arc_grid(B2, A1, A2, n1)
            | _within_arc_grid(A1, B1, B2, n2).T
            | _within_arc_grid(A2, B1, B2, n2).T
        )
        if (inb & ~transversal).any():
            return True
    return False


def sphere_polys_intersect(ring_a: np.ndarray, ring_b: np.ndarray) -> bool:
    """Two spherical polygons (minor great-circle arc edges, each tile
    smaller than a hemisphere) share at least one point — boundary
    touch counts, same semantics as the planar overlay kernel:
    (a) some arc of A meets some arc of B, or (b) a vertex of one lies
    inside the other (containment with no boundary contact)."""
    ring_a = np.asarray(ring_a, dtype=np.float64)
    ring_b = np.asarray(ring_b, dtype=np.float64)
    va = unit_vector_np(ring_a[:, 0], ring_a[:, 1])
    vb = unit_vector_np(ring_b[:, 0], ring_b[:, 1])
    if sphere_arcs_cross(va, vb):
        return True
    if spherical_pip_np(ring_b[:1, 0], ring_b[:1, 1], ring_a)[0]:
        return True
    return bool(spherical_pip_np(ring_a[:1, 0], ring_a[:1, 1], ring_b)[0])


def sphere_chain_poly_intersect(
    chain_latlon: np.ndarray, ring_latlon: np.ndarray
) -> bool:
    """Open great-circle vertex chain (route, coastline) meets a
    spherical polygon — interior or boundary: some chain arc crosses
    some ring arc, or the chain's first vertex lies inside the ring.
    The first-vertex witness suffices because a connected chain with
    no boundary crossing lies entirely inside or entirely outside
    (same argument as :func:`sphere_polys_intersect`); a chain that
    dips into the tile from outside necessarily crosses an edge."""
    chain = np.asarray(chain_latlon, dtype=np.float64)
    ring = np.asarray(ring_latlon, dtype=np.float64)
    vc = unit_vector_np(chain[:, 0], chain[:, 1])
    vr = unit_vector_np(ring[:, 0], ring[:, 1])
    if len(vc) >= 2 and sphere_arcs_cross(vc, vr, closed_a=False):
        return True
    return bool(spherical_pip_np(chain[:1, 0], chain[:1, 1], ring)[0])


def sphere_chains_cross(
    chain_a_latlon: np.ndarray, chain_b_latlon: np.ndarray
) -> bool:
    """Two open great-circle vertex chains (routes) share at least one
    point — transversal crossing, T-touch, endpoint touch, or a
    same-great-circle overlap. Chains have no interior, so unlike the
    ring forms there is no containment branch: the arc-pair test of
    :func:`sphere_arcs_cross` (open on both sides) is the complete
    decision."""
    a = np.asarray(chain_a_latlon, dtype=np.float64)
    b = np.asarray(chain_b_latlon, dtype=np.float64)
    if len(a) < 2 or len(b) < 2:
        return False
    va = unit_vector_np(a[:, 0], a[:, 1])
    vb = unit_vector_np(b[:, 0], b[:, 1])
    return sphere_arcs_cross(va, vb, closed_a=False, closed_b=False)


def sphere_ring_measures(ring_latlon: np.ndarray) -> tuple[float, float]:
    """(solid_angle, perimeter_rad) of a simple spherical polygon with
    minor great-circle arc edges — exact geometry, no small-angle or
    planar approximation.

    Solid angle: signed fan decomposition about the first vertex with
    the Van Oosterom–Strackee signed spherical-triangle formula
    tan(Ω/2) = a·(b×c) / (1 + a·b + b·c + c·a) — signed terms make the
    fan exact for any simple (also non-convex) polygon; the absolute
    value is returned (tiles are smaller than a hemisphere by the cap
    contract, so no 4π ambiguity). Perimeter: Σ atan2(|vᵢ×vᵢ₊₁|,
    vᵢ·vᵢ₊₁) — robust at small and near-π arcs."""
    ring = np.asarray(ring_latlon, dtype=np.float64)
    v = unit_vector_np(ring[:, 0], ring[:, 1])
    if len(v) > 1 and np.array_equal(v[0], v[-1]):
        v = v[:-1]
    w = np.roll(v, -1, axis=0)
    per = float(
        np.arctan2(np.linalg.norm(np.cross(v, w), axis=1), (v * w).sum(1)).sum()
    )
    a = v[0]
    omega = 0.0
    for i in range(1, len(v) - 1):
        b, c = v[i], v[i + 1]
        num = float(a @ np.cross(b, c))
        den = 1.0 + float(a @ b) + float(b @ c) + float(c @ a)
        omega += 2.0 * math.atan2(num, den)
    return abs(omega), per


def sphere_simplify_indices_np(
    chain_latlon: np.ndarray, tol_rad: float
) -> np.ndarray:
    """Douglas–Peucker vertex selection for an open great-circle
    vertex chain, under the EXACT point-to-arc distance of
    :func:`arc_boundary_distance_np` (perpendicular-foot cross-track
    where the foot lies on the arc, else the smaller endpoint angle —
    no planar or small-angle approximation). Returns the sorted
    indices of the kept vertices; endpoints always survive.

    Guarantee: every dropped vertex lies within ``tol_rad`` of the
    chord arc it was finalized against, and that chord is an edge of
    the simplified chain — so no original vertex is farther than
    ``tol_rad`` from the result. Deterministic: the split vertex is
    the FIRST index attaining the maximum deviation, so equal-deviation
    ties cannot reorder the recursion across runs."""
    chain = np.asarray(chain_latlon, dtype=np.float64)
    n = len(chain)
    if n <= 2:
        return np.arange(n)
    v = unit_vector_np(chain[:, 0], chain[:, 1])
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j - i < 2:
            continue
        d = arc_boundary_distance_np(v[i + 1 : j], chain[[i, j]], closed=False)
        k = int(np.argmax(d))
        if d[k] > tol_rad:
            k += i + 1
            keep[k] = True
            stack.append((i, k))
            stack.append((k, j))
    return np.nonzero(keep)[0]


def viterbi_match_np(emis: np.ndarray, switch_cost: float) -> np.ndarray:
    """Minimum-cost state sequence for a simplified map-matching HMM:
    ``emis`` [t, j] is the emission cost of route j at ping t, the
    transition cost is a flat ``switch_cost`` whenever the route
    changes between consecutive pings (0 otherwise). Returns the
    argmin route index per ping.

    Classic Viterbi with the O(t·L) flat-transition recurrence
    cost[t, j] = emis[t, j] + min(cost[t-1, j], min_i cost[t-1, i] +
    switch_cost). Deterministic under ties everywhere: argmin takes
    the FIRST minimizing index, stay beats switch at equal cost, and
    the final state is the first global minimizer — so equal-cost
    sequences resolve to the lexicographically-first route order at
    any parallelism."""
    emis = np.asarray(emis, dtype=np.float64)
    t, L = emis.shape
    cost = emis[0].copy()
    back = np.zeros((t, L), dtype=np.int64)
    for s in range(1, t):
        best_i = int(np.argmin(cost))
        jump = cost[best_i] + switch_cost
        stay = cost
        # stay wins ties (<=); otherwise inherit the global best + switch
        take_stay = stay <= jump
        back[s] = np.where(take_stay, np.arange(L), best_i)
        cost = emis[s] + np.where(take_stay, stay, jump)
    out = np.empty(t, dtype=np.int64)
    out[-1] = int(np.argmin(cost))
    for s in range(t - 1, 0, -1):
        out[s - 1] = back[s, out[s]]
    return out


def discrete_frechet_rad(
    chain_a_latlon: np.ndarray, chain_b_latlon: np.ndarray
) -> float:
    """Discrete Fréchet distance (radians of arc) between two open
    great-circle vertex chains — the classic coupled-walk min-max DP
    (Eiter–Mannila) over the EXACT pairwise great-circle angles
    (atan2(|p×q|, p·q), robust near 0 and π). The dog-leash metric of
    trajectory similarity: both walkers start at the first vertices,
    end at the last, may only advance, and the value is the smallest
    leash covering some such walk.

    O(m·n) time, O(n) rolling row; deterministic (pure float64 — no
    order freedom in the recurrence)."""
    a = np.asarray(chain_a_latlon, dtype=np.float64)
    b = np.asarray(chain_b_latlon, dtype=np.float64)
    va = unit_vector_np(a[:, 0], a[:, 1])
    vb = unit_vector_np(b[:, 0], b[:, 1])
    dots = va @ vb.T
    crosses = np.linalg.norm(
        np.cross(va[:, None, :], vb[None, :, :]), axis=2
    )
    d = np.arctan2(crosses, dots)  # [m, n] exact angles
    m, n = d.shape
    row = np.empty(n, dtype=np.float64)
    row[0] = d[0, 0]
    for j in range(1, n):
        row[j] = max(row[j - 1], d[0, j])
    for i in range(1, m):
        prev = row.copy()
        row[0] = max(prev[0], d[i, 0])
        for j in range(1, n):
            row[j] = max(min(prev[j], prev[j - 1], row[j - 1]), d[i, j])
    return float(row[-1])


def hausdorff_rad(
    chain_a_latlon: np.ndarray, chain_b_latlon: np.ndarray
) -> tuple[float, float]:
    """Directed discrete Hausdorff distances (radians of arc) between
    two vertex chains: ``(h_ab, h_ba)`` where ``h_ab = max_i min_j
    angle(a_i, b_j)`` over the EXACT pairwise great-circle angles
    (atan2(|p×q|, p·q), robust near 0 and π) — the set-similarity
    sibling of :func:`discrete_frechet_rad` (no ordering constraint:
    Hausdorff compares the vertex SETS, Fréchet the walks; H ≤ F
    always). The symmetric Hausdorff distance is ``max(h_ab, h_ba)``.

    O(m·n); deterministic: the dot products and the cross-product
    norms are elementwise folds in one stated order,
    ``(ax*bx + ay*by) + az*bz`` and ``sqrt((cx*cx + cy*cy) + cz*cz)``
    (no BLAS reduction, whose order depends on the CPU), and the
    max/min reductions have no order freedom."""
    a = np.asarray(chain_a_latlon, dtype=np.float64)
    b = np.asarray(chain_b_latlon, dtype=np.float64)
    va = unit_vector_np(a[:, 0], a[:, 1])
    vb = unit_vector_np(b[:, 0], b[:, 1])
    ax, ay, az = (va[:, i, None] for i in range(3))
    bx, by, bz = (vb[None, :, i] for i in range(3))
    dots = (ax * bx + ay * by) + az * bz
    cx = ay * bz - az * by
    cy = az * bx - ax * bz
    cz = ax * by - ay * bx
    crosses = np.sqrt((cx * cx + cy * cy) + cz * cz)
    d = np.arctan2(crosses, dots)  # [m, n] exact angles
    return float(d.min(axis=1).max()), float(d.min(axis=0).max())


def stay_points_np(
    latlon: np.ndarray, ts: np.ndarray, radius_rad: float, min_dur: float
) -> list[tuple[int, int]]:
    """Stay-point episodes of one time-ordered ping sequence (the
    Li/Zheng GeoLife rule): anchor at ping i, find the FIRST later
    ping whose great-circle angle from the anchor reaches
    ``radius_rad`` (strict ``<`` stays inside — the engine's
    point-in-ball convention); if the pings before it dwell for at
    least ``min_dur``, emit the maximal window ``[i, j-1]`` and
    restart at j, else advance the anchor by one. A trailing window
    that never exits the ball emits iff its duration qualifies.

    Returns [(i_start, i_end)] inclusive index pairs. Deterministic:
    callers pre-sort pings (ts, lat, lon); the scan has no float
    order freedom (exact angles, one comparison per ping). The anchor
    loop is O(#anchors) Python with vectorized angle rows — the
    Viterbi kernel's cost shape."""
    v = unit_vector_np(latlon[:, 0], latlon[:, 1])
    n = len(v)
    out: list[tuple[int, int]] = []
    i = 0
    while i < n:
        dots = v[i + 1 :] @ v[i]
        crosses = np.linalg.norm(np.cross(v[i], v[i + 1 :]), axis=1)
        ang = np.arctan2(crosses, dots)
        exits = np.nonzero(ang >= radius_rad)[0]
        if not len(exits):
            # trailing window: no later anchor can dwell longer than
            # this one (every suffix window only shrinks in time), so
            # emit-or-not and stop — keeps the all-in-one-ball case
            # O(n) instead of O(n²)
            if n - i >= 2 and float(ts[n - 1] - ts[i]) >= min_dur:
                out.append((i, n - 1))
            break
        j = i + 1 + int(exits[0])
        if j == i + 1:
            i += 1
            continue
        if float(ts[j - 1] - ts[i]) >= min_dur:
            out.append((i, j - 1))
            i = j
        else:
            i += 1
    return out


def planar_hull_indices_np(xy: np.ndarray) -> np.ndarray:
    """Andrew monotone-chain convex hull: indices of the hull CORNER
    vertices of ``xy`` [n, 2] in counter-clockwise order (collinear
    boundary points dropped, duplicates collapse). Deterministic: the
    lexicographic (x, y) sort pins the walk, and the returned cycle
    starts at the lexicographically-smallest vertex."""
    xy = np.asarray(xy, dtype=np.float64)
    n = len(xy)
    if n == 0:
        return np.arange(0)
    order = np.lexsort((xy[:, 1], xy[:, 0]))
    # collapse exact duplicates (keep the first in sort order)
    uniq = [order[0]]
    for i in order[1:]:
        if not (xy[i] == xy[uniq[-1]]).all():
            uniq.append(int(i))
    if len(uniq) <= 2:
        return np.array(uniq, dtype=np.int64)

    def cross(o, a, b):
        return (xy[a][0] - xy[o][0]) * (xy[b][1] - xy[o][1]) - (
            xy[a][1] - xy[o][1]
        ) * (xy[b][0] - xy[o][0])

    lo: list[int] = []
    for i in uniq:
        while len(lo) >= 2 and cross(lo[-2], lo[-1], i) <= 0:
            lo.pop()
        lo.append(i)
    hi: list[int] = []
    for i in reversed(uniq):
        while len(hi) >= 2 and cross(hi[-2], hi[-1], i) <= 0:
            hi.pop()
        hi.append(i)
    return np.array(lo[:-1] + hi[:-1], dtype=np.int64)


def sphere_hull_indices_np(
    pts_latlon: np.ndarray, center: np.ndarray | None = None
) -> np.ndarray:
    """Spherical convex hull: indices of the extreme points of a
    (lat, lon) set, CCW as seen from outside the sphere — the minimal
    geodesically convex region containing the set, well-defined while
    the points fit in an OPEN hemisphere (raises otherwise).

    Exactness: a point is on the spherical hull iff its unit vector is
    an extreme ray of the convex cone the set generates — a
    frame-independent property. The gnomonic projection about any
    ``center`` with every point strictly in front (t = v·ĉ > 0) cuts
    that cone with a plane, turning extreme rays into planar hull
    vertices EXACTLY (great circles → straight lines), so the planar
    monotone chain decides the spherical hull with no small-angle
    approximation. Passing one shared ``center`` makes per-partition
    results mergeable: hull(hull(P₁) ∪ … ∪ hull(Pₖ)) == hull(P)."""
    pts = np.asarray(pts_latlon, dtype=np.float64)
    v = unit_vector_np(pts[:, 0], pts[:, 1])
    if center is None:
        c = v.mean(axis=0)
        nc = np.linalg.norm(c)
        if nc < 1e-12:
            raise ValueError("degenerate point set (vectors cancel)")
        center = c / nc
    t = v @ center
    if np.any(t <= 1e-9):
        raise ValueError("point set spans a hemisphere or more")
    a = (
        np.array([0.0, 0.0, 1.0])
        if abs(center[2]) < 0.9
        else np.array([1.0, 0.0, 0.0])
    )
    e1 = a - np.dot(a, center) * center
    e1 = e1 / np.linalg.norm(e1)
    e2 = np.cross(center, e1)
    xy = np.stack([(v @ e1) / t, (v @ e2) / t], axis=1)
    return planar_hull_indices_np(xy)
