"""Distributed Borůvka minimum spanning tree (exact), with the
mutual-reachability variant used by HDBSCAN.

Reference ``BoruvkasAlgorithm.hpp:239-460``: per round, every
component finds its minimum outgoing edge via per-point nearest-
neighbor queries that skip same-component candidates
(``WithUnionFind.hpp:47-77``); all found edges merge at once
(union-find); repeat until one component remains.

Distributed form — exact, with the reference's prune translated:

- per round, every point gets a k-NN list (``knn_join_grid``). If the
  list contains any cross-component candidate, the closest such is
  that point's *exact* nearest-other-component neighbor (everything
  closer is in the list and same-component).
- points whose whole list is same-component only matter if they could
  beat their component's current best candidate; their unseen
  neighbors are all farther than the list's k-th distance, so the
  component-level prune is ``kth ≥ comp_best`` (for mutual
  reachability: ``max(core_p, kth) ≥ comp_best``, since
  mreach ≥ max(core_p, d)). Survivors escalate with doubled k —
  exactly the buffer-bound prune of ``KDNodeView.hpp:235-243`` lifted
  to components. The prune state (per-component best so far) is a
  DataFrame joined back per pass — nothing point-sized touches the
  driver.
- candidate edges are SYMMETRIZED (each cross pair appears from both
  endpoints' components) and per-component minima use the CANONICAL
  undirected order (w, min_id, max_id): any two components that both
  pick weight-w edges toward each other then agree on the same
  canonical edge, so the union of chosen edges is cycle-free by the
  standard total-order argument — which is what lets rounds merge
  WITHOUT a driver union-find.
- merging: while components > ``driver_cutoff`` the merge runs
  DataFrame-side — each component points at the partner of its chosen
  edge; the only cycles in that pointer graph are mutual pairs, which
  root at their smaller label; pointer doubling then converges in
  O(log) self-joins over component-count-sized relations. Below the
  cutoff the collected per-COMPONENT best edges (≤ driver_cutoff rows,
  never point-count rows) merge through a driver union-find
  (``UnionFind.hpp`` semantics). Components at least halve per round →
  O(log n) rounds.
- the id → component map is a *persisted DataFrame*, never collected.
  The bootstrap and both merges relabel it through one rule: each
  merged group takes its minimum member (``UnionFind.canonical`` on
  the driver, a per-group min DataFrame-side), joined in by
  ``_relabel``.
- one weighting (``_weigh``) serves the bootstrap and every pass;
  core distances are the per-query max of the MST's own kNN call.
- every kNN result is released (``plans.cache.release``) once its
  pass is done: Borůvka checkpoints only its own small per-pass state
  (the pending ids and the best-edge table), so no lazy plan reaches
  a freed kNN. Every other intermediate (cached frame or
  localCheckpoint) is freed once nothing reads it; the chosen-edge
  checkpoints ride the output.

Output: the MST edge DataFrame (src, dst, w) — n−1 rows, carrying
the checkpoints it reads (free them with ``plans.cache.release``).
Dendrogram post-processing (``kernels.hierarchy``) collects it
driver-side by declared contract (the dendrogram is O(n), ≪ data); at
scales where n−1 driver rows is itself too big, consume the DataFrame
directly.

Edge weights: Euclidean distance, or mutual reachability
``max(core_a, core_b, dist)`` (``BoruvkasAlgorithm.hpp:307-308``) when
``core_k`` is given. The edge WEIGHT per component is exact; under
exact weight ties the specific edge may differ from the
(w, min, max)-canonical MST when the kNN prune hides an equal-weight
alternative, but the result is always a true minimum spanning tree —
and every MST of a graph has the same sorted weight multiset, which is
what the oracle gates compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ffcl_spark.config import EngineConfig
from ffcl_spark.operators.dbscan import UnionFind
from ffcl_spark.operators.knn_kernel import knn_join_grid
from ffcl_spark.plans.cache import carry, release
from ffcl_spark.plans.stats import free_checkpoint

DRIVER_CUTOFF = 100_000  # switch to driver union-find below this many components
# max n·K0 candidate rows the Kruskal bootstrap may collect (same O(n)
# driver-contract position as the dendrogram). At the cap, tracemalloc
# on 2M synthetic rows (250k points × 8 distinct neighbours): the dicts
# kth, core_of and edge_w keep ~333 MiB; ingesting the collected Rows
# (~756 MiB) peaks at ~971 MiB.
BOOTSTRAP_EDGE_LIMIT = 2_000_000
K0 = 8  # base k-NN list length of the rounds and the bootstrap


def mst_edges_local(edges_df: DataFrame) -> list[tuple]:
    """Stream an MST edge DataFrame to [(src, dst, w), ...] — the
    driver-side form consumed by the dendrogram kernels. The driver
    WORKING SET stays O(n) by declared contract (the dendrogram is
    O(n) metadata, same position as the reference's in-memory
    ``SingleLinkageClusterTree.hpp:177-221``), but the transfer is a
    weight-ordered ``toLocalIterator`` — constant-size per-partition
    batches instead of one n-row ``collect()`` materialized twice
    (JVM result buffer + Python rows), the last single-shot O(n)
    driver funnel in the engine (round-4 VERDICT task #4). The sort
    runs cluster-side; ``single_linkage_tree`` is order-insensitive
    (it re-sorts a Python list — cheap on the pre-sorted stream)."""
    it = edges_df.orderBy("w", "src", "dst").toLocalIterator(
        prefetchPartitions=True
    )
    return [(r["src"], r["dst"], float(r["w"])) for r in it]


def minimum_spanning_tree(
    points: DataFrame,
    cfg: EngineConfig,
    core_k: int | None = None,
    local_cutoff: int = 0,
    features_col: str | None = None,
    axes: tuple[int, int] = (0, 1),
    driver_cutoff: int = DRIVER_CUTOFF,
    ckpt_dir: str | None = None,
    stop_after_rounds: int | None = None,
) -> DataFrame:
    """Exact MST edges as a DataFrame (src, dst, w) — n−1 rows. The
    checkpointed rounds it reads ride the result: call
    ``plans.cache.release`` when done.

    ``local_cutoff``: inputs at or below this size skip the distributed
    rounds and run the identical-semantics local Prim kernel — the
    small-relation local-execution optimization (each Borůvka round
    costs O(1) Spark jobs of latency; below a few thousand points the
    latency dwarfs the O(n²) local solve).

    ``driver_cutoff``: while more components than this remain, round
    merges run DataFrame-side (pointer doubling); below it the
    per-component best edges (≤ driver_cutoff rows) merge on the
    driver. 0 forces every merge distributed (used by tests).

    ``features_col``: when given, points carry an n-D
    ``array<double>`` feature column instead of (x, y) — the reference
    n-features contract (``KDTree.hpp:137``). Neighbor queries route
    through the n-D kNN join (grid on ``axes``); distances
    are the full n-D metric, bit-equal between the distributed fold and
    the local Prim kernel.

    ``ckpt_dir``: iterative-round checkpointing (north_rule resumable
    contract for the engine's longest iterative operator). After each
    round the component map and the round's MST edges are written to
    ``{ckpt_dir}/comp/round=r`` / ``edges/round=r`` and committed by a
    one-row ``meta/round=r`` marker (written LAST — a crash mid-round
    leaves no marker, so the redo overwrites the partial state
    idempotently). A rerun with the same ``ckpt_dir`` resumes from the
    last committed round; every round is deterministic, so resumed and
    uninterrupted runs produce identical trees. ``stop_after_rounds``
    aborts after N committed rounds (testing hook simulating a crash).
    """
    import numpy as np

    spark = points.sparkSession
    id_type = points.schema["id"].dataType
    id_sql = id_type.simpleString()
    edge_schema = f"src {id_sql}, dst {id_sql}, w double"

    if features_col is None:
        from ffcl_spark.operators.knn_kernel import hot_coarse_groups

        pts = points.select("id", "x", "y").persist()
        # the ref set is fixed across every escalation pass and round —
        # detect hot coarse groups ONCE (lazily, so the local-Prim fast
        # path never pays the scan) instead of one full ref scan per
        # knn call (round-3 ADVICE)
        _hot: dict = {}

        def _knn(q, k_):
            if "hot" not in _hot:
                _hot["hot"] = hot_coarse_groups(pts, cfg)
            return knn_join_grid(q, pts, k_, cfg, hot_groups=_hot["hot"])

        def _matrix(pdf):
            return pdf[["x", "y"]].to_numpy()
    else:
        from ffcl_spark.operators.search_nd import knn_join_nd

        pts = points.select("id", F.col(features_col).alias("features")).persist()

        def _knn(q, k_):
            return knn_join_nd(q, pts, k_, cfg, "features", axes)

        def _matrix(pdf):
            return np.array(pdf["features"].tolist(), dtype=np.float64)

    def _cross_knn(q, k_):
        """k_-NN lists of ``q`` over every point, self pairs dropped,
        carrying the kNN's intermediates."""
        nn = _knn(q, k_)
        return carry(nn.where(F.col("q_id") != F.col("r_id")), nn)

    n = pts.count()
    if n <= 1:
        pts.unpersist()
        return spark.createDataFrame([], edge_schema)
    if n <= local_cutoff:
        from ffcl_spark.kernels.mst_local import prim_mst

        pdf = pts.toPandas().sort_values("id").reset_index(drop=True)
        pts.unpersist()
        edges = prim_mst(_matrix(pdf), pdf["id"].to_numpy(), core_k=core_k)
        return spark.createDataFrame(edges, edge_schema)

    core = None
    if core_k is not None:
        # core distance = k-th NN distance, self counted
        # (``CoreDistances.hpp:39-54``)
        core_nn = _knn(pts, core_k)
        core = core_nn.groupBy("q_id").agg(F.max("dist").alias("core_q")).persist()
        core.count()
        _free(core_nn)

    def _weigh(nn):
        """``nn`` (q_id, r_id, dist, …) plus the edge weight ``w`` —
        distance, or mutual reachability ``max(core_q, core_r, dist)``
        (``BoruvkasAlgorithm.hpp:307-308``) — and the query's core
        distance ``core_q`` (0.0 without ``core_k``)."""
        if core is None:
            return nn.withColumn("w", F.col("dist")).withColumn("core_q", F.lit(0.0))
        return (
            nn.join(core, "q_id")
            .join(core.select(F.col("q_id").alias("r_id"), F.col("core_q").alias("core_r")), "r_id")
            .withColumn("w", F.greatest("core_q", "core_r", "dist"))
            .drop("core_r")
        )

    # distributed component map (id -> comp), never collected. Plain
    # (non-hinted) joins everywhere it is used: AQE broadcasts it while
    # small-enough and shuffles otherwise — at 100× the map is n rows
    # and must not be forced through the driver or a broadcast.
    comp_df = pts.select("id", F.col("id").alias("comp")).persist()
    comp_df.count()
    n_comp = n
    edge_parts: list[DataFrame] = []  # per-round edges (non-ckpt mode)
    base_nn = None  # K0-NN lists, shared across rounds
    round_no = 0
    if ckpt_dir is not None:
        last = _ckpt_last_round(spark, ckpt_dir)
        if last is not None:
            round_no, n_comp = last
            resumed = spark.read.parquet(f"{ckpt_dir}/comp/round={round_no}").persist()
            resumed.count()
            comp_df.unpersist()
            comp_df = resumed

    # tiny inputs (e.g. distributed-plan gates): all-pairs lists cost
    # n² ≤ 64k rows once and remove every escalation pass — strictly
    # cheaper than 2+ extra kNN rounds of per-job latency
    k_base = n if n <= 256 else min(K0, n)

    # ------------------------------------------------------------------
    # r6: kNN-graph Kruskal bootstrap (round-latency fix, VERDICT #4).
    # The base K0-NN candidate edges contain the vast majority of the
    # MST; running the first O(log n) Borůvka rounds through them as
    # Spark jobs is pure scheduler latency (measured: 647 jobs /
    # 245 s for one 14 k-point geodesic MST). When the candidate edge
    # set is driver-bounded (n·K0 rows — the same O(n) driver-contract
    # position as the dendrogram), sweep it ONCE ascending with the
    # coverage-bound safety rule:
    #
    #   an edge (w, a, b) may merge comps A, B iff for at least one
    #   side C ∈ {A, B}: C is UNFROZEN and w ≤ bound(C), where
    #   bound(C) = min over members p of max(core_p, kth_p) — every
    #   UNSEEN edge out of C weighs at least bound(C) (unseen
    #   candidates of p lie beyond its k-th distance, and
    #   mreach ≥ core_p). A comp FREEZES permanently the moment one of
    #   its seen cross edges is passed over unmerged (it then has a
    #   known smaller cross edge that was never certified, so no later
    #   edge can be its minimum); a merge involving a frozen side
    #   leaves the merged comp frozen. Invariant: an unfrozen comp has
    #   had every smaller seen cross edge merged away, so a certified
    #   edge is its minimum seen cross edge, and bound(C) ≥ w rules
    #   out unseen ones — the edge is the comp's true minimum cross
    #   edge = Borůvka-safe (cut rule).
    #
    # The result is a valid MST forest prefix (weight multiset exact —
    # the projection the distributed-path gate compares); uncertified
    # comps are left for the distributed rounds below, which restart
    # from the merged component map and are complete on their own.
    # Skipped when the caller FORCES fully-distributed merges
    # (driver_cutoff == 0 — the plan-exercising tests/gates), for the
    # tiny all-pairs case (k_base == n), in resumable-checkpoint mode,
    # and whenever n·K0 exceeds the driver bound at scale.
    if (
        driver_cutoff > 0
        and k_base < n
        and n * k_base <= BOOTSTRAP_EDGE_LIMIT
        and ckpt_dir is None
        and n_comp == n
    ):
        base_nn = _cross_knn(pts, k_base).persist()
        base_nn.count()
        kth: dict = {}
        core_of: dict = {}
        edge_w: dict = {}

        def _ingest(nn, reset_ids=None):
            # exactly these five columns reach the driver — the memory
            # stated at BOOTSTRAP_EDGE_LIMIT
            rows = _weigh(nn.select("q_id", "r_id", "dist")).select(
                "q_id", "r_id", "dist", "w", "core_q"
            ).collect()
            if reset_ids:
                for p in reset_ids:
                    kth[p] = -1.0
            for row in rows:
                q, rid, d, w = row["q_id"], row["r_id"], row["dist"], row["w"]
                if d > kth.get(q, -1.0):
                    kth[q] = d
                core_of[q] = row["core_q"]
                key = (q, rid) if q < rid else (rid, q)
                prev = edge_w.get(key)
                if prev is None or w < prev:
                    edge_w[key] = w

        _ingest(base_nn)
        bound = {q: max(core_of[q], kth[q]) for q in kth}

        def _sweep():
            uf = UnionFind()
            comp_bound: dict = {}
            frozen: set = set()
            picked: list[tuple] = []
            for w, a, b in sorted((w, a, b) for (a, b), w in edge_w.items()):
                ra, rb = uf.find(a), uf.find(b)
                if ra == rb:
                    continue
                ba = comp_bound.get(ra, bound[ra])
                bb = comp_bound.get(rb, bound[rb])
                ok_a = ra not in frozen and w <= ba
                ok_b = rb not in frozen and w <= bb
                if ok_a or ok_b:
                    was_frozen = ra in frozen or rb in frozen
                    uf.merge(a, b)
                    root = uf.find(a)
                    comp_bound[root] = min(ba, bb)
                    if was_frozen:
                        frozen.add(root)
                    picked.append((a, b, float(w)))
                else:
                    frozen.add(ra)
                    frozen.add(rb)
            return uf, frozen, picked

        # escalate driver-side: each iteration re-sweeps the (grown)
        # candidate edge set and, while frozen comps remain, fetches
        # ONE distributed k-NN batch at 4× k for just the points that
        # could still improve their frozen comp — log(n) distributed
        # calls in total instead of an escalation ladder inside every
        # Borůvka round. Completeness is inherited from the
        # distributed continuation: whenever the budget or pend logic
        # stops us, the rounds below finish from the merged state.
        budget = BOOTSTRAP_EDGE_LIMIT - n * k_base
        k_cur = k_base
        inf = float("inf")
        while True:
            uf, frozen, picked = _sweep()
            if len(picked) >= n - 1 or not frozen or k_cur >= n:
                break
            best_cross: dict = {}
            for (a, b), w in edge_w.items():
                ra, rb = uf.find(a), uf.find(b)
                if ra == rb:
                    continue
                if ra in frozen and w < best_cross.get(ra, inf):
                    best_cross[ra] = w
                if rb in frozen and w < best_cross.get(rb, inf):
                    best_cross[rb] = w
            pend_ids = [
                p
                for p in bound
                if uf.find(p) in frozen
                and bound[p] < best_cross.get(uf.find(p), inf)
            ]
            k_next = min(n, k_cur * 4)
            if not pend_ids or len(pend_ids) * k_next > budget:
                break
            budget -= len(pend_ids) * k_next
            pend_df = spark.createDataFrame(
                [(p,) for p in pend_ids], schema=f"id {id_sql}"
            ).join(pts, "id")
            nn2 = _cross_knn(pend_df, k_next)
            _ingest(nn2, reset_ids=pend_ids)
            _free(nn2)
            for p in pend_ids:
                bound[p] = (
                    inf if k_next >= n else max(core_of[p], kth[p])
                )
            k_cur = k_next
        if picked:
            # at the bootstrap every comp is its own id
            mapping = uf.canonical({p for e in picked for p in e[:2]})
            if mapping:
                comp_df = _relabel(
                    comp_df,
                    spark.createDataFrame(mapping, schema=f"comp {id_sql}, newc {id_sql}"),
                )
            edge_parts.append(spark.createDataFrame(picked, edge_schema))
            n_comp -= len(picked)

    while n_comp > 1:
        if stop_after_rounds is not None and round_no >= stop_after_rounds:
            break  # crash-simulation hook: return whatever is committed
        round_no += 1
        k = k_base
        pend = pts
        pend_ids: DataFrame | None = None  # checkpointed ids of `pend`
        best_df: DataFrame | None = None  # (q_comp, e{w, a, b, ca, cb})
        while True:
            if best_df is None:
                # the base k-NN lists are component-independent — computed
                # once before round 1 and reused every round
                if base_nn is None:
                    base_nn = _cross_knn(pts, k).persist()
                    base_nn.count()
                knn = base_nn
            else:
                knn = _cross_knn(pend, k)
            nn = _weigh(
                knn.join(
                    comp_df.select(F.col("id").alias("q_id"), F.col("comp").alias("q_comp")),
                    "q_id",
                ).join(
                    comp_df.select(F.col("id").alias("r_id"), F.col("comp").alias("r_comp")),
                    "r_id",
                )
            )
            # one materialization per pass: the best-edge aggregation,
            # the prune aggregation, and the pending check all read nn
            nn = nn.persist()

            cross = nn.where(F.col("q_comp") != F.col("r_comp")).select(
                "q_id", "r_id", "q_comp", "r_comp", "w"
            )
            # symmetrize so both endpoint components see every candidate
            # edge — the visibility that makes canonical per-component
            # minima cycle-free (module docstring)
            sym = cross.unionByName(
                cross.select(
                    F.col("r_id").alias("q_id"),
                    F.col("q_id").alias("r_id"),
                    F.col("r_comp").alias("q_comp"),
                    F.col("q_comp").alias("r_comp"),
                    "w",
                )
            )
            canon = sym.select(
                "q_comp",
                F.struct(
                    F.col("w"),
                    F.least("q_id", "r_id").alias("a"),
                    F.greatest("q_id", "r_id").alias("b"),
                    F.when(F.col("q_id") < F.col("r_id"), F.col("q_comp"))
                    .otherwise(F.col("r_comp"))
                    .alias("ca"),
                    F.when(F.col("q_id") < F.col("r_id"), F.col("r_comp"))
                    .otherwise(F.col("q_comp"))
                    .alias("cb"),
                ).alias("e"),
            )
            pass_best = canon.groupBy("q_comp").agg(F.min("e").alias("e"))
            if best_df is None:
                new_best = pass_best
            else:
                new_best = (
                    best_df.unionByName(pass_best)
                    .groupBy("q_comp")
                    .agg(F.min("e").alias("e"))
                )
            new_best = new_best.localCheckpoint()  # ≤ n_comp rows, truncates pass lineage
            _free(best_df)
            best_df = new_best

            if k >= n:
                _free(nn, pend_ids, None if knn is base_nn else knn)
                break
            # escalation: points whose unseen-neighbor lower bound could
            # still beat their component's best (per-point rows never
            # leave the cluster — the prune state joins DataFrame-side)
            per_q = nn.groupBy("q_id", "q_comp").agg(
                F.max("dist").alias("kth"),
                F.max(F.when(F.col("q_comp") != F.col("r_comp"), 1).otherwise(0)).alias("has_cross"),
                F.max("core_q").alias("core_q"),
            )
            per_q = per_q.join(
                best_df.select("q_comp", F.col("e.w").alias("comp_best")),
                "q_comp",
                "left",
            )
            if core is not None:
                # mreach: even a point WITH a cross candidate can be
                # beaten by an unseen farther point with smaller core —
                # escalate whenever the unseen lower bound
                # max(core_p, kth) could still beat the component best
                lb = F.greatest("core_q", "kth")
                pend_cond = F.col("comp_best").isNull() | (lb < F.col("comp_best"))
            else:
                # distance: a found cross candidate is the point's exact
                # nearest-other-component neighbor; only all-same-comp
                # lists can improve
                pend_cond = (F.col("has_cross") == 0) & (
                    F.col("comp_best").isNull() | (F.col("kth") < F.col("comp_best"))
                )
            # checkpointed, so the next pass's kNN over `pend` reads
            # neither this pass's rows nor its kNN: both are freed here
            next_ids = per_q.where(pend_cond).select(F.col("q_id").alias("id")).localCheckpoint()
            _free(nn, pend_ids, None if knn is base_nn else knn)
            pend_ids = next_ids
            if pend_ids.isEmpty():
                _free(pend_ids)
                break
            pend = pts.join(F.broadcast(pend_ids), "id", "left_semi")
            k = min(n, k * 2)

        if n_comp > driver_cutoff:
            new_edges, relabel, n_merges = _merge_distributed(best_df)
        else:
            rows = best_df.select("q_comp", "e.*").collect()
            new_edges_l, mapping = _merge_driver(rows)
            n_merges = len(new_edges_l)
            new_edges = spark.createDataFrame(new_edges_l, edge_schema)
            relabel = spark.createDataFrame(
                mapping, schema=f"comp {id_sql}, newc {id_sql}"
            ) if mapping else None
        _free(best_df)
        if n_merges == 0:
            break
        if relabel is not None:
            comp_df = _relabel(comp_df, relabel)
        n_comp -= n_merges
        if ckpt_dir is not None:
            # round state THEN the commit marker: a crash between the
            # two leaves no marker, and the redo overwrites the dirs
            new_edges.write.mode("overwrite").parquet(
                f"{ckpt_dir}/edges/round={round_no}"
            )
            release(new_edges)
            comp_df.write.mode("overwrite").parquet(
                f"{ckpt_dir}/comp/round={round_no}"
            )
            spark.createDataFrame(
                [(n_comp,)], "n_comp long"
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{ckpt_dir}/meta/round={round_no}"
            )
        else:
            edge_parts.append(new_edges)

    comp_df.unpersist()
    pts.unpersist()
    if core is not None:
        core.unpersist()
    _free(base_nn)
    if ckpt_dir is not None:
        if round_no == 0:
            return spark.createDataFrame([], edge_schema)
        return spark.read.parquet(f"{ckpt_dir}/edges").select("src", "dst", "w")
    out = spark.createDataFrame([], edge_schema)
    for p in edge_parts:
        out = out.unionByName(p)
    # the distributed merges' chosen-edge checkpoints ride the result
    return carry(out, *(p for p in edge_parts if hasattr(p, "_ffcl_cached")))


def _free(*dfs: DataFrame | None) -> None:
    """Drop intermediates nothing reads any more: their own cache or
    checkpoint and the intermediates they carry."""
    for df in dfs:
        if df is not None:
            df.unpersist()
            release(df)
            free_checkpoint(df)


def _relabel(comp_df: DataFrame, relabel: DataFrame) -> DataFrame:
    """The component map with every ``comp`` of ``relabel`` (comp,
    newc) renamed to ``newc`` — persisted and materialized; the old map
    and ``relabel`` are freed."""
    new_comp = (
        comp_df.join(relabel, "comp", "left")
        .select("id", F.coalesce("newc", "comp").alias("comp"))
        .persist()
    )
    new_comp.count()
    comp_df.unpersist()
    _free(relabel)
    return new_comp


def _ckpt_last_round(spark, ckpt_dir: str) -> tuple[int, int] | None:
    """(last committed round, its n_comp) from the marker table, or
    None for a fresh directory. Markers are written after the round's
    state, so the max marker is always a fully-committed round."""
    from ffcl_spark.plans.checkpoint import _path_exists

    if not _path_exists(spark, f"{ckpt_dir}/meta"):
        return None
    rows = spark.read.parquet(f"{ckpt_dir}/meta").collect()
    if not rows:
        return None
    last = max(rows, key=lambda r: r["round"])
    return int(last["round"]), int(last["n_comp"])


def _merge_driver(rows) -> tuple[list[tuple], list[tuple]]:
    """Union-find merge of collected per-COMPONENT best edges (≤
    driver_cutoff rows — bounded by the component count, never by the
    point count). Returns (new MST edges, comp-relabel mapping) —
    reference ``UnionFind.hpp`` / merge step
    ``BoruvkasAlgorithm.hpp:140-176``."""
    round_edges = {(r["w"], r["a"], r["b"], r["ca"], r["cb"]) for r in rows}
    uf = UnionFind()
    edges: list[tuple] = []
    for w, a, b, ca, cb in sorted(round_edges):
        if uf.find(ca) != uf.find(cb):
            uf.merge(ca, cb)
            edges.append((a, b, w))
    # canonical new label per merged group = min old comp label
    mapping = uf.canonical({c for *_, ca, cb in round_edges for c in (ca, cb)})
    return edges, mapping


def _merge_distributed(best_df: DataFrame) -> tuple[DataFrame | None, DataFrame | None, int]:
    """DataFrame-side Borůvka merge — no driver state at any size.

    The distinct canonical chosen edges are cycle-free (module
    docstring), so ALL of them are MST edges. Component relabeling =
    connected components of the chosen-edge graph: each component
    points at its chosen partner; the only cycles are mutual pairs
    (rooted at their smaller label); pointer doubling then converges in
    ≤ log2(n_comp) self-joins. Returns (edge DataFrame (src, dst, w)
    carrying its checkpoint, relabel checkpoint (comp, newc), number of
    merges); (None, None, 0) when nothing merges.

    Kept over ``components.connected_components``: swapping it in gave
    equal weights but more Spark jobs on every measured fixture."""
    chosen = (
        best_df.select("e.w", "e.a", "e.b", "e.ca", "e.cb").distinct().localCheckpoint()
    )
    n_merges = chosen.count()
    if n_merges == 0:
        _free(chosen)
        return None, None, 0
    new_edges = carry(
        chosen.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w"), chosen
    )
    pointer = best_df.select(
        "q_comp",
        F.when(F.col("e.ca") == F.col("q_comp"), F.col("e.cb"))
        .otherwise(F.col("e.ca"))
        .alias("parent"),
    ).localCheckpoint()
    # root mutual pairs at their smaller label
    p2 = pointer.select(
        F.col("q_comp").alias("parent"), F.col("parent").alias("gparent")
    )
    parent = pointer.join(p2, "parent", "left").select(
        "q_comp",
        F.when(
            (F.col("gparent") == F.col("q_comp")) & (F.col("q_comp") < F.col("parent")),
            F.col("q_comp"),
        )
        .otherwise(F.col("parent"))
        .alias("parent"),
    ).localCheckpoint()
    _free(pointer)
    # pointer doubling to the roots
    for _ in range(64):  # ≥ log2 of any feasible component count
        hop = parent.select(
            F.col("q_comp").alias("parent"), F.col("parent").alias("gparent")
        )
        nxt = parent.join(hop, "parent").select(
            "q_comp", F.col("gparent").alias("parent")
        ).localCheckpoint()
        changed = (
            nxt.alias("n")
            .join(parent.alias("p"), "q_comp")
            .where(F.col("n.parent") != F.col("p.parent"))
        )
        done = changed.isEmpty()
        _free(parent)
        parent = nxt
        if done:
            break
    else:
        raise RuntimeError(
            "pointer doubling did not converge — chosen-edge graph has a "
            "cycle longer than 2, which the canonical symmetrized "
            "selection is supposed to exclude"
        )
    # canonical group label = min member (matches the driver merge rule)
    label = parent.groupBy("parent").agg(F.min("q_comp").alias("newc"))
    relabel = (
        parent.join(label, "parent")
        .where(F.col("q_comp") != F.col("newc"))
        .select(F.col("q_comp").alias("comp"), "newc")
        .localCheckpoint()
    )
    _free(parent)
    return new_edges, relabel, n_merges
