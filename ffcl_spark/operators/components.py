"""Distributed connected components over an edge DataFrame.

The label-emission backbone for the hierarchy operators (single-linkage
cut, HDBSCAN flat labels): cluster membership of every point is the
connected component of a filtered MST edge set, so emission is one CC
computation + broadcast-joined cluster metadata — no point-count rows
ever touch the driver (round-3 VERDICT task #3).

Algorithm: min-label star contraction with full path compression —
per outer round:

1. *hook*: ``c[v] = min(v, min neighbor)`` — a forest whose pointers
   strictly decrease, rooted at local minima;
2. *compress*: pointer-double ``c ← c∘c`` until idempotent (≤ ⌈log₂
   depth⌉ rounds), so every vertex maps to its root;
3. *contract*: rewrite edges through ``c`` and drop self-loops — each
   tree of the forest collapses to one supernode (a path/MST chain
   collapses in ONE round, the case where plain hash-to-min needs O(n)
   rounds);
4. compose ``c`` into the cumulative id→label map.

A root that becomes isolated is its component's minimum (were a
smaller label elsewhere in the component, contraction would have kept
a connecting edge), so when the edge set empties the map is final.
Outer rounds are O(log n): surviving vertices are the hook-forest
roots, a strictly-decreasing-pointer independent set. Every relation
is localCheckpointed per round to truncate lineage and freed once
superseded; the final map's checkpoint rides the result as a carried
handle, which the label stages carry on to their output for
``plans.cache.release``. Borůvka's per-round merge
(``boruvka._merge_distributed``) keeps its own pointer doubling: with
this function in its place the weights were equal but every measured
fixture ran more Spark jobs.

The reference's union-find (``UnionFind.hpp:11-79``) is inherently
sequential; this is its shuffle-parallel equivalent, with the min-id
root convention matching the engine's canonical labels everywhere
(DBSCAN, Borůvka merges, the per-cell NumPy kernel in
``operators.dbscan.local_components``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    ids: DataFrame, edges: DataFrame, max_rounds: int = 64
) -> DataFrame:
    """(id, comp): min-member-id connected components of the undirected
    graph ``edges`` (columns src, dst) over the vertex universe ``ids``
    (column id). Vertices with no incident edge are their own
    component. Deterministic at any parallelism (min is order-free)."""
    from ffcl_spark.plans.cache import carry
    from ffcl_spark.plans.stats import free_checkpoint

    comp = ids.select("id", F.col("id").alias("comp")).localCheckpoint()
    E = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        if E.isEmpty():
            # superseded checkpoints were freed per round below; the
            # edge frame dies here, and the final comp checkpoint rides
            # as a carried handle so callers' release() frees it
            free_checkpoint(E)
            return carry(comp, comp)
        sym = E.unionByName(E.select(F.col("b").alias("a"), F.col("a").alias("b")))
        # hook: min-pointer forest over the current supernodes
        step = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select(F.col("a").alias("v"), F.least("a", "mb").alias("c"))
            .localCheckpoint()
        )
        # compress: two doubling hops per materialization (c ← (c∘c)∘
        # (c∘c)), so each checkpointed round covers 4× chain depth with
        # the same two Spark jobs — these tiny-relation rounds are pure
        # job latency on the hierarchy gates. Fixpoint test: m₂ == m₄
        # pointwise ⇒ m₂ is idempotent ⇒ every pointer reached its
        # root. (c is always itself a hooked vertex: self-joins total.)
        ckpt_step = step  # the checkpoint currently backing `step`
        while True:
            m2 = step.join(
                step.select(F.col("v").alias("c"), F.col("c").alias("cc")), "c"
            ).select("v", F.col("cc").alias("c"))
            nxt = (
                m2.join(
                    m2.select(F.col("v").alias("c"), F.col("c").alias("cc")), "c"
                )
                .select("v", F.col("c").alias("oc"), F.col("cc").alias("c"))
                .localCheckpoint()
            )
            # nxt is materialized (eager checkpoint) — the previous
            # step's checkpoint is superseded; free it now instead of
            # waiting on GC + ContextCleaner (deterministic memory)
            free_checkpoint(ckpt_step)
            ckpt_step = nxt
            step = nxt.select("v", "c")
            if nxt.where(F.col("oc") != F.col("c")).isEmpty():
                break
        # compose into the cumulative map (vertices already contracted
        # away in earlier rounds keep their label via the left join)
        old_comp = comp
        comp = (
            comp.join(
                step.select(F.col("v").alias("comp"), F.col("c").alias("nc")),
                "comp",
                "left",
            )
            .select("id", F.coalesce("nc", "comp").alias("comp"))
            .localCheckpoint()
        )
        free_checkpoint(old_comp)
        # contract: each hook tree becomes one supernode
        old_E = E
        E = (
            E.join(step.select(F.col("v").alias("a"), F.col("c").alias("ca")), "a")
            .join(step.select(F.col("v").alias("b"), F.col("c").alias("cb")), "b")
            .select(
                F.least("ca", "cb").alias("a"), F.greatest("ca", "cb").alias("b")
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        free_checkpoint(old_E)
        # the round's pointer forest served both consumers above
        free_checkpoint(ckpt_step)
    raise RuntimeError(
        "connected_components did not converge within max_rounds — star "
        "contraction removes every non-root supernode per round, so this "
        "indicates a graph far beyond the supported size, not a data issue"
    )
