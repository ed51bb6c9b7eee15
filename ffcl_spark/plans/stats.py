"""Plan statistics and hot-key salting — the engine's one reader of
Catalyst's plan statistics and its one skew helper.

Operators pick physical plans from two statistics, both read off the
optimized logical plan without running a job:

- :func:`exact_row_count` — a row count only where the plan knows it
  exactly. It lets an operator skip a detection or sizing job.
- :func:`plan_size_bytes` — Catalyst's size estimate, used to choose
  a join's build side against :func:`broadcast_threshold_bytes`.

Both read a fresh projection's plan (:func:`_fresh_plan`): a frame's
own QueryExecution memoizes its plan, so one read before ``persist()``
would never see the cache. :func:`row_count` is the sizing count.

Skew: :func:`hot_keys` finds the join keys holding more rows than a
threshold; :func:`salt_hot_keys` spreads the refs of those keys over
sub-keys (hash of id) and fans the queries of those keys out to all
of them, so one hot key becomes ``salt_buckets`` evenly sized keys
instead of one straggler task. The hot set is per-key metadata
(bounded by the key space, not by data), collected to the driver once
and applied as a literal ``isin`` — no extra join, no cached lineage.
Salting changes the physical grouping only, never the result.

Checkpoint release: :func:`is_checkpointed`, :func:`free_checkpoint`
and :func:`free_checkpoint_tree` find the ``LogicalRDD`` leaves that
``localCheckpoint`` leaves in a plan and unpersist their RDDs at once,
instead of waiting on GC and the ContextCleaner.

Every reader here walks Spark's JVM plan classes through py4j. Their
names and accessors are those of Spark 3 and 4 (``_PLAN_API_MAJORS``).
On any other major version the walks are skipped: the statistics read
as unknown (the detection jobs run), and checkpoint blocks are left to
the ContextCleaner. Results never depend on them.
"""

from __future__ import annotations

import pyspark
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ffcl_spark.config import EngineConfig

# row-preserving single-child wrappers walked down to the leaf — a
# column selection over a cached frame is the common caller shape,
# and the size-only stats visitor drops rowCount at them
_ROW_PRESERVING = ("Project", "SubqueryAlias")

_PLAN_API_MAJORS = (3, 4)
_PLAN_WALKS = int(pyspark.__version__.split(".")[0]) in _PLAN_API_MAJORS


def _fresh_plan(df: DataFrame):
    # a new QueryExecution, planned against the cache as it is now
    return df.select("*")._jdf.queryExecution().optimizedPlan()


def exact_row_count(df: DataFrame) -> int | None:
    """The number of rows of ``df`` when its plan knows it exactly;
    None otherwise. Never runs a job.

    Exact leaves only, reached through Project/SubqueryAlias: a
    ``LocalRelation`` (its rows are in the plan) or an
    ``InMemoryRelation`` whose every partition is cached (the cache
    builder counted the rows as it filled them). A CBO/ANALYZE
    ``rowCount`` is never trusted: catalog statistics go stale when
    files change under the table, and a stale small count would switch
    the skew defences off."""
    if not _PLAN_WALKS:
        return None
    try:
        node = _fresh_plan(df)
        name = node.getClass().getSimpleName()
        while name in _ROW_PRESERVING and node.children().size() == 1:
            node = node.children().apply(0)
            name = node.getClass().getSimpleName()
        if name == "LocalRelation":
            return int(node.data().size())
        if name == "InMemoryRelation":
            builder = node.cacheBuilder()
            if builder.isCachedColumnBuffersLoaded():
                return int(builder.rowCountStats().value())
    except Py4JError:  # pragma: no cover - plan shape of another Spark version
        pass
    return None


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's own size estimate for a plan (no job is run). Used to
    pick join strategies deliberately (guide §3.1) instead of letting
    bad post-Generate estimates broadcast an exploded side."""
    if not _PLAN_WALKS:
        return 1 << 62
    try:
        return int(_fresh_plan(df).stats().sizeInBytes())
    except Py4JError:  # pragma: no cover - py4j edge
        return 1 << 62


def row_count(df: DataFrame) -> int:
    """Rows of ``df``: :func:`exact_row_count`, else a count of a fresh
    ``lit(1)`` projection's RDD, which reads a persisted frame's cache.
    On a one-stage frame under AQE that is 1 job and 1 stage, where
    ``DataFrame.count()`` runs 2 jobs and 3 stages."""
    if not _PLAN_WALKS:
        return df.count()
    n = exact_row_count(df)
    return n if n is not None else int(df.select(F.lit(1))._jdf.queryExecution().toRdd().count())


def broadcast_threshold_bytes(df: DataFrame) -> int:
    try:
        return int(df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    except ValueError:  # pragma: no cover - non-numeric spelling
        return 10 * 1024 * 1024


def hot_keys(df: DataFrame, key: str, threshold: int) -> list:
    """Values of column ``key`` held by more than ``threshold`` rows of
    ``df`` — one aggregation job, skipped outright when the exact row
    count of ``df`` is at or below the threshold (no key can be hot)."""
    rc = exact_row_count(df)
    if rc is not None and rc <= threshold:
        return []
    return [
        row[key]
        for row in df.groupBy(key)
        .count()
        .where(F.col("count") > threshold)
        .select(key)
        .collect()
    ]


def salt_hot_keys(
    q: DataFrame, r: DataFrame, cfg: EngineConfig
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Salt the ``cell`` keys holding more than ``cfg.hot_cell_rows``
    refs. Refs of a hot cell scatter over ``cfg.salt_buckets`` sub-keys
    by a hash of ``r_id``; queries of a hot cell fan out to every
    sub-key. Returns ``(q, r, join_keys)``; with no hot cell the inputs
    come back unchanged and the join key is ``cell`` alone."""
    hot = hot_keys(r, "cell", cfg.hot_cell_rows)
    if not hot:
        return q, r, ["cell"]
    nbuckets = cfg.salt_buckets
    is_hot = F.col("cell").isin(hot)
    r = r.withColumn(
        "salt",
        F.when(is_hot, F.pmod(F.xxhash64(F.col("r_id")), F.lit(nbuckets))).otherwise(
            F.lit(0)
        ),
    )
    q = q.withColumn(
        "salt",
        F.explode(
            F.when(is_hot, F.sequence(F.lit(0), F.lit(nbuckets - 1))).otherwise(
                F.array(F.lit(0))
            )
        ),
    )
    return q, r, ["cell", "salt"]


def is_checkpointed(df: DataFrame) -> bool:
    """True when ``df`` is a localCheckpointed frame (its analyzed plan
    is a ``LogicalRDD``). Its RDD-level persist is invisible to
    ``DataFrame.storageLevel``, which consults only the CacheManager."""
    if not _PLAN_WALKS:
        return False
    plan = df._jdf.queryExecution().analyzed()
    return plan.getClass().getName().endswith(".LogicalRDD")


def free_checkpoint(df: DataFrame) -> None:
    """Deterministically unpersist a localCheckpointed frame's RDD.

    ``DataFrame.unpersist`` reaches only CacheManager entries; the
    checkpoint's RDD-level persist is invisible to it and otherwise
    waits on GC + ContextCleaner, which can lag minutes on a busy
    driver (observed: surviving checkpoint RDDs per streaming epoch in
    the full test suite). A checkpointed frame's analyzed plan is a
    ``LogicalRDD`` whose ``rdd()`` IS the persisted RDD — note
    ``toRdd()`` is NOT (it returns a derived, unpersisted RDD).
    No-op for non-checkpointed frames."""
    if is_checkpointed(df):
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def free_checkpoint_tree(df: DataFrame, selection_only: bool = False) -> None:
    """Deterministically unpersist EVERY localCheckpoint in ``df``'s
    analyzed plan — a union of checkpointed levels (the grid kNN's
    grid and straggler passes, the expanding-radius joins) holds several
    LogicalRDD leaves, which single-frame :func:`free_checkpoint`
    cannot reach. For epoch-scoped results a streaming handler has
    already written out: the caller must own every checkpoint in the
    plan, and the frame is not collectable afterwards (truncated
    lineage).

    ``selection_only``: free nothing unless ``df`` only selects rows of
    its checkpoints (Union, Project and Filter above LogicalRDD
    leaves). For kNN results that are either checkpointed (the grid
    plan) or a lazy plan over the caller's input (the n-D closure and
    blocked plans), whose checkpoints are not the caller's to free."""
    if not _PLAN_WALKS:
        return
    leaves = []
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "LogicalRDD":
            leaves.append(node)
        elif selection_only and name not in ("Union", "Filter", *_ROW_PRESERVING):
            return
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    for leaf in leaves:
        leaf.rdd().unpersist(False)
