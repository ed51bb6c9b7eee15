"""Cache hand-off between operators and one-shot callers.

Operators whose physical plan materializes an intermediate (the
cogrouped kernel output of the kNN joins) have two kinds of callers:

- ITERATIVE callers (Borůvka's escalation rounds) pass
  ``checkpoint=True``: intermediates are locally checkpointed and
  unpersisted before return, so repeated calls never accumulate cached
  partitions — at the cost of one extra materialization per call.
- ONE-SHOT callers (bench stages, gate queries) take the default
  ``checkpoint=False``: the intermediate stays persisted and the
  returned DataFrame reads it; the caller's single action is a cache
  read, with no second materialization. The persisted handles ride on
  the returned DataFrame — call :func:`release` when done (benchmark
  reps must, so rep 2 measures the operator, not the cache).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ffcl_spark.plans.stats import free_checkpoint, is_checkpointed


def carry(out: DataFrame, *cached: DataFrame) -> DataFrame:
    """Attach persisted upstream handles to ``out`` for later release.
    Handles already carried by the inputs are merged in.

    localCheckpointed frames are attached too: their RDD-level persist
    is invisible to ``DataFrame.storageLevel`` (it consults only the
    CacheManager), so the level test alone would silently drop them
    and ``release`` could never free the checkpoint blocks — they
    would wait on GC + ContextCleaner timing, the nondeterminism the
    streaming no-growth tests guard against."""
    handles = []
    for c in cached:
        handles.extend(getattr(c, "_ffcl_cached", ()))
        if (
            c.storageLevel.useMemory
            or c.storageLevel.useDisk
            or is_checkpointed(c)
        ):
            handles.append(c)
    out._ffcl_cached = handles
    return out


def release(df: DataFrame) -> None:
    """Unpersist every cached intermediate carried by ``df`` — both
    CacheManager entries and checkpoint RDDs (no-op for DataFrames
    without carried handles). A released frame must not be collected
    again: checkpointed handles have truncated lineage and cannot be
    recomputed once their blocks are dropped."""
    for c in getattr(df, "_ffcl_cached", ()):
        c.unpersist()
        free_checkpoint(c)
    df._ffcl_cached = []
