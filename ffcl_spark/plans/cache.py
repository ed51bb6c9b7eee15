"""Cache hand-off between operators and their callers.

One rule: an operator whose plan materializes an intermediate (the
kNN joins' persisted kernel output, a localCheckpointed round)
returns a view over it, and the intermediate rides on the returned
DataFrame (:func:`carry`). The caller's action reads the cache, with
no second materialization; when the caller is done with the result it
calls :func:`release`, which frees every carried intermediate, cached
frames and checkpoints alike. Iterative callers (Borůvka's passes,
per-epoch stream handlers, per-chunk pipelines) release each result
once nothing they still read derives from it. A released frame must
not be collected again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ffcl_spark.plans.stats import free_checkpoint, is_checkpointed


def carry(out: DataFrame, *cached: DataFrame) -> DataFrame:
    """Attach persisted upstream handles to ``out`` for later release.
    Handles already carried by the inputs are merged in; a frame that
    is neither cached nor localCheckpointed is not attached.

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
