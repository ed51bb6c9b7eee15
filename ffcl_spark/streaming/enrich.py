"""Streaming spatial enrichment: kNN-join a document stream against a
static indexed reference set.

The north-star deployment ingests interleaved documents continuously;
each arriving document's media points need their k nearest reference
points (tile anchors, centroids, an embedding index's coarse cells)
attached at ingest time. This module is the streaming face of the
batch grid kNN: a file-drop stream of docs parquet is drained through
``foreachBatch``, and every micro-batch runs the IDENTICAL batch plan
(``knn_join_grid`` against the same cached reference set), so

- stream results == batch results by construction (no reimplemented
  join semantics to drift; parity pinned in pytest), and
- state is O(reference set), not O(stream): the only long-lived
  operator state is Spark's file-source log of consumed files — the
  kNN itself is stateless per batch, the scale contract an unbounded
  ingest needs.

Exactly-once: the checkpointLocation dedups source files across
restarts, and each epoch writes to a distinct ``epoch=<id>`` parquet
subdirectory (an interrupted epoch is rewritten whole on replay —
idempotent, same discipline as ``plans.checkpoint``).

The reference has no streaming at all (SURVEY.md §2.10); this is an
engine extension in the same family as ``streaming.events`` /
``streaming.sessions``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ffcl_spark.config import EngineConfig
from ffcl_spark.sources.docs import DOCS_SCHEMA


def read_docs_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-drop source of interleaved-docs parquet: any file landing
    under ``path`` is consumed exactly once. ``max_files_per_trigger``
    bounds each micro-batch (availableNow then drains the backlog as a
    SEQUENCE of epochs instead of one giant batch — the shape a
    long-running ingest actually runs, and what the multi-epoch leak
    test exercises)."""
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def knn_enrich_stream(
    docs_stream: DataFrame,
    refs: DataFrame,
    k: int,
    cfg: EngineConfig,
    out_dir: str,
    ckpt_dir: str,
):
    """Start (availableNow) the enrichment stream: per micro-batch,
    extract the batch's media points and kNN-join them against the
    static ``refs`` point set with the production grid plan; append the
    result to ``out_dir/epoch=<id>/``. Returns the drained query.

    ``refs`` should be cached by the caller when the stream runs more
    than one epoch — the reference side of every micro-batch is the
    same DataFrame, and re-reading it per epoch is the one avoidable
    cost in the loop.
    """
    from ffcl_spark.operators.knn_kernel import hot_coarse_groups, knn_join_grid
    from ffcl_spark.plans.stats import free_checkpoint_tree
    from ffcl_spark.sources.points import media_points

    # the reference side is static across every micro-batch: detect hot
    # coarse groups ONCE here instead of paying a full ref-count
    # aggregation per epoch (the run_pipeline.py:95 discipline)
    hot = hot_coarse_groups(refs, cfg)

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        qs = media_points(batch_df)
        # checkpoint=True: iterative caller — the kernel's persisted
        # intermediates are released before return, so a long-running
        # stream never accumulates cached partitions across epochs
        # (round-4 ADVICE: the default leaves them for the caller to
        # release, which a fire-and-forget handler never does)
        out = knn_join_grid(qs, refs, k, cfg, checkpoint=True, hot_groups=hot)
        out.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")
        # the returned rows are themselves localCheckpointed (one or
        # more LogicalRDD leaves after escalation rounds); drop their
        # blocks deterministically now that the epoch is on disk —
        # GC + ContextCleaner timing is not a release strategy for an
        # unbounded stream (the streaming-dedup discipline)
        free_checkpoint_tree(out)

    q = (
        docs_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def geo_enrich_stream(
    docs_stream: DataFrame,
    tiles: DataFrame,
    out_dir: str,
    ckpt_dir: str,
    *,
    max_dist_m: float | None = None,
    points_fn=None,
):
    """Start (availableNow) geodesic tile-assignment enrichment: per
    micro-batch, map the batch's media points onto the sphere and
    attach each point's nearest spherical tile (exact great-circle
    boundary distance, 0 inside) — the streaming face of
    ``operators.geo.geo_nearest_tile``.

    Stateless per batch and MAP-ONLY per epoch: the tile frames are
    computed ONCE here and closed over the handler (the
    ``hot_coarse_groups`` hoisting discipline — a static tile set is
    never re-collected per epoch), the kernel persists nothing, so
    executor state stays O(tiles) for the life of the stream. Epoch
    output lands in ``out_dir/epoch=<id>`` (idempotent overwrite on
    replay, same discipline as ``knn_enrich_stream``).

    ``points_fn`` maps a docs micro-batch to an (id, lat, lon) frame;
    the default extracts media points under the engine's worldwide
    test mapping lat = 3x, lon = 6y.
    """
    from pyspark.sql import functions as F

    from ffcl_spark.operators.geo import geo_nearest_tile, nearest_tile_locals
    from ffcl_spark.sources.points import media_points

    tile_locals = nearest_tile_locals(tiles)
    if points_fn is None:

        def points_fn(batch: DataFrame) -> DataFrame:
            p = media_points(batch)
            return p.select(
                "id",
                (F.col("x") * 3).alias("lat"),
                (F.col("y") * 6).alias("lon"),
            )

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = geo_nearest_tile(
            points_fn(batch_df),
            None,
            max_dist_m=max_dist_m,
            tile_locals=tile_locals,
        )
        out.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")

    q = (
        docs_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def geo_index_stream(
    docs_stream: DataFrame,
    store_dir: str,
    ckpt_dir: str,
    *,
    delta_deg: float | None = None,
    points_fn=None,
):
    """Start (availableNow) streaming ingest INTO the geodesic point
    index at rest: each micro-batch's points land as an
    ``epoch=<batch id>`` append under the store's spherical-cell
    partitioning, so the continuously-built store serves the same
    partition-pruned radius/kNN/box probes as a batch-built one — the
    production loop (stream → queryable store → probes) closed.

    Per-epoch discipline (the ``streaming.dedup`` store contract):

    - the append is a DYNAMIC partition overwrite of exactly this
      epoch's subpartitions — an interrupted or replayed epoch
      rewrites itself whole, idempotent;
    - one shuffle per epoch (``repartition("cell")`` inside the
      append), one file per touched (cell, epoch) — executor state is
      ZERO between epochs, nothing persists;
    - the sidecar row count is NOT refreshed per epoch (that would be
      an O(store) scan per micro-batch); a stale count only widens the
      kNN probe's start radius. Call ``geo_index.append_geo_index``
      with ``refresh_n=True`` (or any manual refresh) after a drain if
      probe round counts matter.

    Grid immutability: the band height is fixed at store creation. On
    first use the store is created here — from ``delta_deg`` if given,
    else density-auto from the FIRST batch (documented caveat: a long
    ingest whose eventual corpus dwarfs its first batch should pass
    ``delta_deg`` explicitly; `auto_delta_deg(expected_n)` gives the
    right value). Creation is deterministic, so a replayed first epoch
    recreates the identical grid.
    """
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from ffcl_spark.sources.geo_index import append_geo_index, auto_delta_deg
    from ffcl_spark.sources.points import media_points

    if points_fn is None:

        def points_fn(batch: DataFrame) -> DataFrame:
            p = media_points(batch)
            return p.select(
                "id",
                (F.col("x") * 3).alias("lat"),
                (F.col("y") * 6).alias("lon"),
            )

    meta_path = f"{store_dir}/meta.json".replace("file:", "")

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        pts = points_fn(batch_df)
        if not _os.path.exists(meta_path):
            d = delta_deg if delta_deg is not None else auto_delta_deg(pts.count())
            _os.makedirs(_os.path.dirname(meta_path), exist_ok=True)
            with open(meta_path, "w") as f:
                _json.dump({"delta_deg": d, "n": 0}, f)
        append_geo_index(pts, store_dir, int(epoch_id), refresh_n=False)

    q = (
        docs_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
