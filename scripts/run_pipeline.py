"""spark-submit entrypoint for the north-star pipeline.

Runs the spatial-join + tiling pipeline (media-span extraction → cell
index → exact kNN join → PIP tile assignment) over an interleaved-docs
parquet/Iceberg-layout table, chunk-checkpointed and idempotently
resumable, with per-chunk lineage + metrics (north_rule contract).

Cluster usage (the session builder only sets app-level SQL conf, so
submit-time master/executor settings apply unchanged):

    spark-submit --py-files ffcl_spark.zip scripts/run_pipeline.py \
        --docs s3://bucket/docs/ --out s3://bucket/out/ \
        --resolution 6 --k 5 --n-chunks 256

Local smoke (same code path):

    python scripts/run_pipeline.py --docs /root/testdata/sf0.001 \
        --out /tmp/pipe_out

A re-run with the same --out resumes: chunks recorded 'done' in the
lineage table are skipped (exactly-once per chunk). Metrics are
printed from the lineage table at the end.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ffcl_spark import EngineConfig, get_spark  # noqa: E402
from ffcl_spark.functions import cells as C  # noqa: E402
from ffcl_spark.operators import tiles as TL  # noqa: E402
from ffcl_spark.operators.knn_kernel import (  # noqa: E402
    hot_coarse_groups,
    knn_join_grid,
    knn_resolution,
)
from ffcl_spark.plans.checkpoint import job_metrics, run_checkpointed  # noqa: E402
from ffcl_spark.sources.docs import synth_docs  # noqa: E402
from ffcl_spark.sources.points import media_points, with_cell  # noqa: E402


def knn_stage(refs, k: int, cfg: EngineConfig):
    """Stage 2's per-chunk op: the chunk's points kNN-joined against
    every point of ``refs``. The refs' hot coarse groups are found once
    here, not rescanned per chunk (round-3 ADVICE). Each chunk's result
    carries the kernel output it reads; ``run_checkpointed`` releases
    it after the chunk's write."""
    hot = hot_coarse_groups(refs, cfg)
    return lambda d: knn_join_grid(d.select("id", "x", "y"), refs, k, cfg, hot_groups=hot)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--docs", required=True, help="input dir: documents.parquet (interleaved docs or synthesis source)")
    ap.add_argument("--out", required=True, help="output root (points/, knn/, tiles/, _ckpt/)")
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--resolution", type=int, default=None, help="grid resolution (default: auto from row count)")
    ap.add_argument("--tile-side", type=float, default=6.0)
    ap.add_argument("--n-chunks", type=int, default=16)
    ap.add_argument("--job-id", default="pipeline")
    ap.add_argument(
        "--min-tokens", type=int, default=None,
        help="quality gate: drop docs with fewer whitespace tokens",
    )
    ap.add_argument(
        "--max-dup-span-frac", type=float, default=None,
        help="quality gate: drop docs whose repeated-trigram token coverage exceeds this",
    )
    ap.add_argument(
        "--publish-index", action="store_true",
        help="also publish the cell-partitioned point index at <out>/point_index",
    )
    ap.add_argument(
        "--publish-geo-index", action="store_true",
        help="also publish the spherical-cell geodesic index at <out>/geo_index",
    )
    args = ap.parse_args(argv)

    spark = get_spark(app_name=f"ffcl_pipeline:{args.job_id}")

    src = spark.read.parquet(f"{args.docs}/documents.parquet")
    docs = synth_docs(src, "doc_id", "text") if "spans" not in src.columns else src

    # optional quality admission gate over the flattened text — same
    # rules as the streaming ingest (textops._QUALITY_RULES)
    rules = {}
    if args.min_tokens is not None:
        rules["min_tokens"] = args.min_tokens
    if args.max_dup_span_frac is not None:
        rules["max_dup_span_frac"] = args.max_dup_span_frac
    if rules:
        from ffcl_spark.operators.textops import quality_filter
        from ffcl_spark.streaming.dedup import content_keys

        passing = quality_filter(content_keys(docs), rules).select("doc_id")
        docs = docs.join(passing, "doc_id", "left_semi")

    pts = media_points(docs)
    n_pts = pts.count()
    cfg = (
        EngineConfig(resolution=args.resolution)
        if args.resolution is not None
        else knn_resolution(n_pts, args.k, EngineConfig())
    )
    pts = with_cell(pts, cfg).persist()
    pts.count()

    out, ck = args.out.rstrip("/"), f"{args.out.rstrip('/')}/_ckpt"
    pts_xy = pts.select("id", "x", "y", "cell")
    tiles = TL.grid_tiles(spark, cfg, side=args.tile_side)

    # stage 1: indexed points (the narrow working set, partitioned by chunk)
    run_checkpointed(
        spark, pts_xy, lambda d: d, F.col("cell"), args.n_chunks,
        f"{out}/points", ck, job_id=f"{args.job_id}:points",
    )
    # stage 2: exact kNN self-join per chunk of QUERIES (refs = full set:
    # result rows of a query depend only on the query's chunk, so chunked
    # execution is exact and resumable)
    run_checkpointed(
        spark, pts_xy, knn_stage(pts_xy, args.k, cfg),
        F.col("cell"), args.n_chunks, f"{out}/knn", ck, job_id=f"{args.job_id}:knn",
    )
    # stage 3: PIP tile assignment
    run_checkpointed(
        spark, pts_xy, lambda d: TL.pip_join(d.select("id", "x", "y"), tiles, cfg),
        F.col("cell"), args.n_chunks, f"{out}/tiles", ck, job_id=f"{args.job_id}:tiles",
    )

    if args.publish_index:
        # publish the queryable index at rest (box/radius/kNN probes
        # partition-prune to their covered cells)
        from ffcl_spark.sources.points import write_point_index

        write_point_index(pts.select("id", "doc_id", "offset", "x", "y"),
                          f"{out}/point_index", cfg)

    if args.publish_geo_index:
        # the geodesic twin: the same coordinates mapped onto the
        # sphere (lat = 3x ∈ [-90, 90], lon = 6y ∈ [-180, 180] — the
        # engine-wide doc→globe convention), partitioned by
        # latitude-band cell so great-circle radius/kNN probes
        # partition-prune to their spherical-cap cover
        from ffcl_spark.sources.geo_index import write_geo_index

        write_geo_index(
            pts.select(
                "id",
                (F.col("x") * 3).alias("lat"),
                (F.col("y") * 6).alias("lon"),
            ),
            f"{out}/geo_index",
        )

    m = job_metrics(spark, ck, f"{args.job_id}:knn").agg(
        F.count(F.lit(1)).alias("chunks"),
        F.sum("rows_in").alias("rows_in"),
        F.sum("rows_out").alias("rows_out"),
        F.sum("wall_ms").alias("wall_ms"),
    ).collect()[0]
    print(
        f"done: {n_pts} points; knn chunks={m['chunks']} rows_out={m['rows_out']} "
        f"wall_ms={m['wall_ms']}; outputs under {out}/ (points, knn, tiles; lineage in _ckpt)"
    )
    spark.stop()


if __name__ == "__main__":
    main()
