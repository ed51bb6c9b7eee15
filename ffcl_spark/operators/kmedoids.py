"""Distributed k-medoids (PAM BUILD + FasterPAM swaps).

Reference pipeline: ``KMedoids.hpp:153-230`` (n_init tries, FasterPAM
``step()`` per iteration, min-loss run kept), ``FasterPAM.hpp:137-201``
(eager swap), ``PAMBuild.hpp`` (greedy init). The reference is a
single-process solver over an in-memory pairwise-distance matrix; the
distributed form is the standard CLARA decomposition [Kaufman &
Rousseeuw 1990, ch. 3]:

- solve PAM exactly on a DETERMINISTIC seeded-hash sample on the
  driver (``kernels.pam`` — the reference-semantics kernel). When the
  sample covers the whole input this IS exact PAM;
- broadcast the k medoids as literal expressions; assignment and the
  full-data total deviation are pure JVM column expressions (one scan,
  partial aggregation — no shuffle of the big side);
- ``n_init`` tries draw disjoint hash strata; the run with the lowest
  FULL-DATA total deviation wins (CLARA's selection rule, mirroring
  ``KMedoids.hpp:204-230``).

Medoids are actual data points, so labels are canonical (the medoid's
own id) — deterministic at any parallelism.

``kmedoids_per_cell`` is the partitioned variant: an Arrow-batched
per-cell kernel (grid cell = the engine's partitioning unit) emitting
k local medoids per cell — the building block for coreset-style
two-level medoid pipelines at 100 TB (cell medoids → global PAM over
the ≤ k·cells summary).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ffcl_spark.config import EngineConfig
from ffcl_spark.kernels.pam import pam


def _matrix_of(pdf: pd.DataFrame, vec_col: str | None) -> np.ndarray:
    if vec_col is None:
        return pdf[["x", "y"]].to_numpy(dtype=np.float64)
    return np.array(pdf[vec_col].tolist(), dtype=np.float64)


def _assign_expr(
    med_coords: np.ndarray,
    med_ids: list,
    id_type,
    vec_col: str | None,
    metric: str = "euclidean",
):
    """Sorted (distance key, medoid id) struct array as a pure column
    expression; [0] = assignment, [1] = second-nearest (for the MSC
    loss); ties at equal distance break toward the smaller medoid id
    (engine determinism rule). The ``d2`` field is the squared
    euclidean distance or the L1 distance — both monotone with the
    true metric, so the argmin assignment matches the PAM kernel for
    either metric."""
    if metric not in ("euclidean", "manhattan"):
        raise ValueError(f"unknown metric {metric!r}")
    structs = []
    for mid, c in sorted(zip(med_ids, med_coords.tolist())):
        if vec_col is None:
            if metric == "euclidean":
                d2 = (F.col("x") - float(c[0])) * (F.col("x") - float(c[0])) + (
                    F.col("y") - float(c[1])
                ) * (F.col("y") - float(c[1]))
            else:
                d2 = F.abs(F.col("x") - float(c[0])) + F.abs(F.col("y") - float(c[1]))
        else:
            lit = F.array(*[F.lit(float(v)) for v in c])
            if metric == "euclidean":
                d2 = F.aggregate(
                    F.zip_with(F.col(vec_col), lit, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            else:
                d2 = F.aggregate(
                    F.zip_with(F.col(vec_col), lit, lambda a, b: F.abs(a - b)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
        # named_struct: alias-derived field names on lambda-bearing
        # expressions are unreliable under Catalyst canonicalization
        structs.append(
            F.named_struct(
                F.lit("d2"), d2, F.lit("mid"), F.lit(mid).cast(id_type)
            )
        )
    return F.sort_array(F.array(*structs))


def _true_dist(key, metric: str):
    """Distance from the sort key: sqrt for squared-euclidean, identity
    for L1 (already the true distance)."""
    return F.sqrt(key) if metric == "euclidean" else key


def _loss_expr(arr, algorithm: str, metric: str = "euclidean"):
    """Full-data loss for one run: total deviation (fasterpam) or
    Σ d1/d2 medoid-silhouette loss (fastermsc, ``common::division``
    zero-guard) — in the run's metric."""
    if algorithm == "fasterpam":
        return _true_dist(arr[0]["d2"], metric)
    d1 = _true_dist(arr[0]["d2"], metric)
    d2 = _true_dist(arr[1]["d2"], metric)
    return F.when(d2 > 0, d1 / d2).otherwise(F.lit(0.0))


def kmedoids(
    points: DataFrame,
    k: int,
    n_init: int = 1,
    sample_rows: int = 20_000,
    seed: int = 7,
    metric: str = "euclidean",
    init: str = "build",
    max_passes: int = 100,
    vec_col: str | None = None,
    algorithm: str = "fasterpam",
) -> tuple[list, float, DataFrame]:
    """Returns (medoid ids, full-data loss — total deviation for
    fasterpam, Σ d1/d2 for fastermsc — and a labels DataFrame
    (id, label) with label = assigned medoid's id)."""
    id_type = points.schema["id"].dataType
    cols = ["id", "x", "y"] if vec_col is None else ["id", vec_col]
    pts = points.select(*cols)
    n = pts.count()
    m = max(1, math.ceil(n / sample_rows))
    best = None
    for trial in range(n_init):
        basis = pts
        if m > 1:
            # disjoint deterministic strata per trial (CLARA draws a
            # fresh sample per try, KMedoids.hpp:166-171)
            basis = pts.where(
                F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(m))
                == trial % m
            )
        pdf = basis.toPandas().sort_values("id").reset_index(drop=True)
        mat = _matrix_of(pdf, vec_col)[:sample_rows]
        ids = pdf["id"].to_numpy()[:sample_rows]
        med_rows, _ = pam(
            mat, k, metric=metric, init=init, seed=seed + trial,
            max_passes=max_passes, algorithm=algorithm,
        )
        med_ids = [ids[r].item() if hasattr(ids[r], "item") else ids[r] for r in med_rows]
        med_coords = mat[med_rows]
        # full-data loss, one JVM scan — in the run's metric
        arr = _assign_expr(med_coords, med_ids, id_type, vec_col, metric)
        td = pts.select(_loss_expr(arr, algorithm, metric).alias("d")).agg(F.sum("d")).collect()[0][0]
        if best is None or td < best[1]:
            best = (med_ids, float(td), med_coords)
    med_ids, td, med_coords = best
    arr = _assign_expr(med_coords, med_ids, id_type, vec_col, metric)
    labels = pts.select("id", arr[0]["mid"].alias("label"))
    return med_ids, td, labels


def kmedoids_per_cell(
    points: DataFrame,
    k: int,
    cfg: EngineConfig,
    metric: str = "euclidean",
    vec_col: str | None = None,
    axes: tuple[int, int] = (0, 1),
    algorithm: str = "fasterpam",
) -> DataFrame:
    """(cell, medoid_id, local_td): k PAM medoids per grid cell —
    Arrow-batched kernel, reference semantics per cell. The output is
    per-cell metadata (≤ k rows/cell), the coreset for a two-level
    global solve."""
    from ffcl_spark.functions import cells as C

    id_type = points.schema["id"].dataType
    if vec_col is None:
        sel = points.select(
            "id", "x", "y", C.cell_id(F.col("x"), F.col("y"), cfg).alias("cell")
        )
    else:
        from ffcl_spark.operators.search_nd import _proj

        v = F.col(vec_col)
        sel = points.select(
            "id",
            F.col(vec_col).cast("array<double>").alias(vec_col),
            C.cell_id(_proj(v, axes[0]), _proj(v, axes[1]), cfg).alias("cell"),
        )

    out_schema = T.StructType(
        [
            T.StructField("cell", T.LongType()),
            T.StructField("medoid_id", id_type),
            T.StructField("local_td", T.DoubleType()),
            T.StructField("weight", T.LongType()),
        ]
    )

    def kernel(key, pdf):
        from ffcl_spark.kernels.neighbors import pairwise_fold_nd

        pdf = pdf.sort_values("id").reset_index(drop=True)
        mat = _matrix_of(pdf, vec_col)
        med_rows, td = pam(mat, k, metric=metric, init="build", algorithm=algorithm)
        # weight = members per local medoid (ties toward the smaller
        # medoid id — rows are in id order) — the coreset multiplicity
        dm = pairwise_fold_nd(mat, mat[med_rows], metric)
        assign = dm.argmin(axis=1)
        counts = np.bincount(assign, minlength=len(med_rows))
        return pd.DataFrame(
            {
                "cell": key[0],
                "medoid_id": pdf["id"].to_numpy()[med_rows],
                "local_td": td,
                "weight": counts.astype(np.int64),
            }
        )

    return sel.groupBy("cell").applyInPandas(kernel, out_schema)


def kmedoids_two_level(
    points: DataFrame,
    k: int,
    cfg: EngineConfig,
    k_local: int = 8,
    metric: str = "euclidean",
    vec_col: str | None = None,
    axes: tuple[int, int] = (0, 1),
    max_passes: int = 100,
) -> tuple[list, float, DataFrame]:
    """Two-level k-medoids — THE scale path for 100 TB inputs, where
    even a CLARA sample can't see every region:

    1. per grid cell, ``k_local`` PAM medoids + member counts (one
       shuffle on the cell key, Arrow kernel) → a weighted CORESET of
       ≤ k_local · cells rows — per-cell metadata, not data;
    2. WEIGHTED PAM (BUILD + FasterPAM with multiplicities) over the
       coreset on the driver — unit weights reduce exactly to the
       flat solver, so semantics stay reference-faithful;
    3. assignment + full-data total deviation as literal-medoid column
       expressions — one scan, partial aggregation.

    Returns (medoid ids, full-data TD, labels). Approximation quality
    vs the flat solve is pinned in pytest (TD ratio bound)."""
    id_type = points.schema["id"].dataType
    coreset = kmedoids_per_cell(
        points, k_local, cfg, metric=metric, vec_col=vec_col, axes=axes
    ).select("medoid_id", "weight")
    cols = ["id", "x", "y"] if vec_col is None else ["id", vec_col]
    pts = points.select(*cols)
    cpdf = (
        coreset.join(pts.withColumnRenamed("id", "medoid_id"), "medoid_id")
        .toPandas()
        .sort_values("medoid_id")
        .reset_index(drop=True)
    )
    if vec_col is None:
        mat = cpdf[["x", "y"]].to_numpy(dtype=np.float64)
    else:
        mat = np.array(cpdf[vec_col].tolist(), dtype=np.float64)
    med_rows, _ = pam(
        mat,
        k,
        metric=metric,
        init="build",
        max_passes=max_passes,
        weights=cpdf["weight"].to_numpy(),
    )
    med_ids = [
        v.item() if hasattr(v, "item") else v
        for v in cpdf["medoid_id"].to_numpy()[med_rows]
    ]
    med_coords = mat[med_rows]
    arr = _assign_expr(med_coords, med_ids, id_type, vec_col, metric)
    td = pts.select(_true_dist(arr[0]["d2"], metric).alias("d")).agg(F.sum("d")).collect()[0][0]
    labels = pts.select("id", arr[0]["mid"].alias("label"))
    return med_ids, float(td), labels
