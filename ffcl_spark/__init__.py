"""ffcl_spark — a PySpark-native spatial-join + tiling engine.

A brand-new engine (NOT a port) with the query capabilities of the
reference FFCL library (kd-tree kNN / radius / box search, core
distances, DBSCAN) re-expressed Spark-first:

- the *global* levels of FFCL's kd-tree become a hierarchical grid
  cell index (``functions.cells``) used as the partitioning key;
- the *leaf scan* becomes a vectorized within-neighborhood candidate
  join (all-JVM explode/join/window, or a NumPy ``applyInPandas``
  kernel);
- FFCL's branch-and-bound sibling prune (reference
  ``KDNodeView.hpp:235-243``) becomes the termination rule of the
  grid kNN kernel (``operators.knn_kernel``).

Input data model (BASELINE.json input_hint): Iceberg/parquet tables of
interleaved text+media documents
``(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)``.
Media spans carry 2-D coordinates in ``media_ref``; the engine
preserves span-sequence equality per document through every job.
"""

from ffcl_spark.config import EngineConfig
from ffcl_spark.session import get_spark

__all__ = ["EngineConfig", "get_spark"]
__version__ = "0.1.0"
