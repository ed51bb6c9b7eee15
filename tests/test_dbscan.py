"""Distributed DBSCAN == FFCL-exact local oracle (canonical labels).

Reference parameter sets: (radius=2, min_samples=5) on noisy_circles,
(radius=1, min_samples=5) on noisy_moons (DBSCANTest.cpp:158, 207)."""

import numpy as np
import pytest

from ffcl_spark import EngineConfig
from ffcl_spark.kernels.dbscan import dbscan_labels
from ffcl_spark.operators.dbscan import dbscan
from tests.conftest import points_pdf


def _check(spark, kind, radius, min_samples, n=400, resolution=3):
    pdf = points_pdf(kind, n)
    df = spark.createDataFrame(pdf)
    cfg = EngineConfig(resolution=resolution)
    got = dbscan(df, radius, min_samples, cfg).toPandas().set_index("id").label
    exp = dbscan_labels(
        pdf[["x", "y"]].to_numpy(), radius, min_samples, canonical_ids=pdf.id.to_numpy()
    )
    assert (got.loc[pdf.id].to_numpy() == exp).all()
    return exp


def test_dbscan_circles_reference_params(spark):
    exp = _check(spark, "noisy_circles", 2.0, 5)
    assert len(set(exp) - {0}) >= 2  # circles separate


def test_dbscan_moons_reference_params(spark):
    _check(spark, "noisy_moons", 1.0, 5)


def test_dbscan_uniform_sweep(spark):
    # bench sweep subset (DBSCANBench.hpp:332-333 semantics)
    for radius, m in [(1.0, 3), (3.0, 10)]:
        _check(spark, "no_structure", radius, m, n=300)


def test_dbscan_parallelism_invariance(spark):
    pdf = points_pdf("blobs", 300)
    df = spark.createDataFrame(pdf)
    a = dbscan(df, 2.0, 5, EngineConfig(resolution=0)).toPandas()
    b = dbscan(df, 2.0, 5, EngineConfig(resolution=4)).toPandas()
    ma = dict(zip(a.id, a.label))
    mb = dict(zip(b.id, b.label))
    assert ma == mb


@pytest.mark.filterwarnings("error::UserWarning")
def test_dbscan_grouped_kernel_raises_no_warning(spark):
    # applyInPandas warns "Cannot infer the eval type from type hints"
    # on a partially hinted (key, pdf) kernel; the plan must build clean
    _check(spark, "blobs", 2.0, 5, n=200)


def test_dbscan_all_noise(spark, cfg):
    pdf = points_pdf("no_structure", 100)
    df = spark.createDataFrame(pdf)
    got = dbscan(df, 0.001, 3, cfg).toPandas()
    assert (got.label == 0).all()
