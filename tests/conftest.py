import numpy as np
import pandas as pd
import pytest

from ffcl_spark import EngineConfig, get_spark
from ffcl_spark.datagen import make_points


_JVM_PEAK = pytest.StashKey[str]()
# per-test persistent-RDD leak listing (report only, never a failure)
_RDDS_BEFORE = pytest.StashKey[set]()
_RDDS_LEFT = pytest.StashKey[dict]()


def _jvm_status(pid: int, key: str) -> str | None:
    """One field of ``/proc/<pid>/status`` (Linux), e.g. ``VmHWM``."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return None


@pytest.fixture(scope="session")
def spark(request):
    s = get_spark(app_name="ffcl_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s
    # the gateway JVM's high-water RSS over the whole session, read
    # before stop; printed by pytest_terminal_summary
    proc = getattr(s.sparkContext._gateway, "proc", None)
    peak = _jvm_status(proc.pid, "VmHWM") if proc is not None else None
    if peak is not None:
        request.config.stash[_JVM_PEAK] = peak
    s.stop()


def _persistent_rdd_ids() -> set[int] | None:
    """Ids in the running SparkContext's ``getPersistentRDDs()`` (cached
    frames and localCheckpoints), or None while no context is up."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return None
    return {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_call(item):
    # the baseline is taken after setup, so session fixtures that cache
    # their inputs on first use are not charged to that test
    ids = _persistent_rdd_ids()
    if ids is not None:
        item.stash[_RDDS_BEFORE] = ids
    yield


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_teardown(item, nextitem):
    yield
    before = item.stash.get(_RDDS_BEFORE, None)
    after = _persistent_rdd_ids()
    if before is not None and after:
        left = len(after - before)
        if left:
            item.config.stash.setdefault(_RDDS_LEFT, {})[item.nodeid] = left


def pytest_terminal_summary(terminalreporter, config):
    peak = config.stash.get(_JVM_PEAK, None)
    if peak is not None:
        terminalreporter.write_line(f"test JVM peak RSS (VmHWM): {peak}")
    # RDDs a test's call persisted and its teardown left behind
    left = config.stash.get(_RDDS_LEFT, {})
    terminalreporter.write_line(f"tests that left persistent RDDs behind: {len(left)}")
    for nodeid, n in sorted(left.items(), key=lambda kv: (-kv[1], kv[0])):
        terminalreporter.write_line(f"  {n:4d}  {nodeid}")


@pytest.fixture(scope="session")
def cfg():
    return EngineConfig(resolution=3)


def points_pdf(kind: str, n: int, seed: int = 7) -> pd.DataFrame:
    xy = make_points(kind, n, seed)
    return pd.DataFrame(
        {"id": np.arange(len(xy), dtype=np.int64), "x": xy[:, 0], "y": xy[:, 1]}
    )


@pytest.fixture(scope="session")
def blobs(spark):
    pdf = points_pdf("blobs", 400)
    return spark.createDataFrame(pdf).cache(), pdf


@pytest.fixture(scope="session")
def circles(spark):
    pdf = points_pdf("noisy_circles", 400)
    return spark.createDataFrame(pdf).cache(), pdf


@pytest.fixture(scope="session")
def grid_exact(spark):
    pdf = points_pdf("grid_exact", 225)
    return spark.createDataFrame(pdf).cache(), pdf
