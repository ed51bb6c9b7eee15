import numpy as np
import pandas as pd
import pytest

from ffcl_spark import EngineConfig, get_spark
from ffcl_spark.datagen import make_points


_JVM_PEAK = pytest.StashKey[str]()


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


def pytest_terminal_summary(terminalreporter, config):
    peak = config.stash.get(_JVM_PEAK, None)
    if peak is not None:
        terminalreporter.write_line(f"test JVM peak RSS (VmHWM): {peak}")


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
