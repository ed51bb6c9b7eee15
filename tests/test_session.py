import builtins
import io

import pytest

from ffcl_spark import session


@pytest.mark.parametrize(
    "total_kb, expected",
    [
        (16_456_384, "4017m"),  # a quarter of a 15.7 GiB host
        (2_000_000, "1024m"),  # floor at 1g
        (1_000_000_000, f"{48 * 1024}m"),  # cap at 48g
    ],
)
def test_default_driver_memory_is_quarter_of_ram(monkeypatch, total_kb, expected):
    meminfo = f"MemFree:  123 kB\nMemTotal:  {total_kb} kB\n"
    real_open = builtins.open

    def fake_open(path, *a, **kw):
        if path == "/proc/meminfo":
            return io.StringIO(meminfo)
        return real_open(path, *a, **kw)

    monkeypatch.setattr(builtins, "open", fake_open)
    assert session.default_driver_memory() == expected


def test_default_driver_memory_without_meminfo(monkeypatch):
    def no_meminfo(path, *a, **kw):
        raise FileNotFoundError(path)

    monkeypatch.setattr(builtins, "open", no_meminfo)
    assert session.default_driver_memory() == f"{48 * 1024}m"
