"""NumPy twin of ``functions.cells`` — same encoding, used inside
pandas kernels and test oracles. Must stay bit-in-sync with the SQL
expressions (identical floor/clamp arithmetic in float64)."""

from __future__ import annotations

import numpy as np

from ffcl_spark.config import EngineConfig
from ffcl_spark.functions.cells import AXIS_MOD, RES_SHIFT


def axis_index(coord: np.ndarray, origin: float, cell_size: float, grid_n: int) -> np.ndarray:
    ix = np.floor((np.asarray(coord, dtype=np.float64) - origin) / cell_size)
    return np.clip(ix, 0, grid_n - 1).astype(np.int64)


def cell_id(x: np.ndarray, y: np.ndarray, cfg: EngineConfig) -> np.ndarray:
    ix = axis_index(x, cfg.x0, cfg.cell_size, cfg.grid_n)
    iy = axis_index(y, cfg.y0, cfg.cell_size, cfg.grid_n)
    return (np.int64(cfg.resolution) << RES_SHIFT) + ix * AXIS_MOD + iy


def cell_ixy(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    c = np.asarray(cell, dtype=np.int64)
    ix = (c >> 26) & (AXIS_MOD - 1)
    iy = c & (AXIS_MOD - 1)
    return ix, iy


def guaranteed_radius(
    x: np.ndarray, y: np.ndarray, ix: np.ndarray, iy: np.ndarray, ring: int, cfg: EngineConfig
) -> np.ndarray:
    """NumPy twin of functions.cells.guaranteed_radius — the largest
    L2 distance fully covered by the Chebyshev-``ring`` neighborhood
    (domain-clipped sides are unbounded thanks to cell clamping)."""
    s = cfg.cell_size
    n = cfg.grid_n
    e = cfg.edge_slack
    inf = np.inf
    lo_x = np.where(ix - ring <= 0, inf, x - ((cfg.x0 + (ix - ring) * s) + e))
    hi_x = np.where(ix + ring >= n - 1, inf, ((cfg.x0 + (ix + ring + 1) * s) - e) - x)
    lo_y = np.where(iy - ring <= 0, inf, y - ((cfg.y0 + (iy - ring) * s) + e))
    hi_y = np.where(iy + ring >= n - 1, inf, ((cfg.y0 + (iy + ring + 1) * s) - e) - y)
    return np.minimum(np.minimum(lo_x, hi_x), np.minimum(lo_y, hi_y))
