"""Engine configuration.

The grid is the distributed replacement for the top levels of the
reference kd-tree (reference ``KDTree.hpp:301-382`` build recursion):
instead of median splits we use a fixed-origin hierarchical grid whose
resolution is chosen per job so that a cell holds roughly
``target_cell_rows`` points (the analogue of FFCL's ``bucket_size``,
``KDTree.hpp:60-67``).
"""

from __future__ import annotations

import math
from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    # Grid origin / extent. The default domain covers the ×10-scaled
    # reference fixtures ([-30, 30]^2, FIXTURES.md §3) with headroom.
    x0: float = -30.0
    y0: float = -30.0
    domain: float = 60.0  # side length of the root cell (resolution 0)

    # Grid resolution: cell side = domain / 2**resolution.
    resolution: int = 4

    # Analogue of FFCL bucket_size (KDTree.hpp:63: 40 by default):
    # target number of points per cell when auto-picking a resolution.
    target_cell_rows: int = 4096

    # Skew handling: cells with more rows than this are salted.
    hot_cell_rows: int = 2_000_000
    salt_buckets: int = 16

    # kNN ring expansion bounds.
    max_rounds: int = 6

    @property
    def cell_size(self) -> float:
        return self.domain / (1 << self.resolution)

    @property
    def edge_slack(self) -> float:
        """How far a point can sit outside its cell's nominal box: the
        edge x0 + i*s is rounded, and so is the point's
        floor((x - x0) / s). Eight ulps of the largest coordinate
        magnitude in the domain cover both; pruning bounds move each
        edge by this much before they measure a gap."""
        return 8 * math.ulp(max(abs(self.x0), abs(self.y0)) + self.domain)

    @property
    def grid_n(self) -> int:
        """Cells per axis at this resolution."""
        return 1 << self.resolution

    def with_resolution(self, resolution: int) -> "EngineConfig":
        from dataclasses import replace

        return replace(self, resolution=resolution)

    def auto_resolution(self, n_rows: int) -> "EngineConfig":
        """Pick the deepest resolution whose expected rows/cell stays
        above ``target_cell_rows`` (uniform-density estimate; AQE and
        salting handle the skewed reality at runtime)."""
        res = 0
        while res < 16 and n_rows / (4 ** (res + 1)) >= self.target_cell_rows:
            res += 1
        return self.with_resolution(res)
