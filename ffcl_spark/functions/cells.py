"""Hierarchical grid cell index (H3/S2-style, pure column expressions).

This is the distributed replacement for the *global* levels of the
reference kd-tree (reference ``KDTree.hpp:301-382``): a fixed-origin
quad grid. ``cell_id`` packs (resolution, ix, iy) into one BIGINT so a
single column is both the shuffle/partition key and a hierarchical
index (parent = child coordinates >> 1).

Everything here is a plain Spark SQL expression — no Python UDFs — so
Catalyst folds constants, pushes comparisons to the parquet scan, and
keeps the whole thing inside WholeStageCodegen. Each helper also has a
NumPy twin in ``ffcl_spark.kernels`` used by the pandas kernels and
the test oracles.

Encoding (must stay in sync with the DuckDB oracle SQL in
``__spark_entry__.py`` and the NumPy twin ``kernels.grid``):

    ix = floor((x - x0) / cell_size), clamped to [0, 2^res - 1]
    cell = res * 2^52 + ix * 2^26 + iy
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ffcl_spark.config import EngineConfig

# Bit layout: resolution in the top bits, 26 bits per axis.
AXIS_BITS = 26
AXIS_MOD = 1 << AXIS_BITS
RES_SHIFT = 52


def axis_index(coord: Column, origin: float, cell_size: float, grid_n: int) -> Column:
    """Grid index along one axis, clamped to the domain."""
    ix = F.floor((coord - F.lit(origin)) / F.lit(cell_size))
    return F.greatest(F.lit(0), F.least(F.lit(grid_n - 1), ix)).cast("long")


def cell_id(x: Column, y: Column, cfg: EngineConfig) -> Column:
    """Pack (resolution, ix, iy) into one BIGINT cell id."""
    ix = axis_index(x, cfg.x0, cfg.cell_size, cfg.grid_n)
    iy = axis_index(y, cfg.y0, cfg.cell_size, cfg.grid_n)
    return (
        F.lit(cfg.resolution).cast("long") * F.lit(1 << RES_SHIFT)
        + ix * F.lit(AXIS_MOD)
        + iy
    )


def cell_ix(cell: Column) -> Column:
    # bitwise decode — int64-exact (a double division here would lose
    # low bits at 2^52 magnitudes)
    return F.shiftright(cell, AXIS_BITS).bitwiseAND(F.lit(AXIS_MOD - 1))


def cell_iy(cell: Column) -> Column:
    return cell.bitwiseAND(F.lit(AXIS_MOD - 1))


def cell_bounds(cell: Column, cfg: EngineConfig) -> tuple[Column, Column, Column, Column]:
    """(x_lo, y_lo, x_hi, y_hi) of a cell."""
    s = F.lit(cfg.cell_size)
    x_lo = F.lit(cfg.x0) + cell_ix(cell).cast("double") * s
    y_lo = F.lit(cfg.y0) + cell_iy(cell).cast("double") * s
    return x_lo, y_lo, x_lo + s, y_lo + s


def parent_cell(cell: Column, cfg: EngineConfig) -> Column:
    """Parent cell one resolution up (hierarchical rollup)."""
    ix = cell_ix(cell)
    iy = cell_iy(cell)
    return (
        F.lit(cfg.resolution - 1).cast("long") * F.lit(1 << RES_SHIFT)
        + F.floor(ix / 2).cast("long") * F.lit(AXIS_MOD)
        + F.floor(iy / 2).cast("long")
    )


def neighbor_cells(cell: Column, radius: int, cfg: EngineConfig) -> Column:
    """Array of all cell ids within Chebyshev distance ``radius`` of
    ``cell`` (inclusive of ``cell`` itself), clipped to the grid.

    This is the candidate set of a radius/kNN probe — the analogue of
    the set of kd-tree leaves the reference traversal would visit
    (``TreeTraverser.hpp:218-269``). Built with ``sequence`` +
    ``transform``: stays JVM-side.
    """
    n = cfg.grid_n
    ix = cell_ix(cell)
    iy = cell_iy(cell)
    base = F.lit(cfg.resolution).cast("long") * F.lit(1 << RES_SHIFT)
    xs = F.sequence(
        F.greatest(F.lit(0), ix - radius), F.least(F.lit(n - 1), ix + radius)
    )
    ys = F.sequence(
        F.greatest(F.lit(0), iy - radius), F.least(F.lit(n - 1), iy + radius)
    )
    pairs = F.flatten(
        F.transform(xs, lambda a: F.transform(ys, lambda b: a * F.lit(AXIS_MOD) + b))
    )
    return F.transform(pairs, lambda p: base + p)


def ring_cells(cell: Column, radius: int, cfg: EngineConfig) -> Column:
    """Only the cells at Chebyshev distance exactly ``radius`` — the
    incremental ring of one kNN expansion round."""
    if radius == 0:
        return F.array(cell)
    inner = neighbor_cells(cell, radius - 1, cfg)
    outer = neighbor_cells(cell, radius, cfg)
    return F.array_except(outer, inner)


def guaranteed_radius(x: Column, y: Column, cell: Column, radius: int, cfg: EngineConfig) -> Column:
    """Largest L2 distance from point (x, y) that is guaranteed to be
    fully covered by the Chebyshev-``radius`` neighborhood of its cell.

    The covered region is the square [ (ix-r)*s, (ix+r+1)*s ) on each
    axis (clipped to the domain — clipped sides are unbounded in data
    space, so they do not constrain the radius). Each side moves in by
    ``cfg.edge_slack``, because a point just outside a rounded edge can
    still floor into the cell beyond it. Any point strictly closer than
    the returned value lies inside the searched region.
    This is the distributed form of the reference's sibling-prune test
    ``KDNodeView.hpp:235-243`` (visit the far side only while the
    buffer's furthest distance can still beat the split plane).
    """
    s = cfg.cell_size
    n = cfg.grid_n
    e = F.lit(cfg.edge_slack)
    ix = cell_ix(cell)
    iy = cell_iy(cell)
    big = F.lit(float("inf"))
    lo_x = F.when(ix - radius <= 0, big).otherwise(
        x - ((F.lit(cfg.x0) + (ix - radius).cast("double") * F.lit(s)) + e)
    )
    hi_x = F.when(ix + radius >= n - 1, big).otherwise(
        ((F.lit(cfg.x0) + (ix + radius + 1).cast("double") * F.lit(s)) - e) - x
    )
    lo_y = F.when(iy - radius <= 0, big).otherwise(
        y - ((F.lit(cfg.y0) + (iy - radius).cast("double") * F.lit(s)) + e)
    )
    hi_y = F.when(iy + radius >= n - 1, big).otherwise(
        ((F.lit(cfg.y0) + (iy + radius + 1).cast("double") * F.lit(s)) - e) - y
    )
    return F.least(lo_x, hi_x, lo_y, hi_y)
