"""Hierarchical spatial cell index (S2/H3-style, from scratch).

Z-order (Morton) cells over the engine's unit-square Web-Mercator projection
(:func:`kernels.project_xy`): at resolution r, ``cell = interleave_bits(
floor(x*2^r), floor(y*2^r))`` — a 2r-bit key whose prefixes nest, so

- equality joins on cell ids give spatial co-location,
- ``repartitionByRange`` on the key (or a prefix) gives spatial
  partitioning with parquet min/max pruning,
- a cell's 2q-bit prefix is its ancestor at resolution q, whose grid
  indices are the tile address at zoom q.

Everything here is PURE SPARK SQL column arithmetic (shifts/masks unrolled —
whole-stage-codegen JVM path, no Python), with mirrored numpy and DuckDB-SQL
generators so kernels and correctness oracles compute bit-identical ids.

No reference implementation exists (geojson-vt-cpp has no index; the tile id
``toID`` packing at geojsonvt.hpp:66-68 is the closest analogue) — this is
specified by the north rule (cell index at multiple resolutions driving
the spatial joins).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# magic-number bit spreading: 16 -> 32 bits, even positions
_SPREAD = [
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
]

MAX_RES = 16


def spread_bits(col: Column) -> Column:
    v = col.cast("long")
    for s, m in _SPREAD:
        v = (v.bitwiseOR(F.shiftleft(v, s))).bitwiseAND(F.lit(m))
    return v


def grid_index(v: Column, n: int) -> Column:
    """Grid column/row of unit-square coordinate ``v`` on an ``n``-cell axis:
    ``floor(v*n)`` clamped to [0, n-1], so out-of-range coordinates
    (antimeridian world copies) land in the edge cells."""
    return F.least(F.greatest(F.floor(v * n).cast("long"), F.lit(0)), F.lit(n - 1))


def cell_id(x: Column, y: Column, res: int) -> Column:
    """Morton cell id at resolution ``res`` from unit-square coords.

    Coordinates are clamped to [0, 1); out-of-range (antimeridian world
    copies) clamp to the edge cells.
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    ix = grid_index(x, 1 << res)
    iy = grid_index(y, 1 << res)
    return spread_bits(ix).bitwiseOR(F.shiftleft(spread_bits(iy), 1)).alias(
        f"cell_r{res}"
    )


def cell_id_sql(x_expr: str, y_expr: str, res: int, dialect: str = "spark") -> str:
    """The same cell id as a SQL string (dialects: 'spark', 'duckdb').

    Used to build DuckDB oracle queries that compute bit-identical ids —
    both engines do IEEE double math and two's-complement BIGINT bit ops, so
    the results hash-match across engines.
    """
    n = float(1 << res)
    cap = (1 << res) - 1

    def clamp(e):
        return (
            f"least(greatest(cast(floor(({e}) * {n}) as bigint), 0), {cap})"
        )

    def spread(e):
        v = e
        for s, m in _SPREAD:
            if dialect == "spark":
                v = f"((({v}) | shiftleft(({v}), {s})) & {m})"
            else:
                v = f"((({v}) | (({v}) << {s})) & {m})"
        return v

    ix = spread(clamp(x_expr))
    iy = spread(clamp(y_expr))
    if dialect == "spark":
        return f"(({ix}) | shiftleft(({iy}), 1))"
    return f"(({ix}) | (({iy}) << 1))"


def cell_id_np(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    """Numpy mirror for in-kernel use."""
    n = 1 << res
    ix = np.clip(np.floor(x * float(n)).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor(y * float(n)).astype(np.int64), 0, n - 1)

    def spread(v):
        v = v.copy()
        for s, m in _SPREAD:
            v = (v | (v << s)) & m
        return v

    return spread(ix) | (spread(iy) << 1)


def cell_xy_np(cell: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Inverse: cell id -> integer grid coords."""

    def compact(v):
        v = v & 0x55555555
        for s, m in [(1, 0x33333333), (2, 0x0F0F0F0F), (4, 0x00FF00FF), (8, 0x0000FFFF)]:
            v = (v | (v >> s)) & m
        return v

    return compact(cell), compact(cell >> 1)

