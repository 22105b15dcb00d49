"""Hierarchical spatial grid — the engine's H3/S2-style cell index, from scratch.

Plays the role fast-carpenter's binning spec plays for histograms
(ref: fast_carpenter/summary/binning_config.py:63-81 — linspace edges,
left-closed): here the "edges" are a hierarchy of equirectangular grids.

Resolution ``r`` divides the world into ``2^r x 2^r`` left-closed cells:

    x = floor((lon + 180) / 360 * 2^r)   clamped to [0, 2^r - 1]
    y = floor((lat +  90) / 180 * 2^r)   clamped to [0, 2^r - 1]

A cell id packs ``(r, x, y)`` into one BIGINT (SQL-expressible arithmetic,
no UDF needed, so Catalyst codegens the whole encode):

    cell_id = r * 2^58 + x * 2^29 + y        (r <= 28, x,y < 2^29)

Parent/child moves are right/left shifts of x and y — the zoom-rollup
analogue of fast-carpenter's re-binning.  k-ring(x, y, k) is the Chebyshev
ball of radius k, clamped at the poles and the antimeridian (no wrap).

Three parts, the first two verified against each other in tests:

* SQL fragment builders (``cell_sql`` / ``parent_sql`` …) emitting either
  Spark SQL or DuckDB SQL — the DuckDB form is the independent oracle.
* Vectorized numpy kernels (``encode_cells`` / ``hilbert_key`` …) used by
  the Arrow-batched Python workers, including the Hilbert space-filling
  key used for range partitioning (not expressible in SQL built-ins).
* ``explode_cells``: the one cell enumerator of the Spark-side operators —
  every row over the cells of a ring or bounding box, rows clamped at the
  poles and columns clamped or wrapped at the antimeridian, ready for a
  BIGINT equi-join on the packed cell.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

XY_BITS = 29
RES_SHIFT = 2 * XY_BITS  # 58
MAX_RES = 28

# ---------------------------------------------------------------------------
# SQL fragment builders (dialect: "spark" | "duck")
# ---------------------------------------------------------------------------


def _idiv(a: str, b: str, dialect: str) -> str:
    """Integer division fragment. Spark: `DIV`; DuckDB: `//`."""
    op = "DIV" if dialect == "spark" else "//"
    return f"(({a}) {op} ({b}))"


def axis_sql(coord_expr: str, res: int, *, lo: float, span: float, dialect: str) -> str:
    """One grid axis: floor((coord - lo) / span * 2^res), clamped.

    ``coord_expr`` must be a DOUBLE expression; both engines then perform
    the identical IEEE double ops, so results are bit-identical.
    """
    n = 1 << res
    raw = f"FLOOR((({coord_expr}) - ({lo!r})) / {span!r} * {float(n)!r})"
    if dialect == "spark":
        # Spark FLOOR(double) -> BIGINT; clamp in integer space (bare 0.0
        # literals would drag the whole expression onto the DECIMAL path)
        return f"LEAST(GREATEST({raw}, CAST(0 AS BIGINT)), CAST({n - 1} AS BIGINT))"
    # DuckDB FLOOR -> DOUBLE; clamp in double, cast once (identical values:
    # both are integral and < 2^53)
    return f"CAST(LEAST(GREATEST({raw}, 0.0), {float(n - 1)!r}) AS BIGINT)"


def cell_x_sql(lon_expr: str, res: int, dialect: str) -> str:
    return axis_sql(lon_expr, res, lo=-180.0, span=360.0, dialect=dialect)


def cell_y_sql(lat_expr: str, res: int, dialect: str) -> str:
    return axis_sql(lat_expr, res, lo=-90.0, span=180.0, dialect=dialect)


def pack_sql(res: int, x_expr: str, y_expr: str) -> str:
    """cell_id = res * 2^58 + x * 2^29 + y (pure arithmetic, ANSI-safe)."""
    return (
        f"(CAST({res} AS BIGINT) * {1 << RES_SHIFT} "
        f"+ ({x_expr}) * {1 << XY_BITS} + ({y_expr}))"
    )


def cell_sql(lon_expr: str, lat_expr: str, res: int, dialect: str) -> str:
    """Full encode: (lon, lat) -> packed cell id at resolution ``res``."""
    return pack_sql(res, cell_x_sql(lon_expr, res, dialect), cell_y_sql(lat_expr, res, dialect))


def unpack_x_sql(cell_expr: str, dialect: str) -> str:
    return f"({_idiv(cell_expr, str(1 << XY_BITS), dialect)} % {1 << XY_BITS})"


def unpack_y_sql(cell_expr: str, dialect: str) -> str:
    return f"(({cell_expr}) % {1 << XY_BITS})"


def unpack_res_sql(cell_expr: str, dialect: str) -> str:
    return _idiv(cell_expr, str(1 << RES_SHIFT), dialect)


def parent_sql(cell_expr: str, res_from: int, res_to: int, dialect: str) -> str:
    """Zoom-out: shift x and y right by (res_from - res_to) levels."""
    if res_to > res_from:
        raise ValueError(f"parent resolution {res_to} > child resolution {res_from}")
    shift = 1 << (res_from - res_to)
    px = _idiv(unpack_x_sql(cell_expr, dialect), str(shift), dialect)
    py = _idiv(unpack_y_sql(cell_expr, dialect), str(shift), dialect)
    return pack_sql(res_to, px, py)


def parent1_sql(cell_expr: str, dialect: str) -> str:
    """One-level zoom-out with the resolution taken FROM the packed id
    (works on mixed-resolution cell columns): res-1, x>>1, y>>1."""
    res = unpack_res_sql(cell_expr, dialect)
    px = _idiv(unpack_x_sql(cell_expr, dialect), "2", dialect)
    py = _idiv(unpack_y_sql(cell_expr, dialect), "2", dialect)
    return (
        f"((({res}) - 1) * {1 << RES_SHIFT} + ({px}) * {1 << XY_BITS} + ({py}))"
    )


# ---------------------------------------------------------------------------
# Spark cell enumeration
# ---------------------------------------------------------------------------


def explode_cells(
    df: DataFrame,
    res: int,
    x_lo: str,
    x_hi: str,
    y_lo: str,
    y_hi: str,
    *,
    wrap: bool = False,
    cell: str = "_cell",
) -> DataFrame:
    """Every row of ``df`` once per grid cell of its rectangle: columns
    ``x_lo .. x_hi`` by rows ``y_lo .. y_hi`` at ``res`` (inclusive
    bounds; Spark SQL BIGINT expressions over ``df``'s columns).  Adds
    ``_nx``, ``_ny`` and the packed cell id as ``cell``; a caller that
    needs offsets takes ``_nx - x``.

    Rows clamp to [0, n-1].  Columns clamp too, or with ``wrap`` (the
    antimeridian) take at most n consecutive columns from ``x_lo``, each
    modulo n: every column once, so a ring as wide as the grid needs no
    special case.

    Precondition: every rectangle holds an in-grid cell.  The explicit
    step makes ``sequence`` raise on reversed bounds, where ``sequence(5,
    3)`` would silently count down.

    Two explodes of plain sequences stay in whole-stage generated code;
    the same enumeration as ``flatten(transform(...))`` lambdas and a
    clamp filter runs interpreted (measured +0.3 s per 400k points at
    local[4]).
    """
    n = 1 << res
    last = f"CAST({n - 1} AS BIGINT)"
    if wrap:
        xs = f"sequence({x_lo}, least({x_hi}, ({x_lo}) + {last}), 1)"
    else:
        xs = f"sequence(greatest({x_lo}, 0), least({x_hi}, {last}), 1)"
    ys = f"sequence(greatest({y_lo}, 0), least({y_hi}, {last}), 1)"
    out = df.select("*", F.explode(F.expr(xs)).alias("_nx"))
    if wrap:
        out = out.withColumn("_nx", F.expr(f"pmod(_nx, {n})"))
    return out.select("*", F.explode(F.expr(ys)).alias("_ny")).withColumn(
        cell, F.expr(pack_sql(res, "_nx", "_ny"))
    )


# ---------------------------------------------------------------------------
# numpy kernels (Arrow-batched Python workers)
# ---------------------------------------------------------------------------


def encode_xy(lon: np.ndarray, lat: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized (lon, lat) -> (x, y) grid coordinates; mirrors axis_sql."""
    n = 1 << res
    x = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * float(n))
    y = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * float(n))
    x = np.clip(x, 0.0, float(n - 1)).astype(np.int64)
    y = np.clip(y, 0.0, float(n - 1)).astype(np.int64)
    return x, y


def pack_cells(res: int, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    return (np.int64(res) << RES_SHIFT) + (x.astype(np.int64) << XY_BITS) + y.astype(np.int64)


def encode_cells(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    x, y = encode_xy(lon, lat, res)
    return pack_cells(res, x, y)


def unpack_cells(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> RES_SHIFT
    x = (cell >> XY_BITS) & ((1 << XY_BITS) - 1)
    y = cell & ((1 << XY_BITS) - 1)
    return res, x, y


def parent_cells(cell: np.ndarray, res_to: int) -> np.ndarray:
    res, x, y = unpack_cells(cell)
    shift = res - res_to
    if np.any(shift < 0):
        raise ValueError("parent resolution coarser than child required")
    return pack_cells(res_to, x >> shift, y >> shift)


def k_ring(x: int, y: int, k: int, res: int) -> list[tuple[int, int]]:
    """All (x', y') with Chebyshev distance <= k, clamped to the grid
    (no antimeridian wrap — documented engine semantics)."""
    n = 1 << res
    out = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            nx, ny = x + dx, y + dy
            if 0 <= nx < n and 0 <= ny < n:
                out.append((nx, ny))
    return out


def hilbert_key(x: np.ndarray, y: np.ndarray, order: int) -> np.ndarray:
    """Vectorized Hilbert curve distance d for points (x, y) on a 2^order grid.

    Standard iterative xy->d transform (bit-interleave with quadrant
    rotation), lifted to numpy arrays.  Used only for physical layout
    (``repartitionByRange`` on Hilbert-ordered cell keys), never for
    results — so it needs no SQL oracle twin.
    """
    x = np.asarray(x, dtype=np.int64).copy()
    y = np.asarray(y, dtype=np.int64).copy()
    d = np.zeros_like(x)
    s = np.int64(1) << (order - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = x[flip]
        y_f = y[flip]
        x[flip] = s - 1 - x_f
        y[flip] = s - 1 - y_f
        xs = x[swap].copy()
        x[swap] = y[swap]
        y[swap] = xs
        s >>= 1
    return d


def hilbert_key_for_cells(cell: np.ndarray) -> np.ndarray:
    """Hilbert key of a packed cell id at its own resolution."""
    res, x, y = unpack_cells(cell)
    r = int(res[0]) if len(res) else 0
    return hilbert_key(x, y, max(r, 1))


def quadkey_sql(cell_expr: str, res: int, dialect: str) -> str:
    """Bing-style quadkey string of a packed cell at resolution ``res``:
    one base-4 digit per level MSB-first, digit = 2*bit(y,i) + bit(x,i).
    The serving contract this encodes: the quadkey of the parent cell is
    exactly the child's quadkey minus its last character, so tile-server
    prefix matching IS hierarchy traversal.  Pure integer arithmetic +
    chr(), identical text both engines."""
    x = unpack_x_sql(cell_expr, dialect)
    y = unpack_y_sql(cell_expr, dialect)
    idiv = _idiv
    digits = []
    for i in range(res - 1, -1, -1):
        bx = f"({idiv(x, str(1 << i), dialect)} % 2)"
        by = f"({idiv(y, str(1 << i), dialect)} % 2)"
        digits.append(f"chr(48 + CAST(2 * {by} + {bx} AS INT))")
    return "concat(" + ", ".join(digits) + ")"


def quadkey_decode_sql(qk_expr: str, res: int, dialect: str) -> str:
    """Packed cell id from a quadkey string (inverse of quadkey_sql)."""
    xs, ys = [], []
    for pos in range(1, res + 1):
        i = res - pos  # bit index contributed by this character
        # BIGINT digits: pack_sql multiplies x by 2^29, which overflows
        # INT32 under ANSI mode if ascii()'s INT type propagates
        d = f"(CAST(ascii(substring({qk_expr}, {pos}, 1)) AS BIGINT) - 48)"
        if dialect != "spark":
            d = f"(CAST(ascii(substr({qk_expr}, {pos}, 1)) AS BIGINT) - 48)"
        xs.append(f"({d} % 2) * {1 << i}")
        ys.append(f"({_idiv(d, '2', dialect)}) * {1 << i}")
    x = "(" + " + ".join(xs) + ")"
    y = "(" + " + ".join(ys) + ")"
    return pack_sql(res, x, y)
