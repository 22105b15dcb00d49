"""Point-in-polygon — vectorized ray casting, no per-row Python.

The PIP "cut" plays the role of fast-carpenter's selection predicates
(ref: fast_carpenter/selection/filters.py:149-155 SingleCut): a boolean
per candidate (point, polygon) pair.  Even/odd rule with the standard
crossing test per directed edge (x1,y1)->(x2,y2):

    crosses = (y1 > py) != (y2 > py)
              AND px < (x2 - x1) * (py - y1) / (y2 - y1) + x1

Implementations (verified identical in tests):
* a numpy kernel over Arrow batches (pandas UDF) — rings of varying length
  are padded to the batch max and masked, the same pad/mask trick the
  reference uses for jagged arrays (ref: tree_adapter.py:345-348);
* the identical formula as SQL for the DuckDB oracle (unnest edges, count
  crossings, parity) — independent evaluation, bit-identical doubles.

Points exactly on an edge follow the raw crossing test (deterministic,
same in both implementations); synthetic data never lands there.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F, types as T


def _pad_rings(rings: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """list-of-arrays -> (padded (N, M) float64 matrix, lengths (N,))."""
    n = len(rings)
    lens = np.fromiter((len(r) for r in rings), dtype=np.int64, count=n)
    m = int(lens.max()) if n else 0
    out = np.zeros((n, m), dtype=np.float64)
    for i, r in enumerate(rings):
        out[i, : lens[i]] = np.asarray(r, dtype=np.float64)
    return out, lens


def points_in_polygon(
    px: np.ndarray,
    py: np.ndarray,
    ring_x: pd.Series | list,
    ring_y: pd.Series | list,
) -> np.ndarray:
    """Row-wise PIP: point i against ring i.  Fully vectorized."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    vx, lens = _pad_rings(pd.Series(ring_x))
    vy, _ = _pad_rings(pd.Series(ring_y))
    n, m = vx.shape
    if m == 0:
        return np.zeros(len(px), dtype=bool)

    cols = np.arange(m)[None, :]
    valid = cols < lens[:, None]
    nxt = cols + 1
    nxt = np.where(nxt >= lens[:, None], 0, nxt)
    rows = np.arange(n)[:, None]

    x1, y1 = vx, vy
    x2 = vx[rows, nxt]
    y2 = vy[rows, nxt]
    pyc = py[:, None]
    pxc = px[:, None]

    straddles = (y1 > pyc) != (y2 > pyc)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        xing = pxc < (x2 - x1) * (pyc - y1) / (y2 - y1) + x1
    crossings = straddles & xing & valid
    return (crossings.sum(axis=1) % 2).astype(bool)


@F.pandas_udf(T.BooleanType())
def pip_udf(lon: pd.Series, lat: pd.Series, ring_lon: pd.Series, ring_lat: pd.Series) -> pd.Series:
    """Arrow-batched PIP refine over candidate pairs."""
    return pd.Series(points_in_polygon(lon.values, lat.values, ring_lon, ring_lat))


def pip_condition_sql(
    lon: str, lat: str, ring_lon: str, ring_lat: str, dialect: str = "spark"
) -> str:
    """The crossing-parity test as a pure SQL boolean expression over array
    columns — higher-order functions only, so Spark keeps it inside
    whole-stage codegen (no Arrow hop; measured ~2x faster than the pandas
    UDF on short rings).  Degenerate edges (y1 == y2) yield NaN/Inf in the
    division, and `lon < NaN` is false — identical semantics to the masked
    numpy kernel and the DuckDB oracle.
    """
    if dialect == "spark":
        i_lat = f"element_at({ring_lat}, i)"
        j_lat = f"element_at({ring_lat}, 1 + i % size({ring_lat}))"
        i_lon = f"element_at({ring_lon}, i)"
        j_lon = f"element_at({ring_lon}, 1 + i % size({ring_lon}))"
        return (
            f"((aggregate(sequence(1, size({ring_lon})), 0, (acc, i) -> acc + "
            f"CASE WHEN (({i_lat} > {lat}) != ({j_lat} > {lat})) "
            f"AND ({lon} < ({j_lon} - {i_lon}) * ({lat} - {i_lat}) / ({j_lat} - {i_lat}) + {i_lon}) "
            f"THEN 1 ELSE 0 END)) % 2) = 1"
        )
    i_lat = f"list_extract({ring_lat}, i)"
    j_lat = f"list_extract({ring_lat}, 1 + i % len({ring_lat}))"
    i_lon = f"list_extract({ring_lon}, i)"
    j_lon = f"list_extract({ring_lon}, 1 + i % len({ring_lon}))"
    return (
        f"((list_sum(list_transform(range(1, len({ring_lon}) + 1), i -> "
        f"CASE WHEN (({i_lat} > {lat}) != ({j_lat} > {lat})) "
        f"AND ({lon} < ({j_lon} - {i_lon}) * ({lat} - {i_lat}) / ({j_lat} - {i_lat}) + {i_lon}) "
        f"THEN 1 ELSE 0 END))) % 2) = 1"
    )


def edges_sql(ring_lon: str = "ring_lon", ring_lat: str = "ring_lat") -> str:
    """Precompute directed edges as array<struct<x1,y1,x2,y2>> (Spark SQL).
    Built ONCE on the tiny broadcast polygon table so the per-candidate PIP
    test touches each field exactly once (vs ~10 element_at probes/edge)."""
    return (
        f"transform(sequence(1, size({ring_lon})), i -> struct("
        f"element_at({ring_lon}, i) AS x1, "
        f"element_at({ring_lat}, i) AS y1, "
        f"element_at({ring_lon}, 1 + i % size({ring_lon})) AS x2, "
        f"element_at({ring_lat}, 1 + i % size({ring_lat})) AS y2))"
    )


def pip_edges_condition_sql(lon: str, lat: str, edges: str = "edges") -> str:
    """Crossing-parity test over a precomputed edge-struct array (Spark)."""
    return (
        f"((aggregate({edges}, 0, (acc, e) -> acc + "
        f"CASE WHEN ((e.y1 > {lat}) != (e.y2 > {lat})) "
        f"AND ({lon} < (e.x2 - e.x1) * ({lat} - e.y1) / (e.y2 - e.y1) + e.x1) "
        f"THEN 1 ELSE 0 END)) % 2) = 1"
    )


def pip_oracle_sql(
    points_sql: str,
    polygons_values: str,
    point_keys: str = "doc_id, span_offset",
    extra_poly_cols: str = "",
) -> str:
    """DuckDB ground truth: brute-force every (point, polygon) pair with
    the same crossing formula; parity per pair decides membership."""
    extra = f", {extra_poly_cols}" if extra_poly_cols else ""
    return f"""
WITH pts AS ({points_sql}),
edges AS (
  SELECT poly_id, region, weight,
         list_extract(ring_lon, i) AS x1, list_extract(ring_lat, i) AS y1,
         list_extract(ring_lon, 1 + i % len(ring_lon)) AS x2,
         list_extract(ring_lat, 1 + i % len(ring_lon)) AS y2
  FROM (SELECT *, unnest(range(1, len(ring_lon) + 1)) AS i FROM {polygons_values})
)
SELECT {point_keys}, poly_id{extra}
FROM pts, edges
GROUP BY {point_keys}, poly_id{extra}
HAVING SUM(CASE WHEN ((y1 > lat) != (y2 > lat))
                 AND (lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1)
            THEN 1 ELSE 0 END) % 2 = 1
"""
