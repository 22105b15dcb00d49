"""Raster <-> vector join: tile-key equi-join.

The raster layer is a dense grid of tiles at a fixed zoom whose tile ids
use the same packed-cell encoding as the engine (grid.pack_sql), so the
join is a plain BIGINT equi-join — broadcastable when the raster fits,
shuffle-on-cell otherwise.  Per-doc output carries the sampled tile value;
per-tile aggregates reuse the BinnedDataframe machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import grid
from ..synth import raster_sql


def raster_vector_join(
    points: DataFrame,
    *,
    res: int = 6,
    lon_col: str = "lon",
    lat_col: str = "lat",
    broadcast: bool = True,
) -> DataFrame:
    """points + (tile_id, zoom, tile_value) of the tile containing each point."""
    spark = points.sparkSession
    raster = spark.sql(raster_sql("spark", res))
    keyed = points.withColumn(
        "tile_id", F.expr(grid.cell_sql(lon_col, lat_col, res, "spark"))
    )
    r = F.broadcast(raster) if broadcast else raster
    return keyed.join(r, "tile_id", "inner")


def tile_centers(spark, res: int = 6) -> DataFrame:
    """Raster tiles with their center coordinates as point rows."""
    n = 1 << res
    raster = spark.sql(raster_sql("spark", res))
    x = grid.unpack_x_sql("tile_id", "spark")
    y = grid.unpack_y_sql("tile_id", "spark")
    cx = f"(CAST({x} AS DOUBLE) + 0.5) / {float(n)!r} * 360.0 - 180.0"
    cy = f"(CAST({y} AS DOUBLE) + 0.5) / {float(n)!r} * 180.0 - 90.0"
    return raster.selectExpr("tile_id", "zoom", "tile_value", f"{cx} AS lon", f"{cy} AS lat")


def focal_stats(spark, *, res: int = 6) -> DataFrame:
    """Focal (moving-window) raster statistics: per tile, the 3×3
    neighbourhood max / min / sum of ``tile_value`` plus the neighbour
    count (grid-boundary-clamped) — the map-algebra 'focal' op on the
    generated raster.  Same single-explode no-join shape as the tile
    smooth; tile values are exact binary fractions so the sum channel is
    order-insensitive."""
    raster = spark.sql(raster_sql("spark", res))
    x = grid.unpack_x_sql("tile_id", "spark")
    y = grid.unpack_y_sql("tile_id", "spark")
    contrib = grid.explode_cells(
        raster, res, f"{x} - 1", f"{x} + 1", f"{y} - 1", f"{y} + 1", cell="tile_id",
    )
    return contrib.groupBy("tile_id").agg(
        F.max("tile_value").alias("f_max"),
        F.min("tile_value").alias("f_min"),
        F.sum("tile_value").alias("f_sum"),
        F.count(F.lit(1)).alias("n_nbr"),
    )


def focal_stats_oracle_sql(res: int = 6) -> str:
    """DuckDB oracle twin of :func:`focal_stats`."""
    n = 1 << res
    ux = grid.unpack_x_sql("tile_id", "duck")
    uy = grid.unpack_y_sql("tile_id", "duck")
    return f"""
WITH raster AS ({raster_sql('duck', res)}),
contrib AS (
  SELECT {grid.pack_sql(res, f"({ux} + dx)", f"({uy} + dy)")} AS tcell, tile_value
  FROM raster,
       (SELECT unnest(range(-1, 2)) AS dx),
       (SELECT unnest(range(-1, 2)) AS dy)
  WHERE {ux} + dx BETWEEN 0 AND {n - 1}
    AND {uy} + dy BETWEEN 0 AND {n - 1}
)
SELECT tcell AS tile_id, max(tile_value) AS f_max, min(tile_value) AS f_min,
       sum(tile_value) AS f_sum, count(*) AS n_nbr
FROM contrib GROUP BY 1
"""


def zonal_stats(spark, polygons: list[dict], *, res: int = 6) -> DataFrame:
    """Per-polygon raster aggregate (zonal statistics): tiles whose CENTER
    lies inside the polygon contribute (n_tiles, sum, sum-of-squares of
    tile_value).  Reuses the spatial-join machinery on tile centers —
    cover equi-join + exact PIP refine; the raster side is generated, the
    polygon side broadcast."""
    from .join import SpatialJoinStage

    centers = tile_centers(spark, res)
    joined = SpatialJoinStage(name="zonal", polygons=polygons).apply(centers)
    return joined.groupBy("poly_id", "region").agg(
        F.count(F.lit(1)).alias("n_tiles"),
        F.sum("tile_value").alias("sum_value"),
        F.sum(F.col("tile_value") * F.col("tile_value")).alias("sum_value2"),
    )


# ---------------------------------------------------------------------------
# Inverse-distance-weighted interpolation
# ---------------------------------------------------------------------------

IDW_RES = 6
IDW_MIN_N = 4


def idw_sql(points_sql: str, dialect: str, *, res: int = IDW_RES,
            min_n: int = IDW_MIN_N) -> str:
    """IDW (inverse-distance-weighted) interpolation of the tile density
    field onto EMPTY cells: every station cell (count >= ``min_n``)
    spreads its value to the cells within Chebyshev distance 2; an empty
    cell's estimate is sum(w*n)/sum(w) with w = 1/d^2.

    Exactness trick: the 24 neighbour offsets have squared distances
    d2 in {1,2,4,5,8}, all divisors of 40 — so the integer weights
    40/d2 in {40,20,10,8,5} make BOTH sums exact BIGINT (aggregation-
    order-independent) and the estimate ONE correctly-rounded double
    division.  A float 1/d^2 weight would make sum order observable.

    Scale shape: station explode is a constant 24-way map-side fan-out;
    the contribution aggregate and the emptiness anti-join are bounded by
    grid cardinality (4^res), not corpus size.  No BNLJ anywhere.
    """
    cell = grid.cell_sql("lon", "lat", res, dialect)
    n = 1 << res
    ux = grid.unpack_x_sql("cell", dialect)
    uy = grid.unpack_y_sql("cell", dialect)
    if dialect == "spark":
        dxy_from = ("LATERAL VIEW explode(sequence(-2, 2)) _dx AS dx "
                    "LATERAL VIEW explode(sequence(-2, 2)) _dy AS dy")
        dx_expr, dy_expr = "dx", "dy"
        w = "(40 DIV (dx * dx + dy * dy))"
    else:
        dxy_from = ", (SELECT unnest(range(-2, 3)) AS dx), (SELECT unnest(range(-2, 3)) AS dy)"
        dx_expr, dy_expr = "dx", "dy"
        w = "(40 // (dx * dx + dy * dy))"
    return f"""
WITH counts AS (
  SELECT {cell} AS cell, count(*) AS c_n FROM ({points_sql}) GROUP BY 1
),
stations AS (
  SELECT {ux} AS x, {uy} AS y, c_n FROM counts WHERE c_n >= {min_n}
),
spread AS (
  SELECT x + {dx_expr} AS tx, y + {dy_expr} AS ty,
         {w} * c_n AS wn, {w} AS w
  FROM stations {dxy_from}
  WHERE NOT ({dx_expr} = 0 AND {dy_expr} = 0)
    AND x + {dx_expr} >= 0 AND x + {dx_expr} <= {n - 1}
    AND y + {dy_expr} >= 0 AND y + {dy_expr} <= {n - 1}
),
contrib AS (
  SELECT {grid.pack_sql(res, 'tx', 'ty')} AS cell,
         CAST(sum(wn) AS BIGINT) AS swn, CAST(sum(w) AS BIGINT) AS sw
  FROM spread GROUP BY 1
)
SELECT c.cell,
       CAST(c.swn AS DOUBLE) / CAST(c.sw AS DOUBLE) AS est,
       c.sw AS w_total
FROM contrib c LEFT JOIN counts k ON c.cell = k.cell
WHERE k.cell IS NULL
"""
