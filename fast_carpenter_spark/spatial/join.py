"""Spatial join — cell-cover equi-join + exact PIP refine.

The genuinely new operator (the reference has NO join at all — datasets are
only concatenated, ref: fast_carpenter/selection/stage.py:71): join document
span points to the polygons containing them.

Plan shape (designed for 10^12 docs x large polygon sets):

1. **Cover**: each polygon gets a set of candidate cells at an adaptive
   resolution — the finest level from ``COVER_RESOLUTIONS`` whose bbox
   covers at most ``max_cells`` cells (giant polygons get coarse cells, so
   cover size is bounded; an S2-style multi-level covering).  Computed with
   numpy on the (small) polygon table, exploded to (res, cell, poly...).
2. **Equi-join**: points carry their cell at each cover resolution (pure
   SQL shifts of the base-res cell).  One hash equi-join per cover level,
   unioned — every join is on a plain BIGINT key, so Catalyst broadcasts
   small covers or shuffles with AQE skew splitting for big ones.
   ``strategy="salted"`` additionally spreads known-hot cells: points get
   ``salt = pmod(xxhash64(doc_uid), nsalt)``, covers are exploded over all
   salts — the classic hot-key fan-out.
3. **Refine**: the exact ray-casting PIP (Arrow-batched numpy) filters the
   candidate pairs.  Cover is a superset, refine is exact, so the result
   equals the brute-force oracle.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame, functions as F

from .. import grid
from .pip import edges_sql, pip_edges_condition_sql, pip_udf

COVER_RESOLUTIONS = (2, 4, 6, 8)


def polygon_covers_local(
    polys: list[dict],
    max_cells: int = 64,
    resolutions: tuple[int, ...] = COVER_RESOLUTIONS,
    max_total_rows: int = 65536,
):
    """(pandas covers table, sorted distinct resolutions) — pure numpy.

    Strategy (measured on the flagship):
    1. **Single-level** when affordable: the finest resolution whose TOTAL
       bbox-cover across all polygons stays under ``max_total_rows`` (still
       broadcast-small).  One cover level means the point side needs NO
       cell explode at all — a single withColumn + one hash probe per span
       (~1.5x faster than the multi-level plan at small polygon counts).
    2. **Multi-level** otherwise (large polygon sets): per polygon the
       finest resolution with <= ``max_cells`` bbox cells — cover size per
       polygon stays bounded, points explode over the distinct levels.
    Driver-side on the small polygon table: no Spark job, no collect.
    """
    import pandas as pd

    # try single-level first (finest affordable)
    for res in sorted(resolutions, reverse=True):
        total = 0
        for d in polys:
            lon = np.asarray(d["ring_lon"], dtype=np.float64)
            lat = np.asarray(d["ring_lat"], dtype=np.float64)
            x0, y0 = grid.encode_xy(lon.min(), lat.min(), res)
            x1, y1 = grid.encode_xy(lon.max(), lat.max(), res)
            total += int(x1 - x0 + 1) * int(y1 - y0 + 1)
            if total > max_total_rows:
                break
        if total <= max_total_rows:
            ids, ress, cells = [], [], []
            for d in polys:
                lon = np.asarray(d["ring_lon"], dtype=np.float64)
                lat = np.asarray(d["ring_lat"], dtype=np.float64)
                x0, y0 = grid.encode_xy(lon.min(), lat.min(), res)
                x1, y1 = grid.encode_xy(lon.max(), lat.max(), res)
                xs = np.arange(int(x0), int(x1) + 1, dtype=np.int64)
                ys = np.arange(int(y0), int(y1) + 1, dtype=np.int64)
                gx, gy = np.meshgrid(xs, ys)
                pc = grid.pack_cells(res, gx.ravel(), gy.ravel())
                ids.extend([d["poly_id"]] * len(pc))
                ress.extend([res] * len(pc))
                cells.extend(pc.tolist())
            return pd.DataFrame({"poly_id": ids, "res": ress, "cell": cells}), [res]

    ids, ress, cells = [], [], []
    for d in polys:
        lon = np.asarray(d["ring_lon"], dtype=np.float64)
        lat = np.asarray(d["ring_lat"], dtype=np.float64)
        chosen = resolutions[0]
        for res in sorted(resolutions, reverse=True):
            x0, y0 = grid.encode_xy(lon.min(), lat.min(), res)
            x1, y1 = grid.encode_xy(lon.max(), lat.max(), res)
            n_cells = int(x1 - x0 + 1) * int(y1 - y0 + 1)
            if n_cells <= max_cells:
                chosen = res
                break
        x0, y0 = grid.encode_xy(lon.min(), lat.min(), chosen)
        x1, y1 = grid.encode_xy(lon.max(), lat.max(), chosen)
        xs = np.arange(int(x0), int(x1) + 1, dtype=np.int64)
        ys = np.arange(int(y0), int(y1) + 1, dtype=np.int64)
        gx, gy = np.meshgrid(xs, ys)
        pc = grid.pack_cells(chosen, gx.ravel(), gy.ravel())
        ids.extend([d["poly_id"]] * len(pc))
        ress.extend([int(chosen)] * len(pc))
        cells.extend(pc.tolist())
    pdf = pd.DataFrame({"poly_id": ids, "res": ress, "cell": cells})
    return pdf, sorted(set(ress))


def polygon_covers(
    spark,
    polys: list[dict],
    max_cells: int = 64,
    resolutions: tuple[int, ...] = COVER_RESOLUTIONS,
) -> DataFrame:
    """(poly_id, res, cell) candidate cells per polygon, as a Spark DF."""
    pdf, _ = polygon_covers_local(polys, max_cells, resolutions)
    return spark.createDataFrame(pdf)


def polygons_frame(spark, polys: list[dict]) -> DataFrame:
    """The polygon layer (list of dicts) as the Spark table
    ``spatial_join`` refines against: (poly_id, region, weight, ring_lon,
    ring_lat)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("poly_id", T.StringType(), False),
            T.StructField("region", T.StringType(), False),
            T.StructField("weight", T.DoubleType(), False),
            T.StructField("ring_lon", T.ArrayType(T.DoubleType(), False), False),
            T.StructField("ring_lat", T.ArrayType(T.DoubleType(), False), False),
        ]
    )
    # float() admits hand-written layers with integer coordinates/weights
    rows = [
        (d["poly_id"], d["region"], float(d["weight"]),
         [float(v) for v in d["ring_lon"]], [float(v) for v in d["ring_lat"]])
        for d in polys
    ]
    return spark.createDataFrame(rows, schema)


def spatial_join(
    points: DataFrame,
    polys_df: DataFrame,
    covers: DataFrame,
    *,
    lon_col: str = "lon",
    lat_col: str = "lat",
    strategy: str = "broadcast",
    nsalt: int = 8,
    salt_key: str = "doc_uid",
    refine: str = "sql",
    resolutions: list[int] | None = None,
) -> DataFrame:
    """Join point rows to containing polygons.

    The packed cell id encodes its resolution in the top bits
    (grid.pack_sql), so all cover levels join on ONE BIGINT key: each point
    explodes over its cell at the distinct cover resolutions (a tiny
    constant-size array, built in codegen — single scan of the input), then
    one hash equi-join against the cover set.

    Returns ``points`` columns + (poly_id, region, weight) of each matching
    polygon; points in no polygon are absent (inner join semantics — use
    ``left_anti`` on the result keys for the complement).

    ``refine="sql"`` (default) runs the ray-casting parity test as a pure
    codegen'd SQL expression; ``refine="udf"`` uses the Arrow-batched numpy
    kernel (same semantics, kept for parity testing).
    """
    if resolutions is None:
        resolutions = sorted({r.res for r in covers.select("res").distinct().collect()})
    if not resolutions:
        raise ValueError("empty polygon cover set")

    point_cols = points.columns
    if len(resolutions) == 1:
        # single-level cover: no explode — one cell per span, one probe
        pts = points.withColumn(
            "_cell", F.expr(grid.cell_sql(lon_col, lat_col, resolutions[0], "spark"))
        )
    else:
        cells_arr = "array({})".format(
            ", ".join(grid.cell_sql(lon_col, lat_col, res, "spark") for res in resolutions)
        )
        pts = points.withColumn("_cell", F.explode(F.expr(cells_arr)))

    cov = covers.select("poly_id", F.col("cell").alias("_cell"))
    if strategy == "broadcast":
        cand = pts.join(F.broadcast(cov), "_cell", "inner")
    elif strategy == "salted":
        # hot-cell fan-out: points spread over nsalt sub-keys, covers
        # replicated across all salts — bounds any single reducer's share
        # of a hot cell to 1/nsalt
        salted_pts = pts.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(salt_key)), F.lit(nsalt)).cast("int")
        )
        salted_cov = cov.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(nsalt - 1)))
        )
        # shuffle_hash hint: the salted strategy is chosen precisely when the
        # cover side is too big to broadcast; without the hint Catalyst
        # re-plans the small test-scale cover as a broadcast join and the
        # salt becomes dead overhead (and the salted exchange never runs).
        cand = (
            salted_pts.join(salted_cov.hint("shuffle_hash"), ["_cell", "_salt"], "inner")
            .drop("_salt")
        )
    elif strategy == "shuffle_hash":
        # unsalted shuffle-hash join: the at-scale regime where the cover
        # side is too big to broadcast but no salting is applied — a single
        # hot cell key lands on ONE reducer.  Kept as the explicit control
        # for the salted strategy's skew kill-test (bench.py); AQE's skew
        # split does not rescue it at bench scale because the hot partition
        # sits far under skewJoin.skewedPartitionThresholdInBytes (256 MB).
        cand = pts.join(cov.hint("shuffle_hash"), "_cell", "inner")
    else:  # plain shuffle join; AQE skew handling applies
        cand = pts.join(cov, "_cell", "inner")
    cand = cand.drop("_cell")

    polys_small = polys_df.select(
        "poly_id", "region", "weight", "ring_lon", "ring_lat"
    ).withColumn("_edges", F.expr(edges_sql()))
    if refine == "udf":
        cand = cand.join(
            F.broadcast(polys_small.drop("_edges")), "poly_id"
        )
        refined = cand.filter(
            pip_udf(F.col(lon_col), F.col(lat_col), F.col("ring_lon"), F.col("ring_lat"))
        )
    else:
        cand = cand.join(
            F.broadcast(polys_small.drop("ring_lon", "ring_lat")), "poly_id"
        )
        refined = cand.filter(
            F.expr(pip_edges_condition_sql(lon_col, lat_col, "_edges"))
        )
    return refined.select(*point_cols, "poly_id", "region", "weight")


@dataclass
class SpatialJoinStage:
    """Pipeline-stage wrapper: points df -> points x containing-polygons."""

    name: str
    polygons: list[dict]
    lon_col: str = "lon"
    lat_col: str = "lat"
    strategy: str = "broadcast"
    nsalt: int = 8
    max_cells: int = 64
    refine: str = "sql"

    def apply(self, df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        covers_pd, resolutions = polygon_covers_local(self.polygons, self.max_cells)
        covers = spark.createDataFrame(covers_pd)
        return spatial_join(
            df, polygons_frame(spark, self.polygons), covers,
            lon_col=self.lon_col, lat_col=self.lat_col,
            strategy=self.strategy, nsalt=self.nsalt, refine=self.refine,
            resolutions=resolutions,
        )
