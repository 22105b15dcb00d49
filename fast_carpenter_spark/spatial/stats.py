"""Grid-field statistics: Getis–Ord Gi* hotspot detection over the tile grid.

The BinnedDataframe analogue taken one step further: after the per-cell
aggregate (ref role: fast_carpenter/summary/binned_dataframe.py densified
counts), classify each occupied cell as a hot/cold spot by z-scoring its
ring-1 neighbourhood sum against the global field — the standard Gi*
statistic over the occupied-cell field.

Determinism: every input to the z formula (local ring sum, ring degree,
global cell count, Σn, Σn²) is an exact BIGINT; the final double formula is
the *same expression text* on both engines, so the IEEE evaluation is
bit-identical and the driver's value-hash comparison is exact.

Scale shape (100 TB): one shuffle to the cell grid (partial agg map-side),
a 9-offset constant explode (no join) for the neighbourhood, one co-
partitioned self-join to restrict targets to occupied cells, and a 1-row
global aggregate broadcast back.  No data-sized broadcast, no skew pivot —
hot cells only widen one group by 9×.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import grid


def _z_sql(local: str, wdeg: str, n_cells: str, tot: str, tot2: str) -> str:
    """Gi* z-score fragment — dialect-neutral (sqrt / arithmetic only), so
    the identical text runs on Spark and DuckDB and produces bit-identical
    doubles from the exact integer inputs."""
    mu = f"(CAST({tot} AS DOUBLE) / CAST({n_cells} AS DOUBLE))"
    sd = f"sqrt(CAST({tot2} AS DOUBLE) / CAST({n_cells} AS DOUBLE) - {mu} * {mu})"
    num = f"(CAST({local} AS DOUBLE) - CAST({wdeg} AS DOUBLE) * {mu})"
    den = (
        f"({sd} * sqrt((CAST({n_cells} AS DOUBLE) * CAST({wdeg} AS DOUBLE)"
        f" - CAST({wdeg} AS DOUBLE) * CAST({wdeg} AS DOUBLE))"
        f" / (CAST({n_cells} AS DOUBLE) - 1.0)))"
    )
    return f"({num} / {den})"


def _ring1(cells: DataFrame, res: int, *, own: bool = True) -> DataFrame:
    """``cells`` (a ``cell`` column at ``res`` plus values) once per
    in-grid cell of its ring-1 neighbourhood, the target cell id replacing
    ``cell``; ``own=False`` drops the cell itself (queen weights)."""
    x = grid.unpack_x_sql("cell", "spark")
    y = grid.unpack_y_sql("cell", "spark")
    out = grid.explode_cells(
        cells.withColumn("_x", F.expr(x)).withColumn("_y", F.expr(y)),
        res, "_x - 1", "_x + 1", "_y - 1", "_y + 1", cell="cell",
    )
    return out if own else out.filter("_nx != _x OR _ny != _y")


def gi_star(tiles: DataFrame, res: int) -> DataFrame:
    """Hotspot z-score per occupied cell.

    ``tiles`` must be ``(cell BIGINT, n BIGINT)`` — the per-cell count at
    resolution ``res``.  Returns (cell, n, local_sum, wdeg, gi_z) where
    local_sum/wdeg sum/count the occupied ring-1 neighbourhood (self
    included, Gi* convention).
    """
    contrib = _ring1(tiles, res).select("cell", "n")
    # Ring sums over ALL targets, then inner-join back to the occupied set:
    # both sides are keyed (and already shuffled) on `cell`, so the join is
    # co-partitioned — no extra exchange — and it both restricts the field
    # to occupied cells and recovers each cell's own count.
    loc = contrib.groupBy("cell").agg(
        F.sum("n").alias("l_sum"), F.count(F.lit(1)).alias("wdeg")
    )
    occupied = loc.join(tiles, "cell")
    glob = tiles.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("n").alias("tot"),
        F.sum(F.expr("n * n")).alias("tot2"),
    )
    z = _z_sql("l_sum", "wdeg", "n_cells", "tot", "tot2")
    return occupied.crossJoin(F.broadcast(glob)).selectExpr(
        "cell", "n", "l_sum AS local_sum", "wdeg", f"{z} AS gi_z"
    )


def _moran_sql(n_cells: str, w: str, num: str, den: str) -> tuple[str, str]:
    """(Moran's I, null expectation) fragments — dialect-neutral text so
    the doubles are bit-identical given exact integer inputs."""
    i = (
        f"((CAST({n_cells} AS DOUBLE) / CAST({w} AS DOUBLE)) * "
        f"(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE)))"
    )
    e = f"(-1.0 / (CAST({n_cells} AS DOUBLE) - 1.0))"
    return i, e


def moran_i(tiles: DataFrame, res: int) -> DataFrame:
    """Global Moran's I spatial autocorrelation of the per-cell count field
    over occupied cells, binary queen (ring-1, self-excluded) weights.

    All sums stay in exact BIGINT arithmetic via scaled deviations
    ``d_i = n_cells*n_i - tot`` (= n_cells²·(x_i - x̄); the scale cancels in
    the num/den ratio), so the single final double expression is
    bit-identical across engines.  At 100 TB cell counts the d_i·d_j
    products approach int64 range — switch the two sums to DECIMAL(38,0)
    there; the shape is unchanged.

    One row: (n_cells, w_pairs, num, den, moran_i, e_i).  Scale shape: one
    shuffle to the cell grid upstream, an 8-offset constant explode, one
    co-partitioned self-join, 1-row aggregates with a broadcast of the
    3-value global tuple — same skeleton as gi_star.
    """
    glob = tiles.agg(
        F.count(F.lit(1)).alias("n_cells"), F.sum("n").alias("tot")
    )
    # materialized once (localCheckpoint; reliable checkpoint/persist on a
    # real cluster): three consumers below — without it each re-plans the
    # scan + global aggregate + cross
    dev = (
        tiles.crossJoin(F.broadcast(glob))
        .select("cell", "n_cells", F.expr("n_cells * n - tot").alias("d"))
        .localCheckpoint()
    )
    nbr = _ring1(dev, res, own=False).select(
        "cell", F.col("d").alias("d_i")
    )
    # co-partitioned on `cell`: both sides keyed by the packed cell id
    pair_sums = nbr.join(dev.select("cell", F.col("d").alias("d_j")), "cell").agg(
        F.sum(F.expr("d_i * d_j")).alias("num"),
        F.count(F.lit(1)).alias("w_pairs"),
    )
    den = dev.agg(
        F.max("n_cells").alias("n_cells"), F.sum(F.expr("d * d")).alias("den")
    )
    mi, me = _moran_sql("n_cells", "w_pairs", "num", "den")
    return pair_sums.crossJoin(F.broadcast(den)).selectExpr(
        "n_cells", "w_pairs", "num", "den", f"{mi} AS moran_i", f"{me} AS e_i"
    )


_LISA_I = (
    "(CAST(n_cells AS DOUBLE) * CAST(d AS DOUBLE) * CAST(lag AS DOUBLE) "
    "/ CAST(den AS DOUBLE))"
)
# quadrant from the SIGNS of exact integers — no float in the classifier
_LISA_QUAD = (
    "CASE WHEN d = 0 OR lag = 0 THEN 'NA' "
    "WHEN d > 0 AND lag > 0 THEN 'HH' "
    "WHEN d < 0 AND lag < 0 THEN 'LL' "
    "WHEN d > 0 THEN 'HL' ELSE 'LH' END"
)


def local_moran(tiles: DataFrame, res: int) -> DataFrame:
    """Local Moran's I (LISA) per occupied cell with hot/cold quadrant
    classification — the per-cell companion to :func:`moran_i`.

    With scaled deviations d_i = n·x_i − Σx (exact BIGINT) and binary
    queen weights, I_i = n · d_i · lag_i / Σd² where lag_i sums the
    OCCUPIED ring-1 neighbours' deviations; the quadrant (HH/LL/HL/LH)
    compares integer signs only, so classification is exact and the one
    double is a single mul/div expression (no accumulation) —
    bit-identical across engines.  Same scale skeleton as moran_i/gi_star.
    Returns (cell, d, lag, lisa_i, quadrant).
    """
    glob = tiles.agg(F.count(F.lit(1)).alias("n_cells"), F.sum("n").alias("tot"))
    dev = (
        tiles.crossJoin(F.broadcast(glob))
        .select("cell", "n_cells", F.expr("n_cells * n - tot").alias("d"))
        .localCheckpoint()
    )
    contrib = _ring1(dev, res, own=False).select(
        "cell", F.col("d").alias("d_nbr")
    )
    lag = contrib.groupBy("cell").agg(F.sum("d_nbr").alias("lag"))
    den = dev.agg(F.max("n_cells").alias("n_cells"), F.sum(F.expr("d * d")).alias("den"))
    return (
        dev.select("cell", "d")
        # left join: an isolated cell (no occupied neighbour) keeps lag=0
        # -> quadrant 'NA', not a silently dropped row
        .join(lag, "cell", "left")  # co-partitioned: both sides keyed on cell
        .withColumn("lag", F.coalesce("lag", F.lit(0)))
        .crossJoin(F.broadcast(den))
        .selectExpr("cell", "d", "lag", f"{_LISA_I} AS lisa_i", f"{_LISA_QUAD} AS quadrant")
    )


def local_moran_oracle_sql(tiles_sql: str, res: int) -> str:
    """DuckDB oracle twin of :func:`local_moran` (HUGEINT sums cast back)."""
    nside = 1 << res
    ux = grid.unpack_x_sql("cell", "duck")
    uy = grid.unpack_y_sql("cell", "duck")
    return f"""
WITH tiles AS ({tiles_sql}),
g AS (SELECT count(*) AS n_cells, CAST(sum(n) AS BIGINT) AS tot FROM tiles),
dev AS (SELECT cell, n_cells, n_cells * n - tot AS d FROM tiles CROSS JOIN g),
contrib AS (
  SELECT {grid.pack_sql(res, f"({ux} + dx)", f"({uy} + dy)")} AS cell, d AS d_nbr
  FROM dev,
       (SELECT unnest(range(-1, 2)) AS dx),
       (SELECT unnest(range(-1, 2)) AS dy)
  WHERE NOT (dx = 0 AND dy = 0)
    AND {ux} + dx BETWEEN 0 AND {nside - 1}
    AND {uy} + dy BETWEEN 0 AND {nside - 1}
),
lagt AS (SELECT cell, CAST(sum(d_nbr) AS BIGINT) AS lag FROM contrib GROUP BY 1),
q AS (SELECT max(n_cells) AS n_cells, CAST(sum(d * d) AS BIGINT) AS den FROM dev)
SELECT cell, d, lag, {_LISA_I} AS lisa_i, {_LISA_QUAD} AS quadrant
FROM (
  SELECT dev.cell, dev.d, COALESCE(lagt.lag, 0) AS lag, q.n_cells, q.den
  FROM dev LEFT JOIN lagt USING (cell) CROSS JOIN q
) t
"""


def moran_i_oracle_sql(tiles_sql: str, res: int) -> str:
    """DuckDB oracle: same exact-integer algorithm, independent evaluator;
    integer sums cast back to BIGINT (DuckDB widens to HUGEINT)."""
    nside = 1 << res
    ux = grid.unpack_x_sql("cell", "duck")
    uy = grid.unpack_y_sql("cell", "duck")
    mi, me = _moran_sql("n_cells", "w_pairs", "num", "den")
    return f"""
WITH tiles AS ({tiles_sql}),
g AS (SELECT count(*) AS n_cells, CAST(sum(n) AS BIGINT) AS tot FROM tiles),
dev AS (SELECT cell, n_cells, n_cells * n - tot AS d FROM tiles CROSS JOIN g),
nbr AS (
  SELECT {grid.pack_sql(res, f"({ux} + dx)", f"({uy} + dy)")} AS cell, d AS d_i
  FROM dev,
       (SELECT unnest(range(-1, 2)) AS dx),
       (SELECT unnest(range(-1, 2)) AS dy)
  WHERE NOT (dx = 0 AND dy = 0)
    AND {ux} + dx BETWEEN 0 AND {nside - 1}
    AND {uy} + dy BETWEEN 0 AND {nside - 1}
),
p AS (
  SELECT CAST(sum(d_i * d_j) AS BIGINT) AS num, count(*) AS w_pairs
  FROM nbr JOIN (SELECT cell, d AS d_j FROM dev) USING (cell)
),
q AS (SELECT max(n_cells) AS n_cells, CAST(sum(d * d) AS BIGINT) AS den FROM dev)
SELECT n_cells, w_pairs, num, den, {mi} AS moran_i, {me} AS e_i
FROM p CROSS JOIN q
"""


def gi_star_oracle_sql(tiles_sql: str, res: int) -> str:
    """DuckDB oracle: same algorithm, independent SQL evaluator.  Integer
    sums are cast back to BIGINT (DuckDB sum() yields HUGEINT)."""
    nside = 1 << res
    ux = grid.unpack_x_sql("cell", "duck")
    uy = grid.unpack_y_sql("cell", "duck")
    z = _z_sql("l_sum", "wdeg", "n_cells", "tot", "tot2")
    return f"""
WITH tiles AS ({tiles_sql}),
contrib AS (
  SELECT {grid.pack_sql(res, f"({ux} + dx)", f"({uy} + dy)")} AS tcell, n
  FROM tiles,
       (SELECT unnest(range(-1, 2)) AS dx),
       (SELECT unnest(range(-1, 2)) AS dy)
  WHERE {ux} + dx BETWEEN 0 AND {nside - 1}
    AND {uy} + dy BETWEEN 0 AND {nside - 1}
),
loc AS (
  SELECT tcell AS cell, CAST(sum(n) AS BIGINT) AS l_sum, count(*) AS wdeg
  FROM contrib GROUP BY 1
),
g AS (
  SELECT count(*) AS n_cells, CAST(sum(n) AS BIGINT) AS tot,
         CAST(sum(n * n) AS BIGINT) AS tot2
  FROM tiles
)
SELECT t.cell, t.n, l.l_sum AS local_sum, l.wdeg AS wdeg, {z} AS gi_z
FROM loc l JOIN tiles t USING (cell) CROSS JOIN g
"""


# --- bivariate Moran's I (cross-layer spatial association) --------------------

_BIMORAN_I = (
    "((CAST(n_cells AS DOUBLE) / CAST(w_pairs AS DOUBLE)) * "
    "(CAST(num AS DOUBLE) / (SQRT(CAST(sx2 AS DOUBLE)) * "
    "SQRT(CAST(sy2 AS DOUBLE)))))"
)


def bivariate_moran(tiles: DataFrame, res: int) -> DataFrame:
    """Bivariate (cross) Moran's I between two per-cell fields — "do
    x-heavy tiles neighbour y-heavy tiles?": I_xy = (n/W) · Σ_ij w_ij
    dx_i dy_j / sqrt(Σdx² · Σdy²) with binary queen (ring-1,
    self-excluded) weights over the occupied-cell universe.

    ``tiles`` carries (cell, nx, ny).  Same exact-BIGINT scaled-deviation
    trick as :func:`moran_i` (d = n_cells·v − tot; the scale cancels), so
    num/sx2/sy2 are exact integers and the single final double is
    bit-identical across engines.  Scale shape unchanged from moran_i:
    constant 8-offset explode, ONE co-partitioned cell join, 1-row
    aggregates + broadcast global tuple."""
    glob = tiles.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("nx").alias("totx"),
        F.sum("ny").alias("toty"),
    )
    dev = (
        tiles.crossJoin(F.broadcast(glob))
        .select(
            "cell", "n_cells",
            F.expr("n_cells * nx - totx").alias("dx_"),
            F.expr("n_cells * ny - toty").alias("dy_"),
        )
        .localCheckpoint()
    )
    nbr = _ring1(dev, res, own=False).select(
        "cell", F.col("dx_").alias("d_i")
    )
    pair_sums = nbr.join(dev.select("cell", F.col("dy_").alias("d_j")), "cell").agg(
        F.sum(F.expr("d_i * d_j")).alias("num"),
        F.count(F.lit(1)).alias("w_pairs"),
    )
    den = dev.agg(
        F.max("n_cells").alias("n_cells"),
        F.sum(F.expr("dx_ * dx_")).alias("sx2"),
        F.sum(F.expr("dy_ * dy_")).alias("sy2"),
    )
    return pair_sums.crossJoin(F.broadcast(den)).selectExpr(
        "n_cells", "w_pairs", "num", "sx2", "sy2", f"{_BIMORAN_I} AS moran_xy"
    )


def bivariate_moran_oracle_sql(tiles_sql: str, res: int) -> str:
    """DuckDB twin: same exact-integer recurrence, independent evaluator."""
    nside = 1 << res
    ux = grid.unpack_x_sql("cell", "duck")
    uy = grid.unpack_y_sql("cell", "duck")
    return f"""
WITH tiles AS ({tiles_sql}),
g AS (SELECT count(*) AS n_cells, CAST(sum(nx) AS BIGINT) AS totx,
             CAST(sum(ny) AS BIGINT) AS toty FROM tiles),
dev AS (SELECT cell, n_cells, n_cells * nx - totx AS dx_,
               n_cells * ny - toty AS dy_ FROM tiles CROSS JOIN g),
nbr AS (
  SELECT {grid.pack_sql(res, f"({ux} + dx)", f"({uy} + dy)")} AS cell, dx_ AS d_i
  FROM dev,
       (SELECT unnest(range(-1, 2)) AS dx),
       (SELECT unnest(range(-1, 2)) AS dy)
  WHERE NOT (dx = 0 AND dy = 0)
    AND {ux} + dx BETWEEN 0 AND {nside - 1}
    AND {uy} + dy BETWEEN 0 AND {nside - 1}
),
p AS (
  SELECT CAST(sum(d_i * d_j) AS BIGINT) AS num, count(*) AS w_pairs
  FROM nbr JOIN (SELECT cell, dy_ AS d_j FROM dev) USING (cell)
),
q AS (SELECT max(n_cells) AS n_cells, CAST(sum(dx_ * dx_) AS BIGINT) AS sx2,
             CAST(sum(dy_ * dy_) AS BIGINT) AS sy2 FROM dev)
SELECT n_cells, w_pairs, num, sx2, sy2, {_BIMORAN_I} AS moran_xy
FROM p CROSS JOIN q
"""
