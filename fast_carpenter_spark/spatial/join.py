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
   Each bbox cell is classified: *outside* cells are dropped, *inside*
   cells are tagged, *boundary* cells are kept untagged.
2. **Equi-join**: points carry their cell at each cover resolution (pure
   SQL shifts of the base-res cell).  One hash equi-join per cover level,
   unioned — every join is on a plain BIGINT key.  ``strategy="broadcast"``
   (default) broadcasts the cover; ``"shuffle_hash"`` shuffles both sides;
   ``"salted"`` additionally spreads known-hot cells: points get
   ``salt = pmod(xxhash64(doc_uid), nsalt)``, covers are exploded over all
   salts — the classic hot-key fan-out.
3. **Refine**: the exact ray-casting PIP (a codegen'd SQL expression over
   the polygon's edge array) filters the candidate pairs from boundary
   cells; pairs from inside cells pass as they are (``_inside OR <PIP>``).

Exactness: a cell is inside or outside only when no polygon edge touches
its closed rectangle widened by ``COVER_EPS``, a margin far above the
double rounding of both the cell floor and the crossing formula, and never
on the grid edge, where out-of-range points are clamped in.  Even-odd
parity is constant on a region no edge touches, so every point that floors
into such a cell has the parity of the cell centre: dropped cells hold no
match and inside cells no miss, and the result equals the brute-force
oracle.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame, functions as F

from .. import grid
from ..session import local_frame
from .knn import _ragged, check_nsalt
from .pip import edges_sql, pip_edges_condition_sql

COVER_RESOLUTIONS = (2, 4, 6, 8)
STRATEGIES = ("broadcast", "salted", "shuffle_hash")

# A cover cell is tagged inside or outside only when no polygon edge touches
# its closed rectangle widened by COVER_EPS degrees.  That is far above the
# ~1e-13 degree double rounding of ``axis_sql``'s floor (a point that floors
# into a cell lies at most that far outside its true rectangle) and of the
# crossing formula's intersection abscissa, so every point that floors into
# a tagged cell shares the cell centre's edge-free region, and its parity.
COVER_EPS = 1e-9
# edge x cell pairs one ring's classification may enumerate; past it every
# cell of the ring stays boundary (exact, just unaccelerated)
_PAIR_BUDGET = 1 << 21


def _bbox(lon: np.ndarray, lat: np.ndarray, res: int) -> tuple[int, int, int, int]:
    """(x0, y0, x1, y1): the ring's bbox in cell coordinates at ``res``."""
    x0, y0 = grid.encode_xy(lon.min(), lat.min(), res)
    x1, y1 = grid.encode_xy(lon.max(), lat.max(), res)
    return int(x0), int(y0), int(x1), int(y1)


def _bbox_size(lon: np.ndarray, lat: np.ndarray, res: int) -> int:
    x0, y0, x1, y1 = _bbox(lon, lat, res)
    return (x1 - x0 + 1) * (y1 - y0 + 1)


def _classified_cells(lon: np.ndarray, lat: np.ndarray, res: int):
    """(cells, inside) of one ring at ``res``: its bbox cells minus the
    outside ones, and which of the kept cells lie wholly inside.

    A cell is *boundary* (kept, untagged) when an edge touches its closed
    rectangle widened by the margin (separating-axis test, segment vs box)
    or when it lies on the grid edge, where ``encode_xy``/``axis_sql``
    clamp out-of-range points into it.  Any other cell lies in one region
    no edge touches, where even-odd parity is constant: it is inside iff
    its centre's crossing count, by the formula of
    ``pip_edges_condition_sql``, is odd.
    """
    n = 1 << res
    w, h = 360.0 / n, 180.0 / n
    x0, y0, x1, y1 = _bbox(lon, lat, res)
    nx, ny = x1 - x0 + 1, y1 - y0 + 1
    gy, gx = np.divmod(np.arange(nx * ny, dtype=np.int64), nx)
    gx += x0
    gy += y0
    cells = grid.pack_cells(res, gx, gy)
    boundary = (gx == 0) | (gx == n - 1) | (gy == 0) | (gy == n - 1)

    # rounding in the crossing formula grows with the coordinates' magnitude
    m = max(COVER_EPS, 2.0**-40 * float(np.abs(np.r_[lon, lat]).max()))
    ax, ay = lon, lat
    bx, by = np.roll(lon, -1), np.roll(lat, -1)
    # each edge's candidate cells: its bbox widened by the margin and one
    # cell each way (rounding of the index arithmetic), clipped to the bbox
    c_lo = np.clip(np.floor((np.minimum(ax, bx) - m + 180.0) / w) - 1, x0, x1).astype(np.int64)
    c_hi = np.clip(np.floor((np.maximum(ax, bx) + m + 180.0) / w) + 1, x0, x1).astype(np.int64)
    r_lo = np.clip(np.floor((np.minimum(ay, by) - m + 90.0) / h) - 1, y0, y1).astype(np.int64)
    r_hi = np.clip(np.floor((np.maximum(ay, by) + m + 90.0) / h) + 1, y0, y1).astype(np.int64)
    ncol, nrow = c_hi - c_lo + 1, r_hi - r_lo + 1
    if int((ncol * nrow).sum()) > _PAIR_BUDGET:
        return cells, np.zeros(len(cells), dtype=bool)

    # boundary: separating axes of the segment and the widened closed cell
    e = np.repeat(np.arange(len(lon)), ncol * nrow)
    k = _ragged(np.zeros(len(lon), dtype=np.int64), ncol * nrow)
    col = c_lo[e] + k % ncol[e]
    row = r_lo[e] + k // ncol[e]
    dx, dy = (bx - ax)[e] / 2, (by - ay)[e] / 2
    tx = (ax[e] + bx[e]) / 2 - ((col + 0.5) * w - 180.0)
    ty = (ay[e] + by[e]) / 2 - ((row + 0.5) * h - 90.0)
    hx, hy = w / 2 + m, h / 2 + m
    # written as "separated" so that a NaN (overflowing ring) counts as touching
    apart = (
        (np.abs(tx) > hx + np.abs(dx))
        | (np.abs(ty) > hy + np.abs(dy))
        | (np.abs(tx * dy - ty * dx) > hx * np.abs(dy) + hy * np.abs(dx))
    )
    boundary[((row - y0) * nx + col - x0)[~apart]] = True

    # parity per row: the edges straddling the row's centre line, each
    # counted for the cell centres left of its crossing
    e = np.repeat(np.arange(len(lon)), nrow)
    row = _ragged(r_lo, nrow)
    py = (row + 0.5) * h - 90.0
    s = (ay[e] > py) != (by[e] > py)
    e, row, py = e[s], row[s], py[s]
    xing = (bx[e] - ax[e]) * (py - ay[e]) / (by[e] - ay[e]) + ax[e]
    px = (np.arange(x0, x1 + 1) + 0.5) * w - 180.0
    j = np.searchsorted(px, xing, side="left")  # centres with px < crossing
    hits = np.bincount((row - y0) * (nx + 1) + j, minlength=ny * (nx + 1))
    right = hits.reshape(ny, nx + 1)[:, ::-1].cumsum(axis=1)[:, ::-1][:, 1:]
    inside = (right.ravel() % 2 == 1) & ~boundary
    keep = boundary | inside
    return cells[keep], inside[keep]


def polygon_covers_local(
    polys: list[dict],
    max_cells: int = 64,
    resolutions: tuple[int, ...] = COVER_RESOLUTIONS,
    max_total_rows: int = 65536,
):
    """(pandas covers table, sorted distinct resolutions) — pure numpy.

    The table has one row (poly_id, res, cell, inside) per kept cell of a
    polygon's bbox cover: cells wholly outside the polygon are dropped,
    ``inside`` marks cells wholly inside it (their pairs skip the PIP
    refine), the rest are boundary cells (see ``_classified_cells``).

    Resolution (measured on the flagship):
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

    rings = [
        (np.asarray(d["ring_lon"], dtype=np.float64), np.asarray(d["ring_lat"], dtype=np.float64))
        for d in polys
    ]
    finest = sorted(resolutions, reverse=True)
    single = next(
        (res for res in finest
         if sum(_bbox_size(lon, lat, res) for lon, lat in rings) <= max_total_rows),
        None,
    )
    if single is not None:
        levels = [single] * len(rings)
    else:
        levels = [
            next((res for res in finest if _bbox_size(lon, lat, res) <= max_cells),
                 resolutions[0])
            for lon, lat in rings
        ]
    parts = [_classified_cells(lon, lat, res) for (lon, lat), res in zip(rings, levels)]
    counts = [len(cells) for cells, _ in parts]
    pdf = pd.DataFrame({
        "poly_id": np.repeat(np.array([d["poly_id"] for d in polys], dtype=object), counts),
        "res": np.repeat(np.array(levels, dtype=np.int64), counts),
        "cell": np.concatenate([c for c, _ in parts] or [np.zeros(0, np.int64)]),
        "inside": np.concatenate([i for _, i in parts] or [np.zeros(0, bool)]),
    })
    return pdf, sorted(set(levels))


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
    # Arrow casts hand-written integer coordinates/weights to double
    rows = [(d["poly_id"], d["region"], d["weight"], d["ring_lon"], d["ring_lat"]) for d in polys]
    return local_frame(spark, rows, schema)


def _check_strategy(strategy: str) -> None:
    if strategy not in STRATEGIES:
        raise ValueError(
            f"unknown spatial join strategy {strategy!r}; use one of {STRATEGIES}"
        )


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
    resolutions: list[int],
) -> DataFrame:
    """Join point rows to containing polygons.

    The packed cell id encodes its resolution in the top bits
    (grid.pack_sql), so all cover levels join on ONE BIGINT key: each point
    explodes over its cell at the distinct cover resolutions (a tiny
    constant-size array, built in codegen — single scan of the input), then
    one hash equi-join against the cover set.

    ``covers`` is a ``polygon_covers_local`` table and ``resolutions`` its
    distinct levels.  Pairs from ``inside`` cells match without the refine;
    the ray-cast runs only on pairs from boundary cells.

    Returns ``points`` columns + (poly_id, region, weight) of each matching
    polygon; points in no polygon are absent (inner join semantics — use
    ``left_anti`` on the result keys for the complement).

    ``strategy`` is one of ``STRATEGIES``; anything else raises
    ``ValueError``.  The refine is the ray-casting parity test as a
    codegen'd SQL expression.
    """
    _check_strategy(strategy)
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

    cov = covers.select(
        "poly_id", F.col("cell").alias("_cell"), F.col("inside").alias("_inside")
    )
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
    else:  # "shuffle_hash"
        # unsalted shuffle-hash join: the at-scale regime where the cover
        # side is too big to broadcast but no salting is applied — a single
        # hot cell key lands on ONE reducer.  Kept as the explicit control
        # for the salted strategy's skew kill-test (bench.py); AQE's skew
        # split does not rescue it at bench scale because the hot partition
        # sits far under skewJoin.skewedPartitionThresholdInBytes (256 MB).
        cand = pts.join(cov.hint("shuffle_hash"), "_cell", "inner")
    cand = cand.drop("_cell")

    polys_small = polys_df.select(
        "poly_id", "region", "weight", F.expr(edges_sql()).alias("_edges")
    )
    refined = cand.join(F.broadcast(polys_small), "poly_id").filter(
        F.col("_inside") | F.expr(pip_edges_condition_sql(lon_col, lat_col, "_edges"))
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

    def __post_init__(self) -> None:
        # the cover classifier trusts the rings and pmod trusts the salt
        # count: reject bad ones here, not as mis-tagged cells or a JVM
        # trace at the first action
        _check_strategy(self.strategy)
        check_nsalt(self.nsalt)
        seen = set()
        for d in self.polygons:
            pid = d["poly_id"]
            lon, lat = d["ring_lon"], d["ring_lat"]
            if len(lon) != len(lat):
                raise ValueError(
                    f"polygon {pid!r}: ring_lon has {len(lon)} vertices, ring_lat {len(lat)}"
                )
            if len(lon) < 3:
                raise ValueError(f"polygon {pid!r}: a ring needs 3 vertices, got {len(lon)}")
            if not np.isfinite(np.asarray([lon, lat], dtype=np.float64)).all():
                raise ValueError(f"polygon {pid!r}: non-finite ring coordinate")
            if pid in seen:
                raise ValueError(f"duplicate poly_id {pid!r}")
            seen.add(pid)

    def apply(self, df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        covers_pd, resolutions = polygon_covers_local(self.polygons, self.max_cells)
        covers = local_frame(
            spark, covers_pd, "poly_id string, res bigint, cell bigint, inside boolean"
        )
        return spatial_join(
            df, polygons_frame(spark, self.polygons), covers,
            lon_col=self.lon_col, lat_col=self.lat_col,
            strategy=self.strategy, nsalt=self.nsalt,
            resolutions=resolutions,
        )
