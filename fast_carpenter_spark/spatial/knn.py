"""kNN neighbour lists: cell-ring join forms and the halo-exchange kernel.

Per-document nearest neighbours: each document is represented by its first
span's point; the top-k win by (distance, neighbour doc_id) — a
deterministic tie-break so the DuckDB oracle reproduces the exact rows
(SURVEY.md §7 risk 5).  Two executions of the same contract:

* **join forms** (``knn_bounded`` planar, ``knn_geo`` geodesic): pure
  DataFrame algebra — explode each point over its ring cells, hash
  equi-join them against the points-by-cell table (the only shuffle, keyed
  by BIGINT cell), window ``row_number()`` <= k.  The bounded ring makes
  this a single join round (vs. iterative expansion, SURVEY.md §2.4), but
  every candidate pair is a shuffled join row: quadratic in any point mass.
* **halo-exchange kernel** (``knn_local`` planar, ``knn_geo_local``
  geodesic): one shared implementation, ``_halo_knn``.  Points shuffle once
  to parent blocks of grid cells (plus a ghost copy to each block their
  ring reaches), and one numpy function per block, ``_knn_block``,
  evaluates the ring candidates as dense SIMD distance blocks.  Planar and
  geodesic differ only in the point embedding (2-D (lon, lat) or the
  unit-sphere chord space), the ring enumeration (constant and clamped, or
  latitude-dependent and wrapped at the antimeridian) and an optional
  radius cutoff.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from .. import grid


def auto_res(n_points: int, target_per_cell: float = 5.0, lo: int = 3, hi: int = 20) -> int:
    """Density-adaptive grid resolution: ~target_per_cell points per cell
    (4^res cells).  A fixed resolution blows up quadratically with density —
    candidates/point = ring_cells * density — so resolution MUST scale with
    the point count (the 100 TB knob)."""
    cells_needed = max(1.0, n_points / target_per_cell)
    res = math.ceil(math.log(cells_needed, 4))
    return max(lo, min(hi, res))


def _topk_row_idx(d2, kk):
    """Exact drop-in for ``np.argsort(d2, axis=1, kind="stable")[:, :kk]``
    on a 2-D distance block — same indices, same (value, column) tie order —
    without the full O(n log n) row sort.

    Row classes (decided per row, vectorized):

    * **easy** — the row-minimum's tie class alone fills the top-kk (the
      degenerate point-mass regime: the synthetic hot cell collapses 24k
      docs onto ONE position, so every in-blob row is a 24k-deep tie at
      d2 = 0).  Candidates are column-ordered = id-ordered, so the answer
      is simply the first kk columns attaining the minimum: kk
      short-circuiting boolean ``argmax`` scans, O(kk·n) worst case and
      O(kk) on the blob.  This is the case where a naive
      argpartition-everywhere approach is SLOWER than the full sort
      (introselect degrades on equal keys; measured 122ms vs 8ms per
      125x24k block).
    * **hard** — ``argpartition`` O(n) selects an arbitrary kk-subset;
      the boundary tie class (values == the kk-th smallest) is then
      repaired to column order by the same argmax scan, and only the
      selected kk entries per row are stable-sorted (O(kk log kk)).

    Homogeneous chunks (the common case — a block is either dense-blob or
    ordinary) skip the row-subset gather entirely.  Measured on the bench
    block shapes (125x24000): 5.2x vs full argsort on random distances,
    3.7x on the pure blob, 3.7x blob+halo, 20x on few-distinct-value ties;
    exact-equality property-tested in ``tests/test_knn_topk_idx.py``.
    """
    rows, n = d2.shape
    if kk >= n or n <= 64:
        return np.argsort(d2, axis=1, kind="stable")[:, :kk]
    mn = d2.min(axis=1, keepdims=True)
    eq0 = d2 == mn
    easy = eq0.sum(axis=1) >= kk
    out = np.empty((rows, kk), dtype=np.int64)

    def _easy(rowsel, m):
        for j in range(kk):
            first = m.argmax(axis=1)
            out[rowsel, j] = first
            m[np.arange(m.shape[0]), first] = False

    def _hard(rowsel, dh):
        part = np.argpartition(dh, kk - 1, axis=1)[:, :kk]
        thr = np.take_along_axis(dh, part, axis=1).max(axis=1, keepdims=True)
        lt = dh < thr
        need = kk - lt.sum(axis=1)
        eq = dh == thr
        final = lt
        for j in range(int(need.max())):
            first = eq.argmax(axis=1)
            r = np.nonzero(need > j)[0]
            final[r, first[r]] = True
            eq[np.arange(dh.shape[0]), first] = False
        _, cols = np.nonzero(final)
        sel_cols = cols.reshape(-1, kk)
        sel_d2 = np.take_along_axis(dh, sel_cols, axis=1)
        order = np.argsort(sel_d2, axis=1, kind="stable")
        out[rowsel] = np.take_along_axis(sel_cols, order, axis=1)

    if easy.all():
        _easy(slice(None), eq0)
    elif not easy.any():
        _hard(slice(None), d2)
    else:
        e = np.nonzero(easy)[0]
        _easy(e, eq0[e])
        h = np.nonzero(~easy)[0]
        _hard(h, d2[h])
    return out


def knn_bounded(
    points: DataFrame,
    *,
    id_col: str = "doc_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = 5,
    ring: int = 1,
    k: int = 3,
) -> DataFrame:
    """(id, nbr_id, rank, dist2) top-k rows per point."""
    n = 1 << res
    pts = points.select(
        F.col(id_col).alias("_id"),
        F.col(lon_col).alias("_lon"),
        F.col(lat_col).alias("_lat"),
        F.expr(grid.cell_x_sql(lon_col, res, "spark")).alias("_cx"),
        F.expr(grid.cell_y_sql(lat_col, res, "spark")).alias("_cy"),
    )

    ring_cells = pts.select(
        "_id", "_lon", "_lat",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(-{ring}, {ring}), dx -> "
                f"transform(sequence(-{ring}, {ring}), dy -> "
                f"struct(_cx + dx AS x, _cy + dy AS y))))"
            )
        ).alias("_nc"),
    ).filter(
        (F.col("_nc.x") >= 0) & (F.col("_nc.x") < n)
        & (F.col("_nc.y") >= 0) & (F.col("_nc.y") < n)
    ).select(
        "_id", "_lon", "_lat",
        F.expr(grid.pack_sql(res, "_nc.x", "_nc.y")).alias("_cell"),
    )

    others = pts.select(
        F.col("_id").alias("_nbr"),
        F.col("_lon").alias("_nlon"),
        F.col("_lat").alias("_nlat"),
        F.expr(grid.pack_sql(res, "_cx", "_cy")).alias("_cell"),
    )

    cand = ring_cells.join(others, "_cell").filter(F.col("_id") != F.col("_nbr"))
    cand = cand.withColumn(
        "dist2",
        (F.col("_lon") - F.col("_nlon")) * (F.col("_lon") - F.col("_nlon"))
        + (F.col("_lat") - F.col("_nlat")) * (F.col("_lat") - F.col("_nlat")),
    )
    w = Window.partitionBy("_id").orderBy(F.col("dist2").asc(), F.col("_nbr").asc())
    out = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_id").alias(id_col),
            F.col("_nbr").alias("neighbor_id"),
            "rank",
            "dist2",
        )
    )
    return out


# --- halo-exchange kernel (shared by knn_local and knn_geo_local) -----------

# distance-matrix entries per dense block: bounds the kernel's temporaries
# (the salted point-mass blocks are chunked to budget / n_candidates rows)
_CHUNK_BUDGET = 3_000_000


@dataclass(frozen=True)
class _Ring:
    """Ring enumeration of the halo kernel at grid ``res``: a query in
    cell (cx, cy) sees the columns cx - rx .. cx + rx and the rows
    cy - ry .. cy + ry.  Rows clamp at the grid edge; columns wrap modulo
    the grid when ``wrap`` (the antimeridian) and clamp otherwise.
    ``rx_sql`` (Spark SQL over ``_lat``) is a point's replication
    half-width: the widest rx of any query that can see it.  ``rx_cells``
    maps query-cell rows to their rx inside the kernel."""

    res: int
    ry: int
    wrap: bool
    rx_sql: str
    rx_cells: Callable[[np.ndarray], np.ndarray]


def _planar_ring(res: int, ring: int) -> _Ring:
    return _Ring(res, ring, False, str(ring), lambda qcy: np.full_like(qcy, ring))


def _geo_ring(res: int, radius_km: float) -> _Ring:
    """Geodesic ring: longitude half-widths follow the true geodesic-disk
    bounding box (delta_lon = asin(sin r / cos lat), Matuschek), widening
    with |lat| up to the FULL circle where a disk can cross the pole.  The
    latitude window needs no pole case: |dlat| <= r_arc holds along any
    geodesic of length r even across the pole, so the clamped
    [cy - ry, cy + ry] is already a superset."""
    r_ang = radius_km / EARTH_KM
    deg_lat = math.degrees(r_ang)
    sin_r = math.sin(r_ang)
    n = 1 << res
    cell_w, cell_h = 360.0 / n, 180.0 / n
    # a candidate replicates as far as the widest query that can see it
    # (one at |lat| + r_arc); full circle when that query's disk can
    # cross the pole
    rx_sql = (
        f"CASE WHEN ABS(_lat) + {2.0 * deg_lat!r} >= 90.0 "
        f"THEN CAST({n // 2} AS BIGINT) "
        f"ELSE LEAST(CAST({n // 2} AS BIGINT), GREATEST(CAST(1 AS BIGINT), "
        f"CAST(CEIL(DEGREES(ASIN(LEAST(1.0, {sin_r!r} / "
        f"COS(RADIANS(ABS(_lat) + {deg_lat!r}))))) / {cell_w!r}) AS BIGINT))) "
        f"END"
    )

    def rx_cells(qcy: np.ndarray) -> np.ndarray:
        # ring half-width from the query cell's polemost edge; a cell whose
        # queries can cross the pole rings the full circle
        edge = np.maximum(np.abs(qcy * cell_h - 90.0),
                          np.abs((qcy + 1) * cell_h - 90.0))
        fullring = edge >= 90.0 - deg_lat
        cos_edge = np.cos(np.radians(np.where(fullring, 0.0, edge)))
        dl = np.degrees(np.arcsin(np.minimum(1.0, sin_r / cos_edge)))
        return np.where(
            fullring, n // 2, np.ceil(dl / cell_w).astype(np.int64)
        ).clip(1, n // 2).astype(np.int64)

    return _Ring(res, max(1, math.ceil(deg_lat / cell_h)), True, rx_sql, rx_cells)


def _plane(lon: np.ndarray, lat: np.ndarray) -> tuple:
    return lon, lat


def _sphere(lon: np.ndarray, lat: np.ndarray) -> tuple:
    """Unit-sphere embedding: |p - q|^2 is the chord^2 = 4 * hav(p, q) —
    3 trig per point, zero per pair, and wrap-exact at the antimeridian
    and the poles."""
    rlon = np.radians(lon)
    rlat = np.radians(lat)
    cl = np.cos(rlat)
    return cl * np.cos(rlon), cl * np.sin(rlon), np.sin(rlat)


def _knn_block(pdf, ring: _Ring, embed: Callable[..., tuple], cut2: float | None,
               k: int) -> tuple:
    """Top-k of every query point of ONE halo block — the numpy body of the
    halo kernel, a plain function of a pandas group.

    ``pdf`` holds the block's members (``_id, _lon, _lat, _cell, _core``):
    every member is a candidate, ``_core`` marks the queries.  Per query,
    the k nearest ring candidates other than itself by (squared distance
    in the ``embed`` space, neighbour id), minus those beyond ``cut2``
    when given.  Returns (query id, neighbour id, rank, squared distance)
    arrays."""
    # rows sorted by (cell, id): packed cells order by x then y, so each
    # ring column's y-window is one contiguous slice
    cell = pdf["_cell"].to_numpy()
    order = np.lexsort((pdf["_id"].to_numpy(), cell))
    cell = cell[order]
    ids = pdf["_id"].to_numpy()[order]
    core = pdf["_core"].to_numpy()[order]
    if not core.any() or len(ids) < 2:
        return (np.empty(0, np.int64),) * 3 + (np.empty(0),)
    xyz = embed(pdf["_lon"].to_numpy()[order], pdf["_lat"].to_numpy()[order])
    res, n = ring.res, 1 << ring.res
    # query rows grouped by cell: the queries of qcells[ci] are
    # qrows[qoff[ci]:qoff[ci + 1]]
    qrows = np.nonzero(core)[0]
    qcells, qoff = np.unique(cell[qrows], return_index=True)
    qoff = np.append(qoff, len(qrows))
    _, qcx, qcy = grid.unpack_cells(qcells)
    ylo = np.maximum(qcy - ring.ry, 0)
    yhi = np.minimum(qcy + ring.ry, n - 1)
    # ragged ring-column table: per query cell, cnt distinct columns from
    # x0; one vectorized searchsorted over every (cell, column)
    rx = ring.rx_cells(qcy)
    if ring.wrap:
        x0 = qcx - np.minimum(rx, n // 2)
        cnt = np.minimum(2 * rx + 1, n)
    else:
        x0 = np.maximum(qcx - rx, 0)
        cnt = np.minimum(qcx + rx, n - 1) - x0 + 1
    off = np.concatenate(([0], np.cumsum(cnt)))
    rep = np.repeat(np.arange(len(qcells)), cnt)
    tx = (x0[rep] + np.arange(off[-1], dtype=np.int64) - off[rep]) % n
    col_s = np.searchsorted(cell, grid.pack_cells(res, tx, ylo[rep]), side="left")
    # +1 on the packed value of the last ring row = exclusive end
    col_e = np.searchsorted(cell, grid.pack_cells(res, tx, yhi[rep]) + 1, side="left")
    # flatten all candidate row indices (ragged arange over the column
    # slices), so each query cell's candidates are one O(1) slice
    ln = col_e - col_s
    cum = np.concatenate(([0], np.cumsum(ln)))
    flat = (
        np.arange(cum[-1], dtype=np.int64)
        - np.repeat(cum[:-1], ln)
        + np.repeat(col_s, ln)
    )
    acc: list = []
    for ci in range(len(qcells)):
        q_rows = qrows[qoff[ci]:qoff[ci + 1]]
        cand = flat[cum[off[ci]]:cum[off[ci + 1]]]
        if len(cand) < 2:
            continue
        # candidates id-sorted, so column order is the id tie order —
        # exact even for degenerate point masses (the synthetic hot cell
        # collapses 24k docs onto ONE position, a 24k-deep tie class)
        cand = cand[np.argsort(ids[cand], kind="stable")]
        c_ids, c_xyz = ids[cand], [a[cand] for a in xyz]
        q_ids, q_xyz = ids[q_rows], [a[q_rows] for a in xyz]
        # top k+1 INCLUDING self, which is dropped from the small selected
        # matrix afterwards — cheaper than masking self in the dense block
        kk = min(k + 1, len(cand))
        chunk = max(1, _CHUNK_BUDGET // len(cand))
        for s0 in range(0, len(q_rows), chunk):
            rows = slice(s0, s0 + chunk)
            # chunked dense blocks: distance evals are the Theta(sum of
            # density^2) bulk of kNN — keep them SIMD matrix ops; in-place
            # square/add halves the temporaries
            d2 = q_xyz[0][rows][:, None] - c_xyz[0][None, :]
            np.multiply(d2, d2, out=d2)
            for qa, ca in zip(q_xyz[1:], c_xyz[1:]):
                t = qa[rows][:, None] - ca[None, :]
                np.multiply(t, t, out=t)
                d2 += t
            idx = _topk_row_idx(d2, kk)
            vals = np.take_along_axis(d2, idx, axis=1)
            sel_ids = c_ids[idx]
            keep = sel_ids != q_ids[rows][:, None]
            if cut2 is not None:
                # out-of-range tails sort last, so the top-kk stays
                # complete for the bounded result
                keep &= vals <= cut2
            rank = np.cumsum(keep, axis=1, dtype=np.int64)
            keep &= rank <= k
            m = keep.ravel()
            if m.any():
                acc.append((np.repeat(q_ids[rows], kk)[m], sel_ids.ravel()[m],
                            rank.ravel()[m], vals.ravel()[m]))
    if not acc:
        return (np.empty(0, np.int64),) * 3 + (np.empty(0),)
    return tuple(np.concatenate(a) for a in zip(*acc))


def _halo_knn(
    points: DataFrame,
    *,
    id_col: str,
    lon_col: str,
    lat_col: str,
    ring: _Ring,
    embed: Callable[..., tuple],
    cut2: float | None,
    k: int,
    schema: str,
    hot_threshold: int,
    nsalt: int,
    group_offset: int,
) -> DataFrame:
    """HALO-EXCHANGE local kNN — the ghost-zone pattern of distributed
    spatial codes.  The grid is tiled into parent blocks of 2^offset x
    2^offset cells; every point shuffles ONCE to its home block (where it
    is a query) plus a copy to every other block its ring bounding box
    touches (where it is only a candidate).  Interior points — the vast
    majority — land in one block; the shuffle + Arrow transfer is the cost
    at scale, so that replication factor is the number that matters.
    Inside each block ``_knn_block`` ranks the ring candidates.

    Hot-block skew: a block with > ``hot_threshold`` home points would be
    one straggler task, so hot blocks are SALTED — their queries split
    over ``nsalt`` sub-groups (salt = hash(id) % nsalt) while every
    candidate is replicated to all salts.  Same results, nsalt-way
    parallel.  ``schema`` names the first 3 or 4 of the block's
    (id, neighbor_id, rank, dist2) outputs."""
    import pandas as pd

    res = ring.res
    n = 1 << res
    shift = min(res, group_offset)
    group_res = res - shift
    nbx = max(1, n >> shift)
    pts = points.select(
        F.col(id_col).alias("_id"),
        F.col(lon_col).alias("_lon"),
        F.col(lat_col).alias("_lat"),
        F.expr(grid.cell_x_sql(lon_col, res, "spark")).alias("_cx"),
        F.expr(grid.cell_y_sql(lat_col, res, "spark")).alias("_cy"),
    )
    rx = ring.rx_sql
    if ring.wrap:
        xlo, xhi = f"_cx - {rx}", f"_cx + {rx}"
    else:
        xlo, xhi = f"greatest(_cx - {rx}, 0)", f"least(_cx + {rx}, {n - 1})"
    # ALL parent blocks the ring bbox touches — a wide ring can span many
    # block columns, all of them at the pole.  Arithmetic shiftright floors
    # negative cell offsets, pmod wraps block columns across the
    # antimeridian (a no-op on a clamped range), and at most nbx
    # consecutive columns keep the wrapped ones distinct.  Two explodes of
    # plain sequences stay in generated code; the same enumeration as
    # transform()/array_distinct lambdas runs interpreted (measured
    # +0.3 s per 400k points at local[4]).
    bx0 = f"shiftright({xlo}, {shift})"
    bxs = f"sequence({bx0}, least(shiftright({xhi}, {shift}), {bx0} + {nbx - 1}))"
    bys = (
        f"sequence(shiftright(greatest(_cy - {ring.ry}, 0), {shift}), "
        f"shiftright(least(_cy + {ring.ry}, {n - 1}), {shift}))"
    )
    home = grid.pack_sql(group_res, f"shiftright(_cx, {shift})", f"shiftright(_cy, {shift})")
    gcell = F.expr(grid.pack_sql(group_res, f"pmod(_bx, {nbx})", "_by"))
    members = (
        pts.select(
            "_id", "_lon", "_lat", "_cy",
            F.expr(grid.pack_sql(res, "_cx", "_cy")).alias("_cell"),
            F.expr(home).alias("_home_g"),
            F.explode(F.expr(bxs)).alias("_bx"),
        )
        .select(
            "_id", "_lon", "_lat", "_cell", "_home_g", "_bx",
            F.explode(F.expr(bys)).alias("_by"),
        )
        .select(
            "_id", "_lon", "_lat", "_cell",
            gcell.alias("_gcell"),
            (F.col("_home_g") == gcell).alias("_core"),
        )
    )

    # hot-BLOCK detection: tiny aggregate over home blocks, broadcast back
    hot = (
        pts.groupBy(F.expr(home).alias("_gcell"))
        .count()
        .filter(F.col("count") > hot_threshold)
        .select("_gcell")
    )
    members = members.join(
        F.broadcast(hot.withColumn("_hot", F.lit(True))), "_gcell", "left"
    ).withColumn("_hot", F.coalesce("_hot", F.lit(False)))
    members = (
        members.withColumn(
            "_my_salt",
            F.when(F.col("_hot"), F.pmod(F.xxhash64("_id"), F.lit(nsalt)).cast("int"))
            .otherwise(F.lit(0)),
        )
        .withColumn(
            "_salt",
            F.explode(
                F.when(F.col("_hot"), F.expr(f"sequence(0, {nsalt - 1})"))
                .otherwise(F.expr("array(0)"))
            ),
        )
        # a point is a QUERY only in its own salt sub-group of its home block
        .withColumn("_core", F.col("_core") & (F.col("_salt") == F.col("_my_salt")))
        .drop("_hot", "_my_salt")
    )

    names = [f.split()[0] for f in schema.split(",")]

    def local_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        # Arrow casts to the declared schema types (rank int / long)
        return pd.DataFrame(dict(zip(names, _knn_block(pdf, ring, embed, cut2, k))))

    return members.groupBy("_gcell", "_salt").applyInPandas(local_topk, schema=schema)


def knn_local(
    points: DataFrame,
    *,
    id_col: str = "doc_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = 5,
    ring: int = 1,
    k: int = 3,
    hot_threshold: int = 20000,
    nsalt: int = 16,
    group_offset: int = 5,
) -> DataFrame:
    """Scale-path kNN: identical semantics to ``knn_bounded`` (ring
    candidates, (dist2, id) tie-break) executed as the halo-exchange
    kernel (``_halo_knn``) on the planar (lon, lat) embedding.  The ring
    clamps at the grid edge (no antimeridian wrap), like the join form.
    With ``ring`` below the block size a point replicates to at most 4
    blocks (measured ~1.2x total vs the 9x of replicating every point to
    all (2R+1)^2 ring cells); wider rings are enumerated in full.  Hot
    blocks (> ``hot_threshold`` points) salt over ``nsalt`` tasks."""
    return _halo_knn(
        points, id_col=id_col, lon_col=lon_col, lat_col=lat_col,
        ring=_planar_ring(res, ring), embed=_plane, cut2=None, k=k,
        schema=f"{id_col} long, neighbor_id long, rank int, dist2 double",
        hot_threshold=hot_threshold, nsalt=nsalt, group_offset=group_offset,
    )


def knn_oracle_sql(points_sql: str, *, res: int, ring: int, k: int) -> str:
    """DuckDB ground truth: all pairs filtered by cell Chebyshev distance
    <= ring at ``res`` (identical axis math), ranked identically."""
    return f"""
WITH pts AS (
  SELECT *,
         CAST(LEAST(GREATEST(FLOOR((lon - (-180.0)) / 360.0 * {float(1 << res)!r}), 0.0), {float((1 << res) - 1)!r}) AS BIGINT) AS cx,
         CAST(LEAST(GREATEST(FLOOR((lat - (-90.0)) / 180.0 * {float(1 << res)!r}), 0.0), {float((1 << res) - 1)!r}) AS BIGINT) AS cy
  FROM ({points_sql})
),
cand AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS neighbor_id,
         (a.lon - b.lon) * (a.lon - b.lon) + (a.lat - b.lat) * (a.lat - b.lat) AS dist2
  FROM pts a JOIN pts b
    ON abs(a.cx - b.cx) <= {ring} AND abs(a.cy - b.cy) <= {ring}
   AND a.doc_id != b.doc_id
)
SELECT doc_id, neighbor_id, CAST(rank AS INT) AS rank, dist2 FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY dist2, neighbor_id) AS rank
  FROM cand
) WHERE rank <= {k}
"""


def radius_join(
    points: DataFrame,
    *,
    radius: float,
    id_col: str = "doc_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int | None = None,
) -> DataFrame:
    """Distance (DWithin) self-join: all pairs (a < b) within planar
    ``radius`` degrees.  Candidates come from an asymmetric cell ring —
    rx = ceil(radius / lon_cell_width), ry = ceil(radius / lat_cell_height)
    — which is a superset of the disk, then the exact distance filter
    refines.  One BIGINT-keyed shuffle join; resolution defaults to cells
    about one radius tall so the ring stays ~3x3."""
    if res is None:
        res = max(1, min(20, int(math.floor(math.log2(180.0 / radius)))))
    n = 1 << res
    rx = max(1, math.ceil(radius / (360.0 / n)))
    ry = max(1, math.ceil(radius / (180.0 / n)))
    pts = points.select(
        F.col(id_col).alias("_id"),
        F.col(lon_col).alias("_lon"),
        F.col(lat_col).alias("_lat"),
        F.expr(grid.cell_x_sql(lon_col, res, "spark")).alias("_cx"),
        F.expr(grid.cell_y_sql(lat_col, res, "spark")).alias("_cy"),
    )
    ring_cells = pts.select(
        "_id", "_lon", "_lat",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(-{rx}, {rx}), dx -> "
                f"transform(sequence(-{ry}, {ry}), dy -> "
                f"struct(_cx + dx AS x, _cy + dy AS y))))"
            )
        ).alias("_nc"),
    ).filter(
        (F.col("_nc.x") >= 0) & (F.col("_nc.x") < n)
        & (F.col("_nc.y") >= 0) & (F.col("_nc.y") < n)
    ).select(
        "_id", "_lon", "_lat",
        F.expr(grid.pack_sql(res, "_nc.x", "_nc.y")).alias("_cell"),
    )
    others = pts.select(
        F.col("_id").alias("_nbr"),
        F.col("_lon").alias("_nlon"),
        F.col("_lat").alias("_nlat"),
        F.expr(grid.pack_sql(res, "_cx", "_cy")).alias("_cell"),
    )
    cand = ring_cells.join(others, "_cell").filter(F.col("_id") < F.col("_nbr"))
    d2 = (
        (F.col("_lon") - F.col("_nlon")) * (F.col("_lon") - F.col("_nlon"))
        + (F.col("_lat") - F.col("_nlat")) * (F.col("_lat") - F.col("_nlat"))
    )
    return (
        cand.withColumn("dist2", d2)
        .filter(F.col("dist2") <= radius * radius)
        .select(
            F.col("_id").alias("doc_a"),
            F.col("_nbr").alias("doc_b"),
            "dist2",
        )
    )


def radius_join_oracle_sql(points_sql: str, *, radius: float) -> str:
    """DuckDB ground truth: brute-force all pairs, exact distance filter."""
    return f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       (a.lon - b.lon) * (a.lon - b.lon) + (a.lat - b.lat) * (a.lat - b.lat) AS dist2
FROM ({points_sql}) a JOIN ({points_sql}) b
  ON a.doc_id < b.doc_id
WHERE (a.lon - b.lon) * (a.lon - b.lon) + (a.lat - b.lat) * (a.lat - b.lat) <= {radius!r} * {radius!r}
"""


# --- geodesic (haversine) DWithin join --------------------------------------

EARTH_KM = 6371.0088


def haversine_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """Great-circle distance in km (same SQL text in Spark and DuckDB).
    NB: trig builtins differ between engines in the last ulp (~1e-15 rel),
    so geodesic results must never expose raw distances to the hash gate —
    emit pairs only, with thresholds far from any pair's distance."""
    dlat = f"RADIANS((({lat2}) - ({lat1})) / 2)"
    dlon = f"RADIANS((({lon2}) - ({lon1})) / 2)"
    return (
        f"(2.0 * {EARTH_KM!r} * ASIN(SQRT(SIN({dlat}) * SIN({dlat}) + "
        f"COS(RADIANS({lat1})) * COS(RADIANS({lat2})) * SIN({dlon}) * SIN({dlon}))))"
    )


def haversine_hav_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """The haversine TERM h = sin^2(dlat/2) + cos(lat1) cos(lat2) sin^2(dlon/2)
    — the argument of ``2R asin(sqrt(h))`` in :func:`haversine_sql`, before
    the asin/sqrt.  asin and sqrt are strictly monotone (and monotone as
    correctly-rounded float functions), so

    * ``dist <= r``  <=>  ``h <= sin^2(r / (2R))``   (filter on h, no asin/sqrt)
    * ``ORDER BY dist`` == ``ORDER BY h``             (rank on h)

    which removes the two most expensive scalar ops from the per-candidate
    refine loop.  Like haversine_sql, h itself must never reach the hash
    gate (trig ulps differ between engines) — emit ranks/pairs only."""
    dlat = f"RADIANS((({lat2}) - ({lat1})) / 2)"
    dlon = f"RADIANS((({lon2}) - ({lon1})) / 2)"
    return (
        f"(SIN({dlat}) * SIN({dlat}) + "
        f"COS(RADIANS({lat1})) * COS(RADIANS({lat2})) * SIN({dlon}) * SIN({dlon}))"
    )


def hav_threshold(radius_km: float) -> float:
    """h-space image of a great-circle radius: dist <= radius_km iff
    hav term <= sin^2(radius_km / (2 * EARTH_KM))."""
    return math.sin(radius_km / (2.0 * EARTH_KM)) ** 2


def _geo_ring_candidates(
    points: DataFrame,
    *,
    radius_km: float,
    id_col: str = "doc_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int | None = None,
) -> DataFrame:
    """Directed candidate pairs (_id, _nbr != _id, coords) whose cells can
    contain a point within ``radius_km`` great-circle km.  Candidate cells
    come from the TRUE bounding box of a geodesic circle (Matuschek's
    formulation): the latitude extent is the constant radius/EARTH arc,
    but the longitude extent widens with latitude —
    delta_lon = asin(sin(r)/cos(lat)) — and a disk crossing a pole spans
    ALL longitudes.  Longitude offsets wrap modulo the grid (antimeridian
    pairs are real neighbours), latitude clamps.  One BIGINT-keyed shuffle
    join, exact refine left to the caller."""
    r_ang = radius_km / EARTH_KM  # radians of arc
    deg_lat = math.degrees(r_ang)
    if res is None:
        res = max(1, min(20, int(math.floor(math.log2(180.0 / deg_lat)))))
    n = 1 << res
    cell_w, cell_h = 360.0 / n, 180.0 / n
    ry = max(1, math.ceil(deg_lat / cell_h))

    # per-point longitude half-width in CELLS; full ring when the disk
    # crosses a pole (lat +- deg_lat reaches it)
    rx = (
        f"CASE WHEN ABS({lat_col}) + {deg_lat!r} >= 90.0 THEN CAST({n} AS BIGINT) "
        f"ELSE CAST(CEIL(DEGREES(ASIN(LEAST(1.0, "
        f"SIN({r_ang!r}) / COS(RADIANS({lat_col}))))) / {cell_w!r}) AS BIGINT) END"
    )
    # distinct-mod-n offset list: count = min(2*rx+1, n), starting at
    # -min(rx, n/2) — covers -rx..rx exactly when narrow and every cell
    # exactly once when the ring is full (no duplicate candidates)
    cnt = f"LEAST(2 * ({rx}) + 1, CAST({n} AS BIGINT))"
    lo = f"-LEAST(({rx}), CAST({n // 2} AS BIGINT))"
    offsets = f"transform(sequence(0, {cnt} - 1), i -> CAST(i AS BIGINT) + ({lo}))"

    pts = points.select(
        F.col(id_col).alias("_id"),
        F.col(lon_col).alias("_lon"),
        F.col(lat_col).alias("_lat"),
        F.expr(grid.cell_x_sql(lon_col, res, "spark")).alias("_cx"),
        F.expr(grid.cell_y_sql(lat_col, res, "spark")).alias("_cy"),
        F.expr(offsets).alias("_dxs"),
    )
    ring = (
        pts.select(
            "_id", "_lon", "_lat", "_cy",
            F.explode(
                F.expr(
                    f"flatten(transform(_dxs, dx -> "
                    f"transform(sequence(-{ry}, {ry}), dy -> "
                    f"struct(pmod(_cx + dx, {n}) AS x, _cy + dy AS y))))"
                )
            ).alias("_nc"),
        )
        .filter((F.col("_nc.y") >= 0) & (F.col("_nc.y") < n))
        .select(
            "_id", "_lon", "_lat",
            F.expr(grid.pack_sql(res, "_nc.x", "_nc.y")).alias("_cell"),
        )
    )
    others = points.select(
        F.col(id_col).alias("_nbr"),
        F.col(lon_col).alias("_nlon"),
        F.col(lat_col).alias("_nlat"),
        F.expr(grid.cell_sql(lon_col, lat_col, res, "spark")).alias("_cell"),
    )
    # the exploded ring side must NEVER be broadcast or hash-BUILT:
    # Catalyst estimates it from the pre-explode input, understating by
    # the ring fan-out (a driver/executor OOM at scale).  Pin a shuffle
    # hash join BUILT on the compact per-cell point table and STREAM the
    # exploded ring past it — hash beats sort-merge on a BIGINT equi-key
    # and the build side is the smaller one by construction
    return (
        ring.join(others.hint("shuffle_hash"), "_cell")
        .filter(F.col("_id") != F.col("_nbr"))
    )


def radius_join_geo(
    points: DataFrame,
    *,
    radius_km: float,
    id_col: str = "doc_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int | None = None,
) -> DataFrame:
    """Geodesic DWithin self-join: all pairs (a < b) within ``radius_km``
    great-circle km — cell-ring candidates (see _geo_ring_candidates) +
    exact haversine refine, like the planar variant."""
    cand = _geo_ring_candidates(
        points, radius_km=radius_km, id_col=id_col,
        lon_col=lon_col, lat_col=lat_col, res=res,
    ).filter(F.col("_id") < F.col("_nbr"))
    # refine in h-space (haversine_hav_sql): the latitude band is a free
    # compare that drops most ring candidates before any trig, and the h
    # threshold is the exact radius image without asin/sqrt per pair
    deg_lat = math.degrees(radius_km / EARTH_KM)
    hav = haversine_hav_sql("_lon", "_lat", "_nlon", "_nlat")
    return (
        cand.filter(F.expr(f"ABS(_lat - _nlat) <= {deg_lat!r}"))
        .filter(F.expr(f"{hav} <= {hav_threshold(radius_km)!r}"))
        .select(F.col("_id").alias("doc_a"), F.col("_nbr").alias("doc_b"))
    )


def knn_geo(
    points: DataFrame,
    *,
    radius_km: float,
    k: int = 3,
    id_col: str = "doc_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int | None = None,
) -> DataFrame:
    """Geodesic bounded kNN: for each point, its k nearest neighbours by
    great-circle distance among those within ``radius_km`` (the bounded
    form every production kNN service ships — an unbounded geodesic kNN
    would need adaptive ring growth for isolated points, while the radius
    bound keeps the candidate set one cell-ring join).  Rank ties break on
    neighbour id.  Distances are NOT emitted: trig builtins differ between
    engines in the last ulp (haversine_sql note), so the output exposes
    only (id, neighbor_id, rank) — stable because random-data distance
    gaps are astronomically larger than 1e-15 rel.

    Density assumption (the 100 TB caveat): the candidate set is built as
    exploded JOIN ROWS, so its size is Theta(sum over cells of
    n_cell * n_ring) — a point-mass denser than ``radius_km`` makes this
    quadratic in the mass (h points within the radius -> h^2 join rows,
    at ANY radius).  That regime belongs to the halo-exchange kernel
    (``knn_geo_local``, same contract), whose per-block distance
    evaluations are SIMD matrix ops and whose hot blocks salt across
    tasks; bench.py q7 runs it on the full table, point mass included.
    This join form stays the registered reference the kernel is tested
    against."""
    cand = _geo_ring_candidates(
        points, radius_km=radius_km, id_col=id_col,
        lon_col=lon_col, lat_col=lat_col, res=res,
    )
    return _rank_geo_candidates(cand, radius_km=radius_km, k=k, id_col=id_col)


def _rank_geo_candidates(cand: DataFrame, *, radius_km: float, k: int,
                         id_col: str) -> DataFrame:
    """Refine + rank directed candidate pairs in h-space
    (haversine_hav_sql): |dlat| <= r-arc is a free compare that drops the
    ring-height overshoot before any trig; h <= sin^2(r/2R) is the exact
    radius filter and ORDER BY h the exact distance order, both without
    asin/sqrt per candidate pair."""
    deg_lat = math.degrees(radius_km / EARTH_KM)
    hav = haversine_hav_sql("_lon", "_lat", "_nlon", "_nlat")
    cand = (
        cand.filter(F.expr(f"ABS(_lat - _nlat) <= {deg_lat!r}"))
        .filter(F.expr(f"{hav} <= {hav_threshold(radius_km)!r}"))
        .withColumn("_h", F.expr(hav))
    )
    w = Window.partitionBy("_id").orderBy(F.col("_h").asc(), F.col("_nbr").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_id").alias(id_col),
            F.col("_nbr").alias("neighbor_id"),
            "rank",
        )
    )


def knn_geo_oracle_sql(points_sql: str, *, radius_km: float, k: int) -> str:
    """DuckDB ground truth: brute-force directed pairs, haversine filter,
    row_number rank (rank-only output — see knn_geo on trig ulps)."""
    dist = haversine_sql("a.lon", "a.lat", "b.lon", "b.lat")
    return f"""
WITH cand AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS neighbor_id, {dist} AS _d
  FROM ({points_sql}) a JOIN ({points_sql}) b ON a.doc_id <> b.doc_id
  WHERE {dist} <= {radius_km!r}
),
r AS (
  SELECT doc_id, neighbor_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY _d, neighbor_id) AS rank
  FROM cand
)
SELECT doc_id, neighbor_id, rank FROM r WHERE rank <= {k}
"""

def knn_geo_local(
    points: DataFrame,
    *,
    radius_km: float,
    k: int = 3,
    id_col: str = "doc_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int | None = None,
    n_points: int | None = None,
    hot_threshold: int = 20000,
    nsalt: int = 16,
    group_offset: int = 5,
) -> DataFrame:
    """Scale-path geodesic bounded kNN: identical output contract to
    :func:`knn_geo` ((id, neighbor_id, rank), k nearest by great-circle
    distance within ``radius_km``, ties by neighbour id) executed as the
    halo-exchange kernel (``_halo_knn``) instead of a corpus-sized
    candidate join.

    Why: at realistic densities most ring candidates are genuine
    within-radius pairs (measured 56M true / 61M candidates at the bench
    grain), so the ring JOIN's cost floor is materializing every pair as
    a shuffled join row.  The kernel evaluates the same pairs as SIMD
    matrix blocks inside ``applyInPandas`` — the only shuffle is the
    ~1.1x halo replication of the points themselves.

    The geodesic metric is the planar kernel's squared-Euclidean form in
    the unit-sphere embedding (``_sphere``): |p - q|^2 = 4 * hav(p, q) =
    (2 sin(d/2R))^2 is strictly monotone in great-circle d, so ``rank by
    chord^2`` is rank by distance and ``chord^2 <= (2 sin(r/2R))^2`` is
    the exact radius cutoff, with zero per-pair trig.  Chord distances are
    wrap-exact, so only the GRID wraps (``_geo_ring``): latitude-dependent
    ring widths up to the full circle near the poles, block columns
    wrapped across the antimeridian.

    Top-k inside the kernel is ``_topk_row_idx`` (exact argpartition
    selection, same indices as a stable argsort) over id-sorted
    candidates, with the radius cutoff applied to the selected slice.
    Hot-block skew is salted as in knn_local.

    Like knn_geo, chord^2 values never reach the output (trig ulps differ
    between numpy / Spark / DuckDB): (id, neighbor_id, rank) only.
    """
    if res is None:
        # radius-derived res makes the cell ~ the radius (rings stay 3x3);
        # when the caller supplies the point count, coarsen toward the
        # DENSITY-derived res (auto_res, as in planar knn_local): at sparse
        # densities a radius-sized grid leaves <1 point per cell and the
        # kernel's cost shifts from SIMD pair evals to the per-occupied-cell
        # Python loop.  Coarsening is capped at 2 levels — every level
        # multiplies the ring's candidate superset area ~4x (measured at the
        # bench grain, 2.4M pts / 5 km: res 10 is 1.16x faster than res 11;
        # res 8 is 4x SLOWER).  Never finer than the radius res: rings
        # must still span the radius, so finer cells only widen rx.
        deg_lat = math.degrees(radius_km / EARTH_KM)
        r_res = max(1, min(20, int(math.floor(math.log2(180.0 / deg_lat)))))
        if n_points is None:
            res = r_res
        else:
            res = min(r_res, max(r_res - 2, auto_res(n_points)))
    return _halo_knn(
        points, id_col=id_col, lon_col=lon_col, lat_col=lat_col,
        ring=_geo_ring(res, radius_km), embed=_sphere,
        cut2=4.0 * hav_threshold(radius_km), k=k,
        schema=f"{id_col} long, neighbor_id long, rank long",
        hot_threshold=hot_threshold, nsalt=nsalt, group_offset=group_offset,
    )


def radius_join_geo_oracle_sql(points_sql: str, *, radius_km: float) -> str:
    """DuckDB ground truth: brute-force all pairs, exact haversine filter
    (pairs only — see haversine_sql on trig ulp divergence)."""
    dist = haversine_sql("a.lon", "a.lat", "b.lon", "b.lat")
    return f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM ({points_sql}) a JOIN ({points_sql}) b ON a.doc_id < b.doc_id
WHERE {dist} <= {radius_km!r}
"""
