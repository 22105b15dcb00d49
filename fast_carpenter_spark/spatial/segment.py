"""Point-to-segment distance join — nearest trajectory segment per point.

The map-matching primitive: for every query point, the nearest polyline
SEGMENT (not endpoint) within a radius, with the exact point-to-segment
squared distance

    t  = clamp(((p-a)·(b-a)) / |b-a|², 0, 1)
    d² = |p - (a + t(b-a))|²        (degenerate a=b  →  |p-a|²)

computed purely with +,*,/ and comparisons — correctly-rounded IEEE ops,
so the doubles (and the argmin tie-broken on (d², user, seg)) are
bit-identical across engines.

Candidate generation mirrors the radius join: the point side explodes
over its eps-ring cells, the segment side over its BBOX cover cells (a
superset of the cells the segment touches), and they meet in ONE
BIGINT-keyed equi-join.  Long segments make wide bbox covers — at scale
you split polylines into bounded-length segments at ingest (the standard
map-matching preprocessing), which also bounds the cover; the synthetic
trajectories here are unclipped worst cases and still bounded by the
constant grid size at the auto-chosen resolution.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from .. import grid


def _seg_d2_sql(px: str, py: str, ax: str, ay: str, bx: str, by: str) -> str:
    """Exact point-to-segment squared distance; dialect-neutral text."""
    ab2 = f"(({bx} - {ax}) * ({bx} - {ax}) + ({by} - {ay}) * ({by} - {ay}))"
    dot = f"(({px} - {ax}) * ({bx} - {ax}) + ({py} - {ay}) * ({by} - {ay}))"
    t = f"(CASE WHEN {dot} <= 0.0 THEN 0.0 WHEN {dot} >= {ab2} THEN 1.0 ELSE {dot} / {ab2} END)"
    cx = f"({ax} + {t} * ({bx} - {ax}))"
    cy = f"({ay} + {t} * ({by} - {ay}))"
    d2 = f"(({px} - {cx}) * ({px} - {cx}) + ({py} - {cy}) * ({py} - {cy}))"
    return (
        f"(CASE WHEN {ab2} = 0.0 "
        f"THEN (({px} - {ax}) * ({px} - {ax}) + ({py} - {ay}) * ({py} - {ay})) "
        f"ELSE {d2} END)"
    )


def nearest_segment_join(
    points: DataFrame,
    segments: DataFrame,
    *,
    radius: float,
    res: int | None = None,
) -> DataFrame:
    """Per point: the nearest segment within planar ``radius`` degrees.

    ``points``: (doc_id, lon, lat).  ``segments``: (user_id, seg_idx,
    ax, ay, bx, by).  Returns (doc_id, user_id, seg_idx, d2); points with
    no segment in range are absent.
    """
    if res is None:
        res = max(1, min(20, int(math.floor(math.log2(180.0 / radius)))))
    n = 1 << res
    rx = max(1, math.ceil(radius / (360.0 / n)))
    ry = max(1, math.ceil(radius / (180.0 / n)))
    pts = points.select(
        "doc_id", "lon", "lat",
        F.expr(grid.cell_x_sql("lon", res, "spark")).alias("_cx"),
        F.expr(grid.cell_y_sql("lat", res, "spark")).alias("_cy"),
    )
    ring = grid.explode_cells(
        pts, res, f"_cx - {rx}", f"_cx + {rx}", f"_cy - {ry}", f"_cy + {ry}"
    ).select("doc_id", "lon", "lat", "_cell")
    # the bbox stays as columns under the explode: Catalyst sizes each join
    # side by its row widths, blind to the explode fan-out, and these wider
    # cover rows keep the point ring (fan-out bounded by the radius) the
    # broadcast side
    seg_cover = grid.explode_cells(
        segments.select(
            "user_id", "seg_idx", "ax", "ay", "bx", "by",
            F.expr(grid.cell_x_sql("least(ax, bx)", res, "spark")).alias("_x0"),
            F.expr(grid.cell_x_sql("greatest(ax, bx)", res, "spark")).alias("_x1"),
            F.expr(grid.cell_y_sql("least(ay, by)", res, "spark")).alias("_y0"),
            F.expr(grid.cell_y_sql("greatest(ay, by)", res, "spark")).alias("_y1"),
        ),
        res, "_x0", "_x1", "_y0", "_y1",
    ).select("user_id", "seg_idx", "ax", "ay", "bx", "by", "_cell")
    d2 = _seg_d2_sql("lon", "lat", "ax", "ay", "bx", "by")
    cand = (
        ring.join(seg_cover, "_cell")
        .withColumn("d2", F.expr(d2))
        .filter(F.col("d2") <= radius * radius)
    )
    # argmin per point, tie-broken (d2, user, seg); the multi-cell meeting
    # of one (point, segment) pair yields identical d2 rows, so the min
    # dedupes them for free
    return (
        cand.groupBy("doc_id")
        .agg(F.min(F.expr("struct(d2, user_id, seg_idx)")).alias("m"))
        .selectExpr("doc_id", "m.user_id AS user_id", "m.seg_idx AS seg_idx", "m.d2 AS d2")
    )


def nearest_segment_oracle_sql(
    points_sql: str, segments_sql: str, *, radius: float
) -> str:
    """DuckDB ground truth: brute-force all (point, segment) pairs."""
    d2 = _seg_d2_sql("p.lon", "p.lat", "s.ax", "s.ay", "s.bx", "s.by")
    return f"""
WITH p AS ({points_sql}),
s AS ({segments_sql}),
cand AS (
  SELECT p.doc_id, s.user_id, s.seg_idx, {d2} AS d2
  FROM p CROSS JOIN s
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY d2, user_id, seg_idx
  ) AS rk
  FROM cand WHERE d2 <= {radius!r} * {radius!r}
)
SELECT doc_id, user_id, seg_idx, d2 FROM r WHERE rk = 1
"""
