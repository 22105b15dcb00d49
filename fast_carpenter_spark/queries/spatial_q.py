"""Split from the original single-module queries.py (round-4 refactor); see queries/__init__.py for the public surface."""

from __future__ import annotations

from ..session import local_frame
from ._common import (
    BinnedDataframeStage,
    F,
    REGION_RES,
    SpatialJoinStage,
    _load_events,
    flat_spans,
    grid,
    knn_oracle_sql,
    load_documents,
    pip_oracle_sql,
    radius_join,
    radius_join_oracle_sql,
    raster_vector_join,
    synth,
)
from .tiles_q import (
    O_SPANS_FLAT,
)

# ---------------------------------------------------------------------------
# 5. spatial join (cell cover + PIP refine), kNN, raster<->vector
# ---------------------------------------------------------------------------


def q_pip_join(spark, sf_dir):
    df = flat_spans(spark, sf_dir)
    stage = SpatialJoinStage(name="sj", polygons=synth.polygons())
    out = stage.apply(df)
    return out.select("doc_id", "span_offset", "poly_id", "region")


O_PIP_JOIN = pip_oracle_sql(
    O_SPANS_FLAT, synth.polygons_values_sql("duck"),
    point_keys="doc_id, span_offset", extra_poly_cols="region",
)


def q_pip_join_salted(spark, sf_dir):
    """Skew-stress twin of pip_join: the salted shuffle-join strategy on the
    same input (which deliberately contains hot clustered cells).  The salt
    column spreads each hot cover cell over ``nsalt`` shuffle keys so no
    single reducer owns a hot tile; result is identical to the broadcast
    plan, so it shares pip_join's oracle."""
    df = flat_spans(spark, sf_dir)
    stage = SpatialJoinStage(name="sj", polygons=synth.polygons(), strategy="salted")
    out = stage.apply(df)
    return out.select("doc_id", "span_offset", "poly_id", "region")


def q_pip_anti(spark, sf_dir):
    """Documents whose spans match NO polygon (anti-join complement)."""
    df = flat_spans(spark, sf_dir)
    stage = SpatialJoinStage(name="sj", polygons=synth.polygons())
    matched = stage.apply(df).select("doc_id").distinct()
    return df.select("doc_id").distinct().join(matched, "doc_id", "left_anti")


O_PIP_ANTI = f"""
SELECT DISTINCT doc_id FROM ({O_SPANS_FLAT})
WHERE doc_id NOT IN (SELECT doc_id FROM ({O_PIP_JOIN}))
"""


def flagship_tiles(spans, polygons):
    """The flagship job: span points joined to ``polygons``, then one
    weighted bin per (region, cell at REGION_RES).  Pair weight
    ``pw`` = doc weight x polygon weight (exact binary fractions)."""
    joined = (
        SpatialJoinStage(name="sj", polygons=polygons).apply(spans)
        .withColumn("cell", F.expr(grid.cell_sql("lon", "lat", REGION_RES, "spark")))
        .withColumn("pw", F.col("w") * F.col("weight"))
    )
    return BinnedDataframeStage(
        name="tiles", binning=[{"in": "region"}, {"in": "cell"}], weights={"pw": "pw"}
    ).apply(joined)


def q_pip_tile_agg(spark, sf_dir):
    """FLAGSHIP: spatial join -> per (region, tile) weighted aggregation."""
    return flagship_tiles(flat_spans(spark, sf_dir), synth.polygons())


O_PIP_TILE_AGG = f"""
WITH pairs AS (
  SELECT p.doc_id, p.span_offset, p.lon, p.lat, p.w, e.poly_id, e.region, e.weight
  FROM ({O_SPANS_FLAT}) p, (
    SELECT poly_id, region, weight,
           list_extract(ring_lon, i) AS x1, list_extract(ring_lat, i) AS y1,
           list_extract(ring_lon, 1 + i % len(ring_lon)) AS x2,
           list_extract(ring_lat, 1 + i % len(ring_lon)) AS y2
    FROM (SELECT *, unnest(range(1, len(ring_lon) + 1)) AS i FROM {synth.polygons_values_sql('duck')})
  ) e
  GROUP BY ALL
  HAVING SUM(CASE WHEN ((y1 > lat) != (y2 > lat))
                   AND (lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1)
             THEN 1 ELSE 0 END) % 2 = 1
)
SELECT region, {grid.cell_sql('lon', 'lat', REGION_RES, 'duck')} AS cell,
       count(*) AS n, sum(w * weight) AS pw_sumw,
       sum((w * weight) * (w * weight)) AS pw_sumw2
FROM pairs
GROUP BY 1, 2
"""


RADIUS_DEG = 12.0


def q_radius_join(spark, sf_dir):
    """Distance (DWithin) self-join: document pairs whose representative
    points lie within RADIUS_DEG planar degrees — cell-ring candidates +
    exact refine (includes the deliberately hot clustered docs)."""
    pts = flat_spans(spark, sf_dir).filter("span_idx = 0").select("doc_id", "lon", "lat")
    return radius_join(pts, radius=RADIUS_DEG)


O_RADIUS_JOIN = radius_join_oracle_sql(
    f"SELECT doc_id, lon, lat FROM ({O_SPANS_FLAT}) WHERE span_idx = 0",
    radius=RADIUS_DEG,
)


GEO_RADIUS_KM = 800.0


def q_radius_join_geo(spark, sf_dir):
    """Geodesic (haversine) DWithin self-join: pole-crossing disks span all
    longitudes and antimeridian neighbours wrap — the candidate ring
    handles both; verified margin to the threshold is ~0.2 km (trig ulp
    divergence between engines is ~1e-15 rel, so membership is stable)."""
    from ..spatial.knn import radius_join_geo

    pts = flat_spans(spark, sf_dir).filter("span_idx = 0").select("doc_id", "lon", "lat")
    return radius_join_geo(pts, radius_km=GEO_RADIUS_KM)


def _geo_oracle():
    from ..spatial.knn import radius_join_geo_oracle_sql

    return radius_join_geo_oracle_sql(
        f"SELECT doc_id, lon, lat FROM ({O_SPANS_FLAT}) WHERE span_idx = 0",
        radius_km=GEO_RADIUS_KM,
    )


O_RADIUS_JOIN_GEO = _geo_oracle()


def q_knn_geo(spark, sf_dir, k=3):
    """Geodesic bounded kNN through the halo-exchange chord kernel
    (spatial/knn.py knn_geo_local): the k nearest by great-circle distance
    within GEO_RADIUS_KM, (distance, id) ties, rank-only output
    (trig-ulp-safe; see haversine_sql)."""
    from ..spatial.knn import knn_geo_local

    pts = flat_spans(spark, sf_dir).filter("span_idx = 0").select("doc_id", "lon", "lat")
    return knn_geo_local(pts, radius_km=GEO_RADIUS_KM, k=k)


def _knn_geo_oracle(k=3):
    from ..spatial.knn import knn_geo_oracle_sql

    return knn_geo_oracle_sql(
        f"SELECT doc_id, lon, lat FROM ({O_SPANS_FLAT}) WHERE span_idx = 0",
        radius_km=GEO_RADIUS_KM,
        k=k,
    )


O_KNN_GEO = _knn_geo_oracle()


def q_knn_geo_local(spark, sf_dir):
    """q_knn_geo with k=5: the same kernel and contract, a deeper top-k
    per point."""
    return q_knn_geo(spark, sf_dir, k=5)


O_KNN_GEO_LOCAL = _knn_geo_oracle(k=5)


def q_poly_overlap(spark, sf_dir):
    """Polygon-polygon overlay self-join over the polygon layer: pairs
    whose rings intersect (vertex containment or proper edge crossing),
    via a longitude-band equi join + bbox prefilter + exact refine."""
    from ..spatial.overlay import polygon_overlap_join

    return polygon_overlap_join(synth.polygons_df(spark))


def _poly_overlap_oracle():
    from ..spatial.overlay import polygon_overlap_oracle_sql

    return polygon_overlap_oracle_sql(synth.polygons_values_sql("duck"))


O_POLY_OVERLAP = _poly_overlap_oracle()


def q_poly_metrics(spark, sf_dir):
    """Shoelace area / centroid / winding per polygon — map-side only;
    pinned-order left folds make the doubles bit-identical across engines
    (see spatial/geom.py)."""
    from ..spatial.geom import polygon_metrics_sql

    synth.polygons_df(spark).createOrReplaceTempView("polygons_v")
    return spark.sql(polygon_metrics_sql("polygons_v", "spark"))


def _o_poly_metrics() -> str:
    from ..spatial.geom import polygon_metrics_sql

    return polygon_metrics_sql(synth.polygons_values_sql("duck"), "duck")


O_POLY_METRICS = _o_poly_metrics()


def _donut_holes() -> list[tuple]:
    """Concentric hole ring per polygon (outer scaled 0.5 toward its
    vertex centroid) — computed ONCE in Python so both engines consume
    identical double literals."""
    holes = []
    for d in synth.polygons():
        xs, ys = d["ring_lon"], d["ring_lat"]
        cx, cy = sum(xs) / len(xs), sum(ys) / len(ys)
        holes.append(
            (
                d["poly_id"],
                [cx + 0.5 * (x - cx) for x in xs],
                [cy + 0.5 * (y - cy) for y in ys],
            )
        )
    return holes


def q_pip_holes(spark, sf_dir):
    """Polygon-with-holes containment (donut polygons): candidates from
    the OUTER-ring cell-cover join, then an anti-refine on the broadcast
    hole ring — inside = outer-parity AND NOT hole-parity (the even-odd
    rule decomposed so the hole test only touches outer-matched
    candidates).  Per-polygon count of span points in the annulus."""
    from ..spatial.pip import pip_condition_sql

    from pyspark.sql import types as T

    df = flat_spans(spark, sf_dir)
    stage = SpatialJoinStage(name="holes", polygons=synth.polygons())
    cand = stage.apply(df)
    schema = T.StructType(
        [
            T.StructField("poly_id", T.StringType(), False),
            T.StructField("hole_lon", T.ArrayType(T.DoubleType(), False), False),
            T.StructField("hole_lat", T.ArrayType(T.DoubleType(), False), False),
        ]
    )
    holes = local_frame(spark, _donut_holes(), schema)
    inhole = pip_condition_sql("lon", "lat", "hole_lon", "hole_lat", "spark")
    return (
        cand.join(F.broadcast(holes), "poly_id")
        .filter(F.expr(f"NOT ({inhole})"))
        .groupBy("poly_id")
        .agg(F.count(F.lit(1)).alias("n_pts"))
    )


def _o_pip_holes() -> str:
    from ..spatial.pip import pip_condition_sql

    pts = f"SELECT doc_id, span_offset, lon, lat FROM ({O_SPANS_FLAT})"
    outer = pip_oracle_sql(
        pts,
        synth.polygons_values_sql("duck"),
        point_keys="doc_id, span_offset, lon, lat",
    )
    rows = ",\n ".join(
        f"('{pid}', {synth._arr(hx, 'duck')}, {synth._arr(hy, 'duck')})"
        for pid, hx, hy in _donut_holes()
    )
    inhole = pip_condition_sql("lon", "lat", "hole_lon", "hole_lat", "duck")
    return f"""
WITH io AS ({outer}),
h AS (SELECT * FROM (VALUES {rows}) AS t(poly_id, hole_lon, hole_lat))
SELECT poly_id, count(*) AS n_pts
FROM io JOIN h USING (poly_id)
WHERE NOT ({inhole})
GROUP BY 1
"""


O_PIP_HOLES = _o_pip_holes()


DBSCAN_EPS, DBSCAN_MIN_PTS = 12.0, 4


def q_dbscan(spark, sf_dir):
    """Density-based clustering (DBSCAN) of document representative
    points: eps-pairs from the bounded cell-ring radius join, core test as
    a degree count, clusters as Pregel connected components over the
    core-core subgraph, borders tie-broken to the min core-neighbour
    label.  See spatial/cluster.py for the 100 TB decomposition."""
    from ..spatial.cluster import dbscan

    pts = flat_spans(spark, sf_dir).filter("span_idx = 0").select("doc_id", "lon", "lat")
    return dbscan(pts, eps=DBSCAN_EPS, min_pts=DBSCAN_MIN_PTS)


def _dbscan_oracle():
    from ..spatial.cluster import dbscan_oracle_sql

    return dbscan_oracle_sql(
        f"SELECT doc_id, lon, lat FROM ({O_SPANS_FLAT}) WHERE span_idx = 0",
        eps=DBSCAN_EPS,
        min_pts=DBSCAN_MIN_PTS,
    )


O_DBSCAN = _dbscan_oracle()


SEG_RADIUS = 6.0


def _event_segments_sql(dialect: str) -> str:
    """(user_id, seg_idx, ax, ay, bx, by) — consecutive event-point
    segments per user, shared text both engines."""
    from ..spatial.trajectory import _coords_sql

    lon, lat = _coords_sql()
    return f"""
SELECT user_id, seg_idx, ax, ay, bx, by FROM (
  SELECT user_id,
         lag({lon}) OVER w AS ax, lag({lat}) OVER w AS ay,
         {lon} AS bx, {lat} AS by,
         row_number() OVER w - 2 AS seg_idx
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
) t WHERE ax IS NOT NULL
"""


def q_segment_join(spark, sf_dir):
    """Nearest-trajectory-segment join (the map-matching primitive): each
    doc representative point snaps to the closest event-trajectory SEGMENT
    within SEG_RADIUS planar degrees — exact point-to-segment distance,
    candidates from point-ring × segment-bbox-cover cell join
    (spatial/segment.py)."""
    from ..spatial.segment import nearest_segment_join

    _load_events(spark, sf_dir)
    pts = flat_spans(spark, sf_dir).filter("span_idx = 0").select("doc_id", "lon", "lat")
    segs = spark.sql(_event_segments_sql("spark"))
    return nearest_segment_join(pts, segs, radius=SEG_RADIUS)


def _o_segment_join() -> str:
    from ..spatial.segment import nearest_segment_oracle_sql

    return nearest_segment_oracle_sql(
        f"SELECT doc_id, lon, lat FROM ({O_SPANS_FLAT}) WHERE span_idx = 0",
        _event_segments_sql("duck"),
        radius=SEG_RADIUS,
    )


O_SEGMENT_JOIN = _o_segment_join()


def q_poly_regions(spark, sf_dir):
    """Merged-region labelling: connected components over the polygon
    overlay graph (polygons whose rings intersect belong to one region) —
    the dissolve/union precursor, third reuse of the shared Pregel loop."""
    from ..functions.graph import connected_components
    from ..spatial.overlay import polygon_overlap_join

    pairs = polygon_overlap_join(synth.polygons_df(spark)).select("poly_a", "poly_b")
    edges = pairs.selectExpr("poly_a AS src", "poly_b AS dst").union(
        pairs.selectExpr("poly_b AS src", "poly_a AS dst")
    )
    nodes = synth.polygons_df(spark).select(F.col("poly_id").alias("node"))
    return (
        connected_components(nodes, edges, node_col="node")
        .withColumnRenamed("node", "poly_id")
        .withColumnRenamed("cluster_id", "region_id")
    )


def _o_poly_regions() -> str:
    from ..functions.graph import reach_cte_sql

    ov = O_POLY_OVERLAP.strip()
    cte = reach_cte_sql(
        f"SELECT poly_a AS src, poly_b AS dst FROM ({ov}) "
        f"UNION ALL SELECT poly_b, poly_a FROM ({ov})",
        f"SELECT poly_id AS node FROM {synth.polygons_values_sql('duck')}",
        "node",
    )
    return (
        f"WITH RECURSIVE {cte} "
        "SELECT node AS poly_id, cluster_id AS region_id FROM cl"
    )


O_POLY_REGIONS = _o_poly_regions()


KNN_RES, KNN_RING, KNN_K = 5, 1, 3


def q_knn(spark, sf_dir):
    """Bounded-ring kNN over doc representative points (first span),
    through the planar halo-exchange kernel (spatial/knn.py knn_local):
    the k nearest within KNN_RING cells at KNN_RES by squared (lon, lat)
    distance, (distance, id) ties, ``dist2`` exact.  Registered twice, as
    ``knn`` and ``knn_local``."""
    from ..spatial.knn import knn_local

    pts = flat_spans(spark, sf_dir).filter("span_idx = 0").select("doc_id", "lon", "lat")
    return knn_local(pts, res=KNN_RES, ring=KNN_RING, k=KNN_K)


O_KNN = knn_oracle_sql(
    f"SELECT doc_id, lon, lat FROM ({O_SPANS_FLAT}) WHERE span_idx = 0",
    res=KNN_RES, ring=KNN_RING, k=KNN_K,
)


def q_knn_mutual(spark, sf_dir):
    """Mutual-kNN graph clustering: an edge only where BOTH points rank
    each other in their top-k (the density-robust graph used for spectral
    / agglomerative pipelines), then Pregel components label the clusters.
    Mutuality = one self-join of the directed kNN edge set on the swapped
    key pair; the mutual set is symmetric by construction."""
    from ..functions.graph import connected_components

    kn = q_knn(spark, sf_dir).select("doc_id", "neighbor_id").localCheckpoint()
    rev = kn.select(
        F.col("neighbor_id").alias("doc_id"), F.col("doc_id").alias("neighbor_id")
    )
    mutual = kn.join(rev, ["doc_id", "neighbor_id"]).select(
        F.col("doc_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    pts = flat_spans(spark, sf_dir).filter("span_idx = 0").select(
        F.col("doc_id").alias("node")
    )
    return (
        connected_components(pts, mutual, node_col="node")
        .withColumnRenamed("node", "doc_id")
    )


def _o_knn_mutual() -> str:
    from ..functions.graph import reach_cte_sql

    kn = O_KNN.strip()
    edges = (
        f"SELECT a.doc_id AS src, a.neighbor_id AS dst FROM ({kn}) a "
        f"JOIN ({kn}) b ON a.doc_id = b.neighbor_id AND a.neighbor_id = b.doc_id"
    )
    nodes = f"SELECT doc_id AS node FROM ({O_SPANS_FLAT}) WHERE span_idx = 0"
    cte = reach_cte_sql(edges, nodes, "node")
    return f"WITH RECURSIVE {cte} SELECT node AS doc_id, cluster_id FROM cl"


O_KNN_MUTUAL = _o_knn_mutual()


def q_knn_kdist(spark, sf_dir):
    """k-distance diagnostic (the DBSCAN eps-selection curve): each
    point's k-th-NN squared distance, bucketed into a decile histogram by
    sorted rank — rides the bounded-ring kNN (points whose ring holds
    < k neighbours are absent, as in the standard plot)."""
    from pyspark.sql import Window as W

    kd = (
        q_knn(spark, sf_dir)
        .filter(F.col("rank") == KNN_K)
        .select("doc_id", "dist2")
    )
    w = W.orderBy("dist2", "doc_id")
    # NB: the global sort is the PLOT's semantics (a one-dimensional
    # ordered curve); the decile bucket keeps the output tiny
    return (
        kd.withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(kd.agg(F.count(F.lit(1)).alias("n_pts"))))
        .withColumn("decile", F.expr("CAST((rn - 1) * 10 DIV n_pts AS BIGINT)"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("dist2").alias("d2_min"),
            F.max("dist2").alias("d2_max"),
        )
    )


O_KNN_KDIST = f"""
WITH kd AS (
  SELECT doc_id, dist2 FROM ({O_KNN.strip()}) WHERE rank = {KNN_K}
),
r AS (
  SELECT dist2, row_number() OVER (ORDER BY dist2, doc_id) AS rn,
         count(*) OVER () AS n_pts
  FROM kd
)
SELECT (rn - 1) * 10 // n_pts AS decile, count(*) AS n,
       min(dist2) AS d2_min, max(dist2) AS d2_max
FROM r GROUP BY 1
"""


def q_raster_focal(spark, sf_dir):
    """Focal 3×3 raster statistics (map-algebra focal max/min/sum) over
    the generated raster grid — exact channels (values are binary
    fractions), one constant explode + re-aggregation."""
    from ..spatial.raster import focal_stats

    return focal_stats(spark, res=6)


def _o_raster_focal() -> str:
    from ..spatial.raster import focal_stats_oracle_sql

    return focal_stats_oracle_sql(res=6)


O_RASTER_FOCAL = _o_raster_focal()


def q_idw_interp(spark, sf_dir):
    """Inverse-distance-weighted interpolation of the span density field
    onto empty cells (gap filling): integer weights 40/d2 make both sums
    exact BIGINT; the estimate is one double division.  Constant 24-way
    map-side spread + grid-bounded aggregate + emptiness anti-join."""
    from ..spatial.raster import idw_sql

    load_documents(spark, sf_dir)
    return spark.sql(idw_sql(synth.flat_spans_sql("spark"), "spark"))


def _o_idw_interp() -> str:
    from ..spatial.raster import idw_sql

    return idw_sql(synth.flat_spans_sql("duck"), "duck")


O_IDW_INTERP = _o_idw_interp()


def _skyline_sql() -> str:
    """Pareto frontier (skyline) of documents maximizing (n_spans,
    n_chars): docs not dominated by any other on both axes.

    Shared-text algorithm for BOTH engines: group to per-x max-y (x =
    n_spans has BOUNDED cardinality — 8 values by construction — so the
    global-ordered window rides a tiny aggregate, the bin-edge-densify
    pattern, never a corpus-sized single-partition sort), running max
    over strictly-greater x, then one equi join back.  A doc survives iff
    it attains its x-group's max y AND beats every greater-x group's max
    (strict: an equal y at greater x dominates).  The DuckDB oracle is
    the INDEPENDENT quadratic NOT EXISTS dominance definition, so the
    window algebra is proven against first-principles semantics."""
    return f"""
WITH feat AS (
  SELECT doc_id, CAST({synth.n_spans_sql()} AS BIGINT) AS n_spans, n_chars
  FROM documents
),
gx AS (
  SELECT n_spans, max(n_chars) AS my FROM feat GROUP BY 1
),
run AS (
  SELECT n_spans, my,
         max(my) OVER (ORDER BY n_spans DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mgt
  FROM gx
)
SELECT f.doc_id, f.n_spans, f.n_chars
FROM feat f JOIN run r ON f.n_spans = r.n_spans
WHERE f.n_chars = r.my AND (r.mgt IS NULL OR f.n_chars > r.mgt)
"""


def q_skyline(spark, sf_dir):
    """Skyline / Pareto-frontier query via the bounded-group window
    algorithm (see _skyline_sql) — the multi-criteria 'best documents'
    primitive (longest AND most-interleaved), O(n) + a tiny window where
    the textbook definition is an O(n^2) self-anti-join."""
    load_documents(spark, sf_dir)
    return spark.sql(_skyline_sql())


def _o_skyline() -> str:
    # independent first-principles oracle: quadratic NOT EXISTS dominance
    return f"""
WITH feat AS (
  SELECT doc_id, CAST({synth.n_spans_sql()} AS BIGINT) AS n_spans, n_chars
  FROM documents
)
SELECT b.doc_id, b.n_spans, b.n_chars FROM feat b
WHERE NOT EXISTS (
  SELECT 1 FROM feat a
  WHERE a.n_spans >= b.n_spans AND a.n_chars >= b.n_chars
    AND (a.n_spans > b.n_spans OR a.n_chars > b.n_chars)
)
"""


O_SKYLINE = _o_skyline()


def q_raster_join(spark, sf_dir):
    df = flat_spans(spark, sf_dir).select("doc_id", "span_idx", "lon", "lat")
    return raster_vector_join(df, res=REGION_RES).select(
        "doc_id", "span_idx", "tile_id", "tile_value"
    )


O_RASTER_JOIN = f"""
SELECT p.doc_id, p.span_idx, r.tile_id, r.tile_value
FROM ({O_SPANS_FLAT}) p
JOIN ({synth.raster_sql('duck', REGION_RES)}) r
  ON {grid.cell_sql('p.lon', 'p.lat', REGION_RES, 'duck')} = r.tile_id
"""


