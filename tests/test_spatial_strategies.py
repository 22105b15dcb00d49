"""Skew-handling strategies must be result-identical to the baseline
(SURVEY.md §7 hard part 3): salting changes the shuffle shape, never the
rows.  The synthetic data plants hot docs (48 spans in one tiny area) and
two giant polygons precisely to exercise these paths."""

import pytest

from pyspark.sql import functions as F

from fast_carpenter_spark import synth
from fast_carpenter_spark.spatial.join import (
    STRATEGIES, SpatialJoinStage, polygon_covers_local, polygons_frame, spatial_join,
)
from fast_carpenter_spark.spatial.knn import knn_local, knn_oracle_sql


@pytest.fixture(scope="module")
def spans(spark, docs):
    return spark.sql(synth.flat_spans_sql("spark"))


def rows_sorted(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_join_strategies_identical(spark, spans):
    polys = synth.polygons()
    cols = ["doc_id", "span_idx", "poly_id", "region"]
    base = rows_sorted(
        SpatialJoinStage(name="b", polygons=polys, strategy="broadcast").apply(spans), cols
    )
    salted = rows_sorted(
        SpatialJoinStage(name="s", polygons=polys, strategy="salted", nsalt=7).apply(spans),
        cols,
    )
    hashed = rows_sorted(
        SpatialJoinStage(name="sh", polygons=polys, strategy="shuffle_hash").apply(spans),
        cols,
    )
    assert salted == base and hashed == base and len(base) > 0
    with pytest.raises(ValueError, match="'salt'.*broadcast.*salted.*shuffle_hash"):
        SpatialJoinStage(name="t", polygons=polys, strategy="salt").apply(spans)


# planar grid-edge points: lon = +-180 and lat = +-90 sit in the edge cells
# and must NOT wrap to the opposite edge (ids clear of the doc ids)
EDGE_POINTS = [
    (10**9 + i, lon, lat)
    for i, (lon, lat) in enumerate([
        (180.0, 0.0), (-180.0, 0.0), (180.0, 1.0), (-180.0, 1.0),
        (180.0, 90.0), (-180.0, 90.0), (180.0, -90.0), (-180.0, -90.0),
        (179.0, 89.0), (-179.0, -89.5), (0.0, 90.0), (0.0, -90.0), (1.0, 89.9),
    ])
]


def test_knn_hot_cell_salting_identical(spark, spans, duck):
    pts = spans.filter("span_idx = 0").select("doc_id", "lon", "lat").unionByName(
        spark.createDataFrame(EDGE_POINTS, "doc_id long, lon double, lat double")
    )
    duck.register("knn_pts", pts.toPandas())
    cols = ["doc_id", "neighbor_id", "rank", "dist2"]
    # (ring, group_offset): the default; a wider ring; 1-cell blocks
    # narrower than the ring, so a ring spans several block columns/rows
    for ring, group_offset in [(1, 5), (2, 5), (2, 0)]:
        # the brute-force oracle: dist2 bit-equal, not just the ranks
        base = sorted(duck.execute(
            knn_oracle_sql("SELECT * FROM knn_pts", res=5, ring=ring, k=3)
        ).fetchall())
        # hot_threshold=1 forces EVERY populated cell through the salted path
        forced = rows_sorted(
            knn_local(pts, res=5, ring=ring, k=3, hot_threshold=1, nsalt=5,
                      group_offset=group_offset), cols
        )
        normal = rows_sorted(
            knn_local(pts, res=5, ring=ring, k=3, group_offset=group_offset), cols
        )
        assert forced == base and normal == base and len(base) > 0, (ring, group_offset)


# hand-built layer: ids and regions in no synthetic shape, a concave "C"
# polygon, integer coordinates, a 2x2 degree square around (10, 10), and a
# pentagon large enough to hold interior res-8 cells (1.40625 x 0.703125
# degrees; lon 45 and lat 0, 1.40625, 5.625 are res-8 cell borders)
USER_POLYGONS = [
    {"poly_id": "harbour", "region": "north", "weight": 1,
     "ring_lon": [9, 11, 11, 9], "ring_lat": [9, 9, 11, 11]},
    {"poly_id": "c-shape", "region": "east side", "weight": 0.5,
     "ring_lon": [28.0, 34.0, 34.0, 29.0, 29.0, 34.0, 34.0, 28.0],
     "ring_lat": [-22.0, -22.0, -21.0, -21.0, -19.0, -19.0, -18.0, -18.0]},
    {"poly_id": "Z9", "region": "north", "weight": 2.25,
     "ring_lon": [10.5, 13.0, 10.5], "ring_lat": [10.5, 10.5, 13.0]},
    {"poly_id": "plaza", "region": "south", "weight": 0.75,
     "ring_lon": [40.0, 52.0, 52.0, 46.0, 40.0], "ring_lat": [-6.0, -6.0, 4.0, 8.0, 4.0]},
]
USER_POINTS = [
    (1, 0, 10.0, 10.0),    # square centre
    (2, 0, 10.7, 10.7),    # square and triangle
    (3, 0, 31.0, -20.0),   # inside the C's notch: outside
    (3, 1, 28.5, -20.0),   # C spine
    (4, 0, 31.0, -21.5),   # C lower arm
    (4, 1, 31.0, -18.5),   # C upper arm
    (5, 0, 12.5, 10.7),    # triangle only
    (6, 0, -50.0, 40.0),   # nowhere
    (7, 0, 45.0, 0.0),     # plaza, res-8 cell corner in its interior
    (7, 1, 45.0, 1.40625), # plaza, res-8 cell border
    (7, 2, 47.8125, -2.8125),  # plaza, res-8 corner
    (8, 0, 40.0, 0.0),     # plaza edge
    (8, 1, 43.0, 6.0),     # plaza slanted edge
    (8, 2, 52.0, -6.0),    # plaza vertex
    (8, 3, 46.0, 8.0),     # plaza apex
    (8, 4, 40.0, 4.0),     # plaza vertex
    (9, 0, 51.5, 7.0),     # above plaza's slanted edge: outside
    (9, 1, 9.0, 9.0),      # square vertex
    (9, 2, 11.0, 10.0),    # square edge
    (9, 3, 10.5, 10.5),    # triangle vertex, inside the square
    (9, 4, 45.0, 5.625),   # plaza, res-8 border near the slanted edges
]


def _values_sql(polys):
    rows = ",\n ".join(
        f"('{d['poly_id']}', '{d['region']}', {synth._dbl(float(d['weight']), 'duckdb')}, "
        f"{synth._arr(d['ring_lon'], 'duckdb')}, {synth._arr(d['ring_lat'], 'duckdb')})"
        for d in polys
    )
    return f"(VALUES\n {rows}\n) AS polygons(poly_id, region, weight, ring_lon, ring_lat)"


def _oracle_rows(duck, points, polys):
    from fast_carpenter_spark.spatial.pip import pip_oracle_sql

    points_sql = "SELECT * FROM (VALUES " + ", ".join(
        f"({d}, {o}, {synth._dbl(x, 'duckdb')}, {synth._dbl(y, 'duckdb')})"
        for d, o, x, y in points
    ) + ") AS t(doc_id, span_offset, lon, lat)"
    return sorted(
        tuple(r) for r in duck.execute(
            pip_oracle_sql(points_sql, _values_sql(polys), extra_poly_cols="region, weight")
        ).fetchall()
    )


def test_join_refines_against_user_polygons(spark, duck):
    cols = ["doc_id", "span_offset", "poly_id", "region", "weight"]
    covers, _ = polygon_covers_local(USER_POLYGONS)
    assert covers[covers.poly_id == "plaza"].inside.any()
    pts = spark.createDataFrame(
        USER_POINTS, "doc_id long, span_offset int, lon double, lat double"
    )
    got = rows_sorted(SpatialJoinStage(name="u", polygons=USER_POLYGONS).apply(pts), cols)
    assert got == _oracle_rows(duck, USER_POINTS, USER_POLYGONS)
    assert [r for r in got if r[0] == 1] == [(1, 0, "harbour", "north", 1.0)]
    assert not [r for r in got if r[:2] == (3, 0)] and len(got) == 17


def test_multi_level_cover_join(spark, duck):
    """The multi-level cover (per-polygon resolutions, points exploded over
    the levels) matches the brute-force oracle on every strategy, on a
    lattice of res-8 cell centres and borders plus the hand-made points."""
    cols = ["doc_id", "span_offset", "poly_id", "region", "weight"]
    covers_pd, levels = polygon_covers_local(USER_POLYGONS, max_cells=64, max_total_rows=1)
    assert len(levels) > 1 and covers_pd.inside.any()
    lattice = [
        (100 + k, j, -180.0 + 1.40625 * k / 2, -90.0 + 0.703125 * j / 2)
        for k in range(264, 334) for j in range(190, 296, 3)
    ]
    points = USER_POINTS + lattice
    pts = spark.createDataFrame(points, "doc_id long, span_offset int, lon double, lat double")
    want = _oracle_rows(duck, points, USER_POLYGONS)
    polys = polygons_frame(spark, USER_POLYGONS)
    covers = spark.createDataFrame(covers_pd)
    for strategy in STRATEGIES:
        got = rows_sorted(
            spatial_join(pts, polys, covers, strategy=strategy, nsalt=3, salt_key="doc_id",
                         resolutions=levels),
            cols,
        )
        assert got == want, strategy



_SQUARE = {"poly_id": "ok", "region": "r", "weight": 1,
           "ring_lon": [0, 1, 1, 0], "ring_lat": [0, 0, 1, 1]}


@pytest.mark.parametrize("bad, message", [
    ({"poly_id": "two", "ring_lon": [0.0, 1.0], "ring_lat": [0.0, 1.0]}, "'two'.*3 vertices"),
    ({"poly_id": "ragged", "ring_lon": [0.0, 1.0, 1.0], "ring_lat": [0.0, 1.0]},
     "'ragged'.*ring_lon has 3.*ring_lat 2"),
    ({"poly_id": "nan", "ring_lon": [0.0, float("nan"), 1.0], "ring_lat": [0.0, 1.0, 1.0]},
     "'nan'.*non-finite"),
    ({"poly_id": "inf", "ring_lon": [0.0, 1.0, 1.0], "ring_lat": [0.0, 1.0, -float("inf")]},
     "'inf'.*non-finite"),
    ({"poly_id": "ok"}, "duplicate poly_id 'ok'"),
    # stage settings, checked at construction too: pmod by a zero salt
    # count is a JVM error at the first action, a negative one is silent
    ({"strategy": "salted", "nsalt": 0}, "nsalt must be >= 1, got 0"),
    ({"strategy": "salted", "nsalt": -3}, "nsalt must be >= 1, got -3"),
    ({"strategy": "salt"}, "unknown spatial join strategy 'salt'"),
])
def test_join_stage_rejects_bad_rings(bad, message):
    SpatialJoinStage(name="v", polygons=[_SQUARE])  # integer coordinates pass
    stage = {f: bad[f] for f in ("strategy", "nsalt") if f in bad}
    ring = {f: v for f, v in bad.items() if f not in stage}
    polygons = [_SQUARE, {**_SQUARE, **ring}] if ring else [_SQUARE]
    with pytest.raises(ValueError, match=message):
        SpatialJoinStage(name="v", polygons=polygons, **stage)
