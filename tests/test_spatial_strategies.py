"""Skew-handling strategies must be result-identical to the baseline
(SURVEY.md §7 hard part 3): salting changes the shuffle shape, never the
rows.  The synthetic data plants hot docs (48 spans in one tiny area) and
two giant polygons precisely to exercise these paths."""

import pytest

from pyspark.sql import functions as F

from fast_carpenter_spark import synth
from fast_carpenter_spark.spatial.join import SpatialJoinStage
from fast_carpenter_spark.spatial.knn import knn_bounded, knn_local


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
    shuffled = rows_sorted(
        SpatialJoinStage(name="h", polygons=polys, strategy="shuffle").apply(spans), cols
    )
    hashed = rows_sorted(
        SpatialJoinStage(name="sh", polygons=polys, strategy="shuffle_hash").apply(spans),
        cols,
    )
    assert salted == base and shuffled == base and hashed == base and len(base) > 0


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


def test_knn_hot_cell_salting_identical(spark, spans):
    pts = spans.filter("span_idx = 0").select("doc_id", "lon", "lat").unionByName(
        spark.createDataFrame(EDGE_POINTS, "doc_id long, lon double, lat double")
    )
    cols = ["doc_id", "neighbor_id", "rank", "dist2"]
    # (ring, group_offset): the default; a wider ring; 1-cell blocks
    # narrower than the ring, so a ring spans several block columns/rows
    for ring, group_offset in [(1, 5), (2, 5), (2, 0)]:
        base = rows_sorted(knn_bounded(pts, res=5, ring=ring, k=3), cols)
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
# polygon, integer coordinates, and a 2x2 degree square around (10, 10)
USER_POLYGONS = [
    {"poly_id": "harbour", "region": "north", "weight": 1,
     "ring_lon": [9, 11, 11, 9], "ring_lat": [9, 9, 11, 11]},
    {"poly_id": "c-shape", "region": "east side", "weight": 0.5,
     "ring_lon": [28.0, 34.0, 34.0, 29.0, 29.0, 34.0, 34.0, 28.0],
     "ring_lat": [-22.0, -22.0, -21.0, -21.0, -19.0, -19.0, -18.0, -18.0]},
    {"poly_id": "Z9", "region": "north", "weight": 2.25,
     "ring_lon": [10.5, 13.0, 10.5], "ring_lat": [10.5, 10.5, 13.0]},
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
]


def _values_sql(polys):
    rows = ",\n ".join(
        f"('{d['poly_id']}', '{d['region']}', {synth._dbl(float(d['weight']), 'duckdb')}, "
        f"{synth._arr(d['ring_lon'], 'duckdb')}, {synth._arr(d['ring_lat'], 'duckdb')})"
        for d in polys
    )
    return f"(VALUES\n {rows}\n) AS polygons(poly_id, region, weight, ring_lon, ring_lat)"


def test_join_refines_against_user_polygons(spark, duck):
    from fast_carpenter_spark.spatial.pip import pip_oracle_sql

    cols = ["doc_id", "span_offset", "poly_id", "region", "weight"]
    pts = spark.createDataFrame(
        USER_POINTS, "doc_id long, span_offset int, lon double, lat double"
    )
    got = rows_sorted(SpatialJoinStage(name="u", polygons=USER_POLYGONS).apply(pts), cols)
    points_sql = "SELECT * FROM (VALUES " + ", ".join(
        f"({d}, {o}, {synth._dbl(x, 'duckdb')}, {synth._dbl(y, 'duckdb')})"
        for d, o, x, y in USER_POINTS
    ) + ") AS t(doc_id, span_offset, lon, lat)"
    want = sorted(
        tuple(r) for r in duck.execute(
            pip_oracle_sql(points_sql, _values_sql(USER_POLYGONS),
                           extra_poly_cols="region, weight")
        ).fetchall()
    )
    assert got == want
    assert [r for r in got if r[0] == 1] == [(1, 0, "harbour", "north", 1.0)]
    assert not [r for r in got if r[:2] == (3, 0)] and len(got) == 7


def test_pip_refine_udf_matches_sql(spark, spans):
    """The Arrow numpy PIP kernel and the codegen SQL refine agree."""
    polys = synth.polygons()
    cols = ["doc_id", "span_idx", "poly_id"]
    via_sql = rows_sorted(
        SpatialJoinStage(name="a", polygons=polys, refine="sql").apply(spans), cols
    )
    via_udf = rows_sorted(
        SpatialJoinStage(name="b", polygons=polys, refine="udf").apply(spans), cols
    )
    assert via_sql == via_udf and len(via_sql) > 0
