"""Ray-casting PIP: numpy kernel vs hand-computed membership vs DuckDB SQL."""

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fast_carpenter_spark.spatial.pip import (
    edges_sql,
    pip_edges_condition_sql,
    points_in_polygon,
)
from fast_carpenter_spark import synth

SQUARE_X = [0.0, 2.0, 2.0, 0.0]
SQUARE_Y = [0.0, 0.0, 2.0, 2.0]
# concave "star4" centered at origin, radius 1
STAR_X = [0.0, -0.25, -1.0, -0.25, 0.0, 0.25, 1.0, 0.25]
STAR_Y = [1.0, 0.25, 0.0, -0.25, -1.0, -0.25, 0.0, 0.25]


def test_square_membership():
    px = np.array([1.0, 3.0, -0.5, 1.999])
    py = np.array([1.0, 1.0, 1.0, 0.001])
    got = points_in_polygon(px, py, [SQUARE_X] * 4, [SQUARE_Y] * 4)
    assert got.tolist() == [True, False, False, True]


def test_concave_star():
    # (0.5, 0.5) lies OUTSIDE the 4-star (between arms); (0.1, 0.1) inside
    px = np.array([0.5, 0.1, 0.0, 0.9])
    py = np.array([0.5, 0.1, 0.9, 0.0])
    got = points_in_polygon(px, py, [STAR_X] * 4, [STAR_Y] * 4)
    assert got.tolist() == [False, True, True, True]


def test_varying_ring_lengths():
    tri_x, tri_y = [0.0, 4.0, 0.0], [0.0, 0.0, 4.0]
    px = np.array([1.0, 1.0])
    py = np.array([1.0, 1.0])
    got = points_in_polygon(px, py, [SQUARE_X, tri_x], [SQUARE_Y, tri_y])
    assert got.tolist() == [True, True]


def test_matches_duckdb_parity_formula():
    rng = np.random.RandomState(3)
    polys = synth.polygons(8)
    px = rng.uniform(-180, 180, 400)
    py = rng.uniform(-90, 90, 400)
    con = duckdb.connect()
    con.execute("CREATE TABLE pts (i INT, lon DOUBLE, lat DOUBLE)")
    con.executemany(
        "INSERT INTO pts VALUES (?, ?, ?)",
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(px, py))],
    )
    values = synth.polygons_values_sql("duck", 8)
    sql = f"""
    WITH edges AS (
      SELECT poly_id,
             list_extract(ring_lon, i) AS x1, list_extract(ring_lat, i) AS y1,
             list_extract(ring_lon, 1 + i % len(ring_lon)) AS x2,
             list_extract(ring_lat, 1 + i % len(ring_lon)) AS y2
      FROM (SELECT *, unnest(range(1, len(ring_lon) + 1)) AS i FROM {values})
    )
    SELECT p.i, e.poly_id FROM pts p, edges e
    GROUP BY p.i, e.poly_id
    HAVING SUM(CASE WHEN ((y1 > lat) != (y2 > lat))
                    AND (lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1)
               THEN 1 ELSE 0 END) % 2 = 1
    """
    duck_pairs = set(map(tuple, con.execute(sql).fetchall()))

    numpy_pairs = set()
    for d in polys:
        inside = points_in_polygon(
            px, py, [d["ring_lon"]] * len(px), [d["ring_lat"]] * len(px)
        )
        for i in np.nonzero(inside)[0]:
            numpy_pairs.add((int(i), d["poly_id"]))
    assert numpy_pairs == duck_pairs
    assert len(numpy_pairs) > 0


def test_pip_udf_on_spark(spark):
    """The engine's Spark refine (edges precomputed, crossing parity in
    codegen SQL) agrees with the numpy kernel row for row."""
    rows = [
        (1.0, 1.0, SQUARE_X, SQUARE_Y),
        (3.0, 1.0, SQUARE_X, SQUARE_Y),
        (0.1, 0.1, STAR_X, STAR_Y),
        (0.5, 0.5, STAR_X, STAR_Y),
    ]
    df = spark.createDataFrame(
        rows, "lon double, lat double, ring_lon array<double>, ring_lat array<double>"
    )
    inside = pip_edges_condition_sql("lon", "lat")
    got = [
        r.inside
        for r in df.withColumn("edges", F.expr(edges_sql()))
        .select(F.expr(inside).alias("inside"))
        .collect()
    ]
    assert got == [True, False, True, False]
    want = points_in_polygon(
        [r[0] for r in rows], [r[1] for r in rows],
        [r[2] for r in rows], [r[3] for r in rows],
    )
    assert got == list(want)
