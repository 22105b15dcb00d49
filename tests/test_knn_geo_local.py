"""knn_geo_local == knn_geo on adversarial geometry.

The local kernel (halo-exchange blocks + unit-sphere chord SIMD) must be
output-identical to the ring-join reference implementation — same bounded
kNN contract, same (distance, neighbor_id) tie order — across the shapes
that break naive grid kernels: antimeridian-straddling clusters (wrapped
block columns), polar clusters (full-circle rings), exact duplicate
positions (deep tie classes broken by neighbour id), hot-cell salting,
multi-block-column rings (the >2-column replication case), and over-fine
resolutions whose rings span several block rows.
"""

import sys

import numpy as np
import pytest

sys.path.insert(0, "/root/repo")

from fast_carpenter_spark.spatial.knn import knn_geo, knn_geo_local


def _points(spark):
    rng = np.random.RandomState(7)
    rows = [
        (i, float(rng.uniform(-180, 180)), float(rng.uniform(-90, 90)))
        for i in range(900)
    ]
    # antimeridian straddle: wrapped neighbours are real neighbours
    rows += [
        (i, float(((179.9 + rng.uniform(-0.3, 0.3)) + 180) % 360 - 180),
         float(rng.uniform(-5, 5)))
        for i in range(900, 960)
    ]
    # polar cluster: pole-crossing disks span all longitudes
    rows += [
        (i, float(rng.uniform(-180, 180)), float(88.0 + rng.uniform(0, 1.9)))
        for i in range(960, 1020)
    ]
    # duplicate-position mass: 25 distinct lattice positions, heavy ties
    rows += [
        (i, 20.0 + (i % 5) * 0.001, 10.0 + (i % 5) * 0.001)
        for i in range(1020, 1200)
    ]
    return spark.createDataFrame(rows, "doc_id long, lon double, lat double")


def _pairs(df):
    return sorted((r.doc_id, r.neighbor_id, r.rank) for r in df.collect())


@pytest.fixture(scope="module")
def pts(spark):
    df = _points(spark)
    df.cache().count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def ring_300(pts):
    return _pairs(knn_geo(pts, radius_km=300.0, k=3))


def test_default_res(pts, ring_300):
    assert _pairs(knn_geo_local(pts, radius_km=300.0, k=3)) == ring_300


def test_density_aware_default_res(pts, ring_300):
    # n_points coarsens the default grid toward auto_res (capped 2 levels
    # below the radius res) — a perf knob only, output must be identical
    assert _pairs(
        knn_geo_local(pts, radius_km=300.0, k=3, n_points=1200)
    ) == ring_300


def test_multi_block_columns(pts, ring_300):
    # res=8 with cap 85 gives rx ~ 24 cells: the ring bbox spans up to 3
    # block columns, exercising the full block-enumeration replication
    assert _pairs(knn_geo_local(pts, radius_km=300.0, k=3, res=8)) == ring_300


def test_salted_hot_blocks(pts, ring_300):
    got = _pairs(
        knn_geo_local(pts, radius_km=300.0, k=3, res=8, hot_threshold=50, nsalt=4)
    )
    assert got == ring_300


def test_small_blocks(pts, ring_300):
    # group_offset 3 = 8x8-cell blocks: rings span many block columns and
    # rows, exercising the full wrapped block enumeration
    got = _pairs(knn_geo_local(pts, radius_km=300.0, k=3, res=8, group_offset=3))
    assert got == ring_300


def test_overfine_res(pts):
    # res 10 at 800 km: ry = 41 spans multiple block ROWS and polar rings
    # span every block column — the enumeration must cover both
    got = _pairs(knn_geo_local(pts, radius_km=800.0, k=5, res=10))
    assert got == _pairs(knn_geo(pts, radius_km=800.0, k=5))


def test_large_radius_small_grid(pts):
    # 800 km at res 7: wide rings, pole-crossing disks, coarse blocks
    want = _pairs(knn_geo(pts, radius_km=800.0, k=5))
    assert _pairs(knn_geo_local(pts, radius_km=800.0, k=5, res=7)) == want
