"""The halo kernel's numpy block function as a plain function — no Spark.

``_knn_block`` is the body ``knn_local`` and ``knn_geo_local`` run per
(block, salt) group inside ``applyInPandas``.  Here it gets a pandas group
directly and is compared with a brute-force numpy reference: every query
(``_core``) row against every other member inside its ring, ranked by
(squared distance in the embedding, neighbour id), radius cutoff applied
when given.  Covers both embeddings, with and without the cutoff, a
point-mass tie class, salted groups (most members are candidates only) and
a geodesic group straddling the antimeridian.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fast_carpenter_spark import grid
from fast_carpenter_spark.spatial.knn import (
    _geo_ring,
    _knn_block,
    _planar_ring,
    _plane,
    _sphere,
    hav_threshold,
)

RES = 6
RADIUS_KM = 300.0


def _group(geo: bool, salted: bool, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    if geo:
        # straddles the antimeridian: half the points at lon ~ +180, half
        # at ~ -180, and a point mass on each side
        lon = np.concatenate([rng.uniform(176.0, 180.0, 80), rng.uniform(-180.0, -176.0, 80),
                              np.full(25, 179.99), np.full(25, -179.995)])
        lat = np.concatenate([rng.uniform(-4.0, 4.0, 160), np.full(50, 0.5)])
    else:
        lon = np.concatenate([rng.uniform(0.0, 20.0, 160), np.full(50, 5.0)])
        lat = np.concatenate([rng.uniform(0.0, 10.0, 160), np.full(50, 5.0)])
    ids = rng.permutation(len(lon)).astype(np.int64) * 7 + 3
    core = rng.random(len(lon)) < 0.3 if salted else np.ones(len(lon), dtype=bool)
    return pd.DataFrame({
        "_id": ids, "_lon": lon, "_lat": lat,
        "_cell": grid.encode_cells(lon, lat, RES), "_core": core,
    })


def _reference(pdf, ring, embed, cut2, k):
    xyz = embed(pdf["_lon"].to_numpy(), pdf["_lat"].to_numpy())
    ids = pdf["_id"].to_numpy()
    _, cx, cy = grid.unpack_cells(pdf["_cell"].to_numpy())
    n = 1 << ring.res
    rx = ring.rx_cells(cy)
    out = []
    for q in np.nonzero(pdf["_core"].to_numpy())[0]:
        dx = np.abs(cx - cx[q])
        if ring.wrap:
            dx = np.minimum(dx, n - dx)
        ok = (dx <= rx[q]) & (np.abs(cy - cy[q]) <= ring.ry) & (ids != ids[q])
        d2 = (xyz[0] - xyz[0][q]) ** 2
        for a in xyz[1:]:
            d2 = d2 + (a - a[q]) ** 2
        if cut2 is not None:
            ok &= d2 <= cut2
        top = sorted(zip(d2[ok], ids[ok]))[:k]
        out += [(ids[q], nb, r, d) for r, (d, nb) in enumerate(top, start=1)]
    return sorted(out)


@pytest.mark.parametrize("salted", [False, True])
@pytest.mark.parametrize("cutoff", [False, True])
@pytest.mark.parametrize("geo", [False, True])
@pytest.mark.parametrize("k", [3, 5])
def test_block_matches_brute_force(geo, cutoff, salted, k):
    pdf = _group(geo, salted, seed=11 + k)
    if geo:
        ring, embed = _geo_ring(RES, RADIUS_KM), _sphere
        cut2 = 4.0 * hav_threshold(RADIUS_KM) if cutoff else None
    else:
        ring, embed = _planar_ring(RES, 1), _plane
        cut2 = 4.0 if cutoff else None
    want = _reference(pdf, ring, embed, cut2, k)
    q, nb, rank, d2 = _knn_block(pdf, ring, embed, cut2, k)
    assert sorted(zip(q, nb, rank, d2)) == want
    # the point mass is a tie class deeper than k: ties break on id
    assert len(want) > 0 and any(d == 0.0 for *_, d in want)


def test_block_without_queries_is_empty():
    pdf = _group(geo=False, salted=False, seed=1)
    pdf["_core"] = False
    out = _knn_block(pdf, _planar_ring(RES, 1), _plane, None, 3)
    assert [len(a) for a in out] == [0, 0, 0, 0]
