"""The halo kernel's Python side as plain functions — no Spark.

``_knn_block`` is the body ``knn_local`` and ``knn_geo_local`` run per
(block, salt) group; ``_rank_partition`` is the ``mapInArrow`` function
that cuts one shuffle partition's Arrow batches into those groups.  Here
``_knn_block`` gets a pandas group directly and is compared with a
brute-force numpy reference: every query
(``_core``) row against every other member inside its ring, ranked by
(squared distance in the embedding, neighbour id), radius cutoff applied
when given.  Covers both embeddings, with and without the cutoff, a
point-mass tie class, salted groups (most members are candidates only) and
a geodesic group straddling the antimeridian.

Two group shapes: a packed one, where every ring holds tens of candidates,
and a spread one, where most cells hold 0-3 points next to one point-mass
cell.  The spread group runs both of the kernel's paths in one call: the
flat pair batch for the sparse cells and the 2-D block for the cells whose
ring reaches the mass (more than ``_DENSE_CANDIDATES`` candidates).

``_rank_partition`` is fed several such groups as one shuffled Arrow
table and must return the rows ``_knn_block`` gives each group, typed as
the declared schema.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from fast_carpenter_spark import grid
from fast_carpenter_spark.spatial import knn
from fast_carpenter_spark.spatial.knn import (
    _DENSE_CANDIDATES,
    _geo_ring,
    _knn_block,
    _planar_ring,
    _plane,
    _rank_partition,
    _sphere,
    hav_threshold,
)

RES = 6
RADIUS_KM = 300.0


def _group(geo: bool, salted: bool, seed: int, spread: bool = False) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    if spread:
        # 60 little clusters of 1-3 points, half on each side of the
        # antimeridian when geo, plus one point mass deeper than the split
        n_cl = rng.integers(1, 4, 60)
        cx = rng.uniform(150.0, 210.0, 60) if geo else rng.uniform(-60.0, 60.0, 60)
        cy = rng.uniform(-30.0, 30.0, 60)
        m = _DENSE_CANDIDATES + 20
        lon = np.concatenate([np.repeat(cx, n_cl) + rng.uniform(-0.5, 0.5, n_cl.sum()),
                              np.full(m, 179.99 if geo else 5.0)])
        lon = np.where(lon > 180.0, lon - 360.0, lon)
        lat = np.concatenate([np.repeat(cy, n_cl) + rng.uniform(-0.5, 0.5, n_cl.sum()),
                              np.full(m, 0.5 if geo else 5.0)])
    elif geo:
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


def _case(geo, cutoff):
    if geo:
        ring, embed = _geo_ring(RES, RADIUS_KM), _sphere
        cut2 = 4.0 * hav_threshold(RADIUS_KM) if cutoff else None
    else:
        ring, embed = _planar_ring(RES, 1), _plane
        cut2 = 4.0 if cutoff else None
    return ring, embed, cut2


@pytest.mark.parametrize("salted", [False, True])
@pytest.mark.parametrize("cutoff", [False, True])
@pytest.mark.parametrize("geo", [False, True])
@pytest.mark.parametrize("k", [3, 5])
def test_block_matches_brute_force(geo, cutoff, salted, k):
    pdf = _group(geo, salted, seed=11 + k)
    ring, embed, cut2 = _case(geo, cutoff)
    want = _reference(pdf, ring, embed, cut2, k)
    q, nb, rank, d2 = _knn_block(pdf, ring, embed, cut2, k)
    assert sorted(zip(q, nb, rank, d2)) == want
    # the point mass is a tie class deeper than k: ties break on id
    assert len(want) > 0 and any(d == 0.0 for *_, d in want)


@pytest.mark.parametrize("salted", [False, True])
@pytest.mark.parametrize("cutoff", [False, True])
@pytest.mark.parametrize("geo", [False, True])
@pytest.mark.parametrize("k", [3, 5])
def test_spread_block_matches_brute_force(geo, cutoff, salted, k):
    """Sparse cells and a dense point-mass cell in one group: both paths."""
    pdf = _group(geo, salted, seed=11 + k, spread=True)
    ring, embed, cut2 = _case(geo, cutoff)
    want = _reference(pdf, ring, embed, cut2, k)
    q, nb, rank, d2 = _knn_block(pdf, ring, embed, cut2, k)
    assert sorted(zip(q, nb, rank, d2)) == want
    assert any(d == 0.0 for *_, d in want) and any(d > 0.0 for *_, d in want)


@pytest.mark.parametrize("geo", [False, True])
def test_spread_block_in_small_pair_batches(geo, monkeypatch):
    """A pair budget far below the block's pair count: the sparse cells
    span many batches and the point-mass rows many 2-D chunks."""
    pdf = _group(geo, salted=False, seed=5, spread=True)
    # most occupied cells hold at most 3 points; the mass cell is dense
    per_cell = np.bincount(np.unique(pdf["_cell"], return_inverse=True)[1])
    assert np.median(per_cell) <= 3 and per_cell.max() > _DENSE_CANDIDATES
    ring, embed, cut2 = _case(geo, cutoff=True)
    monkeypatch.setattr(knn, "_CHUNK_BUDGET", 40)
    q, nb, rank, d2 = _knn_block(pdf, ring, embed, cut2, 3)
    assert sorted(zip(q, nb, rank, d2)) == _reference(pdf, ring, embed, cut2, 3)


def test_block_without_queries_is_empty():
    pdf = _group(geo=False, salted=False, seed=1)
    pdf["_core"] = False
    out = _knn_block(pdf, _planar_ring(RES, 1), _plane, None, 3)
    assert [len(a) for a in out] == [0, 0, 0, 0]


# Arrow forms of the declared output schemas: knn_local's
# "doc_id long, neighbor_id long, rank int, dist2 double" and
# knn_geo_local's "doc_id long, neighbor_id long, rank long"
SCHEMAS = {
    False: pa.schema([("doc_id", pa.int64()), ("neighbor_id", pa.int64()),
                      ("rank", pa.int32()), ("dist2", pa.float64())]),
    True: pa.schema([("doc_id", pa.int64()), ("neighbor_id", pa.int64()),
                     ("rank", pa.int64())]),
}


@pytest.mark.parametrize("cutoff", [False, True])
@pytest.mark.parametrize("geo", [False, True])
def test_rank_partition_matches_per_block(geo, cutoff):
    """Several (block, salt) groups, salted and not, sparse and dense, in
    one partition whose rows arrive shuffled over several batches: the
    same rows as ``_knn_block`` per group, typed as the declared schema."""
    ring, embed, cut2 = _case(geo, cutoff)
    groups = {
        (7, 0): _group(geo, salted=False, seed=3),
        (7, 2): _group(geo, salted=True, seed=4),
        (-2, 0): _group(geo, salted=False, seed=5, spread=True),
        (40, 1): _group(geo, salted=True, seed=6, spread=True),
    }
    want = []
    for pdf in groups.values():
        want += list(zip(*_knn_block(pdf, ring, embed, cut2, 5)))
    members = pd.concat(
        [pdf.assign(_gcell=g, _salt=np.int32(s)) for (g, s), pdf in groups.items()],
        ignore_index=True,
    )
    members = members.sample(frac=1.0, random_state=0)
    schema = SCHEMAS[geo]
    batches = pa.Table.from_pandas(members, preserve_index=False).to_batches(max_chunksize=97)
    assert len(batches) > 1
    out = list(_rank_partition(iter(batches), ring=ring, embed=embed, cut2=cut2, k=5,
                               schema=schema))
    assert out and all(b.schema == schema for b in out)
    got = pa.Table.from_batches(out, schema=schema).to_pylist()
    width = len(schema)
    assert sorted(tuple(r.values()) for r in got) == sorted(
        tuple(x.item() for x in row[:width]) for row in want
    )


@pytest.mark.parametrize("geo", [False, True])
def test_rank_partition_of_empty_partition_yields_nothing(geo):
    ring, embed, cut2 = _case(geo, cutoff=True)
    assert list(_rank_partition(iter([]), ring=ring, embed=embed, cut2=cut2, k=3,
                                schema=SCHEMAS[geo])) == []
