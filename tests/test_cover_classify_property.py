"""Property test for the cover classifier of the spatial join (hypothesis,
no Spark).

``polygon_covers_local`` drops the bbox cells that lie wholly outside a
polygon and tags the ones wholly inside it; the join then skips the PIP
refine on inside pairs.  That is exact only if every point that can land
in a tagged cell has the tag's answer.  Here every cell is probed at its
closed rectangle (corners, border midpoints, centre) and at the doubles
just outside it that ``grid.encode_xy`` still floors into it — the
``np.nextafter`` neighbours of its borders and the farthest such doubles,
which on the grid edge are far out-of-range points clamped in.  Every
probe of an inside cell must be inside by ``pip.points_in_polygon`` and
every probe of a dropped cell outside.

Rings are drawn with vertices on cell borders and a few ulps off them,
past the grid edge, concave, in either orientation, zero-area and
self-touching; the explicit examples pin the cases that need the
classifier's margin and its grid-edge rule.
"""

import functools

import numpy as np
from hypothesis import example, given, settings, strategies as st

from fast_carpenter_spark import grid
from fast_carpenter_spark.spatial.join import polygon_covers_local
from fast_carpenter_spark.spatial.pip import points_in_polygon

RESOLUTIONS = (2, 3, 4)
_I64_MIN = np.int64(-(2**63))
# how far out to look for clamped points past the grid edge
_REACH = 1000.0


def _key(v):
    """float64 -> int64 whose order is the doubles' order."""
    b = np.asarray(v, dtype=np.float64).view(np.int64)
    return np.where(b < 0, _I64_MIN - b, b)


def _unkey(k):
    return np.where(k < 0, _I64_MIN - k, k).astype(np.int64).view(np.float64)


def _farthest(start, stop, ok):
    """The last double from ``start`` towards ``stop`` that satisfies the
    monotone predicate ``ok`` (``start`` satisfies it): bisection on the
    doubles' order."""
    good, bad = _key(start), _key(stop)
    for _ in range(64):
        mid = (good >> 1) + (bad >> 1) + (good & bad & 1)
        hit = ok(_unkey(mid))
        good, bad = np.where(hit, mid, good), np.where(hit, bad, mid)
    return np.where(ok(stop), stop, _unkey(good))


@functools.lru_cache(maxsize=None)
def _axis_probes(res, axis):
    """(2^res, 7) probe coordinates of every cell along ``axis`` (0 lon, 1 lat):
    the farthest double below the cell that floors into it, the lower
    border's outside neighbour, the two borders and the centre, then the
    same two above.  A neighbour that floors elsewhere becomes the centre."""
    idx = np.arange(1 << res)
    lo, span = ((-180.0, 360.0), (-90.0, 180.0))[axis]
    w = span / (1 << res)
    b0, mid, b1 = idx * w + lo, (idx + 0.5) * w + lo, (idx + 1) * w + lo

    def floors_in(v):
        return grid.encode_xy(*((v, 0.0), (0.0, v))[axis], res)[axis] == idx

    below, above = np.nextafter(b0, -np.inf), np.nextafter(b1, np.inf)
    return np.stack([
        _farthest(mid, b0 - _REACH, floors_in),
        np.where(floors_in(below), below, mid),
        b0, mid, b1,
        np.where(floors_in(above), above, mid),
        _farthest(mid, b1 + _REACH, floors_in),
    ], axis=1)


def _check(polys, covers):
    for d in polys:
        lon = np.asarray(d["ring_lon"], dtype=np.float64)
        lat = np.asarray(d["ring_lat"], dtype=np.float64)
        rows = covers[covers.poly_id == d["poly_id"]]
        assert len(rows) > 0, d["poly_id"]
        res = int(rows.res.iloc[0])
        assert (rows.res == res).all()
        x0, y0 = grid.encode_xy(lon.min(), lat.min(), res)
        x1, y1 = grid.encode_xy(lon.max(), lat.max(), res)
        gx, gy = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
        bbox = grid.pack_cells(res, gx.ravel(), gy.ravel())
        kept = np.isin(bbox, rows.cell)
        inside = np.isin(bbox, rows.cell[rows.inside])
        assert kept.sum() == len(rows)
        # probe the tagged cells: inside ones and dropped ones
        cells = bbox[inside | ~kept]
        want = inside[inside | ~kept]
        _, cx, cy = grid.unpack_cells(cells)
        m = len(cells)
        sx = np.broadcast_to(_axis_probes(res, 0)[cx][:, :, None], (m, 7, 7))
        sy = np.broadcast_to(_axis_probes(res, 1)[cy][:, None, :], (m, 7, 7))
        i, j = np.meshgrid(np.arange(7), np.arange(7), indexing="ij")
        # a probe belongs to the cell if it lies on the closed rectangle
        # (probe columns 2..4 of both axes) or floors into the cell
        on_rect = np.broadcast_to((abs(i - 3) <= 1) & (abs(j - 3) <= 1), (m, 7, 7))
        floors = grid.encode_cells(sx, sy, res) == cells[:, None, None]
        sel = on_rect | floors
        px, py = sx[sel], sy[sel]
        got = points_in_polygon(px, py, [lon] * len(px), [lat] * len(px))
        expect = np.broadcast_to(want[:, None, None], (m, 7, 7))[sel]
        bad = got != expect
        assert not bad.any(), (d["poly_id"], res, px[bad][:3], py[bad][:3], expect[bad][:3])


def _coord(lo, span):
    """A coordinate on a cell border of some level (possibly past the grid
    edge) moved by a few ulps, or anywhere in the overhanging range."""
    border = st.builds(
        lambda g, i, ulps: _nudge(lo + i * span / (1 << g), ulps),
        st.sampled_from(RESOLUTIONS),
        st.integers(-1, 17),
        st.integers(-3, 3),
    ).filter(lambda v: lo - span / 8 <= v <= lo + span * 9 / 8)
    free = st.floats(lo - span / 8, lo + span * 9 / 8, allow_nan=False)
    return st.one_of(border, free)


def _nudge(v, ulps):
    for _ in range(abs(ulps)):
        v = float(np.nextafter(v, np.inf if ulps > 0 else -np.inf))
    return v


_vertex = st.tuples(_coord(-180.0, 360.0), _coord(-90.0, 180.0))
_ring = st.lists(_vertex, min_size=3, max_size=8).flatmap(
    # repeat some vertices: zero-area rings and self-touching ones
    lambda vs: st.lists(st.sampled_from(vs), min_size=0, max_size=3).map(
        lambda extra: vs + extra
    )
)


def _layer(rings):
    return [
        {"poly_id": f"p{i}", "region": "r", "weight": 1.0,
         "ring_lon": [v[0] for v in ring], "ring_lat": [v[1] for v in ring]}
        for i, ring in enumerate(rings)
    ]


_EXAMPLES = [
    # left edge 1e-14 left of the lon = 0 border, where points up to half
    # an ulp of 180 (1.4e-14) left of it floor into the cells right of it:
    # those cells are tagged inside unless the margin makes them boundary
    [[(-1e-14, -50.0), (100.0, -50.0), (100.0, 50.0), (-1e-14, 50.0)]],
    # past the grid edge: the edge cells clamp in points of no polygon
    [[(-185.0, -50.0), (-80.0, -50.0), (-80.0, 50.0), (-185.0, 50.0)]],
    [[(170.0, 80.0), (200.0, 80.0), (200.0, 100.0), (170.0, 100.0)]],
    # concave C, clockwise, on res-2 and res-3 borders
    [[(-90.0, -45.0), (-90.0, 45.0), (90.0, 45.0), (90.0, 22.5), (-45.0, 22.5),
      (-45.0, -22.5), (90.0, -22.5), (90.0, -45.0)]],
    # zero-area and self-touching (bow tie meeting at a vertex)
    [[(-90.0, 0.0), (0.0, 0.0), (90.0, 0.0)],
     [(0.0, 0.0), (45.0, 45.0), (45.0, -45.0), (0.0, 0.0), (-45.0, 45.0), (-45.0, -45.0)]],
]


def _with_examples(test):
    for rings in _EXAMPLES:
        for max_cells in (1, 16):
            test = example(rings=rings, max_cells=max_cells)(test)
    return test


@settings(max_examples=100, deadline=None)
@given(rings=st.lists(_ring, min_size=1, max_size=3), max_cells=st.sampled_from([1, 4, 16]))
@_with_examples
def test_cover_tags_are_exact(rings, max_cells):
    polys = _layer(rings)
    single, levels = polygon_covers_local(polys, resolutions=RESOLUTIONS)
    assert len(levels) == 1
    _check(polys, single)
    # max_total_rows=1 forces the multi-level path on any layer wider than a cell
    multi, _ = polygon_covers_local(
        polys, max_cells=max_cells, resolutions=RESOLUTIONS, max_total_rows=1
    )
    _check(polys, multi)
