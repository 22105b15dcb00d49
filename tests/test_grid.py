"""Grid kernels: SQL fragments vs numpy kernels, pack/unpack, Hilbert.

Mirrors the reference's kernel-level unit tests on hand-built arrays
(ref: /root/reference/tests/define/test_reductions.py:7-105).
"""

import numpy as np
import pytest

from fast_carpenter_spark import grid


def test_pack_unpack_roundtrip():
    rng = np.random.RandomState(42)
    res = 16
    x = rng.randint(0, 1 << res, size=1000)
    y = rng.randint(0, 1 << res, size=1000)
    cells = grid.pack_cells(res, x, y)
    r2, x2, y2 = grid.unpack_cells(cells)
    assert (r2 == res).all()
    assert (x2 == x).all()
    assert (y2 == y).all()


def test_parent_cells():
    cells = grid.pack_cells(16, np.array([65535, 0, 32768]), np.array([1, 2, 3]))
    parents = grid.parent_cells(cells, 8)
    r, x, y = grid.unpack_cells(parents)
    assert (r == 8).all()
    assert list(x) == [255, 0, 128]
    assert list(y) == [0, 0, 0]


def test_encode_clamps_extremes():
    x, y = grid.encode_xy(np.array([-180.0, 180.0]), np.array([-90.0, 90.0]), 4)
    assert list(x) == [0, 15]
    assert list(y) == [0, 15]


def test_sql_matches_numpy(spark):
    rng = np.random.RandomState(7)
    lon = rng.uniform(-180, 180, 500)
    lat = rng.uniform(-90, 90, 500)
    pdf = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon, lat)], "lon double, lat double"
    )
    res = 12
    got = (
        pdf.selectExpr(grid.cell_sql("lon", "lat", res, "spark") + " AS cell")
        .toPandas()["cell"]
        .values
    )
    want = grid.encode_cells(lon, lat, res)
    assert (got == want).all()


def test_sql_parent_matches_numpy(spark):
    rng = np.random.RandomState(8)
    cells = grid.pack_cells(
        12, rng.randint(0, 1 << 12, 200), rng.randint(0, 1 << 12, 200)
    )
    pdf = spark.createDataFrame([(int(c),) for c in cells], "cell bigint")
    got = (
        pdf.selectExpr(grid.parent_sql("cell", 12, 5, "spark") + " AS p")
        .toPandas()["p"]
        .values
    )
    want = grid.parent_cells(cells, 5)
    assert (got == want).all()


def test_duckdb_sql_matches_numpy():
    import duckdb

    rng = np.random.RandomState(9)
    lon = rng.uniform(-180, 180, 500)
    lat = rng.uniform(-90, 90, 500)
    con = duckdb.connect()
    con.execute("CREATE TABLE pts (lon DOUBLE, lat DOUBLE)")
    con.executemany("INSERT INTO pts VALUES (?, ?)", list(zip(lon, lat)))
    got = con.execute(
        f"SELECT {grid.cell_sql('lon', 'lat', 12, 'duck')} FROM pts"
    ).fetchnumpy()
    want = grid.encode_cells(lon, lat, 12)
    assert (list(got.values())[0] == want).all()


def test_hilbert_bijection_small():
    order = 4
    n = 1 << order
    gx, gy = np.meshgrid(np.arange(n), np.arange(n))
    d = grid.hilbert_key(gx.ravel(), gy.ravel(), order)
    assert sorted(d.tolist()) == list(range(n * n))


def test_hilbert_locality():
    # consecutive d values must be grid neighbours (property of the curve)
    order = 5
    n = 1 << order
    gx, gy = np.meshgrid(np.arange(n), np.arange(n))
    xs, ys = gx.ravel(), gy.ravel()
    d = grid.hilbert_key(xs, ys, order)
    order_idx = np.argsort(d)
    dx = np.abs(np.diff(xs[order_idx]))
    dy = np.abs(np.diff(ys[order_idx]))
    assert ((dx + dy) == 1).all()


def test_k_ring():
    cells = grid.k_ring(0, 0, 1, 4)
    assert sorted(cells) == [(0, 0), (0, 1), (1, 0), (1, 1)]
    cells = grid.k_ring(5, 5, 1, 4)
    assert len(cells) == 9


def test_parent_res_validation():
    with pytest.raises(ValueError):
        grid.parent_sql("cell", 4, 8, "spark")


def test_arrow_encoder_matches_sql(spark):
    """cell_sql (codegen) == encode_cells (the numpy kernel) on real span
    geometry: the engine's encode and its reference give identical ids."""
    from pyspark.sql import functions as F

    from fast_carpenter_spark import synth

    spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .createOrReplaceTempView("documents")
    spans = spark.sql(synth.flat_spans_sql("spark")).select(
        "lon", "lat", F.expr(grid.cell_sql("lon", "lat", 9, "spark")).alias("via_sql")
    ).toPandas()
    want = grid.encode_cells(spans["lon"].to_numpy(), spans["lat"].to_numpy(), 9)
    assert len(spans) > 0
    assert (spans["via_sql"].to_numpy() == want).all()


def _explode(spark, rows, res, *, wrap):
    """explode_cells over (id, x, y, left, right, down, up) rows, the
    rectangle x - left .. x + right by y - down .. y + up: id -> cells."""
    df = spark.createDataFrame(
        rows, "id int, x long, y long, l long, r long, d long, u long"
    )
    out = grid.explode_cells(df, res, "x - l", "x + r", "y - d", "y + u", wrap=wrap)
    got = {}
    for row in out.collect():
        packed = grid.pack_cells(res, np.array([row._nx]), np.array([row._ny]))
        assert row._cell == int(packed[0])
        got.setdefault(row.id, []).append((row._nx, row._ny))
    return got


def _brute(res, x, y, l, r, d, u, *, wrap):
    n = 1 << res
    return {
        (cx % n, cy)
        for cx in range(x - l, x + r + 1)
        for cy in range(y - d, y + u + 1)
        if 0 <= cy < n and (wrap or 0 <= cx < n)
    }


def test_explode_cells_clamps(spark):
    rows = [
        (0, 3, 4, 1, 1, 1, 1),  # mid-grid ring
        (1, 0, 0, 2, 2, 2, 2),  # the four corners
        (2, 0, 7, 2, 2, 2, 2),
        (3, 7, 0, 2, 2, 2, 2),
        (4, 7, 7, 2, 2, 2, 2),
        (5, 4, 2, 3, 1, 0, 2),  # asymmetric bbox
    ]
    got = _explode(spark, rows, 3, wrap=False)
    for row in rows:
        cells = got[row[0]]
        assert len(cells) == len(set(cells)), row
        assert set(cells) == _brute(3, *row[1:], wrap=False), row


def test_explode_cells_wraps_each_column_once(spark):
    n = 8
    rows = [
        (0, 1, 4, 2, 2, 1, 1),  # rx < n/2, across the antimeridian
        (1, 5, 0, 4, 4, 1, 1),  # rx = n/2: 2 rx + 1 > n
        (2, 3, 7, 8, 8, 0, 0),  # rx = n
        (3, 6, 3, 11, 11, 1, 1),  # rx > n
    ]
    got = _explode(spark, rows, 3, wrap=True)
    for row in rows:
        cells = got[row[0]]
        assert len(cells) == len(set(cells)), row
        assert set(cells) == _brute(3, *row[1:], wrap=True), row
    for i in (1, 2, 3):
        for ny in {cy for _, cy in got[i]}:
            assert sorted(cx for cx, cy in got[i] if cy == ny) == list(range(n))


@pytest.mark.parametrize("wrap", [False, True])
@pytest.mark.parametrize("bounds", [
    ("x + 1", "x - 1", "y", "y"),  # reversed columns
    ("x", "x", "y + 1", "y - 1"),  # reversed rows
])
def test_explode_cells_reversed_bounds_raise(spark, wrap, bounds):
    df = spark.createDataFrame([(0, 3, 4)], "id int, x long, y long")
    with pytest.raises(Exception, match="Illegal sequence boundaries"):
        grid.explode_cells(df, 3, *bounds, wrap=wrap).collect()


def test_grid_properties_hypothesis():
    """Property-based invariants (the reference only mused about
    hypothesis, tests/test_expressions.py:110 — we use it): pack/unpack
    round-trips, parent containment, Hilbert bijectivity on random cells."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    res_st = st.integers(min_value=1, max_value=20)

    @settings(max_examples=200, deadline=None)
    @given(
        st.floats(min_value=-180.0, max_value=180.0, allow_nan=False),
        st.floats(min_value=-90.0, max_value=90.0, allow_nan=False),
        res_st,
    )
    def roundtrip(lon, lat, res):
        cell = grid.encode_cells(np.array([lon]), np.array([lat]), res)
        r, x, y = grid.unpack_cells(cell)
        n = 1 << res
        assert r[0] == res and 0 <= x[0] < n and 0 <= y[0] < n
        # re-pack is identity
        assert grid.pack_cells(res, x, y)[0] == cell[0]
        # parent at res-1 contains the child cell's halved coordinates
        if res > 1:
            p = grid.parent_cells(cell, res - 1)
            _, px, py = grid.unpack_cells(p)
            assert px[0] == x[0] // 2 and py[0] == y[0] // 2

    roundtrip()

    @settings(max_examples=50, deadline=None)
    @given(st.integers(min_value=1, max_value=8), st.data())
    def hilbert_bijective(order, data):
        n = 1 << order
        pts = data.draw(
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=n - 1),
                    st.integers(min_value=0, max_value=n - 1),
                ),
                min_size=1, max_size=64, unique=True,
            )
        )
        x = np.array([p[0] for p in pts], dtype=np.int64)
        y = np.array([p[1] for p in pts], dtype=np.int64)
        h = grid.hilbert_key(x, y, order)
        assert len(set(h.tolist())) == len(pts)  # injective
        assert h.min() >= 0 and h.max() < n * n  # within range

    hilbert_bijective()


def test_compact_cells_properties(spark):
    """Compaction invariants on an adversarial cell set: one complete
    quadrant (fuses all the way up), one complete quartet (fuses one
    level), and scattered singletons (stay put)."""
    from pyspark.sql import functions as F

    from fast_carpenter_spark.spatial.compact import compact_cells

    res_from, res_to = 4, 1
    cells = set()
    # complete 8x8 quadrant at res 4 (x,y in [0,8)) -> one res-1 cell
    for x in range(8):
        for y in range(8):
            cells.add((1 << grid.RES_SHIFT * 0) * 0 + grid.pack_cells(
                res_from, np.array([x]), np.array([y]))[0])
    # complete quartet (x,y in [12,14)) -> one res-3 cell
    for x in (12, 13):
        for y in (12, 13):
            cells.add(grid.pack_cells(res_from, np.array([x]), np.array([y]))[0])
    # scattered singletons with incomplete parents
    for x, y in [(10, 0), (0, 10), (15, 15)]:
        cells.add(grid.pack_cells(res_from, np.array([x]), np.array([y]))[0])
    df = spark.createDataFrame([(int(c),) for c in cells], "cell bigint")
    out = compact_cells(df, res_from, res_to).collect()

    # area preservation: each res-r cell covers 4^(res_from - r) leaves
    area = sum(4 ** (res_from - row.res) for row in out)
    assert area == len(cells)
    # expected composition: 1 res-1 + 1 res-3 + 3 res-4 cells
    got = {}
    for row in out:
        got[row.res] = got.get(row.res, 0) + 1
    assert got == {1: 1, 3: 1, 4: 3}
    # disjoint: no output cell is an ancestor of another
    leaves = set()
    for row in out:
        x, y, r = row.cell % (1 << grid.RES_SHIFT) // (1 << grid.XY_BITS), \
            row.cell % (1 << grid.XY_BITS), row.res
        span = 1 << (res_from - r)
        for dx in range(span):
            for dy in range(span):
                leaf = (x * span + dx, y * span + dy)
                assert leaf not in leaves
                leaves.add(leaf)


def test_uncompact_rejects_finer_cells(spark):
    """A cell finer than res_to must raise, not silently vanish."""
    import pytest
    from pyspark.sql.utils import AnalysisException

    import numpy as np

    from fast_carpenter_spark import grid
    from fast_carpenter_spark.spatial.compact import uncompact_cells

    fine = grid.pack_cells(6, np.array([3]), np.array([5]))[0]  # res 6 -> res 4
    df = spark.createDataFrame([(int(fine),)], ["cell"])
    with pytest.raises(Exception, match="uncompact_cells|exceeds"):
        uncompact_cells(df, 4).collect()


def test_quadkey_roundtrip_and_prefix(spark):
    """decode(encode(cell)) == cell for every cell of a full small grid,
    and the parent's quadkey is the child's minus its last character."""
    from fast_carpenter_spark import grid

    res = 4
    n = 1 << res
    cells = spark.range(n * n).selectExpr(
        f"CAST({res} AS BIGINT) * {1 << grid.RES_SHIFT}"
        f" + (id DIV {n}) * {1 << grid.XY_BITS} + (id % {n}) AS cell"
    )
    qk = grid.quadkey_sql("cell", res, "spark")
    out = cells.selectExpr(
        "cell",
        f"{qk} AS qk",
        f"{grid.quadkey_decode_sql(f'({qk})', res, 'spark')} AS rt",
        f"{grid.quadkey_sql(grid.parent_sql('cell', res, res - 1, 'spark'), res - 1, 'spark')} AS qk_p",
    ).collect()
    assert len(out) == n * n
    for r in out:
        assert r["rt"] == r["cell"]
        assert len(r["qk"]) == res
        assert r["qk_p"] == r["qk"][:-1]
    assert len({r["qk"] for r in out}) == n * n  # bijective
