"""Split from the original single-module queries.py (round-4 refactor); see queries/__init__.py for the public surface."""

from __future__ import annotations

from ._common import (
    BASE_RES,
    BinnedDataframeStage,
    COARSE_RES,
    F,
    REGION_RES,
    TILE_RES,
    _load_events,
    flat_spans,
    grid,
    load_documents,
    synth,
)

# ---------------------------------------------------------------------------
# 1. synthesis / explode / projection
# ---------------------------------------------------------------------------


def q_spans_flat(spark, sf_dir):
    """Interleaved spans, exploded with geometry (S4/S5 scans + A2 explode)."""
    return flat_spans(spark, sf_dir)


O_SPANS_FLAT = synth.flat_spans_sql("duck")


def q_cell_encode(spark, sf_dir):
    """Hierarchical cell encode at base + parent resolution (grid core)."""
    df = flat_spans(spark, sf_dir)
    cell = grid.cell_sql("lon", "lat", BASE_RES, "spark")
    return df.select(
        "doc_id", "span_idx", "lon", "lat",
        F.expr(cell).alias("cell16"),
        F.expr(grid.parent_sql(cell, BASE_RES, TILE_RES, "spark")).alias("cell8"),
    )


_d_cell = grid.cell_sql("lon", "lat", BASE_RES, "duck")
O_CELL_ENCODE = f"""
SELECT doc_id, span_idx, lon, lat,
       {_d_cell} AS cell16,
       {grid.parent_sql(_d_cell, BASE_RES, TILE_RES, "duck")} AS cell8
FROM ({O_SPANS_FLAT})
"""


# ---------------------------------------------------------------------------
# 2. tile aggregation (BinnedDataframe analogue A1/A4/A5) + zoom rollup
# ---------------------------------------------------------------------------


def q_tile_agg(spark, sf_dir):
    df = flat_spans(spark, sf_dir).withColumn(
        "cell", F.expr(grid.cell_sql("lon", "lat", TILE_RES, "spark"))
    )
    stage = BinnedDataframeStage(name="tiles", binning=[{"in": "cell"}], weights={"w": "w"})
    return stage.apply(df)


O_TILE_AGG = f"""
SELECT {grid.cell_sql('lon', 'lat', TILE_RES, 'duck')} AS cell,
       count(*) AS n, sum(w) AS w_sumw, sum(w * w) AS w_sumw2
FROM ({O_SPANS_FLAT})
GROUP BY 1
"""


def q_tile_agg_dataset(spark, sf_dir):
    """dataset-dimension variant (A5): `source` plays the dataset column."""
    df = flat_spans(spark, sf_dir).withColumn(
        "cell", F.expr(grid.cell_sql("lon", "lat", REGION_RES, "spark"))
    )
    stage = BinnedDataframeStage(
        name="tiles", binning=[{"in": "cell"}], weights={"w": "w"}, dataset_col="source"
    )
    return stage.apply(df)


O_TILE_AGG_DATASET = f"""
SELECT source, {grid.cell_sql('lon', 'lat', REGION_RES, 'duck')} AS cell,
       count(*) AS n, sum(w) AS w_sumw, sum(w * w) AS w_sumw2
FROM ({O_SPANS_FLAT})
GROUP BY 1, 2
"""



def q_tile_distinct(spark, sf_dir):
    """Distinct-document tile stats: per cell, exact count(DISTINCT doc)
    alongside span counts (the de-duplicated coverage statistic; at 10^12
    docs swap countDistinct for approx_count_distinct — same plan shape,
    sketch merge instead of exact set union)."""
    df = flat_spans(spark, sf_dir).withColumn(
        "cell", F.expr(grid.cell_sql("lon", "lat", COARSE_RES, "spark"))
    )
    return df.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


O_TILE_DISTINCT = f"""
SELECT {grid.cell_sql('lon', 'lat', COARSE_RES, 'duck')} AS cell,
       count(*) AS n_spans, count(DISTINCT doc_id) AS n_docs
FROM ({O_SPANS_FLAT})
GROUP BY 1
"""


def q_tile_smooth(spark, sf_dir):
    """k-ring neighborhood smoothing (grid convolution): each res-6 cell's
    smoothed aggregate sums its own and its 8 ring-1 neighbours' tile
    stats — the cell-ring expansion of the north_star applied to
    aggregation.  One explode over 9 constant offsets + re-aggregation;
    no joins."""
    tiles = (
        flat_spans(spark, sf_dir)
        .withColumn("cell", F.expr(grid.cell_sql("lon", "lat", REGION_RES, "spark")))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("w_sumw"))
    )
    x = grid.unpack_x_sql("cell", "spark")
    y = grid.unpack_y_sql("cell", "spark")
    contrib = grid.explode_cells(
        tiles, REGION_RES, f"{x} - 1", f"{x} + 1", f"{y} - 1", f"{y} + 1", cell="cell"
    )
    return contrib.groupBy("cell").agg(
        F.sum("n").alias("n_smooth"), F.sum("w_sumw").alias("w_smooth")
    )


_n6 = 1 << REGION_RES
O_TILE_SMOOTH = f"""
WITH tiles AS (
  SELECT {grid.cell_sql('lon', 'lat', REGION_RES, 'duck')} AS cell,
         count(*) AS n, sum(w) AS w_sumw
  FROM ({O_SPANS_FLAT})
  GROUP BY 1
),
contrib AS (
  SELECT {grid.pack_sql(REGION_RES, f"({grid.unpack_x_sql('cell', 'duck')} + dx)", f"({grid.unpack_y_sql('cell', 'duck')} + dy)")} AS tcell,
         n, w_sumw
  FROM tiles,
       (SELECT unnest(range(-1, 2)) AS dx),
       (SELECT unnest(range(-1, 2)) AS dy)
  WHERE {grid.unpack_x_sql('cell', 'duck')} + dx BETWEEN 0 AND {_n6 - 1}
    AND {grid.unpack_y_sql('cell', 'duck')} + dy BETWEEN 0 AND {_n6 - 1}
)
SELECT tcell AS cell, CAST(sum(n) AS BIGINT) AS n_smooth, sum(w_sumw) AS w_smooth
FROM contrib GROUP BY 1
"""


def q_tile_gauss(spark, sf_dir):
    """Binomial-weighted 3×3 smoothing (the separable [1,2,1]⊗[1,2,1]
    Gaussian approximation): like tile_smooth but each neighbour
    contributes weight (2-|dx|)·(2-|dy|) ∈ {1,2,4} — integer weights keep
    the count channel exact BIGINT, and the weight channel stays exact
    because span weights are binary fractions.  Same single-explode,
    no-join shape as the box smooth."""
    tiles = (
        flat_spans(spark, sf_dir)
        .withColumn("cell", F.expr(grid.cell_sql("lon", "lat", REGION_RES, "spark")))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("w_sumw"))
        .withColumn("_x", F.expr(grid.unpack_x_sql("cell", "spark")))
        .withColumn("_y", F.expr(grid.unpack_y_sql("cell", "spark")))
    )
    kw = "(2 - abs(_nx - _x)) * (2 - abs(_ny - _y))"
    contrib = grid.explode_cells(
        tiles, REGION_RES, "_x - 1", "_x + 1", "_y - 1", "_y + 1", cell="cell"
    ).select(
        "cell",
        F.expr(f"CAST({kw} AS BIGINT) * n").alias("kn"),
        F.expr(f"CAST({kw} AS DOUBLE) * w_sumw").alias("kws"),
    )
    return contrib.groupBy("cell").agg(
        F.sum("kn").alias("n_gauss"), F.sum("kws").alias("w_gauss")
    )


O_TILE_GAUSS = f"""
WITH tiles AS (
  SELECT {grid.cell_sql('lon', 'lat', REGION_RES, 'duck')} AS cell,
         count(*) AS n, sum(w) AS w_sumw
  FROM ({O_SPANS_FLAT})
  GROUP BY 1
),
contrib AS (
  SELECT {grid.pack_sql(REGION_RES, f"({grid.unpack_x_sql('cell', 'duck')} + dx)", f"({grid.unpack_y_sql('cell', 'duck')} + dy)")} AS tcell,
         CAST((2 - abs(dx)) * (2 - abs(dy)) AS BIGINT) * n AS kn,
         CAST((2 - abs(dx)) * (2 - abs(dy)) AS DOUBLE) * w_sumw AS kws
  FROM tiles,
       (SELECT unnest(range(-1, 2)) AS dx),
       (SELECT unnest(range(-1, 2)) AS dy)
  WHERE {grid.unpack_x_sql('cell', 'duck')} + dx BETWEEN 0 AND {_n6 - 1}
    AND {grid.unpack_y_sql('cell', 'duck')} + dy BETWEEN 0 AND {_n6 - 1}
)
SELECT tcell AS cell, CAST(sum(kn) AS BIGINT) AS n_gauss, sum(kws) AS w_gauss
FROM contrib GROUP BY 1
"""


def q_tile_hotspot(spark, sf_dir):
    """Getis–Ord Gi* hotspot z-scores over the res-6 tile field — the
    cutflow-style 'is this region significant' classifier on top of the
    BinnedDataframe analogue.  All z inputs are exact integers; the double
    formula is the same expression text on both engines (bit-identical)."""
    from ..spatial.stats import gi_star

    tiles = (
        flat_spans(spark, sf_dir)
        .withColumn("cell", F.expr(grid.cell_sql("lon", "lat", REGION_RES, "spark")))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return gi_star(tiles, REGION_RES)


def _o_tile_hotspot() -> str:
    from ..spatial.stats import gi_star_oracle_sql

    tiles = (
        f"SELECT {grid.cell_sql('lon', 'lat', REGION_RES, 'duck')} AS cell, "
        f"count(*) AS n FROM ({O_SPANS_FLAT}) GROUP BY 1"
    )
    return gi_star_oracle_sql(tiles, REGION_RES)


O_TILE_HOTSPOT = _o_tile_hotspot()


def q_tile_moran(spark, sf_dir):
    """Global Moran's I autocorrelation of the res-6 tile count field
    (queen ring-1 weights, occupied cells): the one-number 'is this field
    clustered at all' companion to the per-cell Gi* classifier.  Exact
    BIGINT scaled deviations; one shared-text double at the end."""
    from ..spatial.stats import moran_i

    tiles = (
        flat_spans(spark, sf_dir)
        .withColumn("cell", F.expr(grid.cell_sql("lon", "lat", REGION_RES, "spark")))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return moran_i(tiles, REGION_RES)


def _o_tile_moran() -> str:
    from ..spatial.stats import moran_i_oracle_sql

    tiles = (
        f"SELECT {grid.cell_sql('lon', 'lat', REGION_RES, 'duck')} AS cell, "
        f"count(*) AS n FROM ({O_SPANS_FLAT}) GROUP BY 1"
    )
    return moran_i_oracle_sql(tiles, REGION_RES)


O_TILE_MORAN = _o_tile_moran()


def q_tile_lisa(spark, sf_dir):
    """Local Moran's I (LISA) per res-6 cell with HH/LL/HL/LH hot/cold
    quadrant classification — per-cell spatial-association companion to
    the global tile_moran (exact-integer signs classify; one mul/div
    double per row)."""
    from ..spatial.stats import local_moran

    tiles = (
        flat_spans(spark, sf_dir)
        .withColumn("cell", F.expr(grid.cell_sql("lon", "lat", REGION_RES, "spark")))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return local_moran(tiles, REGION_RES)


def _o_tile_lisa() -> str:
    from ..spatial.stats import local_moran_oracle_sql

    tiles = (
        f"SELECT {grid.cell_sql('lon', 'lat', REGION_RES, 'duck')} AS cell, "
        f"count(*) AS n FROM ({O_SPANS_FLAT}) GROUP BY 1"
    )
    return local_moran_oracle_sql(tiles, REGION_RES)


O_TILE_LISA = _o_tile_lisa()


# Contiguous hot-region labelling: dense tiles -> 8-adjacency connected
# components.  res 5 / min 4 picked so the sf0.01 corpus yields ~40
# multi-cell regions (structure worth testing) with a cheap oracle CTE.
REGION_CC_RES = 5
REGION_CC_MIN = 4


def _dense_cells_edges(spark, sf_dir):
    """Dense-cell table (n >= REGION_CC_MIN at REGION_CC_RES) and its
    8-adjacency edge list (both orientations) — shared by the region
    labelling and BFS queries."""
    cell = grid.cell_sql("lon", "lat", REGION_CC_RES, "spark")
    dense = (
        flat_spans(spark, sf_dir)
        .groupBy(F.expr(cell).alias("cell"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= REGION_CC_MIN)
    )
    n_ax = 1 << REGION_CC_RES
    deltas = ", ".join(
        f"struct({dx}L AS dx, {dy}L AS dy)"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if (dx, dy) != (0, 0)
    )
    # 8-neighbour candidate cells, clamped at the grid boundary (no wrap)
    nbr = (
        dense.select(
            "cell",
            F.expr(grid.unpack_x_sql("cell", "spark")).alias("x"),
            F.expr(grid.unpack_y_sql("cell", "spark")).alias("y"),
            F.explode(F.expr(f"array({deltas})")).alias("d"),
        )
        .select(
            "cell",
            (F.col("x") + F.col("d.dx")).alias("nx"),
            (F.col("y") + F.col("d.dy")).alias("ny"),
        )
        .filter(
            (F.col("nx") >= 0) & (F.col("nx") < n_ax)
            & (F.col("ny") >= 0) & (F.col("ny") < n_ax)
        )
        .select(
            "cell",
            F.expr(grid.pack_sql(REGION_CC_RES, "nx", "ny")).alias("nbr"),
        )
    )
    edges = nbr.join(
        dense.select(F.col("cell").alias("nbr")), "nbr"
    ).select(F.col("cell").alias("src"), F.col("nbr").alias("dst"))
    return dense, edges


def q_tile_regions(spark, sf_dir):
    """Contiguous hot-region labelling — the spatial twin of near-dup
    clustering: dense tiles (n >= REGION_CC_MIN at res REGION_CC_RES) are
    nodes, 8-adjacency (Chebyshev distance 1) gives edges, and the shared
    Pregel min-label loop (functions/graph.py) labels each contiguous
    region with its minimum cell id.  Output: one row per region with its
    cell count and total point count.

    Scale shape: the dense-cell table is the POST-aggregation tile table
    (orders of magnitude smaller than the input), the neighbour explode is
    a fixed x8, and the adjacency join is an equi-join on packed cell ids
    — broadcastable whenever the dense set is, shuffle-safe otherwise.
    Region diameter bounds the rounds, and real hot regions are blobs
    (diameter ~ sqrt(cells)), not chains."""
    from ..functions.graph import connected_components

    dense, edges = _dense_cells_edges(spark, sf_dir)
    labels = connected_components(dense.select("cell"), edges, node_col="cell")
    return (
        dense.join(labels, "cell")
        .groupBy(F.col("cluster_id").alias("region_id"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n").alias("total_n"),
        )
    )


def _o_tile_regions() -> str:
    from ..functions.graph import reach_cte_sql

    cell = grid.cell_sql("lon", "lat", REGION_CC_RES, "duck")
    ux = lambda e: grid.unpack_x_sql(e, "duck")  # noqa: E731
    uy = lambda e: grid.unpack_y_sql(e, "duck")  # noqa: E731
    edges_sql = f"""SELECT a.cell AS src, b.cell AS dst FROM dense a JOIN dense b
  ON a.cell <> b.cell
 AND abs({ux('a.cell')} - {ux('b.cell')}) <= 1
 AND abs({uy('a.cell')} - {uy('b.cell')}) <= 1"""
    cte = reach_cte_sql(edges_sql, "SELECT cell AS node FROM dense", "node")
    return f"""
WITH RECURSIVE
dense AS (SELECT {cell} AS cell, count(*) AS n FROM ({O_SPANS_FLAT})
          GROUP BY 1 HAVING count(*) >= {REGION_CC_MIN}),
{cte}
SELECT cl.cluster_id AS region_id, count(*) AS n_cells,
       CAST(sum(d.n) AS BIGINT) AS total_n
FROM cl JOIN dense d ON d.cell = cl.node
GROUP BY 1
"""


O_TILE_REGIONS = _o_tile_regions()


def q_spans_reconstruct(spark, sf_dir):
    """Interleaved-document roundtrip: re-assemble every document from its
    span array in offset order (text spans verbatim, media spans as typed
    placeholders) — the per-row span-sequence-equality invariant from the
    input contract, proven per document against an independent ordered
    string aggregation.  Pure codegen (array_sort + ordered fold), no
    shuffle at all: one narrow map over the snapshot."""
    load_documents(spark, sf_dir)
    df = spark.sql(synth.spans_table_sql("spark"))
    tok = (
        "CASE WHEN s.kind = 'text' THEN s.text "
        "ELSE concat('<', s.kind, ':', s.media_ref, '>') END"
    )
    return df.selectExpr(
        "doc_id",
        "size(spans) AS n_spans",
        "size(filter(spans, s -> s.kind <> 'text')) AS n_media",
        "aggregate(array_sort(spans, (a, b) -> CASE WHEN a.offset < b.offset THEN -1 "
        "WHEN a.offset > b.offset THEN 1 ELSE 0 END), "
        f"CAST('' AS STRING), (acc, s) -> concat(acc, {tok})) AS doc_restored",
    )


O_SPANS_RECONSTRUCT = f"""
WITH s AS (SELECT doc_id, unnest(spans) AS sp FROM ({synth.spans_table_sql('duck')}))
SELECT doc_id,
       CAST(count(*) AS INT) AS n_spans,
       CAST(count(*) FILTER (WHERE sp['kind'] <> 'text') AS INT) AS n_media,
       string_agg(CASE WHEN sp['kind'] = 'text' THEN sp['text']
                       ELSE concat('<', sp['kind'], ':', sp['media_ref'], '>') END,
                  '' ORDER BY sp['offset']) AS doc_restored
FROM s GROUP BY doc_id
"""


def q_cell_compact(spark, sf_dir):
    """H3-style compact: occupied res-4 tiles -> minimal mixed-resolution
    cover (complete 4-sibling groups fuse into parents, recursively).
    Linear fixed-level plan, one sibling-group window per level."""
    from ..spatial.compact import compact_cells

    df = flat_spans(spark, sf_dir).select(
        F.expr(grid.cell_sql("lon", "lat", COARSE_RES, "spark")).alias("cell")
    )
    return compact_cells(df, COARSE_RES, 1)


def _o_cell_compact() -> str:
    from ..spatial.compact import compact_oracle_sql

    cells = (
        f"SELECT DISTINCT {grid.cell_sql('lon', 'lat', COARSE_RES, 'duck')} AS cell "
        f"FROM ({O_SPANS_FLAT})"
    )
    return compact_oracle_sql(cells, COARSE_RES, 1)


O_CELL_COMPACT = _o_cell_compact()


def q_cell_uncompact(spark, sf_dir):
    """Roundtrip proof: uncompact(compact(S)) must equal S exactly — the
    oracle is simply the ORIGINAL distinct res-4 cell set, so both ops are
    verified end-to-end against an independent formula."""
    from ..spatial.compact import compact_cells, uncompact_cells

    df = flat_spans(spark, sf_dir).select(
        F.expr(grid.cell_sql("lon", "lat", COARSE_RES, "spark")).alias("cell")
    )
    return uncompact_cells(compact_cells(df, COARSE_RES, 1), COARSE_RES)


O_CELL_UNCOMPACT = (
    f"SELECT DISTINCT {grid.cell_sql('lon', 'lat', COARSE_RES, 'duck')} AS cell "
    f"FROM ({O_SPANS_FLAT})"
)


def q_cover_lookup(spark, sf_dir):
    """Adaptive-resolution tile aggregate: points bucketed into a COMPACTED
    mixed-resolution cover (H3 polyfill→compact→lookup).  Each point joins
    via its ancestor chain (constant 4-way explode) against the cover on a
    single key — the cover is perimeter-bounded by construction, hence
    broadcast-safe at any data scale; exactly one ancestor matches because
    the compacted cover partitions the occupied set."""
    from ..spatial.compact import compact_cells

    pts = flat_spans(spark, sf_dir).select(
        F.expr(grid.cell_sql("lon", "lat", COARSE_RES, "spark")).alias("cell4"), "w"
    )
    cover = compact_cells(pts.select(F.col("cell4").alias("cell")), COARSE_RES, 1)
    anc = pts.select(
        "w",
        F.explode(
            F.array(
                *[
                    F.expr(grid.parent_sql("cell4", COARSE_RES, r, "spark"))
                    for r in range(1, COARSE_RES + 1)
                ]
            )
        ).alias("cand"),
    )
    j = anc.join(F.broadcast(cover), anc.cand == cover.cell)
    return j.groupBy("cell", "res").agg(
        F.count(F.lit(1)).alias("n"), F.sum("w").alias("w_sumw")
    )


def _o_cover_lookup() -> str:
    from ..spatial.compact import compact_oracle_sql

    cells = (
        f"SELECT DISTINCT {grid.cell_sql('lon', 'lat', COARSE_RES, 'duck')} AS cell "
        f"FROM ({O_SPANS_FLAT})"
    )
    cover = compact_oracle_sql(cells, COARSE_RES, 1)
    c4 = grid.cell_sql("lon", "lat", COARSE_RES, "duck")
    parents = ", ".join(
        grid.parent_sql("cell4", COARSE_RES, r, "duck") for r in range(1, COARSE_RES + 1)
    )
    return f"""
WITH cover AS ({cover}),
pts AS (SELECT {c4} AS cell4, w FROM ({O_SPANS_FLAT})),
anc AS (SELECT unnest([{parents}]) AS cand, w FROM pts)
SELECT c.cell AS cell, c.res AS res, count(*) AS n, sum(w) AS w_sumw
FROM anc JOIN cover c ON anc.cand = c.cell
GROUP BY 1, 2
"""


O_COVER_LOOKUP = _o_cover_lookup()


def q_trajectory_cells(spark, sf_dir):
    """Per-user trajectory → traversed-cell histogram (polyline cover):
    lag-window segments, 8-point lerp sampling, grid encode."""
    from ..spatial.trajectory import trajectory_cells_sql

    _load_events(spark, sf_dir)
    return spark.sql(trajectory_cells_sql("spark", REGION_RES))


def _o_trajectory_cells() -> str:
    from ..spatial.trajectory import trajectory_cells_sql

    return trajectory_cells_sql("duck", REGION_RES)


O_TRAJECTORY_CELLS = _o_trajectory_cells()


def q_trajectory_interp(spark, sf_dir):
    """Fixed-rate trajectory resampling: lerp each user's path at regular
    6-hour instants — ticks are EMITTED per segment (map-side sequence
    explode), never range-joined against a grid table; one user_id window
    shuffle total."""
    from ..spatial.trajectory import trajectory_interp_sql

    _load_events(spark, sf_dir)
    return spark.sql(trajectory_interp_sql("spark", REGION_RES))


def _o_trajectory_interp() -> str:
    from ..spatial.trajectory import trajectory_interp_sql

    return trajectory_interp_sql("duck", REGION_RES)


O_TRAJECTORY_INTERP = _o_trajectory_interp()


def q_trajectory_simplify(spark, sf_dir):
    """Single-pass polyline simplification (perpendicular-offset filter,
    the streaming cousin of Douglas–Peucker): keep endpoints + points
    whose offset from the prev→next chord is >= eps; the keep test is
    cross² >= eps²·|chord|² — multiplication-only, bit-exact across
    engines."""
    from ..spatial.trajectory import trajectory_simplify_sql

    _load_events(spark, sf_dir)
    return spark.sql(trajectory_simplify_sql("spark"))


def _o_trajectory_simplify() -> str:
    from ..spatial.trajectory import trajectory_simplify_sql

    return trajectory_simplify_sql("duck")


O_TRAJECTORY_SIMPLIFY = _o_trajectory_simplify()


def q_trajectory_bearing(spark, sf_dir):
    """Per-tile movement-direction rose: consecutive-segment compass
    octants via pure sign/magnitude comparisons (no atan2 — trig is not
    correctly rounded across engines), aggregated per origin cell."""
    from ..spatial.trajectory import trajectory_bearing_sql

    _load_events(spark, sf_dir)
    return spark.sql(trajectory_bearing_sql("spark"))


def _o_trajectory_bearing() -> str:
    from ..spatial.trajectory import trajectory_bearing_sql

    return trajectory_bearing_sql("duck")


O_TRAJECTORY_BEARING = _o_trajectory_bearing()


def q_tile_clip(spark, sf_dir):
    """Vector-tile geometry cut: Liang–Barsky clip of every trajectory
    segment into per-tile pieces.  Column-DDA explode — work proportional
    to tiles TOUCHED (O(w+h) per segment), never the bbox area (O(w*h));
    one user_id window shuffle, everything after is map-side."""
    from ..spatial.vectortile import tile_clip_sql

    _load_events(spark, sf_dir)
    return spark.sql(tile_clip_sql("spark"))


def _o_tile_clip() -> str:
    from ..spatial.vectortile import tile_clip_sql

    return tile_clip_sql("duck")


O_TILE_CLIP = _o_tile_clip()


def q_tile_contour(spark, sf_dir):
    """Raster→vector iso-contour extraction: marching-squares case index
    per 2x2 tile block of the above-global-mean density region (mean =
    one exact integer sum / one division — scale-free and bit-exact)."""
    from ..spatial.vectortile import tile_contour_sql

    load_documents(spark, sf_dir)
    return spark.sql(tile_contour_sql(synth.flat_spans_sql("spark"), "spark"))


def _o_tile_contour() -> str:
    from ..spatial.vectortile import tile_contour_sql

    return tile_contour_sql(synth.flat_spans_sql("duck"), "duck")


O_TILE_CONTOUR = _o_tile_contour()


def q_tile_morph(spark, sf_dir):
    """Morphological opening (erode→dilate, 3×3) of the dense-cell mask —
    raster denoising; two constant map-side explodes, all aggregates
    bounded by grid cardinality."""
    from ..spatial.vectortile import tile_morph_sql

    load_documents(spark, sf_dir)
    return spark.sql(tile_morph_sql(synth.flat_spans_sql("spark"), "spark"))


def _o_tile_morph() -> str:
    from ..spatial.vectortile import tile_morph_sql

    return tile_morph_sql(synth.flat_spans_sql("duck"), "duck")


O_TILE_MORPH = _o_tile_morph()


def q_layout_compare(spark, sf_dir):
    """Hilbert-vs-Morton layout A/B: per res-3 quadrant window, the number
    of range-partitioned files each curve order forces open — the measured
    justification for the snapshot partitioner's Hilbert choice (fewer
    files touched per window = cheaper manifest-pruned scans at 100 TB)."""
    from ..spatial.layout import layout_compare_sql

    load_documents(spark, sf_dir)
    return spark.sql(layout_compare_sql(synth.flat_spans_sql("spark"), "spark"))


def _o_layout_compare() -> str:
    from ..spatial.layout import layout_compare_sql

    return layout_compare_sql(synth.flat_spans_sql("duck"), "duck")


O_LAYOUT_COMPARE = _o_layout_compare()


def q_cotravel(spark, sf_dir):
    """Co-travel pairs: users sharing >= 3 distinct (cell, 6h-bucket) bins.
    The quadratic step is keyed on the bounded bin (bucketed self-join,
    never all-pairs); a deterministic per-bin cap bounds hot-bin fan-out."""
    from ..spatial.trajectory import cotravel_sql

    _load_events(spark, sf_dir)
    return spark.sql(cotravel_sql("spark"))


def _o_cotravel() -> str:
    from ..spatial.trajectory import cotravel_sql

    return cotravel_sql("duck")


O_COTRAVEL = _o_cotravel()


def q_trajectory_od(spark, sf_dir):
    """Origin–destination matrix over user trajectories: first-event cell →
    last-event cell per user, user and event-volume counts per OD pair.
    One user_id window shuffle; endpoint pivot rides the same key."""
    from ..spatial.trajectory import trajectory_od_sql

    _load_events(spark, sf_dir)
    return spark.sql(trajectory_od_sql("spark", REGION_RES))


def _o_trajectory_od() -> str:
    from ..spatial.trajectory import trajectory_od_sql

    return trajectory_od_sql("duck", REGION_RES)


O_TRAJECTORY_OD = _o_trajectory_od()


def q_tile_flow(spark, sf_dir):
    """Per-segment flow matrix: every consecutive span pair in a document
    contributes one (from_cell → to_cell) movement edge at REGION_RES —
    the flow-map operator (trajectory_od's endpoint matrix, refined to
    per-hop flux; self-loops = within-cell movement kept).  One doc_id
    window shuffle + a flow-cardinality aggregate."""
    from pyspark.sql import Window as W

    pts = flat_spans(spark, sf_dir).withColumn(
        "cell", F.expr(grid.cell_sql("lon", "lat", REGION_RES, "spark"))
    )
    w = W.partitionBy("doc_id").orderBy("span_idx")
    return (
        pts.withColumn("prev_cell", F.lag("cell").over(w))
        .filter(F.col("prev_cell").isNotNull())
        .groupBy(
            F.col("prev_cell").alias("from_cell"), F.col("cell").alias("to_cell")
        )
        .agg(F.count(F.lit(1)).alias("n_moves"))
    )


O_TILE_FLOW = f"""
WITH pts AS (
  SELECT doc_id, span_idx, {grid.cell_sql('lon', 'lat', REGION_RES, 'duck')} AS cell
  FROM ({O_SPANS_FLAT})
),
seg AS (
  SELECT cell, lag(cell) OVER (PARTITION BY doc_id ORDER BY span_idx) AS prev_cell
  FROM pts
)
SELECT prev_cell AS from_cell, cell AS to_cell, count(*) AS n_moves
FROM seg WHERE prev_cell IS NOT NULL
GROUP BY 1, 2
"""


def q_kind_transitions(spark, sf_dir):
    """Span-kind Markov transition counts within documents (text→image→
    table chains of the interleaved format): lag window on span order,
    transition-matrix aggregate — the modality-structure profile of an
    interleaved corpus."""
    from pyspark.sql import Window as W

    df = flat_spans(spark, sf_dir).select("doc_id", "span_idx", "kind")
    w = W.partitionBy("doc_id").orderBy("span_idx")
    return (
        df.withColumn("prev_kind", F.lag("kind").over(w))
        .filter(F.col("prev_kind").isNotNull())
        .groupBy(F.col("prev_kind").alias("from_kind"), F.col("kind").alias("to_kind"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


O_KIND_TRANSITIONS = f"""
WITH s AS (
  SELECT kind, lag(kind) OVER (PARTITION BY doc_id ORDER BY span_idx) AS prev_kind
  FROM ({O_SPANS_FLAT})
)
SELECT prev_kind AS from_kind, kind AS to_kind, count(*) AS n
FROM s WHERE prev_kind IS NOT NULL
GROUP BY 1, 2
"""


def q_trajectory_length(spark, sf_dir):
    """Per-user planar path length / displacement / wander ratio — the
    order-sensitive float aggregate done deterministically (sort_array +
    pinned left fold; sqrt is correctly-rounded IEEE, so raw doubles are
    hash-safe — see trajectory_length_sql)."""
    from ..spatial.trajectory import trajectory_length_sql

    _load_events(spark, sf_dir)
    return spark.sql(trajectory_length_sql("spark"))


def _o_trajectory_length() -> str:
    from ..spatial.trajectory import trajectory_length_sql

    return trajectory_length_sql("duck")


O_TRAJECTORY_LENGTH = _o_trajectory_length()


def q_trajectory_hull(spark, sf_dir):
    """Per-user convex hull of the event point cloud: canonical CCW vertex
    cycle + exact BIGINT shoelace area, computed TWO-LEVEL — map-side local
    hulls per partition (convexity is associative), so the one user_id
    shuffle carries only O(hull) candidate vertices per user per partition,
    never the raw points (hot-user skew dies map-side).  Oracle = an
    independent gift-wrapping recursive CTE."""
    from ..spatial import hull as _hull

    _load_events(spark, sf_dir)
    pts = spark.sql(_hull.event_points_sql("spark"))
    return _hull.convex_hull(pts, group="user_id")


def _o_trajectory_hull() -> str:
    from ..spatial import hull as _hull

    return _hull.jarvis_oracle_sql(_hull.event_points_sql("duck"))


def q_trajectory_diameter(spark, sf_dir):
    """Per-user point-set diameter (farthest pair, exact integer d2): the
    diameter of a set equals the diameter of its hull VERTICES, so the pair
    search runs on the two-level hull's ~h rows per user (h ~ log n), not
    the raw points — an O(h^2)-per-user self-join on a table already
    reduced map-side.  Canonical tie-break: lexicographically smallest
    (ax, ay, bx, by) among maxima.  Oracle = brute-force quadratic max over
    ALL distinct points, so the hull reduction itself is what's checked."""
    from ..spatial import hull as _hull

    _load_events(spark, sf_dir)
    pts = spark.sql(_hull.event_points_sql("spark"))
    verts = _hull.convex_hull(pts, group="user_id").select("user_id", "seq", "x", "y")
    a = verts.select("user_id", F.col("seq").alias("sa"), F.col("x").alias("ax"), F.col("y").alias("ay"))
    b = verts.select("user_id", F.col("seq").alias("sb"), F.col("x").alias("bx"), F.col("y").alias("by"))
    pairs = (
        a.join(b, "user_id")
        .filter("(ax, ay) < (bx, by)")
        .select(
            "user_id", "ax", "ay", "bx", "by",
            F.expr(
                "(bx - ax) * (bx - ax) + (by - ay) * (by - ay)"
            ).alias("d2"),
        )
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("user_id").orderBy(
            F.desc("d2"), "ax", "ay", "bx", "by"
        )
    )
    return pairs.withColumn("_rn", rn).filter("_rn = 1").drop("_rn")


def _o_trajectory_diameter() -> str:
    from ..spatial import hull as _hull

    return f"""
WITH pts AS ({_hull.event_points_sql('duck')}),
pairs AS (
  SELECT a.user_id, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by,
         (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y) AS d2
  FROM pts a JOIN pts b
    ON a.user_id = b.user_id AND (a.x, a.y) < (b.x, b.y)
)
SELECT user_id, ax, ay, bx, by, d2 FROM pairs
QUALIFY row_number() OVER (
  PARTITION BY user_id ORDER BY d2 DESC, ax, ay, bx, by
) = 1
"""


def _mean_center_sql(dialect: str) -> str:
    """Per-user mean center + standard distance over the event point
    cloud — the first-moment descriptive spatial statistics (centrography)
    alongside the Moran/LISA second-moment family.  All accumulations are
    exact BIGINT (coordinate sums, squared-coordinate sums: x < 3.6e5 so
    x^2 < 1.3e11 and 10^7 points stay under 2^63); the only float ops are
    the final divisions and one sqrt — identical expression text both
    engines, so correctly-rounded IEEE doubles match exactly."""
    from ..spatial import hull as _hull

    pts = _hull.event_points_sql(dialect)
    return f"""
WITH pts AS ({pts}),
acc AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
  FROM pts GROUP BY user_id
)
SELECT user_id, n,
       CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS cx,
       CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cy,
       sqrt(
         (CAST(sxx AS DOUBLE) + CAST(syy AS DOUBLE)) / CAST(n AS DOUBLE)
         - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
         - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
       ) AS std_dist
FROM acc
"""


def q_mean_center(spark, sf_dir):
    """Centrography: per-user mean center + standard distance (the
    dispersion radius).  One partial-agg'd shuffle on user_id; BIGINT
    moment sums are order-insensitive, so the result is exact under any
    partitioning."""
    _load_events(spark, sf_dir)
    return spark.sql(_mean_center_sql("spark"))


def _cell_quadkey_sql(dialect: str) -> str:
    """Occupied-cell quadkey table: the tile-server addressing view of the
    grid (one base-4 digit per zoom level, MSB-first).  The parent's
    quadkey is the child's minus its last character — prefix matching IS
    hierarchy traversal, which is why tile CDNs key on it; emitted for
    both levels so the oracle checks the contract, and the decode
    roundtrip is pinned in tests/test_grid.py."""
    cell = grid.cell_sql("lon", "lat", REGION_RES, dialect)
    parent = grid.parent_sql("cell", REGION_RES, REGION_RES - 2, dialect)
    qk = grid.quadkey_sql("cell", REGION_RES, dialect)
    qk_par = grid.quadkey_sql("parent_cell", REGION_RES - 2, dialect)
    return f"""
WITH cells AS (
  SELECT {cell} AS cell FROM ({{spans}})
),
agg AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS n FROM cells GROUP BY cell
),
lab AS (
  SELECT cell, n, {parent} AS parent_cell FROM agg
)
SELECT cell, n, {qk} AS qk, {qk_par} AS qk_parent
FROM lab
""".replace("{spans}", synth.flat_spans_sql(dialect))


def q_cell_quadkey(spark, sf_dir):
    """Quadkey addressing of the occupied grid (Bing-tile serving keys):
    map-side string codec after one bounded cell aggregate; the
    parent-prefix contract rides in the output."""
    load_documents(spark, sf_dir)
    return spark.sql(_cell_quadkey_sql("spark"))


def _tile_trend_sql(dialect: str) -> str:
    """Emerging-hotspot trend: Mann–Kendall S statistic per coarse cell
    over 5-day event-count bins — S = sum over bin pairs (i < j) of
    sign(n_j − n_i), pure integer arithmetic so the statistic is exact and
    order-insensitive across engines.  Bins are DENSIFIED with zeros
    (absence of events IS a low count; trend on observed-only bins would
    miss die-offs) via the grid×bins cross — the pinned bounded-densify
    class, cardinality cells × bins, never data-sized.  The pair join runs
    per cell on the bounded dense table (T^2 pairs per cell, T ~ 6)."""
    from ..spatial.trajectory import _coords_sql

    lon, lat = _coords_sql()
    cell = grid.cell_sql("lon", "lat", COARSE_RES, dialect)
    if dialect == "spark":
        us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    else:
        us = "epoch_us(ts)"
    tb = grid._idiv(us, str(432_000 * 1_000_000), dialect)  # 5-day bins
    if dialect == "spark":
        # Spark formulation: per-cell bin MAP + one 1-row global bins
        # attach, zero-densify and pair-fold MAP-SIDE over the bounded
        # array (T ~ 6 bins).  A dense self-join would duplicate the
        # densify cross under CTE inlining (2 BNLJs + 4 corpus scans);
        # this shape is ONE corpus aggregate + one allowed 1-row attach.
        # The DuckDB oracle keeps the independent pair-join formulation.
        sgn = (
            "CASE WHEN element_at(ns, j + 1) > element_at(ns, i + 1) THEN 1 "
            "WHEN element_at(ns, j + 1) < element_at(ns, i + 1) THEN -1 ELSE 0 END"
        )
        pair_fold = (
            f"aggregate(sequence(0, size(ns) - 2), CAST(0 AS BIGINT), (acc, i) -> "
            f"acc + aggregate(sequence(i + 1, size(ns) - 1), CAST(0 AS BIGINT), "
            f"(a2, j) -> a2 + {sgn}))"
        )
        return f"""
WITH ev AS (
  SELECT {cell} AS cell, {tb} AS tb
  FROM (SELECT *, {lon} AS lon, {lat} AS lat FROM events)
),
cb0 AS (SELECT cell, tb, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY 1, 2),
bins AS (SELECT array_sort(collect_set(tb)) AS bs FROM cb0),
cellmaps AS (
  SELECT cell, map_from_entries(collect_list(struct(tb, n))) AS m FROM cb0
  GROUP BY cell
),
dense AS (
  SELECT cell,
         transform(bs, b -> coalesce(element_at(m, b), CAST(0 AS BIGINT))) AS ns
  FROM cellmaps CROSS JOIN bins
),
scored AS (
  SELECT cell,
         CASE WHEN size(ns) < 2 THEN CAST(0 AS BIGINT) ELSE {pair_fold} END AS s_stat,
         CAST(size(ns) * (size(ns) - 1) DIV 2 AS BIGINT) AS n_pairs
  FROM dense
)
SELECT cell, s_stat, n_pairs,
       CASE WHEN s_stat > 0 THEN 'rising'
            WHEN s_stat < 0 THEN 'falling' ELSE 'flat' END AS trend
FROM scored
"""
    return f"""
WITH ev AS (
  SELECT {cell} AS cell, {tb} AS tb
  FROM (SELECT *, {lon} AS lon, {lat} AS lat FROM events)
),
cb0 AS (SELECT cell, tb, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY 1, 2),
cells AS (SELECT DISTINCT cell FROM cb0),
bins AS (SELECT DISTINCT tb FROM cb0),
dense AS (
  SELECT c.cell, b.tb, coalesce(cb0.n, CAST(0 AS BIGINT)) AS n
  FROM cells c CROSS JOIN bins b
  LEFT JOIN cb0 ON cb0.cell = c.cell AND cb0.tb = b.tb
),
pairs AS (
  SELECT a.cell,
         CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1 ELSE 0 END AS sgn
  FROM dense a JOIN dense b ON a.cell = b.cell AND a.tb < b.tb
)
SELECT cell, CAST(sum(sgn) AS BIGINT) AS s_stat,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CASE WHEN sum(sgn) > 0 THEN 'rising'
            WHEN sum(sgn) < 0 THEN 'falling' ELSE 'flat' END AS trend
FROM pairs GROUP BY cell
"""


def q_tile_trend(spark, sf_dir):
    """Emerging-hotspot analysis: per-cell Mann–Kendall trend of event
    volume over time bins (the temporal sibling of tile_hotspot's static
    Getis-Ord)."""
    _load_events(spark, sf_dir)
    return spark.sql(_tile_trend_sql("spark"))


def _tile_decay_sql(dialect: str) -> str:
    """Time-decayed tile heat with a 5-day half-life, EXACT: the decay
    weight is 2^(-age_bins) — a dyadic rational — summed in 1/2^20
    fixed-point BIGINT (ages clamped at 21 half-lives, where the shifted
    weight 1048576 >> 21 is exactly 0 — events past the horizon truly
    stop contributing, no permanent floor), so the decayed score is
    bit-identical
    across engines and partitionings; no float enters until never.
    The freshness operator every 'current hotness' map needs, in the
    same one-aggregate shape as tile_agg."""
    from ..spatial.trajectory import _coords_sql

    lon, lat = _coords_sql()
    cell = grid.cell_sql("lon", "lat", COARSE_RES, dialect)
    if dialect == "spark":
        us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        shiftr = "shiftright(1048576, CAST(age AS INT))"
    else:
        us = "epoch_us(ts)"
        shiftr = "(1048576 >> CAST(age AS INT))"
    tb = grid._idiv(us, str(432_000 * 1_000_000), dialect)
    return f"""
WITH ev AS (
  SELECT {cell} AS cell, {tb} AS tb
  FROM (SELECT *, {lon} AS lon, {lat} AS lat FROM events)
),
mx AS (SELECT max(tb) AS now_tb FROM ev),
aged AS (
  SELECT cell, LEAST(now_tb - tb, 21) AS age FROM ev, mx
)
SELECT cell,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum({shiftr}) AS BIGINT) AS heat_fp20
FROM aged GROUP BY cell
"""


def _tile_changepoint_sql(dialect: str) -> str:
    """Changepoint location per coarse cell over 5-day bins by exact
    integer CUSUM: with T bins and total N, the statistic at bin t is
    S_t = T * prefix_t − t * N (the mean-centered prefix sum scaled by T,
    so it stays BIGINT — no division); the changepoint is the bin
    maximizing |S_t| with deterministic ties (earliest bin).  Densified
    zeros ride the same (cell, bin) aggregate as tile_trend; the window
    prefix runs on one cell-keyed shuffle."""
    from ..spatial.trajectory import _coords_sql

    lon, lat = _coords_sql()
    cell = grid.cell_sql("lon", "lat", COARSE_RES, dialect)
    if dialect == "spark":
        us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    else:
        us = "epoch_us(ts)"
    tb = grid._idiv(us, str(432_000 * 1_000_000), dialect)
    return f"""
WITH ev AS (
  SELECT {cell} AS cell, {tb} AS tb
  FROM (SELECT *, {lon} AS lon, {lat} AS lat FROM events)
),
cb0 AS (SELECT cell, tb, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY 1, 2),
cells AS (SELECT DISTINCT cell FROM cb0),
bins AS (SELECT DISTINCT tb FROM cb0),
dense AS (
  SELECT c.cell, b.tb, coalesce(cb0.n, CAST(0 AS BIGINT)) AS n
  FROM cells c CROSS JOIN bins b
  LEFT JOIN cb0 ON cb0.cell = c.cell AND cb0.tb = b.tb
),
pre AS (
  SELECT cell, tb, n,
         sum(n) OVER (PARTITION BY cell ORDER BY tb) AS pf,
         sum(n) OVER (PARTITION BY cell) AS total,
         count(*) OVER (PARTITION BY cell) AS t_bins,
         row_number() OVER (PARTITION BY cell ORDER BY tb) AS t
  FROM dense
),
scored AS (
  SELECT cell, tb,
         CAST(t_bins * pf - t * total AS BIGINT) AS s_t
  FROM pre WHERE t < t_bins
)
SELECT cell, tb AS change_tb, s_t,
       CASE WHEN s_t > 0 THEN 'drop_after' WHEN s_t < 0 THEN 'rise_after'
            ELSE 'none' END AS direction
FROM (
  SELECT cell, tb, s_t,
         row_number() OVER (
           PARTITION BY cell ORDER BY abs(s_t) DESC, tb ASC
         ) AS rk
  FROM scored
) WHERE rk = 1
"""


def q_tile_changepoint(spark, sf_dir):
    """Per-cell changepoint (exact integer CUSUM argmax) — where a cell's
    event rate shifted, the siblings of tile_trend's monotone test."""
    _load_events(spark, sf_dir)
    return spark.sql(_tile_changepoint_sql("spark"))


def q_tile_decay(spark, sf_dir):
    """Half-life-decayed tile heat: dyadic 2^-age weights summed in exact
    fixed point — deterministic 'current hotness' with zero float ops."""
    _load_events(spark, sf_dir)
    return spark.sql(_tile_decay_sql("spark"))


def _layer_corr_sql(dialect: str) -> str:
    """Cross-layer density correlation: Pearson r between the document-
    span layer and the event layer on the shared coarse grid, zero-filled
    on either side's empty cells (absence is signal).  Every moment sum is
    exact BIGINT; the only float is the single final r expression (shared
    text, deterministic IEEE).  The 'do people go where the content is'
    statistic — one bounded aggregate per layer + a grid-sized outer
    join."""
    from ..spatial.trajectory import _coords_sql

    span_cell = grid.cell_sql("lon", "lat", COARSE_RES, dialect)
    elon, elat = _coords_sql()
    ev_cell = grid.cell_sql("lon", "lat", COARSE_RES, dialect)
    fs = synth.flat_spans_sql(dialect)
    return f"""
WITH a AS (
  SELECT {span_cell} AS cell, CAST(count(*) AS BIGINT) AS a FROM ({fs}) GROUP BY 1
),
b AS (
  SELECT {ev_cell} AS cell, CAST(count(*) AS BIGINT) AS b
  FROM (SELECT *, {elon} AS lon, {elat} AS lat FROM events) GROUP BY 1
),
j AS (
  SELECT coalesce(a.a, 0) AS av, coalesce(b.b, 0) AS bv
  FROM a FULL OUTER JOIN b ON a.cell = b.cell
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(av) AS BIGINT) AS sa, CAST(sum(bv) AS BIGINT) AS sb,
         CAST(sum(av * av) AS BIGINT) AS saa,
         CAST(sum(bv * bv) AS BIGINT) AS sbb,
         CAST(sum(av * bv) AS BIGINT) AS sab
  FROM j
)
SELECT n, sa, sb, saa, sbb, sab,
       (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
        - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
       / sqrt(
           (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
            - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
           * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
              - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
         ) AS pearson_r
FROM s
"""


def q_layer_corr(spark, sf_dir):
    """Pearson correlation between the content-density and event-activity
    layers on the shared grid (exact BIGINT moments, one final double)."""
    load_documents(spark, sf_dir)
    _load_events(spark, sf_dir)
    return spark.sql(_layer_corr_sql("spark"))


def _tile_gini_sql(dialect: str) -> str:
    """Spatial concentration of event activity: the Gini coefficient of
    per-cell counts over occupied cells — num = 2*sum(i*x_(i)) - (n+1)*sum(x)
    and den = n*sum(x) are exact BIGINT from one rank window over the
    sorted cells.  Ties cannot perturb the sums: a block of equal x
    occupies a fixed SET of ranks whatever its internal order, and the
    rank-weighted sum over that block depends only on the set — the cell
    tie-break just makes the per-row sequence a deterministic total
    order too.  The coefficient is one final division.  'Is activity a
    few hotspots or spread thin' — the inequality statistic area
    planners read."""
    from ..spatial.trajectory import _coords_sql

    lon, lat = _coords_sql()
    cell = grid.cell_sql("lon", "lat", COARSE_RES, dialect)
    return f"""
WITH cb AS (
  SELECT {cell} AS cell, CAST(count(*) AS BIGINT) AS x
  FROM (SELECT *, {lon} AS lon, {lat} AS lat FROM events) GROUP BY 1
),
rk AS (
  SELECT x, CAST(row_number() OVER (ORDER BY x, cell) AS BIGINT) AS i FROM cb
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(i * x) AS BIGINT) AS six
  FROM rk
)
SELECT n, sx,
       CAST(2 * six - (n + 1) * sx AS BIGINT) AS num,
       CAST(n * sx AS BIGINT) AS den,
       CAST(2 * six - (n + 1) * sx AS DOUBLE) / CAST(n * sx AS DOUBLE) AS gini
FROM s
"""


def _tile_pareto_sql(dialect: str) -> str:
    """Pareto coverage of activity: how many cells (densest first) cover
    80% of all events, and what share the top 10 cells hold — the
    operational twin of tile_gini (capacity planning reads 'k cells for
    80%', not a coefficient).  One rank window over the bounded cell
    aggregate; thresholds compared in exact cross-multiplied integers
    (cum*5 >= total*4 ⇔ cum >= 0.8·total), shares in basis points."""
    from ..spatial.trajectory import _coords_sql

    lon, lat = _coords_sql()
    cell = grid.cell_sql("lon", "lat", COARSE_RES, dialect)
    idiv = "DIV" if dialect == "spark" else "//"
    return f"""
WITH cb AS (
  SELECT {cell} AS cell, CAST(count(*) AS BIGINT) AS x
  FROM (SELECT *, {lon} AS lon, {lat} AS lat FROM events) GROUP BY 1
),
rk AS (
  SELECT x,
         CAST(row_number() OVER (ORDER BY x DESC, cell) AS BIGINT) AS i,
         CAST(sum(x) OVER (ORDER BY x DESC, cell) AS BIGINT) AS cum
  FROM cb
),
tot AS (SELECT CAST(sum(x) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_cells FROM cb)
SELECT t.n_cells, t.total,
       CAST(min(CASE WHEN r.cum * 5 >= t.total * 4 THEN r.i END) AS BIGINT)
         AS cells_for_80pct,
       CAST(max(CASE WHEN r.i <= 10 THEN r.cum END) * 10000 {idiv} t.total
            AS BIGINT) AS top10_share_bp
FROM rk r, tot t
GROUP BY 1, 2
"""


def q_tile_pareto(spark, sf_dir):
    """Cells-for-80% and top-10 share of event activity (exact integer
    thresholds; the capacity-planning view of spatial concentration)."""
    _load_events(spark, sf_dir)
    return spark.sql(_tile_pareto_sql("spark"))


def q_tile_gini(spark, sf_dir):
    """Gini concentration of event counts across occupied cells (exact
    integer numerator/denominator, one final division)."""
    _load_events(spark, sf_dir)
    return spark.sql(_tile_gini_sql("spark"))


def q_tile_rollup(spark, sf_dir):
    """Zoom-out re-aggregation: tile level 8 -> 4 via parent cells — the
    hypertable-rollup analogue (grouping-set rollup over the hierarchy)."""
    tiles = q_tile_agg(spark, sf_dir)
    return (
        tiles.withColumn("cell4", F.expr(grid.parent_sql("cell", TILE_RES, COARSE_RES, "spark")))
        .groupBy("cell4")
        .agg(
            F.sum("n").alias("n"),
            F.sum("w_sumw").alias("w_sumw"),
            F.sum("w_sumw2").alias("w_sumw2"),
        )
    )


O_TILE_ROLLUP = f"""
SELECT {grid.parent_sql('cell', TILE_RES, COARSE_RES, 'duck')} AS cell4,
       CAST(sum(n) AS BIGINT) AS n, sum(w_sumw) AS w_sumw, sum(w_sumw2) AS w_sumw2
FROM ({O_TILE_AGG})
GROUP BY 1
"""


def _cell_bounds_sql(dialect: str) -> str:
    """(cell) -> west/south/east/north of the cell rectangle, pure integer
    + double arithmetic on the packed id (H3 cell_to_boundary analogue)."""
    n = 1 << TILE_RES
    x = grid.unpack_x_sql("cell", dialect)
    y = grid.unpack_y_sql("cell", dialect)
    return (
        f"CAST({x} AS DOUBLE) / {float(n)!r} * 360.0 - 180.0 AS west, "
        f"CAST({y} AS DOUBLE) / {float(n)!r} * 180.0 - 90.0 AS south, "
        f"CAST(({x}) + 1 AS DOUBLE) / {float(n)!r} * 360.0 - 180.0 AS east, "
        f"CAST(({y}) + 1 AS DOUBLE) / {float(n)!r} * 180.0 - 90.0 AS north"
    )


def q_cell_bounds(spark, sf_dir):
    """Boundary rectangles of every occupied tile (the vector-tile export
    step: cell id -> geometry)."""
    tiles = q_tile_agg(spark, sf_dir).select("cell", "n")
    tiles.createOrReplaceTempView("_tiles_for_bounds")
    return spark.sql(
        f"SELECT cell, n, {_cell_bounds_sql('spark')} FROM _tiles_for_bounds"
    )


O_CELL_BOUNDS = f"""
SELECT cell, n, {_cell_bounds_sql('duck')} FROM ({O_TILE_AGG})
"""


def q_tile_quantiles(spark, sf_dir):
    """Per-tile exact quantiles of the span weight (median + p90): Spark's
    exact `percentile` and DuckDB's `quantile_cont` both linearly
    interpolate on the sorted values, so results are bit-identical."""
    spans = flat_spans(spark, sf_dir)
    return (
        spans.withColumn("cell", F.expr(grid.cell_sql("lon", "lat", TILE_RES, "spark")))
        .groupBy("cell")
        .agg(
            F.expr("percentile(w, 0.5)").alias("w_med"),
            F.expr("percentile(w, 0.9)").alias("w_p90"),
            F.count(F.lit(1)).alias("n"),
        )
    )


O_TILE_QUANTILES = f"""
SELECT {grid.cell_sql('lon', 'lat', TILE_RES, 'duck')} AS cell,
       quantile_cont(w, 0.5) AS w_med, quantile_cont(w, 0.9) AS w_p90,
       count(*) AS n
FROM ({O_SPANS_FLAT}) GROUP BY 1
"""


PYRAMID_KW = dict(res_max=TILE_RES, res_min=COARSE_RES, threshold=16)


def q_tile_pyramid(spark, sf_dir):
    """Adaptive quadtree pyramid: split cells while they hold > threshold
    points — variable-resolution tiling (dense regions fine, sparse coarse),
    each point covered by exactly one leaf."""
    from ..spatial.pyramid import tile_pyramid

    return tile_pyramid(flat_spans(spark, sf_dir), **PYRAMID_KW)


def _pyramid_oracle():
    from ..spatial.pyramid import tile_pyramid_oracle_sql

    return tile_pyramid_oracle_sql(O_SPANS_FLAT, **PYRAMID_KW)


O_TILE_PYRAMID = _pyramid_oracle()




def q_tile_bimoran(spark, sf_dir):
    """Bivariate Moran's I between the TEXT-span and MEDIA-span density
    fields at res 6 — the interleaved-corpus question "do text-heavy
    tiles neighbour media-heavy tiles?" as one cross-association number
    (queen ring-1 weights over cells holding any span; exact-BIGINT
    scaled deviations, one shared-text double)."""
    from ..spatial.stats import bivariate_moran

    tiles = (
        flat_spans(spark, sf_dir)
        .withColumn("cell", F.expr(grid.cell_sql("lon", "lat", REGION_RES, "spark")))
        .groupBy("cell")
        .agg(
            F.sum(F.expr("CASE WHEN kind = 'text' THEN 1 ELSE 0 END")).alias("nx"),
            F.sum(F.expr("CASE WHEN kind != 'text' THEN 1 ELSE 0 END")).alias("ny"),
        )
    )
    return bivariate_moran(tiles, REGION_RES)


def _o_tile_bimoran() -> str:
    from ..spatial.stats import bivariate_moran_oracle_sql

    tiles = (
        f"SELECT {grid.cell_sql('lon', 'lat', REGION_RES, 'duck')} AS cell, "
        f"CAST(sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS BIGINT) AS nx, "
        f"CAST(sum(CASE WHEN kind != 'text' THEN 1 ELSE 0 END) AS BIGINT) AS ny "
        f"FROM ({O_SPANS_FLAT}) GROUP BY 1"
    )
    return bivariate_moran_oracle_sql(tiles, REGION_RES)


O_TILE_BIMORAN = _o_tile_bimoran()
