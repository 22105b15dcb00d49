"""Split from the original single-module queries.py (round-4 refactor); see queries/__init__.py for the public surface."""

from __future__ import annotations

from ..session import local_frame
from ._common import (
    F,
    _drain,
    _load_events,
    flat_spans,
    grid,
    load_documents,
    synth,
)
from .tiles_q import (
    O_SPANS_FLAT,
    REGION_CC_MIN,
    REGION_CC_RES,
    _dense_cells_edges,
)
from .spatial_q import (
    O_PIP_JOIN,
)
from .traindata_q import (
    _text,
)

# ---------------------------------------------------------------------------
# training-data shaping: geofence transitions, sequence packing, chunking
# ---------------------------------------------------------------------------

SEQ_LEN = 512  # tokens per packed training sequence
CHUNK_SIZE = 256  # chars per context chunk
CHUNK_STEP = 192  # 25% overlap between consecutive chunks


def q_tile_bfs(spark, sf_dir):
    """Hop-distance field (isochrone-lite): BFS over the dense-cell
    8-adjacency graph from the DENSEST cell (ties -> min id; the min-id
    cell can be an isolated singleton) — Pregel min-dist propagation
    (functions/graph.py bfs_hops); unreachable regions are absent by
    definition."""
    from ..functions.graph import bfs_hops

    dense, edges = _dense_cells_edges(spark, sf_dir)
    seed = dense.orderBy(F.desc("n"), "cell").first()["cell"]
    return bfs_hops(dense.select("cell"), edges, seed=seed, node_col="cell")


def _o_tile_bfs() -> str:
    from ..functions.graph import bfs_cte_sql

    cell = grid.cell_sql("lon", "lat", REGION_CC_RES, "duck")
    ux = lambda e: grid.unpack_x_sql(e, "duck")  # noqa: E731
    uy = lambda e: grid.unpack_y_sql(e, "duck")  # noqa: E731
    edges_sql = f"""SELECT a.cell AS src, b.cell AS dst FROM dense a JOIN dense b
  ON a.cell <> b.cell
 AND abs({ux('a.cell')} - {ux('b.cell')}) <= 1
 AND abs({uy('a.cell')} - {uy('b.cell')}) <= 1"""
    cte = bfs_cte_sql(
        edges_sql, "SELECT cell FROM dense ORDER BY n DESC, cell LIMIT 1", "cell"
    )
    return f"""
WITH RECURSIVE
dense AS (SELECT {cell} AS cell, count(*) AS n FROM ({O_SPANS_FLAT})
          GROUP BY 1 HAVING count(*) >= {REGION_CC_MIN}),
{cte}
SELECT cell, hops FROM hops
"""


O_TILE_BFS = _o_tile_bfs()


KCORE_K = 3


def q_tile_kcore(spark, sf_dir):
    """k-core of the dense-cell 8-adjacency graph (k=3): the maximal
    subgraph where every cell keeps >= 3 dense neighbours — the
    'structurally hot' interior that survives when fringe cells peel away,
    a sturdier hotspot definition than any single-cell threshold.
    Iterative peel to the unique fixpoint (functions/graph.kcore), output
    (cell, in-core degree); the oracle unrolls the peel to a fixed depth,
    safe past the fixpoint by idempotence."""
    from ..functions.graph import kcore

    dense, edges = _dense_cells_edges(spark, sf_dir)
    core, _rounds = kcore(dense.select("cell"), edges, KCORE_K, node_col="cell")
    return core


def _o_tile_kcore() -> str:
    from ..functions.graph import kcore_cte_sql

    cell = grid.cell_sql("lon", "lat", REGION_CC_RES, "duck")
    ux = lambda e: grid.unpack_x_sql(e, "duck")  # noqa: E731
    uy = lambda e: grid.unpack_y_sql(e, "duck")  # noqa: E731
    edges_sql = f"""SELECT a.cell AS src, b.cell AS dst FROM dense a JOIN dense b
  ON a.cell <> b.cell
 AND abs({ux('a.cell')} - {ux('b.cell')}) <= 1
 AND abs({uy('a.cell')} - {uy('b.cell')}) <= 1"""
    cte = kcore_cte_sql(edges_sql, "SELECT cell FROM dense", KCORE_K, "cell")
    # AS MATERIALIZED: without it DuckDB inlines `dense`/`eg` into every
    # unrolled round, re-opening the parquet per reference until the fd
    # limit trips (duck-only syntax; this SQL never runs on Spark)
    return f"""
WITH dense AS MATERIALIZED (SELECT {cell} AS cell, count(*) AS n FROM ({O_SPANS_FLAT})
          GROUP BY 1 HAVING count(*) >= {REGION_CC_MIN}),
{cte}
SELECT cell, deg FROM core
"""


def q_tile_pagerank(spark, sf_dir):
    """Damped PageRank centrality over the dense-cell 8-adjacency graph —
    which hot tiles are CONNECTORS of the hot region structure, not just
    locally dense.  Integer fixed-point recurrence (pr DIV deg, BIGINT
    sums), so the iterative kernel is bit-exact across engines and
    aggregation orders — the float-free pattern that makes iterative
    graph/ML jobs verifiable and restartable (functions/graph.py
    pagerank)."""
    from ..functions.graph import pagerank

    dense, edges = _dense_cells_edges(spark, sf_dir)
    return pagerank(dense.select("cell"), edges, node_col="cell")


def _o_tile_pagerank() -> str:
    from ..functions.graph import pagerank_cte_sql

    cell = grid.cell_sql("lon", "lat", REGION_CC_RES, "duck")
    ux = lambda e: grid.unpack_x_sql(e, "duck")  # noqa: E731
    uy = lambda e: grid.unpack_y_sql(e, "duck")  # noqa: E731
    edges_sql = f"""SELECT a.cell AS src, b.cell AS dst FROM dense a JOIN dense b
  ON a.cell <> b.cell
 AND abs({ux('a.cell')} - {ux('b.cell')}) <= 1
 AND abs({uy('a.cell')} - {uy('b.cell')}) <= 1"""
    cte = pagerank_cte_sql(edges_sql, "SELECT cell FROM dense", "cell")
    return f"""
WITH dense AS (SELECT {cell} AS cell, count(*) AS n FROM ({O_SPANS_FLAT})
          GROUP BY 1 HAVING count(*) >= {REGION_CC_MIN}),
{cte}
SELECT cell, pr FROM prf
"""


O_TILE_PAGERANK = _o_tile_pagerank()


# Congestion-weighted routing over the dense-cell graph: traversing INTO a
# cell costs 1 + min(n DIV 64, 3) — denser tiles are slower, so the weighted
# shortest path routes AROUND hotspots where the unweighted BFS cuts through.
# Integer weights keep the min-plus kernel aggregation-order-exact.
SSSP_WEIGHT_SPARK = "CAST(1 + LEAST(n DIV 64, 3) AS BIGINT)"
SSSP_WEIGHT_DUCK = "CAST(1 + LEAST(b.n // 64, 3) AS BIGINT)"
# res-5 grid: longest simple path <= 2*32 hops, max edge weight 4 -> 256;
# 512 gives slack while keeping the oracle's (node, d) working set bounded.
SSSP_MAX_COST = 512


def _weighted_dense_edges(spark, sf_dir):
    dense, edges = _dense_cells_edges(spark, sf_dir)
    w_edges = edges.join(
        dense.select(F.col("cell").alias("dst"), "n"), "dst"
    ).select("src", "dst", F.expr(SSSP_WEIGHT_SPARK).alias("w"))
    return dense, w_edges


def q_tile_sssp(spark, sf_dir):
    """Congestion-weighted single-source shortest paths from the densest
    cell over the dense-cell 8-adjacency graph — Bellman-Ford min-plus
    propagation with exact integer weights (functions/graph.py sssp), the
    weighted sibling of tile_bfs.  Rounds = hop length of the longest
    shortest path, each round one dst-keyed join + min aggregate."""
    from ..functions.graph import sssp

    dense, w_edges = _weighted_dense_edges(spark, sf_dir)
    seed = dense.orderBy(F.desc("n"), "cell").first()["cell"]
    return sssp(dense.select("cell"), w_edges, seed=seed, node_col="cell")


def _sssp_oracle_body() -> str:
    from ..functions.graph import sssp_cte_sql

    cell = grid.cell_sql("lon", "lat", REGION_CC_RES, "duck")
    ux = lambda e: grid.unpack_x_sql(e, "duck")  # noqa: E731
    uy = lambda e: grid.unpack_y_sql(e, "duck")  # noqa: E731
    edges_sql = f"""SELECT a.cell AS src, b.cell AS dst, {SSSP_WEIGHT_DUCK} AS w
  FROM dense a JOIN dense b
  ON a.cell <> b.cell
 AND abs({ux('a.cell')} - {ux('b.cell')}) <= 1
 AND abs({uy('a.cell')} - {uy('b.cell')}) <= 1"""
    cte = sssp_cte_sql(
        edges_sql,
        "SELECT cell FROM dense ORDER BY n DESC, cell LIMIT 1",
        "cell",
        max_cost=SSSP_MAX_COST,
    )
    return f"""
WITH RECURSIVE
dense AS (SELECT {cell} AS cell, count(*) AS n FROM ({O_SPANS_FLAT})
          GROUP BY 1 HAVING count(*) >= {REGION_CC_MIN}),
{cte}"""


def _o_tile_sssp() -> str:
    return _sssp_oracle_body() + "\nSELECT cell, dist FROM dists\n"


O_TILE_SSSP = _o_tile_sssp()


def q_tile_isochrone(spark, sf_dir):
    """Isochrone bands over the congestion-weighted distance field: band =
    dist DIV 8, with cell count and exact distance envelope per band — the
    reachability contour a routing service draws.  Rides the tile_sssp
    kernel; the banding is one bounded-cardinality aggregate."""
    d = q_tile_sssp(spark, sf_dir)
    return d.groupBy(F.expr("dist DIV 8").alias("band")).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.min("dist").alias("d_min"),
        F.max("dist").alias("d_max"),
    )


def _o_tile_isochrone() -> str:
    return _sssp_oracle_body() + """
SELECT dist // 8 AS band, CAST(count(*) AS BIGINT) AS n_cells,
       min(dist) AS d_min, max(dist) AS d_max
FROM dists GROUP BY 1
"""


O_TILE_ISOCHRONE = _o_tile_isochrone()


def q_geofence_transitions(spark, sf_dir):
    """Geofence enter/exit detection along each document's span trajectory:
    label every span point with the polygon it falls in (min poly_id when
    polygons overlap, 'outside' when none), then emit one row per consecutive
    span pair whose label CHANGES — the region entry/exit event stream.

    Plan shape at scale: the PIP labelling is the broadcast cell-cover
    join (polygon side is the small one), the min-label dedup is a partial
    agg on (doc_id, span_offset), and the transition detection is one
    window pass keyed by doc_id — span counts per document are bounded, so
    the window partition can never be skewed by data volume."""
    from ..spatial.geofence import span_labels, transitions_within

    df = flat_spans(spark, sf_dir)
    return transitions_within(span_labels(df, synth.polygons()))


def q_geofence_dwell(spark, sf_dir):
    """Dwell statistics per geofence region: contiguous same-label RUNS
    along each span trajectory (gaps-and-islands: island key = span_idx −
    row_number within (doc, label)), rolled up per region — visits, docs,
    total span-steps inside, and the longest single stay.  Span steps are
    the trajectory's native time unit (spans are offset-ordered); the run
    detection is ONE more window pass on the SAME doc_id shuffle the
    labelling already pays."""
    from pyspark.sql import Window as W

    from ..spatial.geofence import span_labels

    labels = span_labels(flat_spans(spark, sf_dir), synth.polygons())
    w = W.partitionBy("doc_id", "lbl").orderBy("span_idx")
    runs = (
        labels.withColumn(
            "isl", F.col("span_idx") - F.row_number().over(w)
        )
        .groupBy("doc_id", "lbl", "isl")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return (
        runs.filter(F.col("lbl") != "outside")
        .groupBy("lbl")
        .agg(
            F.count(F.lit(1)).alias("n_visits"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("run_len").alias("total_steps"),
            F.max("run_len").alias("max_stay"),
        )
    )


def _o_geofence_dwell() -> str:
    return f"""
WITH m AS ({O_PIP_JOIN.strip()}),
lab AS (
  SELECT p.doc_id, p.span_idx,
         COALESCE(min(m.poly_id), 'outside') AS lbl
  FROM ({O_SPANS_FLAT}) p
  LEFT JOIN m ON m.doc_id = p.doc_id AND m.span_offset = p.span_offset
  GROUP BY 1, 2
),
isl AS (
  SELECT doc_id, lbl,
         span_idx - row_number() OVER (
           PARTITION BY doc_id, lbl ORDER BY span_idx
         ) AS isl
  FROM lab
),
runs AS (
  SELECT doc_id, lbl, isl, CAST(count(*) AS BIGINT) AS run_len
  FROM isl GROUP BY 1, 2, 3
)
SELECT lbl, CAST(count(*) AS BIGINT) AS n_visits,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(sum(run_len) AS BIGINT) AS total_steps,
       CAST(max(run_len) AS BIGINT) AS max_stay
FROM runs WHERE lbl <> 'outside' GROUP BY 1
"""


def _o_geofence_transitions() -> str:
    return f"""
WITH m AS ({O_PIP_JOIN.strip()}),
lab AS (
  SELECT p.doc_id, p.span_idx,
         COALESCE(min(m.poly_id), 'outside') AS lbl
  FROM ({O_SPANS_FLAT}) p
  LEFT JOIN m ON m.doc_id = p.doc_id AND m.span_offset = p.span_offset
  GROUP BY 1, 2
),
t AS (
  SELECT doc_id, span_idx, lbl,
         lag(lbl) OVER (PARTITION BY doc_id ORDER BY span_idx) AS prev_lbl
  FROM lab
)
SELECT doc_id, span_idx, prev_lbl AS from_poly, lbl AS to_poly
FROM t WHERE prev_lbl IS NOT NULL AND prev_lbl <> lbl
"""


O_GEOFENCE_TRANSITIONS = _o_geofence_transitions()


def q_geofence_flows(spark, sf_dir):
    """Region-to-region flow matrix: geofence transition events aggregated
    to (from_poly → to_poly) counts — the polygon-level OD companion of
    tile_flow, one extra tiny aggregate on the transition stream."""
    return (
        q_geofence_transitions(spark, sf_dir)
        .groupBy("from_poly", "to_poly")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


O_GEOFENCE_FLOWS = f"""
SELECT from_poly, to_poly, count(*) AS n_transitions
FROM ({O_GEOFENCE_TRANSITIONS})
GROUP BY 1, 2
"""


def q_streaming_geofence(spark, sf_dir):
    """Streaming geofence transitions drained with availableNow: the span
    table is re-written as contiguous (span_idx, doc_id) range slices, so
    every document's trajectory is SPLIT across micro-batches; per-batch
    within-slice transitions + boundary fragments, seam-merged at read
    time, must equal the batch operator EXACTLY (same oracle).  Slice
    processing order is irrelevant (out-of-order backfill safe)."""
    import tempfile

    from ..streaming.geofence_stream import StreamingGeofence

    df = flat_spans(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="fcs_gf_in_")
    df.repartitionByRange(4, "span_idx", "doc_id").write.mode("overwrite").parquet(d)
    stage = StreamingGeofence(
        name="gfq",
        polygons=synth.polygons(),
        out_dir=tempfile.mkdtemp(prefix="fcs_gf_out_"),
        checkpoint_dir=tempfile.mkdtemp(prefix="fcs_gf_ckpt_"),
    )
    q = stage.start(spark, d, available_now=True)
    _drain(q)
    return stage.result(spark)


def q_streaming_join(spark, sf_dir):
    """Native STREAM-STREAM interval join (views ⋈ clicks per user within
    1 hour), watermarked state-store eviction on both sides, append sink,
    drained with availableNow — must equal the batch interval join
    EXACTLY.  State ~ rate × window, not stream length (the finite-state
    property watermarks buy on unbounded streams)."""
    import tempfile

    from ..streaming.join_stream import StreamingIntervalJoin

    ev = _load_events(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="fcs_ssj_in_")
    ev.write.mode("overwrite").parquet(d)
    stage = StreamingIntervalJoin(
        name="ssjq",
        out_dir=tempfile.mkdtemp(prefix="fcs_ssj_out_"),
        checkpoint_dir=tempfile.mkdtemp(prefix="fcs_ssj_ckpt_"),
    )
    q = stage.start(spark, d, available_now=True)
    _drain(q)
    return stage.result(spark)


def _o_streaming_join() -> str:
    from ..streaming.join_stream import interval_join_oracle_sql

    return interval_join_oracle_sql()


_ENRICH_LANGS = ["en", "de", "fr", "es", "zh", "ja", "ru", "pt"]


def q_streaming_enrich(spark, sf_dir):
    """Streaming dimension enrichment drained with availableNow: docs
    stream in file-sized micro-batches, each batch broadcast-joined to the
    dim read fresh per batch (pinned SCD semantics —
    streaming/enrich_stream.py); with the dim static over the drain the
    merged result must equal the plain batch join exactly.  Mid-stream
    dim updates + exactly-once are pinned in tests/test_streaming.py."""
    import tempfile

    from ..streaming.enrich_stream import StreamingEnrich

    docs = load_documents(spark, sf_dir).select("doc_id", "lang")
    d_in = tempfile.mkdtemp(prefix="fcs_enr_in_")
    docs.repartition(4, "doc_id").write.mode("overwrite").parquet(d_in)
    dim_path = tempfile.mkdtemp(prefix="fcs_enr_dim_")
    local_frame(
        spark, [(lang, f"label_{lang}") for lang in _ENRICH_LANGS],
        "lang string, lang_label string",
    ).write.mode("overwrite").parquet(dim_path)
    stage = StreamingEnrich(
        name="enrq",
        dim_path=dim_path,
        on="lang",
        out_dir=tempfile.mkdtemp(prefix="fcs_enr_out_"),
        checkpoint_dir=tempfile.mkdtemp(prefix="fcs_enr_ckpt_"),
    )
    q = stage.start(spark, d_in, available_now=True)
    _drain(q)
    return stage.result(spark).drop("_batch")


def _o_streaming_enrich() -> str:
    rows = ", ".join(f"('{lang}', 'label_{lang}')" for lang in _ENRICH_LANGS)
    return f"""
SELECT d.doc_id, d.lang, t.lang_label
FROM documents d JOIN (VALUES {rows}) AS t(lang, lang_label) USING (lang)
"""


O_STREAMING_ENRICH = _o_streaming_enrich()


def q_seq_pack(spark, sf_dir):
    """Concat-and-chunk training-sequence packing: documents in doc_id
    order are conceptually concatenated token-wise and cut into fixed
    SEQ_LEN sequences; each document gets its (seq_id, seq_offset)
    placement.  The global running token count comes from the two-pass
    distributed prefix scan (functions/pack.py) — NO single-partition
    global window anywhere in the plan."""
    from ..functions.pack import global_prefix_sum

    from ..functions import text as _text

    df = load_documents(spark, sf_dir).selectExpr(
        "doc_id",
        f"CAST(size({_text.tokens_sql('text', 'spark')}) AS BIGINT) AS n_tok",
    )
    packed = global_prefix_sum(df, "doc_id", "n_tok", out_col="tok_before")
    return packed.select(
        "doc_id",
        "n_tok",
        "tok_before",
        F.expr(f"tok_before DIV {SEQ_LEN}").alias("seq_id"),
        (F.col("tok_before") % SEQ_LEN).alias("seq_offset"),
    )


O_SEQ_PACK = f"""
WITH tok AS (
  SELECT doc_id,
         CAST(len({{tokens}}) AS BIGINT) AS n_tok
  FROM documents
),
scan AS (
  -- CAST: DuckDB widens SUM(BIGINT) to HUGEINT, which pandas renders as
  -- float64 and the value hash sees as a different type at equal values
  SELECT doc_id, n_tok,
         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS tok_before
  FROM tok
)
SELECT doc_id, n_tok, tok_before,
       tok_before // {SEQ_LEN} AS seq_id,
       tok_before % {SEQ_LEN} AS seq_offset
FROM scan
"""


def _o_seq_pack() -> str:
    from ..functions import text as _text

    return O_SEQ_PACK.format(tokens=_text.tokens_sql("text", "duck"))


def q_doc_chunks(spark, sf_dir):
    """Overlapping context-window chunking (RAG/pretraining chunker):
    every document is cut into CHUNK_SIZE-char windows advancing by
    CHUNK_STEP (25% overlap).  Pure explode + substr — map-side only, no
    shuffle at all; chunk boundaries are character-deterministic so the
    output is reproducible under any partitioning."""
    df = load_documents(spark, sf_dir)
    return (
        df.filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            F.explode(
                F.expr(f"sequence(0, n_chars - 1, {CHUNK_STEP})")
            ).alias("start"),
            "text",
        )
        .select(
            "doc_id",
            F.expr(f"start DIV {CHUNK_STEP}").alias("chunk_idx"),
            "start",
            F.expr(f"substr(text, start + 1, {CHUNK_SIZE})").alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text"))
    )


O_DOC_CHUNKS = f"""
SELECT doc_id,
       start // {CHUNK_STEP} AS chunk_idx,
       start,
       substr(text, CAST(start + 1 AS INT), {CHUNK_SIZE}) AS chunk_text,
       CAST(len(substr(text, CAST(start + 1 AS INT), {CHUNK_SIZE})) AS INT) AS chunk_len
FROM (
  SELECT doc_id, text, unnest(generate_series(0, n_chars - 1, {CHUNK_STEP})) AS start
  FROM documents WHERE n_chars > 0
)
"""


