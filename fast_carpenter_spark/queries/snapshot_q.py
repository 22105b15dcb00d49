"""Split from the original single-module queries.py (round-4 refactor); see queries/__init__.py for the public surface."""

from __future__ import annotations

from pyspark.sql import Observation

from ..operators.selection import observe_counters
from ._common import (
    CutFlowStage,
    Dimension,
    F,
    REGION_RES,
    TILE_RES,
    _source_fingerprint_tag,
    flat_spans,
    grid,
    load_documents,
    synth,
)
from .tiles_q import (
    O_SPANS_FLAT,
)
from .spatial_q import flagship_tiles
from .core_q import (
    CUTFLOW_SELECTION,
    CUTFLOW_WEIGHTS,
)

# ---------------------------------------------------------------------------
# checkpoint / resume (north_rule: per-partition lineage + metrics)
# ---------------------------------------------------------------------------


def flagship_unit_job(spark):
    """Per-work-unit flagship pipeline for CheckpointedRun: documents-unit ->
    (partial (region, cell) aggregate, fetch of the lineage metrics incl.
    cutflow counters, observed by the partial's write).  Counter lineage
    mirrors the reference's per-chunk Counter protocol (ref:
    fast_carpenter/selection/filters.py:28-63)."""
    polys = synth.polygons()
    cutflow = CutFlowStage(name="cf", selection=CUTFLOW_SELECTION, weights=CUTFLOW_WEIGHTS)

    def job(df_unit):
        docs = Observation()
        df_unit.observe(docs, F.count(F.lit(1)).alias("n")).createOrReplaceTempView(
            "ckpt_unit_docs")
        spans = spark.sql(synth.flat_spans_sql("spark", docs="ckpt_unit_docs"))
        spans, fetch_counters = observe_counters(spans, cutflow.compile(spans)[1], CUTFLOW_WEIGHTS)
        partial = flagship_tiles(spans, polys)

        def fetch_metrics():
            rows = fetch_counters()  # checks the write finished; it completed `docs` too
            return {
                "docs": docs.get["n"],
                "cutflow": {f"{r['cut']}|{r['count_type']}|{r['weight_name']}": r["value"]
                            for r in rows},
            }

        return partial, fetch_metrics

    return job






















def _hilbert_snapshot(spark, sf_dir):
    """Span points written as a Hilbert-range-partitioned snapshot with
    per-file hkey bounds — the north-star physical layout (range
    partitioning on Hilbert-ordered cell keys) materialized through the
    snapshot store.  Cached per source fingerprint like the other
    snapshot-backed queries."""
    import os
    import tempfile

    from ..plans.pipeline import HilbertLayoutStage
    from ..sources.snapshot import SnapshotReader, list_snapshots, write_snapshot

    tdir = os.path.join(
        tempfile.gettempdir(), f"fcs_hlb_snap_{_source_fingerprint_tag(sf_dir)}"
    )
    if not (os.path.isdir(tdir) and list_snapshots(tdir)):
        pts = flat_spans(spark, sf_dir).select(
            "doc_id", "span_idx", "lon", "lat", "w",
            F.expr(grid.cell_sql("lon", "lat", REGION_RES, "spark")).alias("cell"),
        )
        laid = HilbertLayoutStage(
            name="hl", res=REGION_RES, partitions=8, keep_col="hkey"
        ).apply(pts)
        write_snapshot(laid, tdir, snapshot_id="snap-hlb", bounds_cols=["hkey"])
    return SnapshotReader(tdir)


def _sw_quadrant_hkey_range() -> tuple[int, int]:
    """Exact hkey range of the x<n/2, y<n/2 quadrant at REGION_RES —
    Hilbert curves fill each top-level quadrant contiguously, so
    [min, max] over the quadrant's cells prunes to exactly its files."""
    import numpy as np

    n = 1 << REGION_RES
    xs, ys = np.meshgrid(np.arange(n // 2), np.arange(n // 2))
    hk = grid.hilbert_key(xs.ravel().astype("int64"), ys.ravel().astype("int64"), REGION_RES)
    return int(hk.min()), int(hk.max())


def q_snapshot_pruned_scan(spark, sf_dir):
    """Hilbert layout + manifest pruning end-to-end: span points live in a
    Hilbert-range-partitioned snapshot (per-file hkey bounds); a spatial
    quadrant query prunes at the MANIFEST level to the files whose hkey
    range intersects the quadrant's contiguous Hilbert interval, then
    applies the exact spatial residual filter.  Per-cell counts of the
    south-west quadrant; semantics = the residual filter (pruning is
    conservative), so the oracle reads the raw documents — the pruning
    itself (files actually skipped) is pinned by tests/test_snapshot.py."""
    reader = _hilbert_snapshot(spark, sf_dir)
    qlo, qhi = _sw_quadrant_hkey_range()
    n_half = (1 << REGION_RES) // 2
    pts = reader.load(spark, col="hkey", lo=qlo, hi=qhi)
    ux = grid.unpack_x_sql("cell", "spark")
    uy = grid.unpack_y_sql("cell", "spark")
    return (
        pts.filter(F.expr(f"({ux}) < {n_half} AND ({uy}) < {n_half}"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("sumw"))
    )


def _o_snapshot_pruned_scan() -> str:
    n_half = (1 << REGION_RES) // 2
    cell = grid.cell_sql("lon", "lat", REGION_RES, "duck")
    ux = grid.unpack_x_sql("cell", "duck")
    uy = grid.unpack_y_sql("cell", "duck")
    return f"""
WITH fs AS ({{spans}}),
cells AS (SELECT {cell} AS cell, w FROM fs)
SELECT cell, count(*) AS n, sum(w) AS sumw
FROM cells
WHERE ({ux}) < {n_half} AND ({uy}) < {n_half}
GROUP BY cell
""".replace("{spans}", synth.flat_spans_sql("duck"))


def q_snapshot_block_limit(spark, sf_dir):
    """Partial processing through ordered file-group work units (the
    reference's ``--nblocks-per-dataset``, ref fast_carpenter/__main__.py:
    34-37): the Hilbert snapshot's hkey domain split into 8 equal blocks,
    process only the first 2.  Because the order-6 Hilbert curve fills the
    SW quadrant first, blocks 0-1 are exactly the x<n/2, y<n/2 quadrant —
    which is what makes the subset semantically defined and oracle-
    checkable rather than a file-order accident.  Per-kind counts +
    weighted sums over the prefix."""
    reader = _hilbert_snapshot(spark, sf_dir)
    pts = reader.load_block_limit(
        spark, "hkey", n_blocks=8, limit=2, domain_hi=4**REGION_RES
    )
    flat = flat_spans(spark, sf_dir).select("doc_id", "span_idx", "kind")
    return (
        pts.join(flat, ["doc_id", "span_idx"])
        .groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("sumw"))
    )


def _o_snapshot_block_limit() -> str:
    n_half = (1 << REGION_RES) // 2
    cell = grid.cell_sql("lon", "lat", REGION_RES, "duck")
    ux = grid.unpack_x_sql("cell", "duck")
    uy = grid.unpack_y_sql("cell", "duck")
    return f"""
WITH fs AS ({{spans}}),
cells AS (SELECT kind, {cell} AS cell, w FROM fs)
SELECT kind, count(*) AS n, sum(w) AS sumw
FROM cells
WHERE ({ux}) < {n_half} AND ({uy}) < {n_half}
GROUP BY kind
""".replace("{spans}", synth.flat_spans_sql("duck"))


def _ring_region():
    """A ring (box minus inner box) at REGION_RES — a query region whose
    Hilbert cover is deliberately NOT one contiguous interval (6 runs),
    unlike the curve-aligned SW quadrant."""
    n = 1 << REGION_RES
    return (n // 4, 3 * n // 4, 3 * n // 8, 5 * n // 8)


def _ring_pred_sql(ux: str, uy: str) -> str:
    o_lo, o_hi, i_lo, i_hi = _ring_region()
    return (
        f"(({ux}) >= {o_lo} AND ({ux}) < {o_hi} AND ({uy}) >= {o_lo} AND ({uy}) < {o_hi}) "
        f"AND NOT (({ux}) >= {i_lo} AND ({ux}) < {i_hi} AND ({uy}) >= {i_lo} AND ({uy}) < {i_hi})"
    )


def q_snapshot_multirange_scan(spark, sf_dir):
    """Multi-range Hilbert manifest pruning: a RING query region's cell
    cover decomposes into 6 contiguous Hilbert runs (hilbert_intervals,
    plan-time arithmetic on region cells — never data); files are pruned
    against ALL intervals, opening 4 of 8 files where the single [min,max]
    envelope would open 6 — the range-split planning an Iceberg scan does
    for non-curve-aligned regions, and the general form of the quadrant
    scan.  Exact residual filter after the pruned read; pruning wins and
    result-identity are pinned in tests/test_snapshot.py."""
    import numpy as np

    from ..spatial.layout import hilbert_intervals

    reader = _hilbert_snapshot(spark, sf_dir)
    n = 1 << REGION_RES
    o_lo, o_hi, i_lo, i_hi = _ring_region()
    xs, ys = np.meshgrid(np.arange(n), np.arange(n))
    x, y = xs.ravel(), ys.ravel()
    m = (
        (x >= o_lo) & (x < o_hi) & (y >= o_lo) & (y < o_hi)
        & ~((x >= i_lo) & (x < i_hi) & (y >= i_lo) & (y < i_hi))
    )
    hk = grid.hilbert_key(x[m].astype("int64"), y[m].astype("int64"), REGION_RES)
    intervals = hilbert_intervals(hk, max_intervals=8)
    pts = reader.load_ranges(spark, "hkey", intervals)
    ux = grid.unpack_x_sql("cell", "spark")
    uy = grid.unpack_y_sql("cell", "spark")
    return (
        pts.filter(F.expr(_ring_pred_sql(ux, uy)))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("sumw"))
    )


def _o_snapshot_multirange_scan() -> str:
    cell = grid.cell_sql("lon", "lat", REGION_RES, "duck")
    ux = grid.unpack_x_sql("cell", "duck")
    uy = grid.unpack_y_sql("cell", "duck")
    return f"""
WITH fs AS ({{spans}}),
cells AS (SELECT {cell} AS cell, w FROM fs)
SELECT cell, count(*) AS n, sum(w) AS sumw
FROM cells
WHERE {_ring_pred_sql(ux, uy)}
GROUP BY cell
""".replace("{spans}", synth.flat_spans_sql("duck"))


def q_snapshot_schema_evolution(spark, sf_dir):
    """Schema evolution across commits: the base commit writes
    (doc_id, lang, n_chars); the append commit ADDS a `quality` column.
    Reading the latest snapshot applies the COMMIT's schema to every data
    file — pre-evolution files surface quality as NULL (Iceberg
    add-column semantics: no rewrite, no default backfill) — so the
    per-lang aggregate sees exact non-null counts splitting at the commit
    boundary.  The schema pin is what makes this work: parquet inference
    over mixed files would fail or widen types nondeterministically."""
    import os
    import tempfile

    from ..sources.snapshot import SnapshotReader, list_snapshots, write_snapshot

    tdir = os.path.join(
        tempfile.gettempdir(), f"fcs_evo_snap_{_source_fingerprint_tag(sf_dir)}"
    )
    if not (os.path.isdir(tdir) and len(list_snapshots(tdir)) >= 2):
        docs = load_documents(spark, sf_dir)
        base = write_snapshot(
            docs.filter("doc_id % 3 != 0")
            .select("doc_id", "lang", "n_chars")
            .repartition(2, "doc_id"),
            tdir,
            snapshot_id="snap-v1",
        )
        write_snapshot(
            docs.filter("doc_id % 3 = 0")
            .selectExpr(
                "doc_id", "lang", "n_chars",
                "CAST(n_chars % 100 AS BIGINT) AS quality",
            )
            .repartition(2, "doc_id"),
            tdir,
            snapshot_id="snap-v2",
            base=base,
        )
    docs = SnapshotReader(tdir, "snap-v2").load(spark)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("quality").alias("n_with_quality"),
        F.sum(F.coalesce("quality", F.lit(0))).alias("quality_sum"),
        F.sum("n_chars").alias("chars_sum"),
    )


O_SNAPSHOT_SCHEMA_EVOLUTION = """
WITH evolved AS (
  SELECT doc_id, lang, n_chars,
         CASE WHEN doc_id % 3 = 0 THEN CAST(n_chars % 100 AS BIGINT) END AS quality
  FROM documents
)
SELECT lang, CAST(count(*) AS BIGINT) AS n,
       CAST(count(quality) AS BIGINT) AS n_with_quality,
       CAST(sum(coalesce(quality, 0)) AS BIGINT) AS quality_sum,
       CAST(sum(n_chars) AS BIGINT) AS chars_sum
FROM evolved GROUP BY 1
"""


BLOOM_PROBE_IDS = (17, 130, 384)


def q_snapshot_bloom_scan(spark, sf_dir):
    """Point-lookup data skipping via manifest blooms: the corpus snapshot
    is HASH-partitioned on doc_id (8 files), so every file's [min,max]
    spans the whole id domain and range bounds prune nothing — the setting
    where Iceberg/Parquet bloom indexes earn their keep.  A 3-id probe
    opens only the files whose doc_id bloom hits (~1 file per id at 0.2%
    fpp), then the exact residual filter runs; files-opened and
    absent-key-pruning are pinned in tests/test_snapshot.py."""
    import os
    import tempfile

    from ..sources.snapshot import SnapshotReader, list_snapshots, write_snapshot

    tdir = os.path.join(
        tempfile.gettempdir(), f"fcs_bloom_snap_{_source_fingerprint_tag(sf_dir)}"
    )
    if not (os.path.isdir(tdir) and list_snapshots(tdir)):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        write_snapshot(
            docs.repartition(8, "doc_id"),
            tdir,
            snapshot_id="snap-bloom",
            bloom_cols=["doc_id"],
        )
    reader = SnapshotReader(tdir)
    ids = list(BLOOM_PROBE_IDS)
    return (
        reader.load_bloom(spark, "doc_id", ids)
        .filter(F.col("doc_id").isin(ids))
        .select("doc_id", "lang", "source", "n_chars")
    )


def _o_snapshot_bloom_scan() -> str:
    ids = ", ".join(str(i) for i in BLOOM_PROBE_IDS)
    return f"""
SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id IN ({ids})
"""


def q_snapshot_incremental(spark, sf_dir):
    """Iceberg-style incremental scan: snapshot A holds 3/4 of the corpus,
    snapshot B is an APPEND commit of the remaining quarter (manifest =
    A's immutable files + the new ones).  The incremental read between A
    and B is a manifest diff — only the appended files are opened, so the
    cost is O(delta) regardless of table size — and this query tiles just
    that delta."""
    import os
    import tempfile

    from ..sources.snapshot import SnapshotReader, list_snapshots, write_snapshot

    tdir = os.path.join(
        tempfile.gettempdir(), f"fcs_incr_snap_{_source_fingerprint_tag(sf_dir)}"
    )
    if not (os.path.isdir(tdir) and len(list_snapshots(tdir)) >= 2):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        base = write_snapshot(
            docs.filter("doc_id % 4 < 3").repartition(2, "doc_id"),
            tdir,
            snapshot_id="snap-a",
        )
        write_snapshot(
            docs.filter("doc_id % 4 = 3").repartition(2, "doc_id"),
            tdir,
            snapshot_id="snap-b",
            base=base,
        )
    delta = SnapshotReader(tdir, "snap-b").load_incremental(spark, "snap-a")
    delta.createOrReplaceTempView("docs_incr")
    flat = spark.sql(synth.flat_spans_sql("spark", "docs_incr"))
    return (
        flat.withColumn("cell", F.expr(grid.cell_sql("lon", "lat", TILE_RES, "spark")))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("w_sumw"))
    )


def _o_snapshot_incremental() -> str:
    inner = synth.flat_spans_sql(
        "duck", "(SELECT * FROM documents WHERE doc_id % 4 = 3) docs_incr"
    )
    return f"""
SELECT {grid.cell_sql('lon', 'lat', TILE_RES, 'duck')} AS cell,
       count(*) AS n, sum(w) AS w_sumw
FROM ({inner})
GROUP BY 1
"""


O_SNAPSHOT_INCREMENTAL = _o_snapshot_incremental()


def _compact_table(spark, sf_dir):
    """Fragmented snapshot table for the compaction queries: snap-a holds
    3/4 of the corpus in ONE large file, snap-b appends the remaining
    quarter as EIGHT tiny files (a streaming-commit pattern), snap-c is
    the ``compact_snapshot`` REPLACE commit — the big file carried by
    reference, the eight small ones rewritten into one.  Built once per
    source fingerprint and reused across queries/runs."""
    import os
    import tempfile

    from ..sources.snapshot import (
        SnapshotReader,
        compact_snapshot,
        list_snapshots,
        write_snapshot,
    )

    tdir = os.path.join(
        tempfile.gettempdir(), f"fcs_cmpct_snap_{_source_fingerprint_tag(sf_dir)}"
    )
    if not (os.path.isdir(tdir) and len(list_snapshots(tdir)) >= 3):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        big = docs.filter("doc_id % 4 < 3")
        small = docs.filter("doc_id % 4 = 3")
        n_big = big.count()
        base = write_snapshot(
            big.repartition(1), tdir, snapshot_id="snap-a", bounds_cols=["doc_id"]
        )
        appended = write_snapshot(
            small.repartition(8), tdir, snapshot_id="snap-b", base=base,
            bounds_cols=["doc_id"],
        )
        compact_snapshot(
            spark,
            tdir,
            # every snap-b file (~n_big/24 rows) is "small"; the snap-a
            # file is not — selective compaction, not a full rewrite
            min_rows=n_big,
            target_rows=n_big,
            snapshot_id="snap-c",
            base_snapshot_id=appended.snapshot_id,
        )
    return tdir


def q_snapshot_compact(spark, sf_dir):
    """Small-file compaction end-to-end (Iceberg rewrite_data_files): read
    the table THROUGH the compacted snapshot and tile it.  Semantics =
    identity on rows (compaction is pure layout), so the oracle reads the
    raw documents; the layout claim itself — 9 files before, 2 after, the
    large file untouched by path — is pinned in tests/test_snapshot.py."""
    from ..sources.snapshot import SnapshotReader

    tdir = _compact_table(spark, sf_dir)
    docs = SnapshotReader(tdir, "snap-c").load(spark)
    docs.createOrReplaceTempView("docs_cmpct")
    flat = spark.sql(synth.flat_spans_sql("spark", "docs_cmpct"))
    return (
        flat.withColumn("cell", F.expr(grid.cell_sql("lon", "lat", TILE_RES, "spark")))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("w_sumw"))
    )


def _o_snapshot_compact() -> str:
    inner = synth.flat_spans_sql("duck")
    return f"""
SELECT {grid.cell_sql('lon', 'lat', TILE_RES, 'duck')} AS cell,
       count(*) AS n, sum(w) AS w_sumw
FROM ({inner})
GROUP BY 1
"""


def q_snapshot_time_travel(spark, sf_dir):
    """Time travel: read the table AS OF the pre-append snapshot (snap-a,
    3/4 of the corpus) even though snap-b and the snap-c compaction have
    since been committed — data files are immutable and manifests pin the
    member set, so an old snapshot id reproduces the exact old table."""
    from ..sources.snapshot import SnapshotReader

    tdir = _compact_table(spark, sf_dir)
    docs = SnapshotReader(tdir, "snap-a").load(spark)
    docs.createOrReplaceTempView("docs_tt")
    flat = spark.sql(synth.flat_spans_sql("spark", "docs_tt"))
    return (
        flat.withColumn("cell", F.expr(grid.cell_sql("lon", "lat", TILE_RES, "spark")))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("w_sumw"))
    )


def _o_snapshot_time_travel() -> str:
    inner = synth.flat_spans_sql(
        "duck", "(SELECT * FROM documents WHERE doc_id % 4 < 3) docs_tt"
    )
    return f"""
SELECT {grid.cell_sql('lon', 'lat', TILE_RES, 'duck')} AS cell,
       count(*) AS n, sum(w) AS w_sumw
FROM ({inner})
GROUP BY 1
"""


def _merge_table(spark, sf_dir):
    """Snapshot table for the MERGE query: snap-base holds 4/5 of the
    corpus range-partitioned on doc_id (8 files with tight doc_id
    bounds), snap-m is the copy-on-write MERGE commit — updates flip
    lang to 'xx' for doc_id % 10 = 1 (matched rows) and insert the
    held-out doc_id % 5 = 4 fifth (unmatched rows).  Built once per
    source fingerprint and reused."""
    import os
    import tempfile

    from ..sources.snapshot import list_snapshots, merge_snapshot, write_snapshot

    tdir = os.path.join(
        tempfile.gettempdir(), f"fcs_merge_snap_{_source_fingerprint_tag(sf_dir)}"
    )
    if not (os.path.isdir(tdir) and len(list_snapshots(tdir)) >= 2):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        base_df = docs.filter("doc_id % 5 <> 4").select(
            "doc_id", "lang", "source", "n_chars"
        )
        write_snapshot(
            base_df.repartitionByRange(8, "doc_id"),
            tdir,
            snapshot_id="snap-base",
            bounds_cols=["doc_id"],
        )
        ups = (
            docs.filter("doc_id % 10 = 1")
            .select("doc_id", F.lit("xx").alias("lang"), "source", "n_chars")
            .unionByName(
                docs.filter("doc_id % 5 = 4").select(
                    "doc_id", "lang", "source", "n_chars"
                )
            )
        )
        merge_snapshot(
            spark, tdir, ups, "doc_id",
            snapshot_id="snap-m", base_snapshot_id="snap-base",
        )
    return tdir


def q_snapshot_merge(spark, sf_dir):
    """MERGE INTO (copy-on-write upsert) end-to-end: read the table
    THROUGH the merge commit and profile it per lang.  Matched keys
    (doc_id % 10 = 1) must show the updated lang 'xx'; unmatched keys
    (doc_id % 5 = 4) must appear as inserts; everything else must be the
    untouched base row.  The file-level CoW claim — only files containing
    a matched key rewritten, the rest carried by reference, manifest
    bounds pruning files whose doc_id range cannot match — is pinned in
    tests/test_snapshot.py."""
    from ..sources.snapshot import SnapshotReader

    tdir = _merge_table(spark, sf_dir)
    docs = SnapshotReader(tdir, "snap-m").load(spark)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("id_sum"),
        F.sum("n_chars").alias("chars_sum"),
    )


O_SNAPSHOT_MERGE = """
WITH base AS (
  SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id % 5 <> 4
),
ups AS (
  SELECT doc_id, 'xx' AS lang, source, n_chars FROM documents WHERE doc_id % 10 = 1
  UNION ALL
  SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id % 5 = 4
),
merged AS (
  SELECT * FROM base WHERE doc_id NOT IN (SELECT doc_id FROM ups)
  UNION ALL
  SELECT * FROM ups
)
SELECT lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum, CAST(sum(n_chars) AS BIGINT) AS chars_sum
FROM merged GROUP BY 1
"""


def _mor_table(spark, sf_dir):
    """Snapshot table for the merge-on-read queries: base holds the full
    corpus range-partitioned on doc_id; snap-del is an equality-delete
    commit (doc_id % 7 = 3) that touches NO data file; snap-app appends
    rows AFTER the delete, re-inserting half the deleted keys with lang
    'yy' — the commit-sequence rule must keep them.  Built once per source
    fingerprint and reused."""
    import os
    import tempfile

    from ..sources.snapshot import delete_snapshot, list_snapshots, write_snapshot

    tdir = os.path.join(
        tempfile.gettempdir(), f"fcs_mor_snap_{_source_fingerprint_tag(sf_dir)}"
    )
    if not (os.path.isdir(tdir) and len(list_snapshots(tdir)) >= 3):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        base_df = docs.select("doc_id", "lang", "source", "n_chars")
        write_snapshot(
            base_df.repartitionByRange(8, "doc_id"),
            tdir,
            snapshot_id="snap-base",
            bounds_cols=["doc_id"],
        )
        delete_snapshot(
            spark, tdir, docs.filter("doc_id % 7 = 3").select("doc_id"),
            "doc_id", snapshot_id="snap-del", base_snapshot_id="snap-base",
        )
        reins = docs.filter("doc_id % 7 = 3 AND doc_id % 2 = 0").select(
            "doc_id", F.lit("yy").alias("lang"), "source", "n_chars"
        )
        write_snapshot(
            reins, tdir, snapshot_id="snap-app",
            bounds_cols=["doc_id"], base="snap-del",
        )
    return tdir


def q_snapshot_mor(spark, sf_dir):
    """Merge-on-read DELETE end-to-end: read THROUGH an equality-delete
    commit plus a later append that re-inserts half the deleted keys.
    Deleted keys (doc_id % 7 = 3) must be gone EXCEPT the re-inserted even
    ones (lang 'yy') — equality deletes apply only to data files with a
    smaller commit sequence number, so the post-delete append is immune.
    The delete commit wrote zero data files (pinned in
    tests/test_snapshot.py): at 10^12 rows this is the only affordable
    shape for small deletes; rewrite_deletes folds them in later."""
    from ..sources.snapshot import SnapshotReader

    tdir = _mor_table(spark, sf_dir)
    docs = SnapshotReader(tdir, "snap-app").load(spark)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("id_sum"),
        F.sum("n_chars").alias("chars_sum"),
    )


def q_snapshot_cdc(spark, sf_dir):
    """CDC / changelog read between two snapshots: the row-level diff of
    the MOR table before the delete commit vs after the re-inserting
    append — full-row multiset semantics (exceptAll both ways), so a key
    whose row changed surfaces as a delete+insert pair, the standard
    changelog shape downstream incremental consumers (sync, index
    maintenance, aggregate rollback) expect.  Scale shape: two hash
    anti-differences on row identity; at 10^12 rows a real reader would
    first narrow both sides to files the manifest diff says CHANGED —
    unchanged files are shared by reference and can never produce a diff
    row — making the compare O(churn), not O(table)."""
    from ..sources.snapshot import SnapshotReader

    tdir = _mor_table(spark, sf_dir)
    cols = ["doc_id", "lang", "n_chars"]
    before = SnapshotReader(tdir, "snap-base").load(spark).select(cols)
    after = SnapshotReader(tdir, "snap-app").load(spark).select(cols)
    deletes = before.exceptAll(after).withColumn("_change_type", F.lit("delete"))
    inserts = after.exceptAll(before).withColumn("_change_type", F.lit("insert"))
    return deletes.unionByName(inserts).select("_change_type", *cols)


O_SNAPSHOT_CDC = """
SELECT 'delete' AS _change_type, doc_id, lang, n_chars
FROM documents WHERE doc_id % 7 = 3
UNION ALL
SELECT 'insert' AS _change_type, doc_id, 'yy' AS lang, n_chars
FROM documents WHERE doc_id % 7 = 3 AND doc_id % 2 = 0
"""


def q_snapshot_mor_rewrite(spark, sf_dir):
    """rewrite_deletes (Iceberg major compaction): folding the delete
    files into the data must reproduce the merge-on-read result exactly —
    same oracle as snapshot_mor.  Only data files whose manifest bounds
    intersect the delete-key range are rewritten; the rest are carried by
    reference (pinned in tests/test_snapshot.py)."""
    import os
    import shutil
    import tempfile

    from ..sources.snapshot import SnapshotReader, list_snapshots, rewrite_deletes

    src = _mor_table(spark, sf_dir)
    tdir = os.path.join(
        tempfile.gettempdir(), f"fcs_mor_rw_{_source_fingerprint_tag(sf_dir)}"
    )
    if not (os.path.isdir(tdir) and "snap-rw" in list_snapshots(tdir)):
        if os.path.isdir(tdir):
            shutil.rmtree(tdir)
        shutil.copytree(src, tdir)
        rewrite_deletes(spark, tdir, snapshot_id="snap-rw",
                        base_snapshot_id="snap-app")
    docs = SnapshotReader(tdir, "snap-rw").load(spark)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("id_sum"),
        F.sum("n_chars").alias("chars_sum"),
    )


O_SNAPSHOT_MOR = """
WITH kept AS (
  SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id % 7 <> 3
),
reins AS (
  SELECT doc_id, 'yy' AS lang, source, n_chars FROM documents
  WHERE doc_id % 7 = 3 AND doc_id % 2 = 0
)
SELECT lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum, CAST(sum(n_chars) AS BIGINT) AS chars_sum
FROM (SELECT * FROM kept UNION ALL SELECT * FROM reins) GROUP BY 1
"""


def q_bucketed_join(spark, sf_dir):
    """Co-located join on the persistent bucketed layout: span points and
    per-cell tile stats are both written bucketed by the SAME cell key
    (64 buckets), so when neither side is broadcast-small the join plans
    as a SortMergeJoin with ZERO Exchange on either side — the
    recurring-join layout for 10^12-doc tables (write the shuffle once,
    reuse it every query; plan-asserted in tests/test_bucketed.py with
    broadcast disabled — at this test SF Catalyst rightly broadcasts the
    small side instead).  Output: histogram of cell density over spans
    (how many spans sit in cells of density n)."""
    from ..sources.bucketed import colocated_join, write_bucketed

    import os
    import shutil

    tag = _source_fingerprint_tag(sf_dir).replace(".", "_").replace("-", "_")
    t_spans, t_tiles = f"fcs_bkt_spans_{tag}", f"fcs_bkt_tiles_{tag}"
    if not (spark.catalog.tableExists(t_spans) and spark.catalog.tableExists(t_tiles)):
        # bucketing metadata lives in the (in-memory) catalog, not the
        # files: a warehouse dir left by a previous session is unusable as
        # a BUCKETED table, so clear it and rewrite
        warehouse = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        for t in (t_spans, t_tiles):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
        flat = flat_spans(spark, sf_dir).withColumn(
            "cell", F.expr(grid.cell_sql("lon", "lat", TILE_RES, "spark"))
        )
        write_bucketed(flat.select("doc_id", "span_idx", "cell"), t_spans)
        write_bucketed(
            flat.groupBy("cell").agg(F.count(F.lit(1)).alias("n")), t_tiles
        )
    joined = colocated_join(spark, t_spans, t_tiles, on="cell")
    return joined.groupBy("n").agg(F.count(F.lit(1)).alias("n_spans"))


O_BUCKETED_JOIN = f"""
WITH flat AS (
  SELECT *, {grid.cell_sql('lon', 'lat', TILE_RES, 'duck')} AS cell
  FROM ({O_SPANS_FLAT})
),
tiles AS (SELECT cell, count(*) AS n FROM flat GROUP BY 1)
SELECT t.n AS n, count(*) AS n_spans
FROM flat f JOIN tiles t USING (cell)
GROUP BY 1
"""


def q_checkpoint_resume(spark, sf_dir):
    """Flagship spatial-join + tile-agg executed as a checkpointed,
    RESUMABLE run over an Iceberg-style snapshot: 4 file-group work units,
    simulated interruption after 2, restart from the ledger, associative
    merge of per-unit partials.  Final table must equal the single-shot
    pipeline bit-for-bit (same oracle as pip_tile_agg)."""
    import os
    import tempfile

    from ..checkpoint import CheckpointedRun
    from ..sources.snapshot import SnapshotReader, list_snapshots, write_snapshot

    # cache key includes a fingerprint of the source parquet (path, size,
    # mtime) so a regenerated testdata set can never hit a stale snapshot
    import hashlib

    src = f"{sf_dir}/documents.parquet"
    parts = []
    for root, _, files in os.walk(src):
        for fn in sorted(files):
            st = os.stat(os.path.join(root, fn))
            parts.append(f"{fn}:{st.st_size}:{int(st.st_mtime)}")
    fp = hashlib.sha1("|".join(parts).encode()).hexdigest()[:12]
    tag = f"{os.path.basename(os.path.normpath(sf_dir))}_{fp}"
    snap_dir = os.path.join(tempfile.gettempdir(), f"fcs_ckpt_snap_{tag}")
    if not (os.path.isdir(snap_dir) and list_snapshots(snap_dir)):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        write_snapshot(
            docs.repartition(4, "doc_id"),
            snap_dir,
            snapshot_id="snap-ckpt",
            bounds_cols=["doc_id"],
        )
    reader = SnapshotReader(snap_dir)
    run_dir = tempfile.mkdtemp(prefix="fcs_ckpt_run_")
    job = flagship_unit_job(spark)
    run = CheckpointedRun.from_snapshot(run_dir, reader, job, files_per_unit=1)
    run.execute(spark, max_units=2)  # simulate a crash after two units
    resumed = CheckpointedRun.from_snapshot(run_dir, reader, job, files_per_unit=1)
    resumed.execute(spark)  # restart: ledger skips the finished units
    final, _metrics = resumed.finalize(spark)
    return final


# Reference demo-config LAYOUT verbatim (ref: docs/demo_process_cfg.yml):
# stage name -> dotted class path, per-stage config under the top-level
# stage-name key, string weights, reduce-in-selection, edges binning with
# out-rename — our interleaved table's columns standing in for the HEP
# branch names.  Same text as the CLI integration test, plus dataset_col so
# the mc/data union stays distinguishable in one result table.
DEMO_PIPELINE_CFG = """
input: spans_nested

stages:
    - span_cleaning: fast_carpenter.Define
    - event_selection: fast_carpenter.CutFlow
    - histogram: fast_carpenter.BinnedDataframe

span_cleaning:
    variables:
        - big_offsets: "offsets > 10"
        - n_big: {reduce: count_nonzero, formula: big_offsets}

event_selection:
    selection:
        All:
            - "n_spans > 1"
            - {reduce: -1, formula: "offsets > 10"}
            - Any:
                - "n_big >= 2"
                - "n_spans >= 3"
    weights: weight_nominal

histogram:
    binning:
        - {in: n_big}
        - {in: n_spans, out: nsp, bins: {edges: [0, 2, 4, 8]}}
    weights: weight_nominal
    dataset_col: dataset
"""


def q_demo_pipeline(spark, sf_dir):
    """The reference's demo processing config run end-to-end at driver
    grain through the ACTUAL CLI internals (Pipeline.from_config +
    load_dataset + specialize): one mc and one data dataset over the same
    documents, Define -> CutFlow (weights MC-only) -> BinnedDataframe,
    unioned on the dataset column — reference-UX parity with a hard
    correctness row (ref: docs/demo_process_cfg.yml;
    benchmarks/compare_carpenter_versions/run.sh:60-83 A/B spirit)."""
    import yaml

    from ..__main__ import load_dataset, specialize
    from ..plans.pipeline import Pipeline

    processing = yaml.safe_load(DEMO_PIPELINE_CFG)
    results = []
    for i, (name, etype) in enumerate((("mc_demo", "mc"), ("data_demo", "data"))):
        pipe = specialize(Pipeline.from_config(processing), etype == "mc")
        cfg = {"name": name, "files": [f"{sf_dir}/documents.parquet"]}
        results.append(pipe.apply(load_dataset(spark, cfg, "spans_nested", i)))
    out = results[0].unionByName(results[1])
    return out.select(
        "dataset", "n_big", "nsp", "n",
        F.col("weight_nominal_sumw").alias("sumw"),
        F.col("weight_nominal_sumw2").alias("sumw2"),
        "nsp_lo", "nsp_hi",
    )


def _o_demo_pipeline() -> str:
    """DuckDB twin of the demo pipeline, independently derived from the
    stage semantics (Define element mask + count_nonzero, All/Any/reduce -1
    destructive cutflow, left-closed edges binning with +-inf under/
    overflow, MC-only weights)."""
    from ..operators.binned import Dimension

    dim = Dimension.from_config(
        {"in": "n_spans", "out": "nsp", "bins": {"edges": [0, 2, 4, 8]}}
    )
    idx = dim.index_sql("duck")
    lo, hi = dim.lo_hi_sql("nsp", "duck")
    spans = synth.spans_table_sql("duck")
    return f"""
WITH st AS ({spans}),
base AS (
  SELECT doc_id,
         CAST(len(spans) AS INT) AS n_spans,
         [CAST(s.offset AS INT) for s in spans] AS offsets,
         CAST(1.0 + len(spans) / 16.0 AS DOUBLE) AS weight_nominal
  FROM st
),
defined AS (
  SELECT *, CAST(len(list_filter(offsets, o -> o > 10)) AS INT) AS n_big
  FROM base
),
selected AS (
  SELECT * FROM defined
  WHERE n_spans > 1
    AND COALESCE(list_extract(offsets, len(offsets)) > 10, FALSE)
    AND (n_big >= 2 OR n_spans >= 3)
),
binned AS (
  SELECT *, {idx} AS nsp FROM selected
),
both_ds AS (
  SELECT 'mc_demo' AS dataset, n_big, nsp, weight_nominal AS w FROM binned
  UNION ALL
  SELECT 'data_demo' AS dataset, n_big, nsp, CAST(1.0 AS DOUBLE) AS w FROM binned
)
SELECT dataset, n_big, nsp, count(*) AS n,
       sum(w) AS sumw, sum(w * w) AS sumw2,
       {lo} AS nsp_lo, {hi} AS nsp_hi
FROM both_ds GROUP BY dataset, n_big, nsp
"""




def q_snapshot_tag_read(spark, sf_dir):
    """Named refs on the snapshot log (Iceberg tags/branches): tag
    'stable' pins the pre-append snap-a forever (immutable — the audit
    anchor a training-data release needs), while branch 'main' moves to
    each new commit (here snap-c, the compaction).  Reading THROUGH the
    tag must reproduce exactly the snap-a table regardless of how many
    commits have landed since — resolution is one sidecar-JSON read, no
    data files touched.  Per-lang doc counts + char sums over the tagged
    snapshot; the branch read is asserted equal to the latest commit."""
    from ..sources.snapshot import SnapshotReader, list_refs, resolve_ref, set_ref

    tdir = _compact_table(spark, sf_dir)
    refs = list_refs(tdir)
    if "stable" not in refs:
        set_ref(tdir, "stable", "snap-a", kind="tag")
    if refs.get("main", {}).get("snapshot_id") != "snap-c":
        set_ref(tdir, "main", "snap-b", kind="branch")
        set_ref(tdir, "main", "snap-c", kind="branch")  # fast-forward
    assert resolve_ref(tdir, "stable") == "snap-a"
    docs = SnapshotReader(tdir, ref="stable").load(spark)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )


O_SNAPSHOT_TAG_READ = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
FROM documents WHERE doc_id % 4 < 3
GROUP BY lang
"""


def q_snapshot_wap(spark, sf_dir):
    """Write-Audit-Publish on snapshot branches (the Iceberg staging
    pattern a production ingest uses): the new quarter of the corpus is
    committed as snap-b with parent snap-a, but only the 'audit' branch
    points at it — 'main' still serves snap-a, so readers never see
    unvalidated data.  The audit gate here is the span-sequence integrity
    contract (north-rule invariant: every doc's spans reconstruct in
    offset order); once it passes, publishing is ONE metadata write
    (fast-forward of 'main'), no data movement.  Returns the per-lang
    profile of what 'main' serves after publish — which must equal the
    full corpus, and does so only if the branch flip actually happened."""
    from ..sources.snapshot import (
        SnapshotReader,
        list_refs,
        resolve_ref,
        set_ref,
    )

    tdir = _compact_table(spark, sf_dir)  # snap-a (3/4), snap-b (append)
    refs = list_refs(tdir)
    if "wap_main" not in refs:
        set_ref(tdir, "wap_main", "snap-a", kind="branch")
        set_ref(tdir, "wap_audit", "snap-b", kind="branch")
    # -- audit phase: validate the STAGED branch before anyone reads it
    if resolve_ref(tdir, "wap_main") != "snap-b":
        staged = SnapshotReader(tdir, ref="wap_audit").load(spark)
        staged.createOrReplaceTempView("docs_wap_audit")
        flat = spark.sql(synth.flat_spans_sql("spark", "docs_wap_audit"))
        bad = flat.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("span_offset").alias("n_off"),
            F.max("span_offset").alias("mx"),
        ).filter("n != n_off OR mx != (n - 1) * 16")
        if bad.limit(1).count() > 0:
            raise AssertionError("WAP audit failed: span sequence broken")
        # -- publish: one metadata write, main fast-forwards to the branch
        set_ref(tdir, "wap_main", "snap-b", kind="branch")
    docs = SnapshotReader(tdir, ref="wap_main").load(spark)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )


O_SNAPSHOT_WAP = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
FROM documents GROUP BY lang
"""
