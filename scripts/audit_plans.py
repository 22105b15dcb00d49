#!/usr/bin/env python
"""Physical-plan audit: capture `.explain("formatted")` for the headline
queries and check the plan properties that matter at 100 TB:

* column pruning reaches the parquet scan (ReadSchema is minimal),
* the polygon/cover side is broadcast (no shuffle of the point side),
* aggregation is partial-before-shuffle (HashAggregate below Exchange),
* the hot path is whole-stage codegen (no row-at-a-time Python),
* driver-built tables are local relations (no Python RDD scan).

Writes PLANS.md.  Re-run after any operator change.
"""

from __future__ import annotations

import io
import os
import re
import sys
from collections import Counter
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

from fast_carpenter_spark.queries import QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

AUDITED = [
    "pip_tile_agg",   # flagship: join + refine + agg
    "tile_agg",       # pure agg
    "cutflow",        # single-pass counters
    "knn",            # planar halo kernel: one (block, salt) exchange, one MapInArrow
    "tile_rollup",    # parent-cell re-aggregation
    "dedup_minhash_lsh",
    "radius_join",
    "zonal_stats",
    "pip_join_salted",  # skew-stress twin: salted shuffle join, no broadcast of points
    "ann_lsh_rerank",   # multi-probe equi join + exact rerank (no theta/nested-loop)
    "tile_pyramid",     # adaptive quadtree: ONE data-sized shuffle, ReusedExchange per level
    "events_sessionize",  # two window passes over ONE user_id shuffle
    "tile_quantiles",   # exact percentile agg, partial-before-shuffle
    "radius_join_geo",  # geodesic ring explode + ONE cell-keyed hash join
    "knn_geo",          # geodesic halo chord kernel at k=3, the plan of knn_geo_local
    "knn_geo_local",    # halo-exchange chord kernel: blocked SIMD, salted hot cells
    "sample_stratified",  # map-side scoring + one stratum-keyed window w/ group-limit
    "poly_overlap",     # band equi join + bbox prefilter + codegen refine (no BNLJ)
    "dedup_simhash_pairs",  # pigeonhole band self-join, hot-bucket cap, no cross product
    "decontaminate",    # shingle-keyed join; eval side broadcast-small at scale
    "cell_compact",     # fixed-level linear chain, one sibling window per level
    "trajectory_od",    # ONE user_id window shuffle; endpoint pivot rides the same key
    "tile_hotspot",     # ring explode + co-partitioned self-join + 1-row global attach
    "tile_moran",       # same skeleton; exact-BIGINT deviations
    "tile_lisa",        # per-cell LISA: co-partitioned lag join + 1-row attach
    "poly_metrics",     # map-side only: per-row ring folds, zero exchanges
    "sessions_overlap",  # bin-keyed equi join + refine, NOT a range theta/BNLJ
    "events_stjoin",    # temporal refine rides the broadcast cover join
    "trajectory_length",  # one user_id shuffle; sorted-array fold map-side
    "events_retention",  # one user_id window + day-pair aggregate
    "quality_adaptive",  # grouped exact median broadcast back, no 2nd corpus shuffle
    "star_revenue",     # fact⋈fact + broadcast dims (Q5 shape), decimal partial agg
    "lineitem_pricing",  # Q1: one scan, low-card groupBy, partial agg
    "pip_holes",        # outer cover join + broadcast hole anti-refine
    "segment_join",     # point-ring x segment-bbox-cover equi join, exact refine
    "geofence_transitions",  # PIP label join + one doc_id window pass
    "demo_pipeline",    # Define->CutFlow->Binned through the CLI internals
    "ann_ivf_recall_clustered",  # IVF probe equi join on clustered vectors
    "embed_clustered",  # map-side mixture synthesis, zero exchanges
    "ann_pq_topk",      # ADC LUT equi join on (m, code) — codes, not vectors
    "cms_topk",         # bounded-cardinality sketch groupBy + broadcast probe
    "dedup_editdist",   # blocked levenshtein equi self-join, no theta join
    "profile_cube",     # GROUPING SETS: one scan, one expanded shuffle
    "trajectory_stays",  # gaps-and-islands: one doc_id window pass
    "sample_weighted",  # map-side priority + WindowGroupLimit top-K
    "snapshot_compact",  # scan THROUGH the compacted manifest, then tile agg
    "quality_constraints",  # one scan for all checks; exact-uniqueness shuffle
    "text_redact",      # zero-shuffle map-side regex rewrite
    "trajectory_interp",  # per-segment tick explode, ONE user_id window shuffle
    "trajectory_simplify",  # one window pass, multiplication-only keep test
    "trajectory_bearing",   # one window pass + bounded (cell, sector) agg
    "tile_clip",        # column-DDA double explode, map-side after one window
    "tile_contour",     # bounded tile agg + 1-row mean attach + corner explode
    "cotravel",         # bin-keyed self-join (bounded keys), deterministic hot-bin cap
    "idw_interp",       # constant 24-way spread + grid-bounded agg + anti-join
    "skyline",          # bounded-group window + equi join back, no quadratic anti-join
    "tile_morph",       # two constant 9-way explodes, grid-bounded aggregates
    "hll_union",        # partial sketches -> register-max merge (mergeable state)
    "layout_compare",   # corpus histogram + 1024-row literal lookup, grid-bounded
    "theta_distinct",   # map-side theta filter BEFORE the distinct exchange
    "theta_jaccard",    # kept-set posting-list equi join on the hash, no cross
    "tile_agg_delta",   # delta-files-only agg + cell-keyed coalesce-sum merge
    "trajectory_hull",  # map-side local hulls, shuffle carries O(hull) candidates
    "trajectory_diameter",  # pair search on hull vertices only, not raw points
    "fingerprint_winnow",   # posexplode + ONE doc_id window (no per-window array recompute)
    "fingerprint_overlap",  # df-capped posting-list equi self-join on the fp
    "snapshot_multirange_scan",  # multi-interval manifest prune, then residual + agg
    "snapshot_bloom_scan",  # bloom-pruned point lookup (hash layout), residual filter
    "mean_center",      # one partial-agg'd user_id shuffle, BIGINT moment sums
    "cell_quadkey",     # bounded cell agg + map-side string codec
    "qdigest_quantiles",  # one bounded-cardinality histogram groupBy (sketch finalize)
    "tile_trend",       # bounded (cell,bin) agg + pinned densify cross + pair join
    "snapshot_schema_evolution",  # pinned-schema scan across commits, one agg
    "snapshot_cdc",     # two hash anti-differences on row identity
    "quality_repetition",  # zero-shuffle map-side gram array algebra
    "join_size_cms",    # two bounded grid aggs + 1024-row join, never a data join
    "tile_decay",       # one bounded (cell,bin)-derived agg, dyadic fixed point
    "text_search",      # map-side-filtered postings before the (doc,pos) equi join
    "tile_changepoint",  # bounded densify + one cell-keyed window pass
    "media_context",    # two window passes on ONE doc_id shuffle
    "shuffle_order",    # sort by computed key (range-partitioned total order)
    "funnel_latency",   # three per-user min-aggs on one key + 2-row rollup
    "geofence_dwell",   # runs window on the SAME doc_id shuffle as labelling
    "layer_corr",       # two bounded layer aggs + grid-sized outer join
    "langid_confusion",  # bounded |langs|^2 aggregate
    "token_budget",     # one aggregate + 1-row total attach
    "length_histogram",  # bounded (lang, bucket) aggregate
    "ann_pq_trained_recall_k32",  # trained-codebook ADC: bounded LUT equi join; exact baseline BNLJ pinned
    "ann_pq_trained_topk",  # MATERIALIZED codebook search: literal-matrix encode/LUT map-side, ~3 exchanges, no BNLJ
    "ann_ivfpq_trained_topk",  # MATERIALIZED residual-codebook search: coarse-assign/residual/encode/LUT map-side, bounded-key joins only
    "media_decode_payload",  # binary payload over ONE Arrow mapInPandas pass, no shuffle
    "snapshot_block_limit",  # manifest-pruned domain-prefix scan + residual filter
    "train_mix",        # bounded groupBy + 1-row cap attach + per-group window limit
    "knn_classify",     # IVF probe equi join + two bounded-key vote aggregations
    "tile_bimoran",     # co-partitioned cell join, exact-BIGINT cross deviations
    "snapshot_wap",     # branch-resolved scan (1 metadata read) + bounded agg
    # dedup_cluster / tile_regions / dbscan / tile_kcore are excluded: iterative
    # fixpoints (one plan per round, jobs run at build time); the per-round
    # join is the same edge-keyed hash-join shape audited via
    # dedup_minhash_lsh, and dbscan's candidate stage via radius_join.
]


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# `explain("formatted")` prints each node twice, as a tree line and as a
# numbered `(N) Node` detail entry: count the detail entries only
_DETAIL = re.compile(r"^\(\d+\) (\w+)", re.M)
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
                "FlatMapGroupsInArrow", "MapInPandas", "MapInArrow")


def summarize(name: str, text: str) -> list[str]:
    notes = []
    reads = sorted(set(re.findall(r"ReadSchema: (struct<[^\n]*)", text)))
    for r in reads:
        notes.append(f"scan reads `{r[:110]}`")
    nodes = Counter(_DETAIL.findall(text))
    n_bc = nodes["BroadcastHashJoin"]
    n_smj = nodes["SortMergeJoin"]
    n_ex = nodes["Exchange"] + nodes["BroadcastExchange"]
    n_wsc = len(set(re.findall(r"codegen id : (\d+)", text)))
    n_py = sum(nodes[n] for n in PYTHON_NODES)
    partial = "partial" in text.lower() or re.search(r"HashAggregate.*keys", text)
    notes.append(
        f"{n_bc} broadcast join(s), {n_smj} sort-merge join(s), "
        f"{n_ex} exchange(s), {n_wsc} whole-stage-codegen span(s), {n_py} Python/Arrow node(s)"
    )
    if partial and "Aggregate" in text:
        notes.append("partial aggregation before the exchange (map-side combine)")
    return notes


# Scale-killer guard: nested-loop / cartesian joins are forbidden on data
# relations.  Two allowed BroadcastNestedLoopJoin shapes, each with a
# mechanical invariant:
# * zonal_stats — the raster-grid SYNTHESIS cross of two constant
#   `sequence(0, 2^res-1)` generators (synth.py:raster_sql), size-bounded
#   by construction.  Invariant: the plan reads NO parquet at all, so a
#   data-sized relation cannot enter the cross without tripping the check.
# * tile_hotspot / tile_moran — the broadcast ATTACH of a 1-row global
#   aggregate tuple (keyless, so Spark plans BNLJ).  Invariant: every BNLJ
#   build side in these plans must be a keyless HashAggregate (grouping
#   cardinality 1 by construction); the expected BNLJ count is pinned so a
#   refactor cannot add an unvetted cross.
ALLOW_BNLJ_GRIDSYNTH = {"zonal_stats"}
# ann_ivf_recall_clustered carries ONE vetted BNLJ: the exact brute-force
# BASELINE the recall is measured against — a broadcast of the tiny
# sampled query set crossed with ONE corpus scan (linear in the corpus, by
# design the only place brute force is permitted; the measured path is the
# IVF equi join in the same plan).  The recall scorer itself is a pair
# equi join plus one keyless aggregate, no attach.  Counts pinned so a
# refactor cannot add an unvetted cross.
ALLOW_BNLJ_GLOBAL_ATTACH = {
    "tile_hotspot": 1, "tile_moran": 1, "tile_lisa": 1,
    "ann_ivf_recall_clustered": 1,
    "tile_contour": 1,  # the global-mean threshold attach (keyless 1-row agg)
    "join_size_cms": 1,  # est x exact: two keyless 1-row aggregates joined
    "tile_decay": 1,     # max-bin "now" attach (keyless 1-row agg)
    "token_budget": 1,   # corpus-total attach (keyless 1-row agg)
    # the vetted exact-L2 brute-force BASELINE (vec_id != vec_id theta join
    # over the ~2% sampled query side) that the recall is measured against;
    # the measured path is the (m, code) LUT equi join in the same plan
    "ann_pq_trained_recall_k32": 1,
    "train_mix": 1,      # the 1-row mixture-cap attach (keyless min aggregate)
    "tile_bimoran": 1,   # the 1-row (sx2, sy2) denominator attach
}
# Register-densify crosses: a DISTINCT aggregate of an enum-cardinality
# column crossed with a CONSTANT range generator (langs x 64 HLL register
# slots) — both sides bounded by construction, the same class as bin-edge
# densify.  Counts pinned so a refactor cannot add an unvetted cross.
ALLOW_BNLJ_DENSIFY = {
    "hll_union": 1,
    # tile_trend / tile_changepoint: DISTINCT cells × DISTINCT 5-day bins
    # (both post-aggregate, grid- and calendar-bounded) zero-densified
    # before the statistic — absence of events IS a low count
    "tile_trend": 1,
    "tile_changepoint": 1,
}


def check_scale_killers(name: str, text: str) -> None:
    if "CartesianProduct" in text:
        raise SystemExit(f"plan audit FAILED: CartesianProduct in `{name}`")
    # A Python RDD scan (``createDataFrame`` from a list) starts a Python
    # worker per task.  Only its detail entry names the RDD: a
    # localCheckpoint scan is also ``Scan ExistingRDD`` but runs no Python.
    if "at applySchemaToPythonRDD" in text:
        raise SystemExit(
            f"plan audit FAILED: a Python RDD scan in `{name}` (build driver-side "
            "tables with session.local_frame)"
        )
    n_bnlj = Counter(_DETAIL.findall(text))["BroadcastNestedLoopJoin"]
    if not n_bnlj:
        return
    if name in ALLOW_BNLJ_GRIDSYNTH:
        if "Scan parquet" in text:
            raise SystemExit(
                f"plan audit FAILED: `{name}` has a BroadcastNestedLoopJoin AND a "
                "parquet scan — a data relation may have entered the grid-synth cross"
            )
    elif name in ALLOW_BNLJ_GLOBAL_ATTACH:
        if n_bnlj != ALLOW_BNLJ_GLOBAL_ATTACH[name]:
            raise SystemExit(
                f"plan audit FAILED: `{name}` has {n_bnlj} BroadcastNestedLoopJoins, "
                f"expected {ALLOW_BNLJ_GLOBAL_ATTACH[name]} (1-row global attach only)"
            )
    elif name in ALLOW_BNLJ_DENSIFY:
        if n_bnlj != ALLOW_BNLJ_DENSIFY[name]:
            raise SystemExit(
                f"plan audit FAILED: `{name}` has {n_bnlj} BroadcastNestedLoopJoins, "
                f"expected {ALLOW_BNLJ_DENSIFY[name]} (register-densify cross only)"
            )
    else:
        raise SystemExit(f"plan audit FAILED: BroadcastNestedLoopJoin in `{name}`")


def main() -> None:
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "false")  # show codegen spans in the static plan
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `scripts/audit_plans.py` at {SF_DIR} (plan shape is",
        "size-independent).  Checks: minimal ReadSchema (column pruning to",
        "the scan), broadcast polygon side, partial-before-shuffle",
        "aggregation, whole-stage codegen on the hot path, Arrow-batched",
        "(never per-row) Python, driver-built tables as local relations (a",
        "Python RDD scan fails the audit).",
        "",
    ]
    for name in AUDITED:
        fn, _ = QUERIES[name]
        df = fn(spark, SF_DIR)
        text = plan_text(df)
        check_scale_killers(name, text)
        out.append(f"## {name}")
        out.append("")
        for n in summarize(name, text):
            out.append(f"- {n}")
        out.append("")
        out.append("```")
        # keep the plan readable: header tree only, drop the node details
        tree = text.split("\n\n")[0]
        out.append(tree.strip()[:4000])
        out.append("```")
        out.append("")

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
