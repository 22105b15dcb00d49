#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "docs_per_sec": ...}

Scale-up: documents are replicated SPARK_GRAFT_REPL times (default 24)
with distinct doc_ids, so the flagship pipeline processes ~N*repl docs —
the deterministic stand-in for larger SF inputs.  scripts/scaling.py runs
the flagship job (q1, ``flagship_tiles``) through this module's session,
replica and sink helpers at N and 4N cores to evidence N -> 4N scaling
efficiency (BASELINE.json north_rule).

Measurement protocol (hard-won correctness):
* every timed run constructs a FRESH DataFrame from its factory — re-running
  one DataFrame object lets Spark reuse the shuffle map outputs and skip the
  whole expensive map stage, silently timing only the final reduce;
* each query gets one untimed full warmup run first — Spark's generated code
  is per-plan-shape, and HotSpot runs it interpreted until C2 compiles
  (measured 3.5x CPU inflation on the first run);
* reported time = min over SPARK_GRAFT_RUNS fresh-plan runs (the host VM
  has noisy neighbours: observed 4-5x run-to-run swings; min-of-N with
  every query fully warmed is the stable estimator).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession, functions as F

from fast_carpenter_spark import grid, synth
from fast_carpenter_spark.operators.binned import BinnedDataframeStage
from fast_carpenter_spark.operators.selection import CutFlowStage
from fast_carpenter_spark.spatial.join import SpatialJoinStage
from fast_carpenter_spark.queries import (
    CUTFLOW_SELECTION,
    CUTFLOW_WEIGHTS,
    TILE_RES,
    flagship_tiles,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPL = int(os.environ.get("SPARK_GRAFT_REPL", "480"))


def build_session(master: str | None = None, extra_conf: dict | None = None) -> SparkSession:
    """The bench session on ``master`` (default local[CPUS]); ``CPUS`` also
    sets the shuffle partitions and default parallelism."""
    from fast_carpenter_spark.session import build_session as _build

    # Keep the resident footprint SMALL: this sandbox's host demand-pages the
    # guest, so every page the JVM/python workers touch beyond the hot set can
    # stall in a host-side fault (measured: G1's region-spread allocation at
    # 48g ran the kNN query 2-3x slower than a compact 16g ParallelGC heap,
    # with 35-74% guest sys time during the storms).  Same reasoning for the
    # malloc thresholds: keep numpy buffers on the reused brk heap instead of
    # mmap/munmap churn in the Arrow workers.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "536870912")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "536870912")
    return _build(
        master=master or f"local[{CPUS}]",
        app_name="fast_carpenter_spark_bench",
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.default.parallelism": str(CPUS),
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
            "spark.executorEnv.MALLOC_MMAP_THRESHOLD_": "536870912",
            "spark.executorEnv.MALLOC_TRIM_THRESHOLD_": "536870912",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            **(extra_conf or {}),
        },
    )


CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")


def replicated_documents(spark: SparkSession, repl: int | None = None):
    """documents x ``repl`` (default REPL) with distinct doc_ids
    (deterministic scale-up).

    Materialized once to a local parquet cache with a realistic partition
    layout (a 100 TB input arrives as many files); the timed queries read
    from that cache so the replication cross-join is not measured.
    """
    repl = REPL if repl is None else repl
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    if repl <= 1:
        return docs
    tag = f"{os.path.basename(os.path.normpath(SF_DIR))}_x{repl}"
    path = os.path.join(CACHE_DIR, f"documents_{tag}.parquet")
    if not os.path.exists(path):
        (
            docs.crossJoin(spark.range(repl).select(F.col("id").alias("_rep")))
            .withColumn("doc_id", F.col("doc_id") + F.col("_rep") * F.lit(10_000_019))
            .drop("_rep")
            .repartition(128, "doc_id")
            .write.mode("overwrite")
            .parquet(path)
        )
    return spark.read.parquet(path)


def materialized_spans(spark: SparkSession):
    """Span geometry at rest (doc_id, span_idx, lon, lat, w as parquet) —
    the storage-bound input path of a real table, vs the CPU-bound
    synthesized path the other queries exercise.  Built once per replica
    cache."""
    tag = f"{os.path.basename(os.path.normpath(SF_DIR))}_x{REPL}"
    path = os.path.join(CACHE_DIR, f"spans_{tag}.parquet")
    if not os.path.exists(path):
        replicated_documents(spark).createOrReplaceTempView("documents")
        (
            spark.sql(synth.flat_spans_sql("spark"))
            .select("doc_id", "span_idx", "lon", "lat", "w")
            .repartition(128, "doc_id")
            .write.mode("overwrite")
            .parquet(path)
        )
    return spark.read.parquet(path)


def sink(df) -> None:
    """Force full execution without driver materialization."""
    df.write.format("noop").mode("overwrite").save()


def make_factories(spark: SparkSession, n_docs: int):
    """name -> zero-arg factory building a FRESH DataFrame for one query.

    A factory call re-derives the whole lineage (scan -> spans -> ...), so
    no shuffle outputs or cached plan fragments can be reused across runs.
    """
    polys = synth.polygons()

    def fresh_spans():
        replicated_documents(spark).createOrReplaceTempView("documents")
        return spark.sql(synth.flat_spans_sql("spark"))

    def q1():
        # FLAGSHIP: cell encode -> spatial join (cover + PIP refine) -> tile agg
        return flagship_tiles(fresh_spans(), polys)

    def q2():
        # dense tile aggregation at res 8 over all spans
        return BinnedDataframeStage(
            name="t", binning=[{"in": "cell"}], weights={"w": "w"}
        ).apply(
            fresh_spans().withColumn(
                "cell", F.expr(grid.cell_sql("lon", "lat", TILE_RES, "spark"))
            )
        )

    def q3():
        # cutflow counters (single-pass aggregation over the whole table)
        return CutFlowStage(
            name="cf", selection=CUTFLOW_SELECTION, weights=CUTFLOW_WEIGHTS
        ).counters(fresh_spans())

    def q4():
        # kNN neighbor lists over doc representative points; density-adaptive
        # per-cell local search (hot-cell skew stays node-local)
        from fast_carpenter_spark.spatial.knn import auto_res, knn_local

        return knn_local(
            fresh_spans().filter("span_idx = 0").select("doc_id", "lon", "lat"),
            res=auto_res(n_docs), ring=1, k=3,
        )

    def q7():
        # geodesic bounded kNN over doc representative points (round-5,
        # VERDICT r4 item 5): tracks the geodesic machinery the planar q4
        # never exercises — latitude-dependent ring widths, antimeridian
        # wrap, pole-crossing disks — via the halo-exchange chord kernel
        # (knn_geo_local), the production scale path.  FULL table,
        # including the 1% point-mass (doc_id % 100 = 0 collapses ~24k
        # docs onto ONE position): the earlier ring-JOIN q7 had to
        # exclude it (a join-shaped radius kNN is quadratic in any
        # point-mass denser than the radius — 576M join rows, 85 s),
        # while the kernel's salted hot blocks evaluate it as SIMD chord
        # blocks with stable-argsort tie handling (~1 s of the total).
        # The kernel is the only geodesic kNN; the registry checks it
        # (knn_geo, knn_geo_local) against the brute-force DuckDB oracle.
        from fast_carpenter_spark.spatial.knn import knn_geo_local

        return knn_geo_local(
            fresh_spans().filter("span_idx = 0").select("doc_id", "lon", "lat"),
            radius_km=5.0, k=3, n_points=n_docs,
        )

    def q5():
        # salted-shuffle spatial join variant (hot-tile path)
        return (
            SpatialJoinStage(name="sj", polygons=polys, strategy="salted", nsalt=CPUS)
            .apply(fresh_spans())
            .groupBy("region")
            .count()
        )

    def q6():
        # flagship over spans AT REST (parquet scan instead of synthesis)
        return flagship_tiles(materialized_spans(spark), polys)

    return {
        "q1_pip_tile_agg": q1,
        "q6_pip_tile_agg_at_rest": q6,
        "q2_tile_agg": q2,
        "q3_cutflow": q3,
        "q4_knn": q4,
        "q7_knn_geo_local": q7,
        "q5_salted_join": q5,
    }


# Hot point: center of giant polygon 3 (synth.polygons, p % 23 == 3,
# radius 60 deg) — every span collapsed here lands in ONE cover cell.
HOT_LON, HOT_LAT = -58.932, 78.516


def skew_killtest(spark: SparkSession) -> dict:
    """Deliberately pathological hot tile: half of all spans collapse onto
    one point (one cover cell holds ~50% of the input).  Measures the
    salted join (nsalt=CPUS) against the unsalted shuffle-hash control —
    the at-scale regime where the cover side cannot be broadcast.  Run
    once outside the round-robin so the q1-q6 suite stays comparable
    round-over-round; reported as its own JSON object."""
    polys = synth.polygons()

    def skewed_spans():
        replicated_documents(spark).createOrReplaceTempView("documents")
        s = spark.sql(synth.flat_spans_sql("spark"))
        hot = F.pmod(F.xxhash64(F.col("doc_uid")), F.lit(2)) == 0
        return s.withColumn(
            "lon", F.when(hot, F.lit(HOT_LON)).otherwise(F.col("lon"))
        ).withColumn("lat", F.when(hot, F.lit(HOT_LAT)).otherwise(F.col("lat")))

    def run(strategy: str) -> float:
        best = float("inf")
        for _ in range(2):
            df = (
                SpatialJoinStage(
                    name="sj", polygons=polys, strategy=strategy, nsalt=CPUS
                )
                .apply(skewed_spans())
                .groupBy("region")
                .count()
            )
            t0 = time.time()
            sink(df)
            best = min(best, time.time() - t0)
        return best

    run("salted")  # warmup (JIT for the shared plan shapes)
    salted = run("salted")
    unsalted = run("shuffle_hash")
    return {
        "hot_fraction": 0.5,
        "salted_sec": round(salted, 3),
        "unsalted_sec": round(unsalted, 3),
        "speedup": round(unsalted / salted, 2),
    }


def main() -> None:
    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")

    docs = replicated_documents(spark)
    docs.createOrReplaceTempView("documents")
    n_docs = docs.count()

    factories = make_factories(spark, n_docs)
    timings: dict[str, float] = {}
    n_runs = int(os.environ.get("SPARK_GRAFT_RUNS", "3"))

    for name, make in factories.items():
        # untimed warmups until JIT-converged: C2 keeps recompiling the hot
        # generated methods for several runs (first run ~3.5-10x slower)
        prev = None
        for _ in range(4):
            t0 = time.time()
            sink(make())
            dt = time.time() - t0
            if prev is not None and dt < prev * 1.15:
                break
            prev = dt

    # Timed runs are interleaved ROUND-ROBIN across queries: this host's
    # noisy-neighbor contention arrives in multi-minute bursts (identical
    # work measured swinging 3.6s -> 50s), so timing one query's N runs
    # back-to-back lets a single burst poison that query's min.  Spreading
    # each query's samples across the whole suite gives every query a shot
    # at a quiet window; min-of-rounds is the stable estimator.
    # Rounds continue past n_runs while a wall-clock budget remains, so a
    # burst that swallows one whole round still leaves quiet samples.
    # Defaults raised round 4: the r3 driver invocation caught a noise burst
    # (q4_knn 4.11s vs the 2.3s same-code builder band) — more interleaved
    # rounds plus a published median make a burst visible instead of fatal.
    budget = float(os.environ.get("SPARK_GRAFT_BUDGET", "420"))
    max_rounds = int(os.environ.get("SPARK_GRAFT_MAX_ROUNDS", "24"))
    samples: dict[str, list[float]] = {name: [] for name in factories}
    phase0 = time.time()
    rounds = 0
    while rounds < n_runs or (time.time() - phase0 < budget and rounds < max_rounds):
        for name, make in factories.items():
            df = make()  # fresh lineage: no shuffle-output reuse
            t0 = time.time()
            sink(df)
            samples[name].append(time.time() - t0)
        rounds += 1
    medians: dict[str, float] = {}
    for name in factories:
        runs = sorted(samples[name])
        timings[name] = round(runs[0], 3)
        medians[name] = round(runs[len(runs) // 2], 3)

    skew = (
        skew_killtest(spark)
        if os.environ.get("SPARK_GRAFT_SKEW", "1") == "1"
        else None
    )

    total = round(sum(timings.values()), 3)
    # round-over-round comparability: q7 (geodesic kNN) joined the suite in
    # round 5, so the r1-r4 headline series continues under value_q1_q6
    legacy = round(sum(v for n, v in timings.items() if n != "q7_knn_geo_local"), 3)
    flagship_docs_per_sec = round(n_docs / timings["q1_pip_tile_agg"], 1)
    print(
        json.dumps(
            {
                "metric": "spatial-join+tile-binning headline suite wall time",
                "value": total,
                "value_q1_q6": legacy,
                "unit": "sec",
                "queries": timings,
                "queries_median": medians,
                # full per-query sample arrays (VERDICT r4 item 8): lets a
                # reader distinguish a noise burst from a regression without
                # re-running the suite
                "queries_samples": {
                    n: [round(s, 3) for s in samples[n]] for n in factories
                },
                "rounds": rounds,
                "skew_killtest": skew,
                "sf": SF_DIR,
                "cpus": CPUS,
                "repl": REPL,
                "n_docs": n_docs,
                "docs_per_sec": flagship_docs_per_sec,
            }
        )
    )


if __name__ == "__main__":
    main()
