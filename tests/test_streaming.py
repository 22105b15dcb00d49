"""Streaming tile aggregation: incremental micro-batch partials must equal
the batch aggregation exactly (the reference's associative-merge algebra,
ref: fast_carpenter/summary/binned_dataframe.py:225-238, applied to an
unbounded source)."""

import os

import pytest
from pyspark.sql import functions as F

from fast_carpenter_spark import grid, synth
from fast_carpenter_spark.streaming.tile_stream import StreamingTileAgg

from conftest import SF_DIR

RES = 6


def batch_expected(spark, docs_dir):
    spark.read.parquet(docs_dir).createOrReplaceTempView("batch_docs")
    spans = spark.sql(synth.flat_spans_sql("spark", docs="batch_docs"))
    return (
        spans.withColumn("cell", F.expr(grid.cell_sql("lon", "lat", RES, "spark")))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("w").alias("w_sumw"),
            F.sum(F.col("w") * F.col("w")).alias("w_sumw2"),
        )
    )


def rows_sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_equals_batch_and_is_incremental(spark, docs, tmp_path):
    input_dir = str(tmp_path / "in")
    # batch 1: first half of the documents
    docs.filter("doc_id % 2 = 0").repartition(2).write.mode("overwrite").parquet(
        input_dir
    )

    stage = StreamingTileAgg(
        name="ts",
        res=RES,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    with pytest.raises(ValueError, match="provide input_dir or stream"):
        stage.start(spark)
    q = stage.start(spark, input_dir, available_now=True)
    q.awaitTermination(120)
    got1 = rows_sorted(stage.result(spark))
    assert got1 == rows_sorted(batch_expected(spark, input_dir))

    # batch 2: append the other half; restart drains ONLY the new files
    # (exactly-once via the stream checkpoint), totals = full table
    docs.filter("doc_id % 2 = 1").repartition(2).write.mode("append").parquet(
        input_dir
    )
    q = stage.start(spark, input_dir, available_now=True)
    q.awaitTermination(120)
    got2 = rows_sorted(stage.result(spark))

    full = str(tmp_path / "full")
    docs.write.mode("overwrite").parquet(full)
    assert got2 == rows_sorted(batch_expected(spark, full))

    # incrementality evidence: second drain added delta dirs, not rewrites
    batches = sorted(os.listdir(stage.deltas_dir))
    assert len(batches) >= 2


def test_windowed_watermark_drops_late_rows(spark, docs, tmp_path):
    """Event-time windows + watermark: closed windows are emitted exactly
    once (append mode), and rows arriving behind the watermark are dropped
    — verified across two drains with checkpointed watermark state."""
    from pyspark.sql import functions as F

    from fast_carpenter_spark.streaming.tile_stream import WindowedTileStream

    input_dir = str(tmp_path / "in")
    stage = WindowedTileStream(
        name="ws",
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    # event_time = t0 + (doc_id % 90) minutes
    on_time = docs.filter("doc_id % 90 < 60")      # events in [0, 60) min
    late = docs.filter("doc_id % 90 = 20").limit(1)  # lands in closed [20,25)
    ahead = docs.filter("doc_id % 90 >= 80")       # events in [80, 90) min

    on_time.write.mode("overwrite").parquet(input_dir)
    q = stage.start(spark, input_dir)
    q.awaitTermination(120)
    run1 = stage.result(spark)
    # watermark after drain 1 = 59 - 10 = 49 min -> windows ending <= 45 closed
    assert run1.agg(F.max("win_end")).first()[0].minute <= 45
    n_run1 = run1.count()
    assert n_run1 > 0

    # drain 2: a LATE row (behind the watermark -> dropped) + fresh rows
    # that push the watermark to 79 min
    late.union(ahead).write.mode("append").parquet(input_dir)
    q = stage.start(spark, input_dir)
    q.awaitTermination(120)
    final = stage.result(spark)

    # each (window, cell) emitted exactly once across both drains
    assert final.groupBy("win_start", "cell").count().filter("count > 1").count() == 0

    # expected: batch aggregate over on-time docs only, for windows that
    # have closed (end <= 79 min); the late row contributes nothing
    closed = final.filter(F.expr(
        "win_end <= timestamp'2026-01-01 00:00:00' + make_dt_interval(0, 0, 79, 0)"
    ))
    spark.createDataFrame(on_time.collect(), on_time.schema) \
        .createOrReplaceTempView("wexp_docs")
    from fast_carpenter_spark import grid, synth

    exp = (
        spark.sql(synth.flat_spans_sql("spark", docs="wexp_docs"))
        .withColumn("event_time", F.expr(WindowedTileStream.EVENT_TIME_SQL))
        .withColumn("cell", F.expr(grid.cell_sql("lon", "lat", 4, "spark")))
        .groupBy(F.window("event_time", "5 minutes").alias("win"), "cell")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("w_sumw"))
        .select(
            F.col("win.start").alias("win_start"), F.col("win.end").alias("win_end"),
            "cell", "n", "w_sumw",
        )
        .filter(F.expr(
            "win_end <= timestamp'2026-01-01 00:00:00' + make_dt_interval(0, 0, 79, 0)"
        ))
    )
    got = sorted(tuple(r) for r in closed.collect())
    want = sorted(tuple(r) for r in exp.collect())
    assert got == want


def test_stateful_counters_survive_restart(spark, docs, tmp_path):
    """applyInPandasWithState: running per-cell counters persist in the
    state store across drains; after the second drain the latest emitted
    totals equal the batch aggregate over ALL input."""
    from pyspark.sql import functions as F

    from fast_carpenter_spark import grid, synth
    from fast_carpenter_spark.streaming.tile_stream import stateful_cell_counters

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    docs.filter("doc_id % 2 = 0").write.mode("overwrite").parquet(input_dir)
    q = stateful_cell_counters(spark, input_dir, out_dir=out_dir, checkpoint_dir=ckpt)
    q.awaitTermination(120)

    docs.filter("doc_id % 2 = 1").write.mode("append").parquet(input_dir)
    q = stateful_cell_counters(spark, input_dir, out_dir=out_dir, checkpoint_dir=ckpt)
    q.awaitTermination(120)

    updates = spark.read.option("recursiveFileLookup", "true").option(
        "basePath", out_dir
    ).parquet(out_dir)
    # latest update per cell = running total after all batches
    latest = updates.withColumn(
        "_rk",
        F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window
            .partitionBy("cell").orderBy(F.col("_batch").desc())
        ),
    ).filter("_rk = 1").select("cell", "n", "w_sumw")

    docs.createOrReplaceTempView("sexp_docs")
    exp = (
        spark.sql(synth.flat_spans_sql("spark", docs="sexp_docs"))
        .withColumn("cell", F.expr(grid.cell_sql("lon", "lat", 4, "spark")))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("w_sumw"))
    )
    got = sorted(tuple(r) for r in latest.collect())
    want = sorted(tuple(r) for r in exp.collect())
    assert got == want


def test_streaming_dedup_equals_batch(spark, docs, tmp_path):
    """Streaming exact dedup: drained delta-partials merge must equal the
    batch dedup table exactly, including duplicate groups that SPAN
    micro-batches (min-of-mins / sum-of-counts associativity)."""
    from fast_carpenter_spark.functions.dedup import exact_dedup
    from fast_carpenter_spark.streaming.dedup_stream import StreamingExactDedup

    input_dir = str(tmp_path / "in")
    # duplicate groups crossing the batch boundary: the second drain appends
    # re-ingested copies of the same texts under new doc_ids (the synthetic
    # corpus itself is duplicate-free), so every group spans both batches
    docs.repartition(2).write.mode("overwrite").parquet(input_dir)
    stage = StreamingExactDedup(
        name="sd", out_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ckpt")
    )
    q = stage.start(spark, input_dir, available_now=True)
    q.awaitTermination(120)

    docs.withColumn("doc_id", F.col("doc_id") + 1_000_000).repartition(2).write.mode(
        "append"
    ).parquet(input_dir)
    q = stage.start(spark, input_dir, available_now=True)
    q.awaitTermination(120)

    got = rows_sorted(stage.result(spark))
    expected = rows_sorted(exact_dedup(spark.read.parquet(input_dir)))
    assert got == expected
    # groups genuinely span batches: at least one fingerprint appears in
    # more than one delta batch
    deltas = spark.read.option("recursiveFileLookup", "true").parquet(stage.deltas_dir)
    spanning = (
        deltas.groupBy("fingerprint").agg(F.countDistinct("_batch").alias("nb"))
        .filter("nb > 1").count()
    )
    assert spanning > 0


def test_streaming_sessionize_fuses_cross_slice_fragments(spark, tmp_path):
    """Sessions engineered to straddle slice boundaries: the read-time
    temporal-adjacency merge must fuse fragments across micro-batches and
    match the batch sessionizer exactly, regardless of slice order."""
    import pandas as pd

    from fast_carpenter_spark.streaming.session_stream import (
        StreamingSessionize,
        merge_fragments,
        session_fragments,
    )

    # 3 users x 40 events at 10-min spacing (well under the 30-min gap):
    # ONE long session per user, plus a second session after a 2h silence.
    rows = []
    eid = 0
    for u in range(3):
        t0 = pd.Timestamp("2024-01-01 00:00:00") + pd.Timedelta(minutes=u)
        for i in range(40):
            rows.append((eid, t0 + pd.Timedelta(minutes=10 * i), u, "c", 0.5))
            eid += 1
        t1 = t0 + pd.Timedelta(minutes=10 * 39) + pd.Timedelta(hours=2)
        for i in range(5):
            rows.append((eid, t1 + pd.Timedelta(minutes=5 * i), u, "c", 0.25))
            eid += 1
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value"])
    ev = spark.createDataFrame(pdf)

    input_dir = str(tmp_path / "in")
    # 4 contiguous time slices -> every long session spans several slices
    ev.repartitionByRange(4, "ts", "event_id").write.mode("overwrite").parquet(input_dir)
    stage = StreamingSessionize(
        name="ss", out_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ckpt")
    )
    stage.start(spark, input_dir, available_now=True).awaitTermination(120)

    got = rows_sorted(stage.result(spark))
    expected = rows_sorted(merge_fragments(session_fragments(ev)))
    assert got == expected
    # exactly 2 sessions per user; fragments strictly outnumber sessions
    assert len(got) == 6
    frags = spark.read.option("recursiveFileLookup", "true").parquet(stage.deltas_dir)
    assert frags.count() > 6


def test_geofence_seam_merge_order_independent(spark):
    """boundary_transitions must reconstruct seam transitions from
    fragments regardless of fragment insertion order, and emit nothing
    for label-stable seams or single-slice docs."""
    from fast_carpenter_spark.spatial.geofence import boundary_transitions

    frags = [
        # doc 1: three slices, label changes at both seams
        (1, 0, "a", 4, "a"),
        (1, 5, "b", 9, "b"),
        (1, 10, "b", 14, "c"),
        # doc 2: stable label across the seam -> no transition
        (2, 0, "a", 4, "b"),
        (2, 5, "b", 9, "b"),
        # doc 3: single slice -> no seam at all
        (3, 0, "z", 9, "z"),
    ]
    import random

    rng = random.Random(7)
    for _ in range(3):
        rng.shuffle(frags)
        df = spark.createDataFrame(
            frags,
            "doc_id bigint, first_idx bigint, first_lbl string, "
            "last_idx bigint, last_lbl string",
        )
        got = sorted(
            (r["doc_id"], r["span_idx"], r["from_poly"], r["to_poly"])
            for r in boundary_transitions(df).collect()
        )
        # doc 1's second seam is label-stable ("b" -> "b"): the c-change
        # happens INSIDE slice 3, which is the within-batch pass's job
        assert got == [(1, 5, "a", "b")], got


def test_geofence_stream_restart_with_backfill(spark, tmp_path):
    """Process 2 trajectory slices, stop, land 2 more files (including an
    EARLIER slice — out-of-order backfill), resume on the same checkpoint:
    only new files are processed and the merged result equals the batch
    operator exactly."""
    import shutil

    from fast_carpenter_spark.queries import flat_spans, q_geofence_transitions
    from fast_carpenter_spark.streaming.geofence_stream import StreamingGeofence

    df = flat_spans(spark, SF_DIR)
    staging = str(tmp_path / "staging")
    df.repartitionByRange(4, "span_idx", "doc_id").write.parquet(staging)
    parts = sorted(
        f for f in os.listdir(staging) if f.endswith(".parquet")
    )
    assert len(parts) == 4
    input_dir = str(tmp_path / "input")
    os.makedirs(input_dir)
    # first run sees the MIDDLE slices only
    for f in parts[1:3]:
        shutil.copy(os.path.join(staging, f), os.path.join(input_dir, f))
    stage = StreamingGeofence(
        name="gfr",
        polygons=synth.polygons(),
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q = stage.start(spark, input_dir)
    q.awaitTermination(300)
    n_batches_first = len(os.listdir(stage.frags_dir))
    assert n_batches_first == 2

    # backfill the FIRST slice and append the last, resume same checkpoint
    for f in [parts[0], parts[3]]:
        shutil.copy(os.path.join(staging, f), os.path.join(input_dir, f))
    q = stage.start(spark, input_dir)
    q.awaitTermination(300)
    # exactly-once: the two original files were not reprocessed
    assert len(os.listdir(stage.frags_dir)) == n_batches_first + 2

    got = rows_sorted(stage.result(spark))
    want = rows_sorted(q_geofence_transitions(spark, SF_DIR))
    assert got == want


def test_streaming_enrich_sees_dim_as_of_each_batch(spark, docs, tmp_path):
    """Slowly-changing dimension: batches drained before the dim update
    carry v1 attributes, batches after carry v2 — pinned per-batch re-read
    semantics (a raw stream-static join leaves the version undefined)."""
    from fast_carpenter_spark.streaming.enrich_stream import StreamingEnrich

    input_dir = str(tmp_path / "in")
    dim_path = str(tmp_path / "dim")

    def write_dim(version):
        spark.createDataFrame(
            [(lang, f"{lang}_{version}") for lang in ["en", "de", "fr", "es", "zh"]],
            "lang string, lang_label string",
        ).write.mode("overwrite").parquet(dim_path)

    write_dim("v1")
    docs.filter("doc_id % 2 = 0").select("doc_id", "lang").write.parquet(input_dir)
    stage = StreamingEnrich(
        name="en1", dim_path=dim_path, on="lang",
        out_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q = stage.start(spark, input_dir)
    q.awaitTermination(300)
    first = stage.result(spark)
    n1 = first.count()
    assert n1 > 0
    assert first.filter(~F.col("lang_label").endswith("_v1")).count() == 0

    # dim update + second drain with appended input: only new batches v2
    write_dim("v2")
    docs.filter("doc_id % 2 = 1").select("doc_id", "lang").write.mode(
        "append"
    ).parquet(input_dir)
    q = stage.start(spark, input_dir)
    q.awaitTermination(300)
    final = stage.result(spark)
    v1 = final.filter(F.col("lang_label").endswith("_v1"))
    v2 = final.filter(F.col("lang_label").endswith("_v2"))
    # exactly-once: batch-1 rows untouched (still v1), new rows v2
    assert v1.count() == n1
    assert v2.count() == final.count() - n1 > 0
    # version boundary aligns with the batch boundary
    max_v1_batch = v1.agg(F.max("_batch")).first()[0]
    min_v2_batch = v2.agg(F.min("_batch")).first()[0]
    assert max_v1_batch < min_v2_batch


def test_stream_stream_join_state_survives_restart(spark, tmp_path):
    """Views arriving in tranche 1 must join clicks arriving in tranche 2
    THROUGH the persisted stream-stream join state: two availableNow
    drains over the same checkpoint, input split mid-stream, final result
    == the batch interval join exactly."""
    import duckdb

    from fast_carpenter_spark.streaming.join_stream import (
        StreamingIntervalJoin,
        interval_join_oracle_sql,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    indir = str(tmp_path / "in")
    # tranche 1: first half of event time; tranche 2: the rest — pairs
    # straddling the cut can only match via buffered state
    cut = ev.selectExpr("percentile(CAST(timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) AS BIGINT), 0.5) AS c").collect()[0]["c"]
    t1 = ev.filter(f"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) <= {int(cut)}")
    t2 = ev.filter(f"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) > {int(cut)}")
    stage = StreamingIntervalJoin(
        name="ssj_t",
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    t1.coalesce(1).write.mode("overwrite").parquet(indir)
    stage.start(spark, indir, available_now=True).awaitTermination(300)
    t2.coalesce(1).write.mode("append").parquet(indir)
    stage.start(spark, indir, available_now=True).awaitTermination(300)

    got = {
        (r["user_id"], r["view_id"], r["click_id"], r["gap_us"])
        for r in stage.result(spark).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "'/root/testdata/sf0.001/events.parquet'"
    )
    want = {tuple(r) for r in con.execute(interval_join_oracle_sql()).fetchall()}
    assert got == want and len(want) > 0


def test_streaming_hll_merges_across_batches(spark, docs, tmp_path):
    """Registers built from two disjoint half-corpus drains, max-merged at
    read time, must reproduce the whole-corpus batch sketch bit-for-bit
    (HLL mergeability), and per-batch state must stay bounded."""
    from fast_carpenter_spark.functions.sketch import HLL_M, hll_distinct
    from fast_carpenter_spark.streaming.sketch_stream import StreamingHll

    input_dir = str(tmp_path / "in")
    docs.filter("doc_id % 2 = 0").write.mode("overwrite").parquet(input_dir)
    stage = StreamingHll(
        name="sh", out_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ckpt")
    )
    q = stage.start(spark, input_dir, available_now=True)
    q.awaitTermination(120)
    docs.filter("doc_id % 2 = 1").write.mode("append").parquet(input_dir)
    q = stage.start(spark, input_dir, available_now=True)
    q.awaitTermination(120)

    got = rows_sorted(stage.result(spark))
    expected = rows_sorted(hll_distinct(docs).drop("exact"))
    assert got == expected
    deltas = spark.read.option("recursiveFileLookup", "true").parquet(stage.deltas_dir)
    n_langs = docs.select("lang").distinct().count()
    per_batch = deltas.groupBy("_batch").count().collect()
    assert len(per_batch) >= 2  # genuinely multiple micro-batches
    assert all(r["count"] <= n_langs * HLL_M for r in per_batch)  # bounded state


def test_streaming_theta_union_across_batches(spark, docs, tmp_path):
    """Kept sets built from two disjoint half-corpus drains, set-union
    merged at read time, must reproduce the whole-corpus batch theta sketch
    EXACTLY (union of kept sets is the corpus kept set); a replayed delta
    must not perturb the result (idempotent merge); and each batch's kept
    set must be a small theta-fraction of its distinct-hash stream."""
    from fast_carpenter_spark.functions.sketch import theta_distinct, theta_registers
    from fast_carpenter_spark.streaming.sketch_stream import StreamingTheta

    input_dir = str(tmp_path / "in")
    docs.filter("doc_id % 2 = 0").write.mode("overwrite").parquet(input_dir)
    stage = StreamingTheta(
        name="st", out_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ckpt")
    )
    stage.start(spark, input_dir, available_now=True).awaitTermination(120)
    docs.filter("doc_id % 2 = 1").write.mode("append").parquet(input_dir)
    stage.start(spark, input_dir, available_now=True).awaitTermination(120)

    got = rows_sorted(stage.result(spark))
    expected = rows_sorted(theta_distinct(docs).drop("exact"))
    assert got == expected

    # merged kept set == batch kept set bit-for-bit
    assert rows_sorted(stage.registers(spark)) == rows_sorted(theta_registers(docs))

    # replay idempotency BY ALGEBRA: duplicating every delta row changes
    # nothing (union-distinct), unlike sum-based partials
    deltas = spark.read.option("recursiveFileLookup", "true").parquet(stage.deltas_dir)
    replayed = (
        deltas.unionByName(deltas)
        .filter("h IS NOT NULL")  # sentinels are universe metadata, not state
        .select("lang", "h")
        .distinct()
    )
    assert rows_sorted(replayed) == rows_sorted(stage.registers(spark))

    # per-batch state is a theta-fraction sample, and there were >= 2 batches
    per_batch = deltas.groupBy("_batch").count().collect()
    assert len(per_batch) >= 2
    whole = theta_registers(docs).count()
    assert all(r["count"] <= whole for r in per_batch)


def test_streaming_theta_zero_kept_language_surfaces(spark, tmp_path):
    """A language every one of whose bigram hashes falls OUTSIDE theta must
    still appear in result() as (lang, 0, 0) — the streamed universe is the
    bigram-bearing language set, exactly like the batch oracle's LEFT JOIN
    (a language is not erased just because the sampler kept nothing)."""
    from fast_carpenter_spark.functions.sketch import theta_distinct, theta_registers
    from fast_carpenter_spark.streaming.sketch_stream import StreamingTheta

    # brute-force a two-word text whose single bigram hash FAILS theta
    # (P(fail) = 15/16 per candidate, so the first few always suffice)
    cands = spark.createDataFrame(
        [(f"c{i}", f"alpha beta{i}") for i in range(64)], "lang string, text string"
    )
    kept_langs = {r["lang"] for r in theta_registers(cands).select("lang").collect()}
    failing = next(f"c{i}" for i in range(64) if f"c{i}" not in kept_langs)
    fail_text = f"alpha beta{failing[1:]}"

    mini = spark.createDataFrame(
        [("aa", " ".join(f"w{j}" for j in range(60))), ("zz", fail_text)],
        "lang string, text string",
    )
    input_dir = str(tmp_path / "in")
    mini.write.mode("overwrite").parquet(input_dir)
    stage = StreamingTheta(
        name="stz", out_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ck")
    )
    assert stage.start(spark, input_dir, available_now=True).awaitTermination(120)

    got = rows_sorted(stage.result(spark))
    assert ("zz", 0, 0) in got
    assert got == rows_sorted(theta_distinct(mini).drop("exact"))


def test_streaming_cms_sum_merge_across_batches(spark, docs, tmp_path):
    """Grid partials from two disjoint half-corpus drains, sum-merged at
    read time, must equal the single-pass cms_sketch exactly (associative
    addition); per-batch state stays under the d*w bound; and — the
    documented contrast with the idempotent sketches — a duplicated delta
    DOES change the result, which is why CMS rides the exactly-once sink."""
    from fast_carpenter_spark.functions.sketch import D_ROWS, W_COLS, cms_sketch
    from fast_carpenter_spark.streaming.sketch_stream import StreamingCms

    input_dir = str(tmp_path / "in")
    docs.filter("doc_id % 2 = 0").write.mode("overwrite").parquet(input_dir)
    stage = StreamingCms(
        name="sc", out_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ckpt")
    )
    stage.start(spark, input_dir, available_now=True).awaitTermination(120)
    docs.filter("doc_id % 2 = 1").write.mode("append").parquet(input_dir)
    stage.start(spark, input_dir, available_now=True).awaitTermination(120)

    got = rows_sorted(stage.result(spark))
    expected = rows_sorted(cms_sketch(docs))
    assert got == expected and len(got) > 0

    deltas = spark.read.option("recursiveFileLookup", "true").parquet(stage.deltas_dir)
    per_batch = deltas.groupBy("_batch").count().collect()
    assert len(per_batch) >= 2
    assert all(r["count"] <= D_ROWS * W_COLS for r in per_batch)

    # non-idempotence, demonstrated: replaying one delta inflates counts
    from pyspark.sql import functions as F

    one = deltas.filter("_batch = 0")
    doubled = (
        deltas.unionByName(one)
        .groupBy("row", "cell")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert rows_sorted(doubled) != got


def test_streaming_qdigest_identity_across_batches(spark, docs, tmp_path):
    """Histogram deltas from two disjoint half-corpus drains, sum-merged
    and compressed once at read time, must reproduce the single-pass batch
    digest answers EXACTLY (histogram summing commutes; compression runs
    once); per-batch state stays under the domain bound."""
    from fast_carpenter_spark.functions.qdigest import QD_U
    from fast_carpenter_spark.queries import q_qdigest_quantiles
    from fast_carpenter_spark.streaming.sketch_stream import StreamingQdigest

    input_dir = str(tmp_path / "in")
    docs.filter("doc_id % 2 = 0").write.mode("overwrite").parquet(input_dir)
    stage = StreamingQdigest(
        name="sq", out_dir=str(tmp_path / "out"), checkpoint_dir=str(tmp_path / "ckpt")
    )
    stage.start(spark, input_dir, available_now=True).awaitTermination(120)
    docs.filter("doc_id % 2 = 1").write.mode("append").parquet(input_dir)
    stage.start(spark, input_dir, available_now=True).awaitTermination(120)

    got = rows_sorted(stage.result(spark))
    expected = rows_sorted(q_qdigest_quantiles(spark, "/root/testdata/sf0.001"))
    assert got == expected and len(got) == 4

    deltas = spark.read.option("recursiveFileLookup", "true").parquet(stage.deltas_dir)
    per_batch = deltas.groupBy("_batch").count().collect()
    assert len(per_batch) >= 2
    assert all(r["count"] <= QD_U for r in per_batch)
