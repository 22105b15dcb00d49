"""Iceberg-style snapshot source: time travel across snapshot ids and
manifest-bounds file pruning (the engine's partition-pruning hook — ref
analogue: fast_carpenter/expressions.py:25-41 branch pruning)."""

from fast_carpenter_spark.sources.snapshot import (
    SnapshotReader,
    get_data_import_plugin,
    list_snapshots,
    write_snapshot,
)


def test_time_travel_and_pruning(spark, docs, tmp_path):
    table = str(tmp_path / "tbl")
    # snapshot 1: even docs; snapshot 2: all docs (an "append" commit)
    write_snapshot(
        docs.filter("doc_id % 2 = 0").repartition(2, "doc_id"),
        table, snapshot_id="snap-001", bounds_cols=["doc_id"],
    )
    write_snapshot(
        docs.repartition(4, "doc_id"),
        table, snapshot_id="snap-002", bounds_cols=["doc_id"],
    )
    assert list_snapshots(table) == ["snap-001", "snap-002"]

    # default = latest snapshot; explicit id = time travel
    latest = SnapshotReader(table)
    old = SnapshotReader(table, snapshot_id="snap-001")
    assert latest.load(spark).count() == docs.count()
    assert old.load(spark).count() == docs.filter("doc_id % 2 = 0").count()

    # manifest-bounds pruning: a range that no file's [min, max] intersects
    lo = docs.agg({"doc_id": "max"}).first()[0] + 10
    assert latest.prune("doc_id", lo, lo + 5) == []
    # a full-range predicate keeps every file
    assert len(latest.prune("doc_id", 0, lo)) == len(latest.snapshot.files)
    # pruned load returns exactly the rows in range (correctness of the
    # superset property: file-level pruning + row-level filter)
    mid = docs.approxQuantile("doc_id", [0.5], 0.01)[0]
    pruned = latest.load(spark, col="doc_id", lo=0, hi=mid).filter(
        f"doc_id <= {mid}"
    )
    assert pruned.count() == docs.filter(f"doc_id <= {mid}").count()


def test_data_import_plugin_registry(spark, tmp_path, docs):
    path = str(tmp_path / "p.parquet")
    docs.limit(10).write.parquet(path)
    reader = get_data_import_plugin("parquet")
    assert reader(spark, path).count() == 10


def test_append_commit_and_incremental_scan(spark, tmp_path, docs):
    from fast_carpenter_spark.sources.snapshot import (
        SnapshotReader,
        write_snapshot,
    )

    table = str(tmp_path / "tbl_append")
    base = write_snapshot(
        docs.filter("doc_id % 3 != 0").repartition(2, "doc_id"),
        table, snapshot_id="snap-a",
    )
    appended = write_snapshot(
        docs.filter("doc_id % 3 = 0").repartition(2, "doc_id"),
        table, snapshot_id="snap-b", base=base,
    )
    # append semantics: new manifest = base files + new files, parent set
    assert len(appended.files) > len(base.files)
    assert {f["path"] for f in base.files} <= {f["path"] for f in appended.files}

    # time travel: the base snapshot is untouched by the append
    old = SnapshotReader(table, snapshot_id="snap-a")
    new = SnapshotReader(table)  # default = latest = snap-b
    assert new.snapshot_id == "snap-b"
    assert old.load(spark).count() == docs.filter("doc_id % 3 != 0").count()
    assert new.load(spark).count() == docs.count()

    # incremental scan = manifest diff: exactly the appended rows, read
    # from only the appended files
    inc_paths = new.incremental_files("snap-a")
    assert set(inc_paths) == set(new.snapshot.file_paths) - set(old.snapshot.file_paths)
    inc = new.load_incremental(spark, "snap-a")
    want = docs.filter("doc_id % 3 = 0")
    assert inc.count() == want.count()
    assert inc.select("doc_id").subtract(want.select("doc_id")).count() == 0

    # nothing appended -> explicit error, not an empty scan
    import pytest as _pytest

    with _pytest.raises(ValueError):
        new.load_incremental(spark, "snap-b")


def test_expire_snapshots_retains_shared_files(spark, tmp_path, docs):
    from fast_carpenter_spark.sources.snapshot import (
        SnapshotReader,
        expire_snapshots,
        list_snapshots,
        write_snapshot,
    )

    table = str(tmp_path / "tbl_expire")
    a = write_snapshot(
        docs.filter("doc_id % 2 = 0").repartition(2, "doc_id"),
        table, snapshot_id="snap-a",
    )
    write_snapshot(
        docs.filter("doc_id % 2 = 1").repartition(2, "doc_id"),
        table, snapshot_id="snap-b", base=a,
    )
    # expire keep=1: snap-a's manifest goes, but its FILES survive — the
    # retained append snapshot still references them
    out = expire_snapshots(table, keep=1)
    assert out["removed_snapshots"] == ["snap-a"]
    assert out["removed_files"] == 0
    assert list_snapshots(table) == ["snap-b"]
    assert SnapshotReader(table).load(spark).count() == docs.count()

    # an independent rewrite, then expire: snap-b AND every file only it
    # referenced are gone; the survivor loads alone
    write_snapshot(
        docs.limit(100).repartition(1, "doc_id"), table, snapshot_id="snap-c"
    )
    out = expire_snapshots(table, keep=1)
    assert out["removed_snapshots"] == ["snap-b"]
    assert out["removed_files"] > 0
    assert list_snapshots(table) == ["snap-c"]
    assert SnapshotReader(table).load(spark).count() == 100
    # no orphan parquet left outside snap-c's own data dir
    import os as _os

    on_disk = {
        _os.path.join(r.split(table + "/")[-1], f)
        for r, _, fs in _os.walk(table) for f in fs if f.endswith(".parquet")
    }
    referenced = {f["path"] for f in SnapshotReader(table).snapshot.files}
    assert on_disk == referenced


def test_streaming_commits_append_snapshots(spark, tmp_path, docs):
    """foreachBatch as an Iceberg-style writer: every micro-batch lands as
    an APPEND snapshot commit; the latest snapshot reads the full input
    and each commit's incremental scan returns exactly its batch."""
    from fast_carpenter_spark.sources.snapshot import (
        SnapshotReader,
        list_snapshots,
        write_snapshot,
    )

    input_dir = str(tmp_path / "in")
    table = str(tmp_path / "tbl_stream")
    docs.select("doc_id", "lang").repartition(3, "doc_id").write.parquet(input_dir)

    def commit_batch(batch_df, batch_id):
        sids = list_snapshots(table) if __import__("os").path.isdir(table) else []
        write_snapshot(
            batch_df.coalesce(1),
            table,
            snapshot_id=f"snap-{batch_id:04d}",
            base=sids[-1] if sids else None,
        )

    schema = spark.read.parquet(input_dir).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
        .writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    sids = list_snapshots(table)
    assert len(sids) == 3
    # latest snapshot = the whole input (append lineage)
    latest = SnapshotReader(table)
    assert latest.load(spark).count() == docs.count()
    # each commit's manifest diff = exactly its own batch
    total = 0
    for prev, cur in zip(sids, sids[1:]):
        inc = SnapshotReader(table, cur).load_incremental(spark, prev)
        n = inc.count()
        assert n > 0
        total += n
    first = SnapshotReader(table, sids[0]).load(spark).count()
    assert first + total == docs.count()


def test_commit_order_beats_filename_order(spark, tmp_path, docs):
    """Ids that sort lexicographically BACKWARD must still list in commit
    order (lineage first), and expire_snapshots must GC the old snapshot,
    never the newer append commit (ADVICE r2: monotonic/unpadded ids made
    name-sort delete the newest snapshot's files)."""
    from fast_carpenter_spark.sources.snapshot import (
        SnapshotReader,
        expire_snapshots,
        list_snapshots,
        write_snapshot,
    )

    table = str(tmp_path / "tbl_order")
    d = docs.select("doc_id", "lang").limit(10).coalesce(1)
    # older commit named snap-9, newer child commit named snap-1
    s_old = write_snapshot(d, table, snapshot_id="snap-9")
    write_snapshot(d.limit(3), table, snapshot_id="snap-1", base=s_old)
    assert list_snapshots(table) == ["snap-9", "snap-1"]

    out = expire_snapshots(table, keep=1)
    assert out["removed_snapshots"] == ["snap-9"]
    latest = SnapshotReader(table)
    assert latest.snapshot_id == "snap-1"
    assert latest.load(spark).count() == 13  # full append lineage intact


def test_default_ids_sort_across_sessions(tmp_path, docs):
    """Default snapshot ids are zero-padded wall-clock ns, so two commits
    written by different processes still sort in commit order."""
    from fast_carpenter_spark.sources.snapshot import list_snapshots, write_snapshot

    table = str(tmp_path / "tbl_wc")
    d = docs.select("doc_id").limit(2).coalesce(1)
    a = write_snapshot(d, table)
    b = write_snapshot(d, table, base=a)
    sid_a, sid_b = a.snapshot_id, b.snapshot_id
    assert sid_a < sid_b and len(sid_a) == len(sid_b)  # padded, ordered
    assert list_snapshots(table) == [sid_a, sid_b]


def test_expire_lineage_guard_refuses_corrupt_order(tmp_path, docs, monkeypatch):
    """If ordering ever regressed to put a kept snapshot before its
    descendant, expire must refuse rather than delete the newer commit."""
    import fast_carpenter_spark.sources.snapshot as snap_mod

    table = str(tmp_path / "tbl_guard")
    d = docs.select("doc_id").limit(2).coalesce(1)
    a = snap_mod.write_snapshot(d, table, snapshot_id="snap-a")
    snap_mod.write_snapshot(d, table, snapshot_id="snap-b", base=a)

    # simulate a corrupt/legacy ordering that keeps the ancestor
    monkeypatch.setattr(
        snap_mod, "list_snapshots", lambda p: ["snap-b", "snap-a"]
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="descends from kept"):
        snap_mod.expire_snapshots(table, keep=1)


def test_schema_evolution_add_column(tmp_path, docs, spark):
    """Iceberg-style add-column evolution: an append commit with a wider
    schema; the snapshot is read under ITS OWN schema — old files fill the
    added column with NULL, time travel reproduces the pre-evolution
    schema, incremental scan sees only the new file."""
    from pyspark.sql import functions as F

    from fast_carpenter_spark.sources.snapshot import SnapshotReader, write_snapshot

    table = str(tmp_path / "tbl_evo")
    v1_df = docs.select("doc_id").limit(3).coalesce(1)
    v1 = write_snapshot(v1_df, table, snapshot_id="snap-v1")
    v2_df = (
        docs.select("doc_id").limit(2).coalesce(1)
        .withColumn("doc_id", F.col("doc_id") + 1000000)
        .withColumn("lang", F.lit("xx"))
    )
    write_snapshot(v2_df, table, snapshot_id="snap-v2", base=v1)

    # latest snapshot: evolved schema over ALL files; old rows NULL-filled
    r2 = SnapshotReader(table)
    assert r2.snapshot_id == "snap-v2"
    out = r2.load(spark)
    assert out.columns == ["doc_id", "lang"]
    rows = {(x["doc_id"], x["lang"]) for x in out.collect()}
    assert len(rows) == 5
    assert sum(1 for _, lang in rows if lang is None) == 3
    assert sum(1 for _, lang in rows if lang == "xx") == 2

    # time travel: the v1 snapshot keeps its committed schema exactly
    r1 = SnapshotReader(table, "snap-v1")
    assert r1.load(spark).columns == ["doc_id"]

    # incremental scan under the evolved schema
    inc = r2.load_incremental(spark, "snap-v1")
    assert inc.columns == ["doc_id", "lang"]
    assert inc.count() == 2


def test_schema_evolution_pre_schema_manifest(tmp_path, docs, spark):
    """Manifests written before schema tracking (no 'schema' key) still
    read via parquet inference."""
    import json
    import os

    from fast_carpenter_spark.sources.snapshot import SnapshotReader, write_snapshot

    table = str(tmp_path / "tbl_legacy")
    write_snapshot(docs.select("doc_id").limit(2).coalesce(1), table,
                   snapshot_id="snap-old")
    mpath = os.path.join(table, "manifest-snap-old.json")
    with open(mpath) as f:
        m = json.load(f)
    del m["schema"]
    with open(mpath, "w") as f:
        json.dump(m, f)
    r = SnapshotReader(table)
    assert r.schema is None
    assert r.load(spark).count() == 2


def test_hilbert_layout_prunes_quadrant_files(spark):
    """The north-star layout claim, end-to-end: Hilbert-range-partitioned
    snapshot + per-file hkey bounds => a spatial quadrant query opens a
    strict subset of files (Hilbert fills each top-level quadrant
    contiguously), and the pruned+filtered result equals the unpruned
    filter exactly."""
    from fast_carpenter_spark.queries import (
        _hilbert_snapshot,
        _sw_quadrant_hkey_range,
        q_snapshot_pruned_scan,
    )

    sf = "/root/testdata/sf0.001"
    reader = _hilbert_snapshot(spark, sf)
    qlo, qhi = _sw_quadrant_hkey_range()
    pruned = reader.prune("hkey", qlo, qhi)
    total = len(reader.snapshot.files)
    assert 0 < len(pruned) < total, (len(pruned), total)
    # identity: pruning must be a pure performance layer
    from pyspark.sql import functions as F

    got = q_snapshot_pruned_scan(spark, sf)
    full = reader.load(spark)
    from fast_carpenter_spark import grid
    from fast_carpenter_spark.queries import REGION_RES

    n_half = (1 << REGION_RES) // 2
    ux = grid.unpack_x_sql("cell", "spark")
    uy = grid.unpack_y_sql("cell", "spark")
    want = (
        full.filter(F.expr(f"({ux}) < {n_half} AND ({uy}) < {n_half}"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("sumw"))
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


def test_compact_snapshot_rewrites_only_small_files(spark, docs, tmp_path):
    """rewrite_data_files semantics: rows identical, small files bin-packed,
    large files carried into the new manifest BY REFERENCE (same path),
    replaced files still on disk for time travel until expiry."""
    import os

    from fast_carpenter_spark.sources.snapshot import compact_snapshot

    table = str(tmp_path / "tbl_cmpct")
    big = docs.filter("doc_id % 4 < 3")
    small = docs.filter("doc_id % 4 = 3")
    n_big = big.count()
    base = write_snapshot(
        big.repartition(1), table, snapshot_id="snap-a", bounds_cols=["doc_id"]
    )
    appended = write_snapshot(
        small.repartition(8), table, snapshot_id="snap-b", base=base,
        bounds_cols=["doc_id"],
    )
    assert len(appended.files) == 9
    snap = compact_snapshot(
        spark, table, min_rows=n_big, target_rows=n_big, snapshot_id="snap-c"
    )
    # selective: 1 untouched big file (same relative path) + 1 compacted
    assert len(snap.files) == 2
    big_path = base.files[0]["path"]
    assert big_path in {f["path"] for f in snap.files}
    new = [f for f in snap.files if f["path"] != big_path]
    assert new[0]["rows"] == small.count()
    assert "doc_id" in new[0]["bounds"]  # pruning metadata carried forward
    # rows bit-identical through the compacted snapshot
    got = SnapshotReader(table, "snap-c").load(spark)
    assert got.count() == docs.count()
    assert got.select("doc_id").exceptAll(docs.select("doc_id")).count() == 0
    # commit lineage: snap-c is the new head, parented on snap-b
    assert list_snapshots(table)[-1] == "snap-c"
    # replaced small files remain for snap-b time travel
    assert SnapshotReader(table, "snap-b").load(spark).count() == docs.count()
    for f in appended.files:
        assert os.path.exists(os.path.join(table, f["path"]))


def test_compact_snapshot_noop_when_nothing_small(spark, docs, tmp_path):
    from fast_carpenter_spark.sources.snapshot import compact_snapshot

    table = str(tmp_path / "tbl_cmpct_noop")
    snap = write_snapshot(docs.repartition(2), table, snapshot_id="snap-a")
    out = compact_snapshot(spark, table, min_rows=1, target_rows=10)
    assert out.snapshot_id == snap.snapshot_id  # no new commit
    assert list_snapshots(table) == ["snap-a"]


def test_merge_snapshot_cow_rewrites_only_matched_files(spark, docs, tmp_path):
    """MERGE (copy-on-write): matched rows updated, unmatched inserted,
    and — the CoW claim — only data files CONTAINING a matched key are
    rewritten; every other base file enters the merge manifest by path
    reference.  Range-partitioned base + a narrow update key range means
    manifest bounds alone exonerate most files."""
    from fast_carpenter_spark.sources.snapshot import (
        SnapshotReader,
        merge_snapshot,
        write_snapshot,
    )
    from pyspark.sql import functions as F

    table = str(tmp_path / "tbl_merge")
    base_df = docs.select("doc_id", "lang", "n_chars")
    base = write_snapshot(
        base_df.repartitionByRange(8, "doc_id"),
        table, snapshot_id="snap-base", bounds_cols=["doc_id"],
    )
    assert len(base.files) == 8

    hi = docs.agg(F.max("doc_id")).first()[0]
    # updates: a narrow matched slice (doc_id in [0, 10]) + brand-new keys
    ups = base_df.filter("doc_id <= 10").withColumn(
        "lang", F.lit("xx")
    ).unionByName(
        docs.select(
            (F.col("doc_id") + hi + 1_000).alias("doc_id"), "lang", "n_chars"
        ).limit(5)
    )
    snap = merge_snapshot(
        spark, table, ups, "doc_id",
        snapshot_id="snap-merge", base_snapshot_id="snap-base",
    )

    base_paths = {f["path"] for f in base.files}
    carried = {f["path"] for f in snap.files} & base_paths
    rewritten = base_paths - carried
    # only the files whose doc_id range covers [0, 10] get rewritten —
    # with 8 range partitions that is exactly one file
    assert len(rewritten) == 1, (rewritten, carried)

    merged = SnapshotReader(table, "snap-merge").load(spark)
    n_match = docs.filter("doc_id <= 10").count()
    assert merged.count() == docs.count() + 5
    assert merged.filter("lang = 'xx'").count() == n_match
    # untouched rows are bit-identical to the base
    untouched = merged.filter(f"doc_id > 10 AND doc_id <= {hi}")
    assert untouched.exceptAll(base_df.filter("doc_id > 10")).count() == 0


def test_merge_snapshot_pure_insert_rewrites_nothing(spark, docs, tmp_path):
    from fast_carpenter_spark.sources.snapshot import (
        SnapshotReader,
        merge_snapshot,
        write_snapshot,
    )
    from pyspark.sql import functions as F

    table = str(tmp_path / "tbl_merge_ins")
    base_df = docs.select("doc_id", "lang", "n_chars")
    base = write_snapshot(
        base_df.repartitionByRange(4, "doc_id"),
        table, snapshot_id="snap-base", bounds_cols=["doc_id"],
    )
    hi = docs.agg(F.max("doc_id")).first()[0]
    ups = base_df.select(
        (F.col("doc_id") + hi + 100).alias("doc_id"), "lang", "n_chars"
    ).limit(7)
    snap = merge_snapshot(
        spark, table, ups, "doc_id",
        snapshot_id="snap-ins", base_snapshot_id="snap-base",
    )
    base_paths = {f["path"] for f in base.files}
    assert base_paths <= {f["path"] for f in snap.files}
    assert SnapshotReader(table, "snap-ins").load(spark).count() == docs.count() + 7


def test_merge_snapshot_rejects_duplicate_update_keys(spark, docs, tmp_path):
    import pytest

    from fast_carpenter_spark.sources.snapshot import (
        merge_snapshot,
        write_snapshot,
    )

    table = str(tmp_path / "tbl_merge_dup")
    base_df = docs.select("doc_id", "lang", "n_chars")
    write_snapshot(base_df, table, snapshot_id="snap-base",
                   bounds_cols=["doc_id"])
    dup = base_df.limit(3).unionByName(base_df.limit(3))
    with pytest.raises(ValueError, match="duplicate"):
        merge_snapshot(spark, table, dup, "doc_id",
                       snapshot_id="snap-dup", base_snapshot_id="snap-base")


def test_mor_delete_commit_touches_no_data_files(spark, docs, tmp_path):
    """Merge-on-read DELETE: the commit writes only a tiny delete-key
    parquet — every base data file enters the new manifest by reference —
    and the reader applies the delete at scan time."""
    from fast_carpenter_spark.sources.snapshot import delete_snapshot

    table = str(tmp_path / "tbl_mor")
    base_df = docs.select("doc_id", "lang", "n_chars")
    base = write_snapshot(
        base_df.repartitionByRange(8, "doc_id"),
        table, snapshot_id="snap-base", bounds_cols=["doc_id"],
    )
    keys = docs.filter("doc_id % 7 = 3").select("doc_id")
    snap = delete_snapshot(spark, table, keys, "doc_id",
                           snapshot_id="snap-del", base_snapshot_id="snap-base")

    assert [f["path"] for f in snap.files] == [f["path"] for f in base.files]
    assert len(snap.delete_files) == 1
    assert snap.delete_files[0]["key"] == "doc_id"
    assert snap.delete_files[0]["seq"] == 1

    got = SnapshotReader(table, "snap-del").load(spark)
    assert got.count() == docs.filter("doc_id % 7 <> 3").count()
    assert got.filter("doc_id % 7 = 3").count() == 0
    # time travel: the base snapshot still reads everything
    assert SnapshotReader(table, "snap-base").load(spark).count() == docs.count()


def test_mor_sequence_rule_append_after_delete_is_immune(spark, docs, tmp_path):
    """Rows appended AFTER a delete commit keep their keys even when those
    keys were deleted — equality deletes apply only to data files with a
    smaller commit sequence number (Iceberg v2)."""
    from fast_carpenter_spark.sources.snapshot import delete_snapshot
    from pyspark.sql import functions as F

    table = str(tmp_path / "tbl_mor_seq")
    base_df = docs.select("doc_id", "lang", "n_chars")
    write_snapshot(base_df.repartitionByRange(4, "doc_id"),
                   table, snapshot_id="snap-base", bounds_cols=["doc_id"])
    keys = docs.filter("doc_id % 7 = 3").select("doc_id")
    delete_snapshot(spark, table, keys, "doc_id",
                    snapshot_id="snap-del", base_snapshot_id="snap-base")
    # re-insert a subset of the deleted keys with a marker lang
    reins = docs.filter("doc_id % 7 = 3 AND doc_id % 2 = 0").select(
        "doc_id", F.lit("yy").alias("lang"), "n_chars")
    write_snapshot(reins, table, snapshot_id="snap-app",
                   bounds_cols=["doc_id"], base="snap-del")

    got = SnapshotReader(table, "snap-app").load(spark)
    n_reins = docs.filter("doc_id % 7 = 3 AND doc_id % 2 = 0").count()
    assert got.filter("lang = 'yy'").count() == n_reins
    assert got.filter("doc_id % 7 = 3").count() == n_reins  # only re-inserts
    assert got.count() == docs.filter("doc_id % 7 <> 3").count() + n_reins


def test_rewrite_deletes_folds_and_carries_unaffected(spark, docs, tmp_path):
    """rewrite_deletes materializes the anti-join into new data files,
    rewrites ONLY files whose bounds intersect the delete-key range, and
    the result is bit-identical to the merge-on-read read."""
    from fast_carpenter_spark.sources.snapshot import (
        delete_snapshot,
        rewrite_deletes,
    )

    table = str(tmp_path / "tbl_mor_rw")
    base_df = docs.select("doc_id", "lang", "n_chars")
    base = write_snapshot(base_df.repartitionByRange(8, "doc_id"),
                          table, snapshot_id="snap-base", bounds_cols=["doc_id"])
    keys = docs.filter("doc_id <= 10").select("doc_id")  # narrow range
    delete_snapshot(spark, table, keys, "doc_id",
                    snapshot_id="snap-del", base_snapshot_id="snap-base")
    mor = SnapshotReader(table, "snap-del").load(spark)
    mor_pd = mor.toPandas().sort_values("doc_id").reset_index(drop=True)

    snap = rewrite_deletes(spark, table, snapshot_id="snap-rw",
                           base_snapshot_id="snap-del")
    assert snap.delete_files == []
    base_paths = {f["path"] for f in base.files}
    carried = {f["path"] for f in snap.files} & base_paths
    assert len(base_paths - carried) == 1  # only the low-range file rewritten

    got = SnapshotReader(table, "snap-rw").load(spark)
    got_pd = got.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert got_pd.equals(mor_pd)


def test_compact_and_merge_refuse_on_mor_table(spark, docs, tmp_path):
    import pytest

    from fast_carpenter_spark.sources.snapshot import (
        compact_snapshot,
        delete_snapshot,
        merge_snapshot,
    )

    table = str(tmp_path / "tbl_mor_guard")
    base_df = docs.select("doc_id", "lang", "n_chars")
    write_snapshot(base_df, table, snapshot_id="snap-base",
                   bounds_cols=["doc_id"])
    delete_snapshot(spark, table, docs.filter("doc_id < 5").select("doc_id"),
                    "doc_id", snapshot_id="snap-del",
                    base_snapshot_id="snap-base")
    with pytest.raises(ValueError, match="rewrite_deletes"):
        compact_snapshot(spark, table, min_rows=10**9, target_rows=10**9)
    with pytest.raises(ValueError, match="rewrite_deletes"):
        merge_snapshot(spark, table, base_df.limit(1), "doc_id")


def test_expire_snapshots_gc_covers_delete_files(spark, docs, tmp_path):
    import os

    from fast_carpenter_spark.sources.snapshot import (
        delete_snapshot,
        expire_snapshots,
        rewrite_deletes,
    )

    table = str(tmp_path / "tbl_mor_gc")
    base_df = docs.select("doc_id", "lang", "n_chars")
    write_snapshot(base_df, table, snapshot_id="snap-base",
                   bounds_cols=["doc_id"])
    snap = delete_snapshot(spark, table,
                           docs.filter("doc_id < 5").select("doc_id"),
                           "doc_id", snapshot_id="snap-del",
                           base_snapshot_id="snap-base")
    dpath = os.path.join(table, snap.delete_files[0]["path"])
    # expiring the base keeps the delete file (still referenced by snap-del)
    expire_snapshots(table, keep=1)
    assert os.path.exists(dpath)
    n_mor = SnapshotReader(table).load(spark).count()
    # after rewrite, expiring to the rewritten snapshot GCs the delete file
    rewrite_deletes(spark, table, snapshot_id="snap-rw")
    expire_snapshots(table, keep=1)
    assert not os.path.exists(dpath)
    assert SnapshotReader(table).load(spark).count() == n_mor


def test_tile_agg_delta_merge_identity(spark, docs, tmp_path):
    """Incremental rollup maintenance: aggregate ONLY the append commit's
    files and coalesce-sum into the materialized base aggregate; the result
    must be bit-identical to a full recompute (BIGINT counts + dyadic
    weights make the partial-merge exact), and the delta scan must touch
    exactly the appended files."""
    from fast_carpenter_spark.queries import tile_partial_agg

    table = str(tmp_path / "tbl_delta")
    base = write_snapshot(
        docs.filter("doc_id % 4 < 3").repartition(2, "doc_id"),
        table, snapshot_id="snap-a",
    )
    write_snapshot(
        docs.filter("doc_id % 4 = 3").repartition(2, "doc_id"),
        table, snapshot_id="snap-b", base=base,
    )
    new = SnapshotReader(table)
    # O(delta): the incremental file list is exactly the appended files
    inc_paths = set(new.incremental_files("snap-a"))
    assert inc_paths == set(new.snapshot.file_paths) - set(base.file_paths)

    m = tile_partial_agg(
        spark, SnapshotReader(table, "snap-a").load(spark), "tad_base"
    )
    d = tile_partial_agg(
        spark, new.load_incremental(spark, "snap-a"), "tad_inc"
    )
    from pyspark.sql import functions as F

    merged = (
        m.select("cell", F.col("n").alias("n_a"), F.col("w_sumw").alias("sw_a"),
                 F.col("w_sumw2").alias("sw2_a"))
        .join(d.select("cell", F.col("n").alias("n_b"),
                       F.col("w_sumw").alias("sw_b"),
                       F.col("w_sumw2").alias("sw2_b")), "cell", "full_outer")
        .select(
            "cell",
            (F.coalesce("n_a", F.lit(0)) + F.coalesce("n_b", F.lit(0))).alias("n"),
            (F.coalesce("sw_a", F.lit(0.0)) + F.coalesce("sw_b", F.lit(0.0))).alias("w_sumw"),
            (F.coalesce("sw2_a", F.lit(0.0)) + F.coalesce("sw2_b", F.lit(0.0))).alias("w_sumw2"),
        )
    )
    full = tile_partial_agg(spark, new.load(spark), "tad_full")
    got = sorted(map(tuple, merged.collect()))
    want = sorted(map(tuple, full.collect()))
    assert got == want  # bit-exact, not approx


def test_hilbert_intervals_decomposition():
    """Runs are maximal and exact when uncapped; capping merges the
    smallest gaps first and only ever ADDS keys (superset property)."""
    from fast_carpenter_spark.spatial.layout import hilbert_intervals

    assert hilbert_intervals([]) == []
    assert hilbert_intervals([3, 1, 2, 2, 9, 10, 7]) == [(1, 3), (7, 7), (9, 10)]
    # cap merges the 7..9 side (gap 1) before the 3..7 side (gap 3)
    assert hilbert_intervals([3, 1, 2, 9, 10, 7], max_intervals=2) == [
        (1, 3),
        (7, 10),
    ]
    assert hilbert_intervals([1, 5, 100], max_intervals=1) == [(1, 100)]
    # superset property under any cap
    ks = [1, 2, 3, 10, 11, 40, 41, 42, 90]
    full = set(ks)
    for cap in (1, 2, 3, 4, None):
        iv = hilbert_intervals(ks, max_intervals=cap)
        covered = set()
        for a, b in iv:
            covered.update(range(a, b + 1))
        assert full <= covered


def test_multirange_prune_beats_envelope(spark, docs, tmp_path):
    """The ring region's 6-interval plan must open strictly fewer files
    than the single [min,max] envelope, and the pruned+filtered result
    must equal the unpruned+filtered one (pruning is pure performance)."""
    import numpy as np
    from pyspark.sql import functions as F

    from fast_carpenter_spark import grid
    from fast_carpenter_spark.plans.pipeline import HilbertLayoutStage
    from fast_carpenter_spark.queries import REGION_RES, _ring_pred_sql, _ring_region
    from fast_carpenter_spark.spatial.layout import hilbert_intervals
    from fast_carpenter_spark.synth import flat_spans_sql

    pts = spark.sql(flat_spans_sql("spark")).select(
        "doc_id", "span_idx", "lon", "lat", "w",
        F.expr(grid.cell_sql("lon", "lat", REGION_RES, "spark")).alias("cell"),
    )
    laid = HilbertLayoutStage(
        name="hl", res=REGION_RES, partitions=8, keep_col="hkey"
    ).apply(pts)
    table = str(tmp_path / "tbl_mr")
    write_snapshot(laid, table, snapshot_id="snap-mr", bounds_cols=["hkey"])
    reader = SnapshotReader(table)

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
    assert len(intervals) > 1  # genuinely multi-range

    kept = reader.prune_ranges("hkey", intervals)
    envelope = reader.prune("hkey", int(hk.min()), int(hk.max()))
    assert len(kept) < len(envelope)  # the multi-range win
    assert len(kept) < len(reader.snapshot.files)

    pred = _ring_pred_sql(
        grid.unpack_x_sql("cell", "spark"), grid.unpack_y_sql("cell", "spark")
    )
    pruned = sorted(
        tuple(r)
        for r in reader.load_ranges(spark, "hkey", intervals)
        .filter(F.expr(pred)).select("doc_id", "span_idx", "cell").collect()
    )
    full = sorted(
        tuple(r)
        for r in reader.load(spark)
        .filter(F.expr(pred)).select("doc_id", "span_idx", "cell").collect()
    )
    assert pruned == full and len(full) > 0


def test_bloom_prune_on_hash_partitioned_keys(spark, docs, tmp_path):
    """Blooms must skip files where min/max bounds cannot (hash layout):
    a 3-id probe opens far fewer than all files, an absent key prunes to
    (near) zero, pruning is exact for present keys (no false negatives),
    and the pruned+filtered result equals the full-scan result."""
    from fast_carpenter_spark.sources.snapshot import _bloom_may_contain

    table = str(tmp_path / "tbl_bloom")
    write_snapshot(
        docs.repartition(8, "doc_id"), table,
        snapshot_id="snap-b", bloom_cols=["doc_id"],
    )
    reader = SnapshotReader(table)
    n_files = len(reader.snapshot.files)
    assert n_files == 8
    assert all("doc_id" in f.get("blooms", {}) for f in reader.snapshot.files)

    ids = [17, 130, 384]
    kept = reader.prune_bloom("doc_id", ids)
    # each id lives in exactly one file; 0.2% fpp leaves a little slack
    assert len(kept) <= len(ids) + 1
    assert len(kept) < n_files

    # no false negatives: the file actually holding each id must survive
    import pyarrow.parquet as pq
    import os as _os

    for i in ids:
        holder = [
            f for f in reader.snapshot.files
            if i in pq.read_table(
                _os.path.join(table, f["path"]), columns=["doc_id"]
            ).column("doc_id").to_pylist()
        ]
        assert holder and all(
            _bloom_may_contain(f["blooms"]["doc_id"], i) for f in holder
        )
        assert all(f["path"] in {k["path"] for k in kept} for f in holder)

    # absent key: (deterministically) prunes essentially everything
    absent = reader.prune_bloom("doc_id", [10_000_019])
    assert len(absent) <= 1

    got = sorted(
        tuple(r)
        for r in reader.load_bloom(spark, "doc_id", ids)
        .filter("doc_id in (17, 130, 384)").select("doc_id", "n_chars").collect()
    )
    want = sorted(
        tuple(r)
        for r in docs.filter("doc_id in (17, 130, 384)")
        .select("doc_id", "n_chars").collect()
    )
    assert got == want and len(want) == 3

    # all-files-miss returns an EMPTY frame (no error): exact by
    # no-false-negative guarantee — and it is built from the MANIFEST's
    # pinned schema (no data-file footer opened), so it carries the full
    # snapshot schema even though zero files survived pruning
    if len(absent) == 0:
        empty = reader.load_bloom(spark, "doc_id", [10_000_019])
        assert empty.count() == 0
        assert reader.schema is not None
        assert empty.schema == reader.schema


def test_schema_evolution_add_column(spark, docs, tmp_path):
    """An append commit that ADDS a column evolves the table schema: the
    latest snapshot reads pre-evolution files null-filled under the
    commit's pinned schema (no rewrite), while time travel to the old
    snapshot still serves the old schema."""
    table = str(tmp_path / "tbl_evo")
    base = write_snapshot(
        docs.filter("doc_id % 3 != 0").select("doc_id", "lang"),
        table, snapshot_id="snap-v1",
    )
    write_snapshot(
        docs.filter("doc_id % 3 = 0").selectExpr(
            "doc_id", "lang", "CAST(n_chars AS BIGINT) AS quality"
        ),
        table, snapshot_id="snap-v2", base=base,
    )
    old = SnapshotReader(table, "snap-v1").load(spark)
    assert "quality" not in old.columns  # time travel keeps the v1 schema
    new = SnapshotReader(table, "snap-v2").load(spark)
    assert "quality" in new.columns
    n_old = docs.filter("doc_id % 3 != 0").count()
    n_new = docs.filter("doc_id % 3 = 0").count()
    assert new.count() == n_old + n_new
    assert new.filter("quality IS NULL").count() == n_old  # null-filled
    assert new.filter("quality IS NOT NULL").count() == n_new


def test_block_work_units_prefix(spark, docs, tmp_path):
    """blocks() splits the key domain into deterministic ranged work units
    and load_block_limit() reads EXACTLY the domain prefix — the
    reference's --nblocks-per-dataset (ref fast_carpenter/__main__.py:34-37)
    restated as a layout-independent contract."""
    table = str(tmp_path / "tbl_blocks")
    hi = docs.agg({"doc_id": "max"}).first()[0] + 1
    # range-partitioned layout so manifest bounds are tight per file
    write_snapshot(
        docs.repartitionByRange(4, "doc_id"),
        table, snapshot_id="snap-b", bounds_cols=["doc_id"],
    )
    reader = SnapshotReader(table)
    blks = reader.blocks("doc_id", 8, hi)
    # disjoint, ordered, covering [0, hi)
    assert blks[0]["lo"] == 0
    for a, b in zip(blks, blks[1:]):
        assert b["lo"] == a["hi"] + 1
    assert blks[-1]["hi"] == hi - 1
    # a 2-of-8 block limit is exactly the first-quarter domain prefix
    lim = reader.load_block_limit(spark, "doc_id", 8, 2, hi)
    cut = blks[1]["hi"]
    assert lim.count() == docs.filter(f"doc_id <= {cut}").count()
    # pruning bites: the first 2 of 8 blocks touch a strict file subset
    n_files = sum(len(b["files"]) for b in blks[:2])
    seen = {f["path"] for b in blks[:2] for f in b["files"]}
    assert len(seen) < len(reader.snapshot.files)
    assert n_files >= len(seen) >= 1


def test_block_limit_zero_units_raises(spark, docs, tmp_path):
    import pytest

    table = str(tmp_path / "tbl_blocks0")
    write_snapshot(docs.limit(10), table, snapshot_id="s", bounds_cols=["doc_id"])
    reader = SnapshotReader(table)
    with pytest.raises(ValueError):
        reader.load_block_limit(spark, "doc_id", 4, 0, 100)


def test_named_refs_tag_immutable_branch_moves(spark, docs, tmp_path):
    """Iceberg-style refs: a tag pins forever (re-point raises), a branch
    fast-forwards; SnapshotReader(ref=..) equals the direct-id read."""
    import pytest

    from fast_carpenter_spark.sources.snapshot import (
        list_refs,
        resolve_ref,
        set_ref,
    )

    table = str(tmp_path / "tbl_refs")
    base = write_snapshot(
        docs.filter("doc_id % 2 = 0"), table, snapshot_id="s1",
    )
    write_snapshot(docs, table, snapshot_id="s2", base=base)

    set_ref(table, "stable", "s1", kind="tag")
    set_ref(table, "main", "s1", kind="branch")
    set_ref(table, "main", "s2", kind="branch")  # fast-forward ok
    with pytest.raises(ValueError):
        set_ref(table, "stable", "s2", kind="tag")  # tags are immutable
    with pytest.raises(ValueError):
        set_ref(table, "dangling", "nope", kind="tag")  # unknown snapshot
    with pytest.raises(KeyError):
        resolve_ref(table, "missing")

    assert resolve_ref(table, "stable") == "s1"
    assert resolve_ref(table, "main") == "s2"
    assert list_refs(table)["main"]["kind"] == "branch"

    via_tag = SnapshotReader(table, ref="stable").load(spark)
    direct = SnapshotReader(table, "s1").load(spark)
    assert via_tag.count() == direct.count() == docs.filter("doc_id % 2 = 0").count()
    with pytest.raises(ValueError):
        SnapshotReader(table, "s1", ref="stable")  # id XOR ref


def test_cache_fingerprint_follows_its_source_table(tmp_path):
    """A cache built from embeddings.parquet must change tag when only the
    embeddings are regenerated; one built from documents.parquet must not."""
    import os

    from fast_carpenter_spark.queries._common import _source_fingerprint_tag

    sf = tmp_path / "sf0.001"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"docs")
    emb = sf / "embeddings.parquet"
    emb.write_bytes(b"emb-v1")
    docs_tag = _source_fingerprint_tag(str(sf))
    emb_tag = _source_fingerprint_tag(str(sf), "embeddings")
    assert docs_tag != emb_tag
    emb.write_bytes(b"emb-v2, regenerated")
    st = os.stat(emb)
    os.utime(emb, (st.st_atime, st.st_mtime + 5))
    assert _source_fingerprint_tag(str(sf)) == docs_tag
    assert _source_fingerprint_tag(str(sf), "embeddings") != emb_tag
