"""Iceberg-style snapshot source: parquet data files + a JSON manifest.

The sandbox's pyspark ships no Iceberg jars, so snapshot semantics are
emulated: a table directory holds immutable parquet files plus
``manifest-<snapshot_id>.json`` listing the member files with per-file
column bounds (min/max).  The engine reads through ``SnapshotReader`` so a
real Iceberg catalog is a config swap — and file-level pruning against the
manifest bounds mirrors how fast-carpenter prunes branches before reading
(ref: fast_carpenter/expressions.py:25-41 get_branches;
summary/binned_dataframe.py:207-214 potential_inputs).

The data-import plugin registry mirrors the reference's
(ref: fast_carpenter/data_import/__init__.py:6-41): named reader factories,
user-registrable.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import local_frame

MANIFEST_PREFIX = "manifest-"


@dataclass
class Snapshot:
    snapshot_id: str
    table_path: str
    files: list[dict]  # {path, rows, seq, bounds: {col: [min, max]}}
    seq: int = 0  # commit sequence number (parent.seq + 1)
    # merge-on-read equality-delete files: {path, rows, key, seq, bounds}
    delete_files: list[dict] = None  # type: ignore[assignment]

    def __post_init__(self):
        if self.delete_files is None:
            self.delete_files = []

    @property
    def file_paths(self) -> list[str]:
        return [os.path.join(self.table_path, f["path"]) for f in self.files]


# --- manifest bloom filters (point-lookup data skipping) ---------------------
#
# min/max bounds prune RANGE queries but are useless once a table is
# hash-partitioned or unsorted on the lookup key — every file's [min, max]
# spans the domain.  A per-file bloom over the key column (Iceberg/Parquet
# bloom index analogue) restores point-lookup skipping there: k
# deterministic affine-remix hashes set bits in an ndv-sized bitset stored
# hex-encoded in the manifest.  Deterministic hashing makes prune decisions
# reproducible across runs/engines (testable), and sizing at ~16 bits/value
# with k=4 gives ~0.2% false positives — a false positive only costs an
# extra file open (the residual filter keeps results exact).

_BLOOM_K = 4
_BLOOM_A = (2654435761, 40503, 69621, 48271)
_BLOOM_B = (12345, 30307, 54321, 9973)
_BLOOM_P = 1_000_000_007


def _bloom_positions(values, m_bits: int):
    """k deterministic bit positions per int64 value (numpy, vectorized)."""
    import numpy as np

    v = np.asarray(values, dtype=np.int64) % _BLOOM_P
    return [
        ((v * _BLOOM_A[j] + _BLOOM_B[j]) % _BLOOM_P) % m_bits
        for j in range(_BLOOM_K)
    ]


def _build_bloom(values) -> dict:
    """Hex-encoded bloom for a file's key column (ndv-adaptive sizing)."""
    import numpy as np

    vals = np.unique(np.asarray(values, dtype=np.int64))
    m_bits = 64
    while m_bits < 16 * max(len(vals), 1):
        m_bits *= 2
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    for pos in _bloom_positions(vals, m_bits):
        np.bitwise_or.at(bits, pos // 8, (1 << (pos % 8)).astype(np.uint8))
    return {"m": int(m_bits), "bits": bits.tobytes().hex()}


def _bloom_may_contain(bloom: dict, value: int) -> bool:
    bits = bytes.fromhex(bloom["bits"])
    for pos in _bloom_positions([int(value)], bloom["m"]):
        p = int(pos[0])
        if not (bits[p // 8] >> (p % 8)) & 1:
            return False
    return True


def write_snapshot(
    df: DataFrame,
    table_path: str,
    *,
    snapshot_id: str | None = None,
    bounds_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    base: "Snapshot | str | None" = None,
) -> Snapshot:
    """Write df as a new snapshot: parquet files + manifest with per-file
    min/max bounds for ``bounds_cols`` (partition-pruning metadata) and
    per-file bloom filters for ``bloom_cols`` (point-lookup skipping on
    hash-partitioned/unsorted keys; built here from one column read at
    commit time — a production writer folds it into the write itself).

    With ``base`` (a Snapshot or snapshot id), this is an APPEND commit in
    the Iceberg sense: the new manifest lists the base snapshot's files
    PLUS the newly written ones, and records ``parent_id`` — data files
    are immutable and shared between snapshots, so time travel is free and
    an incremental scan between two snapshots is a manifest diff."""
    import pyarrow.parquet as pq

    # Zero-padded wall-clock ns: default ids sort lexicographically in
    # commit order even across process restarts (monotonic_ns resets per
    # boot and unpadded ids compare wrongly once the digit count grows).
    snapshot_id = snapshot_id or f"snap-{time.time_ns():020d}"
    base_files: list[dict] = []
    base_deletes: list[dict] = []
    parent_id = None
    seq = 0
    if base is not None:
        if isinstance(base, str):
            base = SnapshotReader(table_path, base).snapshot
        base_files = list(base.files)
        base_deletes = list(base.delete_files)
        parent_id = base.snapshot_id
        seq = base.seq + 1
    data_dir = os.path.join(table_path, snapshot_id)
    df.write.mode("overwrite").parquet(data_dir)

    files = []
    for name in sorted(os.listdir(data_dir)):
        if not name.endswith(".parquet"):
            continue
        fpath = os.path.join(data_dir, name)
        meta = pq.read_metadata(fpath)
        bounds: dict[str, list] = {}
        if bounds_cols:
            schema_names = meta.schema.to_arrow_schema().names
            for col in bounds_cols:
                if col not in schema_names:
                    continue
                idx = schema_names.index(col)
                mins, maxs = [], []
                for rg in range(meta.num_row_groups):
                    stats = meta.row_group(rg).column(idx).statistics
                    if stats is None or not stats.has_min_max:
                        mins, maxs = [], []
                        break
                    mins.append(stats.min)
                    maxs.append(stats.max)
                if mins:
                    bounds[col] = [min(mins), max(maxs)]
        blooms: dict[str, dict] = {}
        if bloom_cols:
            schema_names = meta.schema.to_arrow_schema().names
            for col in bloom_cols:
                if col not in schema_names:
                    continue
                vals = pq.read_table(fpath, columns=[col]).column(col)
                blooms[col] = _build_bloom(vals.to_numpy(zero_copy_only=False))
        entry = {
            "path": os.path.join(snapshot_id, name),
            "rows": meta.num_rows,
            "seq": seq,
            "bounds": bounds,
        }
        if blooms:
            entry["blooms"] = blooms
        files.append(entry)
    all_files = base_files + files
    snap = Snapshot(snapshot_id, table_path, all_files, seq, base_deletes)
    manifest = os.path.join(table_path, f"{MANIFEST_PREFIX}{snapshot_id}.json")
    with open(manifest, "w") as f:
        json.dump(
            {
                "snapshot_id": snapshot_id,
                "parent_id": parent_id,
                "seq": seq,
                # the COMMIT's schema (Iceberg-style: the table schema
                # evolves with the commit; older data files keep their own
                # file schema and are read under the snapshot schema)
                "schema": df.schema.jsonValue(),
                "files": all_files,
                "delete_files": base_deletes,
            },
            f,
            indent=1,
        )
    return snap


def list_snapshots(table_path: str) -> list[str]:
    """Snapshot ids in COMMIT order (oldest first).

    Ordering is lineage-first, not name-first: each manifest records its
    ``parent_id``, so a child always sorts after its parent (chain depth),
    and independent roots / branches tie-break on manifest mtime then id.
    Filename sort alone is unsafe for user-supplied ids — a newer commit
    named ``snap-1`` would sort before an older ``snap-9`` and the GC in
    :func:`expire_snapshots` would delete the wrong snapshot's files.
    """
    meta: dict[str, tuple] = {}
    parents: dict[str, str | None] = {}
    for name in os.listdir(table_path):
        if name.startswith(MANIFEST_PREFIX) and name.endswith(".json"):
            sid = name[len(MANIFEST_PREFIX):-len(".json")]
            path = os.path.join(table_path, name)
            with open(path) as f:
                parents[sid] = json.load(f).get("parent_id")
            meta[sid] = (os.stat(path).st_mtime_ns, sid)

    def depth(sid: str) -> int:
        d = 0
        seen = set()
        while parents.get(sid) in meta and sid not in seen:
            seen.add(sid)
            sid = parents[sid]
            d += 1
        return d

    return sorted(meta, key=lambda s: (depth(s),) + meta[s])


REFS_FILE = "refs.json"


def _load_refs(table_path: str) -> dict:
    path = os.path.join(table_path, REFS_FILE)
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def set_ref(table_path: str, name: str, snapshot_id: str, *, kind: str = "tag") -> None:
    """Iceberg-style named ref over the snapshot log: a ``tag`` is an
    IMMUTABLE pointer (re-pointing raises — tags are audit anchors, e.g. a
    training-data release), a ``branch`` MOVES with each call (the writer
    advances 'main' after every commit).  Refs live in one small JSON
    sidecar next to the manifests, written with ``os.replace`` so readers
    never observe a torn file; the pointed-at manifest itself is immutable,
    so resolving a ref is one metadata read — no data files touched."""
    if kind not in ("tag", "branch"):
        raise ValueError(f"ref kind must be tag|branch, got {kind!r}")
    if snapshot_id not in list_snapshots(table_path):
        raise ValueError(f"unknown snapshot {snapshot_id!r} under {table_path}")
    refs = _load_refs(table_path)
    prev = refs.get(name)
    if prev is not None and prev["kind"] == "tag":
        raise ValueError(
            f"ref {name!r} is a tag pinned to {prev['snapshot_id']!r}; "
            "tags are immutable — create a branch to move a pointer"
        )
    refs[name] = {"kind": kind, "snapshot_id": snapshot_id}
    tmp = os.path.join(table_path, f".{REFS_FILE}.tmp")
    with open(tmp, "w") as f:
        json.dump(refs, f, indent=1)
    os.replace(tmp, os.path.join(table_path, REFS_FILE))


def resolve_ref(table_path: str, name: str) -> str:
    refs = _load_refs(table_path)
    if name not in refs:
        raise KeyError(f"no ref {name!r} under {table_path}")
    return refs[name]["snapshot_id"]


def list_refs(table_path: str) -> dict:
    """name -> {kind, snapshot_id} (a copy; mutate via set_ref only)."""
    return dict(_load_refs(table_path))


class SnapshotReader:
    """Read a snapshot, optionally pruning files via manifest bounds."""

    def __init__(
        self, table_path: str, snapshot_id: str | None = None, *, ref: str | None = None
    ):
        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id or ref, not both")
            snapshot_id = resolve_ref(table_path, ref)
        self.table_path = table_path
        sids = list_snapshots(table_path)
        if not sids:
            raise FileNotFoundError(f"no snapshots under {table_path}")
        self.snapshot_id = snapshot_id or sids[-1]
        with open(
            os.path.join(table_path, f"{MANIFEST_PREFIX}{self.snapshot_id}.json")
        ) as f:
            m = json.load(f)
        self.snapshot = Snapshot(
            self.snapshot_id,
            table_path,
            m["files"],
            m.get("seq", 0),
            m.get("delete_files", []),
        )
        # snapshot-pinned schema (add-column evolution): reads happen under
        # THIS snapshot's schema — files from pre-evolution commits fill
        # the added columns with NULL, files from later commits have their
        # extra columns ignored, and time travel reproduces exactly the
        # schema the snapshot was committed with.  Renames/drops need
        # Iceberg field ids and stay out of scope (documented non-goal —
        # name-based parquet mapping cannot express them safely).
        self.schema = None
        if m.get("schema") is not None:
            from pyspark.sql.types import StructType

            self.schema = StructType.fromJson(m["schema"])

    def prune(self, col: str, lo, hi) -> list[str]:
        """Files whose [min,max] for ``col`` may intersect [lo, hi] —
        manifest-level pruning (the engine's partition-pruning hook)."""
        keep = []
        for f in self.snapshot.files:
            b = f["bounds"].get(col)
            if b is None or not (b[1] < lo or b[0] > hi):
                keep.append(os.path.join(self.table_path, f["path"]))
        return keep

    def prune_ranges(self, col: str, ranges) -> list[dict]:
        """Multi-interval manifest pruning: files whose [min,max] for
        ``col`` may intersect ANY of the (lo, hi) intervals — the
        range-split planning an Iceberg scan does for a query whose key
        set is not one contiguous run (e.g. a non-quadrant spatial region
        under a Hilbert layout).  Interval count is planner-bounded (a few
        dozen), so the per-file check is k comparisons against manifest
        metadata — no data touched."""
        keep = []
        for f in self.snapshot.files:
            b = f["bounds"].get(col)
            if b is None or any(not (b[1] < lo or b[0] > hi) for lo, hi in ranges):
                keep.append(f)
        return keep

    def load_ranges(self, spark: SparkSession, col: str, ranges) -> DataFrame:
        """Read only the files surviving multi-interval pruning (the
        superset property: callers still apply the exact residual filter)."""
        files = self.prune_ranges(col, ranges)
        if not files:
            raise ValueError("pruning removed all files; nothing to read")
        if not self.snapshot.delete_files:
            return self._read(
                spark, [os.path.join(self.table_path, f["path"]) for f in files]
            )
        return self._read_with_deletes(spark, files)

    def blocks(self, col: str, n_blocks: int, domain_hi: int) -> list[dict]:
        """File-group work units with deterministic order: the key domain
        ``[0, domain_hi)`` of the layout column split into ``n_blocks``
        equal ranges, each carrying the files whose manifest bounds may
        intersect it.  The reference walks each dataset as an ordered list
        of fixed-size event blocks and ``--nblocks-per-dataset N`` stops
        after N (ref fast_carpenter/__main__.py:34-37); here a block is a
        key-RANGE work unit over the snapshot layout, so "first N blocks"
        is a deterministic domain prefix — reproducible across file counts,
        compaction, and partitioning — rather than a file-order accident."""
        width = -(-domain_hi // n_blocks)  # ceil
        out = []
        for i in range(n_blocks):
            lo, hi = i * width, min((i + 1) * width, domain_hi) - 1
            if lo > hi:
                break
            out.append(
                {"block": i, "lo": lo, "hi": hi,
                 "files": self.prune_ranges(col, [(lo, hi)])}
            )
        return out

    def load_block_limit(
        self, spark: SparkSession, col: str, n_blocks: int, limit: int,
        domain_hi: int,
    ) -> DataFrame:
        """Read only the first ``limit`` of ``n_blocks`` work units:
        manifest-prunes to their files, then applies the EXACT residual
        filter (the block boundary), so the result is exactly the domain
        prefix's rows regardless of how rows were laid out into files."""
        blks = self.blocks(col, n_blocks, domain_hi)[:limit]
        if not blks:
            raise ValueError("block limit selected zero work units")
        hi = blks[-1]["hi"]
        df = self.load_ranges(spark, col, [(b["lo"], b["hi"]) for b in blks])
        return df.filter(f"{col} <= {hi}")

    def prune_bloom(self, col: str, values) -> list[dict]:
        """Files whose bloom for ``col`` may contain ANY of ``values`` —
        point-lookup skipping where min/max bounds can't help (hash-
        partitioned or unsorted keys).  Files without a bloom are kept
        (conservative).  Manifest-only: k bit probes per (file, value)."""
        keep = []
        for f in self.snapshot.files:
            bloom = f.get("blooms", {}).get(col)
            if bloom is None or any(_bloom_may_contain(bloom, v) for v in values):
                keep.append(f)
        return keep

    def load_bloom(self, spark: SparkSession, col: str, values) -> DataFrame:
        """Read only the files surviving bloom pruning (superset property:
        callers still apply the exact residual filter)."""
        files = self.prune_bloom(col, values)
        if not files:
            # a bloom miss on every file IS the answer: zero matching rows
            # (exactness guaranteed by no-false-negative blooms) — return
            # an empty frame under the snapshot schema instead of erroring.
            # Prefer the manifest-pinned schema (no data file opened, and
            # it also covers a snapshot with ZERO data files); only fall
            # back to reading one file's footer when no schema was pinned.
            if self.schema is not None:
                return local_frame(spark, [], self.schema)
            if not self.snapshot.files:
                raise ValueError(
                    "empty snapshot with no pinned schema: cannot build "
                    "the zero-row frame"
                )
            return self._read(
                spark, [os.path.join(self.table_path, self.snapshot.files[0]["path"])]
            ).limit(0)
        if not self.snapshot.delete_files:
            return self._read(
                spark, [os.path.join(self.table_path, f["path"]) for f in files]
            )
        return self._read_with_deletes(spark, files)

    def load(self, spark: SparkSession, *, col=None, lo=None, hi=None) -> DataFrame:
        files = (
            [
                f
                for f in self.snapshot.files
                if f["bounds"].get(col) is None
                or not (f["bounds"][col][1] < lo or f["bounds"][col][0] > hi)
            ]
            if col is not None
            else self.snapshot.files
        )
        if not files:
            raise ValueError("pruning removed all files; nothing to read")
        if not self.snapshot.delete_files:
            return self._read(
                spark, [os.path.join(self.table_path, f["path"]) for f in files]
            )
        return self._read_with_deletes(spark, files)

    def _read_with_deletes(self, spark: SparkSession, files: list[dict]) -> DataFrame:
        """Merge-on-read: equality-delete files apply at scan time via
        LEFT ANTI join, but only to data files with a SMALLER commit
        sequence number than the delete (Iceberg v2 rule — rows appended
        AFTER a delete commit are immune even if their keys collide).
        Data files are grouped by their applicable-delete set, each group
        anti-joined once per delete key, groups unioned — exact and still
        one distributed scan per group (no per-file jobs)."""
        from collections import defaultdict

        groups: dict[tuple, list[str]] = defaultdict(list)
        for f in files:
            fseq = f.get("seq", 0)
            applicable = tuple(
                sorted(
                    d["path"]
                    for d in self.snapshot.delete_files
                    if d.get("seq", 0) > fseq
                )
            )
            groups[applicable].append(os.path.join(self.table_path, f["path"]))
        dmeta = {d["path"]: d for d in self.snapshot.delete_files}
        out = None
        for dpaths, paths in sorted(groups.items()):
            part = self._read(spark, paths)
            by_key: dict[str, list[str]] = defaultdict(list)
            for dp in dpaths:
                by_key[dmeta[dp]["key"]].append(
                    os.path.join(self.table_path, dp)
                )
            for key, kpaths in sorted(by_key.items()):
                keys_df = spark.read.parquet(*kpaths).select(key)
                part = part.join(keys_df, key, "left_anti")
            out = part if out is None else out.unionByName(part)
        return out

    def _read(self, spark: SparkSession, paths: list[str]) -> DataFrame:
        """Read under the snapshot-pinned schema when one is recorded
        (pre-schema manifests fall back to parquet inference)."""
        reader = spark.read
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return reader.parquet(*paths)

    def incremental_files(self, base_snapshot_id: str) -> list[str]:
        """Data files added between ``base_snapshot_id`` and this snapshot
        — the Iceberg incremental-scan manifest diff.  Files are immutable
        and identified by relative path, so a set difference is exact."""
        base = SnapshotReader(self.table_path, base_snapshot_id).snapshot
        base_paths = {f["path"] for f in base.files}
        return [
            os.path.join(self.table_path, f["path"])
            for f in self.snapshot.files
            if f["path"] not in base_paths
        ]

    def load_incremental(self, spark: SparkSession, base_snapshot_id: str) -> DataFrame:
        """Only the rows appended since ``base_snapshot_id`` — file-level,
        no data read from the unchanged files at all (the scale property:
        incremental cost is O(delta), independent of table size)."""
        paths = self.incremental_files(base_snapshot_id)
        if not paths:
            raise ValueError(
                f"no files added between {base_snapshot_id} and {self.snapshot_id}"
            )
        return self._read(spark, paths)


def expire_snapshots(table_path: str, *, keep: int) -> dict:
    """Snapshot retention + file GC (the Iceberg ``expire_snapshots``
    maintenance op): drop all but the newest ``keep`` manifests, then
    delete every data file no retained snapshot references.  Files are
    immutable and shared across append commits, so a file survives as
    long as ANY kept snapshot lists it — time travel within the retention
    window stays intact.  Returns the removed snapshot ids and file count.
    """
    sids = list_snapshots(table_path)
    if keep < 1:
        raise ValueError("keep must be >= 1")
    dropped = sids[:-keep]
    if not dropped:
        return {"removed_snapshots": [], "removed_files": 0}
    kept = set(sids[-keep:])
    # Lineage guard: never drop a DESCENDANT of a kept snapshot — that
    # would mean commit order put an ancestor after its child, i.e. the
    # ordering is corrupt, and deleting the descendant's unshared files
    # would be data loss.  Walk each dropped snapshot's parent chain; a
    # kept ancestor is fine (expected), a kept snapshot whose parent chain
    # passes through a dropped one is checked from the kept side.
    parent_of: dict[str, str | None] = {}
    for sid in sids:
        with open(os.path.join(table_path, f"{MANIFEST_PREFIX}{sid}.json")) as f:
            parent_of[sid] = json.load(f).get("parent_id")
    for sid in dropped:
        anc, seen = parent_of.get(sid), set()
        while anc is not None and anc not in seen:
            if anc in kept:
                raise RuntimeError(
                    f"refusing to expire {sid!r}: it descends from kept "
                    f"snapshot {anc!r} (retention would delete a newer commit)"
                )
            seen.add(anc)
            anc = parent_of.get(anc)
    keep_files: set[str] = set()
    for sid in kept:
        s = SnapshotReader(table_path, sid).snapshot
        keep_files |= {f["path"] for f in s.files}
        keep_files |= {d["path"] for d in s.delete_files}
    removed_files = 0
    for sid in dropped:
        snap = SnapshotReader(table_path, sid).snapshot
        for f in snap.files + snap.delete_files:
            if f["path"] in keep_files:
                continue
            fp = os.path.join(table_path, f["path"])
            if os.path.exists(fp):
                os.remove(fp)
                removed_files += 1
        os.remove(os.path.join(table_path, f"{MANIFEST_PREFIX}{sid}.json"))
    return {"removed_snapshots": dropped, "removed_files": removed_files}


def delete_snapshot(
    spark: SparkSession,
    table_path: str,
    keys: DataFrame,
    key: str,
    *,
    snapshot_id: str | None = None,
    base_snapshot_id: str | None = None,
) -> Snapshot:
    """DELETE, merge-on-read — the Iceberg v2 equality-delete commit.
    The keys to delete are written as a (tiny) parquet delete file; every
    base DATA file enters the new manifest by reference, untouched.  The
    reader applies the delete as a LEFT ANTI join at scan time, and only
    to data files with a smaller commit sequence number — rows appended
    after this commit are immune even if their keys collide.

    This is the scale-correct shape for small deletes on a 10^12-row
    table: commit cost is O(|keys|), zero data-file I/O, versus
    copy-on-write's O(matched file bytes) rewrite.  Read cost grows with
    accumulated delete files until :func:`rewrite_deletes` folds them in.
    """
    reader = SnapshotReader(table_path, base_snapshot_id)
    base = reader.snapshot
    snapshot_id = snapshot_id or f"snap-{time.time_ns():020d}"
    seq = base.seq + 1
    data_dir = os.path.join(table_path, snapshot_id)
    keys.select(key).distinct().coalesce(1).write.mode("overwrite").parquet(data_dir)

    import pyarrow.parquet as pq

    new_deletes = []
    for name in sorted(os.listdir(data_dir)):
        if not name.endswith(".parquet"):
            continue
        meta = pq.read_metadata(os.path.join(data_dir, name))
        stats = meta.row_group(0).column(0).statistics if meta.num_row_groups else None
        bounds = (
            {key: [stats.min, stats.max]}
            if stats is not None and stats.has_min_max
            else {}
        )
        new_deletes.append(
            {
                "path": os.path.join(snapshot_id, name),
                "rows": meta.num_rows,
                "key": key,
                "seq": seq,
                "bounds": bounds,
            }
        )
    manifest = os.path.join(table_path, f"{MANIFEST_PREFIX}{snapshot_id}.json")
    schema = None
    with open(
        os.path.join(table_path, f"{MANIFEST_PREFIX}{base.snapshot_id}.json")
    ) as f:
        schema = json.load(f).get("schema")
    with open(manifest, "w") as f:
        json.dump(
            {
                "snapshot_id": snapshot_id,
                "parent_id": base.snapshot_id,
                "seq": seq,
                "schema": schema,
                "files": base.files,
                "delete_files": base.delete_files + new_deletes,
            },
            f,
            indent=1,
        )
    return Snapshot(
        snapshot_id, table_path, base.files, seq, base.delete_files + new_deletes
    )


def rewrite_deletes(
    spark: SparkSession,
    table_path: str,
    *,
    snapshot_id: str | None = None,
    base_snapshot_id: str | None = None,
) -> Snapshot:
    """Fold accumulated merge-on-read delete files into the data — the
    Iceberg ``rewrite_position_delete_files`` / major-compaction step.
    Data files that no delete can apply to (sequence rule, or disjoint
    manifest bounds on the delete key) are carried by reference; only the
    possibly-affected files are read, anti-joined, and rewritten.  The new
    snapshot has zero delete files and reads as a plain scan again."""
    reader = SnapshotReader(table_path, base_snapshot_id)
    base = reader.snapshot
    if not base.delete_files:
        return base

    def may_apply(d: dict, f: dict) -> bool:
        if d.get("seq", 0) <= f.get("seq", 0):
            return False
        db = d.get("bounds", {}).get(d["key"])
        fb = f.get("bounds", {}).get(d["key"])
        if db is None or fb is None:
            return True
        return not (fb[1] < db[0] or fb[0] > db[1])

    affected = [
        f for f in base.files if any(may_apply(d, f) for d in base.delete_files)
    ]
    keep = [f for f in base.files if not any(may_apply(d, f) for d in base.delete_files)]
    if not affected:
        out = local_frame(spark, [], reader.schema) if reader.schema else None
        if out is None:
            raise ValueError("rewrite_deletes: nothing affected and no schema")
    else:
        out = reader._read_with_deletes(spark, affected)
    bcols = sorted({c for f in base.files for c in f.get("bounds", {})})
    pseudo_base = Snapshot(base.snapshot_id, table_path, keep, base.seq, [])
    return write_snapshot(
        out,
        table_path,
        snapshot_id=snapshot_id,
        bounds_cols=bcols or None,
        base=pseudo_base,
    )


def compact_snapshot(
    spark: SparkSession,
    table_path: str,
    *,
    min_rows: int,
    target_rows: int,
    snapshot_id: str | None = None,
    base_snapshot_id: str | None = None,
) -> Snapshot:
    """Small-file compaction — the Iceberg ``rewrite_data_files``
    maintenance op.  Data files with fewer than ``min_rows`` rows are read
    back, bin-packed into ~``target_rows``-row files, and committed as a
    REPLACE snapshot whose manifest lists the untouched large files plus
    the new compacted ones.  Rows are bit-identical: compaction is pure
    layout.  The replaced small files stay on disk (immutable, still
    referenced by the parent manifest) so time travel within the retention
    window is intact; :func:`expire_snapshots` reclaims them once the old
    manifests age out.

    Scale rationale: streaming/append commits at 10^12 docs produce
    O(commit-cadence) tiny files whose per-file open + footer-read
    overhead dominates the scan long before data volume does.  This op
    reads ONLY the small files — cost is O(small-file bytes), independent
    of table size — and the untouched files enter the new manifest by
    reference (no copy)."""
    import math

    reader = SnapshotReader(table_path, base_snapshot_id)
    base = reader.snapshot
    if base.delete_files:
        raise ValueError(
            "compact_snapshot on a table with merge-on-read delete files "
            "would break the delete sequence rule; run rewrite_deletes first"
        )
    small = [f for f in base.files if f["rows"] < min_rows]
    if not small:
        return base
    keep = [f for f in base.files if f["rows"] >= min_rows]
    total = sum(f["rows"] for f in small)
    nfiles = max(1, math.ceil(total / target_rows))
    df = reader._read(
        spark, [os.path.join(table_path, f["path"]) for f in small]
    ).repartition(nfiles)
    # carry the table's pruning metadata forward: any column bounded in any
    # existing file stays bounded in the compacted files
    bcols = sorted({c for f in base.files for c in f.get("bounds", {})})
    pseudo_base = Snapshot(base.snapshot_id, table_path, keep, base.seq, [])
    return write_snapshot(
        df,
        table_path,
        snapshot_id=snapshot_id,
        bounds_cols=bcols or None,
        base=pseudo_base,
    )


def merge_snapshot(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    key: str,
    *,
    snapshot_id: str | None = None,
    base_snapshot_id: str | None = None,
) -> Snapshot:
    """MERGE INTO, copy-on-write — the Iceberg upsert commit.  Rows of
    ``updates`` whose ``key`` exists in the base snapshot REPLACE those
    rows (WHEN MATCHED THEN UPDATE SET *); keys absent from the base are
    INSERTED (WHEN NOT MATCHED THEN INSERT *).  Only data files that
    actually CONTAIN a matched key are rewritten; every other base file
    enters the new manifest by reference, untouched.

    File selection is two-level, mirroring a real CoW MERGE plan:
      1. manifest prune — files whose recorded [min,max] bounds for
         ``key`` cannot intersect the updates' key range are carried
         forward without being opened (cost: zero I/O);
      2. exact membership — the surviving candidates are scanned once
         with ``input_file_name()`` and LEFT SEMI joined against the
         distinct update keys; the collect is one row PER MATCHED FILE
         (bounded by file count, never by row count), the same shape as
         Iceberg's matched-file side of a MERGE.

    The rewrite reads only matched files, anti-joins the update keys, and
    unions the updates — O(matched bytes + updates), independent of table
    size.  Updates must be key-unique (asserted): MERGE with duplicate
    source keys is non-deterministic in every engine and rejected here
    too."""
    if updates.groupBy(key).count().filter("count > 1").limit(1).count():
        raise ValueError(f"merge_snapshot: duplicate '{key}' values in updates")
    reader = SnapshotReader(table_path, base_snapshot_id)
    base = reader.snapshot
    if base.delete_files:
        raise ValueError(
            "merge_snapshot on a table with merge-on-read delete files "
            "would read through the deletes incorrectly; run "
            "rewrite_deletes first"
        )
    lo, hi = updates.agg(
        F.min(key).alias("lo"), F.max(key).alias("hi")
    ).first()

    def may_match(f: dict) -> bool:
        b = f.get("bounds", {}).get(key)
        if b is None or lo is None:
            return b is None  # unbounded file: must open; empty updates: no
        return not (b[1] < lo or b[0] > hi)

    cand = [f for f in base.files if may_match(f)]
    matched_paths: set[str] = set()
    if cand and lo is not None:
        keys_df = updates.select(key).distinct()
        hits = (
            reader._read(spark, [os.path.join(table_path, f["path"]) for f in cand])
            .select(key, F.input_file_name().alias("_f"))
            .join(keys_df, key, "left_semi")
            .select("_f")
            .distinct()
            .collect()
        )
        # input_file_name is a file: URI; match manifest entries by the
        # (snapshot_dir, basename) suffix, which is unique within a table
        suffixes = {"/".join(r["_f"].rstrip("/").split("/")[-2:]) for r in hits}
        matched_paths = {f["path"] for f in cand if f["path"] in suffixes}
    keep = [f for f in base.files if f["path"] not in matched_paths]
    if matched_paths:
        survivors = reader._read(
            spark, [os.path.join(table_path, p) for p in sorted(matched_paths)]
        ).join(updates.select(key), key, "left_anti")
        out = survivors.unionByName(updates.select(*survivors.columns))
    else:
        out = updates
    bcols = sorted({c for f in base.files for c in f.get("bounds", {})})
    pseudo_base = Snapshot(base.snapshot_id, table_path, keep, base.seq, [])
    return write_snapshot(
        out,
        table_path,
        snapshot_id=snapshot_id,
        bounds_cols=bcols or None,
        base=pseudo_base,
    )


# --- data-import plugin registry (ref: data_import/__init__.py:6-41) -------

_PLUGINS: dict[str, object] = {}


def register_data_import_plugin(name: str, factory) -> None:
    _PLUGINS[name] = factory


def get_data_import_plugin(name: str, **cfg):
    if name == "parquet":
        return lambda spark, path: spark.read.parquet(path)
    if name == "snapshot":
        return lambda spark, path: SnapshotReader(path, **cfg).load(spark)
    if name in _PLUGINS:
        return _PLUGINS[name]
    raise KeyError(f"unknown data import plugin {name!r}")
