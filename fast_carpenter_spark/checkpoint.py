"""Checkpointed, resumable runs — per-partition partials with counter lineage.

The north rule requires the 10^12-doc job to be "resumable from checkpoint
with per-partition lineage + metrics".  The reference already proves the
algebra this needs: its per-chunk partials merge associatively —
``Counter.add`` (ref: fast_carpenter/selection/filters.py:61-63) and
``DataFrame.add`` histogram merge (ref:
fast_carpenter/summary/binned_dataframe.py:232-238) — so a run can be cut
into independent work units whose partial outputs are summed at the end, in
any order, across restarts.

Spark-first design:

* A **work unit** is a group of snapshot data files (from the Iceberg-style
  manifest, sources/snapshot.py).  At 10^12 docs a unit is O(thousands) of
  parquet files; each unit is one bounded Spark job, so a lost driver or a
  pre-empted cluster loses at most one unit of work.
* Per unit the engine writes:
    - ``partials/<unit_id>/``  — the unit's *partial aggregate* parquet
      (already reduced: tiny relative to input), and
    - one ledger line in ``ledger.jsonl`` with the unit's **lineage
      metrics**: rows processed, wall seconds, and the cutflow counters
      (per-cut pass/fail, the reference's Counter protocol, ref:
      selection/filters.py:28-63).
  The partial write is the unit's only Spark action; the metrics are
  observed (``DataFrame.observe``) by that write.
  The ledger line is appended only after the partial parquet is fully
  written (write-ahead partial): a crash between the two just redoes the
  unit, and overwrite keeps it exact.
* **Resume** = skip every unit with a valid ledger line.  A torn final line
  (crash mid-append) fails JSON parse and the unit is redone.
* **Finalize** = read the partials of ledger-complete units, merge with one
  associative ``groupBy().sum()``, merge counter dicts element-wise, and
  write a run manifest (configs + versions + unit lineage — the
  reference's bookkeeping tarball, ref: fast_carpenter/bookkeeping.py:71-77,
  102-111, as JSON).
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F


def merge_binned_partials(partials: DataFrame) -> DataFrame:
    """Default merge for BinnedDataframe-style partials: sum the count /
    sumw / sumw2 measures over all key columns (associative + commutative,
    the reference's ``DataFrame.add(fill_value=0)``)."""
    sum_cols = [c for c in partials.columns if c == "n" or "sumw" in c]
    keys = [c for c in partials.columns if c not in sum_cols]
    return partials.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    )


def merge_metrics(a: dict, b: dict) -> dict:
    """Element-wise sum of (possibly nested) numeric metric dicts — the
    reference's Counter.add (ref: selection/filters.py:61-63)."""
    out = dict(a)
    for k, v in b.items():
        if k in out and isinstance(out[k], dict) and isinstance(v, dict):
            out[k] = merge_metrics(out[k], v)
        elif k in out and isinstance(out[k], (int, float)) and isinstance(v, (int, float)):
            out[k] = out[k] + v
        else:
            out[k] = v
    return out


@dataclass
class CheckpointedRun:
    """Resumable execution of ``job`` over independent file-group units.

    ``job(df_unit) -> (partial_df, fetch_metrics)`` must return an
    associative partial (pre-aggregated) plus a callable that, once the
    partial has been written, returns a JSON-able metrics dict (cutflow
    counters etc., observed by that write).  ``merge`` collapses the union
    of partials to the final table (default: sum BinnedDataframe measures).
    """

    run_dir: str
    units: dict[str, list[str]]  # unit_id -> parquet file paths
    job: Callable[[DataFrame], tuple[DataFrame, Callable[[], dict]]]
    merge: Callable[[DataFrame], DataFrame] = field(default=merge_binned_partials)
    description: dict = field(default_factory=dict)

    # -- construction -------------------------------------------------------

    @classmethod
    def from_snapshot(
        cls,
        run_dir: str,
        reader,
        job,
        *,
        files_per_unit: int = 1,
        merge=merge_binned_partials,
        description: dict | None = None,
    ) -> "CheckpointedRun":
        """Units from an Iceberg-style snapshot manifest: consecutive groups
        of ``files_per_unit`` data files, ids stable across restarts."""
        paths = reader.snapshot.file_paths
        units = {}
        for i in range(0, len(paths), files_per_unit):
            unit_id = f"u{i // files_per_unit:05d}"
            units[unit_id] = paths[i : i + files_per_unit]
        desc = dict(description or {})
        desc.setdefault("snapshot_id", reader.snapshot_id)
        desc.setdefault("table_path", reader.table_path)
        return cls(run_dir=run_dir, units=units, job=job, merge=merge, description=desc)

    # -- ledger -------------------------------------------------------------

    @property
    def ledger_path(self) -> str:
        return os.path.join(self.run_dir, "ledger.jsonl")

    def completed_units(self) -> dict[str, dict]:
        """unit_id -> ledger entry, ignoring torn/corrupt lines."""
        done: dict[str, dict] = {}
        if not os.path.exists(self.ledger_path):
            return done
        with open(self.ledger_path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    entry = json.loads(line)
                except json.JSONDecodeError:
                    continue  # torn write from a crash: unit will be redone
                uid = entry.get("unit_id")
                # the unit is complete only if it covered the SAME files this
                # run would assign it — a ledger written against a different
                # snapshot or files_per_unit must not be merged as done
                if uid in self.units and entry.get("files") == self.units[uid]:
                    done[uid] = entry
        return done

    def _partial_dir(self, unit_id: str) -> str:
        return os.path.join(self.run_dir, "partials", unit_id)

    # -- execution ----------------------------------------------------------

    def execute(self, spark: SparkSession, *, max_units: int | None = None) -> dict:
        """Process pending units (optionally at most ``max_units`` — the
        test hook for simulated interruption).  Returns a summary."""
        os.makedirs(self.run_dir, exist_ok=True)
        # a crash mid-append can leave a torn line WITHOUT a trailing
        # newline; terminate it so recovery appends start on a fresh line
        if os.path.exists(self.ledger_path):
            with open(self.ledger_path, "rb+") as f:
                f.seek(0, os.SEEK_END)
                if f.tell() > 0:
                    f.seek(-1, os.SEEK_END)
                    if f.read(1) != b"\n":
                        f.write(b"\n")
        done = self.completed_units()
        processed = []
        for unit_id, paths in self.units.items():
            if unit_id in done:
                continue
            if max_units is not None and len(processed) >= max_units:
                break
            t0 = time.time()
            df_unit = spark.read.parquet(*paths)
            partial, fetch_metrics = self.job(df_unit)
            # write-ahead partial, then ledger append: crash between the two
            # redoes the unit (overwrite), never double-counts it
            partial.write.mode("overwrite").parquet(self._partial_dir(unit_id))
            metrics = fetch_metrics()
            entry = {
                "unit_id": unit_id,
                "files": paths,
                "wall_s": round(time.time() - t0, 3),
                "ts": time.time(),
                "metrics": metrics,
            }
            with open(self.ledger_path, "a") as f:
                f.write(json.dumps(entry) + "\n")
            processed.append(unit_id)
        return {
            "processed": processed,
            "skipped": sorted(done),
            "pending": [
                u for u in self.units if u not in done and u not in processed
            ],
        }

    # -- finalize -----------------------------------------------------------

    def finalize(self, spark: SparkSession) -> tuple[DataFrame, dict]:
        """Merge all unit partials into the final table + merged metrics,
        and write the run manifest.  Requires every unit complete."""
        done = self.completed_units()
        missing = [u for u in self.units if u not in done]
        if missing:
            raise RuntimeError(f"units not complete: {missing}")
        partials = spark.read.parquet(
            *[self._partial_dir(u) for u in self.units]
        )
        final = self.merge(partials)

        metrics: dict = {}
        for entry in done.values():
            metrics = merge_metrics(metrics, entry.get("metrics", {}))

        manifest = {
            "description": self.description,
            "units": {u: {"files": p} for u, p in self.units.items()},
            "lineage": {
                u: {k: v for k, v in e.items() if k != "files"}
                for u, e in done.items()
            },
            "merged_metrics": metrics,
            "versions": {
                "python": sys.version.split()[0],
                "pyspark": spark.version,
            },
            "finalized_ts": time.time(),
        }
        with open(os.path.join(self.run_dir, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        return final, metrics
