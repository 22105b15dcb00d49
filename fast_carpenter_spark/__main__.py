"""CLI entry point — the reference's UX re-expressed on Spark:

    python -m fast_carpenter_spark DATASETS.yml PROCESSING.yml --outdir OUT

mirrors ``fast_carpenter datasets.yml processing.yml`` (ref:
fast_carpenter/__main__.py:66-84): the datasets file lists named datasets
(files + ``eventtype: mc|data``, fast-curator style, ref:
fast_carpenter/backends/coffea.py:106), the processing file is the ordered
stage sequence (ref: docs/processing_config.rst:23-33).  Outputs land under
--outdir: the final table as parquet + CSV with %.17g floats (ref:
selection/stage.py:46), per-dataset cutflow counter CSVs, and a run
manifest (ref: bookkeeping.py:71-77).

Each dataset is scanned once: writing ``result.parquet`` is the only Spark
action; the other formats are written from that parquet read back, and
``cutflow.csv`` holds the counters the CutFlow stages observed in that write.

Differences from the reference, by design:
* each dataset is one DataFrame, not a chunk loop — Catalyst plans the
  whole sequence; per-dataset results are unioned with a ``dataset``
  column instead of a driver-side concat;
* ``eventtype`` drives MC-only weighting via each stage's ``is_mc`` /
  ``eventtype`` field (ref: selection/filters.py:48).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import re
import sys
import time

import pandas as pd
import pyarrow.parquet as pq
import yaml

from pyspark.sql import functions as F

from . import minisinks, synth
from .plans.pipeline import Pipeline
from .session import build_session


def _safe_view_name(name: str, idx: int) -> str:
    """Dataset names often contain '-', '.', spaces — illegal in view
    identifiers; sanitize and uniquify by position."""
    return f"cli_docs_{idx}_{re.sub(r'[^A-Za-z0-9_]', '_', name)}"


def load_dataset(spark, cfg: dict, input_table: str, idx: int = 0):
    """One dataset -> its spans DataFrame (+ dataset/eventtype columns)."""
    paths = cfg["files"]
    docs = spark.read.parquet(*paths)
    view = _safe_view_name(cfg["name"], idx)
    docs.createOrReplaceTempView(view)
    if input_table == "documents":
        df = docs
    elif input_table == "spans_nested":
        # the interleaved doc-level view (doc_id, spans:array<struct>) plus
        # jagged/scalar derivations the reference-style Define/CutFlow
        # configs operate on (nBJets-like reductions need a jagged column).
        # weight is a binary fraction (k/16) so weighted double sums are
        # order-insensitive and the binned output stays bit-exact vs the
        # DuckDB oracle (same rule as synth.doc_weight_sql)
        df = spark.sql(
            f"SELECT t.*, transform(t.spans, s -> s.offset) AS offsets, "
            f"size(t.spans) AS n_spans, "
            f"CAST(1.0 + size(t.spans) / 16.0 AS DOUBLE) AS weight_nominal "
            f"FROM ({synth.spans_table_sql('spark', docs=view)}) t"
        )
    else:
        df = spark.sql(synth.flat_spans_sql("spark", docs=view))
    return df.withColumn("dataset", F.lit(cfg["name"]))


def specialize(pipeline: Pipeline, is_mc: bool) -> Pipeline:
    """Per-dataset stage copies with eventtype applied (the reference
    passes is_mc per chunk; we pass it per dataset)."""
    stages = []
    for st in pipeline.stages:
        if dataclasses.is_dataclass(st) and hasattr(st, "is_mc"):
            st = dataclasses.replace(st, is_mc=is_mc)
        elif dataclasses.is_dataclass(st) and hasattr(st, "eventtype"):
            st = dataclasses.replace(st, eventtype="mc" if is_mc else "data")
        stages.append(st)
    return Pipeline(stages)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="fast_carpenter_spark")
    ap.add_argument("datasets_yml")
    ap.add_argument("processing_yml")
    ap.add_argument("--outdir", required=True)
    ap.add_argument("--master", default="local[*]")
    ap.add_argument("--name", default="fast_carpenter_spark")
    args = ap.parse_args(argv)

    with open(args.datasets_yml) as f:
        datasets = yaml.safe_load(f)["datasets"]
    with open(args.processing_yml) as f:
        processing = yaml.safe_load(f)

    input_table = processing.get("input", "spans")
    pipeline = Pipeline.from_config(processing)

    spark = build_session(master=args.master, app_name=args.name)
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.outdir, exist_ok=True)
    t0 = time.time()

    results = []
    pipes = []
    if not datasets:
        sys.exit("config error: 'datasets' list is empty — nothing to process")
    for i, ds in enumerate(datasets):
        is_mc = ds.get("eventtype", "mc") == "mc"
        pipe = specialize(pipeline, is_mc)
        results.append(pipe.apply(load_dataset(spark, ds, input_table, i)))
        pipes.append((ds["name"], pipe))

    final = results[0]
    for r in results[1:]:
        final = final.unionByName(r)

    # extension-map sink (ref: summary/binned_dataframe.py:14-51): parquet is
    # always written (the at-scale output); the rest per config, each a
    # writer over the collected result like the reference's.  xlsx and msg
    # are served by the stdlib-only spec writers in minisinks (their usual
    # libraries are absent here); h5 stays the one documented non-goal —
    # a hand-rolled HDF5 writer could not be independently verified.
    sink_writers = {
        "csv": lambda pdf, path: pdf.to_csv(
            path + ".csv", index=False, float_format="%.17g"
        ),
        "json": lambda pdf, path: pdf.to_json(
            path + ".json", orient="records", lines=True, double_precision=15
        ),
        "pickle": lambda pdf, path: pdf.to_pickle(path + ".pkl"),
        # Stata has no +-inf: open-ended bin EDGES (the *_lo/*_hi bound
        # columns BinnedDataframe attaches) become missing values; metric
        # columns are left untouched so a legitimate infinite aggregate
        # fails loudly in to_stata rather than silently becoming missing.
        "dta": lambda pdf, path: pdf.replace(
            {c: {float("inf"): float("nan"), float("-inf"): float("nan")}
             for c in pdf.columns if c.endswith(("_lo", "_hi"))}
        ).to_stata(path + ".dta", write_index=False),
        "xlsx": lambda pdf, path: minisinks.write_xlsx(pdf, path + ".xlsx"),
        "msg": lambda pdf, path: minisinks.write_msgpack(pdf, path + ".msg"),
    }
    formats = processing.get("output_formats", ["csv"])
    unknown_formats = set(formats) - set(sink_writers)
    if unknown_formats:
        sys.exit(f"config error: unsupported output_formats {sorted(unknown_formats)}"
                 f" (supported: {sorted(sink_writers)}; parquet is always written)")
    result_dir = os.path.join(args.outdir, "result.parquet")
    final.write.mode("overwrite").parquet(result_dir)
    pdf = pq.read_table(result_dir).to_pandas()  # part files in name order
    for fmt in formats:
        sink_writers[fmt](pdf, os.path.join(args.outdir, "result"))
    cutflow = [
        {**row, "dataset": name, "stage": stage_name}
        for name, pipe in pipes
        for stage_name, rows in pipe.metrics().items()
        for row in rows
    ]
    if cutflow:
        pd.DataFrame(cutflow).to_csv(
            os.path.join(args.outdir, "cutflow.csv"), index=False, float_format="%.17g"
        )

    manifest = {
        "datasets": datasets,
        "processing": processing,
        "rows": len(pdf),
        "cutflow_rows": len(cutflow),
        "versions": {"python": sys.version.split()[0], "pyspark": spark.version},
        "wall_s": round(time.time() - t0, 2),
    }
    with open(os.path.join(args.outdir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    print(json.dumps({"rows": len(pdf), "cutflow_rows": len(cutflow),
                      "outdir": args.outdir, "wall_s": manifest["wall_s"]}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
