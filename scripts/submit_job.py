#!/usr/bin/env python
"""Cluster job entry point for spark-submit (north_rule deployment path).
Build the --py-files zip first (``dist/`` is not tracked), then submit:

    scripts/make_dist.sh
    spark-submit --master <cluster> \\
        --py-files dist/fast_carpenter_spark.zip \\
        scripts/submit_job.py --sf-dir /root/testdata/sf0.01 \\
        --run-dir /tmp/fcs_submit_run --out /tmp/fcs_submit_out

Runs the flagship spatial-join + tile-binning pipeline as a checkpointed,
resumable run (re-submitting with the same --run-dir resumes from the
ledger), writes the final table as parquet + CSV with %.17g floats (the
reference's cutflow CSV float format, ref:
fast_carpenter/selection/stage.py:46), and prints a one-line JSON summary.

Unlike the test/bench harnesses this file does NOT sys.path-insert the
repo: every ``fast_carpenter_spark`` import must resolve through the
--py-files zip, which is exactly what a real cluster exercises.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--files-per-unit", type=int, default=1)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("fast_carpenter_spark_job").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    # imports resolve via --py-files on the driver AND executors
    from fast_carpenter_spark.checkpoint import CheckpointedRun
    from fast_carpenter_spark.queries import flagship_unit_job
    from fast_carpenter_spark.sources.snapshot import (
        SnapshotReader,
        list_snapshots,
        write_snapshot,
    )

    t0 = time.time()
    snap_dir = os.path.join(args.run_dir, "input_snapshot")
    if not (os.path.isdir(snap_dir) and list_snapshots(snap_dir)):
        docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
        write_snapshot(
            docs.repartition(4, "doc_id"), snap_dir,
            snapshot_id="snap-job", bounds_cols=["doc_id"],
        )
    reader = SnapshotReader(snap_dir)
    run = CheckpointedRun.from_snapshot(
        os.path.join(args.run_dir, "ckpt"),
        reader,
        flagship_unit_job(spark),
        files_per_unit=args.files_per_unit,
        description={"job": "flagship_pip_tile_agg", "sf_dir": args.sf_dir},
    )
    summary = run.execute(spark)
    final, metrics = run.finalize(spark)

    final.write.mode("overwrite").parquet(os.path.join(args.out, "tiles.parquet"))
    # CSV sink with %.17g floats — round-trip-exact doubles, the reference's
    # golden-file format (ref: selection/stage.py:46 to_csv float_format)
    pdf = final.toPandas()
    os.makedirs(args.out, exist_ok=True)
    pdf.to_csv(os.path.join(args.out, "tiles.csv"), index=False, float_format="%.17g")

    print(
        json.dumps(
            {
                "rows": len(pdf),
                "units_processed": len(summary["processed"]),
                "units_resumed_from_ledger": len(summary["skipped"]),
                "docs": metrics.get("docs"),
                "wall_s": round(time.time() - t0, 2),
                "out": args.out,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
