"""Training-sequence packing: globally ordered prefix sums WITHOUT a
single-partition window.

The naive ``SUM(x) OVER (ORDER BY k)`` collapses the whole table onto one
reducer — the canonical scale-killer for the concat-and-chunk packing step
of an LLM data pipeline.  The classic two-pass scan fixes it:

1. ``repartitionByRange`` on the order column (RangePartitioner assigns
   ascending key ranges to ascending partition ids);
2. per-partition totals — K values for K partitions — collected to the
   driver (driver-side by design: K is the parallelism, not the data);
3. exclusive-scan the K totals into per-partition base offsets, broadcast
   them back;
4. a per-partition window cumsum (parallel across partitions) plus the
   base offset.

Wall-clock is two passes over the data with only the range shuffle moving
rows; every stage is data-parallel.  The partition ids are frozen with
``localCheckpoint`` so pass 2 and pass 4 cannot observe different range
boundaries (the sampler is deterministic, but freezing makes it airtight
and pays for itself by reusing the shuffle output).

Plays the role of fast-carpenter's chunked-event global ordering
(ref: fast_carpenter/event_builder.py:24-43 — per-chunk start_entry /
stop_entry offsets computed from file order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..session import local_frame


def global_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "prefix",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = EXCLUSIVE prefix sum of ``value_col`` in global
    ``order_col`` order (sum over all strictly-preceding rows).

    ``order_col`` values must be unique — they define the total order.
    ``value_col`` must be integral (the packing use case; double addition
    would be order-sensitive).
    """
    n_parts = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"
    )
    d = (
        df.repartitionByRange(int(n_parts), order_col)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    totals = {
        r["_pid"]: r["_tot"]
        for r in d.groupBy("_pid").agg(F.sum(value_col).alias("_tot")).collect()
    }
    base, acc = {}, 0
    for pid in sorted(totals):
        base[pid] = acc
        acc += totals[pid]
    spark = df.sparkSession
    base_df = F.broadcast(
        local_frame(spark, list(base.items()), "_pid int, _base bigint")
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.join(base_df, "_pid")
        .withColumn(
            out_col,
            F.col("_base") + F.coalesce(F.sum(value_col).over(w), F.lit(0)),
        )
        .drop("_pid", "_base")
    )
