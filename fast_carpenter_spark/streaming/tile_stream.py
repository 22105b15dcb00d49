"""Structured-Streaming tile aggregation — the BinnedDataframe re-expressed
over an unbounded documents stream.

The reference is batch-only (chunk iteration is synchronous,
ref: fast_carpenter/backends/_alphatwirl.py:81-86), but its merge algebra —
associative partial histograms (ref:
fast_carpenter/summary/binned_dataframe.py:225-238) — is exactly what a
streaming sink needs: each micro-batch produces a per-(cell) partial that is
merged into the running state.

Spark-first shape:

* ``readStream`` on the snapshot/table directory (file source here; a Kafka
  or Iceberg-CDC source is a ``format()`` swap);
* the same codegen'd span derivation + cell encode as the batch engine
  (one code path, no drift);
* ``foreachBatch`` writes each micro-batch's *partial* aggregate as an
  append-only parquet delta keyed by batch id — idempotent under replays
  (overwrite by batch-id partition), exactly the checkpoint ledger algebra
  of checkpoint.py;
* the queryable result is a tiny read-time merge: ``groupBy(cell).sum(...)``
  over the deltas — the associative final merge.

This "delta partials + read-time merge" pattern scales: state never lives
in executor memory (no unbounded streaming-state store), hot cells cost one
extra sum at read, and the sink stays append-only — object-store friendly
at 10^12-doc scale.  For bounded-lateness use cases, add
``withWatermark("event_time", ...)`` + update-mode aggregation instead.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import grid, synth


@dataclass
class StreamingTileAgg:
    """Streaming per-cell tile aggregation over a documents directory."""

    name: str
    res: int = 8
    out_dir: str = "/tmp/fcs_stream_out"
    checkpoint_dir: str = "/tmp/fcs_stream_ckpt"

    @property
    def deltas_dir(self) -> str:
        return os.path.join(self.out_dir, "deltas")

    def _tile_partial(self, docs: DataFrame) -> DataFrame:
        """documents (micro-batch or batch) -> per-cell partial aggregate.
        Identical derivation to the batch engine's q2 (queries.py
        q_tile_agg): span explode + geometry + cell encode + agg."""
        docs.createOrReplaceTempView("stream_batch_docs")
        spans = docs.sparkSession.sql(
            synth.flat_spans_sql("spark", docs="stream_batch_docs")
        )
        cell = F.expr(grid.cell_sql("lon", "lat", self.res, "spark"))
        return (
            spans.withColumn("cell", cell)
            .groupBy("cell")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("w").alias("w_sumw"),
                F.sum(F.col("w") * F.col("w")).alias("w_sumw2"),
            )
        )

    def start(
        self,
        spark: SparkSession,
        input_dir: str | None = None,
        *,
        stream: DataFrame | None = None,
        available_now: bool = True,
    ):
        """Start the stream.  ``available_now=True`` drains what exists and
        stops (test/backfill mode); False runs continuously.

        ``stream`` is the documented ``format()`` swap made concrete: any
        streaming DataFrame with the documents schema (Kafka value parse,
        Iceberg CDC, Spark's built-in rate source, ...) plugs in here and
        flows through the identical partial/merge algebra — proven with the
        zero-dependency rate source in tests/test_streaming_rate_source.py.
        When None, the default parquet file source over ``input_dir``."""
        if stream is None and input_dir is None:
            raise ValueError("provide input_dir or stream")
        if stream is None:
            schema = spark.read.parquet(input_dir).schema
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 8)
                .parquet(input_dir)
            )

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            # partial per micro-batch; overwrite-by-batch-id = idempotent
            # under micro-batch replay after failure
            (
                self._tile_partial(batch_df)
                .withColumn("_batch", F.lit(batch_id))
                .write.mode("overwrite")
                .parquet(os.path.join(self.deltas_dir, f"batch={batch_id}"))
            )

        writer = (
            stream.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def result(self, spark: SparkSession) -> DataFrame:
        """Read-time associative merge of all micro-batch deltas."""
        deltas = spark.read.option("recursiveFileLookup", "true").parquet(
            self.deltas_dir
        )
        return (
            deltas.groupBy("cell")
            .agg(
                F.sum("n").alias("n"),
                F.sum("w_sumw").alias("w_sumw"),
                F.sum("w_sumw2").alias("w_sumw2"),
            )
        )


@dataclass
class WindowedTileStream:
    """Event-time windowed tile aggregation with watermarked late-data
    handling — the bounded-lateness variant of StreamingTileAgg.

    Event time is carried by the documents (synthesized deterministically
    here: ``t0 + (doc_id % 90) minutes`` — a real table has its own
    timestamp column).  The aggregation groups by (5-minute window, cell)
    under ``withWatermark(delay)``: rows later than the watermark are
    DROPPED, and append mode emits each window exactly once, when the
    watermark passes its end — so the parquet sink accumulates closed
    windows across restarts (checkpointed watermark state)."""

    name: str
    res: int = 4
    window: str = "5 minutes"
    delay: str = "10 minutes"
    out_dir: str = "/tmp/fcs_wstream_out"
    checkpoint_dir: str = "/tmp/fcs_wstream_ckpt"

    EVENT_TIME_SQL = (
        "timestamp'2026-01-01 00:00:00' + make_dt_interval(0, 0, doc_id % 90, 0)"
    )

    def _agg(self, docs: DataFrame) -> DataFrame:
        docs.createOrReplaceTempView("wstream_docs")
        spans = docs.sparkSession.sql(
            synth.flat_spans_sql("spark", docs="wstream_docs")
        ).withColumn("event_time", F.expr(self.EVENT_TIME_SQL))
        cell = F.expr(grid.cell_sql("lon", "lat", self.res, "spark"))
        return (
            spans.withColumn("cell", cell)
            .withWatermark("event_time", self.delay)
            .groupBy(F.window("event_time", self.window).alias("win"), "cell")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("w_sumw"))
            .select(
                F.col("win.start").alias("win_start"),
                F.col("win.end").alias("win_end"),
                "cell", "n", "w_sumw",
            )
        )

    def start(self, spark: SparkSession, input_dir: str):
        schema = spark.read.parquet(input_dir).schema
        stream = spark.readStream.schema(schema).parquet(input_dir)
        return (
            self._agg(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", self.out_dir)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    def result(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.out_dir)


def stateful_cell_counters(
    spark: SparkSession,
    input_dir: str,
    *,
    res: int = 4,
    out_dir: str = "/tmp/fcs_sstream_out",
    checkpoint_dir: str = "/tmp/fcs_sstream_ckpt",
):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    a RUNNING per-cell counter (n, sumw) maintained in the state store
    across micro-batches and restarts — the streaming analogue of the
    cutflow Counter protocol (ref: fast_carpenter/selection/filters.py:28-63
    Counter.increment/add; state merge is the same associative sum).

    Each update emits the cell's new running totals; the state store (and
    therefore resumability) is handled by the engine's checkpoint."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = spark.read.parquet(input_dir).schema
    docs = spark.readStream.schema(schema).parquet(input_dir)
    docs.createOrReplaceTempView("sstream_docs")
    spans = spark.sql(synth.flat_spans_sql("spark", docs="sstream_docs"))
    keyed = spans.withColumn(
        "cell", F.expr(grid.cell_sql("lon", "lat", res, "spark"))
    ).select("cell", "w")

    def update(key, pdfs, state: GroupState):
        n, sumw = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            sumw += float(pdf["w"].sum())
        state.update((n, sumw))
        yield pd.DataFrame({"cell": [key[0]], "n": [n], "w_sumw": [sumw]})

    counts = keyed.groupBy("cell").applyInPandasWithState(
        update,
        outputStructType="cell long, n long, w_sumw double",
        stateStructType="n long, w_sumw double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        counts.writeStream.outputMode("update")
        .foreachBatch(
            lambda df, bid: df.withColumn("_batch", F.lit(bid))
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"batch={bid}"))
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
