"""Structured-Streaming HLL distinct sketch over an unbounded corpus.

The streaming half of the sketch family (functions/sketch.py): documents
arrive continuously and the per-language distinct-bigram estimate must stay
current.  HLL state is the PERFECT fit for the engine's delta-partials
algebra (streaming/tile_stream.py): registers merge by element-wise MAX —
associative, commutative, idempotent — so

    per micro-batch:  sparse registers (lang, idx, max rho)   -- tiny
    read-time merge:  max per (lang, idx), then finalize      -- exact

* idempotent max-merge means a REPLAYED batch cannot perturb the sketch
  (stronger than the sum-based partials, which need the overwrite-by-batch
  discipline; it is kept anyway for uniformity);
* state is bounded: <= n_langs * 64 register rows per batch regardless of
  batch size — the sketch property, preserved end-to-end;
* the finalize step (functions/sketch.py hll_finalize) works from sketch
  state alone, so the drained stream's (n_hit, sum_int, est) must equal
  the batch hll_distinct's BIT-FOR-BIT (same registers, max of maxes) —
  asserted in tests and by the shared DuckDB oracle.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.sketch import hll_finalize, hll_registers
from ..session import local_frame


@dataclass
class StreamingHll:
    """Streaming per-language HLL register store over a documents dir."""

    name: str
    out_dir: str = "/tmp/fcs_hll_stream_out"
    checkpoint_dir: str = "/tmp/fcs_hll_stream_ckpt"

    @property
    def deltas_dir(self) -> str:
        return os.path.join(self.out_dir, "deltas")

    def start(self, spark: SparkSession, input_dir: str, *, available_now: bool = True):
        schema = spark.read.parquet(input_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 8)
            .parquet(input_dir)
        )

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            (
                hll_registers(batch_df)
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
        """Read-time max-merge + finalize: the current sketch estimate."""
        deltas = spark.read.option("recursiveFileLookup", "true").parquet(
            self.deltas_dir
        )
        merged = deltas.groupBy("lang", "idx").agg(F.max("M").alias("M"))
        return hll_finalize(merged, merged.select("lang").distinct())


@dataclass
class StreamingTheta:
    """Streaming theta (fixed-threshold KMV-style) distinct sketch.

    The set-operation sibling of StreamingHll: per micro-batch the KEPT SET
    (lang, h) — every distinct remixed bigram hash under theta — is written
    as that batch's delta; the read-time merge is plain set union
    (DISTINCT), which is associative, commutative and IDEMPOTENT, so a
    replayed batch cannot perturb the sketch by algebra alone.  Each
    batch's state is ~1/theta of its distinct-hash stream (the theta filter
    runs map-side before the distinct), and the merged kept set IS the
    corpus sketch — identical to the batch theta_registers, asserted
    bit-for-bit in tests.  Unlike HLL registers, the merged kept sets of
    different groups still support intersection/Jaccard at read time.
    """

    name: str
    out_dir: str = "/tmp/fcs_theta_stream_out"
    checkpoint_dir: str = "/tmp/fcs_theta_stream_ckpt"

    @property
    def deltas_dir(self) -> str:
        return os.path.join(self.out_dir, "deltas")

    def start(self, spark: SparkSession, input_dir: str, *, available_now: bool = True):
        from ..functions.sketch import theta_registers, tokens_sql

        schema = spark.read.parquet(input_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 8)
            .parquet(input_dir)
        )

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            # The delta carries BOTH the kept set and the batch's language
            # universe (as h=NULL sentinel rows, derived with the same
            # >=2-token gate the sketch uses): a language whose theta
            # filter kept nothing must still surface as (lang, 0) at
            # result() time, matching the exact oracle's LEFT JOIN from
            # the bigram-bearing language universe.
            regs = theta_registers(batch_df)
            langs = (
                batch_df.filter(f"size({tokens_sql('text', 'spark')}) >= 2")
                .select("lang")
                .distinct()
                .withColumn("h", F.lit(None).cast(regs.schema["h"].dataType))
                .select("lang", "h")
            )
            (
                regs.unionByName(langs)
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

    def registers(self, spark: SparkSession) -> DataFrame:
        """Set-union merge of the per-batch kept sets — the corpus sketch
        (the h=NULL universe sentinels are metadata, not sketch state)."""
        deltas = spark.read.option("recursiveFileLookup", "true").parquet(
            self.deltas_dir
        )
        return deltas.filter("h IS NOT NULL").select("lang", "h").distinct()

    def result(self, spark: SparkSession) -> DataFrame:
        """Per-language distinct estimate from the merged kept set, over
        the streamed language UNIVERSE: a language every one of whose
        hashes fell outside theta still yields (lang, 0, 0), exactly as
        the batch oracle's LEFT JOIN does."""
        from ..functions.sketch import THETA_DEN

        deltas = spark.read.option("recursiveFileLookup", "true").parquet(
            self.deltas_dir
        )
        langs = deltas.select("lang").distinct()
        kept = self.registers(spark).groupBy("lang").agg(
            F.count("*").alias("n_kept")
        )
        return (
            langs.join(kept, "lang", "left")
            .select(
                "lang",
                F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
                (F.coalesce("n_kept", F.lit(0)) * THETA_DEN)
                .cast("long")
                .alias("est_int"),
            )
            .orderBy("lang")
        )


@dataclass
class StreamingCms:
    """Streaming count-min sketch — the SUM-merge member of the sketch
    family (HLL merges by idempotent max, theta by idempotent union, CMS
    by plain addition).  Per micro-batch the bounded d×w grid partial
    (<= 1024 rows regardless of batch size) is written as that batch's
    delta; the read-time merge is an element-wise SUM per (row, cell).

    Addition is NOT idempotent, so unlike the other two sketches a
    replayed batch WOULD double-count — correctness rests on the engine's
    exactly-once discipline (checkpointed file-source offsets + per-batch
    overwrite into batch={id} paths), which is precisely what the restart
    test exercises.  The contrast is deliberate and documented: idempotent
    algebras survive at-least-once delivery, additive ones need the
    transactional sink.
    """

    name: str
    out_dir: str = "/tmp/fcs_cms_stream_out"
    checkpoint_dir: str = "/tmp/fcs_cms_stream_ckpt"

    @property
    def deltas_dir(self) -> str:
        return os.path.join(self.out_dir, "deltas")

    def start(self, spark: SparkSession, input_dir: str, *, available_now: bool = True):
        from ..functions.sketch import cms_sketch

        schema = spark.read.parquet(input_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 8)
            .parquet(input_dir)
        )

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            (
                cms_sketch(batch_df)
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
        """Element-wise sum-merge of the per-batch grids — the corpus
        sketch, equal to the single-pass cms_sketch by associativity."""
        deltas = spark.read.option("recursiveFileLookup", "true").parquet(
            self.deltas_dir
        )
        return deltas.groupBy("row", "cell").agg(F.sum("cnt").alias("cnt"))


@dataclass
class StreamingQdigest:
    """Streaming q-digest — quantiles over an unbounded corpus, completing
    the sketch family's streaming matrix (HLL max / theta union / CMS sum /
    q-digest histogram-sum).

    The delta is the bounded VALUE HISTOGRAM (<= U rows per batch, the
    q-digest's leaf level), merged by plain per-value SUM at read time;
    compression runs ONCE at finalize.  This ordering is what buys
    bit-exactness: summing histograms commutes, so the drained stream's
    digest is IDENTICAL to the single-pass batch digest — whereas merging
    per-batch COMPRESSED digests is lossy (guarantees survive, identity
    does not; that variant lives in functions/qdigest.qdigest_merge and
    its tests).  Sum-merge is not idempotent, so like CMS this sketch
    rides the exactly-once sink discipline.
    """

    name: str
    value_expr: str = "least(greatest(n_chars, 0), 1023)"
    out_dir: str = "/tmp/fcs_qd_stream_out"
    checkpoint_dir: str = "/tmp/fcs_qd_stream_ckpt"

    @property
    def deltas_dir(self) -> str:
        return os.path.join(self.out_dir, "deltas")

    def start(self, spark: SparkSession, input_dir: str, *, available_now: bool = True):
        schema = spark.read.parquet(input_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 8)
            .parquet(input_dir)
        )

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            (
                batch_df.selectExpr(f"{self.value_expr} AS v")
                .groupBy("v")
                .count()
                .withColumnRenamed("count", "cnt")
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
        """Sum-merge the histogram deltas, compress once, answer the
        standard percentiles — schema-identical to qdigest_quantiles."""
        from ..functions.qdigest import QUANTILE_SCHEMA, quantile_rows

        deltas = spark.read.option("recursiveFileLookup", "true").parquet(
            self.deltas_dir
        )
        hist_rows = deltas.groupBy("v").agg(F.sum("cnt").alias("cnt")).collect()
        hist = [(r["v"], r["cnt"]) for r in hist_rows]
        return local_frame(spark, quantile_rows(hist), QUANTILE_SCHEMA)
