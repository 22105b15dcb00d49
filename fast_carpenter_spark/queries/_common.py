"""Driver-contract queries: each entry pairs a Spark implementation with an
independent DuckDB oracle over the same parquet tables.

Every operator from SURVEY.md §2 that is implemented gets an entry here;
``__spark_entry__.py`` re-exports them.  Column names are aliased
identically on both sides (driver hashes values after sorting columns by
name).  All weights/values are designed to be order-insensitive under
double addition (binary fractions / integers), so hash comparison is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import grid, synth
from ..operators.binned import BinnedDataframeStage, Dimension
from ..operators.define import DefineStage
from ..operators.selection import (
    CutFlowStage,
    SelectPhaseSpaceStage,
    compile_tree,
    oracle_counters_sql,
    parse_selection,
    spark_leaf_sql,
)
from ..operators.systematics import SystematicWeightsStage
from ..spatial.join import SpatialJoinStage
from ..spatial.knn import knn_oracle_sql, radius_join, radius_join_oracle_sql
from ..spatial.pip import pip_oracle_sql
from ..spatial.raster import raster_vector_join

BASE_RES = 16
TILE_RES = 8
COARSE_RES = 4
REGION_RES = 6


def _drain(q, timeout: int = 300) -> None:
    """Block until an availableNow streaming query finishes, and FAIL if
    it does not: a timed-out drain means the delta directory holds only a
    prefix of the batches, and silently aggregating it would be a wrong
    answer rather than an error."""
    done = q.awaitTermination(timeout)
    if not done:
        try:
            q.stop()
        finally:
            raise RuntimeError(
                f"streaming drain incomplete after {timeout}s — refusing to "
                "read a partial delta set"
            )


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df.createOrReplaceTempView("documents")
    return df


def flat_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_documents(spark, sf_dir)
    return spark.sql(synth.flat_spans_sql("spark"))





def _load_events(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    df.createOrReplaceTempView("events")
    return df


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


def _source_fingerprint_tag(sf_dir: str, table: str = "documents") -> str:
    """Cache tag from ``table``'s parquet (name, size, mtime) set so a
    regenerated testdata set can never hit a stale derived snapshot.
    Pass the table the cache is built from."""
    import hashlib
    import os

    src = f"{sf_dir}/{table}.parquet"
    parts = []
    if os.path.isfile(src):
        st = os.stat(src)
        parts.append(f"{table}.parquet:{st.st_size}:{int(st.st_mtime)}")
    else:
        for root, _, files in os.walk(src):
            for fn in sorted(files):
                st = os.stat(os.path.join(root, fn))
                parts.append(f"{fn}:{st.st_size}:{int(st.st_mtime)}")
    fp = hashlib.sha1("|".join(parts).encode()).hexdigest()[:12]
    return f"{os.path.basename(os.path.normpath(sf_dir))}_{fp}"
