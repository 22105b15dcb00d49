"""Config-driven pipeline: an ordered list of stages threaded through one
DataFrame — the reference's YAML "sequence" re-imagined
(ref: fast_carpenter/__main__.py:66-84; stage protocol
docs/processing_config.rst:94-140).

A stage is anything with ``apply(df) -> df``; stages are validated eagerly
at construction (the reference validates configs in stage constructors).
Unlike the reference there is no per-chunk loop: each stage contributes
lazy transformations and Catalyst plans the whole DAG at the sink.

Config shape (dict or YAML text):

    stages:
      - define:       {variables: [{r: "sqrt(lon**2 + lat**2)"}]}
      - cell_encode:  {res: 16, out: cell}
      - hilbert_layout: {res: 16, partitions: 256}
      - cutflow:      {selection: {All: [...]}, weights: {w: w}}
      - select_phasespace: {selection: "...", region_name: sig}
      - spatial_join: {strategy: broadcast}
      - systematics:  {weights: {...}}
      - binned_dataframe: {binning: [...], weights: {...}}
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from .. import grid
from ..operators.binned import BinnedDataframeStage
from ..operators.define import DefineStage
from ..operators.selection import CutFlowStage, SelectPhaseSpaceStage
from ..operators.skim import EventByEventDataframeStage
from ..operators.systematics import SystematicWeightsStage
from ..spatial.join import SpatialJoinStage


@dataclass
class CellEncodeStage:
    """Batched cell-ID assignment — the Define-like 'new variable' stage of
    the spatial pipeline (north_star); pure codegen SQL."""

    name: str
    res: int = 16
    out: str = "cell"
    lon_col: str = "lon"
    lat_col: str = "lat"

    def apply(self, df: DataFrame) -> DataFrame:
        if self.out in df.columns:
            raise ValueError(f"column {self.out!r} already exists")
        return df.withColumn(
            self.out, F.expr(grid.cell_sql(self.lon_col, self.lat_col, self.res, "spark"))
        )


@dataclass
class HilbertLayoutStage:
    """Physical layout: range-partition on the Hilbert key of the cell —
    space-filling locality so neighbouring cells land in the same
    partitions (SURVEY.md §4 'partitioning we must add').  The key is
    codegen SQL (grid.hilbert_key_sql), bit-identical to the numpy
    grid.hilbert_key; used for layout only, never for results."""

    name: str
    res: int = 16
    partitions: int = 32
    cell_col: str = "cell"
    # keep the Hilbert key as a named column (e.g. for snapshot manifest
    # bounds, enabling hkey-range file pruning); None = layout only
    keep_col: str | None = None

    def apply(self, df: DataFrame) -> DataFrame:
        cell = f"coalesce({self.cell_col}, 0)"  # a NULL cell keys as cell 0
        key = grid.hilbert_key_sql(
            grid.unpack_x_sql(cell, "spark"), grid.unpack_y_sql(cell, "spark"), self.res
        )
        out = df.withColumn("_hkey", F.expr(key))
        out = out.repartitionByRange(self.partitions, "_hkey")
        if self.keep_col:
            return out.withColumnRenamed("_hkey", self.keep_col)
        return out.drop("_hkey")


@dataclass
class KnnStage:
    """kNN neighbor lists over per-row points (density-adaptive local
    search; see spatial/knn.py)."""

    name: str
    res: int = 6
    ring: int = 1
    k: int = 3
    id_col: str = "doc_id"

    def __post_init__(self):
        from ..spatial.knn import check_k

        check_k(self.k)

    def apply(self, df: DataFrame) -> DataFrame:
        from ..spatial.knn import knn_local

        return knn_local(
            df.select(self.id_col, "lon", "lat"),
            id_col=self.id_col, res=self.res, ring=self.ring, k=self.k,
        )


@dataclass
class RasterJoinStage:
    """Sample the raster tile containing each point (spatial/raster.py)."""

    name: str
    res: int = 6

    def apply(self, df: DataFrame) -> DataFrame:
        from ..spatial.raster import raster_vector_join

        return raster_vector_join(df, res=self.res)


@dataclass
class TilePyramidStage:
    """Adaptive quadtree tiling: split cells holding > threshold points
    (spatial/pyramid.py)."""

    name: str
    res_max: int = 8
    res_min: int = 4
    threshold: int = 64
    weight_col: str | None = "w"

    def apply(self, df: DataFrame) -> DataFrame:
        from ..spatial.pyramid import tile_pyramid

        return tile_pyramid(
            df, res_max=self.res_max, res_min=self.res_min,
            threshold=self.threshold, weight_col=self.weight_col,
        )


@dataclass
class GeofenceStage:
    """Enter/exit transition events over span trajectories
    (spatial/geofence.py): PIP label join + one doc_id window pass.
    ``polygons`` is the same list-of-dicts layer SpatialJoinStage takes."""

    name: str
    polygons: list | None = None

    def apply(self, df: DataFrame) -> DataFrame:
        from ..spatial.geofence import span_labels, transitions_within

        return transitions_within(span_labels(df, self.polygons or []))


@dataclass
class DbscanStage:
    """Density-based clustering of point rows (spatial/cluster.py):
    (id, role, cluster_id) — eps-ring candidates, degree core test, Pregel
    components."""

    name: str
    eps: float = 1.0
    min_pts: int = 4
    id_col: str = "doc_id"
    lon_col: str = "lon"
    lat_col: str = "lat"

    def apply(self, df: DataFrame) -> DataFrame:
        from ..spatial.cluster import dbscan

        return dbscan(
            df,
            eps=self.eps,
            min_pts=self.min_pts,
            id_col=self.id_col,
            lon_col=self.lon_col,
            lat_col=self.lat_col,
        )


@dataclass
class DedupStage:
    """Corpus deduplication as a pipeline stage: documents failing the
    keep rule are DROPPED (destructive, like CutFlow).  ``method``:

    * ``exact``   — rolling-hash fingerprint groups; keep min doc_id;
    * ``minhash`` — MinHash-LSH near-dup clusters (functions/dedup.py);
      keep the cluster canonical (longest text, min doc_id on ties).

    The curation counterpart of the selection stages: the YAML pipeline
    can now express Define -> Dedup -> CutFlow -> BinnedDataframe."""

    name: str
    method: str = "exact"
    text_col: str = "text"
    threshold: float = 0.5

    def apply(self, df: DataFrame) -> DataFrame:
        from ..functions import dedup as d

        if self.method == "exact":
            keep = (
                d.exact_dedup(df, self.text_col)
                .select(F.col("canonical_doc_id").alias("doc_id"))
            )
        elif self.method == "minhash":
            keep = (
                d.dedup_canonical(df, self.text_col, self.threshold)
                .select(F.col("kept_doc").alias("doc_id"))
            )
        else:
            raise ValueError(f"unknown dedup method {self.method!r}")
        return df.join(keep, "doc_id", "left_semi")


STAGE_TYPES = {
    "define": lambda name, cfg: DefineStage.from_config(name, cfg["variables"]),
    "dedup": lambda name, cfg: DedupStage(name=name, **cfg),
    "tile_pyramid": lambda name, cfg: TilePyramidStage(name=name, **cfg),
    "cell_encode": lambda name, cfg: CellEncodeStage(name=name, **cfg),
    "hilbert_layout": lambda name, cfg: HilbertLayoutStage(name=name, **cfg),
    "cutflow": lambda name, cfg: CutFlowStage(name=name, **cfg),
    "select_phasespace": lambda name, cfg: SelectPhaseSpaceStage(name=name, **cfg),
    "spatial_join": lambda name, cfg: SpatialJoinStage(name=name, **cfg),
    "knn": lambda name, cfg: KnnStage(name=name, **cfg),
    "raster_join": lambda name, cfg: RasterJoinStage(name=name, **cfg),
    "geofence": lambda name, cfg: GeofenceStage(name=name, **cfg),
    "dbscan": lambda name, cfg: DbscanStage(name=name, **cfg),
    "systematics": lambda name, cfg: SystematicWeightsStage(name=name, **cfg),
    "binned_dataframe": lambda name, cfg: BinnedDataframeStage(name=name, **cfg),
    "skim": lambda name, cfg: EventByEventDataframeStage(name=name, **cfg),
}


# reference class name -> our stage type (ref: fast_carpenter/__init__.py:16-23
# known_stages); BuildAghast is deliberately scoped out (SURVEY.md §2.1)
_REF_CLASS_MAP = {
    "Define": "define",
    "CutFlow": "cutflow",
    "SelectPhaseSpace": "select_phasespace",
    "SystematicWeights": "systematics",
    "BinnedDataframe": "binned_dataframe",
    "EventByEventDataframe": "skim",
}


def _normalize_cfg(stype: str, cfg: dict) -> dict:
    """Accept the reference's looser config spellings: ``weights`` may be a
    string or list of names (ref: summary/binned_dataframe.py:120-135
    _create_weights), normalized to our {out_name: column} dict."""
    w = cfg.get("weights")
    if isinstance(w, str):
        cfg = {**cfg, "weights": {w: w}}
    elif isinstance(w, list):
        cfg = {**cfg, "weights": {x: x for x in w}}
    return cfg


class Pipeline:
    def __init__(self, stages: list):
        self.stages = stages

    @classmethod
    def from_config(cls, config: dict | str) -> "Pipeline":
        """Accepts BOTH config layouts:

        * native: ``stages: [- define: {variables: [...]}]`` — type as key,
          config inline;
        * reference: ``stages: [- jet_cleaning: fast_carpenter.Define]``
          with the stage's config under the top-level ``jet_cleaning`` key
          (ref: docs/demo_process_cfg.yml, docs/processing_config.rst:23-33).
        """
        if isinstance(config, str):
            import yaml  # optional dependency; dict configs never need it

            config = yaml.safe_load(config)
        stages = []
        for i, item in enumerate(config["stages"]):
            if len(item) != 1:
                raise ValueError("each stage must be a single {type: config} mapping")
            ((key, val),) = item.items()
            if isinstance(val, str):
                # reference layout: stage NAME -> dotted class path
                cls_name = val.rsplit(".", 1)[-1]
                if cls_name == "BuildAghast":
                    raise ValueError(
                        "BuildAghast is not supported (scoped out, SURVEY.md "
                        "§2.1); use binned_dataframe + the metadata sidecar"
                    )
                stype = _REF_CLASS_MAP.get(cls_name)
                if stype is None:
                    raise ValueError(f"unknown reference stage class {val!r}")
                cfg, name = config.get(key) or {}, key
            else:
                stype, cfg, name = key, val or {}, f"{key}_{i}"
            if stype not in STAGE_TYPES:
                raise ValueError(f"unknown stage type {stype!r}")
            stages.append(STAGE_TYPES[stype](name, _normalize_cfg(stype, cfg)))
        return cls(stages)

    def apply(self, df: DataFrame) -> DataFrame:
        for stage in self.stages:
            df = stage.apply(df)
        return df

    def metrics(self) -> dict[str, list[dict]]:
        """Cutflow counter rows per CutFlow stage, observed by the action
        that consumed ``apply``'s output (ValueError before that action)."""
        return {
            st.name: st._fetch_counters()
            for st in self.stages
            if getattr(st, "_fetch_counters", None) is not None
        }
