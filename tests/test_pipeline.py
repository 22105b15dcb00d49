"""Config-driven pipeline: the reference's YAML "sequence" UX
(ref: fast_carpenter/__main__.py:66-84, docs/demo_process_cfg.yml) as an
ordered stage list threaded through one DataFrame."""

import pytest

from pyspark.sql import functions as F

from fast_carpenter_spark import grid, synth
from fast_carpenter_spark.plans.pipeline import Pipeline

from conftest import SF_DIR


@pytest.fixture()
def spans(spark, docs):
    return spark.sql(synth.flat_spans_sql("spark"))


CONFIG = {
    "stages": [
        {"define": {"variables": [{"r2": "lon**2 + lat**2"}]}},
        {"cell_encode": {"res": 6, "out": "cell"}},
        {
            "cutflow": {
                "selection": {"All": ["n_chars > 100", "kind != 'table'"]},
                "weights": {"w": "w"},
            }
        },
        {
            "binned_dataframe": {
                "binning": [{"in": "cell"}],
                "weights": {"w": "w"},
            }
        },
    ]
}


def test_pipeline_from_config_matches_manual(spark, spans):
    pipe = Pipeline.from_config(CONFIG)
    got = sorted(tuple(r) for r in pipe.apply(spans).collect())

    manual = (
        spans.withColumn("r2", F.expr("pow(lon, 2) + pow(lat, 2)"))
        .withColumn("cell", F.expr(grid.cell_sql("lon", "lat", 6, "spark")))
        .filter("n_chars > 100 AND kind != 'table'")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("w").alias("w_sumw"),
            F.sum(F.col("w") * F.col("w")).alias("w_sumw2"),
        )
    )
    assert got == sorted(tuple(r) for r in manual.collect())


def test_pipeline_exposes_cutflow_metrics(spark, spans):
    pipe = Pipeline.from_config(CONFIG)
    pipe.apply(spans).collect()  # the counters ride this action
    metrics = pipe.metrics()
    assert len(metrics) == 1
    (ctr,) = metrics.values()
    rows = {(r["cut"], r["count_type"], r["weight_name"]): r["value"] for r in ctr}
    total = spans.count()
    assert rows[("n_chars > 100", "totals_incl", "unweighted")] == total
    passed = spans.filter("n_chars > 100 AND kind != 'table'").count()
    assert rows[("kind != 'table'", "passed_incl", "unweighted")] == passed


def test_pipeline_metrics_before_action_raises(spark, spans):
    """metrics() before any action raises instead of blocking on the
    observation; a bounded join turns a hang into a failure."""
    import threading

    pipe = Pipeline.from_config(CONFIG)
    pipe.apply(spans)
    raised = []

    def call():
        try:
            pipe.metrics()
        except ValueError as e:
            raised.append(e)

    t = threading.Thread(target=call, daemon=True)
    t.start()
    t.join(30)
    assert not t.is_alive()
    assert len(raised) == 1 and "run one" in str(raised[0])


def test_pipeline_spatial_join_stage(spark, spans):
    cfg = {
        "stages": [
            {"spatial_join": {"polygons": synth.polygons()}},
            {
                "binned_dataframe": {
                    "binning": [{"in": "region"}],
                    "weights": {"w": "w"},
                }
            },
        ]
    }
    out = Pipeline.from_config(cfg).apply(spans)
    rows = {r["region"]: r["n"] for r in out.collect()}
    assert set(rows) <= {"reg_0", "reg_1", "reg_2", "reg_3"} and sum(rows.values()) > 0


def test_pipeline_yaml_text(spark, spans):
    yaml = pytest.importorskip("yaml")  # noqa: F841
    text = """
stages:
  - define:
      variables:
        - flag: "where(n_chars > 200, 1.0, 0.0)"
  - binned_dataframe:
      binning:
        - in: flag
"""
    out = Pipeline.from_config(text).apply(spans).collect()
    assert {r["flag"] for r in out} <= {0.0, 1.0}


def test_pipeline_unknown_stage_raises():
    with pytest.raises(ValueError, match="unknown stage"):
        Pipeline.from_config({"stages": [{"nope": {}}]})


def test_hilbert_layout_stage(spark, spans):
    """Range partitioning on the Hilbert key: row-preserving, and each
    partition holds a contiguous Hilbert range (space-filling locality)."""
    import numpy as np

    from fast_carpenter_spark import grid
    from fast_carpenter_spark.plans.pipeline import CellEncodeStage, HilbertLayoutStage

    df = CellEncodeStage(name="ce", res=8, out="cell").apply(spans)
    out = HilbertLayoutStage(name="h", res=8, partitions=6).apply(df)
    assert out.count() == spans.count()
    assert out.rdd.getNumPartitions() == 6

    # per-partition [min,max] hilbert ranges must not overlap
    def part_range(it):
        cells = np.array([r["cell"] for r in it], dtype=np.int64)
        if len(cells) == 0:
            return
        _, x, y = grid.unpack_cells(cells)
        h = grid.hilbert_key(x, y, 8)
        yield (int(h.min()), int(h.max()))

    ranges = sorted(out.rdd.mapPartitions(part_range).collect())
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2


def test_hilbert_layout_key_is_codegen_sql_equal_to_numpy(spark):
    """The layout key is codegen SQL, no Python worker, and equals the numpy
    grid.hilbert_key on every cell of an order-8 grid and on finer cells,
    whose unmasked high bits drive the s-1-x flip negative."""
    import numpy as np

    from fast_carpenter_spark.plans.pipeline import HilbertLayoutStage

    n = 1 << 8
    grid8 = spark.range(n * n).selectExpr(
        f"{grid.pack_sql(8, f'id DIV {n}', f'id % {n}')} AS cell"
    )
    rng = np.random.default_rng(8)
    fine = [int(c) for c in grid.pack_cells(12, rng.integers(0, 1 << 12, 2000),
                                            rng.integers(0, 1 << 12, 2000))]
    fine = spark.createDataFrame([(c,) for c in fine], "cell long")
    for cells, n_rows in ((grid8, n * n), (fine, 2000)):
        out = HilbertLayoutStage(name="h", res=8, partitions=4, keep_col="hk").apply(cells)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        got = out.toPandas()
        assert len(got) == n_rows
        _, x, y = grid.unpack_cells(got["cell"].to_numpy())
        assert (got["hk"].to_numpy() == grid.hilbert_key(x, y, 8)).all()


def test_knn_rejects_k_below_one(spark, spans):
    from fast_carpenter_spark.plans.pipeline import KnnStage
    from fast_carpenter_spark.spatial.knn import knn_geo_local, knn_local

    pts = spans.select("doc_id", "lon", "lat")
    for k in (0, -1):
        for call in (
            lambda: knn_local(pts, k=k),
            lambda: knn_geo_local(pts, radius_km=50.0, k=k),
            lambda: KnnStage(name="knn", k=k),
        ):
            with pytest.raises(ValueError, match="k must be >= 1"):
                call()
    # a salt count below 1 fails before any plan, not as a JVM pmod error
    for nsalt in (0, -3):
        for call in (
            lambda: knn_local(pts, hot_threshold=1, nsalt=nsalt),
            lambda: knn_geo_local(pts, radius_km=50.0, hot_threshold=1, nsalt=nsalt),
        ):
            with pytest.raises(ValueError, match=f"nsalt must be >= 1, got {nsalt}"):
                call()


def test_config_validation_errors(spark, spans):
    """Bad configs raise typed errors at construction or apply (the
    reference validates eagerly in stage constructors, §5)."""
    from fast_carpenter_spark.operators.binned import BinnedDataframeStage
    from fast_carpenter_spark.operators.define import DefineStage, reduction_sql
    from fast_carpenter_spark.plans.pipeline import CellEncodeStage

    with pytest.raises(ValueError, match="unknown reduction"):
        reduction_sql("median", "a")
    with pytest.raises(ValueError, match="reduce must be"):
        reduction_sql(True, "a")
    with pytest.raises(ValueError):
        # unsupported function: caught when the expression is compiled
        # against the schema at apply time
        DefineStage.from_config("d", [{"x": "foo(lon)"}]).apply(spans)
    with pytest.raises(ValueError, match="already exists"):
        CellEncodeStage(name="ce", res=8, out="lon").apply(spans)
    with pytest.raises((KeyError, ValueError)):
        BinnedDataframeStage(name="b", binning=[{}]).apply(spans)


def test_pipeline_knn_and_raster_stages(spark, spans):
    out = Pipeline.from_config(
        {"stages": [{"knn": {"res": 5, "k": 2}}]}
    ).apply(spans.filter("span_idx = 0").select("doc_id", "lon", "lat"))
    assert out.columns == ["doc_id", "neighbor_id", "rank", "dist2"]
    assert out.filter("rank > 2").count() == 0 and out.count() > 0

    r = Pipeline.from_config({"stages": [{"raster_join": {"res": 6}}]}).apply(spans)
    assert {"tile_id", "tile_value"} <= set(r.columns)
    assert r.count() == spans.count()


def test_pipeline_geofence_and_dbscan_stages(spark, spans):
    from fast_carpenter_spark.queries import (
        DBSCAN_EPS,
        DBSCAN_MIN_PTS,
        q_dbscan,
        q_geofence_transitions,
    )

    out = Pipeline.from_config(
        {"stages": [{"geofence": {"polygons": synth.polygons()}}]}
    ).apply(spans)
    assert out.columns == ["doc_id", "span_idx", "from_poly", "to_poly"]
    want = q_geofence_transitions(spark, SF_DIR)
    assert out.exceptAll(want).count() == 0 and want.exceptAll(out).count() == 0

    pts = spans.filter("span_idx = 0").select("doc_id", "lon", "lat")
    out = Pipeline.from_config(
        {"stages": [{"dbscan": {"eps": DBSCAN_EPS, "min_pts": DBSCAN_MIN_PTS}}]}
    ).apply(pts)
    assert out.columns == ["doc_id", "role", "cluster_id"]
    want = q_dbscan(spark, SF_DIR)
    assert out.exceptAll(want).count() == 0 and want.exceptAll(out).count() == 0


def test_dedup_stage_exact_and_minhash(spark):
    """DedupStage drops non-canonical documents; exact keeps one doc per
    fingerprint, minhash one per near-dup cluster (a superset drop)."""
    from fast_carpenter_spark.plans.pipeline import Pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.count()

    p_exact = Pipeline.from_config(
        {"stages": [{"dedup": {"method": "exact"}}]}
    )
    kept_exact = p_exact.apply(docs)
    n_exact = kept_exact.count()
    assert 0 < n_exact <= n
    # one survivor per fingerprint
    from fast_carpenter_spark.functions.dedup import exact_dedup

    assert n_exact == exact_dedup(docs).count()

    p_mh = Pipeline.from_config(
        {"stages": [{"dedup": {"method": "minhash"}}]}
    )
    n_mh = p_mh.apply(docs).count()
    assert 0 < n_mh <= n_exact  # near-dup clusters merge exact groups

    import pytest as _pt

    with _pt.raises(ValueError, match="unknown dedup method"):
        Pipeline.from_config({"stages": [{"dedup": {"method": "nope"}}]}).apply(docs)
