"""Scale-killer plan guard in CI: the audit script's invariants for a few
cornerstone queries, so a refactor that introduces a cartesian/nested-loop
join or un-prunes the flagship scan fails the suite (not just the manual
`scripts/audit_plans.py` run)."""

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

from fast_carpenter_spark import synth
from fast_carpenter_spark.queries import QUERIES
from fast_carpenter_spark.queries.snapshot_q import flagship_unit_job

from conftest import SF_DIR

GUARDED = ["pip_tile_agg", "knn", "tile_agg", "radius_join", "sessions_overlap",
           # round-5 additions: the geodesic halo-exchange kernel and the
           # materialized trained-PQ / trained-IVF-PQ searches must stay
           # broadcast-only
           "knn_geo_local", "ann_pq_trained_topk", "ann_ivfpq_trained_topk",
           # the planar halo kernel, MinHash-LSH dedup, its connected
           # components and the tile pyramid
           "knn_local", "dedup_minhash_lsh", "dedup_cluster", "tile_pyramid",
           # the other two join strategies' queries: the refine (_inside OR
           # ray-cast) must stay a condition of the polygon hash join
           "pip_join_salted", "pip_anti",
           # the geodesic kNN at k=3, and the join forms and tile smoothers
           # on the shared cell enumerator
           "knn_geo", "radius_join_geo", "segment_join", "dbscan",
           "tile_smooth", "tile_gauss"]
# exchanges (hash and broadcast) of the iterative dedup_cluster's final plan
# at sf0.001: 2 measured, counted by detail entry
DEDUP_CLUSTER_MAX_EXCHANGES = 2


def _explain(df):
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _plan(spark, name):
    return _explain(QUERIES[name][0](spark, SF_DIR))


def test_no_scale_killers_in_cornerstone_plans(spark):
    for name in GUARDED:
        text = _plan(spark, name)
        assert "CartesianProduct" not in text, name
        assert not re.search(r"\(\d+\) BroadcastNestedLoopJoin", text), name
        # no row-at-a-time Python in any guarded plan
        assert "BatchEvalPython" not in text, name
        if name == "dedup_cluster":
            # one detail entry per node; the tree line would count it twice
            n_ex = len(re.findall(r"^\(\d+\) (?:Broadcast)?Exchange\b", text, re.M))
            assert n_ex <= DEDUP_CLUSTER_MAX_EXCHANGES, n_ex


def test_flagship_scan_stays_pruned(spark):
    """The flagship must read ONLY doc_id from parquet (span geometry is
    derived); a full-schema scan here is the single worst 100 TB
    regression this repo could take."""
    text = _plan(spark, "pip_tile_agg")
    reads = re.findall(r"ReadSchema: (struct<[^\n]*)", text)
    assert reads and all(r.strip() == "struct<doc_id:bigint>" for r in reads), reads


def test_driver_built_tables_start_no_python_worker(spark, docs):
    """Driver-built tables (polygons, covers, cutflow meta) enter the plan
    as Arrow local relations: a Python RDD (``Scan ExistingRDD``) would
    start a PySpark daemon and a Python worker per task on every run."""
    polys = synth.polygons_df(spark)
    assert "LocalTableScan" in _explain(polys)
    frames = {
        "polygons": polys,
        "pip_tile_agg": QUERIES["pip_tile_agg"][0](spark, SF_DIR),
        "flagship_unit_job": flagship_unit_job(spark)(docs)[0],
        "cutflow": QUERIES["cutflow"][0](spark, SF_DIR),
        "demo_pipeline": QUERIES["demo_pipeline"][0](spark, SF_DIR),
    }
    for name, df in frames.items():
        assert "Scan ExistingRDD" not in _explain(df), name
        assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString(), name


def test_halo_knn_crosses_into_python_once_per_partition(spark):
    """The halo kNN kernel's one Python node is a ``mapInArrow`` straight
    over the (block, salt) exchange: a per-group ``applyInPandas``
    (``FlatMapGroupsInPandas``) pays a pandas round trip and a Python call
    per block, and a sort in front of the kernel keeps the JVM sorter's
    pages alive."""
    python_node = re.compile(
        r"^\(\d+\) (ArrowEvalPython|BatchEvalPython|FlatMapGroupsIn\w+|MapIn\w+"
        r"|FlatMapCoGroupsIn\w+|WindowInPandas|AggregateInPandas)\b", re.M)
    for name in ("knn", "knn_local", "knn_geo", "knn_geo_local"):
        df = QUERIES[name][0](spark, SF_DIR)
        assert python_node.findall(_explain(df)) == ["MapInArrow"], name
        tree = df._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"MapInArrow [^\n]*\n\W*Exchange hashpartitioning\("
                         r"_gcell#\d+L, _salt#\d+, \d+\), REPARTITION_BY_COL", tree), name
