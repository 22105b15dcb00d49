"""Scale-killer plan guard in CI: the audit script's invariants for a few
cornerstone queries, so a refactor that introduces a cartesian/nested-loop
join or un-prunes the flagship scan fails the suite (not just the manual
`scripts/audit_plans.py` run)."""

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

from fast_carpenter_spark.queries import QUERIES

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
           # the join forms and tile smoothers on the shared cell enumerator
           "knn_geo", "radius_join_geo", "segment_join", "dbscan",
           "tile_smooth", "tile_gauss"]


def _plan(spark, name):
    df = QUERIES[name][0](spark, SF_DIR)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_no_scale_killers_in_cornerstone_plans(spark):
    for name in GUARDED:
        text = _plan(spark, name)
        assert "CartesianProduct" not in text, name
        assert not re.search(r"\(\d+\) BroadcastNestedLoopJoin", text), name
        # no row-at-a-time Python in any guarded plan
        assert "BatchEvalPython" not in text, name


def test_flagship_scan_stays_pruned(spark):
    """The flagship must read ONLY doc_id from parquet (span geometry is
    derived); a full-schema scan here is the single worst 100 TB
    regression this repo could take."""
    text = _plan(spark, "pip_tile_agg")
    reads = re.findall(r"ReadSchema: (struct<[^\n]*)", text)
    assert reads and all(r.strip() == "struct<doc_id:bigint>" for r in reads), reads
