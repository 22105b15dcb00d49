"""The plan audit's node counts as a plain function — no Spark.

``scripts/audit_plans.py`` summarizes each ``explain("formatted")`` text
for PLANS.md.  That text names every node twice, on its tree line and in
its numbered detail entry; here ``summarize`` gets a short halo-kNN plan
whose true counts are known: 1 broadcast join, 3 exchanges (2 hash, 1
broadcast), 3 codegen spans and 1 ``MapInArrow``.
"""

from __future__ import annotations

import importlib.util
import os

_PATH = os.path.join(os.path.dirname(__file__), os.pardir, "scripts", "audit_plans.py")
_spec = importlib.util.spec_from_file_location("audit_plans", _PATH)
audit_plans = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(audit_plans)

HALO_KNN_PLAN = """== Physical Plan ==
MapInArrow (11)
+- Exchange (10)
   +- * BroadcastHashJoin LeftOuter BuildRight (9)
      :- * ColumnarToRow (2)
      :  +- Scan parquet  (1)
      +- BroadcastExchange (8)
         +- * HashAggregate (7)
            +- Exchange (6)
               +- * HashAggregate (5)
                  +- * ColumnarToRow (4)
                     +- Scan parquet  (3)


(1) Scan parquet
Output [1]: [doc_id#5L]
ReadSchema: struct<doc_id:bigint>

(2) ColumnarToRow [codegen id : 3]

(3) Scan parquet
Output [1]: [doc_id#43L]
ReadSchema: struct<doc_id:bigint>

(4) ColumnarToRow [codegen id : 1]

(5) HashAggregate [codegen id : 1]
Keys [1]: [_groupingexpression#72L]
Functions [1]: [partial_count(1)]

(6) Exchange
Arguments: hashpartitioning(_groupingexpression#72L, 8), ENSURE_REQUIREMENTS, [plan_id=168]

(7) HashAggregate [codegen id : 2]
Keys [1]: [_groupingexpression#72L]
Functions [1]: [count(1)]

(8) BroadcastExchange
Arguments: HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=174]

(9) BroadcastHashJoin [codegen id : 3]
Left keys [1]: [_gcell#32L]
Right keys [1]: [_gcell#34L]
Join type: LeftOuter

(10) Exchange
Arguments: hashpartitioning(_gcell#32L, _salt#66, 8), REPARTITION_BY_COL, [plan_id=182]

(11) MapInArrow
Arguments: partial(_gcell#32L, _salt#66)#68, [doc_id#69L, neighbor_id#70L, rank#71L], false
"""


def test_summarize_counts_each_node_once():
    assert audit_plans.summarize("knn_geo_local", HALO_KNN_PLAN) == [
        "scan reads `struct<doc_id:bigint>`",
        "1 broadcast join(s), 0 sort-merge join(s), 3 exchange(s), "
        "3 whole-stage-codegen span(s), 1 Python/Arrow node(s)",
        "partial aggregation before the exchange (map-side combine)",
    ]

