"""The one recall@k scorer (ann.recall_at_k and its DuckDB twin
ann.recall_oracle_sql) on hand-made top-k frames, checked against hand
counts rather than the synthetic fixtures the oracle sweep shares."""

import duckdb
import pytest

from fast_carpenter_spark.functions import ann

# (exact pairs, approx pairs, n_exact, n_hit) — pairs are (query_id, neighbor_id)
CASES = {
    # query 1 keeps 2 of 3, query 2 keeps 1 of 2; the misses are not hits
    "partial_hits": (
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21)],
        [(1, 10), (1, 12), (1, 99), (2, 21), (2, 98)],
        5, 3,
    ),
    "zero_hits": ([(1, 10), (1, 11)], [(1, 12), (1, 13)], 2, 0),
    # query 7 is approximated but has no exact row: it scores nothing, and
    # its neighbour ids that match query 1's exact ones are not hits
    "approx_query_absent_from_exact": (
        [(1, 10), (1, 11)],
        [(1, 10), (7, 10), (7, 11)],
        2, 1,
    ),
}
K = 3


def _values_sql(pairs):
    rows = ", ".join(f"({q}, {n})" for q, n in pairs)
    return f"SELECT * FROM (VALUES {rows}) t(query_id, neighbor_id)"


@pytest.mark.parametrize("case", sorted(CASES))
def test_recall_at_k_hand_counts(spark, case):
    exact, approx, n_exact, n_hit = CASES[case]
    cols = "query_id long, neighbor_id long"
    out = ann.recall_at_k(
        spark.createDataFrame(exact, cols), spark.createDataFrame(approx, cols), K
    )
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("k", "int"), ("n_exact", "bigint"), ("n_hit", "bigint"), ("recall", "double"),
    ]
    assert [tuple(r) for r in out.collect()] == [(K, n_exact, n_hit, n_hit / n_exact)]


@pytest.mark.parametrize("case", sorted(CASES))
def test_recall_oracle_sql_hand_counts(case):
    exact, approx, n_exact, n_hit = CASES[case]
    con = duckdb.connect()
    rel = con.sql(ann.recall_oracle_sql(_values_sql(exact), _values_sql(approx), k=K))
    assert [str(t) for t in rel.types] == ["INTEGER", "BIGINT", "BIGINT", "DOUBLE"]
    assert rel.fetchall() == [(K, n_exact, n_hit, n_hit / n_exact)]
