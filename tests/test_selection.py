"""CutFlow semantics on a FakeTree-style synthetic table.

Mirrors /root/reference/tests/selection/test_filters.py:160-204: closed-form
columns (linspace) whose cut outcomes are computable by hand, exercising the
exact excl/after/before counter protocol of the All/Any combinators
(ref: filters.py:158-192) and the root wrapper (ref: filters.py:196-205).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fast_carpenter_spark.operators.selection import (
    CutFlowStage,
    SelectPhaseSpaceStage,
    compile_tree,
    counters_table,
    parse_selection,
    spark_leaf_sql,
)

N = 101


@pytest.fixture(scope="module")
def fake_tree(spark):
    # ref: fast_carpenter/testing/__init__.py:27-42 FakeTree
    nmuon = np.linspace(0, 5, N)
    nelectron = np.linspace(0, 10, N)
    njet = np.linspace(2, -18, N)
    w = (np.arange(N) % 8 + 1) / 8.0  # exact binary fractions
    rows = [
        (int(i), float(nmuon[i]), float(nelectron[i]), float(njet[i]), float(w[i]))
        for i in range(N)
    ]
    return spark.createDataFrame(rows, "id int, NMuon double, NElectron double, NJet double, w double")


def _counters(df, selection, weights=None):
    stage = CutFlowStage(name="test", selection=selection, weights=weights or {})
    rows = stage.counters(df).collect()
    return {
        (r.cut_id, r.count_type, r.weight_name): r.value for r in rows
    }, rows


def test_single_cut(fake_tree):
    vals, rows = _counters(fake_tree, "NMuon > 1")
    n_pass = sum(1 for i in range(N) if np.linspace(0, 5, N)[i] > 1)
    assert vals[("0", "passed_only_cut", "unweighted")] == n_pass
    assert vals[("0", "passed_incl", "unweighted")] == n_pass
    assert vals[("0", "totals_incl", "unweighted")] == N
    # root row mirrors the single cut; its totals count everything
    assert vals[("0", "totals_incl", "unweighted")] == N


def test_all_sequence(fake_tree):
    nmuon = np.linspace(0, 5, N)
    njet = np.linspace(2, -18, N)
    sel = {"All": ["NMuon > 1", "NJet < 0"]}
    vals, _ = _counters(fake_tree, sel)
    m1 = nmuon > 1
    m2 = njet < 0
    assert vals[("0,0", "passed_only_cut", "unweighted")] == m1.sum()
    assert vals[("0,0", "totals_incl", "unweighted")] == N
    assert vals[("0,1", "passed_only_cut", "unweighted")] == m2.sum()
    assert vals[("0,1", "passed_incl", "unweighted")] == (m1 & m2).sum()
    assert vals[("0,1", "totals_incl", "unweighted")] == m1.sum()
    assert vals[("0", "passed_incl", "unweighted")] == (m1 & m2).sum()


def test_any_sequence(fake_tree):
    nmuon = np.linspace(0, 5, N)
    nelectron = np.linspace(0, 10, N)
    sel = {"Any": ["NMuon > 4", "NElectron > 9"]}
    vals, _ = _counters(fake_tree, sel)
    m1 = nmuon > 4
    m2 = nelectron > 9
    assert vals[("0,0", "passed_only_cut", "unweighted")] == m1.sum()
    assert vals[("0,1", "passed_only_cut", "unweighted")] == m2.sum()
    assert vals[("0,1", "passed_incl", "unweighted")] == (m1 | m2).sum()
    assert vals[("0", "passed_incl", "unweighted")] == (m1 | m2).sum()
    # Any children arriving-before = everything (current_mask None at root)
    assert vals[("0,0", "totals_incl", "unweighted")] == N


def test_nested_any_in_all(fake_tree):
    nmuon = np.linspace(0, 5, N)
    nelectron = np.linspace(0, 10, N)
    njet = np.linspace(2, -18, N)
    sel = {"All": ["NJet < 0", {"Any": ["NMuon > 4", "NElectron > 9"]}]}
    vals, _ = _counters(fake_tree, sel)
    m_jet = njet < 0
    m_mu = nmuon > 4
    m_el = nelectron > 9
    # nested Any children: after = combine_op(new_mask, current_mask) with
    # combine_op = safe_and and current_mask = m_jet (ref: filters.py:176-192)
    assert vals[("0,1,0", "passed_incl", "unweighted")] == (m_mu & m_jet).sum()
    assert vals[("0,1,1", "passed_incl", "unweighted")] == ((m_mu | m_el) & m_jet).sum()
    assert vals[("0,1,0", "totals_incl", "unweighted")] == m_jet.sum()
    assert vals[("0", "passed_incl", "unweighted")] == (m_jet & (m_mu | m_el)).sum()


def test_weighted_counts(fake_tree):
    w = (np.arange(N) % 8 + 1) / 8.0
    nmuon = np.linspace(0, 5, N)
    vals, _ = _counters(fake_tree, "NMuon > 1", weights={"w": "w"})
    mask = nmuon > 1
    assert vals[("0", "passed_incl", "w")] == pytest.approx(w[mask].sum())
    assert vals[("0", "totals_incl", "w")] == pytest.approx(w.sum())
    assert vals[("0", "passed_incl", "unweighted")] == mask.sum()


def test_cutflow_filters(fake_tree):
    stage = CutFlowStage(name="t", selection={"All": ["NMuon > 1", "NJet < 0"]})
    out = stage.apply(fake_tree)
    nmuon = np.linspace(0, 5, N)
    njet = np.linspace(2, -18, N)
    assert out.count() == ((nmuon > 1) & (njet < 0)).sum()


def test_select_phasespace_keeps_rows(fake_tree):
    stage = SelectPhaseSpaceStage(name="t", selection="NMuon > 1", region_name="sig")
    out = stage.apply(fake_tree)
    assert out.count() == N
    assert out.filter("sig").count() == (np.linspace(0, 5, N) > 1).sum()
    with pytest.raises(ValueError):
        stage2 = SelectPhaseSpaceStage(name="t", selection="NMuon > 1", region_name="NJet")
        stage2.apply(fake_tree)


def test_jagged_reduce_cut(spark):
    df = spark.createDataFrame(
        [(0, [0.1, 0.4]), (1, [0.5]), (2, []), (3, [0.2, 0.35, 0.9])],
        "id int, px array<double>",
    )
    # ref: filters.py:129-146 ReduceSingleCut — Nth-element cut, missing -> False
    stage = CutFlowStage(name="t", selection={"reduce": 1, "formula": "px > 0.3"})
    out = stage.apply(df)
    assert sorted(r.id for r in out.collect()) == [0, 3]
    # reduce: any
    stage = CutFlowStage(name="t", selection={"reduce": "any", "formula": "px > 0.3"})
    assert sorted(r.id for r in stage.apply(df).collect()) == [0, 1, 3]


def test_row_order_matches_reference(fake_tree):
    sel = {"All": ["NMuon > 1", {"Any": ["NElectron > 9", "NJet < 0"]}]}
    tree = parse_selection(sel)
    _, specs = compile_tree(tree, spark_leaf_sql(fake_tree))
    assert [s.cut_id for s in specs] == ["0", "0,0", "0,1", "0,1,0", "0,1,1"]
    assert [s.depth for s in specs] == [0, 1, 1, 2, 2]


def test_data_eventtype_counts_unweighted(spark, docs):
    """Weights apply to MC only (ref: selection/filters.py:48,
    binned_dataframe.py:208): for a data dataset the weighted counters and
    sumw equal the unweighted counts."""
    from fast_carpenter_spark import synth
    from fast_carpenter_spark.operators.binned import BinnedDataframeStage
    from fast_carpenter_spark.operators.selection import CutFlowStage

    spans = spark.sql(synth.flat_spans_sql("spark"))
    sel = {"All": ["n_chars > 100"]}

    mc = CutFlowStage(name="c", selection=sel, weights={"w": "w"}).counters(spans)
    data = CutFlowStage(
        name="c", selection=sel, weights={"w": "w"}, is_mc=False
    ).counters(spans)
    mc_rows = {(r["count_type"], r["weight_name"]): r["value"] for r in mc.collect()}
    dt_rows = {(r["count_type"], r["weight_name"]): r["value"] for r in data.collect()}
    assert dt_rows[("passed_incl", "w")] == dt_rows[("passed_incl", "unweighted")]
    assert mc_rows[("passed_incl", "w")] != mc_rows[("passed_incl", "unweighted")]

    b_data = BinnedDataframeStage(
        name="b", binning=[{"in": "kind"}], weights={"w": "w"}, eventtype="data"
    ).apply(spans)
    for r in b_data.collect():
        assert r["w_sumw"] == float(r["n"])
    b_forced = BinnedDataframeStage(
        name="b", binning=[{"in": "kind"}], weights={"w": "w"},
        eventtype="data", weight_data=True,
    ).apply(spans)
    assert any(r["w_sumw"] != float(r["n"]) for r in b_forced.collect())


def test_apply_observed_single_pass(spark, docs):
    """df.observe() counters equal the standalone aggregation, collected
    from the SAME action that consumes the filtered rows (no second
    scan)."""
    from fast_carpenter_spark import synth
    from fast_carpenter_spark.operators.selection import CutFlowStage
    from fast_carpenter_spark.plans.pipeline import Pipeline

    spans = spark.sql(synth.flat_spans_sql("spark"))
    sel = {"All": ["n_chars > 100", {"Any": ["kind == 'image'", "lon > 0.0"]}]}
    stage = CutFlowStage(name="cf", selection=sel, weights={"w": "w"})

    filtered = stage.apply(spans)
    n_pass = filtered.count()  # the one action; metrics ride along
    (rows,) = Pipeline([stage]).metrics().values()

    ref = {
        (r["cut_id"], r["count_type"], r["weight_name"]): r["value"]
        for r in stage.counters(spans).collect()
    }
    got = {(r["cut_id"], r["count_type"], r["weight_name"]): r["value"] for r in rows}
    assert got == ref
    # and the filtered side agrees with the root mask
    assert n_pass == filtered.count()

