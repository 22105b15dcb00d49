"""The scaling script's batch summary as a plain function — no Spark.

``scripts/scaling.py`` turns per-batch (ALU ceiling, small level, big
level) results into efficiencies, bands and a best-sustained figure; here
it gets hand-made level dicts whose expected numbers are worked out by
hand.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

_PATH = os.path.join(os.path.dirname(__file__), os.pardir, "scripts", "scaling.py")
_spec = importlib.util.spec_from_file_location("scaling", _PATH)
scaling = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scaling)


def _alu(eff):
    return {"wall_small": 3.0, "wall_big": round(3.0 / eff, 3), "throughput_eff": eff}


def _level(times, n_docs=1000, digest="d0"):
    return {
        "times": times, "min_sec": min(times), "n_docs": n_docs,
        "docs_per_sec": round(n_docs / min(times), 1), "digest": digest,
    }


# three strong batches; raw = (min small / min big) / 4
STRONG = [
    (_alu(0.8), _level([8.0, 9.0]), _level([2.5, 3.0])),  # raw 0.8, engine 1.0
    (_alu(1.0), _level([10.0, 9.0]), _level([3.0, 4.0])),  # raw 0.75, engine 0.75
    (_alu(0.9), _level([12.0, 10.0]), _level([2.2, 2.0])),  # raw 1.25, engine 1.389
]


def test_strong_raw_and_engine_efficiency():
    s = scaling.summarize(STRONG[:1], weak=False)
    (row,) = s["batches"]
    assert row["raw_eff"] == 0.8 and row["engine_eff"] == 1.0
    assert row["min_small_sec"] == 8.0 and row["min_big_sec"] == 2.5
    assert row["runs_small"] == [8.0, 9.0] and row["digests"] == ["d0", "d0"]
    assert s["results_identical_across_levels"] is True


def test_weak_raw_is_the_plain_time_ratio():
    batch = (_alu(0.8), _level([8.0], n_docs=250, digest="a"),
             _level([10.0], n_docs=1000, digest="b"))
    s = scaling.summarize([batch], weak=True)  # weak: digests differ by design
    (row,) = s["batches"]
    assert row["raw_eff"] == 0.8 and row["engine_eff"] == 1.0
    assert (row["n_docs_small"], row["n_docs_big"]) == (250, 1000)
    assert s["results_identical_across_levels"] is None


def test_bands_and_best_sustained():
    s = scaling.summarize(STRONG, weak=False)
    assert [r["raw_eff"] for r in s["batches"]] == [0.8, 0.75, 1.25]
    assert [r["engine_eff"] for r in s["batches"]] == [1.0, 0.75, 1.389]
    assert s["band_raw_eff"] == {"min": 0.75, "median": 0.8, "max": 1.25}
    assert s["band_alu_eff"] == {"min": 0.8, "median": 0.9, "max": 1.0}
    assert s["band_engine_eff"] == {"min": 0.75, "median": 1.0, "max": 1.389}
    # min over all small runs 8.0, over all big runs 2.0: (8 / 2) / 4
    assert s["best_sustained_raw_eff"] == 1.0
    assert s["best_alu_eff"] == 1.0 and s["best_engine_eff"] == 1.0


def test_strong_digest_mismatch_raises():
    bad = (_alu(0.9), _level([8.0], digest="d0"), _level([2.0], digest="d1"))
    with pytest.raises(ValueError, match="batch 1: result digests differ"):
        scaling.summarize([STRONG[0], bad], weak=False)
