"""Expected outputs: result digests and the references they are checked against.

Every operation's output is reduced to a small order-independent digest
(row count, exact sums, and a sum of per-row CRC32s) so a check costs no
second pass: the Spark side computes it with ``DataFrame.observe`` in the
same action that runs the operation.  Weights are binary fractions, so the
sums are exact in any order and digests compare with ``==``.

References come from the DuckDB oracles in ``fast_carpenter_spark.queries``
(``O_PIP_TILE_AGG``, ``knn_geo_oracle_sql``, ``oracle_counters_sql``):

* counters run at full size, over the flat spans materialized once;
* the brute-force PIP oracle checks every (span, polygon edge) pair
  (~8.5k docs/s on 4 cores) and the kNN oracle is an all-pairs join, so
  neither finishes at benchmark size.  They run on the anchor input (the
  5000 sf0.1-size base docs under the same seed).  At full size the PIP
  references come from ``flagship_reference`` below, a numpy port of the
  oracle's crossing formula that is compared with ``O_PIP_TILE_AGG`` on the
  anchor in every run; the full-size kNN check is structural (run.py).
"""

from __future__ import annotations

import zlib

import duckdb
import numpy as np
import pandas as pd

from fast_carpenter_spark import grid, synth
from fast_carpenter_spark.expressions import compile_expression
from fast_carpenter_spark.operators.selection import (
    compile_tree,
    oracle_counters_sql,
    parse_selection,
)
from fast_carpenter_spark.queries import CUTFLOW_SELECTION, O_PIP_TILE_AGG, REGION_RES
from fast_carpenter_spark.spatial.knn import knn_geo_oracle_sql

import inputs


# -- digests ----------------------------------------------------------------


def _crc(*vals) -> int:
    return zlib.crc32("|".join(str(v) for v in vals).encode())


def binned_digest(pdf: pd.DataFrame, keys: list[str], wname: str) -> dict:
    """Digest of a BinnedDataframe-shaped table (keys..., n, w_sumw, w_sumw2)."""
    crc = sum(_crc(*row) for row in pdf[keys + ["n"]].itertuples(index=False))
    return {
        "rows": int(len(pdf)),
        "n": int(pdf["n"].sum()),
        "sumw": float(pdf[f"{wname}_sumw"].sum()),
        "sumw2": float(pdf[f"{wname}_sumw2"].sum()),
        "crc": int(crc),
    }


def binned_digest_exprs(keys: list[str], wname: str):
    """The same digest as Spark aggregate expressions (for ``observe``)."""
    from pyspark.sql import functions as F

    row = F.concat_ws("|", *[F.col(c).cast("string") for c in keys + ["n"]])
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum("n").alias("n"),
        F.sum(f"{wname}_sumw").alias("sumw"),
        F.sum(f"{wname}_sumw2").alias("sumw2"),
        F.sum(F.crc32(row)).alias("crc"),
    ]


def knn_digest(pdf: pd.DataFrame) -> dict:
    crc = sum(_crc(*row) for row in pdf[["doc_id", "neighbor_id", "rank"]].itertuples(index=False))
    return {"rows": int(len(pdf)), "rank": int(pdf["rank"].sum()), "crc": int(crc)}


def knn_digest_exprs(k: int):
    from pyspark.sql import functions as F

    row = F.concat_ws("|", *[F.col(c).cast("string") for c in ("doc_id", "neighbor_id", "rank")])
    bad = (F.col("rank") < 1) | (F.col("rank") > k) | (F.col("doc_id") == F.col("neighbor_id"))
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum("rank").alias("rank"),
        F.sum(F.crc32(row)).alias("crc"),
        F.sum(F.when(bad, 1).otherwise(0)).alias("bad"),
        F.sum(F.when(F.col("doc_id") % 100 == 0, 1).otherwise(0)).alias("hot_rows"),
    ]


def normalize(d: dict) -> dict:
    """Observation rows -> plain Python numbers, comparable with ``==``."""
    return {k: (float(v) if isinstance(v, float) else int(v or 0)) for k, v in d.items()}


# -- DuckDB oracles ---------------------------------------------------------


def _duck(doc_files: list[str]):
    con = duckdb.connect()
    con.execute("SET threads = 4")
    files = ", ".join(f"'{p}'" for p in doc_files)
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet([{files}])")
    return con


def oracle_pip_tile_agg(doc_files: list[str]) -> dict:
    with _duck(doc_files) as con:
        pdf = con.execute(O_PIP_TILE_AGG).fetchdf()
    return binned_digest(pdf, ["region", "cell"], "pw")


def oracle_knn(doc_files: list[str], *, radius_km: float, k: int) -> dict:
    """knn_geo_oracle_sql over the docs' span_idx = 0 points (the points
    are materialized once; the oracle joins them with themselves)."""
    pts = f"SELECT doc_id, lon, lat FROM ({synth.flat_spans_sql('duck')}) WHERE span_idx = 0"
    with _duck(doc_files) as con:
        con.execute(f"CREATE TABLE pts AS {pts}")
        pdf = con.execute(knn_geo_oracle_sql("SELECT * FROM pts", radius_km=radius_km, k=k)).fetchdf()
    return knn_digest(pdf)


def cutflow_specs():
    _, specs = compile_tree(
        parse_selection(CUTFLOW_SELECTION), lambda node: compile_expression(node.config)
    )
    return specs


def oracle_cutflow_rows(doc_files: list[str], weights: dict[str, str]) -> list[dict]:
    """oracle_counters_sql rows (cut_id, cut, count_type, weight_name,
    value) over the docs' flat spans, materialized once so the oracle's
    one-select-per-counter form scans a table, not the span derivation."""
    sql = oracle_counters_sql(cutflow_specs(), "SELECT * FROM spans", weights)
    with _duck(doc_files) as con:
        con.execute(f"CREATE TABLE spans AS {synth.flat_spans_sql('duck')}")
        rows = con.execute(sql).fetchall()
    return [
        {"cut_id": r[0], "cut": r[2], "count_type": r[3], "weight_name": r[4], "value": float(r[5])}
        for r in rows
    ]


# -- numpy reference for the PIP workloads ----------------------------------


def flat_spans(docs: pd.DataFrame) -> pd.DataFrame:
    """synth.flat_spans_sql's geometry, weights and kinds in numpy."""
    ids = docs["doc_id"].to_numpy(np.int64)
    ns = inputs.n_spans(ids)
    doc = np.repeat(ids, ns)
    starts = np.repeat(np.cumsum(ns) - ns, ns)
    i = np.arange(len(doc), dtype=np.int64) - starts
    off = i * 16
    hot = doc % 100 == 0
    lon_raw = doc * 9973 + off * 31 + 7
    lat_raw = doc * 7919 + off * 37 + 3
    lon_m = np.where(hot, 200000 + lon_raw % 5, lon_raw % 360000)
    lat_m = np.where(hot, 100000 + lat_raw % 5, lat_raw % 180000)
    return pd.DataFrame(
        {
            "doc_id": doc,
            "span_idx": i,
            "lon": lon_m.astype(np.float64) / 1000.0 - 180.0,
            "lat": lat_m.astype(np.float64) / 1000.0 - 90.0,
            "w": (doc % 97 + 1).astype(np.float64) / 64.0,
            "kind_code": (doc * 31 + i * 7) % 10,
            "n_chars": np.repeat(docs["n_chars"].to_numpy(np.int64), ns),
        }
    )


def pip_pairs(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(span index, polygon index) of every span inside a synth polygon,
    with pip_oracle_sql's crossing formula evaluated in the same order."""
    rows, polys = [], []
    for p, poly in enumerate(synth.polygons()):
        xs, ys = poly["ring_lon"], poly["ring_lat"]
        # no crossing is possible outside the ring's latitude range
        cand = np.nonzero((lat >= min(ys)) & (lat <= max(ys)))[0]
        clon, clat = lon[cand], lat[cand]
        odd = np.zeros(len(cand), dtype=bool)
        for e in range(len(xs)):
            x1, y1 = xs[e], ys[e]
            x2, y2 = xs[(e + 1) % len(xs)], ys[(e + 1) % len(ys)]
            with np.errstate(divide="ignore", invalid="ignore"):
                cross = ((y1 > clat) != (y2 > clat)) & (
                    clon < (x2 - x1) * (clat - y1) / (y2 - y1) + x1
                )
            odd ^= cross
        rows.append(cand[odd])
        polys.append(np.full(int(odd.sum()), p))
    return np.concatenate(rows), np.concatenate(polys)


def _binned(keys: pd.DataFrame, weight: np.ndarray, wname: str) -> pd.DataFrame:
    df = keys.assign(_w=weight, _w2=weight * weight)
    out = df.groupby(list(keys.columns), sort=False).agg(
        n=("_w", "size"), s=("_w", "sum"), s2=("_w2", "sum")
    )
    return out.reset_index().rename(columns={"s": f"{wname}_sumw", "s2": f"{wname}_sumw2"})


def flagship_reference(docs: pd.DataFrame) -> dict:
    """Digest of the flagship (region, cell) tile aggregate."""
    s = flat_spans(docs)
    lon, lat = s["lon"].to_numpy(), s["lat"].to_numpy()
    idx, p = pip_pairs(lon, lat)
    keys = pd.DataFrame(
        {
            "region": np.array([f"reg_{q % 4}" for q in range(synth.N_POLYGONS)])[p],
            "cell": grid.encode_cells(lon[idx], lat[idx], REGION_RES),
        }
    )
    pw = s["w"].to_numpy()[idx] * ((p % 9 + 1) / 8.0)
    return binned_digest(_binned(keys, pw, "pw"), ["region", "cell"], "pw")


def cli_reference(halves: dict[str, tuple[str, pd.DataFrame]]) -> dict:
    """Digest of the CLI's result table: cutflow (CUTFLOW_SELECTION) ->
    spatial join -> binned by (dataset, region, kind), weight wt = 2 w for
    mc and 1.0 for data.  ``halves``: dataset name -> (eventtype, docs)."""
    parts = []
    for name, (etype, docs) in halves.items():
        s = flat_spans(docs)
        keep = (
            (s["n_chars"] > 100)
            & ((s["kind_code"] == 0) | (s["lon"] > 0.0))
            & (s["w"] < 1.2)
        ).to_numpy()
        s = s[keep]
        idx, p = pip_pairs(s["lon"].to_numpy(), s["lat"].to_numpy())
        kind = np.array(["image", "audio", "table"] + ["text"] * 7)[s["kind_code"].to_numpy()[idx]]
        keys = pd.DataFrame(
            {
                "dataset": name,
                "region": np.array([f"reg_{q % 4}" for q in range(synth.N_POLYGONS)])[p],
                "kind": kind,
            }
        )
        wt = s["w"].to_numpy()[idx] * 2 if etype == "mc" else np.ones(len(idx))
        parts.append(_binned(keys, wt, "wt"))
    return binned_digest(pd.concat(parts), ["dataset", "region", "kind"], "wt")
