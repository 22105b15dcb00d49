"""Deterministic synthetic inputs, computable identically by Spark and DuckDB.

The driver ships a flat ``documents`` table (doc_id BIGINT, text, lang,
source, n_chars).  The engine's canonical input (BASELINE.json input_hint) is
an interleaved text+media table ``(doc_id: string, spans: array<struct<kind,
text, media_ref, offset:int>>)``.  We derive the spans table *functionally*
from ``documents`` with pure integer arithmetic — no files, no RNG — so the
DuckDB oracle re-derives the identical table from the identical parquet.
This mirrors how fast-carpenter pins one immutable fixture and asserts exact
counts against it (ref: /root/reference/tests/conftest.py:10-21).

Determinism rules (verified bit-identical in tests):
* integers only, kept far below 2^62 (ANSI-safe in Spark 4);
* doubles only via identical op sequences (e.g. CAST(int AS DOUBLE)/1000.0);
* weights are binary fractions (k/64) so double sums are order-insensitive;
* 1% of docs ("hot docs", doc_id % 100 == 0) carry 48 spans all landing in
  one tiny geographic area -> a deliberately hot cell for skew handling.

Span geometry (the Define stage's derived "physics" variables — ref role:
fast_carpenter/define/variables.py:15-76):

    lon_milli = (doc_id*9973 + offset*31 + 7) % 360000      (hot: 200000 + %5)
    lat_milli = (doc_id*7919 + offset*37 + 3) % 180000      (hot: 100000 + %5)
    lon = CAST(lon_milli AS DOUBLE)/1000.0 - 180.0
    lat = CAST(lat_milli AS DOUBLE)/1000.0 -  90.0
"""

from __future__ import annotations

N_SPAN_KINDS = ("image", "audio", "table")  # codes 0,1,2; >=3 -> "text"

_STR = {"spark": "STRING", "duck": "VARCHAR"}


def n_spans_sql() -> str:
    """Spans per document: 1 + doc_id % 7, hot docs get 48."""
    return "(CASE WHEN doc_id % 100 = 0 THEN 48 ELSE doc_id % 7 + 1 END)"


def kind_code_sql(i: str = "i") -> str:
    return f"(doc_id * 31 + {i} * 7) % 10"


def kind_sql(i: str = "i") -> str:
    return (
        f"CASE {kind_code_sql(i)} WHEN 0 THEN 'image' WHEN 1 THEN 'audio' "
        f"WHEN 2 THEN 'table' ELSE 'text' END"
    )


def span_text_sql(i: str = "i") -> str:
    return f"CASE WHEN {kind_code_sql(i)} >= 3 THEN substr(text, {i} * 16 + 1, 16) ELSE '' END"


def media_ref_sql(dialect: str, i: str = "i") -> str:
    s = _STR[dialect]
    return (
        f"CASE WHEN {kind_code_sql(i)} < 3 "
        f"THEN concat('media://', CAST(doc_id * 1000 + {i} AS {s})) ELSE '' END"
    )


def doc_uid_sql(dialect: str) -> str:
    s = _STR[dialect]
    return f"concat('doc_', lpad(CAST(doc_id AS {s}), 12, '0'))"


def doc_weight_sql() -> str:
    """Per-doc weight, exact binary fraction (EventWeight analogue —
    ref: FIXTURES.md, tests/test_counter.py weighted sums)."""
    return "(CAST(doc_id % 97 + 1 AS DOUBLE) / 64.0)"


def lon_milli_sql(off: str = "span_offset") -> str:
    return (
        "(CASE WHEN doc_id % 100 = 0 "
        f"THEN 200000 + (doc_id * 9973 + {off} * 31 + 7) % 5 "
        f"ELSE (doc_id * 9973 + {off} * 31 + 7) % 360000 END)"
    )


def lat_milli_sql(off: str = "span_offset") -> str:
    return (
        "(CASE WHEN doc_id % 100 = 0 "
        f"THEN 100000 + (doc_id * 7919 + {off} * 37 + 3) % 5 "
        f"ELSE (doc_id * 7919 + {off} * 37 + 3) % 180000 END)"
    )


def lon_sql(off: str = "span_offset") -> str:
    return f"(CAST({lon_milli_sql(off)} AS DOUBLE) / 1000.0 - 180.0)"


def lat_sql(off: str = "span_offset") -> str:
    return f"(CAST({lat_milli_sql(off)} AS DOUBLE) / 1000.0 - 90.0)"


def spans_table_sql(dialect: str, docs: str = "documents") -> str:
    """The canonical interleaved table per BASELINE.json input_hint:
    (doc_id:string, spans:array<struct<kind,text,media_ref,offset:int>>).

    Spark builds the array with sequence+transform (codegen'd, no UDF);
    DuckDB with a list comprehension — independent evaluators, same rows.
    """
    if dialect == "spark":
        return f"""
SELECT {doc_uid_sql('spark')} AS doc_id,
       transform(sequence(0, CAST({n_spans_sql()} AS INT) - 1), i -> struct(
           {kind_sql()} AS kind,
           {span_text_sql()} AS text,
           {media_ref_sql('spark')} AS media_ref,
           CAST(i * 16 AS INT) AS offset
       )) AS spans
FROM {docs}
"""
    return f"""
SELECT {doc_uid_sql('duck')} AS doc_id,
       [{{'kind': {kind_sql()},
          'text': {span_text_sql()},
          'media_ref': {media_ref_sql('duck')},
          'offset': CAST(i * 16 AS INT)}}
        for i in range(0, {n_spans_sql()})] AS spans
FROM {docs}
"""


def flat_spans_sql(dialect: str, docs: str = "documents") -> str:
    """Exploded span rows with derived geometry and weights — the engine's
    working "event x particle" view (explode analogue:
    ref fast_carpenter/summary/binned_dataframe.py:287-320)."""
    if dialect == "spark":
        inner = f"""
SELECT doc_id, lang, source, n_chars,
       posexplode(sequence(0, CAST({n_spans_sql()} AS INT) - 1)) AS (span_idx, i),
       text
FROM {docs}
"""
        # NB: posexplode of sequence(0,n-1) gives span_idx == i; keep both names.
        return f"""
SELECT doc_id, {doc_uid_sql('spark')} AS doc_uid, lang, source, n_chars,
       span_idx,
       {kind_sql()} AS kind,
       {span_text_sql()} AS span_text,
       {media_ref_sql('spark')} AS media_ref,
       CAST(i * 16 AS INT) AS span_offset,
       {lon_sql('(i * 16)')} AS lon,
       {lat_sql('(i * 16)')} AS lat,
       {doc_weight_sql()} AS w
FROM ({inner})
"""
    inner = f"""
SELECT doc_id, lang, source, n_chars, text,
       unnest(range(0, {n_spans_sql()})) AS i
FROM {docs}
"""
    return f"""
SELECT doc_id, {doc_uid_sql('duck')} AS doc_uid, lang, source, n_chars,
       CAST(i AS INT) AS span_idx,
       {kind_sql()} AS kind,
       {span_text_sql()} AS span_text,
       {media_ref_sql('duck')} AS media_ref,
       CAST(i * 16 AS INT) AS span_offset,
       {lon_sql('(i * 16)')} AS lon,
       {lat_sql('(i * 16)')} AS lat,
       {doc_weight_sql()} AS w
FROM ({inner})
"""


# ---------------------------------------------------------------------------
# Polygons (vector layer).  Generated in Python from pure integer arithmetic
# + fixed literal shape templates; inlined as literals on BOTH engine and
# oracle side, so the constants are shared but evaluation is independent.
# ---------------------------------------------------------------------------

# unit-vertex templates (CCW); star4 is concave to exercise real ray casting
_SHAPES: list[list[tuple[float, float]]] = [
    [(0.0, 1.0), (-0.866, -0.5), (0.866, -0.5)],                                 # triangle
    [(0.0, 1.0), (-0.9511, 0.309), (-0.5878, -0.809),
     (0.5878, -0.809), (0.9511, 0.309)],                                          # pentagon
    [(1.0, 0.0), (0.5, 0.866), (-0.5, 0.866), (-1.0, 0.0),
     (-0.5, -0.866), (0.5, -0.866)],                                              # hexagon
    [(0.0, 1.0), (-0.25, 0.25), (-1.0, 0.0), (-0.25, -0.25),
     (0.0, -1.0), (0.25, -0.25), (1.0, 0.0), (0.25, 0.25)],                       # star4 (concave)
]

N_POLYGONS = 48


def polygons(n: int = N_POLYGONS) -> list[dict]:
    """Deterministic polygon layer.  Polygon p:
    center  = (((p*37019 + 11) % 340000 + 10000)/1000 - 180,
               ((p*52837 +  5) % 160000 + 10000)/1000 -  90)
    radius  = 3 + (p % 7) * 2.5 degrees; two giant polygons (p % 23 == 3)
    of radius 60 degrees create join-side skew (hot-tile test).
    weight  = (p % 9 + 1)/8 — exact binary fraction.
    """
    out = []
    for p in range(n):
        clon = ((p * 37019 + 11) % 340000 + 10000) / 1000.0 - 180.0
        clat = ((p * 52837 + 5) % 160000 + 10000) / 1000.0 - 90.0
        radius = 60.0 if p % 23 == 3 else 3.0 + (p % 7) * 2.5
        tmpl = _SHAPES[p % len(_SHAPES)]
        ring_lon = [clon + radius * ux for ux, _ in tmpl]
        ring_lat = [clat + radius * uy for _, uy in tmpl]
        out.append(
            {
                "poly_id": f"poly_{p:04d}",
                "region": f"reg_{p % 4}",
                "weight": (p % 9 + 1) / 8.0,
                "ring_lon": ring_lon,
                "ring_lat": ring_lat,
            }
        )
    return out


def polygons_df(spark, n: int = N_POLYGONS):
    from .spatial.join import polygons_frame

    return polygons_frame(spark, polygons(n))


def _dbl(v: float, dialect: str) -> str:
    # BOTH engines parse bare fractional literals as DECIMAL (not double),
    # which breaks repr() round-tripping; string->double parse is correctly
    # rounded and identical in both.
    return f"CAST('{v!r}' AS DOUBLE)"


def _arr(vals: list[float], dialect: str) -> str:
    body = ", ".join(_dbl(v, dialect) for v in vals)
    return f"array({body})" if dialect == "spark" else f"[{body}]"


def polygons_values_sql(dialect: str, n: int = N_POLYGONS) -> str:
    """`(VALUES ...) AS polygons(poly_id, region, weight, ring_lon, ring_lat)`
    fragment for either dialect (repr() round-trips doubles exactly)."""
    rows = []
    for d in polygons(n):
        rows.append(
            f"('{d['poly_id']}', '{d['region']}', {_dbl(d['weight'], dialect)}, "
            f"{_arr(d['ring_lon'], dialect)}, {_arr(d['ring_lat'], dialect)})"
        )
    body = ",\n ".join(rows)
    return f"(VALUES\n {body}\n) AS polygons(poly_id, region, weight, ring_lon, ring_lat)"


# ---------------------------------------------------------------------------
# Raster tiles — a full coarse-resolution grid with a deterministic value.
# ---------------------------------------------------------------------------


def raster_sql(dialect: str, res: int = 6) -> str:
    """Raster layer at resolution ``res``: one tile per grid cell,
    value = ((x*31 + y*17) % 1000)/16.0 (exact binary fraction)."""
    from . import grid

    n = 1 << res
    cell = grid.pack_sql(res, "CAST(x AS BIGINT)", "CAST(y AS BIGINT)")
    val = "(CAST((x * 31 + y * 17) % 1000 AS DOUBLE) / 16.0)"
    if dialect == "spark":
        return f"""
SELECT {cell} AS tile_id, CAST({res} AS INT) AS zoom, {val} AS tile_value
FROM (SELECT explode(sequence(0, {n - 1})) AS x)
CROSS JOIN (SELECT explode(sequence(0, {n - 1})) AS y)
"""
    return f"""
SELECT {cell} AS tile_id, CAST({res} AS INT) AS zoom, {val} AS tile_value
FROM (SELECT unnest(range(0, {n})) AS x), (SELECT unnest(range(0, {n})) AS y)
"""
