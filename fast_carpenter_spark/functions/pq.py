"""Product quantization (PQ) — compressed-vector ANN, the third index
family next to LSH (ann.lsh_*) and IVF (ann.ivf_*).

A 64-dim vector is split into M_SUB=8 subvectors of SUB_DIM=8 dims; each
subvector is assigned to its nearest of N_CODES=16 deterministic
sub-centroids, so the whole vector compresses to 8 nibbles (4 bytes).  At
10^12 vectors THIS is what makes candidate scans feasible: the code table
is ~250x smaller than the float vectors, and distance estimation against
a query never touches the original vectors.

Search uses the asymmetric-distance (ADC) LOOKUP-TABLE JOIN — the shape
that scales:

* per query: a 128-row LUT (m, c) -> ||q_sub_m - centroid[m][c]||^2
  (tiny, broadcastable);
* per candidate: its 8 (m, code) pairs (map-side posexplode of the code
  array);
* ONE equi hash join on (m, code) + a groupBy sum reconstructs every
  query-candidate estimated distance from exactly 8 LUT hits — never a
  cross join against the raw vectors.

Expression-size discipline: centroids enter the plan as LITERAL
array<array<double>> data consumed by transform/aggregate lambdas, not as
textually expanded polynomials — the expanded form built a plan large
enough to OOM the driver at 16 codes x 8 subspaces.

Determinism / oracle: sub-centroids are integer-hash points (same stride
trick as ann.clustered_vec_sql); every distance is an ordered left fold
(Spark ``aggregate`` with 0.0 init ≡ DuckDB ``list_reduce`` seeded by the
first element — they agree exactly, same argument as ann.dot_sql), so
both engines compute bit-identical doubles and the code assignment's
first-min tie-break agrees.  One order-sensitivity remains: the ADC
groupBy SUM merges its 8 LUT hits in shuffle order, so the topk/recall
queries run on the CLUSTERED table (integer components -> every squared
diff and every partial sum is an exact integer below 2^53, hence
order-insensitive); code ASSIGNMENT has no cross-row aggregation and is
deterministic on any input.  Recall is measured against the exact L2
top-k (same fold arithmetic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

DIM = 64
M_SUB = 8
SUB_DIM = 8
N_CODES = 16


def pq_centroid_component(m: int, c: int, d: int) -> int:
    """Deterministic sub-centroid component (exact small integer)."""
    return ((d + 1) * ((m * N_CODES + c) * 100003 + 54321)) % 1999 - 999


def _cb_matrix_sql(m: int, dialect: str) -> str:
    """Literal N_CODES x SUB_DIM centroid matrix for subspace ``m``."""
    rows = []
    for c in range(N_CODES):
        comps = ", ".join(
            f"{float(pq_centroid_component(m, c, d))!r}" for d in range(SUB_DIM)
        )
        rows.append(f"array({comps})" if dialect == "spark" else f"[{comps}]")
    body = ", ".join(rows)
    return f"array({body})" if dialect == "spark" else f"[{body}]"


def dists_sql(vec: str, m: int, dialect: str) -> str:
    """array<double> of the N_CODES squared distances
    ||vec[m*8 : m*8+8] - centroid[m][c]||^2 — ordered left folds."""
    off = m * SUB_DIM
    cb = _cb_matrix_sql(m, dialect)
    if dialect == "spark":
        return (
            f"transform({cb}, _cb -> aggregate("
            f"zip_with(slice({vec}, {off + 1}, {SUB_DIM}), _cb, "
            f"(x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)), "
            f"CAST(0.0 AS DOUBLE), (a, v) -> a + v))"
        )
    return (
        f"list_transform({cb}, _cb -> list_reduce("
        f"list_transform(range(1, {SUB_DIM} + 1), "
        f"_i -> (CAST(list_extract({vec}, {off} + _i) AS DOUBLE) - list_extract(_cb, _i)) "
        f"* (CAST(list_extract({vec}, {off} + _i) AS DOUBLE) - list_extract(_cb, _i))), "
        f"(a, v) -> a + v))"
    )


def code_sql(vec: str, m: int, dialect: str) -> str:
    """argmin over the N_CODES sub-centroids (first min wins ties).

    Single evaluation of the distance array: (dist, code) structs compare
    lexicographically (dist first, lowest code on ties — identical to the
    old position-of-first-min), so struct-min replaces the
    position(arr, min(arr)) idiom that inlined — and computed — the 16
    folds twice per subspace on the encode hot path."""
    ds = dists_sql(vec, m, dialect)
    if dialect == "spark":
        return (
            f"CAST(array_min(zip_with({ds}, sequence(0, {N_CODES - 1}), "
            f"(_d, _c) -> struct(_d AS d, _c AS c))).c AS INT)"
        )
    return (
        f"CAST(struct_extract(list_min(list_zip({ds}, range(0, {N_CODES}))), 2) AS INT)"
    )


def codes_sql(vec: str, dialect: str) -> str:
    """array<int> of the M_SUB codes."""
    cs = ", ".join(code_sql(vec, m, dialect) for m in range(M_SUB))
    if dialect == "spark":
        return f"array({cs})"
    return f"list_value({cs})"


def _dim_guard(emb: DataFrame) -> DataFrame:
    """Fail loudly on wrong-width vectors: slice/zip_with on a short array
    pads NULLs and would SILENTLY emit garbage codes (same guard pattern
    as spatial/compact.uncompact_cells)."""
    return emb.filter(F.expr(
        f"CASE WHEN size(embedding) = {DIM} THEN true "
        f"ELSE CAST(raise_error(concat('pq: expected {DIM}-dim embedding, got ', "
        f"CAST(size(embedding) AS STRING))) AS BOOLEAN) END"
    ))


def pq_codes(emb: DataFrame) -> DataFrame:
    """(vec_id, m, code) — the code table in exploded form (the join-ready
    layout; 8 small rows per vector instead of 64 floats)."""
    return _dim_guard(emb).select(
        "vec_id", F.posexplode(F.expr(codes_sql("embedding", "spark"))).alias("m", "code")
    )


def pq_codes_oracle_sql(*, table: str = "embeddings", extra_cte: str = "") -> str:
    cs = codes_sql("embedding", "duck")
    return f"""
WITH {extra_cte}enc AS (SELECT vec_id, {cs} AS cs FROM {table})
SELECT vec_id, CAST(generate_subscripts(cs, 1) - 1 AS INT) AS m, unnest(cs) AS code
FROM enc
"""


def _all_dists_sql(vec: str, dialect: str) -> str:
    """array<array<double>>: per subspace m, the N_CODES LUT distances."""
    per_m = ", ".join(dists_sql(vec, m, dialect) for m in range(M_SUB))
    if dialect == "spark":
        return f"array({per_m})"
    return f"[{per_m}]"


def _lut(emb: DataFrame, query_filter: str) -> DataFrame:
    """(query_id, m, code, d2): the per-query M_SUB x N_CODES ADC lookup
    table, built by a double posexplode of one nested literal-fold array."""
    q = emb.filter(query_filter).select(
        F.col("vec_id").alias("query_id"),
        F.posexplode(F.expr(_all_dists_sql("embedding", "spark"))).alias("m", "_ds"),
    )
    return q.select(
        "query_id", "m", F.posexplode(F.col("_ds")).alias("code", "d2")
    )


def pq_adc_topk(
    emb: DataFrame, *, query_filter: str = "vec_id % 50 = 0", k: int = 5
) -> DataFrame:
    """ADC top-k: LUT equi-join on (m, code) + groupBy sum, then rank by
    estimated distance.  Output: (query_id, neighbor_id, rank, est_d2)."""
    lut = _lut(emb, query_filter)
    cand = pq_codes(emb).select(
        F.col("vec_id").alias("neighbor_id"), "m", "code"
    )
    est = (
        cand.join(F.broadcast(lut), ["m", "code"])
        .filter("neighbor_id != query_id")
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2").alias("est_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("est_d2").asc(), F.col("neighbor_id").asc())
    return (
        est.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "est_d2")
    )


def pq_adc_topk_oracle_sql(
    *, query_filter: str = "vec_id % 50 = 0", k: int = 5,
    table: str = "embeddings", extra_cte: str = "",
) -> str:
    all_ds = _all_dists_sql("embedding", "duck")
    cs = codes_sql("embedding", "duck")
    return f"""
WITH {extra_cte}qd AS (
  SELECT vec_id AS query_id,
         CAST(generate_subscripts(ds, 1) - 1 AS INT) AS m, unnest(ds) AS dlist
  FROM (SELECT vec_id, {all_ds} AS ds FROM {table} WHERE {query_filter})
),
lut AS (
  SELECT query_id, m,
         CAST(generate_subscripts(dlist, 1) - 1 AS INT) AS code, unnest(dlist) AS d2
  FROM qd
),
cand AS (
  SELECT vec_id AS neighbor_id,
         CAST(generate_subscripts(cs, 1) - 1 AS INT) AS m, unnest(cs) AS code
  FROM (SELECT vec_id, {cs} AS cs FROM {table})
),
est AS (
  SELECT l.query_id, c.neighbor_id, sum(l.d2) AS est_d2
  FROM cand c JOIN lut l ON l.m = c.m AND l.code = c.code
  WHERE c.neighbor_id != l.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, est_d2 FROM (
  SELECT query_id, neighbor_id, est_d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY est_d2 ASC, neighbor_id ASC) AS rank
  FROM est
) WHERE rank <= {k}
"""


def l2_sql(a: str, b: str, dialect: str) -> str:
    """Exact squared L2 as an ordered left fold (parity per ann.dot_sql)."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, "
            f"(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) "
            f"* (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> (CAST(list_extract({a}, i) AS DOUBLE) - CAST(list_extract({b}, i) AS DOUBLE)) "
        f"* (CAST(list_extract({a}, i) AS DOUBLE) - CAST(list_extract({b}, i) AS DOUBLE))), "
        f"(x, y) -> x + y)"
    )


def l2_topk(
    emb: DataFrame, *, query_filter: str = "vec_id % 50 = 0", k: int = 5
) -> DataFrame:
    """Exact L2 top-k (the PQ recall baseline)."""
    q = emb.filter(query_filter).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    pairs = F.broadcast(q).crossJoin(c).filter("query_id != neighbor_id")
    pairs = pairs.withColumn("d2", F.expr(l2_sql("qv", "cv", "spark")))
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "d2")
    )


def l2_topk_oracle_sql(
    *, query_filter: str = "vec_id % 50 = 0", k: int = 5,
    table: str = "embeddings",
) -> str:
    d2 = l2_sql("q.embedding", "c.embedding", "duck")
    return f"""
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, d2 FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {d2} AS d2,
         row_number() OVER (PARTITION BY q.vec_id ORDER BY {d2} ASC, c.vec_id ASC) AS rank
  FROM (SELECT * FROM {table} WHERE {query_filter}) q
  JOIN {table} c ON q.vec_id != c.vec_id
) WHERE rank <= {k}
"""


def pq_rerank_topk(
    emb: DataFrame, *, query_filter: str = "vec_id % 50 = 0", k: int = 5,
    shortlist: int = 50,
) -> DataFrame:
    """The production PQ shape: ADC SHORTLIST (top-``shortlist`` by
    estimated distance — codes only, no raw vectors touched) -> exact L2
    rerank of just the shortlist.  Untrained codebooks give ADC zero
    resolution WITHIN a tight cluster (all members share codes, distances
    tie), which floors raw ADC recall; the shortlist absorbs the ties and
    the rerank touches only shortlist/corpus of the raw vectors — at
    10^12 vectors that is the entire point of PQ."""
    short = pq_adc_topk(emb, query_filter=query_filter, k=shortlist)
    q = emb.filter(query_filter).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    pairs = (
        short.select("query_id", "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .withColumn("d2", F.expr(l2_sql("qv", "cv", "spark")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "d2")
    )


def pq_rerank_topk_oracle_sql(
    *, query_filter: str = "vec_id % 50 = 0", k: int = 5, shortlist: int = 50,
    table: str = "embeddings", extra_cte: str = "",
) -> str:
    short = pq_adc_topk_oracle_sql(
        query_filter=query_filter, k=shortlist, table=table
    )
    d2 = l2_sql("q.embedding", "c.embedding", "duck")
    return f"""
WITH {extra_cte}short AS ({short})
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, d2 FROM (
  SELECT s.query_id, s.neighbor_id, {d2} AS d2,
         row_number() OVER (PARTITION BY s.query_id
                            ORDER BY {d2} ASC, s.neighbor_id ASC) AS rank
  FROM short s
  JOIN {table} q ON q.vec_id = s.query_id
  JOIN {table} c ON c.vec_id = s.neighbor_id
) WHERE rank <= {k}
"""


# --- IVF-PQ: residual quantization behind the coarse quantizer ---------------
# The composed FAISS-style index: ann.ivf_* assigns every vector to its
# nearest coarse centroid (the inverted lists ARE the partitioning at
# 10^12 rows); PQ here encodes the RESIDUAL v - C[list] instead of v, so
# the 4-byte code spends its resolution on the within-list displacement —
# the composition that makes billion-scale ANN indexes work.  ADC then
# estimates ||q - v||^2 = ||(q - C_l) - r_v||^2 per PROBED list l: the
# query builds one LUT per probe from ITS residual wrt that list, and
# candidates join on (list, m, code).  Everything stays integer-exact on
# the clustered table (coarse centroids and PQ codebooks are both integer
# lattices), so sums are order-insensitive and the oracle is bit-exact.

from .ann import N_LISTS, N_PROBE, centroid_sims_sql, ivf_assign_sql


def ivf_centroid_component(j: int, d: int) -> int:
    """ann.centroid_sql's arithmetic as a Python int (operands positive,
    so Python % == SQL %)."""
    return ((d * 2654435761 + j * 48271 + 9973) % 1999) - 999


def _ivf_cb_matrix_sql(dialect: str) -> str:
    """Literal N_LISTS x DIM coarse-centroid matrix."""
    rows = []
    for j in range(N_LISTS):
        comps = ", ".join(
            f"{float(ivf_centroid_component(j, d))!r}" for d in range(DIM)
        )
        rows.append(f"array({comps})" if dialect == "spark" else f"[{comps}]")
    body = ", ".join(rows)
    return f"array({body})" if dialect == "spark" else f"[{body}]"


def residual_sql(vec: str, list_expr: str, dialect: str) -> str:
    """array<double>: vec - coarse_centroid[list_expr]."""
    cb = _ivf_cb_matrix_sql(dialect)
    if dialect == "spark":
        return (
            f"zip_with({vec}, element_at({cb}, CAST({list_expr} AS INT) + 1), "
            f"(x, c) -> CAST(x AS DOUBLE) - c)"
        )
    return (
        f"list_transform(range(1, {DIM} + 1), "
        f"_i -> CAST(list_extract({vec}, _i) AS DOUBLE) "
        f"- list_extract(list_extract({cb}, CAST({list_expr} AS INT) + 1), _i))"
    )


def ivfpq_codes(emb: DataFrame) -> DataFrame:
    """(vec_id, list_id, m, code): coarse assignment + PQ codes of the
    residual, exploded join-ready — the full compressed index entry."""
    assigned = _dim_guard(emb).select(
        "vec_id", "embedding",
        F.expr(ivf_assign_sql("embedding", "spark")).alias("list_id"),
    ).withColumn("residual", F.expr(residual_sql("embedding", "list_id", "spark")))
    return assigned.select(
        "vec_id", "list_id",
        F.posexplode(F.expr(codes_sql("residual", "spark"))).alias("m", "code"),
    )


def ivfpq_codes_oracle_sql(*, table: str = "embeddings", extra_cte: str = "") -> str:
    res = residual_sql("embedding", "list_id", "duck")
    cs = codes_sql("residual", "duck")
    return f"""
WITH {extra_cte}assigned AS (
  SELECT vec_id, embedding, {ivf_assign_sql('embedding', 'duck')} AS list_id
  FROM {table}
),
resid AS (SELECT vec_id, list_id, {res} AS residual FROM assigned),
enc AS (SELECT vec_id, list_id, {cs} AS cs FROM resid)
SELECT vec_id, list_id,
       CAST(generate_subscripts(cs, 1) - 1 AS INT) AS m, unnest(cs) AS code
FROM enc
"""


def _ivfpq_query_lut(emb: DataFrame, query_filter: str, n_probe: int) -> DataFrame:
    """(query_id, probe, m, code, d2): one PQ LUT per probed list, built
    from the query's residual wrt THAT list's coarse centroid."""
    sims = centroid_sims_sql("embedding", "spark")
    q = emb.filter(query_filter).select(
        F.col("vec_id").alias("query_id"), "embedding",
        F.posexplode(F.expr(sims)).alias("probe", "_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("probe").asc())
    qp = (
        q.withColumn("_pr", F.row_number().over(w))
        .filter(F.col("_pr") <= n_probe)
        .select(
            "query_id", "probe",
            F.expr(residual_sql("embedding", "probe", "spark")).alias("qres"),
        )
    )
    lut = qp.select(
        "query_id", "probe",
        F.posexplode(F.expr(_all_dists_sql("qres", "spark"))).alias("m", "_ds"),
    )
    return lut.select(
        "query_id", "probe", "m", F.posexplode(F.col("_ds")).alias("code", "d2")
    )


def ivfpq_rerank_topk(
    emb: DataFrame, *, query_filter: str = "vec_id % 50 = 0", k: int = 5,
    n_probe: int = N_PROBE, shortlist: int = 50,
) -> DataFrame:
    """IVF-PQ search: probe n_probe lists, ADC-estimate via the per-probe
    residual LUT join on (list, m, code), shortlist, exact-rerank.
    Candidates outside the probed lists never join — the inverted-list
    pruning and the code compression compose in one equi-join plan."""
    lut = _ivfpq_query_lut(emb, query_filter, n_probe)
    cand = ivfpq_codes(emb).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("list_id").alias("probe"), "m", "code",
    )
    est = (
        cand.join(F.broadcast(lut), ["probe", "m", "code"])
        .filter("neighbor_id != query_id")
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2").alias("est_d2"))
    )
    ws = Window.partitionBy("query_id").orderBy(F.col("est_d2").asc(), F.col("neighbor_id").asc())
    short = (
        est.withColumn("_rk", F.row_number().over(ws))
        .filter(F.col("_rk") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    q = emb.filter(query_filter).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    pairs = (
        short.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .withColumn("d2", F.expr(l2_sql("qv", "cv", "spark")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "d2")
    )


def ivfpq_rerank_topk_oracle_sql(
    *, query_filter: str = "vec_id % 50 = 0", k: int = 5,
    n_probe: int = N_PROBE, shortlist: int = 50,
    table: str = "embeddings", extra_cte: str = "",
) -> str:
    sims = centroid_sims_sql("embedding", "duck")
    qres = residual_sql("embedding", "probe", "duck")
    all_ds = _all_dists_sql("qres", "duck")
    codes_cte = ivfpq_codes_oracle_sql(table=table)
    d2 = l2_sql("q.embedding", "c.embedding", "duck")
    return f"""
WITH {extra_cte}probes AS (
  SELECT query_id, embedding, probe FROM (
    SELECT query_id, embedding, probe, sim,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, probe) AS pr
    FROM (
      SELECT vec_id AS query_id, embedding,
             CAST(generate_subscripts(sims, 1) - 1 AS INT) AS probe, unnest(sims) AS sim
      FROM (SELECT vec_id, embedding, {sims} AS sims FROM {table} WHERE {query_filter})
    )
  ) WHERE pr <= {n_probe}
),
qres AS (SELECT query_id, probe, {qres} AS qres FROM probes),
qd AS (
  SELECT query_id, probe,
         CAST(generate_subscripts(ds, 1) - 1 AS INT) AS m, unnest(ds) AS dlist
  FROM (SELECT query_id, probe, {all_ds} AS ds FROM qres)
),
lut AS (
  SELECT query_id, probe, m,
         CAST(generate_subscripts(dlist, 1) - 1 AS INT) AS code, unnest(dlist) AS d2
  FROM qd
),
cand AS ({codes_cte}),
est AS (
  SELECT l.query_id, c.vec_id AS neighbor_id, sum(l.d2) AS est_d2
  FROM cand c JOIN lut l
    ON l.probe = c.list_id AND l.m = c.m AND l.code = c.code
  WHERE c.vec_id != l.query_id
  GROUP BY 1, 2
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY est_d2 ASC, neighbor_id ASC) AS rk
    FROM est
  ) WHERE rk <= {shortlist}
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, d2 FROM (
  SELECT s.query_id, s.neighbor_id, {d2} AS d2,
         row_number() OVER (PARTITION BY s.query_id
                            ORDER BY {d2} ASC, s.neighbor_id ASC) AS rank
  FROM short s
  JOIN {table} q ON q.vec_id = s.query_id
  JOIN {table} c ON c.vec_id = s.neighbor_id
) WHERE rank <= {k}
"""


# --- trained codebooks: exact distributed k-means, in-engine -----------------
# Round-4 (VERDICT item 4).  The lattice codebooks above give raw ADC zero
# resolution INSIDE a tight cluster; training moves the codes onto the data.
# The whole training loop is expressed as ONE dialect-shared SQL text, so
# Spark and DuckDB run the identical recurrence and the learned codebook —
# an iterative-ML artifact — is itself oracle-exact:
#
# * init: per subspace, the first subvector of each of k ntile buckets in
#   lexicographic subvector order (deterministic quantile seeding — every
#   cluster with >= 1/k of the mass receives a seed, unlike lattice or
#   hash seeding);
# * E-step: argmin over codes of the exact BIGINT squared L2 (integer
#   components on the clustered table; ties -> lowest code);
# * M-step: element-wise exact floor-mean, computed entirely in BIGINT via
#   (s - ((s % n) + n) % n) DIV n — no doubles anywhere, so the update is
#   order-insensitive and correct at any corpus size, not just below 2^53;
# * empty codes keep their previous centroid (left join + coalesce).
#
# Scale shape: per round = one broadcast join (codebook side is K*M_SUB
# rows) + two partial-agg'd shuffles on bounded keys ((vec,m) then
# (m,code,d)); `train_filter` trains on a sample while encode/search use
# the full corpus — at 10^12 vectors codebooks are always trained on a
# bounded sample, and the floor-mean stays exact regardless.
#
# Measured on the clustered mixture at sf0.01 (10 balanced label clusters
# of ~50, queries vec_id % 50 = 0, recall@5 vs exact L2):
#   untrained lattice, k=16: 0.22-0.34   (the round-3 diagnostic)
#   trained,           k=16: 0.66        <- k-means fixed point by round 2;
#                                           the remainder is 4-bit CAPACITY
#                                           (16 cells cannot separate ~50
#                                           within-cluster members), not
#                                           training quality:
#   trained,           k=32: 0.84        (5-bit codes clear the 0.8 bar)
#   trained,           k=64: 0.80        (8 pts/code -> assignment noise)

TRAIN_ROUNDS = 3


def _d2i_sql(sv: str, cent: str, dialect: str) -> str:
    """Exact BIGINT squared L2 over one SUB_DIM subvector."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({sv}, {cent}, (x, c) -> (x - c) * (x - c)), "
            f"CAST(0 AS BIGINT), (a, v) -> a + v)"
        )
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, {SUB_DIM} + 1), "
        f"_i -> (list_extract({sv}, _i) - list_extract({cent}, _i)) "
        f"* (list_extract({sv}, _i) - list_extract({cent}, _i)))), (a, b) -> a + b)"
    )


def trained_cb_ctes(
    dialect: str,
    *,
    k: int = N_CODES,
    rounds: int = TRAIN_ROUNDS,
    table: str = "embeddings_c",
    train_filter: str = "true",
) -> tuple[str, str]:
    """CTE chain text training a k-code/subspace codebook; returns
    (cte_text, final_codebook_name).  The chain defines `subs`
    (vec_id, m, sv:array<bigint>) over the FULL table and trains on the
    `train_filter` subset."""
    if dialect == "spark":
        # LATERAL VIEW (a Generate node), NOT a cross join against an 8-row
        # generator: Spark inlines CTEs, so a `CROSS JOIN (SELECT explode..)`
        # subs would re-plan as a BroadcastNestedLoopJoin at every reference
        # — bounded, but needless; Generate keeps the expansion map-side and
        # the plan BNLJ-free except the vetted exact-L2 recall baseline.
        mexpand = f"LATERAL VIEW explode(sequence(0, {M_SUB - 1})) _mr AS m"
        sv = (
            f"transform(slice(embedding, m * {SUB_DIM} + 1, {SUB_DIM}), "
            f"x -> CAST(x AS BIGINT))"
        )
        expl = "LATERAL VIEW posexplode(sv) _t AS d, x"
        expl_cols = "m, code, CAST(d AS BIGINT) AS d, x"
        reasm = "transform(array_sort(collect_list(struct(d, comp))), _s -> _s.comp)"
        fdiv = "(s - (((s % n) + n) % n)) DIV n"
    else:
        mexpand = f"CROSS JOIN (SELECT unnest(range(0, {M_SUB})) AS m) _mr"
        sv = (
            f"list_transform(list_slice(embedding, m * {SUB_DIM} + 1, "
            f"m * {SUB_DIM} + {SUB_DIM}), x -> CAST(x AS BIGINT))"
        )
        expl = ""
        expl_cols = (
            "m, code, CAST(generate_subscripts(sv, 1) - 1 AS BIGINT) AS d, "
            "unnest(sv) AS x"
        )
        reasm = "list(comp ORDER BY d)"
        fdiv = "(s - (((s % n) + n) % n)) // n"
    # Every codebook feeds both the next E-step and the next codebook.
    # DuckDB inlines CTEs, so the plain chain re-derives cb0 2^rounds times
    # (IVF-PQ search oracle at sf0.001 on 4 cores: 358 s, 31 s materialized);
    # MATERIALIZED evaluates each codebook once.  Spark shares them through
    # exchange reuse already.
    cb_as = "AS" if dialect == "spark" else "AS MATERIALIZED"
    d2 = _d2i_sql("s.sv", "c.cent", dialect)
    ctes = [
        f"subs AS (SELECT vec_id, m, {sv} AS sv FROM {table} {mexpand})",
        f"tsubs AS (SELECT * FROM {table} WHERE {train_filter})",
        f"train AS (SELECT vec_id, m, {sv} AS sv FROM tsubs {mexpand})",
        f"tiles AS (SELECT vec_id, m, sv, ntile({k}) OVER "
        f"(PARTITION BY m ORDER BY sv, vec_id) AS tile FROM train)",
        f"cb0 {cb_as} (SELECT m, tile - 1 AS code, sv AS cent FROM "
        f"(SELECT m, tile, sv, row_number() OVER (PARTITION BY m, tile "
        f"ORDER BY sv, vec_id) AS rn FROM tiles) _q WHERE rn = 1)",
    ]
    prev = "cb0"
    for r in range(1, rounds + 1):
        ctes.append(
            f"a{r} AS (SELECT vec_id, m, code, sv FROM (SELECT s.vec_id, s.m, "
            f"c.code, s.sv, row_number() OVER (PARTITION BY s.vec_id, s.m "
            f"ORDER BY {d2}, c.code) AS rk FROM train s JOIN {prev} c "
            f"ON c.m = s.m) _q WHERE rk = 1)"
        )
        ctes.append(
            f"g{r} AS (SELECT m, code, d, count(1) AS n, "
            f"CAST(sum(x) AS BIGINT) AS s FROM (SELECT {expl_cols} "
            f"FROM a{r} {expl}) _e GROUP BY m, code, d)"
        )
        ctes.append(
            f"u{r} AS (SELECT m, code, {reasm} AS cent FROM "
            f"(SELECT m, code, d, {fdiv} AS comp FROM g{r}) _u GROUP BY m, code)"
        )
        ctes.append(
            f"cb{r} {cb_as} (SELECT c.m, c.code, coalesce(u.cent, c.cent) AS cent "
            f"FROM {prev} c LEFT JOIN u{r} u ON u.m = c.m AND u.code = c.code)"
        )
        prev = f"cb{r}"
    return ",\n".join(ctes), prev


def trained_codebook_body_sql(
    dialect: str, *, k: int = N_CODES, rounds: int = TRAIN_ROUNDS,
    table: str = "embeddings_c", train_filter: str = "true",
    extra_cte: str = "",
) -> str:
    """Full query text: the trained codebook, exploded to
    (m, code, d, comp) rows — 1024 small rows pin the entire training
    recurrence (init, E-steps, exact floor-mean M-steps) as oracle-exact."""
    ctes, final = trained_cb_ctes(
        dialect, k=k, rounds=rounds, table=table, train_filter=train_filter
    )
    if dialect == "spark":
        tail = (
            f"SELECT m, code, CAST(d AS INT) AS d, comp "
            f"FROM {final} LATERAL VIEW posexplode(cent) _t AS d, comp"
        )
    else:
        tail = (
            f"SELECT m, code, CAST(generate_subscripts(cent, 1) - 1 AS INT) AS d, "
            f"unnest(cent) AS comp FROM {final}"
        )
    return f"WITH {extra_cte}{ctes}\n{tail}"


def trained_codebook(emb: DataFrame, **kw) -> DataFrame:
    """Spark side of trained_codebook_body_sql over a registered view of
    ``emb`` (same text, Catalyst-compiled)."""
    emb.createOrReplaceTempView("embeddings_c")
    return emb.sparkSession.sql(trained_codebook_body_sql("spark", **kw))


# --- trained IVF-PQ: k-means codebooks on coarse residuals -------------------
# The composed index: coarse IVF assignment prunes the corpus to n_probe
# inverted lists, and a TRAINED product codebook (the same exact-BIGINT
# k-means recurrence as trained_cb_ctes) encodes the RESIDUAL of each
# vector from its coarse centroid — the standard IVF-PQ factorization,
# with every stage oracle-exact because embeddings and coarse centroids
# are integer-valued, so residuals cast to BIGINT losslessly.
#
# Scale shape: the codebook trains on `train_filter` (a bounded sample at
# 10^12 vectors); per E/M round one broadcast k*M_SUB-row join + two
# partial-agg'd bounded-key shuffles.  Search is the usual composition —
# per-probe query-residual LUT (bounded: queries * n_probe * M_SUB * k
# rows, broadcast) equi-joined to the code table on (probe, m, code); a
# candidate outside the probed lists never matches the join key, so the
# inverted-list pruning rides the SAME equi join as the compression.


def _resid_sql(dialect: str, list_col: str = "list_id", orig: str = "orig") -> str:
    """Residual of ``orig`` against its coarse centroid (BIGINT-exact):
    the IVF-PQ pre-step shared by the search oracle, the materialized
    search and the stored-codebook trainer."""
    if dialect == "spark":
        return (
            f"transform(zip_with({orig}, element_at("
            + _ivf_cb_matrix_sql("spark")
            + f", CAST({list_col} AS INT) + 1), (x, c) -> x - c), "
            "v -> CAST(v AS BIGINT))"
        )
    cb = _ivf_cb_matrix_sql("duck")
    return (
        f"list_transform(range(1, {DIM} + 1), _i -> CAST("
        f"list_extract({orig}, _i) - list_extract(list_extract({cb}, "
        f"CAST({list_col} AS INT) + 1), _i) AS BIGINT))"
    )


# --- materialized trained codebooks (round-5; VERDICT r4 item 2) -------------
# Training is a ONE-TIME job whose output is the index artifact — k*M_SUB
# rows of (m, code, cent).  Re-deriving the k-means recurrence inside every
# search plan (48 exchanges / 22 sort-merge joins at k=32) is fine for an
# oracle but wrong for the production encode path: at 10^12 vectors you
# train once on a sample, COMMIT the codebook as a table, and every search
# (and every trained recall score) joins the stored rows.
#
# store_trained_codebook() runs the recurrence once and commits the result
# through the engine's own snapshot writer (sources/snapshot.write_snapshot
# — same manifest/bounds machinery as any data table, so the index artifact
# gets time travel and incremental semantics for free).  Search then loads
# the k*M_SUB rows (bounded: k<=256 codes x 8 subspaces) and injects them as
# a LITERAL array-of-matrices consumed by transform/aggregate lambdas —
# exactly the shape of the untrained literal matrix (_cb_matrix_sql), so
# encode and LUT construction are MAP-SIDE ONLY and the whole search plan
# carries ~3 exchanges (ADC groupBy partial+final, top-k window) regardless
# of how many training rounds produced the codebook.


def trained_codebook_table(emb: DataFrame, **kw) -> DataFrame:
    """The trained codebook as (m, code, cent: array<bigint>) — the index
    artifact itself, k*M_SUB rows (un-exploded twin of trained_codebook)."""
    emb.createOrReplaceTempView("embeddings_c")
    ctes, final = trained_cb_ctes("spark", **kw)
    return emb.sparkSession.sql(
        f"WITH {ctes} SELECT m, code, cent FROM {final}"
    )


def _store_codebook(table: DataFrame, table_path: str) -> list[tuple[int, int, list[int]]]:
    """Run the training recurrence ``table`` once, collect its k*M_SUB
    rows and commit them as a snapshot table through a local relation (the
    recurrence is not run again for the write).  Returns the rows, sorted
    as ``load_codebook_rows`` reads them back."""
    from ..session import local_frame
    from ..sources.snapshot import write_snapshot

    rows = sorted((r["m"], r["code"], list(r["cent"])) for r in table.collect())
    write_snapshot(
        local_frame(table.sparkSession, rows, table.schema).coalesce(1),
        table_path,
        bounds_cols=["m"],
    )
    return rows


def store_trained_codebook(emb: DataFrame, table_path: str, **kw):
    """Train once, commit the codebook as a snapshot table.  Returns the
    stored (m, code, cent) rows.  At scale this is the index-build job:
    the recurrence runs over ``train_filter``'s sample, the commit is
    k*M_SUB rows."""
    return _store_codebook(trained_codebook_table(emb, **kw), table_path)


def load_codebook_rows(spark, table_path: str) -> list[tuple[int, int, list[int]]]:
    """Read the stored codebook back as a sorted (m, code, cent) list —
    bounded (k*M_SUB rows), the one permissible collect of an index
    artifact (same class as the sketch-state / broadcast-small attaches)."""
    from ..sources.snapshot import SnapshotReader

    rows = SnapshotReader(table_path).load(spark).collect()
    return sorted((r["m"], r["code"], list(r["cent"])) for r in rows)


def _cb_rows_literal_sql(rows, dialect: str) -> str:
    """LITERAL array-of-matrices: element m+1 is that subspace's k x SUB_DIM
    centroid matrix (codes in 0..k-1 order) — the trained twin of
    _cb_matrix_sql, BIGINT-exact."""
    by_m: dict[int, list[list[int]]] = {}
    for m, code, cent in sorted(rows):
        by_m.setdefault(m, []).append([int(c) for c in cent])
    k = len(by_m[0])
    assert sorted(by_m) == list(range(M_SUB)) and all(
        len(v) == k for v in by_m.values()
    ), "codebook must be dense over (m, code)"
    mats = []
    for m in range(M_SUB):
        rows_sql = [
            "array(%s)" % ", ".join(f"{c}L" for c in cent)
            if dialect == "spark"
            else "[%s]" % ", ".join(str(c) for c in cent)
            for cent in by_m[m]
        ]
        body = ", ".join(rows_sql)
        mats.append(f"array({body})" if dialect == "spark" else f"[{body}]")
    allm = ", ".join(mats)
    return f"array({allm})" if dialect == "spark" else f"[{allm}]"


def trained_adc_topk_from_rows(
    emb: DataFrame,
    cb_rows,
    *,
    query_filter: str = "vec_id % 50 = 0",
    topk: int = 5,
) -> DataFrame:
    """ADC top-k against a MATERIALIZED trained codebook: encode and LUT
    are map-side lambda folds over the literal codebook (zero shuffles),
    then the vetted ONE equi-join on (m, code) + groupBy sum + top-k
    window — ~3 exchanges total, vs 48 when the training recurrence rides
    along in the plan.  All distances are exact BIGINTs (integer clustered
    components, integer centroids), so sums are order-insensitive and the
    output hashes stably against the DuckDB oracle."""
    cb = _cb_rows_literal_sql(cb_rows, "spark")
    k = len({(m, c) for m, c, _ in cb_rows}) // M_SUB
    emb.createOrReplaceTempView("embeddings_c")
    sv = (
        f"transform(slice(embedding, m * {SUB_DIM} + 1, {SUB_DIM}), "
        f"x -> CAST(x AS BIGINT))"
    )
    d2fold = (
        "aggregate(zip_with(sv, _cb, (x, c) -> (x - c) * (x - c)), "
        "CAST(0 AS BIGINT), (a, v) -> a + v)"
    )
    sql = f"""
WITH subs AS (
  SELECT vec_id, m, {sv} AS sv
  FROM embeddings_c LATERAL VIEW explode(sequence(0, {M_SUB - 1})) _mr AS m
),
codes AS (
  SELECT vec_id AS neighbor_id, m,
         CAST(array_min(zip_with(
           transform(element_at({cb}, m + 1), _cb -> {d2fold}),
           sequence(0, {k - 1}), (_d, _c) -> struct(_d AS d, _c AS c))).c AS INT)
           AS code
  FROM subs
),
lut AS (
  SELECT vec_id AS query_id, m, CAST(_c AS INT) AS code, _d AS d2
  FROM (SELECT vec_id, m,
               transform(element_at({cb}, m + 1), _cb -> {d2fold}) AS ds
        FROM subs WHERE {query_filter}) _q
  LATERAL VIEW posexplode(ds) _t AS _c, _d
),
est AS (
  SELECT l.query_id, c.neighbor_id, CAST(sum(l.d2) AS BIGINT) AS est_d2
  FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
  WHERE c.neighbor_id != l.query_id
  GROUP BY l.query_id, c.neighbor_id
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, est_d2 FROM (
  SELECT query_id, neighbor_id, est_d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY est_d2, neighbor_id) AS rank
  FROM est
) _t WHERE rank <= {topk}"""
    return emb.sparkSession.sql(sql)


def trained_adc_topk_oracle_sql(
    dialect: str = "duck",
    *,
    k: int = N_CODES,
    rounds: int = TRAIN_ROUNDS,
    table: str = "embeddings_c",
    train_filter: str = "true",
    query_filter: str = "vec_id % 50 = 0",
    topk: int = 5,
    extra_cte: str = "",
) -> str:
    """Oracle twin of trained_adc_topk_from_rows: the oracle re-derives the
    codebook via the (oracle-exact) recurrence in-query — values agree
    because both reach the same integer k-means fixed point; only the
    PLANS differ (that is the point of the materialization)."""
    ctes, final = trained_cb_ctes(
        dialect, k=k, rounds=rounds, table=table, train_filter=train_filter
    )
    d2 = _d2i_sql("s.sv", "c.cent", dialect)
    return f"""WITH {extra_cte}{ctes},
codes AS (
  SELECT vec_id AS neighbor_id, m, code FROM (
    SELECT s.vec_id, s.m, c.code,
           row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY {d2}, c.code) AS rk
    FROM subs s JOIN {final} c ON c.m = s.m
  ) _c WHERE rk = 1
),
lut AS (
  SELECT s.vec_id AS query_id, s.m, c.code, {d2} AS d2
  FROM (SELECT * FROM subs WHERE {query_filter}) s
  JOIN {final} c ON c.m = s.m
),
est AS (
  SELECT l.query_id, c.neighbor_id, CAST(sum(l.d2) AS BIGINT) AS est_d2
  FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
  WHERE c.neighbor_id != l.query_id
  GROUP BY l.query_id, c.neighbor_id
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, est_d2 FROM (
  SELECT query_id, neighbor_id, est_d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY est_d2, neighbor_id) AS rank
  FROM est
) _t WHERE rank <= {topk}"""


# --- materialized trained IVF-PQ (round-5 follow-through) ---------------------
# The IVF-PQ analog of the block above: the coarse centroids are already a
# fixed literal (_ivf_cb_matrix_sql), so the only TRAINED artifact is the
# residual codebook.  Train it once over the residual table, commit it via
# the snapshot writer, and search becomes map-side coarse-assign + residual
# + encode/LUT folds over the literal rows, with the vetted equi-join on
# (probe, m, code) + one additive groupBy + the top-k window — the same
# ~4-exchange shape as trained_adc_topk_from_rows, vs the recurrence run in
# the plan (trained_ivfpq_topk_oracle_sql).


def trained_ivfpq_codebook_table(emb: DataFrame, **kw) -> DataFrame:
    """The trained RESIDUAL codebook as (m, code, cent) — k*M_SUB rows,
    trained on coarse-assignment residuals (the IVF-PQ index artifact)."""
    emb.createOrReplaceTempView("embeddings_c")
    pre = f"""assigned AS (
  SELECT vec_id, embedding AS orig,
         {ivf_assign_sql('embedding', 'spark')} AS list_id
  FROM embeddings_c
),
rtbl AS (SELECT vec_id, list_id, {_resid_sql('spark')} AS embedding FROM assigned),
"""
    ctes, final = trained_cb_ctes("spark", table="rtbl", **kw)
    return emb.sparkSession.sql(
        f"WITH {pre}{ctes} SELECT m, code, cent FROM {final}"
    )


def store_trained_ivfpq_codebook(emb: DataFrame, table_path: str, **kw):
    """Train the residual codebook once, commit it as a snapshot table.
    Returns the stored (m, code, cent) rows."""
    return _store_codebook(trained_ivfpq_codebook_table(emb, **kw), table_path)


def trained_ivfpq_topk_from_rows(
    emb: DataFrame,
    cb_rows,
    *,
    query_filter: str = "vec_id % 50 = 0",
    topk: int = 5,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """Residual-ADC top-k against a MATERIALIZED trained IVF-PQ codebook:
    coarse assignment, residuals, encode and per-probe query LUTs are all
    map-side lambda folds over literals (the coarse matrix is a pinned
    literal; the trained residual codebook is injected from the stored
    rows); the only shuffles are the (probe, m, code) equi-join's, the
    est_d2 groupBy and the top-k window.  All distances are exact BIGINTs,
    so the output hashes stably against the recurrence-deriving oracle."""
    cb = _cb_rows_literal_sql(cb_rows, "spark")
    k = len({(m, c) for m, c, _ in cb_rows}) // M_SUB
    emb.createOrReplaceTempView("embeddings_c")
    sv = f"transform(slice(embedding, m * {SUB_DIM} + 1, {SUB_DIM}), x -> x)"
    qsv = f"transform(slice(remb, m * {SUB_DIM} + 1, {SUB_DIM}), x -> x)"
    d2fold = (
        "aggregate(zip_with(sv, _cb, (x, c) -> (x - c) * (x - c)), "
        "CAST(0 AS BIGINT), (a, v) -> a + v)"
    )
    sql = f"""
WITH assigned AS (
  SELECT vec_id, embedding AS orig,
         {ivf_assign_sql('embedding', 'spark')} AS list_id
  FROM embeddings_c
),
rtbl AS (SELECT vec_id, list_id, {_resid_sql('spark')} AS embedding FROM assigned),
subs AS (
  SELECT vec_id, list_id, m, {sv} AS sv
  FROM rtbl LATERAL VIEW explode(sequence(0, {M_SUB - 1})) _mr AS m
),
codes AS (
  SELECT vec_id AS neighbor_id, list_id AS probe, m,
         CAST(array_min(zip_with(
           transform(element_at({cb}, m + 1), _cb -> {d2fold}),
           sequence(0, {k - 1}), (_d, _c) -> struct(_d AS d, _c AS c))).c AS INT)
           AS code
  FROM subs
),
qsim0 AS (
  SELECT vec_id AS query_id, orig,
         {centroid_sims_sql('orig', 'spark')} AS sims
  FROM assigned WHERE {query_filter}
),
qsim AS (SELECT query_id, orig, posexplode(sims) AS (probe, sim) FROM qsim0),
qprobe AS (
  SELECT query_id, probe, {_resid_sql('spark', list_col='probe')} AS remb
  FROM (
    SELECT query_id, orig, probe,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, probe) AS pr
    FROM qsim
  ) _p WHERE pr <= {n_probe}
),
qsubs AS (
  SELECT query_id, probe, m, {qsv} AS sv
  FROM qprobe LATERAL VIEW explode(sequence(0, {M_SUB - 1})) _mr AS m
),
lut AS (
  SELECT query_id, probe, m, CAST(_c AS INT) AS code, _d AS d2
  FROM (SELECT query_id, probe, m,
               transform(element_at({cb}, m + 1), _cb -> {d2fold}) AS ds
        FROM qsubs) _q
  LATERAL VIEW posexplode(ds) _t AS _c, _d
),
est AS (
  SELECT l.query_id, c.neighbor_id, CAST(sum(l.d2) AS BIGINT) AS est_d2
  FROM codes c JOIN lut l ON l.probe = c.probe AND l.m = c.m AND l.code = c.code
  WHERE c.neighbor_id != l.query_id
  GROUP BY l.query_id, c.neighbor_id
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, est_d2 FROM (
  SELECT query_id, neighbor_id, est_d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY est_d2, neighbor_id) AS rank
  FROM est
) _t WHERE rank <= {topk}"""
    return emb.sparkSession.sql(sql)


def trained_ivfpq_topk_oracle_sql(
    *,
    k: int = N_CODES,
    rounds: int = TRAIN_ROUNDS,
    table: str = "embeddings_c",
    train_filter: str = "true",
    query_filter: str = "vec_id % 50 = 0",
    topk: int = 5,
    n_probe: int = N_PROBE,
    extra_cte: str = "",
) -> str:
    """DuckDB oracle twin of trained_ivfpq_topk_from_rows: coarse-assign,
    residual table, the k-means recurrence over residuals re-derived
    in-query, encode, probed query LUTs and the additive est_d2 aggregate
    — values agree because both reach the same integer fixed point; only
    the plans differ."""
    dialect = "duck"
    resid_i = _resid_sql(dialect)
    qsv = (
        f"list_transform(list_slice(remb, m * {SUB_DIM} + 1, "
        f"m * {SUB_DIM} + {SUB_DIM}), x -> x)"
    )
    mexpand = f"CROSS JOIN (SELECT unnest(range(0, {M_SUB})) AS m) _mr"
    sim_expl = (
        "SELECT query_id, orig, CAST(generate_subscripts(sims, 1) - 1 AS INT)"
        " AS probe, unnest(sims) AS sim FROM qsim0"
    )
    # the residual table feeds the codebook training's `train` (every
    # round) and `subs`; materialized, coarse assignment runs once
    pre = f"""{extra_cte}assigned AS (
  SELECT vec_id, embedding AS orig,
         {ivf_assign_sql('embedding', dialect)} AS list_id
  FROM {table}
),
rtbl AS MATERIALIZED (SELECT vec_id, list_id, {resid_i} AS embedding FROM assigned),
"""
    ctes, final = trained_cb_ctes(
        dialect, k=k, rounds=rounds, table="rtbl", train_filter=train_filter
    )
    qd2 = _d2i_sql("q.sv", "c.cent", dialect)
    tail = f""",
enc AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, c.code,
           row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY {qd2.replace('q.sv', 's.sv')}, c.code) AS rk
    FROM subs s JOIN {final} c ON c.m = s.m
  ) _e WHERE rk = 1
),
codes AS (
  SELECT e.vec_id AS neighbor_id, a.list_id AS probe, e.m, e.code
  FROM enc e JOIN assigned a ON a.vec_id = e.vec_id
),
qsim0 AS (
  SELECT vec_id AS query_id, orig,
         {centroid_sims_sql('orig', dialect)} AS sims
  FROM assigned WHERE {query_filter}
),
qsim AS ({sim_expl}),
qprobe AS (
  SELECT query_id, probe, {_resid_sql(dialect, list_col='probe')} AS remb
  FROM (
    SELECT query_id, orig, probe,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, probe) AS pr
    FROM qsim
  ) _p WHERE pr <= {n_probe}
),
qsubs AS (SELECT query_id, probe, m, {qsv} AS sv FROM qprobe {mexpand}),
lut AS (
  SELECT q.query_id, q.probe, q.m, c.code, {qd2} AS d2
  FROM qsubs q JOIN {final} c ON c.m = q.m
),
est AS (
  SELECT l.query_id, c.neighbor_id, CAST(sum(l.d2) AS BIGINT) AS est_d2
  FROM codes c
  JOIN lut l ON l.probe = c.probe AND l.m = c.m AND l.code = c.code
  WHERE c.neighbor_id != l.query_id
  GROUP BY l.query_id, c.neighbor_id
)"""
    return f"""WITH {pre}{ctes}{tail}
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, est_d2 FROM (
  SELECT query_id, neighbor_id, est_d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY est_d2, neighbor_id) AS rank
  FROM est
) _t WHERE rank <= {topk}"""
