"""Similarity search over embedding columns (array<float>).

* ``cosine_topk``      — exact brute-force top-k for a query subset: the
  correctness baseline.  Dot products via zip_with/aggregate (ordered fold
  in double -> bit-identical to the DuckDB oracle's ordered list_reduce).
* ``lsh_cosine_topk``  — the scale path: random-hyperplane LSH buckets
  (deterministic integer "hyperplanes", so the oracle reproduces them);
  candidates only meet within a bucket — a hash shuffle join instead of a
  cross join.  At 10^12 rows the bucket join is the only feasible shape;
  brute force stays as the small-query / rerank kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

N_PLANES = 8
DIM = 64


def dot_sql(a: str, b: str, dialect: str) -> str:
    """Ordered-fold dot product in double (identical in both engines)."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST(list_extract({a}, i) AS DOUBLE) * CAST(list_extract({b}, i) AS DOUBLE)), "
        f"(x, y) -> x + y)"
    )


def norm_sql(a: str, dialect: str) -> str:
    return f"SQRT({dot_sql(a, a, dialect)})"


def cosine_sql(a: str, b: str, dialect: str) -> str:
    return f"({dot_sql(a, b, dialect)} / ({norm_sql(a, dialect)} * {norm_sql(b, dialect)}))"


def hyperplane_sql(j: int, dim: int, dialect: str) -> str:
    """Deterministic pseudo-random hyperplane j as array<double>:
    hp[i] = ((i * 2654435761 + j * 40503 + 12345) % 2000001) - 1000000."""
    body = f"CAST(((i * 2654435761 + {j} * 40503 + 12345) % 2000001) - 1000000 AS DOUBLE)"
    if dialect == "spark":
        return f"transform(sequence(0, {dim - 1}), i -> {body})"
    return f"list_transform(range(0, {dim}), i -> {body})"


def lsh_bucket_sql(vec: str, dialect: str, n_planes: int = N_PLANES, dim: int = DIM) -> str:
    """Sign-bit bucket id: bit j = (vec . hp_j) > 0."""
    parts = []
    for j in range(n_planes):
        hp = hyperplane_sql(j, dim, dialect)
        parts.append(
            f"CASE WHEN {dot_sql(vec, hp, dialect)} > 0.0 THEN {1 << j} ELSE 0 END"
        )
    return "(" + " + ".join(parts) + ")"


def cosine_topk(
    emb: DataFrame, *, query_filter: str = "vec_id % 50 = 0", k: int = 5
) -> DataFrame:
    """Exact brute-force: top-k neighbours per query vector.
    Output: (query_id, neighbor_id, rank, cos)."""
    q = emb.filter(query_filter).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    pairs = F.broadcast(q).crossJoin(c).filter("query_id != neighbor_id")
    pairs = pairs.withColumn("cos", F.expr(cosine_sql("qv", "cv", "spark")))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def cosine_topk_oracle_sql(
    *, query_filter: str = "vec_id % 50 = 0", k: int = 5, table: str = "embeddings"
) -> str:
    cos = cosine_sql("q.embedding", "c.embedding", "duck")
    return f"""
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {cos} AS cos,
         row_number() OVER (PARTITION BY q.vec_id ORDER BY {cos} DESC, c.vec_id) AS rank
  FROM (SELECT * FROM {table} WHERE {query_filter}) q
  JOIN {table} c ON q.vec_id != c.vec_id
) WHERE rank <= {k}
"""


def lsh_buckets(emb: DataFrame) -> DataFrame:
    """(vec_id, bucket) — map-side only; the scale path groups/joins on this."""
    return emb.select(
        "vec_id", F.expr(lsh_bucket_sql("embedding", "spark")).alias("bucket")
    )


def lsh_bucket_oracle_sql() -> str:
    return f"""
SELECT vec_id, {lsh_bucket_sql('embedding', 'duck')} AS bucket FROM embeddings
"""


def lsh_cosine_topk(emb: DataFrame, *, k: int = 3) -> DataFrame:
    """Bucketed ANN: exact cosine rank WITHIN each LSH bucket.
    Output: (query_id, neighbor_id, rank, cos) — approximate global top-k."""
    b = lsh_buckets(emb).join(emb, "vec_id")
    a = b.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "bucket"
    )
    c = b.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"), "bucket"
    )
    pairs = a.join(c, "bucket").filter("query_id != neighbor_id")
    pairs = pairs.withColumn("cos", F.expr(cosine_sql("qv", "cv", "spark")))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def lsh_cosine_topk_oracle_sql(*, k: int = 3) -> str:
    cos = cosine_sql("a.embedding", "b.embedding", "duck")
    bucket_a = lsh_bucket_sql("a.embedding", "duck")
    bucket_b = lsh_bucket_sql("b.embedding", "duck")
    return f"""
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos FROM (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         {cos} AS cos,
         row_number() OVER (PARTITION BY a.vec_id ORDER BY {cos} DESC, b.vec_id) AS rank
  FROM embeddings a JOIN embeddings b
    ON ({bucket_a}) = ({bucket_b}) AND a.vec_id != b.vec_id
) WHERE rank <= {k}
"""


HAMMING = 2  # default multi-probe radius: best recall-per-candidate lift on
# near-uniform vectors (measured recall@5 vs candidate fraction at radius
# 1/2/3: 0.22 @ 3.5%, 0.34 @ 14.5%, 0.48 @ 36% — radius 2 maximizes lift
# over random ~2.3x).  Absolute recall is bounded by the synthetic
# embeddings being near-uniform random (no cluster structure for LSH to
# exploit); on the clustered mixture table (clustered_embeddings) the SAME
# settings measure recall@5 = 1.0 for both LSH-rerank and IVF at sf0.001
# and sf0.01 (tests/test_ann_clustered.py pins >= 0.8) — the structure of
# the corpus, not the machinery, was the r1/r2 bound.


def _probe_masks(n_planes: int, hamming: int) -> list[int]:
    """All XOR masks with popcount <= hamming over ``n_planes`` bits."""
    from itertools import combinations

    masks = [0]
    for r in range(1, hamming + 1):
        for bits in combinations(range(n_planes), r):
            masks.append(sum(1 << j for j in bits))
    return masks


def lsh_rerank_topk(
    emb: DataFrame, *, query_filter: str = "vec_id % 50 = 0", k: int = 5,
    n_planes: int = N_PLANES, hamming: int = HAMMING,
) -> DataFrame:
    """Multi-probe LSH candidate generation + exact cosine rerank — the two
    ANN halves composed into the production query shape.

    Each query probes its own bucket plus every bucket within Hamming
    distance ``hamming`` (sign-bit flips), so candidates are gathered by
    an EQUI hash join on the probe key — never a cross join, never a
    Hamming-predicate theta-join (which Spark would execute as a nested
    loop).  The probe expansion multiplies only the tiny query side by
    sum(C(n_planes, r) for r<=hamming); the 10^12-row candidate side is
    hashed once on its single bucket key.  Exact cosine then reranks
    candidates only.  Output: (query_id, neighbor_id, rank, cos)."""
    b = lsh_buckets(emb)
    q = (
        b.filter(query_filter)
        .join(emb, "vec_id")
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "bucket")
    )
    probes = F.array(*[F.expr(f"bucket ^ {m}") for m in _probe_masks(n_planes, hamming)])
    qp = q.withColumn("probe", F.explode(probes)).drop("bucket")
    c = b.join(emb, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        F.col("bucket").alias("probe"),
    )
    pairs = F.broadcast(qp).join(c, "probe").filter("query_id != neighbor_id")
    pairs = pairs.withColumn("cos", F.expr(cosine_sql("qv", "cv", "spark")))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def lsh_rerank_oracle_sql(
    *, query_filter: str = "vec_id % 50 = 0", k: int = 5, hamming: int = HAMMING,
    table: str = "embeddings",
) -> str:
    """Oracle twin: candidates = bucket Hamming distance <= ``hamming``
    (equivalent to the probe expansion), then exact cosine rank."""
    cos = cosine_sql("q.embedding", "c.embedding", "duck")
    bq = lsh_bucket_sql("q.embedding", "duck")
    bc = lsh_bucket_sql("c.embedding", "duck")
    return f"""
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {cos} AS cos,
         row_number() OVER (PARTITION BY q.vec_id ORDER BY {cos} DESC, c.vec_id) AS rank
  FROM (SELECT * FROM {table} WHERE {query_filter}) q
  JOIN {table} c
    ON bit_count(xor(CAST({bq} AS BIGINT), CAST({bc} AS BIGINT))) <= {hamming}
   AND q.vec_id != c.vec_id
) WHERE rank <= {k}
"""


def recall_at_k(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Recall@k of an approximate top-k against the exact top-k, as one row
    (k, n_exact, n_hit, recall) — the single scorer every ANN family (LSH,
    IVF, PQ, IVF-PQ, trained codebooks) reports through.

    Both inputs carry (query_id, neighbor_id) with at most one row per
    pair, which every row_number top-k here guarantees.  n_exact counts the
    exact pairs, n_hit those the approx top-k also returns; approx queries
    absent from ``exact`` score nothing.  Shape: one left join on the pair
    and one keyless aggregate; recall is NULL when ``exact`` is empty."""
    hit = approx.select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    return (
        exact.select("query_id", "neighbor_id")
        .join(hit, ["query_id", "neighbor_id"], "left")
        .agg(F.count(F.lit(1)).alias("n_exact"), F.count("_hit").alias("n_hit"))
        .select(
            F.lit(k).cast("int").alias("k"),
            "n_exact",
            "n_hit",
            F.expr("CAST(n_hit AS DOUBLE) / nullif(n_exact, 0)").alias("recall"),
        )
    )


def recall_oracle_sql(
    exact_sql: str, approx_sql: str, *, k: int, extra_cte: str = ""
) -> str:
    """DuckDB twin of :func:`recall_at_k` over two top-k query texts;
    ``extra_cte`` (text ending in a comma) defines tables they read."""
    return f"""
WITH {extra_cte}exact AS ({exact_sql}), approx AS ({approx_sql})
SELECT CAST({k} AS INT) AS k,
       count(*) AS n_exact,
       count(a.query_id) AS n_hit,
       CAST(count(a.query_id) AS DOUBLE) / nullif(count(*), 0) AS recall
FROM exact e
LEFT JOIN approx a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
"""


# --- IVF (inverted-file) ANN -----------------------------------------------
# The other classic scale path besides LSH: a coarse quantizer assigns every
# vector to its nearest of N_LISTS centroids (the inverted lists ARE the
# partitioning/shuffle key at 10^12 rows); a query probes its N_PROBE
# nearest lists and exact-reranks only those candidates.  Centroids are
# deterministic pseudo-random points (same integer-hash trick as the LSH
# hyperplanes) so the DuckDB oracle reproduces them exactly; on a real
# corpus they would come from a k-means sample, which changes only the
# literal arrays below.

N_LISTS = 16
N_PROBE = 4


def centroid_sql(j: int, dim: int, dialect: str) -> str:
    """Deterministic centroid j as array<double>."""
    body = f"CAST(((i * 2654435761 + {j} * 48271 + 9973) % 1999) - 999 AS DOUBLE)"
    if dialect == "spark":
        return f"transform(sequence(0, {dim - 1}), i -> {body})"
    return f"list_transform(range(0, {dim}), i -> {body})"


def centroid_sims_sql(vec: str, dialect: str, n_lists: int = N_LISTS, dim: int = DIM) -> str:
    """array<double> of cosine(vec, centroid_j) for all lists."""
    sims = ", ".join(
        cosine_sql(vec, centroid_sql(j, dim, dialect), dialect) for j in range(n_lists)
    )
    if dialect == "spark":
        return f"array({sims})"
    return f"list_value({sims})"


def ivf_assign_sql(vec: str, dialect: str) -> str:
    """Nearest-centroid list id (argmax cosine; first index wins ties).
    Both engines compute the identical double array, so position-of-max
    matches bit-for-bit."""
    sims = centroid_sims_sql(vec, dialect)
    if dialect == "spark":
        return f"CAST(array_position({sims}, array_max({sims})) - 1 AS INT)"
    return f"CAST(list_position({sims}, list_max({sims})) - 1 AS INT)"


def ivf_assign(emb: DataFrame) -> DataFrame:
    """(vec_id, list_id) — map-side only; the inverted-list partitioning."""
    return emb.select(
        "vec_id", F.expr(ivf_assign_sql("embedding", "spark")).alias("list_id")
    )


def ivf_assign_oracle_sql() -> str:
    return f"""
SELECT vec_id, {ivf_assign_sql('embedding', 'duck')} AS list_id FROM embeddings
"""


def ivf_centroid_update(emb: DataFrame) -> DataFrame:
    """One exact distributed k-means M-step for the IVF quantizer:
    per (list_id, dim) the member count and the fixed-point component sum
    (the centroid numerator; consumer divides sum_e6 / (n · 1e6)).

    Exactness: each float32 component is widened to double (exact), scaled
    by 1e6 (exact double product for these magnitudes) and FLOORED to
    BIGINT — floor is deterministic where round() ties are engine-policy —
    so the sum is an integer aggregate, order-insensitive.  Shape: one
    shuffle on (list_id, dim) after a constant-width posexplode; partial
    agg map-side.  This is the building block that makes IVF training a
    sequence of exact, restartable Spark jobs."""
    assigned = emb.withColumn(
        "list_id", F.expr(ivf_assign_sql("embedding", "spark"))
    )
    return (
        assigned.select("list_id", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("list_id", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.expr("CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)")
            ).alias("sum_e6"),
        )
    )


def ivf_centroid_update_oracle_sql() -> str:
    return f"""
WITH a AS (
  SELECT {ivf_assign_sql('embedding', 'duck')} AS list_id, embedding FROM embeddings
),
e AS (
  SELECT list_id, i AS dim,
         CAST(floor(CAST(list_extract(embedding, i + 1) AS DOUBLE) * 1000000.0)
              AS BIGINT) AS xi
  FROM (SELECT list_id, embedding, unnest(range(0, len(embedding))) AS i FROM a)
)
SELECT list_id, dim, count(*) AS n, CAST(sum(xi) AS BIGINT) AS sum_e6
FROM e GROUP BY 1, 2
"""


def _purity_body_sql(assigned_sql: str) -> str:
    """Shared (Spark ≡ DuckDB) text: per-list majority label + counts,
    deterministic tie-break (count desc, label asc)."""
    return f"""
WITH a AS ({assigned_sql}),
c AS (SELECT list_id, label, count(*) AS n FROM a GROUP BY list_id, label),
r AS (
  SELECT *, row_number() OVER (PARTITION BY list_id ORDER BY n DESC, label) AS rk
  FROM c
),
t AS (SELECT list_id, CAST(sum(n) AS BIGINT) AS total FROM c GROUP BY list_id)
SELECT r.list_id, t.total, r.label AS top_label, r.n AS top_n
FROM r JOIN t ON r.list_id = t.list_id
WHERE rk = 1
"""


def ivf_label_purity(emb: DataFrame) -> DataFrame:
    """Quantizer quality: per IVF list the member count and the majority
    class label (purity = top_n / total at the consumer).  Two partial-
    agg'd shuffles on (list, label) then list; the top-1 window rides the
    second grouping's partitioning."""
    spark = emb.sparkSession
    emb.select(
        F.expr(ivf_assign_sql("embedding", "spark")).alias("list_id"), "label"
    ).createOrReplaceTempView("_ivf_assigned")
    return spark.sql(_purity_body_sql("SELECT list_id, label FROM _ivf_assigned"))


def ivf_label_purity_oracle_sql() -> str:
    return _purity_body_sql(
        f"SELECT {ivf_assign_sql('embedding', 'duck')} AS list_id, label FROM embeddings"
    )


def ivf_reassign(emb: DataFrame) -> DataFrame:
    """The E-step completing one exact k-means round: re-assign every
    vector to its nearest UPDATED centroid (from the fixed-point M-step).

    Determinism chain: centroid components are ratios of exact integers
    (bit-identical divisions), the squared distance is a pinned-order
    left fold over dims (bit-identical accumulation), and argmin
    tie-breaks on list_id via struct-min — so the assignment, an
    iterative-ML step, is oracle-exact.  Shape: the centroid table
    (n_lists rows) broadcasts; one fold per (point, centroid) map-side;
    argmin is a partial-agg'd groupBy on vec_id.  Iterating
    M-step → E-step to convergence is this pair in a loop with a
    localCheckpoint per round (the Pregel recipe)."""
    cent = (
        ivf_centroid_update(emb)
        .groupBy("list_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, "
                "CAST(sum_e6 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) AS c))), "
                "s -> s.c)"
            ).alias("centroid")
        )
    )
    diff = (
        "(CAST(element_at(embedding, i) AS DOUBLE) - element_at(centroid, i))"
    )
    dist = (
        f"aggregate(sequence(1, size(embedding)), CAST(0.0 AS DOUBLE), "
        f"(acc, i) -> acc + {diff} * {diff})"
    )
    return (
        emb.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cent))  # n_lists rows: bounded by construction
        .withColumn("d2", F.expr(dist))
        .groupBy("vec_id")
        .agg(F.min(F.expr("struct(d2, list_id)")).alias("m"))
        .selectExpr("vec_id", "m.list_id AS list_id")
    )


def ivf_reassign_oracle_sql() -> str:
    cent_update = ivf_centroid_update_oracle_sql().strip()
    diff = (
        "(CAST(list_extract(embedding, i) AS DOUBLE) - list_extract(centroid, i))"
    )
    dist = (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len(embedding) + 1), i -> {diff} * {diff})), "
        f"(a, b) -> a + b)"
    )
    return f"""
WITH m AS ({cent_update}),
cent AS (
  SELECT list_id,
         list(CAST(sum_e6 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
              ORDER BY dim) AS centroid
  FROM m GROUP BY list_id
),
d AS (
  SELECT vec_id, list_id, {dist} AS d2
  FROM embeddings CROSS JOIN cent
),
r AS (
  SELECT vec_id, list_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, list_id) AS rk
  FROM d
)
SELECT vec_id, list_id FROM r WHERE rk = 1
"""


def ivf_topk(
    emb: DataFrame, *, query_filter: str = "vec_id % 50 = 0", k: int = 5,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """IVF probe + exact rerank: each query expands to its n_probe nearest
    lists (posexplode of a constant-width sims array — a Generate, not a
    join), then ONE equi hash join on list_id gathers candidates; exact
    cosine reranks.  Output: (query_id, neighbor_id, rank, cos)."""
    assigned = emb.withColumn(
        "list_id", F.expr(ivf_assign_sql("embedding", "spark"))
    )
    q = (
        assigned.filter(query_filter)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.posexplode(F.expr(centroid_sims_sql("embedding", "spark"))).alias(
                "probe", "_sim"
            ),
        )
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("probe").asc())
    qp = (
        q.withColumn("_pr", F.row_number().over(wp))
        .filter(F.col("_pr") <= n_probe)
        .select("query_id", "qv", "probe")
    )
    c = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        F.col("list_id").alias("probe"),
    )
    pairs = F.broadcast(qp).join(c, "probe").filter("query_id != neighbor_id")
    pairs = pairs.withColumn("cos", F.expr(cosine_sql("qv", "cv", "spark")))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def ivf_topk_oracle_sql(
    *, query_filter: str = "vec_id % 50 = 0", k: int = 5, n_probe: int = N_PROBE,
    table: str = "embeddings",
) -> str:
    cos = cosine_sql("q.embedding", "c.embedding", "duck")
    q_sims = centroid_sims_sql("embedding", "duck")
    return f"""
WITH probes AS (
  SELECT query_id, probe FROM (
    SELECT query_id, probe, sim,
           row_number() OVER (
             PARTITION BY query_id ORDER BY sim DESC, probe
           ) AS pr
    FROM (
      SELECT vec_id AS query_id,
             generate_subscripts(sims, 1) - 1 AS probe, unnest(sims) AS sim
      FROM (SELECT vec_id, {q_sims} AS sims FROM {table} WHERE {query_filter})
    )
  ) WHERE pr <= {n_probe}
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos FROM (
  SELECT p.query_id, c.vec_id AS neighbor_id, {cos} AS cos,
         row_number() OVER (PARTITION BY p.query_id ORDER BY {cos} DESC, c.vec_id) AS rank
  FROM probes p
  JOIN {table} q ON q.vec_id = p.query_id
  JOIN {table} c
    ON ({ivf_assign_sql('c.embedding', 'duck')}) = p.probe
   AND c.vec_id != p.query_id
) WHERE rank <= {k}
"""


def embedding_near_dup(emb: DataFrame, *, tau: float = 0.4) -> DataFrame:
    """Embedding-cosine near-duplicate assignment (the training-data dedup
    variant of the ANN path): within each LSH bucket, any pair with
    cosine >= tau is a duplicate pair; every vector maps to a canonical id
    = min(own id, min duplicate-partner id).  One bucket-keyed shuffle
    join (never a cross join) + one aggregation — the same shape that
    holds at 10^12 vectors.  Output: (vec_id, canonical_id, n_dups)."""
    b = lsh_buckets(emb).join(emb, "vec_id")
    a = b.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("qv"), "bucket")
    c = b.select(F.col("vec_id").alias("_nbr"), F.col("embedding").alias("cv"), "bucket")
    pairs = (
        a.join(c, "bucket")
        .filter("_id != _nbr")
        .withColumn("cos", F.expr(cosine_sql("qv", "cv", "spark")))
        .filter(F.col("cos") >= tau)
    )
    dup_min = pairs.groupBy("_id").agg(
        F.min("_nbr").alias("_mn"), F.count(F.lit(1)).alias("n_dups")
    )
    return (
        emb.select(F.col("vec_id"))
        .join(dup_min, emb.vec_id == dup_min._id, "left")
        .select(
            "vec_id",
            F.least(F.col("vec_id"), F.coalesce("_mn", F.col("vec_id"))).alias("canonical_id"),
            F.coalesce("n_dups", F.lit(0)).cast("long").alias("n_dups"),
        )
    )


def embedding_near_dup_oracle_sql(
    *, tau: float = 0.4, table: str = "embeddings", extra_cte: str = ""
) -> str:
    cos = cosine_sql("a.embedding", "b.embedding", "duck")
    ba = lsh_bucket_sql("a.embedding", "duck")
    bb = lsh_bucket_sql("b.embedding", "duck")
    return f"""
WITH {extra_cte}pairs AS (
  SELECT a.vec_id AS _id, b.vec_id AS _nbr
  FROM {table} a JOIN {table} b
    ON ({ba}) = ({bb}) AND a.vec_id != b.vec_id
  WHERE {cos} >= {tau!r}
),
dup_min AS (
  SELECT _id, min(_nbr) AS _mn, count(*) AS n_dups FROM pairs GROUP BY _id
)
SELECT e.vec_id,
       least(e.vec_id, coalesce(d._mn, e.vec_id)) AS canonical_id,
       CAST(coalesce(d.n_dups, 0) AS BIGINT) AS n_dups
FROM {table} e LEFT JOIN dup_min d ON e.vec_id = d._id
"""


# --- clustered synthetic embeddings -----------------------------------------
# The base `embeddings` table is near-uniform random, which bounds LSH/IVF
# recall at ~0.3-0.5 regardless of probe settings (nothing for locality
# hashing to exploit).  Real corpora are CLUSTERED, so the recall
# diagnostics under-sold the machinery.  This section derives a
# deterministic Gaussian-mixture-style table from (vec_id, label) with pure
# integer-hash arithmetic — every component is an exact small integer cast
# to double, so Spark and DuckDB generate bit-identical vectors and every
# downstream cosine/rank/recall stays oracle-exact.  Mixture shape:
# centroid(label) components uniform in ±1000, per-vector noise uniform in
# ±60 (≈6% of scale) — within-label cosine ≈0.99, cross-label ≈|N(0,1/8)|.


def clustered_vec_sql(dialect: str, *, dim: int = DIM) -> str:
    """array<double> expression over columns (vec_id, label):
    v[i] = centroid(label)[i] + noise(vec_id, i), all exact integers.

    The centroid uses a label-dependent STRIDE over a prime modulus —
    an additive label term would make different labels' centroids shifted
    copies of one sequence (measured cross-label cosine up to 0.83);
    distinct strides mod 1999 decorrelate them (max |cross cos| ~0.2)."""
    cent = f"((((CAST(i AS BIGINT) + 1) * (CAST(label AS BIGINT) * 100003 + 12345)) % 1999) - 999)"
    noise = f"(((CAST(vec_id AS BIGINT) * 1103515245 + CAST(i AS BIGINT) * 12345 + 54321) % 121) - 60)"
    body = f"CAST({cent} + {noise} AS DOUBLE)"
    if dialect == "spark":
        return f"transform(sequence(0, {dim - 1}), i -> {body})"
    return f"list_transform(range(0, {dim}), i -> {body})"


def clustered_embeddings(emb: DataFrame) -> DataFrame:
    """(vec_id, label, embedding:array<double>) — map-side derivation."""
    return emb.select(
        "vec_id", "label", F.expr(clustered_vec_sql("spark")).alias("embedding")
    )


def clustered_table_cte(name: str = "embeddings_c") -> str:
    """DuckDB CTE text rebuilding the identical clustered table."""
    return (
        f"{name} AS (SELECT vec_id, label, "
        f"{clustered_vec_sql('duck')} AS embedding FROM embeddings)"
    )


# --- kNN classification (majority vote over the IVF probe path) --------------


def knn_classify(
    emb: DataFrame, *, query_filter: str = "vec_id % 50 = 0", k: int = 5,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """Label prediction by majority vote among the exact top-k neighbors
    gathered through the IVF probe join (the ANN index applied, not just
    measured): ties break to the smaller label, so the vote is
    deterministic.  Output (query_id, label, pred, n_votes, correct) —
    per-query rows pin the full prediction set, and avg(correct) is the
    classifier accuracy.  Scale shape: ivf_topk's single candidates equi
    join + two bounded-key aggregations (votes are <= k rows per query)."""
    topk = ivf_topk(emb, query_filter=query_filter, k=k, n_probe=n_probe)
    lab = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel"))
    votes = (
        topk.join(lab, "neighbor_id")
        .groupBy("query_id", "nlabel")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("nlabel").asc()
    )
    pred = (
        votes.withColumn("_r", F.row_number().over(w))
        .filter("_r = 1")
        .select("query_id", F.col("nlabel").alias("pred"), "n_votes")
    )
    truth = emb.select(F.col("vec_id").alias("query_id"), "label")
    return pred.join(truth, "query_id").select(
        "query_id", "label", "pred", "n_votes",
        (F.col("pred") == F.col("label")).cast("int").alias("correct"),
    )


def knn_classify_oracle_sql(
    *, query_filter: str = "vec_id % 50 = 0", k: int = 5, n_probe: int = N_PROBE,
    table: str = "embeddings", extra_cte: str = "",
) -> str:
    cos = cosine_sql("q.embedding", "c.embedding", "duck")
    q_sims = centroid_sims_sql("embedding", "duck")
    return f"""
WITH {extra_cte}probes AS (
  SELECT query_id, probe FROM (
    SELECT query_id, probe, sim,
           row_number() OVER (
             PARTITION BY query_id ORDER BY sim DESC, probe
           ) AS pr
    FROM (
      SELECT vec_id AS query_id,
             generate_subscripts(sims, 1) - 1 AS probe, unnest(sims) AS sim
      FROM (SELECT vec_id, {q_sims} AS sims FROM {table} WHERE {query_filter})
    )
  ) WHERE pr <= {n_probe}
),
topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY p.query_id ORDER BY {cos} DESC, c.vec_id) AS rank
    FROM probes p
    JOIN {table} q ON q.vec_id = p.query_id
    JOIN {table} c
      ON ({ivf_assign_sql('c.embedding', 'duck')}) = p.probe
     AND c.vec_id != p.query_id
  ) WHERE rank <= {k}
),
votes AS (
  SELECT t.query_id, c.label AS nlabel, count(1) AS n_votes
  FROM topk t JOIN {table} c ON c.vec_id = t.neighbor_id
  GROUP BY t.query_id, c.label
),
pred AS (
  SELECT query_id, nlabel AS pred, n_votes FROM (
    SELECT query_id, nlabel, n_votes,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY n_votes DESC, nlabel) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT p.query_id, q.label, p.pred, p.n_votes,
       CAST(CASE WHEN p.pred = q.label THEN 1 ELSE 0 END AS INT) AS correct
FROM pred p JOIN {table} q ON q.vec_id = p.query_id
"""
