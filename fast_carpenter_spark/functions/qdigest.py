"""Q-digest quantile sketch — the fourth sketch family: mergeable
QUANTILES over a bounded integer domain (Shrivastava et al.'s sensor-
network digest), joining HLL (distinct, max-merge), theta (sets,
union-merge) and CMS (frequency, sum-merge).

Structure: the complete binary tree over [0, U) with heap node ids (root
1, leaf for value x = U + x).  Build: histogram at the leaves, then one
bottom-up pass with threshold t = max(1, n // k) — per family at each
depth, if the children's counts plus the parent's fit under t they are
pushed into the parent, otherwise the children FREEZE into the digest.
Everything is integer arithmetic over a deterministic rule, so two
engines produce the identical digest.

Guarantees (both asserted in tests):
* size: <= 3k nodes regardless of n or the value distribution;
* rank error: a quantile answered from the digest has true rank within
  log2(U)/k * n of the target (each ancestor on the answer's root path
  can hide at most t counts).

Merge: union the node counts, recompress with the combined t.  Unlike the
other three sketches the merged digest is NOT bit-identical to the
single-pass digest — the compression is lossy and order-dependent — but
the size and rank-error guarantees survive merging, which is the contract
that matters for per-executor partial sketches.  The contrast is
deliberate and tested.

Scale shape: the only distributed work is one bounded-cardinality
histogram groupBy (<= U rows out); compression runs on sketch-sized data
(U log U integer ops) driver-side, the same bounded-state finalize
discipline as the HLL estimate.  The DuckDB oracle is an INDEPENDENT
formulation — the per-level family rule unrolled as chained CTEs — so the
engines agree through different implementations.

ref parity note: the reference has no sketching; sibling of
functions/sketch.py (cms/hll/theta).
"""

from __future__ import annotations

QD_U = 1024  # value domain [0, U): n_chars clamps here (corpus max ~560)
QD_K = 64    # compression parameter: rank error <= log2(U)/k = 10/64
QD_QS = (25, 50, 75, 90)  # percentiles the registry query answers


def _depth(node_id: int) -> int:
    return node_id.bit_length() - 1


def node_interval(node_id: int, u: int = QD_U) -> tuple[int, int]:
    """[lo, hi] value interval covered by a heap node id."""
    d = _depth(node_id)
    width = u >> d
    lo = (node_id - (1 << d)) * width
    return lo, lo + width - 1


def qdigest_compress(
    counts: dict[int, int], *, n: int | None = None, u: int = QD_U, k: int = QD_K
) -> tuple[dict[int, int], int, int]:
    """Bottom-up q-digest compression of node counts (leaf ids u+value for
    a fresh build; arbitrary node ids when recompressing a merge).
    Returns (digest nodes, n, t)."""
    n = sum(counts.values()) if n is None else n
    t = max(1, n // k)
    cur = dict(counts)
    frozen: dict[int, int] = {}
    max_d = _depth(u)  # leaves sit at depth log2(u)
    for d in range(max_d, 0, -1):
        level = [i for i in cur if _depth(i) == d]
        fams: dict[int, int] = {}
        for i in level:
            fams[i // 2] = fams.get(i // 2, 0) + cur[i]
        for p, s in sorted(fams.items()):
            if s + cur.get(p, 0) <= t:
                cur[p] = cur.get(p, 0) + s
                for child in (2 * p, 2 * p + 1):
                    cur.pop(child, None)
            else:
                for child in (2 * p, 2 * p + 1):
                    if child in cur:
                        frozen[child] = cur.pop(child)
    frozen.update(cur)  # root remainder (and nothing else can survive)
    return frozen, n, t


def qdigest_merge(
    a: dict[int, int], b: dict[int, int], *, u: int = QD_U, k: int = QD_K
) -> tuple[dict[int, int], int, int]:
    """Union node counts, recompress with the combined threshold."""
    merged: dict[int, int] = dict(a)
    for i, c in b.items():
        merged[i] = merged.get(i, 0) + c
    return qdigest_compress(merged, u=u, k=k)


def qdigest_rank_query(
    digest: dict[int, int], n: int, q_pct: int, *, u: int = QD_U
) -> int:
    """Quantile estimate: nodes ordered by (hi, width, id), prefix-summed;
    the answer is the hi of the first node whose cumulative count reaches
    ceil(q*n/100).  The same deterministic rule the oracle SQL encodes."""
    target = (q_pct * n + 99) // 100
    cum = 0
    for node_id, cnt in sorted(
        digest.items(),
        key=lambda it: (
            node_interval(it[0], u)[1],
            node_interval(it[0], u)[1] - node_interval(it[0], u)[0],
            it[0],
        ),
    ):
        cum += cnt
        if cum >= target:
            return node_interval(node_id, u)[1]
    return u - 1


QUANTILE_SCHEMA = "q_pct int, est bigint, exact bigint, digest_size int, n bigint"


def quantile_rows(hist) -> list[tuple[int, int, int, int, int]]:
    """The answer to the standard percentiles ``QD_QS`` from a value
    histogram of (value, count) pairs: per percentile, the digest's
    estimate beside the exact quantile, the digest size and n — rows of
    ``QUANTILE_SCHEMA``."""
    hist = sorted(hist)
    digest, n, _t = qdigest_compress({QD_U + v: c for v, c in hist})
    rows = []
    for q in QD_QS:
        target = (q * n + 99) // 100
        cum, exact = 0, QD_U - 1
        for v, c in hist:
            cum += c
            if cum >= target:
                exact = v
                break
        rows.append((q, qdigest_rank_query(digest, n, q), exact, len(digest), n))
    return rows


def _level_ctes(u: int, dialect_div: str) -> str:
    """The per-level family rule unrolled as chained CTEs (DuckDB
    materializes multiply-referenced CTEs, so no recompute blow-up)."""
    max_d = _depth(u)
    parts = [f"cur{max_d} AS (SELECT {u} + v AS id, cnt FROM hist)"]
    for d in range(max_d, 0, -1):
        parts.append(
            f"fam{d} AS (SELECT id {dialect_div} 2 AS p, "
            f"CAST(sum(cnt) AS BIGINT) AS s FROM cur{d} GROUP BY 1)"
        )
        parts.append(
            f"frozen{d} AS (SELECT c.id, c.cnt FROM cur{d} c "
            f"JOIN fam{d} f ON f.p = c.id {dialect_div} 2, params "
            f"WHERE f.s > params.t)"
        )
        parts.append(
            f"cur{d - 1} AS (SELECT f.p AS id, f.s AS cnt FROM fam{d} f, params "
            f"WHERE f.s <= params.t)"
        )
    union = " UNION ALL ".join(
        [f"SELECT id, cnt FROM frozen{d}" for d in range(max_d, 0, -1)]
        + ["SELECT id, cnt FROM cur0"]
    )
    parts.append(f"digest AS ({union})")
    return ",\n".join(parts)


def qdigest_oracle_sql(
    *, u: int = QD_U, k: int = QD_K, qs: tuple = QD_QS, table: str = "documents"
) -> str:
    """Full q-digest build + quantile answers in DuckDB SQL (independent
    formulation of the Python build — see module docstring)."""
    q_vals = ", ".join(f"({q})" for q in qs)
    return f"""
WITH params AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         greatest(1, count(*) // {k}) AS t
  FROM {table}
),
hist AS (
  SELECT least(greatest(n_chars, 0), {u - 1}) AS v,
         CAST(count(*) AS BIGINT) AS cnt
  FROM {table} GROUP BY 1
),
{_level_ctes(u, '//')},
iv AS (
  SELECT id, cnt,
         (id - (1 << (length(bin(id)) - 1))) * ({u} >> (length(bin(id)) - 1)) AS lo,
         ({u} >> (length(bin(id)) - 1)) AS width
  FROM digest
),
ordered AS (
  SELECT lo + width - 1 AS hi, cnt, id,
         sum(cnt) OVER (ORDER BY lo + width - 1, width, id) AS cum
  FROM iv
),
hord AS (
  SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM hist
),
dsize AS (SELECT CAST(count(*) AS INT) AS digest_size FROM digest)
SELECT CAST(q.q AS INT) AS q_pct,
       CAST(min(CASE WHEN o.cum >= (q.q * p.n + 99) // 100 THEN o.hi END) AS BIGINT) AS est,
       CAST(min(CASE WHEN h.cum >= (q.q * p.n + 99) // 100 THEN h.v END) AS BIGINT) AS exact,
       CAST(any_value(d.digest_size) AS INT) AS digest_size,
       CAST(any_value(p.n) AS BIGINT) AS n
FROM (VALUES {q_vals}) AS q(q), params p, dsize d, ordered o, hord h
GROUP BY 1
"""
