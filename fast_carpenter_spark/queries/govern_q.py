"""Split from the original single-module queries.py (round-4 refactor); see queries/__init__.py for the public surface."""

from __future__ import annotations

from ..session import local_frame
from ._common import (
    CutFlowStage,
    F,
    REGION_RES,
    _load_events,
    compile_tree,
    flat_spans,
    grid,
    load_documents,
    oracle_counters_sql,
    parse_selection,
    synth,
)
from .tiles_q import (
    O_SPANS_FLAT,
)
from .traindata_q import (
    O_MINHASH_LSH,
    _dedup,
    _text,
)

def q_dedup_editdist(spark, sf_dir):
    """Character-level fuzzy near-dup pairs (levenshtein <= 8 inside
    prefix+length blocks) — the typo/OCR modality that token-shingle
    MinHash misses; blocked equi self-join, never all-pairs."""
    return _dedup.edit_distance_pairs(load_documents(spark, sf_dir))


def _o_dedup_editdist() -> str:
    return _dedup.edit_distance_pairs_oracle_sql()


def q_profile_cube(spark, sf_dir):
    """Multi-grain corpus profile in ONE pass: GROUPING SETS over
    (lang, source) — per-pair, per-lang, per-source and grand-total rows
    from a single scan + one shuffle (Spark expands sets map-side), the
    rollup shape dashboards ask of a 100 TB corpus."""
    docs = load_documents(spark, sf_dir)
    docs.createOrReplaceTempView("cube_docs")
    return spark.sql(
        """
        SELECT lang, source, count(*) AS n,
               CAST(sum(n_chars) AS BIGINT) AS chars,
               CAST(grouping(lang) AS INT) AS g_lang,
               CAST(grouping(source) AS INT) AS g_source
        FROM cube_docs
        GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
        """
    )


O_PROFILE_CUBE = """
SELECT lang, source, count(*) AS n,
       CAST(sum(n_chars) AS BIGINT) AS chars,
       CAST(grouping(lang) AS INT) AS g_lang,
       CAST(grouping(source) AS INT) AS g_source
FROM documents
GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
"""


def _stays_sql(dialect: str) -> str:
    """Shared-text gaps-and-islands stay detection: contiguous same-cell
    runs of length >= 3 along each document's span sequence (the
    stay-point primitive of trajectory mining).  Island key =
    span_idx - row_number within (doc, cell) — one window pass over the
    doc_id shuffle, the classic islands idiom."""
    cell = grid.cell_sql("lon", "lat", REGION_RES, dialect)
    fs = synth.flat_spans_sql(dialect)
    return f"""
WITH fs AS ({fs}),
cells AS (
  SELECT doc_id, span_idx, {cell} AS cell FROM fs
),
isl AS (
  SELECT doc_id, cell, span_idx,
         span_idx - row_number() OVER (
           PARTITION BY doc_id, cell ORDER BY span_idx) AS g
  FROM cells
)
SELECT doc_id, cell,
       CAST(min(span_idx) AS INT) AS start_idx,
       CAST(count(*) AS BIGINT) AS run_len
FROM isl GROUP BY doc_id, cell, g HAVING count(*) >= 3
"""


def q_trajectory_stays(spark, sf_dir):
    """Stay-point detection (gaps-and-islands): contiguous same-cell runs
    (len >= 3) along each document's span trajectory — the dwell/stop
    primitive of trajectory mining, one window pass on the doc_id key."""
    load_documents(spark, sf_dir)
    return spark.sql(_stays_sql("spark"))


O_TRAJECTORY_STAYS = _stays_sql("duck")


SAMPLE_W_K = 32
SAMPLE_W_SCALE = 1_000_000_000


def q_sample_weighted(spark, sf_dir):
    """Deterministic PRIORITY SAMPLING (Duffield et al.): inclusion
    probability ~ weight (n_chars) without any transcendental — priority =
    (hash(doc) * SCALE) DIV weight, keep the K smallest.  All-integer, so
    the sample is reproducible across engines, restarts and partitionings
    — the property a 100 TB curation pipeline needs from its sampler.
    One map-side expression + one top-K (WindowGroupLimit)."""
    docs = load_documents(spark, sf_dir)
    pr = (
        "(CAST((doc_id * 2654435761) % 1000003 + 1 AS BIGINT) "
        f"* {SAMPLE_W_SCALE}) DIV CAST(greatest(n_chars, 1) AS BIGINT)"
    )
    from pyspark.sql import Window

    d = docs.selectExpr("doc_id", "n_chars", f"{pr} AS priority")
    w = Window.orderBy(F.col("priority").asc(), F.col("doc_id").asc())
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SAMPLE_W_K)
        .select("doc_id", "n_chars", "priority")
    )


O_SAMPLE_WEIGHTED = f"""
SELECT doc_id, n_chars, priority FROM (
  SELECT doc_id, n_chars,
         (CAST((doc_id * 2654435761) % 1000003 + 1 AS BIGINT)
          * {SAMPLE_W_SCALE}) // CAST(greatest(n_chars, 1) AS BIGINT) AS priority,
         row_number() OVER (
           ORDER BY (CAST((doc_id * 2654435761) % 1000003 + 1 AS BIGINT)
                     * {SAMPLE_W_SCALE}) // CAST(greatest(n_chars, 1) AS BIGINT) ASC,
                    doc_id ASC) AS rk
  FROM documents
) WHERE rk <= {SAMPLE_W_K}
"""


def q_cms_topk(spark, sf_dir):
    """Count-min-sketch heavy hitters: top-15 tokens by SKETCH estimate
    with the exact count alongside (est >= exact, the one-sided CMS
    guarantee, is itself oracle-checked).  Sketch state is a fixed 4x256
    grid regardless of corpus size — the bounded-state substitute for the
    unbounded distinct-token shuffle at 10^12 docs."""
    from ..functions import sketch as _sketch

    return _sketch.cms_topk(load_documents(spark, sf_dir))


def _o_cms_topk() -> str:
    from ..functions import sketch as _sketch

    return _sketch.cms_topk_oracle_sql()


def q_hll_distinct(spark, sf_dir):
    """Per-language HLL distinct-token estimate next to the exact count:
    64 exact-integer registers per group (the bounded-state substitute for
    count(DISTINCT token)); the register sum is an exact BIGINT and the
    estimate is one division by a precomputed literal, so even the
    'approximate' sketch is bit-exact across engines."""
    from ..functions import sketch as _sketch

    return _sketch.hll_distinct(load_documents(spark, sf_dir))


def _o_hll_distinct() -> str:
    from ..functions import sketch as _sketch

    return _sketch.hll_distinct_oracle_sql()


def q_hll_union(spark, sf_dir):
    """HLL mergeability end-to-end: per-(lang, source) partial sketches
    merged by register-wise MAX into per-lang sketches — the lossless
    union that lets 1000 executors sketch their shards independently;
    the merged estimate is IDENTICAL to the single-pass hll_distinct's
    (max of maxes), unit-test-asserted."""
    from ..functions import sketch as _sketch

    return _sketch.hll_union(load_documents(spark, sf_dir))


def _o_hll_union() -> str:
    from ..functions import sketch as _sketch

    return _sketch.hll_union_oracle_sql()


def q_theta_distinct(spark, sf_dir):
    """Theta (fixed-threshold KMV-style) distinct sketch: per-language
    distinct-bigram estimate from the ~1/16 sampled hash sub-space, exact
    count alongside.  The theta filter runs MAP-SIDE before the distinct
    exchange, and the kept set merges by plain set-union across shards —
    the third sketch family, and the one that supports set operations."""
    from ..functions import sketch as _sketch

    return _sketch.theta_distinct(load_documents(spark, sf_dir))


def _o_theta_distinct() -> str:
    from ..functions import sketch as _sketch

    return _sketch.theta_distinct_oracle_sql()


def q_theta_jaccard(spark, sf_dir):
    """Pairwise language Jaccard/intersection ESTIMATES from theta
    sketches (the set operation HLL registers cannot express), with exact
    values alongside.  Pairwise work is a posting-list equi-join on the
    hash — never a corpus cross join."""
    from ..functions import sketch as _sketch

    return _sketch.theta_jaccard(load_documents(spark, sf_dir))


def _o_theta_jaccard() -> str:
    from ..functions import sketch as _sketch

    return _sketch.theta_jaccard_oracle_sql()


def _quality_repetition_sql(dialect: str, docs: str = "documents") -> str:
    """Intra-document repetition signals (the Gopher/RefinedWeb-style
    quality rule): duplicate 3-gram fraction (1 − distinct/total, in
    exact 1/10000 fixed-point so the ratio is integer), the highest
    single-gram multiplicity, and the repetition flag at the standard
    30% threshold.  Pure map-side array algebra over the staged gram
    column — no shuffle until the final (tiny) projection; at 10^12 docs
    this runs inside the scan stage."""
    from ..functions.text import ngram_hashes_sql

    grams = ngram_hashes_sql("text", 3, dialect)
    if dialect == "spark":
        distinct_n = "size(array_distinct(grams))"
        total_n = "size(grams)"
        # highest multiplicity via sort + run-length fold (exact integers)
        top_rep = (
            "aggregate(slice(sorted, 2, size(sorted) - 1), "
            "struct(1 AS run, 1 AS best, sorted[0] AS prev), "
            "(acc, g) -> CASE WHEN g = acc.prev THEN "
            "struct(acc.run + 1 AS run, GREATEST(acc.best, acc.run + 1) AS best, g AS prev) "
            "ELSE struct(1 AS run, acc.best AS best, g AS prev) END, "
            "acc -> acc.best)"
        )
        return f"""
SELECT doc_id, total_n, distinct_n,
       CAST((total_n - distinct_n) * 10000 DIV total_n AS BIGINT) AS dup_frac_bp,
       CAST({top_rep} AS BIGINT) AS top_gram_count,
       (total_n - distinct_n) * 10 >= total_n * 3 AS is_repetitive
FROM (
  SELECT doc_id, CAST({distinct_n} AS BIGINT) AS distinct_n,
         CAST({total_n} AS BIGINT) AS total_n,
         array_sort(grams) AS sorted
  FROM (SELECT doc_id, {grams} AS grams FROM {docs})
)
WHERE total_n > 0
"""
    return f"""
WITH g AS (
  SELECT doc_id, unnest({grams}) AS gh FROM {docs}
),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS total_n,
         CAST(count(DISTINCT gh) AS BIGINT) AS distinct_n,
         CAST(max(cnt) AS BIGINT) AS top_gram_count
  FROM (SELECT doc_id, gh, count(*) OVER (PARTITION BY doc_id, gh) AS cnt FROM g)
  GROUP BY doc_id
)
SELECT doc_id, total_n, distinct_n,
       CAST((total_n - distinct_n) * 10000 // total_n AS BIGINT) AS dup_frac_bp,
       top_gram_count,
       (total_n - distinct_n) * 10 >= total_n * 3 AS is_repetitive
FROM per
"""


def q_quality_repetition(spark, sf_dir):
    """Repetition-based quality scoring: duplicate-3-gram fraction and
    max gram multiplicity per document, exact integers, map-side."""
    load_documents(spark, sf_dir)
    return spark.sql(_quality_repetition_sql("spark"))


def _text_search_sql(dialect: str) -> str:
    """IR-style retrieval over the corpus: conjunctive AND of three terms
    (posting-list tf counts, docs must match all) plus an exact PHRASE
    count ('table scan') via position-posting intersection — both term
    postings are filtered map-side to their tokens BEFORE the (doc, pos)
    equi-join, so the phrase join touches posting-list-sized inputs, never
    the token stream (the classic phrase-query plan).  Adjacency uses
    pos+1 only, so Spark's 0-based posexplode and DuckDB's 1-based
    ordinality agree without emitting positions."""
    from ..functions.text import tokens_sql

    toks = tokens_sql("text", dialect)
    if dialect == "spark":
        pos_src = f"SELECT doc_id, posexplode({toks}) AS (pos, token) FROM documents"
    else:
        # DuckDB has no WITH ORDINALITY; unnest + generate_subscripts over
        # the same list expand in lockstep (same idiom as the CMS oracle)
        pos_src = (
            f"SELECT doc_id, unnest(ts) AS token, generate_subscripts(ts, 1) AS pos "
            f"FROM (SELECT doc_id, {toks} AS ts FROM documents)"
        )
    return f"""
WITH pos AS ({pos_src}),
per AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN token = 'scan' THEN 1 ELSE 0 END) AS BIGINT) AS tf_scan,
         CAST(sum(CASE WHEN token = 'join' THEN 1 ELSE 0 END) AS BIGINT) AS tf_join,
         CAST(sum(CASE WHEN token = 'window' THEN 1 ELSE 0 END) AS BIGINT) AS tf_window
  FROM pos GROUP BY doc_id
),
pa AS (SELECT doc_id, pos FROM pos WHERE token = 'table'),
pb AS (SELECT doc_id, pos FROM pos WHERE token = 'scan'),
phr AS (
  SELECT pa.doc_id, CAST(count(*) AS BIGINT) AS phrase_cnt
  FROM pa JOIN pb ON pb.doc_id = pa.doc_id AND pb.pos = pa.pos + 1
  GROUP BY 1
)
SELECT p.doc_id, p.tf_scan, p.tf_join, p.tf_window,
       CAST(coalesce(ph.phrase_cnt, 0) AS BIGINT) AS phrase_cnt
FROM per p LEFT JOIN phr ph ON ph.doc_id = p.doc_id
WHERE p.tf_scan > 0 AND p.tf_join > 0 AND p.tf_window > 0
"""


def q_text_search(spark, sf_dir):
    """Conjunctive term search + exact phrase counting over the corpus
    (position-posting intersection — the inverted-index serving plan)."""
    load_documents(spark, sf_dir)
    return spark.sql(_text_search_sql("spark"))


def _media_context_sql(dialect: str, spans_from: str | None = None) -> str:
    """Caption-context extraction for multimodal training: for every MEDIA
    span (image/audio), the nearest text span on each side within the same
    document — the (context, asset, context) triple a captioning or
    interleaved-pretraining pipeline feeds the model.  'Nearest text' is a
    running last/next non-null over the span order, so consecutive media
    spans share their flanking text (correct for interleaved docs where a
    figure run sits inside one passage).  One doc_id window shuffle, two
    passes over the same partitioning."""
    fs = spans_from or synth.flat_spans_sql(dialect)
    txt = "CASE WHEN kind = 'text' THEN span_text END"
    if dialect == "spark":
        prev = (
            f"last({txt}, true) OVER "
            "(PARTITION BY doc_id ORDER BY span_idx "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
        )
        nxt = (
            f"first({txt}, true) OVER "
            "(PARTITION BY doc_id ORDER BY span_idx "
            "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"
        )
    else:
        prev = (
            f"last_value({txt} IGNORE NULLS) OVER "
            "(PARTITION BY doc_id ORDER BY span_idx "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
        )
        nxt = (
            f"first_value({txt} IGNORE NULLS) OVER "
            "(PARTITION BY doc_id ORDER BY span_idx "
            "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"
        )
    return f"""
SELECT doc_id, span_idx, kind, media_ref, prev_text, next_text
FROM (
  SELECT doc_id, span_idx, kind, media_ref,
         {prev} AS prev_text,
         {nxt} AS next_text
  FROM ({fs})
)
WHERE kind IN ('image', 'audio')
"""


def q_media_context(spark, sf_dir):
    """Per media span: flanking text context (interleaved caption
    extraction) — one doc_id window shuffle."""
    load_documents(spark, sf_dir)
    return spark.sql(_media_context_sql("spark"))


def _shuffle_order_sql(dialect: str) -> str:
    """Deterministic global training shuffle: every document gets a
    pseudo-random but REPRODUCIBLE position from an avalanche-remixed hash
    of its id (ties impossible: the affine map is injective mod the
    prime > id domain) — the rank is identical across engines, runs, and
    partitionings, so a resumed training job sees the same data order.
    At 10^12 docs this is a sort by a computed key (range-partitioned
    total order), not a collected permutation."""
    h = "((doc_id * 2654435761 + 40503) % 1000000007)"
    return f"""
SELECT doc_id, shuffle_key,
       CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT) AS position
FROM (SELECT doc_id, CAST({h} AS BIGINT) AS shuffle_key FROM documents)
"""


def q_shuffle_order(spark, sf_dir):
    """Reproducible global shuffle order for training-data emission."""
    load_documents(spark, sf_dir)
    return spark.sql(_shuffle_order_sql("spark"))


def _modality_gini_sql(dialect: str) -> str:
    """Modality-mixing score per document: Gini impurity of the span-kind
    distribution in exact basis points — impurity_bp =
    (10000·(n² − Σ n_k²)) DIV n², pure integer arithmetic (no logs, so no
    transcendental cross-engine risk), 0 for single-modality docs and
    →7500 for a uniform 4-way mix.  The 'how interleaved is this
    document' signal a multimodal sampler stratifies on; one bounded
    aggregate over the span explode."""
    fs = synth.flat_spans_sql(dialect)
    return f"""
WITH per AS (
  SELECT doc_id, kind, CAST(count(*) AS BIGINT) AS nk
  FROM ({fs}) GROUP BY 1, 2
),
agg AS (
  SELECT doc_id,
         CAST(sum(nk) AS BIGINT) AS n,
         CAST(sum(nk * nk) AS BIGINT) AS sq,
         CAST(count(*) AS BIGINT) AS n_kinds
  FROM per GROUP BY 1
)
SELECT doc_id, n, n_kinds,
       CAST((10000 * (n * n - sq)) {'DIV' if dialect == 'spark' else '//'} (n * n)
            AS BIGINT) AS gini_bp
FROM agg
"""


def _spans_integrity_sql(dialect: str) -> str:
    """The input contract (north-rule per-row invariant: span-sequence
    equality of kind/text/media_ref/order) as a first-class CHECK
    operator: per document, whether offsets are the exact 16-byte stride
    in order, whether every media span carries a ref and every text span
    carries text, and the span count — the table a pipeline gate asserts
    ALL-pass on before anything downstream runs.  Pure map-side span
    algebra, one bounded aggregate."""
    fs = synth.flat_spans_sql(dialect)
    return f"""
WITH s AS (
  SELECT doc_id, span_idx, span_offset, kind, span_text, media_ref
  FROM ({fs})
),
chk AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(CASE WHEN span_offset = span_idx * 16 THEN 0 ELSE 1 END)
              AS BIGINT) AS bad_offsets,
         CAST(sum(CASE WHEN kind IN ('image', 'audio')
                        AND (media_ref IS NULL OR media_ref = '') THEN 1
                       ELSE 0 END) AS BIGINT) AS media_missing_ref,
         CAST(sum(CASE WHEN kind = 'text'
                        AND (span_text IS NULL OR span_text = '') THEN 1
                       ELSE 0 END) AS BIGINT) AS text_missing_body
  FROM s GROUP BY doc_id
)
SELECT doc_id, n_spans, bad_offsets, media_missing_ref, text_missing_body,
       (bad_offsets = 0 AND media_missing_ref = 0 AND text_missing_body = 0)
         AS contract_ok
FROM chk
"""


def q_spans_integrity(spark, sf_dir):
    """Span-sequence contract check per document (offset stride, media
    refs present, text bodies present) — the pipeline admission gate."""
    load_documents(spark, sf_dir)
    return spark.sql(_spans_integrity_sql("spark"))


def _asset_topk_sql(dialect: str, k: int = 20) -> str:
    """Hottest media assets by span fan-out: per media_ref the span and
    document counts, top-k with deterministic ties — the CDN/cache
    priming list and the asset-dedup triage view (media_dedup groups
    payload hashes; this ranks the reference graph).  One bounded
    aggregate + a WindowGroupLimit top-k."""
    fs = synth.flat_spans_sql(dialect)
    return f"""
WITH m AS (
  SELECT media_ref, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM ({fs})
  WHERE media_ref IS NOT NULL AND media_ref <> ''
  GROUP BY 1
)
SELECT media_ref, n_spans, n_docs FROM (
  SELECT media_ref, n_spans, n_docs,
         row_number() OVER (ORDER BY n_spans DESC, media_ref) AS rk
  FROM m
) WHERE rk <= {k}
"""


def q_asset_topk(spark, sf_dir):
    """Top-k media assets by span fan-out (exact counts, deterministic
    ties)."""
    load_documents(spark, sf_dir)
    return spark.sql(_asset_topk_sql("spark"))


def q_modality_gini(spark, sf_dir):
    """Exact-integer Gini impurity of span kinds per document — the
    interleaving-degree score for multimodal sampling."""
    load_documents(spark, sf_dir)
    return spark.sql(_modality_gini_sql("spark"))


def q_fingerprint_winnow(spark, sf_dir):
    """Winnowing fingerprints (MOSS-style): distinct min-per-window remixed
    k-gram hashes per document — the positional-guarantee fingerprint
    (any shared token run >= w+k-1 long shares a fingerprint).  Arrow-
    batched token hashing (the ~80x kernel) + row-based sliding-window
    min; the pure-SQL twin is identity-tested and the DuckDB oracle is an
    independent list formulation."""
    from ..functions import text as _text

    return _text.winnow_fps_df(load_documents(spark, sf_dir))


def _o_fingerprint_winnow() -> str:
    from ..functions import text as _text

    return _text.winnow_fps_query_sql("duck")


def q_fingerprint_overlap(spark, sf_dir):
    """Document pairs sharing >= 2 winnowed fingerprints: posting-list
    equi-join on the fingerprint with a document-frequency cap (shared
    boilerplate fingerprints are noise AND the join's skew pivot).  The
    df-cap rides a count() window on the SAME fp shuffle the self-join
    needs — one fingerprint stream, not a groupBy-and-join-back that
    Spark's CTE inlining would recompute."""
    from ..functions import text as _text

    return _text.winnow_overlap_df(load_documents(spark, sf_dir))


def _o_fingerprint_overlap() -> str:
    from ..functions import text as _text

    return _text.winnow_overlap_query_sql("duck")


def q_qdigest_quantiles(spark, sf_dir):
    """Q-digest quantile sketch (the 4th sketch family — mergeable
    quantiles): one bounded-cardinality histogram groupBy (<= U rows out
    of the corpus scan), then the deterministic bottom-up compression on
    sketch-sized data driver-side (the HLL-finalize discipline).  Output:
    percentile estimates with the exact quantiles, digest size and n
    alongside, so the rank-error and size guarantees are oracle-checked.
    The DuckDB oracle rebuilds the digest through an independent
    chained-CTE formulation and must match node-for-node."""
    from ..functions import qdigest as _qd

    docs = load_documents(spark, sf_dir)
    hist_rows = (
        docs.selectExpr(f"least(greatest(n_chars, 0), {_qd.QD_U - 1}) AS v")
        .groupBy("v")
        .count()
        .collect()  # bounded: <= QD_U rows — sketch state, not data
    )
    hist = [(r["v"], r["count"]) for r in hist_rows]
    return local_frame(spark, _qd.quantile_rows(hist), _qd.QUANTILE_SCHEMA)


def _o_qdigest_quantiles() -> str:
    from ..functions import qdigest as _qd

    return _qd.qdigest_oracle_sql()


def q_dedup_cluster(spark, sf_dir):
    """Connected components over the MinHash-LSH near-dup graph: every doc
    labelled with its component's min doc_id (Pregel-style neighbor-min
    propagation; oracle = DuckDB recursive CTE)."""
    return _dedup.dedup_clusters(load_documents(spark, sf_dir))


def q_dedup_canonical(spark, sf_dir):
    """Per near-dup cluster: member count + canonical (kept) document
    (longest text, smallest doc_id on ties) — the dedup pipeline's actual
    kept-set output."""
    return _dedup.dedup_canonical(load_documents(spark, sf_dir))


def q_bloom_prefilter(spark, sf_dir):
    """Bloom-prefiltered decontamination membership: eval-set fingerprints
    → k deterministic probe positions → broadcast set-bit table; every doc
    flagged (bloom_hit, exact_hit).  exact ⊆ bloom; the gap is the
    deterministic false-positive set (filter sized at test scale to
    actually exhibit it)."""
    from ..functions.curate import bloom_prefilter

    return bloom_prefilter(load_documents(spark, sf_dir))


def _o_bloom_prefilter() -> str:
    from ..functions.curate import bloom_prefilter_oracle_sql

    return bloom_prefilter_oracle_sql()


O_BLOOM_PREFILTER = _o_bloom_prefilter()


def q_dedup_triangles(spark, sf_dir):
    """Per-doc triangle counts in the thresholded near-dup graph —
    triangle density separates true duplicate CLIQUES from chains of
    borderline pairs (a transitive-closure cluster with few triangles is
    probably over-merged).  Degree-oriented wedge join: O(m^1.5) total
    work regardless of hub skew (functions/graph.py:triangle_counts)."""
    from ..functions.graph import triangle_counts

    pairs = _dedup.minhash_lsh_pairs(load_documents(spark, sf_dir)).filter(
        f"jaccard >= {_dedup.CLUSTER_JACCARD}"
    )
    return triangle_counts(pairs).withColumnRenamed("node", "doc_id")


def _o_dedup_triangles() -> str:
    from ..functions.graph import triangle_counts_oracle_sql

    return triangle_counts_oracle_sql(
        f"SELECT doc_a, doc_b FROM ({O_MINHASH_LSH.strip()}) "
        f"WHERE jaccard >= {_dedup.CLUSTER_JACCARD}",
        out_col="doc_id",
    )


O_DEDUP_TRIANGLES = _o_dedup_triangles()


def q_dedup_cluster_stats(spark, sf_dir):
    """Near-dup cluster size histogram: (cluster_size, n_clusters) — the
    dedup report's headline table (how much of the corpus collapses, and
    into how many groups); singletons included."""
    cl = _dedup.dedup_clusters(load_documents(spark, sf_dir))
    sizes = cl.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(F.count(F.lit(1)).alias("n_clusters"))


def q_sample_stratified(spark, sf_dir):
    """Training-corpus curation: top-K docs per language by quality score,
    stamped with a deterministic content-hash train/val split."""
    from ..functions import curate as _curate

    return _curate.stratified_topk(load_documents(spark, sf_dir))


def _o_sample_stratified() -> str:
    from ..functions import curate as _curate

    return _curate.stratified_topk_oracle_sql()


O_SAMPLE_STRATIFIED = _o_sample_stratified()


# Gopher-style document quality rules run through the reference's cutflow
# operator (All/Any tree, 3-counter protocol) — selection lineage applied
# to corpus curation (ref: fast_carpenter/selection/filters.py semantics).
QUALITY_SELECTION = {
    "All": [
        "n_tok >= 5",
        "n_chars <= 2000",
        {"Any": ["stop_ratio > 0.05", "lang != 'unk'"]},
        "quality > 0.35",
    ]
}
QUALITY_WEIGHTS = {"quality": "quality"}


def q_quality_adaptive(spark, sf_dir):
    """Adaptive per-language curation threshold: keep documents at or
    above their OWN language's median quality (fixed global cuts
    over-prune low-resource languages — the standard stratified-threshold
    fix).  Exact grouped percentile (Spark `percentile` ≡ DuckDB
    `quantile_cont`, bit-identical — the tile_quantiles precedent), then
    the per-language threshold table is broadcast back: no second shuffle
    of the corpus."""
    from ..functions import curate as _curate

    # materialized once (persist/checkpoint on a real cluster): the median
    # pass and the filter pass would otherwise each re-scan the corpus
    df = (
        _curate.quality_scored_df(load_documents(spark, sf_dir))
        .select("doc_id", "lang", "quality")
        .localCheckpoint()
    )
    thr = df.groupBy("lang").agg(F.expr("percentile(quality, 0.5)").alias("thr"))
    return (
        df.join(F.broadcast(thr), "lang")
        .filter(F.col("quality") >= F.col("thr"))
        .select("doc_id", "lang", "quality", "thr")
    )


def _o_quality_adaptive() -> str:
    from ..functions import curate as _curate

    return f"""
WITH q AS (SELECT doc_id, lang, quality FROM ({_curate.quality_scored_oracle_sql()})),
t AS (SELECT lang, quantile_cont(quality, 0.5) AS thr FROM q GROUP BY 1)
SELECT doc_id, lang, quality, thr FROM q JOIN t USING (lang)
WHERE quality >= thr
"""


O_QUALITY_ADAPTIVE = _o_quality_adaptive()


def q_lang_quantiles(spark, sf_dir):
    """Per-language document-length profile over the TABLE's ground-truth
    lang column (not the predicted lang-ID, which collapses on the
    synthetic corpus): exact interpolated token-count quantiles (Spark
    `percentile` ≡ DuckDB `quantile_cont`, bit-identical) — the curation
    dashboard's stratified length distribution."""
    from ..functions import text as _text

    load_documents(spark, sf_dir)
    n_tok = f"CAST(size({_text.tokens_sql('text', 'spark')}) AS BIGINT)"
    return spark.sql(
        f"""
SELECT lang, count(*) AS n_docs,
       percentile(n_tok, 0.25) AS p25,
       percentile(n_tok, 0.5)  AS p50,
       percentile(n_tok, 0.75) AS p75,
       percentile(n_tok, 0.95) AS p95
FROM (SELECT lang, {n_tok} AS n_tok FROM documents) GROUP BY lang
"""
    )


def _o_lang_quantiles() -> str:
    from ..functions import text as _text

    n_tok = f"CAST(len({_text.tokens_sql('text', 'duck')}) AS BIGINT)"
    return f"""
SELECT lang, count(*) AS n_docs,
       quantile_cont(n_tok, 0.25) AS p25,
       quantile_cont(n_tok, 0.5)  AS p50,
       quantile_cont(n_tok, 0.75) AS p75,
       quantile_cont(n_tok, 0.95) AS p95
FROM (SELECT lang, {n_tok} AS n_tok FROM documents) GROUP BY lang
"""


O_LANG_QUANTILES = _o_lang_quantiles()


def q_source_profile(spark, sf_dir):
    """Per-source corpus profile: doc count, median quality score, median
    token count — medians are exact interpolated percentiles (hash-safe
    where a mean of arbitrary doubles would be order-dependent)."""
    from ..functions import curate as _curate

    scored = _curate.quality_scored_df(load_documents(spark, sf_dir)).select(
        "doc_id", "n_tok", "quality"
    )
    docs = load_documents(spark, sf_dir).select("doc_id", "source")
    docs.join(scored, "doc_id").createOrReplaceTempView("_src_scored")
    return spark.sql(
        """
SELECT source, count(*) AS n_docs,
       percentile(quality, 0.5) AS q_med,
       percentile(n_tok, 0.5) AS tok_med
FROM _src_scored GROUP BY source
"""
    )


def _o_source_profile() -> str:
    from ..functions import curate as _curate

    return f"""
SELECT d.source, count(*) AS n_docs,
       quantile_cont(s.quality, 0.5) AS q_med,
       quantile_cont(s.n_tok, 0.5) AS tok_med
FROM documents d JOIN ({_curate.quality_scored_oracle_sql()}) s USING (doc_id)
GROUP BY d.source
"""


O_SOURCE_PROFILE = _o_source_profile()


def q_quality_cutflow(spark, sf_dir):
    """Per-rule pass/fail counters (weighted by the quality score) for the
    curation rule tree — the data-pipeline reuse of the HEP cutflow."""
    from ..functions import curate as _curate

    df = _curate.quality_scored_df(load_documents(spark, sf_dir))
    stage = CutFlowStage(
        name="quality", selection=QUALITY_SELECTION, weights=QUALITY_WEIGHTS
    )
    return stage.counters(df)


def _o_quality_cutflow() -> str:
    from ..expressions import compile_expression
    from ..functions import curate as _curate

    tree = parse_selection(QUALITY_SELECTION)
    _, specs = compile_tree(tree, lambda node: compile_expression(node.config))
    return oracle_counters_sql(
        specs, _curate.quality_scored_oracle_sql(), QUALITY_WEIGHTS
    )


O_QUALITY_CUTFLOW = _o_quality_cutflow()


def q_quality_filter(spark, sf_dir):
    """Documents surviving the quality rule tree — the curation keep-set."""
    from ..functions import curate as _curate

    df = _curate.quality_scored_df(load_documents(spark, sf_dir))
    stage = CutFlowStage(name="quality", selection=QUALITY_SELECTION)
    return stage.apply(df).select("doc_id", "lang", "n_tok", "quality")


def _o_quality_filter() -> str:
    from ..expressions import compile_expression
    from ..functions import curate as _curate

    tree = parse_selection(QUALITY_SELECTION)
    mask, _ = compile_tree(tree, lambda node: compile_expression(node.config))
    return (
        f"SELECT doc_id, lang, n_tok, quality "
        f"FROM ({_curate.quality_scored_oracle_sql()}) WHERE {mask}"
    )


O_QUALITY_FILTER = _o_quality_filter()


def q_quality_constraints(spark, sf_dir):
    """Deequ-style data-quality audit: completeness / uniqueness / range /
    domain / cross-column consistency in ONE corpus scan + a constant
    5-row unpivot (no per-check rescans); the exact-uniqueness distinct
    shuffle is the only non-map-side piece."""
    from ..functions import curate as _curate

    return _curate.constraints_audit(load_documents(spark, sf_dir))


def q_text_redact(spark, sf_dir):
    """Deny-list scrubbing: word-bounded dictionary redaction with per-doc
    hit counts — a zero-shuffle map-side rewrite of the corpus."""
    from ..functions import curate as _curate

    return _curate.redact(load_documents(spark, sf_dir))


def _o_quality_constraints() -> str:
    from ..functions import curate as _curate

    return _curate.constraints_audit_oracle_sql()


def _o_text_redact() -> str:
    from ..functions import curate as _curate

    return _curate.redact_oracle_sql()


O_QUALITY_CONSTRAINTS = _o_quality_constraints()
O_TEXT_REDACT = _o_text_redact()


def q_decontaminate(spark, sf_dir):
    """Eval-set decontamination: per-eval-doc n-gram overlap with the
    candidate corpus (one shingle-keyed join; eval side broadcast-small
    at production scale)."""
    from ..functions import curate as _curate

    return _curate.decontaminate(load_documents(spark, sf_dir))


def _o_decontaminate() -> str:
    from ..functions import curate as _curate

    return _curate.decontaminate_oracle_sql()


O_DECONTAMINATE = _o_decontaminate()


def q_tfidf_topk(spark, sf_dir):
    """Per-document top TF-IDF terms (ratio-form idf: exact cross-engine
    doubles, no log ulps) — the vocabulary-characterization pass."""
    from ..functions import curate as _curate

    return _curate.tfidf_topk(load_documents(spark, sf_dir))


def _o_tfidf_topk() -> str:
    from ..functions import curate as _curate

    return _curate.tfidf_topk_oracle_sql()


O_TFIDF_TOPK = _o_tfidf_topk()


def _o_cluster_cte() -> str:
    """Shared recursive-CTE prefix: min-label connected components of the
    thresholded MinHash pair graph.  reach(node, lbl) enumerates labels
    lbl < node reachable from node; pruning on lbl < src keeps the
    fixpoint at O(sum of component^2) rows while still delivering every
    component's global min to every member (the min m reaches n along any
    path because m < v holds at each hop)."""
    return f"""
pairs AS (SELECT doc_a, doc_b FROM ({O_MINHASH_LSH.strip()}) WHERE jaccard >= {_dedup.CLUSTER_JACCARD}),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION ALL SELECT doc_b, doc_a FROM pairs),
reach(node, lbl) AS (
  SELECT src, dst FROM edges WHERE dst < src
  UNION
  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst WHERE r.lbl < e.src
),
cl AS (
  SELECT d.doc_id, COALESCE(min(r.lbl), d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN reach r ON r.node = d.doc_id
  GROUP BY d.doc_id
)
"""


O_DEDUP_CLUSTER = f"WITH RECURSIVE {_o_cluster_cte()} SELECT doc_id, cluster_id FROM cl"

O_DEDUP_CLUSTER_STATS = f"""
WITH RECURSIVE {_o_cluster_cte()},
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY 1)
SELECT cluster_size, count(*) AS n_clusters FROM sizes GROUP BY 1
"""

O_DEDUP_CANONICAL = f"""
WITH RECURSIVE {_o_cluster_cte()},
m AS (SELECT cl.doc_id, cl.cluster_id, CAST(length(d.text) AS BIGINT) AS _len
      FROM cl JOIN documents d USING (doc_id)),
r2 AS (SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY _len DESC, doc_id) AS rn FROM m)
SELECT c.cluster_id, c.n_members, k.kept_doc, k.kept_len
FROM (SELECT cluster_id, count(*) AS n_members FROM m GROUP BY cluster_id) c
JOIN (SELECT cluster_id, doc_id AS kept_doc, _len AS kept_len FROM r2 WHERE rn = 1) k USING (cluster_id)
"""


def q_events_asof(spark, sf_dir):
    """Backward as-of join (last-touch attribution): every purchase event
    matched to the user's most recent preceding view.  Union-merge
    implementation (functions/asof.py) — ONE user_id shuffle, no range
    theta join; oracle is DuckDB's native ASOF LEFT JOIN, an independent
    implementation of the same semantics."""
    from ..functions.asof import asof_join

    ev = _load_events(spark, sf_dir)
    epoch = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {})"
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    joined = asof_join(left, right, by="user_id", on="ts", right_cols=["view_id"])
    return joined.select(
        "event_id",
        "user_id",
        F.expr(epoch.format("ts")).alias("ts_us"),
        "value",
        F.col("view_id_r").alias("view_id"),
    )


O_EVENTS_ASOF = """
SELECT l.event_id, l.user_id,
       CAST(epoch_us(l.ts) AS BIGINT) AS ts_us,
       l.value,
       r.event_id AS view_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


ASOF_TOL_US = 2 * 3_600_000_000  # 2 h attribution window


def q_events_asof_tol(spark, sf_dir):
    """As-of join with a staleness tolerance: a purchase only attributes
    to its most recent preceding view when that view is within
    ASOF_TOL_US (stale matches become NULL, the standard bounded
    last-touch).  Same one-shuffle union-merge core; the tolerance is a
    post-predicate on the matched timestamp."""
    from ..functions.asof import asof_join

    ev = _load_events(spark, sf_dir)
    epoch = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {})"
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("event_id").alias("view_id"),
        F.expr(epoch.format("ts")).alias("view_ts_us"),
    )
    joined = asof_join(
        left, right, by="user_id", on="ts", right_cols=["view_id", "view_ts_us"]
    )
    fresh = f"(ts_us - view_ts_us_r) <= {ASOF_TOL_US}"
    return joined.withColumn("ts_us", F.expr(epoch.format("ts"))).selectExpr(
        "event_id",
        "user_id",
        "ts_us",
        "value",
        f"CASE WHEN {fresh} THEN view_id_r END AS view_id",
        f"CASE WHEN {fresh} THEN ts_us - view_ts_us_r END AS staleness_us",
    )


O_EVENTS_ASOF_TOL = f"""
WITH a AS (
  SELECT l.event_id, l.user_id,
         CAST(epoch_us(l.ts) AS BIGINT) AS ts_us,
         l.value,
         r.event_id AS view_id,
         CAST(epoch_us(r.ts) AS BIGINT) AS view_ts_us
  FROM (SELECT * FROM events WHERE event_type = 'purchase') l
  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
    ON l.user_id = r.user_id AND l.ts >= r.ts
)
SELECT event_id, user_id, ts_us, value,
       CASE WHEN ts_us - view_ts_us <= {ASOF_TOL_US} THEN view_id END AS view_id,
       CASE WHEN ts_us - view_ts_us <= {ASOF_TOL_US} THEN ts_us - view_ts_us END
         AS staleness_us
FROM a
"""


def q_media_dedup(spark, sf_dir):
    """Asset-level exact dedup: media references shared across documents
    (the media twin of text dedup_exact) — per duplicated asset, how many
    docs/spans reuse it and the canonical (min) owning doc."""
    df = flat_spans(spark, sf_dir).filter("media_ref IS NOT NULL")
    return (
        df.groupBy("media_ref")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_spans"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


O_MEDIA_DEDUP = f"""
SELECT media_ref, count(DISTINCT doc_id) AS n_docs, count(*) AS n_spans,
       min(doc_id) AS canonical_doc
FROM ({O_SPANS_FLAT})
WHERE media_ref IS NOT NULL
GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
"""




def q_train_mix(spark, sf_dir):
    """Domain-mixture rebalance: compose the corpus to a 50/12.5x4 target
    language mixture with the all-integer cap/take/priority formulation
    (functions/curate.py train_mix) — the binding language caps the
    output, every group's exact member set is pinned by the hash
    priority, and sum_doc_id proves the SELECTION matches, not just the
    counts."""
    from ..functions import curate as _curate

    return _curate.train_mix(load_documents(spark, sf_dir))


def _o_train_mix() -> str:
    from ..functions import curate as _curate

    return _curate.train_mix_oracle_sql()


O_TRAIN_MIX = _o_train_mix()
