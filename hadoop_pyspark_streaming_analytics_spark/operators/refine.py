"""ADC + exact refine — the standard two-stage ANN search the PQ tier
deliberately left as "the standard second stage" (similarity.pq_adc_topk's
docstring): scan the 64×-compressed codes with asymmetric distance to a
SHORTLIST, then re-rank only those candidates against their raw vectors
with the exact metric (Jégou et al. TPAMI 2011 §V: "IVFADC with re-ranking";
every production vector store runs this shape).

Why this is THE 100 TB search plan: the expensive exact metric touches
``|queries| × shortlist`` vectors instead of the corpus — the raw-vector
table is probed by an equi-join on the shortlist's ids (partition-prunable
when the vectors are stored clustered by id), while the corpus-sized work
stays on the compressed codes scan the ADC tier already pins as a single
codegen projection.  The shortlist itself is tiny (queries × shortlist
rows), so BOTH refine joins broadcast — the query attach by explicit hint,
the shortlist probe by AQE's runtime re-plan (unforced, so an adversarial
|queries| × shortlist degrades to a shuffle join instead of OOM): no
corpus-sized shuffle anywhere in either stage.

Degrade-per-row discipline (inherited + preserved): a NULL/corrupt
embedding NULL-propagates through the ADC sum upstream and through the
exact metric here; every ranking orders ``asc_nulls_last``, so a corrupt
row ranks behind every cleanly-scored candidate — it reaches a top-k only
when clean candidates run out, and then with a visibly NULL ``exact_l2``,
never by displacing a clean row and never as a crash.

Beyond-reference operator (composes the similarity tier; the reference has
no ANN at all).  Registered round 13 (ann_adc_refine_topk /
ann_adc_refine_recall in plans/llm_catalog.py) with the DuckDB oracles
below; additionally pytest-gated by tests/test_refine.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import pin
from ..sources.readers import load_table
from .similarity import PQ_K, PQ_M, PQ_SUBDIM, adc_topk_for_queries, l2sq_expr

#: Default shortlist multiple: refine re-ranks 4k ADC candidates per query.
SHORTLIST_FACTOR = 4
DEFAULT_QUERY_IDS = (0, 1, 2, 3, 4)
DEFAULT_K = 10


def _corpus_and_queries(spark, sf_dir, query_ids):
    # The query set is consumed by every arm (ADC pipeline, exact
    # ground truth, re-rank broadcast) — checkpoint-pinned so each
    # consumer reads |query_ids| materialized rows instead of re-running
    # the pushdown scan per arm (round-15 census; the corpus.py:260
    # "N consumers, one scan" convention).
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = (
        emb.filter(F.col("vec_id").isin(*query_ids))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
        )
        .transform(pin)
    )
    return emb, queries


def exact_rerank(
    emb: DataFrame, queries: DataFrame, shortlist: DataFrame, k: int
) -> DataFrame:
    """Re-rank an ADC ``shortlist`` (query_id, vec_id, adc_rank) by the
    exact squared-L2 against the raw vectors: two broadcast joins (the
    shortlist and the query set are both queries-sized) + one
    WindowGroupLimit top-k.  The corpus table is only ever probed by
    vec_id equi-join — never scanned for scoring.

    The shortlist join carries NO forced hint: the shortlist is
    corpus-derived and only caller-bounded (|queries| × shortlist), so a
    large query set or a raised shortlist knob must degrade to AQE's
    safe shuffle join instead of a forced corpus-scale broadcast OOM —
    the same no-forced-hint rule the segment scrubber's offender join
    follows.  AQE re-plans it as a broadcast at the sizes the entries
    actually run (pinned on the finalized plan by test_refine).  The
    ``queries`` hint stays: that side is the query set itself, small by
    construction, never corpus-derived."""
    cand = emb.join(shortlist, "vec_id")
    scored = cand.join(F.broadcast(queries), "query_id").select(
        "query_id",
        "vec_id",
        "adc_rank",
        F.round(l2sq_expr("embedding", "q_emb") + F.lit(1e-8), 4).alias(
            "exact_l2"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("exact_l2").asc_nulls_last(), F.col("vec_id")
    )
    return (
        scored.withColumn("refined_rank", F.row_number().over(w))
        .where(F.col("refined_rank") <= k)
        .select(
            "query_id",
            "vec_id",
            "exact_l2",
            F.col("adc_rank").cast("int").alias("adc_rank"),
            F.col("refined_rank").cast("int").alias("refined_rank"),
        )
    )


def adc_refine_topk(
    spark: SparkSession,
    sf_dir: str,
    query_ids: tuple[int, ...] = DEFAULT_QUERY_IDS,
    k: int = DEFAULT_K,
    shortlist: int | None = None,
) -> DataFrame:
    """Two-stage search: ADC top-``shortlist`` over the compressed codes
    (stage 1, the corpus scan), exact squared-L2 re-rank of those
    candidates to top-``k`` (stage 2, candidate-bounded).  Returns
    ``(query_id, vec_id, exact_l2, adc_rank, refined_rank)`` — adc_rank
    kept so the reorder the refine performs is visible in the output."""
    shortlist = shortlist or SHORTLIST_FACTOR * k
    emb, queries = _corpus_and_queries(spark, sf_dir, query_ids)
    short = adc_topk_for_queries(emb, queries, shortlist).select(
        "query_id", "vec_id", F.col("rk").alias("adc_rank")
    )
    return exact_rerank(emb, queries, short, k)


def _exact_topk(emb: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Ground-truth arm: exact squared-L2 brute force (same metric ADC
    approximates — cosine would not be apples-to-apples), excluding self."""
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(l2sq_expr("embedding", "q_emb") + F.lit(1e-8), 4).alias(
                "exact_l2"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("exact_l2").asc_nulls_last(), F.col("vec_id")
    )
    return scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= k
    )


def adc_refine_recall_report(
    spark: SparkSession,
    sf_dir: str,
    query_ids: tuple[int, ...] = DEFAULT_QUERY_IDS,
    k: int = DEFAULT_K,
    shortlist: int | None = None,
) -> DataFrame:
    """Per-query recall@k of raw ADC vs ADC+refine against the exact
    squared-L2 ground truth — the number that justifies the second stage
    (refine recovers exact-metric order within the shortlist, so
    refined_recall ≥ adc_recall wherever the shortlist covers the true
    top-k).  Three candidate-bounded arms joined on the query grain."""
    shortlist = shortlist or SHORTLIST_FACTOR * k
    emb, queries = _corpus_and_queries(spark, sf_dir, query_ids)
    # Round-15 census fix: ``truth`` has THREE consumers (both hit
    # semi-joins + the per-query denominator) and ``adc`` TWO (the
    # refine re-rank + the raw-ADC top-k arm) — unpinned, each consumer
    # re-executed its corpus-sized arm (the exact crossJoin three times,
    # the whole ADC code pipeline twice): SIXTEEN embeddings scans in
    # the executedPlan.  Both frames are |queries| x k/shortlist rows —
    # checkpoint-pinned, every corpus arm runs exactly once and the
    # report tail joins metadata-sized frames (test_refine plan pin).
    truth = (
        _exact_topk(emb, queries, k)
        .select("query_id", "vec_id")
        .transform(pin)
    )
    adc = (
        adc_topk_for_queries(emb, queries, shortlist)
        .select("query_id", "vec_id", F.col("rk").alias("adc_rank"))
        .transform(pin)
    )
    refined = exact_rerank(emb, queries, adc, k).select(
        "query_id", "vec_id"
    )
    adc_topk = adc.where(F.col("adc_rank") <= k).select("query_id", "vec_id")
    # Round-16 tail fusion (guide §2.4): the hit tests are LEFT joins on
    # the (query_id, vec_id) key — unique per side by construction (truth
    # and both top-k arms come out of row_number() <= k cuts), so no row
    # duplication — and ONE aggregation prices n, adc hits, and refined
    # hits together (count() skips the NULL flags of unmatched rows).
    # Replaces 2 LEFT SEMI joins + 3 query-grain groupBys + 2 report
    # joins with 2 joins + 1 groupBy: same rows, ~4 fewer exchanges of
    # the query-grain frames per action.
    return (
        truth.join(
            adc_topk.withColumn("_adc_hit", F.lit(1)),
            ["query_id", "vec_id"],
            "left",
        )
        .join(
            refined.withColumn("_ref_hit", F.lit(1)),
            ["query_id", "vec_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.count("_adc_hit").alias("_adc"),
            F.count("_ref_hit").alias("_ref"),
        )
        .select(
            "query_id",
            F.round(F.col("_adc") / F.col("_n") + F.lit(1e-8), 4).alias(
                "adc_recall"
            ),
            F.round(F.col("_ref") / F.col("_n") + F.lit(1e-8), 4).alias(
                "refined_recall"
            ),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB oracles (round-13 registration; diffed by tests/test_refine.py)
# ---------------------------------------------------------------------------
# The ADC CTE chain is the ann_pq_adc_topk oracle's, nested verbatim (the
# house convention for composed entries); DuckDB lists are 1-indexed.
# The refine-specific CTEs (exact, truth) carry a length guard so ragged
# vectors score NULL exactly like Spark's zip_with; the nested ADC CTEs
# inherit ann_pq_adc_topk's clean-data assumption (driver tables carry no
# ragged vectors — the degenerate probe exercises BUILDERS, not oracles).

_IDS = ", ".join(str(i) for i in DEFAULT_QUERY_IDS)
_SHORTLIST = SHORTLIST_FACTOR * DEFAULT_K

_SQL_ADC = f"""
cents AS (
  SELECT vec_id AS code, embedding::DOUBLE[] AS cvec
  FROM embeddings WHERE vec_id < {PQ_K}
),
pairs AS (
  SELECT e.vec_id, s.sub, c.code,
         list_sum(list_transform(range(1, {PQ_SUBDIM + 1}),
           i -> (e.embedding[s.sub * {PQ_SUBDIM} + i]::DOUBLE
                 - c.cvec[s.sub * {PQ_SUBDIM} + i])
                * (e.embedding[s.sub * {PQ_SUBDIM} + i]::DOUBLE
                   - c.cvec[s.sub * {PQ_SUBDIM} + i]))) AS dist
  FROM embeddings e
  CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS sub) s
  CROSS JOIN cents c
),
codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY dist, code) AS rk
    FROM pairs) WHERE rk = 1
),
queries AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
  FROM embeddings WHERE vec_id IN ({_IDS})
),
dtab AS (
  SELECT q.query_id, s.sub, c.code,
         list_sum(list_transform(range(1, {PQ_SUBDIM + 1}),
           i -> (q.q_emb[s.sub * {PQ_SUBDIM} + i]
                 - c.cvec[s.sub * {PQ_SUBDIM} + i])
              * (q.q_emb[s.sub * {PQ_SUBDIM} + i]
                 - c.cvec[s.sub * {PQ_SUBDIM} + i]))) AS qdist
  FROM queries q
  CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS sub) s
  CROSS JOIN cents c
),
approx AS (
  SELECT d.query_id, k.vec_id, round(sum(d.qdist) + 1e-8, 4) AS adc_dist
  FROM codes k JOIN dtab d ON k.sub = d.sub AND k.code = d.code
  WHERE k.vec_id <> d.query_id
  GROUP BY 1, 2
),
short AS (
  SELECT query_id, vec_id, CAST(rk AS INTEGER) AS adc_rank
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist, vec_id) AS rk
        FROM approx)
  WHERE rk <= {_SHORTLIST}
),
exact AS (
  -- the length guard mirrors Spark's zip_with NULL-padding: a ragged or
  -- NULL vector scores NULL (DuckDB's list_sum SKIPS the NULLs that
  -- out-of-range indexing produces, which would otherwise yield a finite
  -- partial sum Spark never computes)
  SELECT s.query_id, s.vec_id, s.adc_rank,
         CASE WHEN len(e.embedding) = len(q.q_emb) THEN
           round(list_sum(list_transform(range(1, len(q.q_emb) + 1),
             i -> (q.q_emb[i] - e.embedding[i]::DOUBLE)
                * (q.q_emb[i] - e.embedding[i]::DOUBLE))) + 1e-8, 4)
         END AS exact_l2
  FROM short s
  JOIN embeddings e ON s.vec_id = e.vec_id
  JOIN queries q ON s.query_id = q.query_id
)"""

ORACLE_ADC_REFINE_TOPK = f"""
WITH {_SQL_ADC}
SELECT query_id, vec_id, exact_l2, adc_rank,
       CAST(rr AS INTEGER) AS refined_rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY exact_l2, vec_id) AS rr
      FROM exact)
WHERE rr <= {DEFAULT_K}"""

ORACLE_ADC_REFINE_RECALL = f"""
WITH {_SQL_ADC},
refined AS (
  SELECT query_id, vec_id
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY exact_l2, vec_id) AS rr
        FROM exact)
  WHERE rr <= {DEFAULT_K}
),
truth AS (
  -- same zip_with-parity length guard as the exact CTE; NULLS LAST
  -- matches Spark's asc_nulls_last ranking
  SELECT query_id, vec_id
  FROM (
    SELECT q.query_id, e.vec_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY CASE WHEN len(e.embedding) = len(q.q_emb) THEN
                 round(list_sum(list_transform(range(1, len(q.q_emb) + 1),
                   i -> (q.q_emb[i] - e.embedding[i]::DOUBLE)
                      * (q.q_emb[i] - e.embedding[i]::DOUBLE))) + 1e-8, 4)
               END NULLS LAST,
               e.vec_id) AS rk
    FROM embeddings e CROSS JOIN queries q
    WHERE e.vec_id <> q.query_id
  ) WHERE rk <= {DEFAULT_K}
),
adc_topk AS (SELECT query_id, vec_id FROM short
             WHERE adc_rank <= {DEFAULT_K})
SELECT t.query_id,
       round(CAST(count(a.vec_id) AS DOUBLE) / count(*) + 1e-8, 4)
         AS adc_recall,
       round(CAST(count(r.vec_id) AS DOUBLE) / count(*) + 1e-8, 4)
         AS refined_recall
FROM truth t
LEFT JOIN adc_topk a ON t.query_id = a.query_id AND t.vec_id = a.vec_id
LEFT JOIN refined r ON t.query_id = r.query_id AND t.vec_id = r.vec_id
GROUP BY 1"""
