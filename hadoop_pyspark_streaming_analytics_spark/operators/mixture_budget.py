"""UniMax mixture budgeting (Chung et al., ICLR 2023: "UniMax: Fairer and
More Effective Language Sampling for Large-Scale Multilingual
Pretraining"): allocate a total training-token budget across sources as
UNIFORMLY as possible subject to a per-source epoch cap — each source
receives min(cap_s, W) tokens where cap_s = tokens_s × epoch_cap and the
waterline W is chosen so the allocations sum to the budget.  This is the
third mixture face the engine ships: temperature sampling reweights by
corpus share (quality.language_mixture_temperature_sample), epoch repeats
materialize a fixed recipe (quality.epoch_mixture_repeats), UniMax
ANSWERS what the recipe should be — the allocation an operator feeds
into those two.

Spark-first shape: one corpus scan → one per-source token aggregate
(source-count-sized — tiny from then on), the budget total rides along
as a 1-row broadcast (the unigram_surprisal convention), and the
waterline windows run over the source-count-sized frame (a global
window by design — the vocabulary-tier convention).  The builder
composes the pinned token_counts entry by doc_id join (the
self-contained-entry convention), so the source attach is a SECOND
scan of the documents table — column-pruned to (doc_id, source),
trivial beside the text scan token counting pays; the
water-filling closed form is two window functions over the tiny frame
(sort sources by cap ascending; a source is fully capped iff
prefix_caps_i + cap_i × (sources after i) ≤ budget; the waterline
spreads the remainder over the uncapped tail).  No iteration, no driver
loop, no corpus-sized work after the first aggregate — at 100 TB the
whole allocator is the token-count scan plus arithmetic on a frame with
one row per source.

Degrade-per-row: a source whose documents are all NULL/untokenizable has
no token mass — it stays VISIBLE in the output with NULL cap/allocation
(never silently dropped, never a crash) and does not participate in the
water-filling; ALL its allocation columns are NULL, ``budget_unfilled``
included (NULL-discipline pinned on both engines by
tests/test_mixture_budget.py, ADVICE r13).  If the budget exceeds the
total capped mass, every source saturates its cap and the shortfall is
visible as ``budget_unfilled`` > 0 on every ALLOCATED row (a scalar
broadcast, the honest "your budget is bigger than your data" signal).

Built round 13 as a zero-churn module (the length_policy /
segment_dedup pattern); REGISTERED round 15 as ``unimax_allocation``
into the measured window (sf0.1 cost 1.43 s warm, on record in SCALE.md
before the QuerySpec landed).  The oracle is a TEMPLATE
(:func:`oracle_unimax_allocation`) that llm_catalog.py instantiates
with the catalog's proven text_token_counts oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import pin
from ..sources.readers import load_table
from .quality import token_counts

#: Default budget as a fraction of the corpus's total token mass.
UNIMAX_BUDGET_FRAC = 0.5
#: Default per-source epoch cap (UniMax's N): a source may be seen at
#: most this many times end-to-end.
UNIMAX_EPOCH_CAP = 2.0


def unimax_of(
    docs: DataFrame,
    counts: DataFrame,
    budget_frac: float = UNIMAX_BUDGET_FRAC,
    epoch_cap: float = UNIMAX_EPOCH_CAP,
) -> DataFrame:
    """The allocator over explicit frames: ``docs`` is (doc_id, source …),
    ``counts`` a per-doc token frame in the quality.token_counts shape
    (doc_id, bpe_ish_tokens …).  Returns one row per source:
    ``tokens_available``, ``cap_tokens``, ``allocated_tokens`` (4dp),
    ``epochs_used`` (4dp), ``budget_share`` (4dp), ``budget_unfilled``
    (4dp scalar, > 0 only when the budget exceeds the total capped
    mass)."""
    per_source = (
        docs.select("doc_id", "source")
        .join(counts.select("doc_id", "bpe_ish_tokens"), "doc_id", "left")
        .groupBy("source")
        .agg(F.sum("bpe_ish_tokens").cast("bigint").alias("tokens_available"))
        # Three consumers, one corpus scan (the corpus.py:260 convention):
        # alloc_in, totals, and the final visibility join all re-read this
        # source-count-sized frame — without lineage truncation Spark
        # re-executes the corpus-sized token-count aggregate once PER
        # consumer (plan-audited at 3x before this pin; at 100 TB that is
        # two needless full-corpus scans).  A pin, not cache, so
        # the replayed plan cannot silently fall back to recompute.
        .transform(pin)
    )
    alloc_in = per_source.where(
        F.col("tokens_available").isNotNull()
        & (F.col("tokens_available") > 0)
    ).select(
        "source",
        "tokens_available",
        (F.col("tokens_available") * F.lit(float(epoch_cap))).alias("cap"),
    )
    totals = alloc_in.agg(
        (F.sum("tokens_available") * F.lit(float(budget_frac))).alias("budget"),
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("cap").alias("total_cap"),
    )
    # Water-filling closed form over the source-count-sized frame: sort
    # by cap ascending (source as the deterministic tiebreak); source i
    # is FULLY CAPPED iff satisfying it and everything smaller, then
    # spreading its cap over the rest, still fits the budget.
    w_ord = Window.orderBy(F.col("cap").asc(), F.col("source").asc())
    ranked = (
        alloc_in.crossJoin(F.broadcast(totals))
        .withColumn("idx", F.row_number().over(w_ord))
        .withColumn("prefix_cap", F.sum("cap").over(w_ord))
        .withColumn(
            "is_capped",
            F.col("prefix_cap")
            + F.col("cap") * (F.col("n_sources") - F.col("idx"))
            <= F.col("budget"),
        )
    )
    # k = number of fully-capped sources; the waterline spreads what the
    # capped prefix left over the n - k uncapped sources.
    w_all = Window.partitionBy(F.lit(1))
    ranked = (
        ranked.withColumn(
            "k", F.sum(F.col("is_capped").cast("int")).over(w_all)
        )
        .withColumn(
            "capped_mass",
            F.coalesce(
                F.max(F.when(F.col("is_capped"), F.col("prefix_cap"))).over(
                    w_all
                ),
                F.lit(0.0),
            ),
        )
        .withColumn(
            "waterline",
            F.when(
                F.col("n_sources") > F.col("k"),
                (F.col("budget") - F.col("capped_mass"))
                / (F.col("n_sources") - F.col("k")),
            ),
        )
    )
    allocated = F.when(F.col("is_capped"), F.col("cap")).otherwise(
        F.col("waterline")
    )
    unfilled = F.when(
        F.col("budget") > F.col("total_cap"),
        F.col("budget") - F.col("total_cap"),
    ).otherwise(F.lit(0.0))
    result = ranked.select(
        "source",
        F.round(F.col("cap") + F.lit(1e-8), 4).alias("cap_tokens"),
        F.round(allocated + F.lit(1e-8), 4).alias("allocated_tokens"),
        F.round(
            allocated / F.col("tokens_available") + F.lit(1e-8), 4
        ).alias("epochs_used"),
        F.round(allocated / F.col("budget") + F.lit(1e-8), 4).alias(
            "budget_share"
        ),
        F.round(unfilled + F.lit(1e-8), 4).alias("budget_unfilled"),
    )
    # Visibility LEFT join: tokenless sources stay present, NULL-allocated.
    return per_source.join(result, "source", "left").select(
        "source",
        "tokens_available",
        "cap_tokens",
        "allocated_tokens",
        "epochs_used",
        "budget_share",
        "budget_unfilled",
    )


def unimax_allocation(
    spark: SparkSession,
    sf_dir: str,
    budget_frac: float = UNIMAX_BUDGET_FRAC,
    epoch_cap: float = UNIMAX_EPOCH_CAP,
) -> DataFrame:
    """Catalog-ready builder: the UniMax allocation over the real
    documents table, token mass = quality.token_counts' bpe_ish
    pre-tokenizer counts."""
    return unimax_of(
        load_table(spark, sf_dir, "documents"),
        token_counts(spark, sf_dir),
        budget_frac=budget_frac,
        epoch_cap=epoch_cap,
    )


def oracle_unimax_allocation(
    token_counts_sql: str,
    budget_frac: float = UNIMAX_BUDGET_FRAC,
    epoch_cap: float = UNIMAX_EPOCH_CAP,
) -> str:
    """DuckDB oracle TEMPLATE: nest the proven text_token_counts oracle
    verbatim and replay the same closed-form water-filling with window
    functions, LEFT-join visibility and NULL discipline included."""
    return f"""
WITH tc AS ({token_counts_sql}),
per_source AS (
  SELECT d.source,
         CAST(sum(tc.bpe_ish_tokens) AS BIGINT) AS tokens_available
  FROM documents d LEFT JOIN tc ON d.doc_id = tc.doc_id
  GROUP BY 1
),
alloc_in AS (
  SELECT source, tokens_available,
         tokens_available * {float(epoch_cap)} AS cap
  FROM per_source
  WHERE tokens_available IS NOT NULL AND tokens_available > 0
),
totals AS (
  SELECT sum(tokens_available) * {float(budget_frac)} AS budget,
         count(*) AS n_sources,
         sum(cap) AS total_cap
  FROM alloc_in
),
ranked AS (
  SELECT a.*, t.budget, t.n_sources, t.total_cap,
         row_number() OVER (ORDER BY a.cap, a.source) AS idx,
         sum(a.cap) OVER (ORDER BY a.cap, a.source) AS prefix_cap
  FROM alloc_in a CROSS JOIN totals t
),
flagged AS (
  SELECT *,
         prefix_cap + cap * (n_sources - idx) <= budget AS is_capped
  FROM ranked
),
lined AS (
  SELECT *,
         sum(CASE WHEN is_capped THEN 1 ELSE 0 END) OVER () AS k,
         coalesce(max(CASE WHEN is_capped THEN prefix_cap END) OVER (),
                  0.0) AS capped_mass
  FROM flagged
),
alloc AS (
  SELECT *,
         CASE WHEN is_capped THEN cap
              ELSE (budget - capped_mass) / (n_sources - k) END AS a
  FROM lined
)
SELECT p.source, p.tokens_available,
       round(al.cap + 1e-8, 4) AS cap_tokens,
       round(al.a + 1e-8, 4) AS allocated_tokens,
       round(al.a / al.tokens_available + 1e-8, 4) AS epochs_used,
       round(al.a / al.budget + 1e-8, 4) AS budget_share,
       -- NULL-preserve for tokenless sources (ADVICE r13): after the
       -- visibility LEFT JOIN al.* is NULL and a bare CASE's NULL WHEN
       -- falls through to ELSE 0.0, diverging from the builder's NULL;
       -- round(NULL + 1e-8) keeps the NULL once the first arm fires.
       round(CASE WHEN al.source IS NULL THEN NULL
                  WHEN al.budget > al.total_cap
                  THEN al.budget - al.total_cap ELSE 0.0 END + 1e-8, 4)
         AS budget_unfilled
FROM per_source p LEFT JOIN alloc al ON p.source = al.source"""
