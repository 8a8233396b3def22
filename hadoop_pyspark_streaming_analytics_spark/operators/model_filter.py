"""Trained model-based quality filtering — the classifier-filter step of
the GPT-3 / LLaMA curation recipe (Brown et al. 2020 §A; Touvron et al.
2023: train a linear classifier to distinguish a high-quality reference
corpus from raw crawl, score every raw document, keep the high scorers).
The engine's ``quality.quality_classifier`` is the HEURISTIC gate; this
module adds the TRAINED face: logistic regression over hashed unigram
features (the DSIR md5-bucket convention — cross-engine bit-identical),
batch gradient descent with a fixed step count and deterministic zero
init, then one scoring pass.

Spark-first training shape (the kmeans/pagerank iterative pattern):

* features are ONE dense ``LR_BUCKETS``-double array per document
  (map-side build: explode tokens → bucket counts → dense vector),
  pinned once;
* every GD step is a SINGLE map-side-combinable aggregate — the current
  weights enter as a literal array, the per-doc sigmoid and residual are
  codegen expressions, and the gradient is ``LR_BUCKETS`` sum columns in
  one reduce (no explode, no per-doc shuffle, no window); the driver
  collects one row of constants per step, exactly like kmeans collects k
  centroids;
* weights are quantized (round 6dp, +1e-8 nudge — the house cross-engine
  float discipline) after EVERY step, which is also what makes the
  unrolled-CTE DuckDB oracle track the iteration exactly.

At 100 TB: T steps = T scans of the cached feature frame; each step's
shuffle is one 64-column partial-aggregate tree.  Scoring is one more
codegen projection.  Nothing grows with corpus size except the scans.

Degrade-per-row: tokenless/NULL documents carry no features and are not
scored (the DSIR/_doc_ngrams convention).

Registered round 13 (quality_model_scores / quality_model_report in
plans/llm_catalog.py) with the unrolled-GD DuckDB oracles below;
additionally pytest-gated by tests/test_model_filter.py (numpy-reference
GD parity, separable-corpus sanity, oracle diffs at sf0.001 and sf0.01).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import pin
from ..sources.readers import load_table
from .text import TOKEN_PATTERN

#: Hashed-feature space.  64 buckets keeps every GD step a single
#: 64-column aggregate and the unrolled oracle readable; the DSIR tier
#: shows the same convention at 4096 when resolution matters.
LR_BUCKETS = 64
#: Fixed GD step count and rate — deterministic training, no convergence
#: test (the kmeans fixed-rounds convention).
LR_STEPS = 8
LR_RATE = 1.0
#: The "high-quality reference corpus" stand-in (DSIR_TARGET_SOURCES).
LR_TARGET_SOURCES = ("src0", "src1")
#: Keep documents scoring above this probability.
LR_KEEP_THRESHOLD = 0.5


def _bucket(col):
    """md5-hex bucket of a token — first 8 hex chars as a 32-bit int,
    identical to DuckDB's ``('0x' || substr(md5(x),1,8))::BIGINT`` (the
    DSIR / count-min convention)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")
        % LR_BUCKETS
    ).cast("int")


def doc_features(
    docs: DataFrame, targets: tuple[str, ...] = LR_TARGET_SOURCES
) -> DataFrame:
    """Dense per-doc feature frame ``(doc_id, y, f)``: f[b] = (count of
    tokens hashing to bucket b) / (doc token count); y = 1.0 for docs from
    ``targets`` sources.  Tokenless docs produce no row."""
    toks = F.regexp_extract_all(
        F.lower(F.col("text")), F.lit(TOKEN_PATTERN), F.lit(0)
    )
    bc = (
        docs.select(
            "doc_id",
            # coalesce: a NULL source is NOT the reference corpus (y=0),
            # matching the oracle's CASE and the python reference — a
            # bare isin would give y=NULL and silently drop the doc's
            # residual from every gradient while still counting it in n.
            F.coalesce(F.col("source").isin(*targets), F.lit(False))
            .cast("double")
            .alias("y"),
            F.explode(toks).alias("tok"),
        )
        .select("doc_id", "y", _bucket(F.col("tok")).alias("b"))
        .groupBy("doc_id", "y", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    m = F.map_from_entries(F.collect_list(F.struct("b", "c")))
    n = F.sum("c")
    return bc.groupBy("doc_id", "y").agg(
        F.transform(
            F.sequence(F.lit(0), F.lit(LR_BUCKETS - 1)),
            lambda bb: F.coalesce(F.element_at(m, bb), F.lit(0.0)) / n,
        ).alias("f")
    )


def _w_lit(w: list[float]):
    return F.array(*[F.lit(float(x)) for x in w])


def _sigmoid_z(w_col):
    z = F.aggregate(
        F.zip_with(w_col, F.col("f"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def train_quality_lr(
    feats: DataFrame,
    steps: int = LR_STEPS,
    lr: float = LR_RATE,
) -> list[float]:
    """Batch-GD logistic regression over a :func:`doc_features` frame.
    Deterministic: zero init, fixed ``steps``, weights quantized to 6dp
    (+1e-8 nudge) after every step — the quantization is what lets the
    unrolled DuckDB oracle reproduce the trajectory exactly.  Each step
    collects ONE row (LR_BUCKETS gradient sums + a count)."""
    w = [0.0] * LR_BUCKETS
    for _ in range(steps):
        resid = F.col("y") - _sigmoid_z(_w_lit(w))
        row = feats.agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(resid * F.element_at("f", b + 1)).alias(f"g{b}")
                for b in range(LR_BUCKETS)
            ],
        ).first()
        n = row["n"]
        if n == 0:
            # every doc was NULL/untokenizable: nothing to train on —
            # return the current weights (zero init) instead of crashing
            # on the NULL gradient sums (degrade-per-row discipline).
            return w
        w = [
            round(w[b] + lr * row[f"g{b}"] / n + 1e-8, 6)
            for b in range(LR_BUCKETS)
        ]
    return w


def score_documents(feats: DataFrame, w: list[float]) -> DataFrame:
    """Score a feature frame under trained weights: ``(doc_id, label,
    score, keep)``, score = round(sigmoid(w·f), 6)."""
    score = F.round(_sigmoid_z(_w_lit(w)) + F.lit(1e-8), 6)
    return feats.select(
        "doc_id",
        F.col("y").cast("int").alias("label"),
        score.alias("score"),
        (score > F.lit(LR_KEEP_THRESHOLD)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Catalog-ready builders (round-13+ registration; pytest-gated until then)
# ---------------------------------------------------------------------------


def quality_model_scores(
    spark: SparkSession,
    sf_dir: str,
    targets: tuple[str, ...] = LR_TARGET_SOURCES,
    steps: int = LR_STEPS,
    lr: float = LR_RATE,
) -> DataFrame:
    """Train the quality classifier on the documents table (reference =
    ``targets`` sources) and score every featurizable document."""
    docs = load_table(spark, sf_dir, "documents")
    feats = doc_features(docs, targets).transform(pin)
    w = train_quality_lr(feats, steps=steps, lr=lr)
    return score_documents(feats, w)


def quality_model_report(
    spark: SparkSession,
    sf_dir: str,
    targets: tuple[str, ...] = LR_TARGET_SOURCES,
    steps: int = LR_STEPS,
    lr: float = LR_RATE,
) -> DataFrame:
    """Per-source view of the trained filter: total docs, docs scored,
    mean score, keep fraction — the calibration face an operator reads
    before adopting the gate.  LEFT-joins from the documents table (the
    boilerplate_loss_report convention) so sources full of NULL/tokenless
    documents show a visible ``docs_scored < n_docs`` gap instead of
    silently looking fully covered; mean_score / keep_frac average over
    the scored docs only (NULL for a source with none)."""
    docs = load_table(spark, sf_dir, "documents")
    feats = doc_features(docs, targets).transform(pin)
    w = train_quality_lr(feats, steps=steps, lr=lr)
    per_doc = docs.select("doc_id", "source").join(
        score_documents(feats, w), "doc_id", "left"
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("score").alias("docs_scored"),
        F.round(F.avg("score") + F.lit(1e-8), 4).alias("mean_score"),
        F.round(
            F.avg(F.col("keep").cast("double")) + F.lit(1e-8), 4
        ).alias("keep_frac"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracles: the SAME quantized GD, unrolled into per-step CTEs
# (the _kmeans_sql unrolled-iteration convention)
# ---------------------------------------------------------------------------


def _lr_ctes(
    targets: tuple[str, ...] = LR_TARGET_SOURCES,
    steps: int = LR_STEPS,
    lr: float = LR_RATE,
    buckets: int = LR_BUCKETS,
) -> str:
    tgt = ", ".join(f"'{t}'" for t in targets)
    parts = [
        f"""toks AS (
  SELECT doc_id, source, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS t
  FROM documents
),
tb AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT % {buckets} AS b
  FROM toks, unnest(t) AS u(tok) WHERE len(t) > 0
),
bc AS (
  SELECT doc_id, source, b, CAST(count(*) AS DOUBLE) AS c
  FROM tb GROUP BY 1, 2, 3
),
feats AS MATERIALIZED (
  -- MATERIALIZED is load-bearing for cost, not semantics: every step's
  -- p{{t}} references feats, and w{{t}} is referenced by BOTH p{{t+1}}
  -- and w{{t+1}}, so an inlining planner re-expands the whole upstream
  -- tree ~2^steps times — measured 70.3 s -> 0.6 s at sf0.01 for
  -- identical results once feats and each w{{t}} pin to one evaluation
  SELECT doc_id,
         CASE WHEN any_value(source) IN ({tgt}) THEN 1.0 ELSE 0.0 END AS y,
         list_transform(range(0, {buckets}), bb ->
           coalesce(map_from_entries(list({{'k': b, 'v': c}}))[bb][1], 0.0)
             / sum(c)) AS f
  FROM bc GROUP BY doc_id
),
w0 AS (SELECT list_transform(range(0, {buckets}), x -> 0.0) AS w)"""
    ]
    for t in range(1, steps + 1):
        parts.append(
            f"""p{t} AS (
  SELECT doc_id, y, f,
         1/(1+exp(-(list_sum(list_transform(range(1, {buckets + 1}),
                                            i -> w[i]*f[i]))))) AS p
  FROM feats CROSS JOIN w{t - 1}
),
g{t} AS (
  SELECT b, sum((y - p) * f[b+1]) AS g, count(*) AS n
  FROM p{t}, unnest(range(0, {buckets})) AS u(b) GROUP BY b
),
w{t} AS MATERIALIZED (
  SELECT list(round(w{t - 1}.w[b+1] + {lr} * g / n + 1e-8, 6)
              ORDER BY b) AS w
  FROM g{t} CROSS JOIN w{t - 1}
)"""
        )
    parts.append(
        f"""scored AS (
  SELECT doc_id, CAST(y AS INTEGER) AS label,
         round(1/(1+exp(-(list_sum(list_transform(range(1, {buckets + 1}),
                                                  i -> w[i]*f[i])))))
               + 1e-8, 6) AS score
  FROM feats CROSS JOIN w{steps}
)"""
    )
    return ",\n".join(parts)


ORACLE_MODEL_SCORES = f"""
WITH {_lr_ctes()}
SELECT doc_id, label, score, score > {LR_KEEP_THRESHOLD} AS keep
FROM scored"""

ORACLE_MODEL_REPORT = f"""
WITH {_lr_ctes()},
j AS (
  -- LEFT join from documents: unscored (tokenless/NULL) docs stay
  -- visible as a docs_scored < n_docs gap; their NULL score/keep must
  -- stay NULL so the averages cover scored docs only (Spark's avg
  -- ignores NULLs — a bare CASE ... ELSE 0.0 would pull them in)
  SELECT d.source, s.score,
         CASE WHEN s.score IS NULL THEN NULL
              WHEN s.score > {LR_KEEP_THRESHOLD} THEN 1.0 ELSE 0.0 END
           AS keep
  FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
)
SELECT source, count(*) AS n_docs, count(score) AS docs_scored,
       round(avg(score) + 1e-8, 4) AS mean_score,
       round(avg(keep) + 1e-8, 4) AS keep_frac
FROM j GROUP BY 1"""
