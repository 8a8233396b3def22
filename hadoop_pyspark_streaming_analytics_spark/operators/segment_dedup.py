"""Corpus-frequency segment scrubbing — the text-REWRITE face of
boilerplate dedup (C4/RefinedWeb-style line dedup, generalized).

The dedup tier detects duplication at document grain (exact/MinHash/LSH
drop whole documents) and measures it at n-gram grain
(``corpus.boilerplate_ngram_fraction`` scores, ``dedup.exact_substring_pairs``
pairs) — but nothing REWRITES a document by dropping the duplicated spans
themselves.  Web-curation pipelines do exactly that: C4 removed any
three-sentence span that appeared more than once, RefinedWeb dropped
duplicated lines, and both kept the rest of the document.  This module is
that operation over the engine's token model: documents are cut into
consecutive ``n``-token segments (the corpus has no newlines, so fixed
token windows stand in for lines), a segment whose distinct-document
frequency exceeds ``max_doc_freq`` is boilerplate, and every document is
reassembled from its surviving segments in order.

Scale story (the reason this shape survives 100 TB):

* segmenting is a LINEAR explode — no joins, no state, composes under
  ``length_policy.cap_text`` for giant-doc bounds;
* the offender set is the ONLY globally-aggregated artifact, and in the
  expected case it is small (a segment qualifies only by repeating
  across ``max_doc_freq+1`` distinct documents — boilerplate vocabulary,
  not corpus volume), so AQE settles the flag join as a broadcast at
  runtime.  The hint is deliberately NOT forced: an adversarially
  duplicated corpus makes every segment an offender and must degrade to
  a shuffle join, not an OOM.  The honest cost of that trade at scale:
  when static stats plan SMJ first, the segment stream pays one shuffle
  WRITE even though AQE's broadcast conversion then reads it locally —
  versus a forced hint that skips the write but gambles the job;
* the rebuild is ONE shuffle on ``doc_id`` whose single aggregate
  computes totals, drops, and the rebuilt text together (three source
  scans total, plan-pinned).

Output contract: ``cleaned_text`` is the TOKEN-NORMALIZED stream
(lowercased ``[a-z]+`` tokens joined by single spaces) — the original
byte stream is not recoverable after tokenized scrubbing, and every
downstream consumer here (shingles, BPE, fingerprints) tokenizes the
same way.  Degrade-per-row discipline: NULL/untokenizable text passes
through UNTOUCHED with ``was_modified = false``; a fully-boilerplate
document rebuilds to NULL (its loss is visible in ``segments_dropped``),
never an error.

Beyond-reference operator (the reference's corpus is coursework-sized).
Pytest-gated this round; catalog entries + DuckDB oracles below are
scheduled for round 13's measured free slots (plans/__init__.py
ROUND-13 BUDGET).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import pin
from ..sources.readers import load_table
from .text import TOKEN_PATTERN

#: Tokens per segment.  Three tokens is the sf-measured sweet spot for the
#: synthetic corpus (n=2 marks ~99% of distinct segments shared, n=4 only
#: ~5%; n=3 yields a real-but-bounded offender set at every SF) — a web
#: corpus with actual lines would use its line splitter instead.
SEG_TOKENS = 3
#: A segment present in MORE than this many distinct documents is dropped.
MAX_DOC_FREQ = 3


def doc_segments(
    docs: DataFrame,
    n: int = SEG_TOKENS,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Consecutive non-overlapping ``n``-token segments per document:
    ``(doc_id, source, seg_idx, segment)``, segment = the tokens joined by
    a single space (the last segment of a document may be shorter).
    ``source_col`` names the grouping column in ``docs``; it is always
    emitted under the canonical name ``source``.

    Untokenizable documents (NULL/empty/no ``[a-z]+`` runs) produce no
    rows — callers treat their absence as pass-through.  Pure projection +
    generator explode: linear, no shuffle.
    """
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(TOKEN_PATTERN), F.lit(0)
    )
    base = docs.withColumn("_t", toks).where(F.size("_t") > 0)
    n_segs = F.ceil(F.size("_t") / F.lit(float(n))).cast("int")
    segments = F.transform(
        F.sequence(F.lit(0), n_segs - F.lit(1)),
        lambda i: F.concat_ws(
            " ", F.slice("_t", i * F.lit(n) + F.lit(1), F.lit(n))
        ),
    )
    return base.select(
        "doc_id",
        F.col(source_col).alias("source"),
        F.posexplode(segments).alias("seg_idx", "segment"),
    )


def common_segments(
    segments: DataFrame, max_doc_freq: int = MAX_DOC_FREQ
) -> DataFrame:
    """The offender set: segments whose distinct-document frequency exceeds
    ``max_doc_freq``.  One map-side-combinable aggregate; the result is
    small by construction (see module docstring) and meant to broadcast."""
    return (
        segments.groupBy("segment")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") > max_doc_freq)
        .select("segment")
    )


def scrub_common_segments(
    docs: DataFrame,
    n: int = SEG_TOKENS,
    max_doc_freq: int = MAX_DOC_FREQ,
) -> DataFrame:
    """Rewrite every document without its corpus-frequent segments:
    ``(doc_id, segments_total, segments_dropped, cleaned_text,
    was_modified)``.

    Plan shape: linear segment explode → broadcast LEFT OUTER flag join
    against the offender aggregate → ONE ``doc_id`` shuffle whose single
    aggregate computes total, dropped, AND the rebuilt text together
    (collect_list skips the NULL the flag puts on hit segments; array_sort
    on (seg_idx, segment) structs restores document order).  The flag-join
    spelling instead of LEFT ANTI + a separate totals aggregate saves a
    whole corpus scan+explode pass — measured in the r12 plan audit
    (SCALE.md): 4 parquet scans → 3 (base + segments + the offenders
    aggregate's own pass).  NULL / untokenizable text passes through
    untouched; a document whose every segment is boilerplate rebuilds to
    NULL cleaned_text.
    """
    segs = doc_segments(docs, n)
    offenders = common_segments(segs, max_doc_freq)
    return scrub_against_offenders(docs, segs, offenders)


def scrub_against_offenders(
    docs: DataFrame, segs: DataFrame, offenders: DataFrame
) -> DataFrame:
    """The rebuild core shared by :func:`scrub_common_segments` (offenders
    = this corpus's own frequency aggregate) and the streaming handler
    (offenders = cumulative store counts + the micro-batch's own — see
    streaming/extensions.foreach_batch_segment_scrub): LEFT OUTER flag
    join against ``offenders (segment)`` → one per-doc aggregate →
    pass-through join with ``docs``.

    Deliberately NO broadcast hint on the offender side (the house
    no-forced-hint rule for corpus-derived frames): the set is small in
    the expected boilerplate case — AQE broadcasts it at runtime, pinned
    on real data by the plan test — but an adversarially duplicated
    corpus (every doc repeated max_doc_freq+1 times) makes EVERY segment
    an offender, and a forced hint there would OOM at 100 TB where AQE
    degrades to a shuffle join instead."""
    flagged = segs.join(
        offenders.select("segment").withColumn("_hit", F.lit(True)),
        "segment",
        "left",
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_total"),
        F.count("_hit").alias("_dropped"),  # count() skips NULL flags
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(  # collect_list skips hit (NULL) rows
                        F.when(
                            F.col("_hit").isNull(),
                            F.struct("seg_idx", "segment"),
                        )
                    )
                ),
                lambda s: s["segment"],
            ),
            " ",
        ).alias("_rebuilt"),
    )
    dropped = F.coalesce("_dropped", F.lit(0))
    return (
        docs.select("doc_id", "text")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_total", F.lit(0)).cast("int").alias("segments_total"),
            dropped.cast("int").alias("segments_dropped"),
            # no segments at all (NULL/untokenizable) → original text
            # untouched; every segment boilerplate → NULL; else the
            # rebuilt stream.
            F.when(F.col("_total").isNull(), F.col("text"))
            .when(F.col("_dropped") == F.col("_total"), F.lit(None))
            .otherwise(F.col("_rebuilt"))
            .alias("cleaned_text"),
            (dropped > 0).alias("was_modified"),
        )
    )


def boilerplate_loss_report(
    docs: DataFrame,
    n: int = SEG_TOKENS,
    max_doc_freq: int = MAX_DOC_FREQ,
    source_col: str = "source",
) -> DataFrame:
    """Per-source loss a ``scrub_common_segments`` pass incurs — run BEFORE
    adopting the knob (the ``truncation_loss_report`` convention): docs
    modified, segments and tokens dropped, and the dropped token fraction.
    Token counts are segment-tokenizer-true (``size(split(segment))``), so
    short final segments are priced exactly."""
    segs = doc_segments(docs, n, source_col=source_col)
    # Round-16 census fix: the totals and drops aggregates each re-ran
    # the segment explode (and the offender aggregate re-scanned on top)
    # — 4 documents scans.  The scrub core's flag-join spelling fuses
    # them: ONE segment pass flag-joins the (checkpoint-pinned, bounded
    # boilerplate-vocabulary) offender set and a single per-source
    # aggregate prices totals AND drops together.  Two source passes
    # remain (the per-source doc census + this fused segment pass) plus
    # the offender aggregate's own pass behind its checkpoint — 3 total.
    offenders = common_segments(segs, max_doc_freq).transform(pin)
    seg_tokens = F.size(F.split("segment", " "))
    # no broadcast hint — same adversarial-boilerplate rationale as
    # scrub_against_offenders (AQE broadcasts the small expected case)
    flagged = segs.join(
        offenders.withColumn("_hit", F.lit(True)), "segment", "left"
    )
    per_source = docs.groupBy(
        F.col(source_col).alias("source")
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    fused = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("_segments_total"),
        F.sum(seg_tokens).alias("_tokens_total"),
        F.countDistinct(
            F.when(F.col("_hit"), F.col("doc_id"))
        ).alias("_docs_modified"),
        F.count("_hit").alias("_segments_dropped"),
        F.sum(F.when(F.col("_hit"), seg_tokens)).alias("_tokens_dropped"),
    )
    return (
        per_source.join(fused, "source", "left")
        .select(
            F.col("source").alias(source_col),
            "n_docs",
            F.coalesce("_docs_modified", F.lit(0)).alias("docs_modified"),
            F.coalesce("_segments_total", F.lit(0)).alias("segments_total"),
            F.coalesce("_segments_dropped", F.lit(0)).alias(
                "segments_dropped"
            ),
            F.coalesce("_tokens_total", F.lit(0)).alias("tokens_total"),
            F.coalesce("_tokens_dropped", F.lit(0)).alias("tokens_dropped"),
            F.round(
                F.coalesce("_tokens_dropped", F.lit(0))
                / F.nullif(
                    F.coalesce("_tokens_total", F.lit(0)).cast("double"),
                    F.lit(0.0),
                )
                + F.lit(1e-12),
                6,
            ).alias("dropped_token_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Catalog-ready builders (round-13 registration; pytest-gated until then)
# ---------------------------------------------------------------------------
# (spark, sf_dir) signatures + the load_table seam so the degenerate probe's
# documents suite covers them the moment their QuerySpecs land.  Their
# DuckDB oracles live beside them (ORACLE_* below) and are diffed against
# the builders at sf0.001 by tests/test_segment_dedup.py, so the round-13
# registration is QuerySpec boilerplate, not new verification work.


def scrub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``scrub_common_segments`` over the documents table — full rewritten
    output, so the oracle diff hashes the actual cleaned text."""
    docs = load_table(spark, sf_dir, "documents")
    return scrub_common_segments(docs)


def documents_boilerplate_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``boilerplate_loss_report`` over the documents table at the same
    (n, max_doc_freq) knobs."""
    docs = load_table(spark, sf_dir, "documents")
    return boilerplate_loss_report(docs)


# DuckDB lists are 1-indexed: t[(i*n+1):((i+1)*n)] ≡ Spark
# slice(_t, i*n+1, n); range(0, x) excludes x like sequence(0, x-1).
_SQL_SEGMENTS = f"""
toks AS (
  SELECT doc_id, source, text,
         regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS t
  FROM documents
),
segs AS (
  SELECT doc_id, source, i AS seg_idx,
         list_aggregate(
           t[(i*{SEG_TOKENS}+1):((i+1)*{SEG_TOKENS})], 'string_agg', ' '
         ) AS segment
  FROM toks,
       unnest(range(0, CAST(ceil(len(t)/{SEG_TOKENS}.0) AS BIGINT))) AS u(i)
  WHERE len(t) > 0
),
off AS (
  SELECT segment FROM (
    SELECT segment, count(DISTINCT doc_id) AS nd FROM segs GROUP BY 1
  ) WHERE nd > {MAX_DOC_FREQ}
)"""

ORACLE_SCRUB_DOCUMENTS = f"""
WITH {_SQL_SEGMENTS},
surv AS (
  SELECT s.doc_id, s.seg_idx, s.segment
  FROM segs s LEFT JOIN off o USING (segment) WHERE o.segment IS NULL
),
reb AS (
  SELECT doc_id, string_agg(segment, ' ' ORDER BY seg_idx) AS rebuilt,
         count(*) AS kept
  FROM surv GROUP BY 1
),
tot AS (SELECT doc_id, count(*) AS segments_total FROM segs GROUP BY 1)
SELECT d.doc_id,
       CAST(coalesce(t.segments_total, 0) AS INTEGER) AS segments_total,
       CAST(coalesce(t.segments_total, 0) - coalesce(r.kept, 0)
            AS INTEGER) AS segments_dropped,
       CASE WHEN t.doc_id IS NULL THEN d.text ELSE r.rebuilt
            END AS cleaned_text,
       coalesce(t.segments_total, 0) - coalesce(r.kept, 0) > 0
         AS was_modified
FROM documents d
LEFT JOIN tot t ON d.doc_id = t.doc_id
LEFT JOIN reb r ON d.doc_id = r.doc_id"""

ORACLE_BOILERPLATE_LOSS = f"""
WITH {_SQL_SEGMENTS},
hit AS (SELECT s.* FROM segs s JOIN off o USING (segment)),
per_src AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
tot AS (
  SELECT source, count(*) AS segments_total,
         sum(len(string_split(segment, ' '))) AS tokens_total
  FROM segs GROUP BY 1
),
drp AS (
  SELECT source, count(DISTINCT doc_id) AS docs_modified,
         count(*) AS segments_dropped,
         sum(len(string_split(segment, ' '))) AS tokens_dropped
  FROM hit GROUP BY 1
)
SELECT p.source,
       CAST(p.n_docs AS BIGINT) AS n_docs,
       CAST(coalesce(d.docs_modified, 0) AS BIGINT) AS docs_modified,
       CAST(coalesce(t.segments_total, 0) AS BIGINT) AS segments_total,
       CAST(coalesce(d.segments_dropped, 0) AS BIGINT) AS segments_dropped,
       CAST(coalesce(t.tokens_total, 0) AS BIGINT) AS tokens_total,
       CAST(coalesce(d.tokens_dropped, 0) AS BIGINT) AS tokens_dropped,
       round(CAST(coalesce(d.tokens_dropped, 0) AS DOUBLE)
             / nullif(CAST(coalesce(t.tokens_total, 0) AS DOUBLE), 0)
             + 1e-12, 6) AS dropped_token_frac
FROM per_src p
LEFT JOIN tot t ON p.source = t.source
LEFT JOIN drp d ON p.source = d.source"""
