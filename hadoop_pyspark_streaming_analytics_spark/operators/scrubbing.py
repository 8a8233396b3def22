"""PII scrubbing and benchmark-contamination checks — the two redaction
passes every LLM training-data pipeline runs before a corpus ships
(C4-style cleanup; benchmark decontamination per Brown et al., GPT-3
appendix C).

Both operators are pure Catalyst expressions (regexp / array higher-order
functions) — zero Python in the path, so they run at scan speed over
100 TB of documents.

The driver's synthetic ``documents.text`` contains no real PII, so
:func:`pii_redaction` first *injects* deterministic synthetic PII derived
from ``doc_id`` (an email for every 3rd doc, a phone for every 5th, an
IPv4 for every 7th) and then redacts it — the injection is reproduced
bit-identically in the DuckDB oracle, making the redaction path itself
(the regexes, the counts, the redacted-text hash) the differential
surface.  On real data the injection step simply disappears.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import round4
from ..session import pin
from ..sources.readers import load_table
from .text import TOKEN_PATTERN

# Redaction regexes — RE2-safe (no backrefs/lookaround) so the exact same
# patterns run in Spark (Java regex) and the DuckDB oracle (RE2).
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"\b555-[0-9]{4}\b"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def _with_synthetic_pii(docs: DataFrame) -> DataFrame:
    """Append deterministic doc_id-derived PII tokens to ``text``.

    Mirrored EXACTLY by SQL_PII_AUGMENT in plans/llm_catalog.py — any
    change here must change there.
    """
    email = F.concat(
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com"),
    )
    phone = F.concat(
        F.lit(" call 555-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
    )
    ip = F.concat(
        F.lit(" host 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        ((F.col("doc_id") / 256).cast("bigint") % 256).cast("string"),
        F.lit("."),
        (F.col("doc_id") % 100).cast("string"),
    )
    aug = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, email).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, phone).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, ip).otherwise(F.lit("")),
    )
    return docs.select("doc_id", aug.alias("aug"))


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count and redact emails / phone numbers / IPv4 addresses per
    document.  One projection pass: three ``regexp_extract_all`` counts +
    a chained ``regexp_replace``; the output carries an md5 of the
    redacted text so the oracle diff covers the replacement bytes, not
    just the counts.

    Counting semantics (ADVICE r3): each pattern is counted on the
    PROGRESSIVELY-redacted intermediate it is actually replaced on —
    emails on the raw text, phones after email replacement, IPs after
    phone replacement — so the counts equal the number of substitutions
    performed.  Independent counts over the raw text double-count
    overlapping entities (``a@1.2.3.4.example.com`` is consumed once as
    [EMAIL] but would increment both n_emails and n_ips).  The DuckDB
    oracle mirrors the same staged counting."""
    d = _with_synthetic_pii(load_table(spark, sf_dir, "documents"))
    after_email = F.regexp_replace(F.col("aug"), EMAIL_RE, "[EMAIL]")
    after_phone = F.regexp_replace(after_email, PHONE_RE, "[PHONE]")
    redacted = F.regexp_replace(after_phone, IPV4_RE, "[IP]")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("aug"), F.lit(EMAIL_RE), 0))
        .cast("int")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(after_email, F.lit(PHONE_RE), 0))
        .cast("int")
        .alias("n_phones"),
        F.size(F.regexp_extract_all(after_phone, F.lit(IPV4_RE), 0))
        .cast("int")
        .alias("n_ips"),
        F.md5(redacted).alias("redacted_md5"),
        (F.length("aug") - F.length(redacted)).cast("int").alias("chars_removed"),
    )


#: Benchmark membership: every 97th doc plays the held-out eval set.
BENCHMARK_MOD = 97
#: Contamination n-gram order (trigrams: the synthetic 31-word vocabulary
#: repeats 3-grams often enough to give a non-degenerate overlap signal).
NGRAM_N = 3


def _gram_array_expr(tok_col: str) -> F.Column:
    """The DISTINCT space-joined trigram array of a token-array column —
    the ONE load-bearing gram construction, shared by the exact check,
    the Bloom twin (via _doc_ngrams), and the streaming gate so the three
    can never drift from each other or the oracle's gram CTE.

    Short docs must short-circuit to an empty array: sequence(1, 0) is
    DESCENDING in Spark ([1, 0]), and slice(toks, 0, n) then throws
    ("SQL array indices start at 1") — the repetition_scores guard
    pattern, mirrored by the oracle's WHERE len(t) >= NGRAM_N."""
    return F.expr(
        f"CASE WHEN size({tok_col}) >= {NGRAM_N} THEN"
        f" array_distinct(transform(sequence(1, size({tok_col}) - {NGRAM_N - 1}),"
        f" i -> concat_ws(' ', slice({tok_col}, i, {NGRAM_N}))))"
        f" ELSE cast(array() AS array<string>) END"
    )


def _doc_ngrams(docs: DataFrame) -> DataFrame:
    """(doc_id, gram) — DISTINCT space-joined token n-grams per doc.

    Built with sequence+transform over the token array (one generator
    expression, no self-join); dedup happens inside the array (JVM) so the
    explode emits each gram once per doc.
    """
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), 0)
    return (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.explode(_gram_array_expr("toks")).alias("gram"))
    )


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every training doc, the fraction of
    its distinct trigrams that appear anywhere in the benchmark subset
    (doc_id % 97 == 0).  Pipeline: gram-explode both sides → distinct
    benchmark gram set → LEFT join (match flag) → per-doc ratio.

    Scale shape: the benchmark gram set is tiny relative to the corpus
    (eval suites are MBs, corpora are TBs) — AQE broadcasts it; the
    training-side explode aggregates straight back to doc grain with a
    map-side-combinable count.  No all-pairs anything.
    """
    docs = load_table(spark, sf_dir, "documents")
    # grams feeds both the benchmark set and the training probe; without a
    # checkpoint the corpus is scanned+tokenized+gram-exploded twice.
    grams = _doc_ngrams(docs).transform(pin)
    bench = (
        grams.filter(F.col("doc_id") % BENCHMARK_MOD == 0)
        .select("gram")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = grams.filter(F.col("doc_id") % BENCHMARK_MOD != 0)
    return (
        train.join(bench, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("int").alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            round4(F.col("n_contaminated") / F.col("n_grams")).alias(
                "contamination_frac"
            ),
        )
    )


#: Bloom sketch geometry for :func:`contamination_check_bloom`.  m bits /
#: k hashes sized for ~1% fpp at ~2.4k benchmark grams per 16 Ki bits; on a
#: real eval suite scale m with the gram count (bits ~ 10x grams) — the
#: bitmap stays KBs-to-MBs while the gram STRINGS it replaces are unbounded.
BLOOM_BITS = 1 << 14
BLOOM_HASHES = 3


def _bloom_positions(gram: F.Column) -> list[F.Column]:
    """The k deterministic bit positions of a gram: xxhash64 under k fixed
    salt columns, pmod m.  Executors compute these in codegen — the same
    double-hash family Spark's runtime bloom-filter join uses."""
    return [
        F.pmod(F.xxhash64(gram, F.lit(seed)), F.lit(BLOOM_BITS)).cast("int")
        for seed in range(BLOOM_HASHES)
    ]


def _bloom_build_words(keys: DataFrame, col: str) -> list[int]:
    """Fold a key column into the m-bit bitmap as ``BLOOM_BITS/64`` SIGNED
    64-bit words (Java longs; bit-pattern identical to the unsigned words).
    The collected DISTINCT position list is bounded by m — a constant —
    never by the key count."""
    pos_rows = (
        keys.select(F.explode(F.array(*_bloom_positions(F.col(col)))).alias("p"))
        .distinct()
        .collect()
    )
    words = [0] * (BLOOM_BITS // 64)
    for r in pos_rows:
        words[r["p"] >> 6] |= 1 << (r["p"] & 63)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def _bloom_might_contain(gram: F.Column, words: list[int]) -> F.Column:
    """Pure-codegen membership test: for each of the k positions, the
    bitmap word (literal array embedded in the plan, classifier-weights
    style) ANDed with the position's bit must be non-zero.

    The bitmap is ONE ArrayType literal (``F.lit(words)``), not an
    unrolled CreateArray of m/64 expression nodes — at the ~10 bits/gram
    sizing the scale notes prescribe, a real eval suite's bitmap is ~10^5
    words and per-word literals would blow up Catalyst analysis time and
    driver memory (k replicas of the array per call, again per lambda)."""
    bitmap = F.lit(words)
    out = None
    for p in _bloom_positions(gram):
        check = (
            F.element_at(bitmap, (p / F.lit(64)).cast("int") + F.lit(1)).bitwiseAND(
                # shiftleft with a COLUMN bit count (the python wrapper
                # only takes ints) — SQL ShiftLeft accepts expressions.
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), F.pmod(p, F.lit(64))
                )
            )
            != 0
        )
        out = check if out is None else out & check
    return out


def contamination_check_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`contamination_check` behind a broadcast Bloom pre-filter —
    the 100 TB spelling of benchmark decontamination.

    The exact twin joins every training gram against the benchmark gram
    set.  Here the benchmark grams are first folded into an m-bit Bloom
    bitmap (k=``BLOOM_HASHES`` xxhash64 positions each; the position list
    is query-count-bounded at <= m, collected like kmeans centroids and
    embedded in the plan as ``BLOOM_BITS/64`` long words), and the
    corpus-sized training gram stream is gated by a pure-codegen
    ``might_contain`` — bitmap word >> bit — BEFORE the exact join.  Bloom
    filters have no false negatives, so gated-out grams are PROVABLY
    uncontaminated and only the surviving candidates (true hits + ~1% fpp)
    reach the LEFT SEMI verify; the result is bit-identical to the exact
    twin and shares its oracle verbatim.

    Scale shape: at 100 TB the exact twin must broadcast every distinct
    benchmark gram STRING; this spelling broadcasts a fixed-size bitmap
    inside the plan and the string join only ever sees the candidate
    sliver.  Same sketch-then-verify contract as the MinHash tier
    (estimate cheap, verify exact).
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = _doc_ngrams(docs).transform(pin)
    bench = grams.filter(F.col("doc_id") % BENCHMARK_MOD == 0).select("gram").distinct()
    words = _bloom_build_words(bench, "gram")

    train = grams.filter(F.col("doc_id") % BENCHMARK_MOD != 0)
    hits = (
        train.filter(_bloom_might_contain(F.col("gram"), words))
        .join(bench, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_contaminated"))
    )
    return (
        train.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_grams"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("int").alias(
                "n_contaminated"
            ),
            round4(
                F.coalesce(F.col("n_contaminated"), F.lit(0)) / F.col("n_grams")
            ).alias("contamination_frac"),
        )
    )


def contamination_bloom_gate(
    docs: DataFrame, words: list[int], max_frac: float = 0.05
) -> DataFrame:
    """STREAM-APPLICABLE decontamination gate: score each incoming doc's
    trigram overlap against the benchmark Bloom bitmap ENTIRELY in-row —
    the gram array, the k-hash membership tests, and the ratio are one
    codegen projection with zero joins and zero state, so the identical
    operator compiles under Structured Streaming and scores micro-batches
    exactly like the batch path (parity test-pinned).

    Bloom semantics make this a conservative gate: no false negatives
    means ``bloom_frac`` >= the true contamination fraction, so everything
    it keeps is provably under ``max_frac`` true overlap (the ~fpp
    overshoot only ever drops extra docs — the safe direction for eval
    integrity).  ``words`` comes from :func:`_bloom_build_words` over the
    static benchmark corpus — rebuild it when the eval suite changes, not
    per batch.

    Scale shape: the bitmap is a plan literal (KBs); per-row cost is
    64 md5-free xxhash64 calls per gram; no shuffle, no stream-static
    join, works in any output mode.
    """
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), 0)
    with_grams = docs.withColumn("__toks", toks).withColumn(
        "__grams", _gram_array_expr("__toks")
    )
    cand = F.filter(
        F.col("__grams"), lambda g: _bloom_might_contain(g, words)
    )
    return (
        with_grams.select(
            *[c for c in docs.columns],
            F.size("__grams").alias("n_grams"),
            F.size(cand).alias("n_candidates"),
            round4(
                F.when(F.size("__grams") > 0,
                       F.size(cand) / F.size("__grams")).otherwise(0.0)
            ).alias("bloom_frac"),
        )
        .withColumn("keep", F.col("bloom_frac") <= F.lit(max_frac))
    )
