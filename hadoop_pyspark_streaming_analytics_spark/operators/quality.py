"""Text-analysis operators for LLM training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting (BASELINE.json
north star).  All pure Catalyst expressions — these run at full scan speed
over 100 TB of documents with zero Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import pin
from ..sources.readers import load_table
from .dedup import normalized_text
from .text import STOP_WORDS, TOKEN_PATTERN

#: Marker-token sets for the n-gram/stopword language heuristic.  The
#: testdata's documents share one synthetic vocabulary, so the predictions
#: are uniform — the operator's value here is the (oracle-checked) plumbing.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "is", "a", "an", "are", "of", "and"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "es": ("el", "la", "los", "las", "es", "y", "que"),
    "fr": ("le", "la", "les", "est", "et", "une"),
}


def _tokens_col(text_col: str = "text"):
    return F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_PATTERN), 0)


def predict_language(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Marker-token language heuristic over ANY (doc_id, text) frame:
    count hits per language's marker set over the token array
    (higher-order ``filter``), predict the argmax (ties broken by language
    code order), 'und' when nothing matches.  Stateless single projection
    — composable into audits without re-scanning documents; ``keep``
    carries extra input columns through (same contract as
    :func:`quality_features`)."""
    d = docs.select("doc_id", *keep, _tokens_col().alias("toks"))
    for lang, markers in LANG_MARKERS.items():
        arr = ", ".join(f"'{m}'" for m in markers)
        d = d.withColumn(
            f"hits_{lang}",
            F.expr(f"size(filter(toks, t -> array_contains(array({arr}), t)))"),
        )
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties → build backwards
        pred = F.when(
            (F.col(f"hits_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return d.select(
        "doc_id",
        *keep,
        pred.alias("pred_lang"),
        *[F.col(f"hits_{lang}").alias(f"hits_{lang}") for lang in langs],
    )


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents-table spelling of :func:`predict_language`."""
    return predict_language(load_table(spark, sf_dir, "documents"))


def quality_features(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Per-document quality features + a composite score over ANY frame
    with (doc_id, text) — batch or streaming; the projection is stateless,
    so the same plan compiles both ways (exercised by the streaming
    classifier parity test).  Features: token count, mean word length,
    stopword ratio, alpha-character ratio; the score formula is a
    deterministic mix — the point is the feature extraction shape, which
    mirrors C4/Gopher-style quality filters.

    ``keep`` names extra input columns to carry through the projection —
    consumers that need features NEXT TO other per-doc columns (e.g. the
    source report card's fingerprint) ride the same single scan instead
    of re-joining on doc_id."""
    stop_arr = ", ".join(f"'{w}'" for w in STOP_WORDS)
    d = docs.select(
        "doc_id",
        *keep,
        F.length("text").alias("n_chars_actual"),
        _tokens_col().alias("toks"),
        F.length(F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")).alias(
            "alpha_chars"
        ),
    ).select(
        "doc_id",
        *keep,
        F.size("toks").alias("word_count"),
        F.round(
            F.expr("aggregate(toks, 0D, (acc, t) -> acc + length(t))")
            / F.greatest(F.size("toks"), F.lit(1))
            + F.lit(1e-8),
            4,
        ).alias("avg_word_len"),
        F.round(
            F.expr(f"size(filter(toks, t -> array_contains(array({stop_arr}), t)))")
            / F.greatest(F.size("toks"), F.lit(1))
            + F.lit(1e-8),
            4,
        ).alias("stopword_ratio"),
        F.round(
            F.col("alpha_chars") / F.greatest(F.col("n_chars_actual"), F.lit(1))
            + F.lit(1e-8),
            4,
        ).alias("alpha_ratio"),
    )
    return d.withColumn(
        "quality_score",
        F.round(
            F.least(F.col("word_count") / 100.0, F.lit(1.0)) * 0.4
            + F.col("stopword_ratio") * 0.3
            + F.col("alpha_ratio") * 0.3
            + F.lit(1e-8),
            4,
        ),
    )


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents-table spelling of :func:`quality_features`."""
    return quality_features(load_table(spark, sf_dir, "documents"))


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-counting surface: whitespace tokens and a BPE-ish segmentation
    (letter runs | digit runs | single non-space symbol) — the standard
    pre-tokenizer shape, counted JVM-side."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0
            )
        ).alias("bpe_ish_tokens"),
        F.length("text").alias("n_chars_actual"),
    )


def document_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint per document: md5 of whitespace-normalized
    lowercase text + a 2-hex-char shard bucket (the partition key a 100 TB
    dedup store would shard on)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(normalized_text(F.col("text")))
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 2).alias("shard_bucket"),
        F.size(_tokens_col()).alias("n_tokens"),
    )


#: Stratified-sampling keep-rates per length bucket (percent): short docs
#: are downsampled hard, long docs kept — the usual quality-weighting shape.
SAMPLE_RATES = {"short": 10, "medium": 50, "long": 100}
SHORT_MAX_TOKENS = 40
MEDIUM_MAX_TOKENS = 80


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: bucket documents by length,
    keep ``SAMPLE_RATES[bucket]`` percent of each stratum, decided by
    md5(doc_id) mod 100 — the same seedless hash discipline as
    :func:`train_split_assign`, so the sample is reproducible across runs,
    engines, and partitionings, and a re-ingested doc keeps its fate.

    ``DataFrame.sampleBy`` is the stock spelling but is seed-dependent and
    partitioning-sensitive — unusable for a dataset that must be rebuilt
    bit-identically.  One scan, zero shuffle; the filter is pure codegen.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(_tokens_col())
    bucket = (
        F.when(n_tokens < SHORT_MAX_TOKENS, "short")
        .when(n_tokens < MEDIUM_MAX_TOKENS, "medium")
        .otherwise("long")
    )
    rate = (
        F.when(F.col("bucket") == "short", SAMPLE_RATES["short"])
        .when(F.col("bucket") == "medium", SAMPLE_RATES["medium"])
        .otherwise(SAMPLE_RATES["long"])
    )
    hash100 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
    ).cast("long") % 100
    return (
        docs.select("doc_id", bucket.alias("bucket"))
        .withColumn("keep_hash", hash100)
        .filter(F.col("keep_hash") < rate)
        .select("doc_id", "bucket", F.col("keep_hash").cast("int").alias("keep_hash"))
    )


def train_split_assign(
    spark: SparkSession,
    sf_dir: str,
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Deterministic train/val/test split: bucket = md5(doc_id) mod 100.

    Hash-based (not random) so the split is (a) reproducible across runs,
    engines, and partitionings with NO seed plumbing, (b) stable under
    re-ingestion — a re-crawled doc keeps its split, so no train/test
    leakage across dataset versions, and (c) joinable — any table keyed by
    doc_id can recover the split without storing it.  One scan, zero
    shuffle (the per-split counts aggregate map-side)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10).cast(
        "long"
    ) % 100
    split = (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional downsampling: keep each document with
    probability equal to its quality_score — the soft version of a hard
    quality cutoff (low-quality docs survive at low rate instead of
    vanishing, preserving distributional coverage).

    Same seedless-hash discipline as :func:`stratified_sample`:
    keep ⟺ md5(doc_id) mod 10000 < quality_score * 10000, so the sample
    is reproducible across runs, engines, and partitionings, and a
    re-ingested doc keeps its fate.  One scan, zero shuffle, pure codegen
    (the quality features and the hash are both expression-only).
    """
    feats = quality_scores(spark, sf_dir)
    hash10k = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
    ).cast("long") % 10000
    return (
        feats.withColumn("keep_hash", hash10k)
        .filter(
            F.col("keep_hash")
            < F.round(F.col("quality_score") * 10000 + F.lit(1e-6), 0)
        )
        .select(
            "doc_id",
            "quality_score",
            F.col("keep_hash").cast("int").alias("keep_hash"),
        )
    )


#: Columns profiled by :func:`profile_events` (name, spark type is taken
#: from the schema at runtime).
PROFILE_COLUMNS = ("event_id", "ts", "user_id", "event_type", "value", "props")


def profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of the events table: non-null,
    null, and exact distinct counts, long-format (one row per column) —
    the audit every ingest runs before trusting a feed.

    One aggregation job: Spark plans the multi-column count_distinct set
    via a single Expand (#columns passes over each row map-side, one
    shuffle).  Exact distincts keep the DuckDB oracle exact; at 100 TB
    swap in approx_count_distinct per column (the documented
    sketch-merge path, see operators/sketches.py) — high-cardinality
    string columns like ``props`` are the reason.
    """
    from ..sources.readers import load_events

    ev = load_events(spark, sf_dir)
    aggs = []
    for c in PROFILE_COLUMNS:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nonnull"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
        ]
    wide = ev.agg(F.count(F.lit(1)).alias("__rows"), *aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nonnull, {c}__distinct" for c in PROFILE_COLUMNS
    )
    return wide.selectExpr(
        f"stack({len(PROFILE_COLUMNS)}, {stack_args})"
        " AS (column_name, n_nonnull, n_distinct)",
        "__rows",
    ).select(
        "column_name",
        "n_nonnull",
        (F.col("__rows") - F.col("n_nonnull")).alias("n_null"),
        "n_distinct",
    )


#: Mixture weights per source (percent kept) for :func:`mixture_sample` —
#: the "data recipe" shape: oversample curated sources, downsample crawl.
MIXTURE_RATES = {"src0": 100, "src1": 75, "src2": 50, "src3": 25, "src4": 10}


def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture sampling: keep each document at its source's recipe
    rate (MIXTURE_RATES percent) — the dataset-mixing step that turns raw
    pools into a training recipe.  Seedless md5(doc_id) hash discipline
    (same as stratified/train-split): reproducible across runs, engines,
    partitionings; one scan, zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    rate = F.lit(0)
    for src, pct in MIXTURE_RATES.items():
        rate = F.when(F.col("source") == src, pct).otherwise(rate)
    hash100 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
    ).cast("long") % 100
    return (
        docs.select("doc_id", "source")
        .withColumn("keep_hash", hash100)
        .withColumn("keep_rate", rate.cast("int"))
        .filter(F.col("keep_hash") < F.col("keep_rate"))
        .select(
            "doc_id",
            "source",
            F.col("keep_hash").cast("int").alias("keep_hash"),
            "keep_rate",
        )
    )


#: Default shard count for the training shuffle/manifest pair — one
#: definition shared with BOTH catalog oracles' modulus literals (the
#: ADVICE-r5 constants discipline).
TRAINING_SHARDS = 16


def training_shard_assignment(
    spark: SparkSession, sf_dir: str, n_shards: int = TRAINING_SHARDS
) -> DataFrame:
    """Deterministic pre-training shuffle + sharding: order documents by
    md5(doc_id) (a fixed pseudo-random permutation — no seed plumbing,
    identical on every engine/run) and deal them into ``n_shards`` with a
    position inside each shard.

    shard = hash mod n_shards (hash-partitioned, balanced); position =
    row_number over md5 order WITHIN the shard — the window is per-shard
    (corpus/n_shards rows), so no global sort materializes.  Downstream
    training readers stream shard files in position order and see a
    shuffled corpus."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    h = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % n_shards
    ).cast("int")
    d = docs.select("doc_id", h.alias("h"), shard.alias("shard"))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return d.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("int").alias("pos_in_shard"),
    )


#: Target EPOCHS per source for :func:`epoch_mixture_repeats` — the
#: LLaMA-style sampling-proportions table (sources worth upsampling train
#: for >1 epoch, bulk crawl for <1).  Thousandths-precision fractions so
#: the fractional-epoch keep decision stays all-integer.  Sources absent
#: from the recipe train for EPOCH_DEFAULT (exactly once) — an explicit
#: 0.0 entry is how a recipe excludes a source.
EPOCH_RECIPE = {
    "src0": 1.0,
    "src1": 2.5,
    "src2": 0.5,
    "src3": 1.5,
    "src4": 3.0,
}
EPOCH_DEFAULT = 1.0


def epoch_mixture_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-table materialization: per document, how many times it
    appears in the training mix when its source trains for
    ``EPOCH_RECIPE[source]`` epochs — floor(epochs) unconditional repeats
    plus one more for the deterministic hash slice of size frac(epochs)
    (the LLaMA/Gopher sampling-proportions recipe made concrete: the
    repeat COUNT is the artifact a data loader consumes).

    All-integer decision: md5(doc_id) mod 1000 < round(frac·1000) — the
    mixture_sample hash discipline, so re-runs, engines, and
    partitionings agree bit-for-bit; one scan, zero shuffle.  Docs with
    n_repeats=0 stay in the output (auditable: the mix explicitly
    excludes them, rather than silently).
    """
    docs = load_table(spark, sf_dir, "documents")
    dflt = EPOCH_DEFAULT
    base = F.lit(int(dflt))
    thresh = F.lit(round((dflt - int(dflt)) * 1000))
    epochs = F.lit(float(dflt))
    for src, ep in EPOCH_RECIPE.items():
        whole, frac_k = int(ep), round((ep - int(ep)) * 1000)
        base = F.when(F.col("source") == src, whole).otherwise(base)
        thresh = F.when(F.col("source") == src, frac_k).otherwise(thresh)
        epochs = F.when(F.col("source") == src, ep).otherwise(epochs)
    hash1000 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
    ).cast("long") % 1000
    return docs.select(
        "doc_id",
        "source",
        epochs.alias("epochs"),
        (
            base + (hash1000 < thresh).cast("int")
        ).cast("int").alias("n_repeats"),
    )


def training_shard_manifest(
    spark: SparkSession, sf_dir: str, n_shards: int = TRAINING_SHARDS
) -> DataFrame:
    """Shard MANIFEST for the deterministic pre-training shuffle: per
    shard, the doc count, token volume, and a content fingerprint —
    md5 over the shard's doc_ids in ``pos_in_shard`` order — the artifact
    a training job validates its ingest against (a reader that saw a
    different doc set, order, or count hashes differently).  Ships next
    to :func:`training_shard_assignment` the way a tokenizer ships its
    vocab next to the merge table.

    Plan: the assignment's per-shard window feeds an ordered
    ``collect_list`` per shard — each list is corpus/n_shards ids (the
    manifest is per-SHARD, so the aggregation state is the shard's id
    list, the same order of memory a shard file's footer index costs);
    token counts ride the same doc-grain join.
    """
    from .chunking import TOKEN_PATTERN

    assign = training_shard_assignment(spark, sf_dir, n_shards)
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(TOKEN_PATTERN), 0
            )
        ).alias("n_tokens"),
    )
    return (
        assign.join(toks, "doc_id")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.expr(
                        "transform(array_sort(collect_list("
                        "struct(pos_in_shard, doc_id))), x -> x.doc_id)"
                    ),
                )
            ).alias("content_fingerprint"),
        )
        .orderBy("shard")
    )


def stratified_fixed_n_sample(
    spark: SparkSession, sf_dir: str, n_per_stratum: int = 40
) -> DataFrame:
    """Exactly-N-per-stratum sampling ("1000 docs per language"): rank each
    language's docs by the seedless md5 hash of doc_id and keep the first
    N — deterministic, repartition-stable, and exact where the rate-based
    :func:`stratified_sample` is only expected-size.

    One window per stratum (row_number over hash order).  Strata are few
    and large, so each stratum's sort runs on one partition's worth of
    rank state — at 100 TB corpus scale prefer the two-phase variant:
    approx_percentile over the hash to find the Nth-hash cutoff, then a
    stateless filter (same shape as q2_spend_deciles_scalable).  Both
    produce the same set when hashes are unique (md5 over distinct ids).
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h)
    return (
        docs.select("doc_id", "lang", h.alias("pick_hash"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= n_per_stratum)
        .select(
            "doc_id", "lang", F.col("rk").cast("int").alias("rk")
        )
    )


def language_mixture_temperature_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-scaled language rebalancing (α = 0.5) — the multilingual
    pretraining standard: resample so the language mixture follows
    p_l^α / Σ p_m^α instead of the raw token shares p_l, boosting
    low-resource languages without discarding high-resource ones entirely
    (the sampling scheme popularized by multilingual-BERT/XLM-style
    recipes).  Downsampling-only spelling: language l keeps documents at
    rate r_l = sqrt(min_tokens / tokens_l), so the RAREST language keeps
    everything and a language with 4× the tokens keeps half — exactly the
    α = 0.5 mixture after normalization.

    Determinism discipline: rates materialize as integer per-10k
    thresholds (floor(r·10000 + 1e-6)) compared against the seedless
    md5(doc_id) mod 10000 hash — all-integer keep decisions, reproducible
    across runs/engines/partitionings (sqrt is IEEE-correctly-rounded in
    both engines, so the threshold itself is bit-identical).  Plan: one
    scan for per-language token totals (map-side combinable), a
    LANGUAGE-grain rate table (bounded by the ISO code space → broadcast
    is provably safe), one scan for the keep filter.  At 100 TB both scans
    parallelize perfectly and nothing corpus-sized shuffles.

    The language-grain totals frame has TWO consumers (the min_tokens
    scalar and the rate crossJoin), so it is pinned
    (the corpus.py:260 "N consumers, one scan" convention) — the unpinned
    plan re-executed the corpus-sized totals pass per consumer (3 parquet
    scans; one needless full-corpus pass at 100 TB).  Post-pin the
    returned plan carries exactly ONE file scan, the keep filter's
    (test_llm_ops plan pin)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(_tokens_col()).alias("n_tokens")
    )
    lang_tokens = (
        docs.groupBy("lang")
        .agg(F.sum("n_tokens").alias("lang_tokens"))
        .transform(pin)
    )
    min_toks = lang_tokens.agg(F.min("lang_tokens").alias("min_tokens"))
    lang_rates = (
        lang_tokens.crossJoin(F.broadcast(min_toks))
        .select(
            "lang",
            # greatest(…, 1): a zero-token language (possible only on
            # degenerate inputs) must not divide by zero — both engines
            # would otherwise produce inf and diverge on the int cast.
            F.floor(
                F.sqrt(
                    F.col("min_tokens").cast("double")
                    / F.greatest(F.col("lang_tokens"), F.lit(1)).cast("double")
                )
                * 10000
                + F.lit(1e-6)
            )
            .cast("int")
            .alias("rate_10k"),
        )
    )
    hash10k = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
    ).cast("long") % 10000
    return (
        docs.join(F.broadcast(lang_rates), "lang")
        .withColumn("keep_hash", hash10k.cast("int"))
        .filter(F.col("keep_hash") < F.col("rate_10k"))
        .select("doc_id", "lang", "rate_10k", "keep_hash")
    )


#: Fixed logistic-regression weights for the model-based quality filter.
#: The coefficients are hand-set over the four extracted features (the
#: shape CCNet / LLaMA-style pipelines learn with a fastText classifier
#: trained on a reference corpus); calibrated so the testdata splits
#: roughly in half instead of saturating.  Deterministic literals — no
#: model artifact to load, so the score is reproducible across engines.
CLASSIFIER_BIAS = -8.0
CLASSIFIER_WEIGHTS = {
    # least(word_count / 100, 1): length prior, saturating
    "len_norm": 6.0,
    "avg_word_len": 0.5,
    "stopword_ratio": 8.0,
    "alpha_ratio": 2.0,
}
CLASSIFIER_KEEP_THRESHOLD = 0.5


def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: a logistic model over the
    :func:`quality_scores` features — the Spark-side analog of the
    fastText/CCNet "looks like reference text" classifier gate that
    LLaMA-style pipelines run after the heuristic filters.

    The dot product + sigmoid are one codegen projection over the feature
    extraction (itself expression-only), so the gate runs at scan speed
    over 100 TB with zero Python and no model-artifact distribution
    problem: the weights ARE the plan.  Scoring uses the 4dp-ROUNDED
    feature columns so the cross-engine float surface is the rounded
    values, not raw aggregates; ``keep`` compares the rounded probability,
    so both engines gate on the identical number.
    """
    return classify_documents(quality_scores(spark, sf_dir))


def classify_documents(feats: DataFrame) -> DataFrame:
    """The classifier projection over a :func:`quality_features` frame —
    stateless, so it applies unchanged to a STREAMING documents source
    (parity with the batch path is test-pinned)."""
    w = CLASSIFIER_WEIGHTS
    logit = (
        F.lit(CLASSIFIER_BIAS)
        + F.least(F.col("word_count") / 100.0, F.lit(1.0)) * w["len_norm"]
        + F.col("avg_word_len") * w["avg_word_len"]
        + F.col("stopword_ratio") * w["stopword_ratio"]
        + F.col("alpha_ratio") * w["alpha_ratio"]
    )
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)) + F.lit(1e-8), 4)
    return feats.select(
        "doc_id",
        "word_count",
        prob.alias("model_score"),
        (prob >= CLASSIFIER_KEEP_THRESHOLD).alias("keep"),
    )


def language_mislabel_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source metadata-integrity audit: compare the content-derived
    language prediction (:func:`predict_language`) against the DECLARED
    ``lang`` column and report each source's disagreement rate — the
    drop-this-source signal real curation runs on (crawl sources with
    systematically wrong language metadata poison a multilingual mixture;
    cf. the declared-vs-detected audits in CCNet/OSCAR-style pipelines).

    ``n_decided`` counts docs where the heuristic produced a prediction at
    all ('und' abstentions are excluded from the rate so marker-free text
    cannot masquerade as mislabeled).  Plan shape: prediction and declared
    label come out of ONE scan (predict_language is a stateless projection
    over the same rows — no doc_id self-join), then a single agg shuffle
    on the low-cardinality source key.  At 100 TB this is scan +
    map-side-combined aggregation; nothing else.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    # keep= carries lang/source through the prediction projection — one
    # scan, no doc_id re-join, and exactly ONE copy of the argmax/tiebreak
    # logic (predict_language), which the _lang_id_sql oracle mirrors.
    d = predict_language(docs, keep=("lang", "source")).select(
        "source", "lang", "pred_lang"
    )
    decided = F.col("pred_lang") != "und"
    mismatch = decided & (F.col("pred_lang") != F.col("lang"))
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum(decided.cast("int")).cast("int").alias("n_decided"),
            F.sum(mismatch.cast("int")).cast("int").alias("n_mismatch"),
        )
        .withColumn(
            "mismatch_rate",
            F.round(
                F.col("n_mismatch") / F.greatest(F.col("n_decided"), F.lit(1))
                + F.lit(1e-8),
                4,
            ),
        )
        .orderBy("source")
    )


def source_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus report card — the dashboard a curation run reads
    before deciding per-source mixture weights: document count, total
    token volume, mean quality score, and the exact-duplicate rate
    (fraction of the source's docs whose normalized-text fingerprint
    appears more than once ANYWHERE in the corpus — cross-source copies
    count against both sources).

    Plan shape at 100 TB: ONE scan computes fingerprint + quality features
    together (``quality_features(keep=...)`` carries source/fingerprint
    through the projection — no doc_id re-join), and the enriched frame is
    checkpointed so the dup screen and its rejoin reuse the materialized
    rows instead of re-scanning; the duplicate flag needs one shuffle on
    the 128-bit fingerprint (groupBy count, then the flags rejoin on the
    SAME fingerprint key, so AQE reuses the exchange); the final
    per-source rollup map-side combines to |sources| rows.  Plan-guarded:
    a single parquet scan in the whole tree.
    """
    docs = load_table(spark, sf_dir, "documents")
    enriched = quality_features(
        docs.withColumn("fingerprint", F.md5(normalized_text(F.col("text")))),
        keep=("source", "fingerprint"),
    ).select(
        "doc_id", "source", "fingerprint", "word_count", "quality_score"
    ).transform(pin)
    dup_counts = enriched.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("n_copies")
    )
    flagged = enriched.join(dup_counts, "fingerprint").withColumn(
        "is_dup", F.col("n_copies") > 1
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum("word_count").cast("bigint").alias("total_tokens"),
            F.round(F.avg("quality_score") + F.lit(1e-8), 4).alias("avg_quality"),
            F.sum(F.col("is_dup").cast("int")).cast("int").alias("n_dup_docs"),
        )
        .withColumn(
            "dup_rate",
            F.round(F.col("n_dup_docs") / F.col("n_docs") + F.lit(1e-8), 4),
        )
        .orderBy("source")
    )


def quality_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE quality calibration: each document's quality quartile
    WITHIN its own source — the rank normalization that makes scores
    comparable across sources before mixture weighting (a heuristic
    scorer drifts by domain: 0.6 from a clean-prose source and 0.6 from
    a forum dump are not the same quality; what transfers is the
    within-source rank).

    The global :func:`~..operators.corpus.difficulty_bins` answers "how
    hard/clean overall"; this answers "top quarter OF ITS SOURCE".  Same
    scalable-cutpoint discipline, grouped: per-source quartile arrays
    from ONE groupBy-percentile aggregate (|sources| rows, broadcastable
    join back), then the stateless cuts<value count — no per-source
    window, no global sort.

    ``feats`` has TWO consumers (the cutpoint aggregate and the join
    back), and each re-ran the full text scan + feature expressions
    unpinned — the round-17 census caught 2 documents scans.  The
    pinned frame is the narrow (doc_id, source, quality_score)
    projection, ~20 B/doc: 20 bytes/doc buys back a full corpus text
    pass.
    """
    feats = (
        quality_features(
            load_table(spark, sf_dir, "documents"), keep=("source",)
        )
        .select("doc_id", "source", "quality_score")
        .transform(pin)
    )
    cuts = feats.groupBy("source").agg(
        F.expr(
            "transform(percentile(quality_score, array(0.25D, 0.5D, 0.75D)),"
            " c -> round(c + 1e-8, 4))"
        ).alias("qcuts")
    )
    return (
        feats.join(cuts, "source")
        .select(
            "doc_id",
            "source",
            "quality_score",
            F.expr(
                "CAST(1 + size(filter(qcuts, c -> c < quality_score)) AS INT)"
            ).alias("source_quartile"),
        )
        .orderBy("doc_id")
    )
