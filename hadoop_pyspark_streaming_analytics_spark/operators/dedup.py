"""Deduplication operators for LLM training-data pipelines (BASELINE.json
north star; beyond the reference's own surface).

Four tiers, each a pure DataFrame composition (no Python in the hot path):

1. exact:       content fingerprint (md5 of normalized text) → hash groupBy.
2. n-gram Jaccard: shingle → inverted-index self-join → exact similarity.
                Quadratic in the candidate set — the CORRECTNESS baseline.
3. MinHash+LSH: shingle → K minhashes → band buckets → bucket join.
                The 100 TB path: candidate generation is linear in corpus
                size + bucket-local joins; no all-pairs shuffle.
4. SimHash:     per-token hash bit-votes → 16-bit fingerprint; equal
                fingerprints ≈ near-duplicates.

Determinism note: minhash/simhash are usually built on murmur-style hashes,
which differ across engines.  Here the hash primitive is md5-hex (identical
in Spark and DuckDB), with minhash taken as the LEXICOGRAPHIC min of the
salted hex digests — engine-portable, and exactly as uniform.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .text import STOP_WORDS, TOKEN_PATTERN

#: minhash signature size and LSH banding (bands * rows = num_perm).
NUM_PERM = 16
LSH_BANDS = 4
LSH_ROWS = 4


def normalized_text(col):
    """Whitespace-collapsed, lowercased, trimmed content — the canonical
    form for exact dedup."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content fingerprint: one hash-groupBy, keeping the
    smallest doc_id as canonical.  At 100 TB this is the cheapest possible
    dedup: a single shuffle on a 128-bit key."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.md5(normalized_text(F.col("text"))).alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def doc_shingles(docs: DataFrame, n: int = 3, distinct: bool = True) -> DataFrame:
    """Word n-gram shingles per document: tokenize (same tokenizer as the
    Q1 text module, q1_mapper.py:19-23), then slide an n-window by zipping
    n shifted slices of the token array and exploding.

    The obvious spelling — ``transform(sequence(0, size-n), i -> ...)`` —
    is ~10x slower: lambda higher-order functions evaluate interpreted,
    outside whole-stage codegen, and allocate an index array per row.
    slice+arrays_zip+explode stays fully codegen'd (measured 10.7s → 1.1s
    on 5k docs / 260k shingles).

    ``distinct=True`` (set semantics, a full (doc_id, shingle) shuffle) is
    required by Jaccard |A∩B|/|A∪B| arithmetic.  Consumers that are
    duplicate-INVARIANT — minhash: min over a multiset equals min over its
    set — pass ``distinct=False`` and skip that shuffle entirely; their
    own aggregation partial-aggregates map-side, so the only thing the
    distinct bought them was a second full pass over every shingle.
    """
    toks = docs.select(
        "doc_id",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), 0).alias("t"),
    ).filter(F.size("t") >= n)
    shifted = [F.expr(f"slice(t, {k + 1}, size(t) - {n - 1})") for k in range(n)]
    zipped = toks.select(
        "doc_id", F.explode(F.arrays_zip(*shifted)).alias("z")
    )
    out = zipped.select(
        "doc_id",
        F.concat_ws(" ", *[F.col(f"z.{k}") for k in range(n)]).alias("shingle"),
    )
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index self-join:
    docs sharing >= 1 shingle are candidates; |A∩B| from the join,
    |A∪B| = |A|+|B|-|A∩B|.

    The shingle self-join is the scale hazard (hot shingles fan out
    quadratically) — at 100 TB you front this with the MinHash-LSH candidate
    generator below and only Jaccard-verify the candidates.
    """
    # localCheckpoint, not .cache(): the shingle table feeds both the sizes
    # agg and the self-join, but a cache() here would outlive the query (the
    # caller never sees the handle to unpersist), accumulating storage
    # memory across repeated catalog runs in one long-lived session.
    # Checkpoint blocks are reclaimed by the ContextCleaner when the frame
    # is GC'd.
    sh = doc_shingles(load_table(spark, sf_dir, "documents"), n).localCheckpoint(
        eager=True
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    # No broadcast hints: ``sizes`` is one row per document — billions of
    # rows on a 100 TB corpus, never broadcastable.  A hard-coded hint
    # overrides AQE's size-based fallback and OOMs instead of degrading to
    # a shuffle join; AQE still picks broadcast at runtime when the
    # aggregate is genuinely small (same policy as temporal.funnel/cohort).
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("intersection")
                / (F.col("size_a") + F.col("size_b") - F.col("intersection"))
                + F.lit(1e-8),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "intersection", "size_a", "size_b", "jaccard")
    )


def minhash_signatures(shingles: DataFrame, num_perm: int = NUM_PERM) -> DataFrame:
    """K minhashes per doc in ONE aggregation: permutation k is simulated by
    salting the shingle with k before hashing; the minhash is the
    lexicographic min of the salted md5 digests."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{k}|"), F.col("shingle")))).alias(f"mh_{k}")
        for k in range(num_perm)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def lsh_band_buckets(
    docs: DataFrame,
    n: int = 3,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> DataFrame:
    """(doc_id, band_id, band_hash) LSH bucket memberships for a batch of
    (doc_id, text) docs: shingle → minhash signature → per-band digest.
    Shared by the batch candidate generator below and the streaming
    ingest dedup (streaming/extensions.py) — the band store IS the
    streaming dedup state."""
    sigs = minhash_signatures(
        doc_shingles(docs, n, distinct=False), bands * rows
    )
    return band_buckets_from_sigs(sigs, bands, rows)


def band_buckets_from_sigs(
    sigs: DataFrame, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> DataFrame:
    """The banding step alone, over a precomputed signature table —
    consumers that need signatures AND buckets (the estimator below)
    compute sigs once and derive both, instead of re-scanning."""
    band_cols = []
    for b in range(bands):
        members = [F.col(f"mh_{b * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(F.concat_ws("|", *members)).alias("band_hash"),
            )
        )
    return sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band")
    ).select(
        "doc_id",
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_hash").alias("band_hash"),
    )


def minhash_lsh_candidates(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs — the sub-quadratic 100 TB path.

    signature → ``bands`` band digests (md5 of ``rows`` concatenated
    minhashes) → explode to (band_id, band_hash, doc_id) → docs sharing a
    bucket pair up.  With 4x4 banding, pairs at Jaccard ~0.5+ are caught
    with high probability while unrelated docs almost never collide, so the
    bucket join is tiny even at corpus scale.
    """
    # Round-17 census fix (staged on r17-prep): candidates_from_buckets'
    # symmetric self-join consumes ``buckets`` on both sides, and
    # unpinned each side re-ran the whole shingle -> minhash -> banding
    # subtree — two full documents scans plus a duplicate signature
    # computation for every batch consumer of this generator.  The
    # bucket frame is the (doc_id, band_id, band_hash) proxy —
    # bands x corpus rows of ~50 bytes, no text payload (the
    # embedding_near_duplicates_lsh signature-pin trade); pinned, the
    # signature pass runs exactly once.
    buckets = lsh_band_buckets(
        load_table(spark, sf_dir, "documents"), n, bands, rows
    ).localCheckpoint(eager=True)
    return candidates_from_buckets(buckets)


def candidates_from_buckets(
    probe: DataFrame, all_buckets: DataFrame | None = None
) -> DataFrame:
    """Bucket-join candidate pairs: docs sharing a (band_id, band_hash)
    bucket, normalized to ``doc_a < doc_b``.  With one argument it is the
    symmetric self-join (batch dedup); with two, the left side PROBES the
    right (the incremental-ingest / streaming-band-store shape — old×old
    pairs never form).  The ONE copy of the pair-formation rule."""
    x = probe.alias("x")
    if all_buckets is None:
        # symmetric self-join: the < filter emits each colliding pair
        # ONCE (m*(m-1)/2 rows per m-doc bucket), where != plus
        # least/greatest would emit both orientations and double the
        # pre-distinct shuffle on exactly the hot boilerplate buckets
        y = probe.alias("y")
        return (
            x.join(y, on=["band_id", "band_hash"])
            .filter(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(
                F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
            )
            .distinct()
        )
    y = all_buckets.alias("y")
    return (
        x.join(y, on=["band_id", "band_hash"])
        .filter(F.col("x.doc_id") != F.col("y.doc_id"))
        .select(
            F.least(F.col("x.doc_id"), F.col("y.doc_id")).alias("doc_a"),
            F.greatest(F.col("x.doc_id"), F.col("y.doc_id")).alias("doc_b"),
        )
        .distinct()
    )


def candidate_jaccard(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for CANDIDATE pairs only (gated — never
    all-pairs): intersection via the candidate-keyed shingle joins
    (left-joined so zero-overlap band collisions score 0), sizes inner-
    joined, and the 4dp (+1e-8) round — the ONE copy of the load-bearing
    float policy for candidate-gated verification.  Returns
    (doc_a, doc_b, jaccard)."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    return (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.coalesce(F.col("intersection"), F.lit(0))
                / (
                    F.col("size_a")
                    + F.col("size_b")
                    - F.coalesce(F.col("intersection"), F.lit(0))
                )
                + F.lit(1e-8),
                4,
            ).alias("jaccard"),
        )
    )


def connected_components(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_iter: int = 25
) -> DataFrame:
    """Connected components over an undirected edge list via iterative
    min-label propagation: every node starts labeled with itself; each round
    every node takes the min label among itself and its neighbors; fixpoint
    = components, labeled by their smallest member.

    Returns (node, component) for every node that appears in ``edges``;
    raises ``RuntimeError`` when ``max_iter`` rounds reach no fixpoint.

    Scale notes (this is an iterative algorithm — the driver loop is
    orchestration only; every round is a distributed join + groupBy):

    * Rounds needed = graph diameter.  Near-dup clusters are dense and tiny
      (diameter ~1-2), so this converges in 2-3 rounds regardless of corpus
      size.  For adversarial long-chain graphs use the large-star/small-star
      alternation (Kiveris et al., "Connected Components in MapReduce and
      Beyond", SoCC'14) which converges in O(log^2 n) rounds; not needed for
      dedup workloads.
    * ``localCheckpoint(eager=True)`` per round truncates lineage — without
      it round k replays rounds 1..k-1 and the plan grows exponentially.
    * Convergence probe: min-propagation is MONOTONE (labels only ever
      decrease), so fixpoint ⟺ sum(component) unchanged — one scalar agg
      over the just-checkpointed frame instead of a self-join diff.
    """
    # Materialize the symmetrized edge list ONCE — it is re-joined every
    # round, and without this the whole upstream plan (for dedup: the
    # entire shingle→minhash→LSH pipeline) would replay per round.
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("component")).first()[0]
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.u == labels.node)
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("component").alias("component"))
        )
        labels = (
            labels.union(neighbor_min)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        new_sum = labels.agg(F.sum("component")).first()[0]
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # Diameter > max_iter would silently return WRONG labels.
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} rounds "
            "(graph diameter exceeds max_iter). "
            "Raise max_iter or use large-star/small-star for deep graphs."
        )
    return labels


def duplicate_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve MinHash-LSH candidate pairs into duplicate CLUSTERS:
    (doc_id, component) where component = smallest doc_id in the cluster.
    Docs with no near-duplicate candidate don't appear (they are their own
    singleton cluster implicitly).

    This is the step the pairwise dedup queries stop short of: A~B and B~C
    must collapse to one cluster {A,B,C} even when A~C was never a
    candidate pair (transitivity), which no per-pair filter can do.
    """
    edges = minhash_lsh_candidates(spark, sf_dir)
    comp = connected_components(edges)
    return comp.select(F.col("node").alias("doc_id"), "component")


def keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's end product: the surviving corpus — every doc
    that is either untouched by near-dup clustering or the canonical
    (smallest-id) member of its cluster.

    No broadcast hint on the cluster map: it holds every doc that has a
    near-dup candidate pair, which on a web crawl is 30-50% of the corpus —
    corpus-proportional, not a dimension table.  A hard-coded hint would
    OOM at 100 TB instead of degrading; AQE converts the join to broadcast
    at runtime when the map is genuinely small.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    comp = duplicate_components(spark, sf_dir)
    return (
        docs.join(comp, "doc_id", "left")
        .filter(F.col("component").isNull() | (F.col("component") == F.col("doc_id")))
        .select("doc_id")
    )


def simhash_fingerprints(spark: SparkSession, sf_dir: str, bits: int = 16) -> DataFrame:
    """Per-document SimHash: each token votes its md5 bits (+1/-1); the
    sign of each bit-sum forms the fingerprint.  Near-duplicate documents
    land on nearby (often equal) fingerprints.

    Bit j is read from md5 nibble j (low bit) — portable across engines.
    One explode + one groupBy with ``bits`` conditional sums; stop words are
    excluded like all text stats (q1_mapper.py:11).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), 0)
        ).alias("word"),
    ).filter(~F.col("word").isin(*STOP_WORDS))
    hashed = toks.withColumn("h", F.md5("word"))
    odd_nibbles = ("1", "3", "5", "7", "9", "b", "d", "f")
    bit_votes = [
        F.sum(
            F.when(F.substring("h", j + 1, 1).isin(*odd_nibbles), 1).otherwise(-1)
        ).alias(f"v_{j}")
        for j in range(bits)
    ]
    votes = hashed.groupBy("doc_id").agg(*bit_votes)
    fp = F.lit(0).cast("long")
    for j in range(bits):
        fp = fp + F.when(F.col(f"v_{j}") > 0, F.lit(1 << j)).otherwise(0)
    return votes.select("doc_id", fp.alias("simhash"))


def edit_distance_verify(
    spark: SparkSession, sf_dir: str, max_ratio: float = 0.2
) -> DataFrame:
    """Edit-distance verification of the LSH candidate pairs — the third
    verification signal next to exact Jaccard and embedding cosine:
    normalized Levenshtein over the (already tiny) candidate set, keeping
    pairs whose distance is at most ``max_ratio`` of the longer text.

    Scale shape: Levenshtein is O(len_a x len_b) PER PAIR, so it must
    never run all-pairs — here it runs only on LSH candidates (bucketed
    generation, corpus-size-independent pair count).  Text re-attach
    (round-15 census fix): the corpus is scanned ONCE for the DISTINCT
    candidate-doc id set, and that candidate-bounded (id, text) frame is
    checkpoint-pinned and joined twice — the unpinned two-direct-join
    spelling read the heavy text column in two full corpus scans AND
    re-executed the LSH candidate subtree per consumer (4 documents
    scans total; now the LSH pipeline's own passes + one pruned text
    attach).  JVM built-in (``levenshtein``), no Python."""
    cands = minhash_lsh_candidates(spark, sf_dir).localCheckpoint(eager=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    needed = cands.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    side_texts = docs.join(needed, "doc_id").localCheckpoint(eager=True)
    paired = (
        cands.join(
            side_texts.select(
                F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a")
            ),
            "doc_a",
        )
        .join(
            side_texts.select(
                F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b")
            ),
            "doc_b",
        )
    )
    dist = F.levenshtein("text_a", "text_b")
    longest = F.greatest(F.length("text_a"), F.length("text_b"))
    return (
        paired.select(
            "doc_a",
            "doc_b",
            dist.alias("edit_distance"),
            F.round(dist / longest + F.lit(1e-8), 4).alias("edit_ratio"),
        )
        .filter(F.col("edit_ratio") <= max_ratio)
    )


def keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: within each near-dup cluster
    keep the HIGHEST-quality member (ties → smallest doc_id), not the
    smallest id — the production dedup policy (you keep the cleanest copy
    of a page, not the first-crawled one).

    Composition: components join quality scores, one row_number per
    cluster picks the winner, then the corpus anti-joins the clustered set.
    No broadcast hint on the cluster map — corpus-proportional on a real
    crawl (see :func:`keep_canonical`); AQE picks broadcast when small.
    """
    from pyspark.sql import Window

    from .quality import quality_scores

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # Round-16 census fix: ``qual`` has two consumers (the winner rank
    # and the survivor re-attach) and its subtree is a full text scan
    # plus the feature expressions — unpinned, the plan ran that pass
    # twice (3 documents scans total).  The pinned frame is the NARROW
    # (doc_id, quality_score) projection — 16 bytes/doc of executor-
    # local storage buys back a full text pass; the heavy text column
    # never enters the checkpoint.
    qual = (
        quality_scores(spark, sf_dir)
        .select("doc_id", "quality_score")
        .localCheckpoint(eager=True)
    )
    comp = duplicate_components(spark, sf_dir)
    w = Window.partitionBy("component").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    winners = (
        comp.join(qual, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(F.col("doc_id").alias("winner_id"))
    )
    clustered = comp.select("doc_id").distinct()
    return (
        docs.join(clustered, "doc_id", "left_anti")
        .unionByName(winners.select(F.col("winner_id").alias("doc_id")))
        .join(qual, "doc_id")
        .select("doc_id", "quality_score")
    )


def split_leakage_check(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.5,
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Train/val/test LEAKAGE audit: near-duplicate pairs that straddle a
    split boundary — the eval-integrity check every training pipeline
    needs (a val doc with a train near-twin inflates eval scores; the
    hash-based split prevents VERSION drift but cannot prevent two
    distinct near-dup docs from hashing into different splits).

    Composition of proven parts: MinHash-LSH candidates
    (:func:`minhash_lsh_candidates`, sub-quadratic) → exact n-gram
    Jaccard verify restricted to the candidate pairs (shingles attach
    THROUGH the small pair table — two equi-joins, never all-pairs) →
    each side's split derived directly from the md5(doc_id) bucket (same
    expression as quality.train_split_assign: splits are id-derivable, so
    no split table is stored or joined) → keep pairs with split_a !=
    split_b.  At 100 TB every stage is the LSH tier's own shape; the
    verify touches only candidate pairs.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Round-16 census fix: candidate_jaccard consumes ``cand`` twice
    # (the intersection chain + the outer left join), and the LSH
    # subtree itself scans documents twice (band self-join) — unpinned,
    # the returned plan carried FOUR documents scans.  The candidate
    # pair table is the LSH tier's own bounded output (bands cap the
    # per-bucket fan-out); pinned, the LSH pass runs once.
    cand = minhash_lsh_candidates(spark, sf_dir, n).localCheckpoint(
        eager=True
    )
    sh = doc_shingles(docs, n).localCheckpoint(eager=True)

    def split_of(col: str):
        bucket = F.conv(
            F.substring(F.md5(F.col(col).cast("string")), 1, 6), 16, 10
        ).cast("long") % 100
        return (
            F.when(bucket < train_pct, "train")
            .when(bucket < train_pct + val_pct, "val")
            .otherwise("test")
        )

    # candidate_jaccard is the ONE copy of the verify/float policy; its
    # left-joined zero-overlap candidates score 0 < threshold, so the
    # filter reproduces the old inner-join behavior exactly.
    return (
        candidate_jaccard(cand, sh)
        .filter(F.col("jaccard") >= threshold)
        .withColumn("split_a", split_of("doc_a"))
        .withColumn("split_b", split_of("doc_b"))
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "split_a", "split_b", "jaccard")
    )


def exact_substring_pairs(
    spark: SparkSession,
    sf_dir: str,
    window: int = 8,
    max_df: int = 100,
) -> DataFrame:
    """Exact-substring duplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): find document pairs
    sharing a verbatim run of >= ``window`` tokens — the signal the
    bag-of-shingles tiers (Jaccard/MinHash) cannot give, because a long
    copied span inside otherwise-different documents barely moves set
    similarity.  The paper builds a suffix array; the distributed
    re-expression is a WINDOW-HASH inverted index: every ``window``-token
    run hashes to one key, a shared key IS a shared run (md5 stands in
    for the rolling Rabin-Karp hash — same keys, engine-portable), and
    pairs aggregate per (doc_a, doc_b) with the shared-window count as
    the overlap-length proxy (a run of L>=window shared tokens yields
    L-window+1 shared window hashes).

    Skew control, same policy as the TF-IDF postings cap: window hashes
    occurring in more than ``max_df`` documents are boilerplate (think
    license headers) — they would quadratically explode the
    inverted-index self-join at corpus scale, and the paper's guidance is
    that such spans get REMOVED, not pair-joined.  The cap is part of the
    operator's semantics (deterministic, mirrored by the oracle), not a
    sampling shortcut.

    Plan shape at 100 TB: windows are codegen (``transform`` + ``slice``
    over the token array, DISTINCT per doc); the df filter is one
    map-side-combinable aggregate over the window key; the pair join is
    bucket-local per window hash with per-key fan-out bounded by
    ``max_df``.  No all-pairs stage anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0).alias("t"),
    ).filter(F.size("t") >= window)
    wins = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {window} + 1),"
                    f" i -> md5(array_join(slice(t, i, {window}), ' ')))"
                )
            ).alias("h"),
        )
        .distinct()
        # feeds the df screen AND both sides of the pair join
        .localCheckpoint(eager=True)
    )
    rare = wins.groupBy("h").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= max_df
    )
    keyed = wins.join(rare.select("h"), "h")
    a = keyed.select(F.col("h"), F.col("doc_id").alias("doc_a"))
    b = keyed.select(F.col("h"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("int").alias("shared_windows"))
    )


def minhash_estimate_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> DataFrame:
    """Signature-space Jaccard ESTIMATION for every LSH candidate pair —
    est = (matching minhash components)/num_perm — side by side with the
    exact shingle-set Jaccard and the absolute estimation error.

    This is the triage step production dedup actually ships: at corpus
    scale you cannot afford exact Jaccard on every candidate, so pairs are
    ranked/thresholded on the signature estimate (16 column equality
    checks over data already materialized by the LSH build) and only the
    band near the decision threshold pays for exact verification.  The
    exact column here doubles as the estimator's own calibration report:
    E[est] = J by the minhash property, so persistent |err| skew flags a
    broken hash family.

    Plan shape: ONE documents scan feeds everything — the raw shingles
    are checkpointed, the signature table derives from them once (also
    checkpointed: it feeds both the band buckets and the estimate joins),
    the candidate pairs come from :func:`band_buckets_from_sigs` over
    that same signature table, and the exact verify reuses the
    checkpointed shingles (distinct is duplicate-free already at the
    multiset level after ``.distinct()``, no re-tokenize).  The exact
    verify is candidate-gated exactly like :func:`edit_distance_verify`
    — no all-pairs stage anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    num_perm = bands * rows
    sh_raw = doc_shingles(docs, n, distinct=False).localCheckpoint(eager=True)
    sigs = minhash_signatures(sh_raw, num_perm).localCheckpoint(eager=True)
    # Round-17: ``cand`` has THREE consumers below (the estimate join
    # chain + candidate_jaccard's intersection build + its left-join
    # base), and unpinned each re-ran the band digest + self-join +
    # distinct over the pinned signatures — no extra scans (the scan
    # census is blind to it) but 3x the LSH candidate-generation
    # shuffle per action.  Pair-grain, LSH-collision bounded — a
    # Tier-1 pin (SCALE.md "Checkpoint durability policy").
    cand = candidates_from_buckets(
        band_buckets_from_sigs(sigs, bands, rows)
    ).localCheckpoint(eager=True)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{k}").alias(f"a_{k}") for k in range(num_perm)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{k}").alias(f"b_{k}") for k in range(num_perm)],
    )
    n_matches = sum(
        (F.col(f"a_{k}") == F.col(f"b_{k}")).cast("int") for k in range(num_perm)
    )
    est = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(n_matches / F.lit(float(num_perm)) + F.lit(1e-8), 4).alias(
                "est_jaccard"
            ),
        )
    )
    exact = candidate_jaccard(cand, sh_raw.distinct())
    return (
        est.join(exact, ["doc_a", "doc_b"])
        .withColumn(
            "abs_err",
            F.round(
                F.abs(F.col("est_jaccard") - F.col("jaccard")) + F.lit(1e-8), 4
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


def cross_source_matrix(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5
) -> DataFrame:
    """Inter-source duplication matrix: verified near-dup pairs (LSH
    candidates whose exact Jaccard clears ``threshold``) rolled up by
    UNORDERED source pair — which sources copy each other, and how hard.
    The audit that catches mirror/aggregator crawl sources (mass
    cross-source duplication) before mixture weights are set; the
    diagonal (source_lo == source_hi) is each source's internal near-dup
    load.

    Composes :func:`minhash_estimate_pairs` (already candidate-gated, no
    all-pairs stage); the rollup adds two doc_id-keyed attach joins of the
    (doc_id, source) slice and one aggregation to |sources|² rows at most
    — nothing here grows faster than the verified-pair count.
    """
    pairs = minhash_estimate_pairs(spark, sf_dir).filter(
        F.col("jaccard") >= threshold
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    p = pairs.join(
        docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")),
        "doc_a",
    ).join(
        docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")),
        "doc_b",
    )
    return (
        p.select(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
            "jaccard",
        )
        .groupBy("source_lo", "source_hi")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_pairs"),
            F.round(F.avg("jaccard") + F.lit(1e-8), 4).alias("avg_jaccard"),
        )
        .orderBy("source_lo", "source_hi")
    )


#: Incremental-ingest defaults, shared with the catalog oracle builder so
#: engine default and oracle cannot silently diverge (ADVICE r5).
INGEST_NEW_MOD = 10
INGEST_NEW_MIN = 8
INGEST_THRESHOLD = 0.5


def incremental_ingest(
    spark: SparkSession,
    sf_dir: str,
    new_mod: int = INGEST_NEW_MOD,
    new_min: int = INGEST_NEW_MIN,
    n: int = 3,
    threshold: float = INGEST_THRESHOLD,
) -> DataFrame:
    """Batch incremental-ingest gate: treat docs with
    ``doc_id % new_mod >= new_min`` as TODAY'S CRAWL and the rest as the
    EXISTING corpus, and decide keep/drop for every new doc — dropped iff
    it exact-matches (normalized-text fingerprint) or near-dup-matches
    (LSH candidate verified at Jaccard >= threshold) any EXISTING doc or
    any earlier NEW doc.  This is the batch spelling — with a DuckDB
    oracle — of the semantics the streaming LSH dedup
    (streaming/extensions.py) applies per micro-batch, so the
    incremental-dedup rule itself gets a hard differential signal.

    Priority is the single bigint ``is_new * 10^12 + doc_id``: existing
    docs always outrank new ones, earlier new docs outrank later — the
    deterministic survivor rule (keep_canonical's min-id discipline,
    extended with the old-before-new tier).  A doc dropped against a
    partner that is itself dropped stays dropped (the chain's minimum is
    retained — same fixpoint as min-of-cluster canonical keep on
    pairwise-verified chains).

    Plan shape at 100 TB: two text passes over documents, each run once
    behind an eager checkpoint (the shingle pass feeding the signature
    chain, and the narrow fingerprint/priority frame every id-grain
    consumer reads — round-16 census fix; unpinned the plan carried
    seven scans); candidate generation probes the band index WITH THE
    NEW DOCS ONLY (newb ⋈ all-bands — the batch analogue of the
    streaming band store: old×old pairs are never formed); exact tier
    is one fingerprint shuffle; verification is candidate-gated.
    """
    docs = load_table(spark, sf_dir, "documents")
    prio_col = (
        (F.pmod(F.col("doc_id"), F.lit(new_mod)) >= new_min).cast("bigint")
        * F.lit(1_000_000_000_000).cast("bigint")
        + F.col("doc_id")
    )
    base = docs.select(
        "doc_id",
        "text",
        (F.pmod(F.col("doc_id"), F.lit(new_mod)) >= new_min)
        .cast("int")
        .alias("is_new"),
        prio_col.alias("prio"),
    )
    # --- exact tier: one shuffle on the fingerprint ---
    # Round-16 census fix: ``fp`` feeds both the per-fingerprint min and
    # the drop join, and every id-grain probe downstream (new-doc ids,
    # the priority attaches, the final keep/drop spine) re-derived
    # ``base`` from the parquet — SEVEN documents scans, two of them
    # full text passes.  The narrow (doc_id, is_new, prio, fingerprint)
    # frame is checkpointed once (the heavy text column never enters
    # it) and every id-grain consumer below reads it instead of the
    # source: exactly TWO text passes remain (this fingerprint pass +
    # the checkpointed shingle pass), nothing else touches parquet.
    fp = base.select(
        "doc_id",
        "is_new",
        "prio",
        F.md5(normalized_text(F.col("text"))).alias("fingerprint"),
    ).localCheckpoint(eager=True)
    fmin = fp.groupBy("fingerprint").agg(F.min("prio").alias("min_prio"))
    exact_dropped = (
        fp.join(fmin, "fingerprint")
        .filter((F.col("is_new") == 1) & (F.col("min_prio") < F.col("prio")))
        .select("doc_id")
        .distinct()
    )
    # --- near-dup tier: new docs probe the band index ---
    sh_raw = doc_shingles(docs, n, distinct=False).localCheckpoint(eager=True)
    sigs = minhash_signatures(sh_raw, LSH_BANDS * LSH_ROWS).localCheckpoint(
        eager=True
    )
    buckets = band_buckets_from_sigs(sigs)
    new_ids = fp.filter(F.col("is_new") == 1).select("doc_id")
    newb = buckets.join(new_ids, "doc_id")
    cand = candidates_from_buckets(newb, buckets)
    ver = (
        candidate_jaccard(cand, sh_raw.distinct())
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b")
    )
    prios = fp.select("doc_id", "is_new", "prio")
    near_dropped = (
        ver.join(
            prios.select(
                F.col("doc_id").alias("doc_a"),
                F.col("is_new").alias("new_a"),
                F.col("prio").alias("prio_a"),
            ),
            "doc_a",
        )
        .join(
            prios.select(
                F.col("doc_id").alias("doc_b"),
                F.col("is_new").alias("new_b"),
                F.col("prio").alias("prio_b"),
            ),
            "doc_b",
        )
        .select(
            F.when(F.col("prio_a") < F.col("prio_b"), F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("doc_id"),
            F.when(F.col("prio_a") < F.col("prio_b"), F.col("new_b"))
            .otherwise(F.col("new_a"))
            .alias("victim_new"),
        )
        .filter(F.col("victim_new") == 1)
        .select("doc_id")
        .distinct()
    )
    return (
        fp.filter(F.col("is_new") == 1)
        .join(exact_dropped.withColumn("is_exact", F.lit(1)), "doc_id", "left")
        .join(near_dropped.withColumn("is_near", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            (F.col("is_exact").isNull() & F.col("is_near").isNull()).alias("keep"),
            F.when(F.col("is_exact").isNotNull(), F.lit("exact"))
            .when(F.col("is_near").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("unique"))
            .alias("reason"),
        )
        .orderBy("doc_id")
    )


def cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup IMPACT report: the distribution of duplicate-cluster sizes —
    how many clusters of 2, of 3, ... and how many documents each size
    class ties up.  The first chart a dedup run is judged by (a fat tail
    of giant clusters usually means boilerplate/template contamination,
    not true duplicates — cross-check corpus_boilerplate_ngrams).

    Composes :func:`duplicate_components`; the rollup is two tiny
    aggregations past the components fixpoint (cluster count is bounded
    by the duplicate count, << corpus).
    """
    comp = duplicate_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("int").alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("int").alias("cluster_size"),
            "n_clusters",
            # bigint: size*count exceeds int32 on a multi-billion-doc
            # corpus with a heavy dup rate (Spark's non-ANSI int cast
            # would wrap silently; DuckDB's would error)
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


def containment_pairs_from_shingles(
    sh: DataFrame, df_cap: int = 5, threshold: float = 0.8
) -> DataFrame:
    """Asymmetric shingle-CONTAINMENT pairs from a distinct (doc_id,
    shingle) frame: pairs whose intersection covers >= ``threshold`` of
    the SMALLER document's shingle set.

    Why a separate operator: Jaccard |A∩B|/|A∪B| — and therefore the
    MinHash-LSH bands tuned for it — is blind to sub-document duplication.
    A short doc fully embedded in one 10x its size has containment 1.0 but
    Jaccard ~0.1: below any useful Jaccard threshold, and its LSH band
    collision probability collapses with the size ratio, so the banded
    candidate generator rarely even pairs them.  Containment needs its own
    candidate path.

    Candidate generation here is a DOCUMENT-FREQUENCY-CAPPED inverted
    index (the prefix-filtering idea from the AllPairs/PPJoin family):
    only shingles appearing in <= ``df_cap`` documents propose pairs, so
    per-shingle fan-out is <= df_cap^2 and the total candidate volume is
    bounded by df_cap x |postings| — linear in corpus size, never
    quadratic, no matter how hot the boilerplate shingles are.  Hot
    shingles still COUNT toward the intersection (scoring runs over the
    full shingle sets of candidate pairs only); they just don't propose.
    Blind spot, stated: a pair sharing ONLY above-cap shingles is never
    proposed — by construction those docs are made of boilerplate seen in
    > df_cap other docs, exactly the pairs a near-dup pass should not
    spend verification on.

    Pair-proposal spelling (round 16, guide §2.4; hot-shingle hardening
    round 17, ADVICE r16): the pairs explode map-side inside the capped
    posting lists (doc_a < doc_b), replacing the round-15 inverted-index
    SELF-JOIN — the postings table's largest shuffle — for the identical
    candidate set.  The posting lists are built in two bounded phases:
    a df COUNT (partial-aggregates in constant space per group) keeps
    only rare shingles, and collect_set runs over those rare shingles
    ONLY — so a hot boilerplate shingle present in millions of docs
    never builds an unbounded array in one aggregation buffer (the
    round-16 single-phase spelling collected the full posting list
    before its size filter: an executor-OOM/straggler hazard at the
    100 TB design point).  The arrays that exist are <= df_cap elements
    by construction, so the explode stays bounded and skew-free.

    Input precondition, load-bearing for ``df``: ``sh`` must be DISTINCT
    per (doc_id, shingle) — the doc_shingles(distinct=True) default and
    this operator's only caller — so count(*) per shingle IS the
    distinct-document frequency.  A non-distinct input would overcount
    df and silently shrink the candidate set (ADVICE r16 low item 2).
    """
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("shingle")
    )
    groups = (
        sh.join(rare, "shingle", "left_semi")
        .groupBy("shingle")
        .agg(F.collect_set("doc_id").alias("docs"))
    )
    cand = (
        groups.select(F.explode("docs").alias("doc_a"), "docs")
        .select("doc_a", F.explode("docs").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    # Same no-broadcast-hint policy as ngram_jaccard_pairs: sizes is
    # doc-grain (corpus-proportional); AQE decides.
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "size_a",
            "size_b",
            "intersection",
            F.round(
                F.col("intersection") / F.least("size_a", "size_b") + F.lit(1e-8),
                4,
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def containment_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    df_cap: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Catalog face of :func:`containment_pairs_from_shingles` over the
    documents table.  Same localCheckpoint rationale as
    ngram_jaccard_pairs: the shingle frame feeds candidate generation,
    intersection scoring, and sizes — without it the tokenize+explode
    replays three times."""
    sh = doc_shingles(load_table(spark, sf_dir, "documents"), n).localCheckpoint(
        eager=True
    )
    return containment_pairs_from_shingles(sh, df_cap, threshold)
