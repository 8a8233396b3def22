"""Similarity search over embedding columns (BASELINE.json north star).

The ``embeddings`` table carries ``embedding: array<float>`` (64-dim).
All linear algebra is JVM-side via higher-order functions
(``zip_with`` + ``aggregate``) — no Python in the scoring loop; the
Arrow-vectorized twin (:func:`cosine_arrow` / ``brute_force_topk_arrow``)
covers the numpy-kernel pattern and is parity-tested against it.

Tiers:
- brute-force cosine top-k: the exact baseline.  Query side is a handful
  of vectors → broadcast join; scoring is a single scan of the corpus.
  At 100 TB the scan parallelizes perfectly but costs O(N·Q).
- partitioned (IVF-style) top-k: restrict candidates to the query's
  cluster bucket.  Here the bucket key is the precomputed ``label``
  column (deterministic, oracle-mirrorable); a production pipeline would
  assign buckets with k-means centroids — same join shape.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import pin
from ..sources.readers import load_table

# Ship Python-worker closures by VALUE (see operators/multimodal.py): a
# driver outside the repo cwd has no package on executor sys.path, and
# by-reference pickling of module-level helpers would break there.
try:  # pragma: no cover - depends on pyspark's vendored cloudpickle
    import sys as _sys

    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(_sys.modules[__name__])
except Exception:
    pass


#: SQL expression templates (shared by builders; the DuckDB oracles use
#: an explicit dot/nullif(norm) spelling that computes the same
#: double-precision value AND the same degenerate-row semantics).
_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (acc, v) -> acc + v)"
_NORM = "sqrt(aggregate(transform({v}, x -> CAST(x AS DOUBLE) * x), 0D, (acc, v) -> acc + v))"


def cosine_expr(a: str, b: str):
    """cos(a,b) as a Catalyst column over two array<float> columns.

    Degenerate rows DEGRADE PER-ROW instead of killing the job: a
    zero-norm vector makes the denominator ``nullif(norm_a*norm_b, 0)``
    NULL (never an ANSI DIVIDE_BY_ZERO), and a NULL array propagates
    NULL through ``aggregate``/``zip_with`` — so corrupt ingest scores
    NULL and sorts last under ``cosine DESC`` (Spark default NULLS
    LAST), while a NaN would have sorted FIRST (Spark treats NaN as
    greater than any double).  The unit-norm contract is still pinned
    (tests/test_llm_ops.py) and ``embedding_norm_audit`` remains the
    operational pre-gate; this is the 100 TB default: one bad row must
    not abort a thousand-executor scan."""
    return F.expr(
        f"{_DOT.format(a=a, b=b)}"
        f" / nullif({_NORM.format(v=a)} * {_NORM.format(v=b)}, 0D)"
    )


@F.pandas_udf(T.DoubleType())  # DataType instance: a DDL string here would
def cosine_arrow(a: pd.Series, b: pd.Series) -> pd.Series:  # need a live session at import time
    """Arrow-vectorized cosine twin of :func:`cosine_expr`: each batch
    arrives as Series-of-ndarray, is stacked into one (batch, dim) matrix,
    and scored with BLAS-backed numpy — the pattern for math the built-in
    higher-order functions can't express (matmul, FAISS-style kernels).
    Measured at sf0.1/64-dim the two paths are within noise of each other
    (Arrow 0.74s vs JVM 0.98s warm): BLAS offsets the Arrow transfer.  The
    JVM path stays the default because it keeps Python out of the scoring
    loop entirely (no Arrow memory pressure, no worker fan-out); value
    parity is asserted in tests/test_llm_ops.py.

    float64 stacking is REQUIRED, not a nicety: the inputs are
    array<float>, and a float32 einsum accumulates ~1e-6 relative noise
    over 64 dims — the same order as semdedup's 6dp rounding half-step,
    so float32 scoring could flip a boundary pair against the
    double-precision JVM/DuckDB paths.  Casting first makes the
    accumulation double everywhere, leaving ~1e-15 disagreement.

    Degenerate rows degrade per-row with EXACT :func:`cosine_expr`
    parity: NULL vectors, zero norms, and length-mismatched pairs all
    yield a true NULL (masked Float64 batch, not NaN — Spark sorts NaN
    above every real double, so NaN would rank corrupt vectors FIRST
    under ``cosine DESC``).  Mismatched lengths mirror the JVM path's
    ``zip_with`` padding-to-NULL; equal-but-nonstandard lengths score
    normally on both paths, so the batch is stacked per distinct length
    (one einsum per length — one pass on clean fixed-dim data)."""
    la = np.array([len(x) if x is not None else -1 for x in a], dtype=np.int64)
    lb = np.array([len(x) if x is not None else -1 for x in b], dtype=np.int64)
    out = np.full(len(a), np.nan)
    valid = (la >= 0) & (la == lb)
    for n in np.unique(la[valid]):
        m = valid & (la == n)
        A = np.stack(a[m].to_numpy()).astype(np.float64, copy=False)
        B = np.stack(b[m].to_numpy()).astype(np.float64, copy=False)
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            out[m] = np.where(den == 0.0, np.nan, num / den)
    # Masked extension array → Arrow null, not float NaN.
    return pd.Series(pd.array(np.where(np.isnan(out), None, out), dtype="Float64"))


def _scored_pairs(
    emb: DataFrame, queries: DataFrame, same_label_only: bool, scorer=None
) -> DataFrame:
    """Broadcast the query vectors against the corpus and score cosine.
    ``scorer`` defaults to the JVM higher-order-function path."""
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    cond = [F.col("vec_id") != F.col("query_id")]
    joined = emb.join(F.broadcast(q), F.lit(True), "inner").filter(cond[0])
    if same_label_only:
        joined = joined.filter(F.col("label") == F.col("q_label"))
    score = scorer if scorer is not None else cosine_expr("q_emb", "embedding")
    return joined.withColumn("cosine", score)


def _topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("rnk").alias("rnk"),
            F.round(F.col("cosine") + F.lit(1e-8), 4).alias("cosine"),
        )
    )


def brute_force_topk(
    spark: SparkSession,
    sf_dir: str,
    query_ids: tuple[int, ...] = (0, 1, 2, 3, 4),
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k for a fixed query set: broadcast queries → one
    corpus scan → per-query row_number window.  The window's partition
    count equals |queries|, so the top-k shuffle is trivially small."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*query_ids))
    return _topk(_scored_pairs(emb, queries, same_label_only=False), k)


def brute_force_topk_arrow(
    spark: SparkSession,
    sf_dir: str,
    query_ids: tuple[int, ...] = (0, 1, 2, 3, 4),
    k: int = 10,
) -> DataFrame:
    """:func:`brute_force_topk` with the scoring swapped to the Arrow
    pandas_udf — same plan shape (broadcast queries, one corpus scan), the
    scan's project step round-trips batches through Python/numpy."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*query_ids))
    scored = _scored_pairs(
        emb,
        queries,
        same_label_only=False,
        scorer=cosine_arrow(F.col("q_emb"), F.col("embedding")),
    )
    return _topk(scored, k)


def partitioned_topk(
    spark: SparkSession,
    sf_dir: str,
    query_ids: tuple[int, ...] = (0, 1, 2, 3, 4),
    k: int = 10,
) -> DataFrame:
    """IVF-style top-k: candidates restricted to the query's bucket
    (``label``).  At 100 TB this is the difference between scanning the
    corpus per query and scanning one cluster per query; recall depends on
    bucket quality exactly as in IVF indexes."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*query_ids))
    return _topk(_scored_pairs(emb, queries, same_label_only=True), k)


def lowid_centroids(emb: DataFrame, k: int) -> DataFrame:
    """The deterministic IVF centroid choice — the ``k`` lowest-id vectors
    as (centroid_id, c_emb).  ONE definition shared by the assignment
    build, the index materialization (which persists it as
    ``{path}/centroids``), and every probe-side spelling, so the centroid
    init can never silently diverge between the codes layout and the
    probes that prune against it."""
    return emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )


def ivf_assign(
    spark: SparkSession, sf_dir: str, k: int = 8
) -> DataFrame:
    """IVF index BUILD: assign every vector to its nearest centroid.

    Centroids here are the ``k`` lowest-id vectors (deterministic,
    oracle-mirrorable); a production build would Lloyd-iterate — the
    assignment pass below IS the iteration's inner loop and the final
    index-partitioning step.  Shape: corpus ⨯ broadcast(centroids) scored
    JVM-side, then argmax via a map-side-combinable ``max(struct)`` — NO
    per-vector window shuffle, so the plan is one scan + one shuffle of
    (vec_id, best) pairs.  At 100 TB, write the output partitioned by
    ``centroid_id`` and ``partitioned_topk`` probes only the query's
    cluster."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = lowid_centroids(emb, k)
    scored = emb.crossJoin(F.broadcast(cents)).withColumn(
        # 6dp pre-round so float summation noise cannot flip the argmax
        # tiebreak across engines; negative id → highest cosine wins, then
        # LOWEST centroid id.
        "cos",
        F.round(cosine_expr("embedding", "c_emb") + F.lit(1e-8), 6),
    )
    best = scored.groupBy("vec_id").agg(
        F.max(
            F.struct(
                F.col("cos").alias("cos"),
                (-F.col("centroid_id")).alias("neg_id"),
            )
        ).alias("m")
    )
    # Emit the 6dp score as-is: re-rounding it to 4dp would double-round —
    # the first rounding manufactures exact .xxxx50 midpoints whose second
    # rounding is representation-sensitive and flips across engines.
    return best.select(
        "vec_id",
        (-F.col("m.neg_id")).cast("bigint").alias("centroid_id"),
        F.col("m.cos").alias("cosine"),
    )


def _assign_to_centroids(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """One Lloyd inner loop: corpus x broadcast(centroids), 6dp pre-rounded
    cosine, argmax via map-side-combinable ``max(struct)`` (highest cosine,
    then LOWEST centroid id) — identical shape and tiebreak to
    :func:`ivf_assign`, factored out so the k-means build reuses it."""
    scored = emb.crossJoin(F.broadcast(cents)).withColumn(
        "cos", F.round(cosine_expr("embedding", "c_emb") + F.lit(1e-8), 6)
    )
    best = scored.groupBy("vec_id").agg(
        F.max(
            F.struct(
                F.col("cos").alias("cos"),
                (-F.col("centroid_id")).alias("neg_id"),
            )
        ).alias("m")
    )
    return best.select(
        "vec_id",
        (-F.col("m.neg_id")).cast("bigint").alias("centroid_id"),
        F.col("m.cos").alias("cosine"),
    )


def kmeans_centroids(
    spark: SparkSession, sf_dir: str, k: int = 8, rounds: int = 2
) -> DataFrame:
    """Lloyd-iterated centroids over the embeddings corpus.

    * Init: the ``k`` vectors with the smallest md5(vec_id) digests —
      hash-sampled, deterministic, engine-portable (no RNG), and spread
      uniformly over the corpus unlike lowest-id init.
    * Each round: assign (cross join broadcast centroids, argmax — the
      :func:`ivf_assign` inner loop) then update (per-dimension mean via
      ``posexplode`` → map-side-combinable avg → rebuild array).  The
      explode shuffles (centroid_id, dim) keys — k*dim groups, tiny — and
      the corpus itself never shuffles: the wide side of every stage is a
      scan.  Centroid means are rounded to 6dp so cross-engine summation-
      order noise in the avg cannot leak into later rounds' argmax.
    * Per-round centroids are collected to the driver (k rows of dim
      doubles) and re-broadcast as literals — the standard distributed
      k-means pattern (MLlib does the same); lineage stays flat without
      checkpoints.  A cluster that loses all members drops out, exactly as
      in the SQL mirror.
    * NULL embeddings are excluded up front (mirrored in the oracle's
      CTEs): a corrupt vector can neither seed a centroid (the init
      collect would hit a None array) nor vote in the per-dim means —
      degrade-per-row, quantified separately by ``embedding_norm_audit``.
    """
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("embedding").isNotNull())
    )
    init_rows = (
        emb.withColumn("hk", F.md5(F.col("vec_id").cast("string")))
        .orderBy("hk", "vec_id")
        .limit(k)
        .select("vec_id", "embedding")
        .collect()
    )
    cent_rows = [
        (i, [float(x) for x in r["embedding"]]) for i, r in enumerate(init_rows)
    ]
    cents = spark.createDataFrame(
        cent_rows, "centroid_id int, c_emb array<double>"
    )
    for _ in range(rounds):
        assign = _assign_to_centroids(emb, cents).select("vec_id", "centroid_id")
        dims = assign.join(emb, "vec_id").select(
            "centroid_id", F.posexplode("embedding").alias("dim", "val")
        )
        mean_rows = (
            dims.groupBy("centroid_id", "dim")
            .agg(F.round(F.avg(F.col("val").cast("double")) + F.lit(1e-8), 6).alias("v"))
            .groupBy("centroid_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim"), F.col("v")))
                ).alias("dv")
            )
            .select(
                "centroid_id", F.expr("transform(dv, s -> s.v)").alias("c_emb")
            )
            .collect()
        )
        cents = spark.createDataFrame(
            [(r["centroid_id"], r["c_emb"]) for r in mean_rows],
            "centroid_id int, c_emb array<double>",
        )
    return cents


def ivf_build_kmeans(
    spark: SparkSession, sf_dir: str, k: int = 8, rounds: int = 2
) -> DataFrame:
    """IVF index build with Lloyd-iterated centroids — the production twin
    of :func:`ivf_assign` (whose fixed lowest-id "centroids" are the
    deterministic baseline).  Output: (vec_id, centroid_id, cosine) — the
    final assignment, i.e. the partition layout the stored index is written
    with.  Recall of a search probing these clusters is measured against
    brute force in tests/test_llm_ops.py."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = kmeans_centroids(spark, sf_dir, k, rounds)
    return _assign_to_centroids(emb, cents)


def ivf_search(
    spark: SparkSession,
    sf_dir: str,
    query_ids: tuple[int, ...] = (0, 1, 2, 3, 4),
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF index QUERY — the scale path ``brute_force_topk`` is the
    baseline for.  Pass ``centroids`` (centroid_id, c_emb) — e.g. from
    :func:`kmeans_centroids` — to probe a trained index; the default
    lowest-id pseudo-centroids stay as the oracle-mirrorable baseline.
    Per query: rank the ``n_centroids`` centroids by cosine,
    probe the best ``nprobe`` clusters, and score ONLY vectors assigned to
    those clusters (assignment = :func:`ivf_assign`, the index build).

    Plan shape: centroids and the probe table are tiny → both broadcast;
    the corpus is touched by exactly one scan joined to its (tiny)
    assignment map.  At 100 TB the assignment is a partition COLUMN of the
    stored index (written once by the build), so probing nprobe/n_centroids
    clusters prunes the scan itself to that fraction — the candidate join
    here is the test-scale stand-in for partition pruning.  Recall < 1.0 by
    construction: a true neighbor assigned to an unprobed cluster is missed
    — tested against the brute-force baseline.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # Round-16 census fix: the default branch built its assignment via
    # ivf_assign (which derives its OWN centroid frame) and then derived
    # a second, plan-distinct centroid frame for the probe ranking — the
    # k-row pushdown scan ran twice and nothing shared.  One checkpointed
    # k-row centroid frame now feeds both the assignment inner loop
    # (_assign_to_centroids — the identical shape/tiebreak ivf_assign
    # wraps, pytest-pinned equivalent) and the probe side.  The two FULL
    # corpus passes that remain (assignment build + candidate scoring)
    # are the IVF build+search minimum; at 100 TB the build pass is the
    # stored index write, not a per-query cost.
    if centroids is not None:
        cents = centroids
    else:
        cents = lowid_centroids(emb, n_centroids).transform(pin)
    assign = _assign_to_centroids(emb, cents).select("vec_id", "centroid_id")
    queries = emb.filter(F.col("vec_id").isin(*query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    # 6dp pre-round mirrors ivf_assign: float noise must not flip the
    # probe choice across engines.
    probe_scored = queries.crossJoin(F.broadcast(cents)).withColumn(
        "ccos", F.round(cosine_expr("q_emb", "c_emb") + F.lit(1e-8), 6)
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("centroid_id").asc()
    )
    probes = (
        probe_scored.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "centroid_id", "q_emb")
    )
    cand = (
        emb.join(assign, "vec_id")
        .join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", cosine_expr("q_emb", "embedding"))
    )
    return _topk(cand, k)


def embedding_near_duplicates(
    spark: SparkSession, sf_dir: str, threshold: float = 0.4
) -> DataFrame:
    """Embedding-cosine near-dup pairs within label blocks — the
    VERIFICATION baseline for :func:`embedding_near_duplicates_lsh`.
    Blocking by ``label`` bounds the self-join, but all-pairs *within* a
    block is still quadratic when blocks are few/large; the LSH variant
    below is the 100 TB candidate generator.  The threshold filter runs on
    the 4dp-rounded cosine (float policy: quantize BEFORE comparing so
    summation-order noise cannot flip a boundary pair across engines)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    a = emb.alias("a")
    b = emb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn(
            "cosine",
            F.round(cosine_expr("a.embedding", "b.embedding") + F.lit(1e-8), 4),
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            "cosine",
        )
    )


# --- random-hyperplane LSH (SimHash for vectors) -----------------------------

#: 16 signature bits = 4 bands x 4 bits over 64-dim embeddings.  For pairs at
#: cosine >= 0.99 (angle ~8.1 deg, per-bit agreement p = 1 - theta/pi ~ 0.955)
#: the 4x4 banding catches a pair with P ~ 1 - (1 - p^4)^4 ~ 0.999; unrelated
#: vectors (p ~ 0.5) collide in a band with P ~ 0.5^4 per band, keeping
#: buckets small.
RHP_BITS = 16
RHP_BANDS = 4
RHP_DIM = 64


def hyperplanes(bits: int = RHP_BITS, dim: int = RHP_DIM) -> list[list[float]]:
    """Deterministic +-1 hyperplanes: component (j, k) is the parity of the
    first hex digit of md5("j|k").  No RNG, no engine-specific hash — the
    same literal matrix is interpolated into the Spark plan and the DuckDB
    oracle, so both engines bucket identically by construction.  (+-1
    components lose nothing vs gaussian planes for sign-of-dot hashing.)"""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{j}|{k}".encode()).hexdigest()[0], 16) % 2 else -1.0
            for k in range(dim)
        ]
        for j in range(bits)
    ]


def _band_signatures(emb: DataFrame, bands: int, rows: int) -> DataFrame:
    """(vec_id, band_id, sig): one 4-char sign-bit string per band.  All
    JVM-side — one projection computing ``bits`` fold-dots, then a 4-row
    explode; no shuffle."""
    planes = hyperplanes(bands * rows)
    bits = []
    for j in range(bands * rows):
        lit = ", ".join(f"{x:.1f}D" for x in planes[j])
        dot = _DOT.format(a="embedding", b=f"array({lit})")
        bits.append(F.when(F.expr(dot) >= 0, F.lit("1")).otherwise(F.lit("0")))
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat(*bits[b * rows : (b + 1) * rows]).alias("sig"),
        )
        for b in range(bands)
    ]
    return emb.select(
        "vec_id", F.explode(F.array(*band_structs)).alias("band")
    ).select("vec_id", F.col("band.band_id").alias("band_id"), F.col("band.sig").alias("sig"))


def embedding_near_duplicates_lsh(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.4,
    bands: int = RHP_BANDS,
    rows: int = RHP_BITS // RHP_BANDS,
) -> DataFrame:
    """Embedding near-dup pairs with BUCKETED candidate generation — the
    100 TB path (the label-blocked all-pairs variant above is the
    verification baseline).  Shape mirrors the text MinHash-LSH operator
    (dedup.py:minhash_lsh_candidates): sign-bit signature -> band buckets ->
    equi-join within buckets -> exact cosine verify on the (tiny) candidate
    set.  Candidate generation is linear in corpus size; no all-pairs or
    label-wide cross join anywhere (plan-asserted in test_plan_shapes).

    The verify step re-attaches embeddings to the candidate pairs via two
    equi-joins rather than carrying 64-float arrays through the explode and
    bucket shuffle — at scale the pair table is orders of magnitude smaller
    than the corpus, so the array payload moves through the small side."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # Round-16 census fix: the band self-join consumes ``sigs`` twice,
    # and unpinned each side re-ran the full corpus scan PLUS the
    # 16-fold-dot signature projection (4 corpus scans total).  The
    # signature frame is (vec_id, band_id, 4-char sig) — a ~20-byte/row
    # proxy, bands× the corpus row count but WITHOUT the 64-float
    # payload; checkpoint-pinned, the signature pass runs once and both
    # join sides read the materialized rows.
    sigs = _band_signatures(emb, bands, rows).transform(pin)
    a, b = sigs.alias("a"), sigs.alias("b")
    cand = (
        a.join(b, on=["band_id", "sig"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn(
            "cosine", F.round(cosine_expr("emb_a", "emb_b") + F.lit(1e-8), 4)
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def quantize_embeddings_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column — the
    standard 4x storage/bandwidth reduction for ANN at scale (float32 ->
    int8 with one max-abs scale per vector; dot products run in integer
    SIMD and dequantize by scale_a*scale_b/127^2).

    Pure codegen (higher-order transform/aggregate, no Python): one scan,
    zero shuffle — at 100 TB this is a streaming map over the embedding
    store.  ``q_csv`` renders the int8 codes as a CSV string so the
    cross-engine oracle hash is representation-stable (the agg_order_baskets
    discipline); real consumers would keep the array<int> column.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    qarr = (
        "transform(embedding, x -> cast(round(cast(x AS double) / max_abs"
        " * 127.0 + 1e-8) AS int))"
    )
    return (
        emb.withColumn(
            "max_abs",
            F.greatest(
                F.expr(
                    "aggregate(embedding, cast(0.0 AS double),"
                    " (acc, x) -> greatest(acc, abs(cast(x AS double))))"
                ),
                F.lit(1e-12),
            ),
        )
        .select(
            "vec_id",
            "label",
            F.round(F.col("max_abs") + F.lit(1e-8), 6).alias("scale_max_abs"),
            F.concat_ws(
                ",", F.transform(F.expr(qarr), lambda x: x.cast("string"))
            ).alias("q_csv"),
        )
    )


# --- product quantization (Jégou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011) ---

#: 64-dim embeddings → 8 subspaces × 8 dims, 16 centroids per subspace
#: (codes fit in 4 bits; a 64-dim float32 vector compresses 64×).
PQ_M = 8
PQ_SUBDIM = 8
PQ_K = 16


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code assignment: each vector's m-th subvector
    maps to the id of its nearest codebook centroid in that subspace.

    The codebook here is the deterministic "first K vectors" sample
    (vec_id < PQ_K) so the DuckDB oracle can rebuild it bit-identically; a
    production build would k-means each subspace (see
    :func:`kmeans_centroids`) — the assignment plan below is identical.

    Plan shape: the codebook is PQ_K rows → broadcast; the scan crosses
    each vector with (subspace × centroid) = 128 scored pairs ENTIRELY
    inside one projection (generator expression over a constant-bound
    sequence), then min(struct(dist, code)) picks the argmin with a
    deterministic code tiebreak.  One scan, one broadcast, one
    map-side-combinable aggregate — no shuffle grows with corpus size.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cents = (
        emb.filter(F.col("vec_id") < PQ_K)
        .select(F.col("vec_id").alias("code"), F.col("embedding").alias("cvec"))
    )
    sub = F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("sub")
    pairs = (
        emb.select("vec_id", "embedding", sub)
        .join(F.broadcast(cents))
        .select(
            "vec_id",
            "sub",
            "code",
            F.expr(
                f"aggregate(zip_with("
                f"  slice(embedding, sub * {PQ_SUBDIM} + 1, {PQ_SUBDIM}),"
                f"  slice(cvec,      sub * {PQ_SUBDIM} + 1, {PQ_SUBDIM}),"
                f"  (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
                f"  0D, (acc, v) -> acc + v)"
            ).alias("dist"),
        )
    )
    best = (
        pairs.groupBy("vec_id", "sub")
        .agg(F.min(F.struct("dist", "code")).alias("b"))
        .select(
            "vec_id",
            F.col("sub").cast("int").alias("sub"),
            F.col("b.code").cast("int").alias("code"),
            F.round(F.col("b.dist") + F.lit(1e-8), 4).alias("dist"),
        )
    )
    return best


def pq_adc_topk(
    spark: SparkSession,
    sf_dir: str,
    query_ids: tuple[int, ...] = (0, 1, 2, 3, 4),
    k: int = 10,
) -> DataFrame:
    """PQ asymmetric-distance top-k search (ADC, Jégou et al. TPAMI 2011
    §IV): per query, pre-compute the (subspace × code) distance table
    against the codebook, then score every vector by SUMMING the table
    entries its stored PQ codes select — the uncompressed query against
    the compressed corpus, which is how a 100 TB vector store is actually
    scanned (reference parity: the ANN tier of SURVEY.md §2; no reference
    file implements PQ — this extends the quantization tier pq_codes
    builds).

    Plan shape — scan-speed by construction, which is the entire point of
    PQ: the codebook collapses to ONE broadcast row (PQ_K ordered structs)
    and the per-query distance tables to |queries| broadcast rows (each a
    PQ_M·PQ_K-entry ordered array), so code assignment AND the ADC sum are
    a single codegen projection over one corpus scan — no corpus-sized
    shuffle anywhere.  (A (sub, code)-join + per-(query, vec) groupBy
    spelling would shuffle |queries|·PQ_M·|corpus| partial rows — 40× the
    corpus here — because pq_codes' long output hashes (vec_id, sub) apart;
    deliberately avoided.)  The only exchange is the per-query top-k
    window, and filter(row_number ≤ k) plans WindowGroupLimit, so each
    scan partition forwards at most k rows per query.  Re-ranking the
    top-k against raw vectors (brute_force_topk on the candidate ids) is
    the standard second stage and deliberately out of scope here.

    The argmin tiebreak (dist, then code) and the 4dp (+1e-8) rounding
    before the vec_id-tiebroken ranking mirror pq_codes and the rest of
    the similarity tier — the cross-engine float discipline."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id").isin(*query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    # Round-16 census fix: the ADC core consumes the codebook twice (the
    # in-scan code assignment + the per-query distance tables), and
    # unpinned each consumer re-ran the pushdown codebook scan (4
    # embeddings scans total).  Pass a checkpointed PQ_K-row codebook so
    # the shared core's both consumers read the materialized rows — the
    # corpus scan itself already runs exactly once.
    cents = pq_codebook(emb).transform(pin)
    return adc_topk_for_queries(emb, queries, k, cents=cents)


#: Per-subspace squared-L2 template over two array columns (sub in scope).
_SUBSQ = (
    "aggregate(zip_with("
    f"  slice({{a}}, sub * {PQ_SUBDIM} + 1, {PQ_SUBDIM}),"
    f"  slice({{b}}, sub * {PQ_SUBDIM} + 1, {PQ_SUBDIM}),"
    "  (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    "          * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
    "  0D, (acc, v) -> acc + v)"
)


def l2sq_expr(a: str, b: str):
    """Full-vector squared L2 as a Catalyst column over two array<float>
    columns — the metric PQ/ADC approximates and the exact re-rank uses."""
    return F.expr(
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        "         * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
        " 0D, (acc, v) -> acc + v)"
    )


def pq_codebook(emb: DataFrame) -> DataFrame:
    """The deterministic first-PQ_K-vectors codebook as (code, cvec) —
    oracle-rebuildable (see :func:`pq_codes`); kept float so distances are
    bit-identical whether cvec comes from this or a materialized copy."""
    return emb.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("code"), F.col("embedding").alias("cvec")
    )


def build_pq_codes_compact(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Compact PQ code assignment: (vec_id, codes array<int>) — the row-
    per-vector twin of :func:`pq_codes`' long form, and the thing a 100 TB
    vector store actually PERSISTS (64 floats → PQ_M 4-bit codes, 64×
    smaller).  The codebook collapses to ONE broadcast row and the argmin
    over (subspace × code) runs inside a single codegen projection — one
    scan, zero shuffle.  The in-scan argmin walks the code-ordered array so
    strict-less keeps the smallest code on ties (== pq_codes'
    min(struct(dist, code)) tiebreak).

    A NULL embedding never fires the strict-less (NULL < d is NULL), so
    its argmin stays at the -1 init sentinel; the FINISH lambda maps
    that sentinel to a NULL code, which NULL-propagates through the ADC
    sum (``element_at`` with a NULL index is NULL) instead of indexing
    the distance table at 0 and killing the scan with
    INVALID_INDEX_OF_ZERO — the degrade-per-row contract (corrupt rows
    score NULL and sort last under ``asc_nulls_last``).  The sentinel
    map must live INSIDE the aggregate's finish (``acc -> nullif(acc.c,
    -1)``, acc a bound variable): wrapping the whole aggregate in
    ``nullif(aggregate(...), -1)`` expands to a CASE that DUPLICATES
    the aggregate child, running the 16-codeword argmin twice per
    subspace — measured 1.45 s → 2.6 s on the sf0.1 ADC query."""
    cb = cents.agg(
        F.array_sort(F.collect_list(F.struct("code", "cvec"))).alias("cb")
    )
    codes_expr = F.expr(
        f"transform(sequence(0, {PQ_M - 1}), sub ->"
        "  CAST(aggregate(cb,"
        "    named_struct('d', CAST('Infinity' AS DOUBLE),"
        "                 'c', CAST(-1 AS BIGINT)),"
        "    (acc, e) -> CASE WHEN "
        + _SUBSQ.format(a="embedding", b="e.cvec")
        + " < acc.d THEN named_struct('d', "
        + _SUBSQ.format(a="embedding", b="e.cvec")
        + ", 'c', e.code) ELSE acc END,"
        "    acc -> nullif(acc.c, -1)) AS INT))"
    )
    return emb.crossJoin(F.broadcast(cb)).select(
        "vec_id", codes_expr.alias("codes")
    )


def materialize_pq_index(
    spark: SparkSession, sf_dir: str, path: str, n_centroids: int = 8
) -> None:
    """Build-once persistence of the PQ index: ``{path}/codes`` holds
    (vec_id, codes) PARTITIONED BY the vector's IVF cell (centroid_id) and
    ``{path}/codebook`` the PQ_K (code, cvec) rows.  This is the point of
    PQ at 100 TB — assignment runs once at build time, every later
    query/micro-batch scans the 64×-smaller codes table, and an IVF probe
    becomes literal partition PRUNING of the codes scan (the directory
    layout is the index).  Consumed by :func:`load_pq_index` and the
    streaming retrieval handler (streaming/extensions.py).

    The codes table nests one directory level per ingest batch
    (``codes/batch_id=-1`` for the base build, ``batch_id=N`` per
    :func:`append_pq_index_batch`), so incremental appends are
    REPLAY-IDEMPOTENT per-batch overwrites and a reader still partition-
    prunes on ``centroid_id`` one level down.  The IVF centroid VECTORS
    persist alongside (``{path}/centroids``) — appends must assign
    against the index's own frozen centroids, not whatever corpus happens
    to be at hand.
    """
    from ..sources.sinks import write_parquet

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = pq_codebook(emb)
    assign = ivf_assign(spark, sf_dir, n_centroids).select(
        "vec_id", "centroid_id"
    )
    codes = build_pq_codes_compact(emb, cents).join(assign, "vec_id")
    write_parquet(codes, f"{path}/codes/batch_id=-1", partition_by=["centroid_id"])
    write_parquet(cents, f"{path}/codebook")
    write_parquet(lowid_centroids(emb, n_centroids), f"{path}/centroids")


def append_pq_index_batch(
    spark: SparkSession, path: str, new_emb: DataFrame, batch_id: int
) -> None:
    """Incremental index maintenance — the ingest half of the IVF-PQ
    lifecycle: assign a batch of NEW vectors to the index's FROZEN
    centroids (:func:`_assign_to_centroids` — same 6dp argmax as the
    build), encode them against the FROZEN codebook (one codegen
    projection), and overwrite ``codes/batch_id={batch_id}`` partitioned
    by cell.  Freezing both artifacts makes the append bit-identical to
    having built the index with the new vectors present (pytest-pinned),
    and the per-batch overwrite makes micro-batch replay a no-op — the
    foreachBatch contract (streaming/extensions.py wires this as
    :func:`foreach_batch_index_append`).

    Scale shape: one scan of the batch x broadcast(centroids + 1-row
    codebook), one shuffle of (vec_id, codes, cell) rows into the
    partitioned write.  Nothing touches the existing codes.  Centroid
    drift (cells going stale/hot as the corpus grows) is the re-train
    trigger — monitored by ``ivf_cell_stats``, not silently absorbed
    here."""
    from ..sources.sinks import write_parquet

    cents = spark.read.parquet(f"{path}/centroids")
    cb = spark.read.parquet(f"{path}/codebook")
    emb = new_emb.select("vec_id", "embedding")
    # Exactly-once is per batch_id; re-DELIVERY of a vector in a DIFFERENT
    # batch (at-least-once sources, updates spelled as appends) would
    # otherwise plant a duplicate codes row that consumes a top-k slot
    # twice downstream.  Anti-join the batch against the ids already in
    # the index — PRIOR batches only (the curation sink's authority rule:
    # excluding this batch_id keeps replay a no-op instead of an
    # everything-is-a-dup self-erase).  A vec_id-only scan of the compact
    # codes; at 100 TB, front it with a vec_id Bloom of the index (the
    # scrubbing-tier pattern) and pay the exact anti-join on bloom hits.
    from ..sources.genstore import read_prior_generations

    existing = read_prior_generations(spark, f"{path}/codes", batch_id)
    fresh = emb
    if existing is not None:
        fresh = emb.join(existing.select("vec_id"), "vec_id", "left_anti")
    assign = _assign_to_centroids(fresh, cents).select("vec_id", "centroid_id")
    codes = build_pq_codes_compact(fresh, cb).join(assign, "vec_id")
    write_parquet(
        codes, f"{path}/codes/batch_id={int(batch_id)}",
        partition_by=["centroid_id"],
    )


def load_pq_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """(codes, codebook) from a :func:`materialize_pq_index` layout.
    The codes read resolves the store's genstore manifest so only LIVE
    generations (current base + unfolded appends) are scanned — between
    a compaction commit and its GC the superseded directories still
    exist on disk, and without the filter their rows would double-fill
    top-k slots."""
    from ..sources.genstore import generation_filter, load_manifest

    codes_dir = f"{path}/codes"
    return (
        spark.read.parquet(codes_dir).filter(
            generation_filter(load_manifest(spark, codes_dir))
        ),
        spark.read.parquet(f"{path}/codebook"),
    )


def adc_topk_for_queries(
    emb: DataFrame | None,
    queries: DataFrame,
    k: int = 10,
    *,
    codes: DataFrame | None = None,
    cents: DataFrame | None = None,
    cand: DataFrame | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """ADC core over an arbitrary (query_id, q_emb) set — the reusable
    engine behind :func:`pq_adc_topk` (fixed corpus query ids),
    :func:`ivf_pq_search` (probed-cluster gate) and the streaming
    retrieval handler (micro-batches of external queries,
    streaming/extensions.foreach_batch_adc_topk).  See pq_adc_topk for
    the plan-shape discussion.

    * ``codes`` / ``cents`` — a materialized (vec_id, codes) table and
      (code, cvec) codebook (:func:`load_pq_index`).  When given, the
      corpus scan reads ONLY the 64×-smaller codes — no raw-vector read
      anywhere; ``emb`` may be None.  Without them, codes are assigned
      in-scan from ``emb`` (the small-data convenience path).
    * ``cand`` — optional (query_id, vec_id) gate applied BEFORE scoring
      and BEFORE the top-k window (IVFADC: only vectors in probed cells
      are ever ADC-scored, so probed candidates can never be displaced by
      unprobed global leaders).  At 100 TB the gate is partition pruning
      of the codes table (materialize_pq_index partitions by centroid_id);
      here it composes as an equi-join that AQE sizes.
    * ``exclude_self`` — drop vec_id == query_id rows.  True for corpus-
      internal queries (a vector is trivially its own nearest neighbor);
      MUST be False for external query streams, where an id collision
      with a corpus vec_id is meaningless and would silently drop an
      unrelated vector (round-4 advice)."""
    if codes is None or cents is None:
        if emb is None:
            raise ValueError("need emb when codes/cents are not materialized")
        if cents is None:
            # Round-17 census fix (staged on r17-prep): the self-derived
            # codebook has TWO consumers below (the in-scan code
            # assignment + the per-query distance tables) and unpinned
            # each re-ran the PQ_K-row pushdown scan.  PQ_K rows —
            # checkpoint-pinned, mirroring the cents= callers that pass
            # a materialized codebook (pq_adc_topk since round 16, the
            # indexed path since round 12).
            cents = pq_codebook(emb).transform(pin)
        if codes is None:
            # Deliberately NOT semi-join-gated by ``cand``: assigning codes
            # only to probed vectors reads as a saving (the argmin is the
            # expensive projection) but MEASURED SLOWER at sf0.1 (1.82 s vs
            # 1.48 s best-of-3) — the gate forces the assignment pass to
            # finish before code assignment can start and adds a join,
            # serializing two otherwise-independent corpus scans.  Real
            # scan pruning comes from the materialized path (codes= +
            # partition pruning, ivf_pq_search_indexed), not from gating
            # this convenience path.
            codes = build_pq_codes_compact(emb, cents)
    sub = F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("sub")
    # Per-query ADC table: qd[sub * PQ_K + code] = ||q_sub - codeword||².
    # array_sort on (sub, code) structs pins the entry order (collect_list
    # alone is unordered), giving |queries| rows of PQ_M·PQ_K doubles.
    dtab = (
        queries.select("query_id", "q_emb", sub)
        .crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "sub",
            "code",
            F.expr(_SUBSQ.format(a="q_emb", b="cvec")).alias("qdist"),
        )
    )
    qtab = dtab.groupBy("query_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code", "qdist"))),
            lambda x: x["qdist"],
        ).alias("qd")
    )
    if cand is not None:
        # Gate first: only probed (query, vec) pairs are ever paired with
        # a distance table or scored — the pruned-scan shape of IVFADC.
        paired = codes.join(cand, "vec_id").join(F.broadcast(qtab), "query_id")
    else:
        paired = codes.crossJoin(F.broadcast(qtab))
    if exclude_self:
        paired = paired.filter(F.col("vec_id") != F.col("query_id"))
    scored = paired.select(
        "query_id",
        "vec_id",
        F.round(
            F.expr(
                f"aggregate(sequence(0, {PQ_M - 1}), 0D, (acc, s) ->"
                f" acc + element_at(qd, CAST(s * {PQ_K}"
                f" + element_at(codes, s + 1) + 1 AS INT)))"
            )
            + F.lit(1e-8),
            4,
        ).alias("adc_dist"),
    )
    # Spark ASC defaults to NULLS FIRST (DuckDB: last) — nulls_last keeps
    # degenerate NULL-scored rows out of the top-k on both engines.
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc_nulls_last(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "adc_dist", "rk")
    )


def ivf_pq_search(
    spark: SparkSession,
    sf_dir: str,
    query_ids: tuple[int, ...] = (0, 1, 2, 3, 4),
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    rerank: int | None = 30,
    label: int | None = None,
) -> DataFrame:
    """The production ANN composition — IVF pruning + PQ/ADC scoring +
    exact re-rank, i.e. the full IVFADC pipeline of Jégou et al. (TPAMI
    2011 §V) assembled from this module's tested parts:

    1. rank centroids per query and keep the best ``nprobe`` clusters
       (:func:`ivf_search`'s probe step — at 100 TB the cluster id is the
       stored index's partition column, so this prunes the SCAN);
    2. ADC-score ONLY vectors assigned to probed clusters against the
       per-query subspace distance table (:func:`pq_adc_topk`'s in-scan
       projection — the codes are 64× smaller than raw vectors);
    3. optionally re-rank the best ``rerank`` ADC candidates per query
       with EXACT squared L2 on the raw vectors (the standard accuracy
       recovery: only k·rerank raw-vector reads per query ever happen).

    Plan: everything broadcast except the corpus scan; per-query top-k
    via WindowGroupLimit both at the ADC cut and the final cut.  Returns
    (query_id, vec_id, dist, rk) where dist is exact L2 when re-ranking
    (rounded 4dp +1e-8) and the ADC approximation otherwise.

    Metric discipline (round-4 advice): probe ranking, ADC scoring and
    the exact re-rank all use squared L2 end-to-end.  The cell ASSIGNMENT
    (:func:`ivf_assign`) ranks by cosine — equivalent by construction on
    this corpus because the embeddings are unit-normalized
    (‖a−b‖² = 2·(1−cos) for unit vectors, a monotone map), which
    tests/test_llm_ops.py::test_embeddings_unit_norm_and_metric_equivalence
    pins; on un-normalized data, rebuild the index with an L2 argmin.

    Driver-gated (ann_ivf_pq_search: the oracle composes the proven
    ivf_search and pq_adc_topk oracles) + pytest recall floor and
    rerank-exactness in test_llm_ops.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assign = ivf_assign(spark, sf_dir, n_centroids).select("vec_id", "centroid_id")
    cents = lowid_centroids(emb, n_centroids)
    queries = emb.filter(F.col("vec_id").isin(*query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    # -- stage 1: probe selection (tiny x tiny), squared L2 ascending; 6dp
    # pre-round mirrors ivf_assign so float noise cannot flip a probe
    # across engines --
    probe_scored = queries.crossJoin(F.broadcast(cents)).withColumn(
        "cl2", F.round(l2sq_expr("q_emb", "c_emb") + F.lit(1e-8), 6)
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("cl2").asc_nulls_last(), F.col("centroid_id").asc()
    )
    probes = (
        probe_scored.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "centroid_id")
    )
    # -- stage 2: ADC over the probed subset ONLY.  The candidate gate —
    # (query, vec) pairs whose vector lives in a probed cluster — is
    # applied INSIDE adc_topk_for_queries, ahead of both the scoring
    # projection and the top-k window, so probed candidates are ranked
    # among themselves (true IVFADC: an unprobed global leader can never
    # displace them, and the shortlist always fills from probed cells).
    # At 100 TB the gate IS partition pruning of the materialized codes
    # table (materialize_pq_index partitions by centroid_id); here it
    # composes as a join against the (|queries|·nprobe)-row probe set
    # attached to the assignment map.
    cand = assign.join(F.broadcast(probes), "centroid_id").select(
        "query_id", "vec_id"
    )
    if label is not None:
        # Filtered vector search, PRE-FILTER strategy: the metadata
        # predicate gates candidates BEFORE the ADC shortlist cut, so the
        # shortlist fills only with qualifying vectors and recall never
        # leaks to a post-filter that silently under-fills k.  Results
        # may still carry < k rows when the probed cells simply hold
        # fewer qualifying vectors — the honest filtered-search contract
        # (widen nprobe to recover, exactly as with empty cells).  At
        # 100 TB the label rides the materialized codes table as a column
        # and this join becomes a pushed scan filter next to the
        # centroid_id partition pruning.
        qualifying = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("label") == label)
            .select("vec_id")
        )
        cand = cand.join(qualifying, "vec_id")
    shortlist_k = k if rerank is None else max(k, rerank)
    adc = adc_topk_for_queries(emb, queries, shortlist_k, cand=cand)
    if rerank is None:
        return adc.select(
            "query_id", "vec_id", F.col("adc_dist").alias("dist"), "rk"
        ).filter(F.col("rk") <= k)
    # -- stage 3: exact re-rank of the top-`rerank` ADC candidates --
    shortlist = adc.filter(F.col("rk") <= rerank).select("query_id", "vec_id")
    exact = (
        shortlist.join(emb, "vec_id")
        .join(
            F.broadcast(queries),
            "query_id",
        )
        .select(
            "query_id",
            "vec_id",
            F.round(
                l2sq_expr("embedding", "q_emb") + F.lit(1e-8), 4
            ).alias("dist"),
        )
    )
    we = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc_nulls_last(), F.col("vec_id").asc()
    )
    return (
        exact.withColumn("rk", F.row_number().over(we).cast("int"))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "dist", "rk")
    )


def ivf_cell_stats(
    spark: SparkSession, sf_dir: str, k: int = 8
) -> DataFrame:
    """IVF index HEALTH report: per-cell population and assignment-quality
    stats — the operational companion every partitioned ANN index needs,
    because cell SKEW is what makes probes slow at scale (a probe into a
    cell holding 10× its fair share does 10× the ADC work; the fix is
    re-training or splitting hot cells, and this report is what triggers
    it).

    Output per centroid: n_vecs, the mean/worst assignment cosine (how
    well the cell's members fit their centroid — a low min_cos cell is a
    candidate for splitting), and ``skew`` = n_vecs · k / N (1.0 = ideal
    balance; the max over cells bounds worst-case probe cost).

    Plan: :func:`ivf_assign`'s scan + one k-group aggregate (map-side
    combinable) + a 1-row total broadcast — nothing corpus-sized shuffles,
    so the report is effectively free next to the build it audits.  The
    4dp (+1e-8) rounding on the float outputs is the cross-engine float
    discipline (averages inherit summation-order noise)."""
    assign = ivf_assign(spark, sf_dir, k).select("vec_id", "centroid_id", "cosine")
    # Round-16 census fix: ``assign`` had two consumers (the 1-row total
    # + the per-cell aggregate), and unpinned each re-ran the whole
    # assignment subtree — 4 embeddings scans.  The total is derivable
    # from the k-row cell aggregate itself (every vector lands in
    # exactly one cell, so sum(n_vecs) == count(assign)); checkpoint the
    # k-row stats frame and the corpus pass runs exactly once.
    stats = (
        assign.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("cosine") + F.lit(1e-8), 4).alias("avg_cos"),
            F.round(F.min("cosine") + F.lit(1e-8), 4).alias("min_cos"),
        )
        .transform(pin)
    )
    total = stats.agg(F.sum("n_vecs").alias("n_total"))
    return (
        stats.crossJoin(F.broadcast(total))
        .select(
            "centroid_id",
            "n_vecs",
            "avg_cos",
            "min_cos",
            F.round(
                F.col("n_vecs") * k / F.col("n_total") + F.lit(1e-8), 4
            ).alias("skew"),
        )
    )


def cluster_balanced_sample(
    spark: SparkSession, sf_dir: str, k: int = 8, n_per_cell: int = 40
) -> DataFrame:
    """Diversity-preserving sample over the embedding space: assign every
    vector to its k-means cell, then keep exactly ``n_per_cell`` per cell
    by seedless hash order — the cluster-then-sample recipe modern
    pipelines use to keep a training subset SEMANTICALLY diverse
    (uniform random sampling reproduces the corpus's mode collapse; equal
    per-cell quotas flatten it, the same motivation as SemDeDup-style
    cluster pruning).

    Determinism discipline: md5(vec_id) ordering within each cell (no
    RNG, stable under re-partitioning and re-ingestion, engine-portable).
    Plan: the :func:`ivf_assign` scan + ONE window partitioned by the k
    cells — each cell's rank state is a single partition's worth, fine
    while cells are few; at corpus scale with large k prefer the
    two-phase cutoff (approx_percentile over the hash, then a stateless
    filter — same escalation as stratified_fixed_n_sample)."""
    assign = ivf_assign(spark, sf_dir, k).select("vec_id", "centroid_id")
    h = F.md5(F.col("vec_id").cast("string"))
    w = Window.partitionBy("centroid_id").orderBy(h)
    return (
        assign.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= n_per_cell)
        .select("vec_id", "centroid_id", "rk")
    )


def ivf_pq_search_indexed(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    query_ids: tuple[int, ...] = (0, 1, 2, 3, 4),
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    rerank: int | None = 30,
) -> DataFrame:
    """:func:`ivf_pq_search` against a :func:`materialize_pq_index` layout
    — the production spelling, where the r4-advice scale warts are gone by
    construction:

    * the corpus scan reads ONLY the persisted 64×-smaller codes (no
      in-scan re-assignment from raw vectors), and
    * the probe step is literal partition PRUNING: the union of probed
      cells (≤ |queries|·nprobe ids, collected — a bounded driver action)
      becomes an `isin` filter on the codes table's partition column, so
      unprobed directories are never read (PartitionFilters in the scan,
      plan-asserted in tests).  The per-(query, vec) gate then rides the
      centroid_id column already stored in the codes table — no separate
      assignment recompute anywhere.

    Raw vectors are touched in exactly two bounded places, as in the
    Jégou pipeline: the n_centroids probe centroids (+ the query vectors)
    and the |queries|·rerank shortlist rows fetched for the exact re-rank.
    Result-identical to :func:`ivf_pq_search` (same index semantics;
    parity-tested), so the catalog oracle covers this path by composition.

    Delegates to :func:`ivf_adc_topk_for_queries` (round 8), the engine
    that also serves EXTERNAL query batches (the streaming retrieval
    handler) — one probe/prune/score definition for both faces."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id").isin(*query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    out = ivf_adc_topk_for_queries(
        spark,
        index_path,
        queries,
        k,
        nprobe,
        rerank=rerank,
        emb=emb,
        exclude_self=True,
    )
    if rerank is None:
        return out.select(
            "query_id", "vec_id", F.col("adc_dist").alias("dist"), "rk"
        )
    return out


def ivf_adc_topk_for_queries(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    *,
    rerank: int | None = None,
    emb: DataFrame | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """IVF-probed, partition-PRUNED multi-query ADC over a materialized
    index — the engine behind :func:`ivf_pq_search_indexed` (corpus
    queries, exact re-rank) and the streaming retrieval handler's
    ``nprobe`` fast path (external query batches,
    streaming/extensions.foreach_batch_adc_topk).  This closes the last
    full-scan in the retrieval tier: the streaming handler previously
    ADC-scored every micro-batch against the ENTIRE codes table, which
    is exactly the plan an IVF index exists to avoid at 100 TB.

    Per batch: queries probe the index's OWN persisted centroids (the
    ones the codes layout was partitioned by — re-deriving them from a
    corpus that has since grown would prune the wrong cells), the union
    of probed cells (≤ |batch|·nprobe ids — a bounded driver collect)
    becomes a literal `isin` on the codes table's partition column
    (PartitionFilters — unprobed directories are never read,
    plan-asserted), and the per-(query, vec) gate rides the stored
    centroid_id.  ``rerank`` (needs ``emb``) re-scores the per-query
    shortlist exactly — corpus-internal callers only; external query
    streams rank by ADC distance.

    Output: (query_id, vec_id, adc_dist, rk) — or (query_id, vec_id,
    dist, rk) when ``rerank`` is set."""
    codes_full, cents_pq = load_pq_index(spark, index_path)
    cents = spark.read.parquet(f"{index_path}/centroids")
    probe_scored = queries.crossJoin(F.broadcast(cents)).withColumn(
        "cl2", F.round(l2sq_expr("q_emb", "c_emb") + F.lit(1e-8), 6)
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("cl2").asc_nulls_last(), F.col("centroid_id").asc()
    )
    probes = (
        probe_scored.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "centroid_id")
    )
    probed_cells = sorted(
        r["centroid_id"]
        for r in probes.select("centroid_id").distinct().collect()
    )
    codes = codes_full.filter(F.col("centroid_id").isin(*probed_cells))
    cand = codes.join(F.broadcast(probes), "centroid_id").select(
        "query_id", "vec_id"
    )
    shortlist_k = k if rerank is None else max(k, rerank)
    adc = adc_topk_for_queries(
        None,
        queries,
        shortlist_k,
        codes=codes.select("vec_id", "codes"),
        cents=cents_pq,
        cand=cand,
        exclude_self=exclude_self,
    )
    if rerank is None:
        return adc.filter(F.col("rk") <= k)
    if emb is None:
        raise ValueError("rerank requires the raw embedding table (emb=)")
    shortlist = adc.filter(F.col("rk") <= rerank).select("query_id", "vec_id")
    exact = (
        shortlist.join(emb, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(
                l2sq_expr("embedding", "q_emb") + F.lit(1e-8), 4
            ).alias("dist"),
        )
    )
    we = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc_nulls_last(), F.col("vec_id").asc()
    )
    return (
        exact.withColumn("rk", F.row_number().over(we).cast("int"))
        .filter(F.col("rk") <= k)
        .select("query_id", "vec_id", "dist", "rk")
    )


def ivf_pq_search_indexed_entry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Self-contained catalog spelling of :func:`ivf_pq_search_indexed`:
    build the materialized index into a scratch directory, run the
    partition-pruned search against it (the kmeans-retrain convention —
    each catalog entry stands alone; production materializes once and
    searches forever), then pin the |queries|·k-row result so
    the scratch index can be DELETED before returning — no tempdir
    accumulation across driver/bench runs.  Result-identical to
    :func:`ivf_pq_search`, so it shares that entry's composed oracle
    verbatim; the physical-plan assertions (PartitionFilters, codes-only
    ReadSchema) live on :func:`ivf_pq_search_indexed` itself, which the
    checkpoint here does not touch."""
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix="pq_index_entry_")
    try:
        materialize_pq_index(spark, sf_dir, path)
        return ivf_pq_search_indexed(spark, sf_dir, path).transform(pin)
    finally:
        shutil.rmtree(path, ignore_errors=True)


#: Within-cell cosine at or above which the higher-id member is pruned by
#: :func:`semdedup`.  Calibrated to the synthetic corpus (pairwise cosine
#: tops out near 0.48): high enough that survivors dominate, low enough
#: that the pruning path is actually exercised at test scale.
SEMDEDUP_THRESHOLD = 0.35

#: Target cell population for :func:`semdedup`'s derived default k — the
#: SemDeDup paper's operating point (k ≈ N/5000 keeps the within-cell
#: quadratic term ~constant per cell as the corpus grows).
SEMDEDUP_DOCS_PER_CELL = 5000

#: Floor for the derived k (test-scale corpora still get enough cells for
#: the pruning path to be exercised and the oracle's k=8 to hold).
SEMDEDUP_MIN_K = 8


def semdedup_default_k(n_vectors: int) -> int:
    """The paper's k ≈ N/5000 rule with the test-scale floor: the default
    that keeps SemDeDup's O(Σ|cell|²) term bounded WITHOUT the caller
    remembering to scale k — 10M docs derive k=2000, not 8."""
    import math

    return max(SEMDEDUP_MIN_K, math.ceil(n_vectors / SEMDEDUP_DOCS_PER_CELL))


def semdedup(
    spark: SparkSession,
    sf_dir: str,
    k: int | None = None,
    rounds: int = 2,
    threshold: float = SEMDEDUP_THRESHOLD,
    use_arrow: bool = True,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): k-means the
    embedding space, then prune near-identical members WITHIN each cell —
    the embedding-cosine near-dup tier the brief names, in its published
    scale-out form.  Pairwise comparison never crosses a cell boundary,
    which is the whole trick: O(Σ|cell|²) work instead of O(N²), and each
    cell's pairs co-locate under one shuffle key.

    Pruning rule (deterministic, engine-portable): a vector is DROPPED iff
    some LOWER-id member of its cell matches it at ``cosine >= threshold``
    — the fixed-priority variant of the paper's keep-one-per-group (ids
    stand in for the paper's keep-lowest-distance-to-centroid choice, and
    the survivor set is exactly the id-minimal independent prefix).  The
    6dp (+1e-8) pre-round on the comparison cosine is the same
    cross-engine float discipline as the assignment step.

    Plan shape at 100 TB: the trained assignment (:func:`kmeans_centroids`
    is k broadcast rows) rides the corpus scan, and the argmax agg CARRIES
    the embedding through (``first`` over a vec_id group is total — one
    emb row per id fans out over k broadcast centroids, so every group row
    holds the same vector), so no corpus x corpus re-attach join exists.
    ``members`` is then pinned (the corpus.py:260
    "N consumers, one scan" convention): its three consumers — both self-
    join sides and the final keep projection — read the one materialized
    cell-tagged frame instead of re-executing the scan+assign subtree.
    Pre-pin the executedPlan audited FIVE parquet scans of the embeddings
    corpus (self-join 2x2 via the re-attach join + the final projection's
    re-scan) — four needless full-corpus passes at 100 TB; post-pin the
    returned plan carries ZERO file scans (test_similarity plan pin).  The
    pinned frame is the (vec_id, centroid_id, embedding) projection, one
    row per vector carrying its full embedding: the one corpus-sized
    payload pin buys back four full corpus passes.  The
    drop set aggregates to DISTINCT ids (bounded by the duplicate count,
    << corpus) and joins back as a small side.  Cell skew bounds the
    quadratic term — which is why :func:`ivf_cell_stats` (skew report) is
    the operational companion.
    ``k=None`` (default) derives k from the corpus size with the paper's
    rule (:func:`semdedup_default_k`: one cheap count, k ≈ N/5000,
    floor 8), so cells stay ~constant-sized at ANY corpus scale without a
    caller-tuned knob; pass an explicit k to override.

    Scoring: the within-cell stage is the one place this engine's O(n)
    JVM-default scorer policy flips — pair volume is Σ|cell|² (~2M pairs
    at sf0.1 vs 20k for brute-force top-k), and at that multiplicity the
    Arrow/BLAS :func:`cosine_arrow` batch kernel beats the interpreted
    higher-order-function path 2.4x measured (4.7s → 1.9s on the pair
    stage; value-identical under the 6dp round — parity pytest-pinned).
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if k is None:
        k = semdedup_default_k(emb.count())
    cents = kmeans_centroids(spark, sf_dir, k, rounds)
    # Inline variant of :func:`_assign_to_centroids` (same 6dp pre-round,
    # same highest-cos-then-lowest-id argmax struct) that CARRIES the
    # embedding through the agg — ``first`` is total here because the
    # group key is vec_id and the corpus holds one embedding per vec_id.
    # Kept local to semdedup so the shared assignment helper's plan (used
    # by the training loop, where dragging vectors through the shuffle
    # would be pure waste) is untouched.
    scored = emb.crossJoin(F.broadcast(cents)).withColumn(
        "cos", F.round(cosine_expr("embedding", "c_emb") + F.lit(1e-8), 6)
    )
    members = (
        scored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("cos").alias("cos"),
                    (-F.col("centroid_id")).alias("neg_id"),
                )
            ).alias("m"),
            F.first("embedding").alias("embedding"),
        )
        .select(
            "vec_id",
            (-F.col("m.neg_id")).cast("bigint").alias("centroid_id"),
            "embedding",
        )
        .transform(pin)
    )
    a = members.select(
        "centroid_id",
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
    )
    b = members.select(
        "centroid_id",
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
    )
    pair_cos = (
        cosine_arrow(F.col("emb_a"), F.col("emb_b"))
        if use_arrow
        else cosine_expr("emb_a", "emb_b")
    )
    dropped = (
        a.join(b, "centroid_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", F.round(pair_cos + F.lit(1e-8), 6))
        .filter(F.col("cos") >= threshold)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return members.select("vec_id", "centroid_id").join(
        dropped, "vec_id", "left"
    ).select(
        "vec_id",
        F.col("centroid_id").cast("bigint").alias("centroid_id"),
        F.coalesce(~F.col("is_dup"), F.lit(True)).alias("keep"),
    )


def ivf_recall_report(
    spark: SparkSession,
    sf_dir: str,
    query_ids: tuple[int, ...] = (0, 1, 2, 3, 4),
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """Index-quality EVALUATION: per-query recall@k of :func:`ivf_search`
    against the exact :func:`brute_force_topk` ground truth, plus the mean
    retrieved cosine on both sides (the quality-delta a recall number
    alone hides — an index can miss half the exact set and still return
    near-equal-similarity substitutes).

    An ANN index without a recall harness is unshippable: nprobe /
    n_centroids tuning IS this query, run on a held-out query sample
    before every index rollout (the standard ANN-benchmarks protocol).
    Plan shape: both searches are the already-audited scan-shaped
    pipelines; everything downstream operates on |queries| x k rows —
    a left-semi hit-join and two tiny aggregations, negligible at any
    corpus scale because the report's size is query-count-bounded.
    """
    exact = brute_force_topk(spark, sf_dir, query_ids, k)
    approx = ivf_search(spark, sf_dir, query_ids, k, n_centroids, nprobe)
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(
            approx.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    exact_mean = exact.groupBy("query_id").agg(
        F.round(F.avg("cosine") + F.lit(1e-8), 4).alias("exact_mean_cosine")
    )
    ivf_mean = approx.groupBy("query_id").agg(
        F.round(F.avg("cosine") + F.lit(1e-8), 4).alias("ivf_mean_cosine")
    )
    # LEFT joins from the exact side: a query whose probed cells hold no
    # candidates returns ZERO ivf rows, and the recall-0 case is exactly
    # what this harness exists to surface — it must appear as
    # recall_at_k=0 / ivf_mean_cosine=NULL, never silently drop.
    return (
        exact_mean.join(ivf_mean, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("int").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(k)) + F.lit(1e-8),
                4,
            ).alias("recall_at_k"),
            "exact_mean_cosine",
            "ivf_mean_cosine",
        )
        .orderBy("query_id")
    )


def ivf_recall_curve(
    spark: SparkSession,
    sf_dir: str,
    query_ids: tuple[int, ...] = (0, 1, 2, 3, 4),
    k: int = 10,
    n_centroids: int = 8,
    nprobes: tuple[int, ...] = (1, 2, 4),
) -> DataFrame:
    """The nprobe TUNING CURVE: per-query recall@k at several probe widths
    in ONE query — the plot an index rollout is tuned from (recall rises
    monotonically with nprobe; the knee picks the production setting).

    Plan shape: the probe ranking and the candidate scoring run ONCE at
    the WIDEST nprobe (probe rank ``pr`` rides the candidate rows); each
    curve point is then a window re-rank of the already-scored candidate
    subset ``pr <= p`` — |queries|-partition windows over a
    candidate-sized frame, so widening the curve adds no corpus scans.
    The exact ground truth is one brute-force pass shared by every point.
    Recall monotonicity in nprobe is pytest-pinned.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    max_p = max(nprobes)
    # Round-16 census fix (three pins): ``queries`` feeds the probe
    # ranking AND the output grid, ``exact_ids`` is LEFT-SEMI-joined to
    # the nprobe union — and Catalyst pushes a semi join below Union, so
    # unpinned the whole brute-force ground-truth subtree re-executed
    # inside EVERY curve point's branch (7 embeddings scans).  The
    # shared centroid frame mirrors the ivf_search fix.  All three
    # pinned frames are query-grain (|queries| or |queries|·k rows);
    # post-fix the corpus is read exactly three times, once each —
    # assignment build, candidate scoring, exact ground truth — the
    # minimum a recall report against exact truth admits.
    cents = lowid_centroids(emb, n_centroids).transform(pin)
    assign = _assign_to_centroids(emb, cents).select("vec_id", "centroid_id")
    queries = (
        emb.filter(F.col("vec_id").isin(*query_ids))
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        )
        .transform(pin)
    )
    probe_scored = queries.crossJoin(F.broadcast(cents)).withColumn(
        "ccos", F.round(cosine_expr("q_emb", "c_emb") + F.lit(1e-8), 6)
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("centroid_id").asc()
    )
    probes = (
        probe_scored.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= max_p)
        .select("query_id", "centroid_id", "q_emb", "pr")
    )
    cand = (
        emb.join(assign, "vec_id")
        .join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", cosine_expr("q_emb", "embedding"))
        .select("query_id", "vec_id", "pr", "cosine")
        .transform(pin)  # one scoring pass feeds every point
    )
    exact_ids = (
        brute_force_topk(spark, sf_dir, query_ids, k)
        .select("query_id", "neighbor_id")
        .transform(pin)
    )
    points = []
    for p in sorted(nprobes):
        sel = _topk(cand.filter(F.col("pr") <= p), k).select(
            F.lit(p).cast("int").alias("nprobe"), "query_id", "neighbor_id"
        )
        points.append(sel)
    curve = points[0]
    for sel in points[1:]:
        curve = curve.unionByName(sel)
    hits = (
        curve.join(exact_ids, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("nprobe", "query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    # The grid is the LITERAL nprobes x queries cross product, NOT
    # whatever points the candidate set happened to produce: a point
    # whose probed cells hold no candidates must appear as recall 0 —
    # silently dropping the curve's worst points is the same bug the
    # recall report's LEFT join fixes.
    nprobe_df = spark.createDataFrame(
        [(int(p),) for p in sorted(nprobes)], "nprobe int"
    )
    grid = queries.select("query_id").crossJoin(nprobe_df)
    return (
        grid.join(hits, ["nprobe", "query_id"], "left")
        .select(
            "nprobe",
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("int").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(k)) + F.lit(1e-8),
                4,
            ).alias("recall_at_k"),
        )
        .orderBy("nprobe", "query_id")
    )


def embedding_norm_audit(
    spark: SparkSession, sf_dir: str, eps: float = 1e-6
) -> DataFrame:
    """Embedding-table VALIDATION report, per label bucket: vector count,
    dimensionality (+ how many distinct dims appear — anything but 1 is a
    corrupt ingest), L2-norm stats, and the zero-vector count.  Every
    assumption the ANN tier builds on — constant dim, unit-ish norms, no
    degenerate vectors (a zero vector makes cosine undefined) — checked
    in one scan BEFORE an index build spends cluster-hours; this is the
    operational twin of the unit-norm pytest pin.

    Plan shape: one corpus scan, norms in a codegen projection, one
    map-side-combined rollup to |labels| rows.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    norm = F.expr(_NORM.format(v="embedding"))
    d = emb.select(
        "label",
        F.size("embedding").alias("dim"),
        norm.alias("l2"),
    )
    return (
        d.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_vecs"),
            F.max("dim").cast("int").alias("dim"),
            F.countDistinct("dim").cast("int").alias("n_dim_variants"),
            F.round(F.avg("l2") + F.lit(1e-8), 4).alias("mean_norm"),
            F.round(F.min("l2") + F.lit(1e-8), 4).alias("min_norm"),
            F.round(F.max("l2") + F.lit(1e-8), 4).alias("max_norm"),
            F.sum((F.col("l2") < eps).cast("int")).cast("int").alias("n_zero"),
        )
        .orderBy("label")
    )


def compact_pq_index(
    spark: SparkSession,
    path: str,
    gc_immediately: bool = True,
) -> int:
    """Index-lifecycle step 3: fold every ``codes/batch_id=N`` append
    prefix back into a single base generation, returning the number of
    batch prefixes folded.  Per-micro-batch appends accumulate one
    directory (and >= 1 file) per trigger; at ingest rates of thousands
    of batches the codes scan pays footer-read + task-schedule overhead
    per file and partition discovery walks an ever-growing tree —
    compaction is the standard antidote (sinks.compact_parquet's
    rationale, applied to the index layout).

    Mechanics: the genstore manifest-pointer commit (sources/genstore.py
    — VERDICT r7 item 2): the live generations are rewritten partitioned
    by ``centroid_id`` into a brand-new ``codes/batch_id={live-1}``
    directory, one small manifest write flips readers to it, and the
    superseded directories are garbage-collected afterwards.  No
    directory rename, and nothing is deleted before its replacement is
    committed — correct on HDFS/S3 as well as local disk.  Content is
    proven unchanged by the companion test (codes rows AND search
    results identical, generation count collapses to 1).  Centroids and
    codebook are untouched — compaction is a physical re-layout, never a
    re-train; cell re-training on drift stays ivf_cell_stats' trigger."""
    from ..sources.genstore import fold_generations
    from ..sources.sinks import write_parquet

    codes_dir = f"{path}/codes"

    def write_new_base(live_filter, new_base: int) -> None:
        codes = (
            spark.read.parquet(codes_dir)
            .filter(live_filter)
            .select("vec_id", "codes", "centroid_id")
        )
        write_parquet(
            codes,
            f"{codes_dir}/batch_id={int(new_base)}",
            partition_by=["centroid_id"],
        )

    # Only true APPEND generations count toward the "prefixes folded"
    # return — the base is identified by its negative id, never folded
    # (ADVICE r6 off-by-one preserved under the manifest layout).
    return fold_generations(
        spark, codes_dir, [codes_dir], write_new_base,
        gc_immediately=gc_immediately,
    )


#: Label predicate for the filtered-search catalog entry (shared with the
#: oracle's cand-CTE join — the constants discipline).
ANN_FILTER_LABEL = 3


def ivf_pq_search_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog spelling of FILTERED vector search — metadata predicate +
    ANN in one query (the vector-store feature every retrieval stack
    needs: "nearest neighbors WHERE label = L").  Composes
    :func:`ivf_pq_search` with its pre-filter candidate gate; the oracle
    is the composed IVFADC oracle with the same label join inside the
    cand CTE."""
    return ivf_pq_search(spark, sf_dir, label=ANN_FILTER_LABEL)


def embedding_staleness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-staleness audit — the consistency check between the vector
    index and the curated corpus it is supposed to represent: after a
    quality-gate re-run (thresholds move, models retrain), every vector
    whose document no longer SURVIVES the gate is stale index mass —
    retrieval can surface content curation already rejected.  Per label:
    vector count, stale count (doc gate-dropped or vanished), stale rate.
    The per-label grain localizes which index cells/partitions a cleanup
    rewrite must touch; pairs with ``ivf_cell_stats`` (physical health)
    and ``embedding_norm_audit`` (numeric health) as the third
    index-audit leg.

    Plan: the gate is the classifier's single codegen projection over the
    documents scan; one LEFT join vec→doc keep-flag (doc-grain, AQE
    broadcasts the smaller side at test SF), one map-side-combinable
    per-label rollup.  Nothing quadratic, nothing corpus-collected."""
    from .quality import classify_documents, quality_features

    keeps = classify_documents(
        quality_features(load_table(spark, sf_dir, "documents"))
    ).select("doc_id", "keep")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    stale = F.when(F.col("keep").isNull() | ~F.col("keep"), 1).otherwise(0)
    return (
        emb.join(keeps, emb.vec_id == keeps.doc_id, "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_vecs"),
            F.sum(stale).cast("int").alias("n_stale"),
        )
        .select(
            "label",
            "n_vecs",
            "n_stale",
            F.round(F.col("n_stale") / F.col("n_vecs") + F.lit(1e-8), 4).alias(
                "stale_rate"
            ),
        )
        .orderBy("label")
    )
