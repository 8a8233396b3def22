"""Semantic tests for the LLM-pipeline operators (beyond oracle parity):
planted near-duplicates are found, LSH candidates cover Jaccard pairs,
similarity ranking is sane, the multimodal stub boundary is explicit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_pyspark_streaming_analytics_spark.operators import (
    chunking,
    dedup,
    multimodal,
    quality,
    similarity,
)

SF = "/root/testdata/sf0.01"  # sf0.001 has too few docs for planted pairs


def test_ngram_jaccard_finds_planted_near_dups(spark):
    pairs = dedup.ngram_jaccard_pairs(spark, SF, threshold=0.5).collect()
    assert len(pairs) >= 10  # the generator plants ~25 near-dup pairs
    for r in pairs:
        assert 0.5 <= r["jaccard"] <= 1.0
        assert r["doc_a"] < r["doc_b"]


def test_minhash_lsh_covers_high_jaccard_pairs(spark):
    """LSH candidates must contain (almost all of) the true Jaccard>=0.5
    pairs — the banding theorem's guarantee at 4x4 is ~96% for j=0.5 and
    >99.9% for j>=0.7, and the planted pairs are high-similarity."""
    true_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(spark, SF, threshold=0.7).collect()
    }
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_candidates(spark, SF).collect()
    }
    assert true_pairs, "expected planted near-dup pairs in testdata"
    missed = true_pairs - cands
    assert len(missed) <= max(1, len(true_pairs) // 10), f"LSH missed {missed}"


def test_connected_components_transitive_closure(spark):
    """A~B and B~C must land in ONE cluster even though A~C is not an edge
    (the transitivity the pairwise queries can't express), across a chain
    long enough to need multiple propagation rounds."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22)],
        ["doc_a", "doc_b"],
    )
    comp = {
        r["node"]: r["component"]
        for r in dedup.connected_components(edges).collect()
    }
    assert comp == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_connected_components_raises_without_fixpoint(spark):
    """A path longer than max_iter cannot converge; unconverged labels
    would be silently wrong, so the loop must fail rather than warn."""
    edges = spark.createDataFrame(
        [(k, k + 1) for k in range(1, 6)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="no fixpoint after 2 rounds"):
        dedup.connected_components(edges, max_iter=2)


def test_keep_canonical_drops_exactly_non_canonical_members(spark):
    """Surviving corpus = all docs minus every cluster member except the
    smallest; cluster canonicals and untouched docs all survive."""
    comp = dedup.duplicate_components(spark, SF).collect()
    assert comp, "expected planted near-dup clusters in testdata"
    members = {r["doc_id"] for r in comp}
    canonicals = {r["component"] for r in comp}
    assert canonicals <= members
    kept = {r["doc_id"] for r in dedup.keep_canonical(spark, SF).collect()}
    total = dedup.exact_duplicates(spark, SF).agg(F.sum("dup_count")).first()[0]
    assert kept & members == canonicals
    assert len(kept) == total - (len(members) - len(canonicals))


def test_simhash_near_dups_have_close_fingerprints(spark):
    """Near-duplicate documents (high Jaccard) should agree on most SimHash
    bits; random pairs should not systematically."""
    fps = {r["doc_id"]: r["simhash"] for r in dedup.simhash_fingerprints(spark, SF).collect()}
    near = dedup.ngram_jaccard_pairs(spark, SF, threshold=0.8).collect()
    assert near

    def hamming(a: int, b: int) -> int:
        return bin(a ^ b).count("1")

    for r in near:
        assert hamming(fps[r["doc_a"]], fps[r["doc_b"]]) <= 4


def test_brute_force_topk_shape_and_order(spark):
    rows = similarity.brute_force_topk(spark, SF, query_ids=(0, 1), k=5).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1}
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == [1, 2, 3, 4, 5]
        sims = [r["cosine"] for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != q for r in rs)


def test_partitioned_topk_is_subset_semantics(spark):
    """IVF-style candidates come only from the query's bucket, so its top-1
    cosine can never exceed brute force's top-1."""
    bf = {
        r["query_id"]: r["cosine"]
        for r in similarity.brute_force_topk(spark, SF).collect()
        if r["rnk"] == 1
    }
    part = {
        r["query_id"]: r["cosine"]
        for r in similarity.partitioned_topk(spark, SF).collect()
        if r["rnk"] == 1
    }
    for q, c in part.items():
        assert c <= bf[q] + 1e-9


def test_arrow_cosine_twin_matches_jvm_path(spark):
    """The numpy pandas_udf scorer and the JVM higher-order-function scorer
    must produce the same ranking and (to float tolerance) the same
    cosines.  float32 stacking + pairwise numpy summation vs per-element
    double fold can differ in the last ulps, hence the 2e-4 tolerance on
    the 4dp-rounded output."""
    jvm = {
        (r["query_id"], r["neighbor_id"]): (r["rnk"], r["cosine"])
        for r in similarity.brute_force_topk(spark, SF, k=10).collect()
    }
    arrow = {
        (r["query_id"], r["neighbor_id"]): (r["rnk"], r["cosine"])
        for r in similarity.brute_force_topk_arrow(spark, SF, k=10).collect()
    }
    assert set(jvm) == set(arrow)
    for key, (rnk, cos) in jvm.items():
        a_rnk, a_cos = arrow[key]
        assert abs(cos - a_cos) <= 2e-4
        assert rnk == a_rnk or abs(cos - a_cos) > 0  # rank flips only on ties


def test_ivf_search_recall_vs_brute_force(spark):
    """Probing 2/8 clusters must still recover most true neighbors (the
    planted clusters are compact), never ALL candidates (the point is to
    scan less), and every returned neighbor must carry its true cosine —
    i.e. ivf results are a subset of the brute-force ranking's pool."""
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity.brute_force_topk(spark, SF, k=30).collect()
    }
    ivf_rows = similarity.ivf_search(spark, SF, k=10).collect()
    by_q = {}
    for r in ivf_rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    hits = total = 0
    for q, rs in by_q.items():
        assert sorted(r["rnk"] for r in rs) == list(range(1, len(rs) + 1))
        for r in rs:
            total += 1
            key = (q, r["neighbor_id"])
            if key in bf:
                hits += 1
                assert abs(bf[key] - r["cosine"]) < 1e-6
    assert hits / total >= 0.5, f"IVF recall collapsed: {hits}/{total}"


def test_kmeans_ivf_recall_grows_with_nprobe(spark):
    """Lloyd-trained IVF: every vector assigned exactly once, and search
    recall@10 vs brute force must grow monotonically with nprobe, beating
    the nprobe/n_centroids chance floor and reaching >= 0.5 by nprobe=3.
    (The lowest-id pseudo-centroid variant is NOT a fair yardstick here:
    its centroid set contains the query vectors themselves, so the query's
    own cluster is always probed — self-probing recall, not index quality.)
    On this corpus (weak cluster structure, same-label cosine <= ~0.5)
    measured recall is ~0.24/0.46/0.68 at nprobe=1/2/3."""
    assign = similarity.ivf_build_kmeans(spark, SF).collect()
    n_vecs = spark.read.parquet(SF + "/embeddings.parquet").count()
    assert len(assign) == n_vecs
    assert len({r["vec_id"] for r in assign}) == n_vecs

    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(spark, SF, k=10).collect()
    }

    def recall(rows):
        got = {(r["query_id"], r["neighbor_id"]) for r in rows}
        return len(got & bf) / len(bf)

    cents = similarity.kmeans_centroids(spark, SF)
    recalls = [
        recall(similarity.ivf_search(spark, SF, k=10, nprobe=n, centroids=cents).collect())
        for n in (1, 2, 3)
    ]
    assert recalls == sorted(recalls), f"recall not monotone in nprobe: {recalls}"
    assert recalls[0] > 1 / 8, f"nprobe=1 recall at/below chance: {recalls[0]}"
    assert recalls[2] >= 0.5, f"nprobe=3 recall collapsed: {recalls[2]}"


def test_embedding_lsh_near_dups_agree_with_baseline(spark):
    """The random-hyperplane LSH variant must (a) only emit pairs at/above
    the threshold, (b) score any pair it shares with the label-blocked
    baseline identically, and (c) actually find pairs on this corpus.
    (Full recall vs the baseline is NOT asserted: at threshold 0.4 the
    4x4 banding is a candidate generator with recall < 1 by design —
    the sf0.01 recall is printed for the record.)"""
    base = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in similarity.embedding_near_duplicates(spark, SF).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in similarity.embedding_near_duplicates_lsh(spark, SF).collect()
    }
    assert lsh, "LSH found no pairs at all"
    assert all(c >= 0.4 for c in lsh.values())
    shared = set(base) & set(lsh)
    assert all(base[p] == lsh[p] for p in shared)
    print(f"lsh recall vs label-blocked baseline: {len(shared)}/{len(base)}")


def test_stratified_sample_deterministic_and_rate_respecting(spark):
    """The sample must be identical across runs (no seed, no partitioning
    sensitivity) and every kept row must satisfy its stratum's hash-rate
    gate; short docs must be the most aggressively downsampled."""
    a = sorted(map(tuple, quality.stratified_sample(spark, SF).collect()))
    b = sorted(map(tuple, quality.stratified_sample(spark, SF).collect()))
    assert a == b and a
    for doc_id, bucket, keep_hash in a:
        assert keep_hash < quality.SAMPLE_RATES[bucket]


def test_chunks_reconstruct_token_stream(spark):
    """Dropping each chunk's ``overlap``-token prefix (except chunk 0) and
    concatenating in chunk order must reproduce the document's full token
    stream — no token lost or duplicated at window seams."""
    chunk_tokens, overlap = 50, 10
    rows = chunking.chunk_documents(
        spark, SF, chunk_tokens=chunk_tokens, overlap=overlap
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    import re

    docs = {
        r["doc_id"]: re.findall(
            "[a-z]+|[0-9]+|[^a-z0-9 ]", r["text"].lower()
        )
        for r in spark.read.parquet(SF + "/documents.parquet")
        .limit(50)
        .collect()
    }
    checked = 0
    for doc_id, toks in docs.items():
        if not toks:
            assert doc_id not in by_doc
            continue
        chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_id"])
        assert chunks[0]["start"] == 0
        rebuilt = []
        for c in chunks:
            words = c["chunk_text"].split(" ") if c["chunk_text"] else []
            assert len(words) == c["chunk_len"] <= chunk_tokens
            rebuilt.extend(words if c["chunk_id"] == 0 else words[overlap:])
        assert rebuilt == toks, f"doc {doc_id} seam mismatch"
        checked += 1
    assert checked >= 10


def test_packing_blocks_are_contiguous_per_shard(spark):
    """Within a shard, offsets must tile the token stream exactly (each
    doc starts where the previous ended) and block indices must match the
    offsets; some docs must span a block boundary at capacity 512."""
    rows = chunking.pack_documents(spark, SF, capacity=512).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    spans = 0
    for shard, rs in by_shard.items():
        rs = sorted(rs, key=lambda r: r["doc_id"])
        expect = 0
        for r in rs:
            assert r["offset"] == expect
            assert r["start_block"] == r["offset"] // 512
            assert r["end_block"] == (r["offset"] + r["n_tokens"] - 1) // 512
            spans += r["end_block"] > r["start_block"]
            expect = r["offset"] + r["n_tokens"]
    assert spans > 0, "no doc spans a block boundary — capacity too large?"


def test_multimodal_stub_and_real_decode_tiers(spark):
    """stub=True exercises the full Arrow round trip with fake dims;
    stub=False is the REAL header decoder: text payloads are honestly
    'not_an_image' with null dims, and actual PNG/GIF/BMP bytes yield their
    true header dimensions."""
    meta = multimodal.decoded_metadata(spark, SF)
    row = meta.orderBy("doc_id").first()
    assert row["decode_status"] == "stub"
    assert row["channels"] == 3
    assert 16 <= row["width"] < 80 and 16 <= row["height"] < 80

    ingest = multimodal.binary_ingest(spark, SF)
    real = ingest.mapInPandas(
        multimodal.decode_image_batch(stub=False), schema=multimodal.DECODED_SCHEMA
    )
    row = real.orderBy("doc_id").first()
    assert row["decode_status"] == "not_an_image"
    assert row["width"] is None and row["height"] is None


def test_decode_degrades_on_missing_payload(spark):
    """A NULL payload (missing blob at ingest — valid at crawl scale) must
    degrade to decode_status='missing' with null dims in BOTH tiers, never
    crash the Arrow batch (the naive .astype('int64') raised
    IntCastingNaNError on the NaN a null n_bytes becomes — caught by the
    round-10 degenerate-corpus probe)."""
    docs = spark.createDataFrame(
        [(1, None, "en", "web", None), (2, "real text", "en", "web", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    orig = multimodal.load_table
    try:
        multimodal.load_table = lambda sp, d, t: docs  # noqa: ARG005
        for stub, ok_status in ((True, "stub"), (False, "not_an_image")):
            ingest = multimodal.binary_ingest(spark, "ignored")
            out = {
                r["doc_id"]: r
                for r in ingest.mapInPandas(
                    multimodal.decode_image_batch(stub=stub),
                    schema=multimodal.DECODED_SCHEMA,
                ).collect()
            }
            assert out[1]["decode_status"] == "missing"
            assert out[1]["width"] is None and out[1]["channels"] is None
            assert out[2]["decode_status"] == ok_status
    finally:
        multimodal.load_table = orig


def test_parse_image_header_real_formats():
    """The header parser reads true bytes for all three formats and rejects
    garbage: a generated 23x41 PNG parses to exactly (23, 41, 3)."""
    png = multimodal.make_png(23, 41, seed=7)
    assert multimodal.parse_image_header(png) == (23, 41, 3, "png")
    # PNG is fully valid: stdlib zlib must inflate IDAT back to the
    # filtered scanlines (height * (1 + width*3) bytes)
    import zlib

    idat_len = int.from_bytes(png[33:37], "big")
    raw = zlib.decompress(png[41 : 41 + idat_len])
    assert len(raw) == 41 * (1 + 23 * 3)

    gif = b"GIF89a" + (300).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\x00" * 4
    assert multimodal.parse_image_header(gif) == (300, 200, 3, "gif")
    bmp = b"BM" + b"\x00" * 16 + (640).to_bytes(4, "little") + (480).to_bytes(4, "little") + b"\x00" * 4
    assert multimodal.parse_image_header(bmp) == (640, 480, 3, "bmp")
    assert multimodal.parse_image_header(b"plain old text, not an image") is None


def test_png_roundtrip_decodes_true_dims(spark):
    """End-to-end real decode: synthesized PNGs parse back to the exact
    dimensions they were built with."""
    rows = multimodal.png_roundtrip_metadata(spark, SF).collect()
    assert rows and all(r["decode_status"] == "ok" for r in rows)
    for r in rows:
        assert r["width"] == r["doc_id"] % 64 + 16
        assert r["height"] == (r["doc_id"] * 7) % 64 + 16
        assert r["channels"] == 3


def test_binary_ingest_payload_roundtrip(spark):
    """The binary column must round-trip the exact UTF-8 payload."""
    row = (
        multimodal.binary_ingest(spark, SF)
        .filter(F.col("doc_id") == 0)
        .first()
    )
    assert bytes(row["content"]).decode("utf-8")
    assert len(bytes(row["content"])) == row["n_bytes"]


def test_quality_scores_ranges(spark):
    rows = quality.quality_scores(spark, SF).collect()
    for r in rows:
        assert 0.0 <= r["stopword_ratio"] <= 1.0
        assert 0.0 <= r["alpha_ratio"] <= 1.0
        assert 0.0 <= r["quality_score"] <= 1.0 + 1e-6
        assert r["word_count"] > 0


def test_vocabulary_ids_contiguous_and_frequency_ordered(spark):
    from hadoop_pyspark_streaming_analytics_spark.operators import corpus

    rows = corpus.vocabulary(spark, "/root/testdata/sf0.001").collect()
    rows.sort(key=lambda r: r["token_id"])
    assert [r["token_id"] for r in rows] == list(range(1, len(rows) + 1))
    freqs = [r["freq"] for r in rows]
    assert freqs == sorted(freqs, reverse=True)
    for r in rows:
        assert 1 <= r["doc_freq"] <= r["freq"]
    # equal-frequency runs must be token-ascending (deterministic ids)
    for a, b in zip(rows, rows[1:]):
        if a["freq"] == b["freq"]:
            assert a["token"] < b["token"]


def test_tfidf_rare_term_outranks_ubiquitous_term(spark):
    """A token appearing in ONE document must out-score the everywhere
    token within that document — the defining property of idf."""
    from hadoop_pyspark_streaming_analytics_spark.operators.corpus import (
        tfidf_top_terms,
    )

    import hadoop_pyspark_streaming_analytics_spark.operators.corpus as c

    # Equal tf within each doc so idf decides the ranking: "rare"/"zz"
    # appear in 1 of 3 docs (idf = ln(4/2)+1), "common" in all 3 (idf = 1).
    docs = spark.createDataFrame(
        [(1, "common rare"), (2, "common common"), (3, "common zz")],
        "doc_id long, text string",
    )
    orig = c.load_table
    try:
        c.load_table = lambda sp, d, t: docs  # noqa: ARG005
        out = {
            (r["doc_id"], r["token"]): (r["tfidf"], r["term_rank"])
            for r in tfidf_top_terms(spark, "ignored").collect()
        }
    finally:
        c.load_table = orig
    assert out[(1, "rare")][0] > out[(1, "common")][0]
    assert out[(1, "rare")][1] == 1
    assert out[(3, "zz")][1] == 1


def test_repetition_scores_flag_repetitive_doc(spark):
    from hadoop_pyspark_streaming_analytics_spark.operators import corpus as c

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),  # fully repetitive
            (2, "alpha beta gamma delta epsilon"),  # all distinct
            (3, "solo"),  # <2 tokens -> dup_bigram_frac 0.0
        ],
        "doc_id long, text string",
    )
    orig = c.load_table
    try:
        c.load_table = lambda sp, d, t: docs  # noqa: ARG005
        rows = {r["doc_id"]: r for r in c.repetition_scores(spark, "x").collect()}
    finally:
        c.load_table = orig
    assert rows[1]["top_token_frac"] == 1.0
    assert rows[1]["dup_bigram_frac"] > 0.7  # 5 bigrams, 1 distinct -> 0.8
    assert rows[2]["top_token_frac"] < 0.3
    assert rows[2]["dup_bigram_frac"] == 0.0
    assert rows[3]["dup_bigram_frac"] == 0.0
    assert rows[3]["top_token_frac"] == 1.0


def test_hll_sketches_accurate_and_mergeable(spark):
    """The sketch tier's gate (no DuckDB oracle — different HLL impls):
    per-day and global estimates within 5% of exact distinct, and
    merge-of-sketches must agree with a direct sketch over the union —
    the property that makes pre-aggregation sound."""
    from hadoop_pyspark_streaming_analytics_spark.operators import sketches
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_events
    from pyspark.sql import functions as F

    exact = {
        r["event_day"]: r["exact"]
        for r in load_events(spark, SF)
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("event_day"))
        .agg(F.count_distinct("user_id").alias("exact"))
        .collect()
    }
    daily = sketches.daily_user_sketches(spark, SF).collect()
    assert len(daily) == len(exact) > 1
    for r in daily:
        e = exact[r["event_day"]]
        assert abs(r["estimated_users"] - e) <= max(2, 0.05 * e)

    exact_global = load_events(spark, SF).agg(
        F.count_distinct("user_id")
    ).collect()[0][0]
    merged = sketches.merged_distinct_users(spark, SF).collect()[0]
    assert merged["n_days"] == len(exact)
    assert (
        abs(merged["estimated_distinct_users"] - exact_global)
        <= max(2, 0.05 * exact_global)
    )

    # direct sketch over ALL events == union of per-day sketches (exactly:
    # HLL merge is register-max, independent of grouping)
    direct = (
        load_events(spark, SF)
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")))
        .collect()[0][0]
    )
    assert merged["estimated_distinct_users"] == direct


def test_hll_rolling_window_unions_trailing_days(spark):
    """Trailing-7d estimates: day-count rows, each merging at most 7 daily
    sketches; the first day merges exactly 1 and every estimate is >= that
    day's own (union can only grow) and within 5% of the exact trailing
    distinct."""
    from hadoop_pyspark_streaming_analytics_spark.operators import sketches
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_events
    from pyspark.sql import functions as F
    import datetime as dt

    rows = sketches.rolling_distinct_users(spark, SF).collect()
    daily = {
        r["event_day"]: r["estimated_users"]
        for r in sketches.daily_user_sketches(spark, SF).collect()
    }
    assert len(rows) == len(daily)
    ev = load_events(spark, SF).select(
        F.to_date(F.date_trunc("day", "ts")).alias("d"), "user_id"
    ).collect()
    by_day: dict = {}
    for r in ev:
        by_day.setdefault(r["d"], set()).add(r["user_id"])
    for r in rows:
        assert 1 <= r["days_merged"] <= 7
        assert r[f"users_trailing_7d"] >= daily[r["event_day"]] * 0.95
        exact = len(
            set().union(
                *(
                    by_day.get(r["event_day"] - dt.timedelta(days=k), set())
                    for k in range(7)
                )
            )
        )
        assert abs(r["users_trailing_7d"] - exact) <= max(2, 0.05 * exact)


def test_locf_resample_fills_gaps_with_prior_value(spark):
    """Every user's grid is a contiguous hourly spine; filled rows carry
    the most recent earlier observation; observed rows keep their own
    (latest-in-hour) value."""
    import datetime as dt

    from hadoop_pyspark_streaming_analytics_spark.operators import timeseries

    rows = timeseries.resample_hourly_locf(spark, SF).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    filled = observed = 0
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r["hour_ts"])
        hours = [r["hour_ts"] for r in rs]
        assert hours == [
            hours[0] + dt.timedelta(hours=k) for k in range(len(hours))
        ], f"spine not contiguous for user {uid}"
        assert rs[0]["is_filled"] is False  # spine starts at an observation
        prev = None
        for r in rs:
            assert r["value_locf"] is not None
            if r["is_filled"]:
                filled += 1
                assert r["value_locf"] == prev
            else:
                observed += 1
            prev = r["value_locf"]
    assert filled > 0 and observed > 0  # the grid really was densified


def test_int8_quantization_preserves_neighborhoods(spark):
    """Quantized codes must be valid int8, dequantize to within the 1/127
    grid of the original values, and preserve cosine neighborhoods: top-10
    by dequantized cosine overlaps >= 70% with full-precision top-10."""
    import numpy as np

    rows = similarity.quantize_embeddings_int8(spark, SF).collect()
    full = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(SF + "/embeddings.parquet").collect()
    }
    deq = {}
    for r in rows:
        q = np.array([int(x) for x in r["q_csv"].split(",")], dtype=np.int64)
        assert np.abs(q).max() <= 127
        v = full[r["vec_id"]]
        ma = np.abs(v).max()
        assert abs(r["scale_max_abs"] - ma) < 1e-5
        d = q * ma / 127.0
        assert np.abs(d - v).max() <= ma / 127.0 + 1e-9
        deq[r["vec_id"]] = d

    def topk(vecs, qid, k=10):
        qv = vecs[qid]
        sims = {
            i: float(np.dot(qv, v) / (np.linalg.norm(qv) * np.linalg.norm(v)))
            for i, v in vecs.items()
            if i != qid
        }
        return {i for i, _ in sorted(sims.items(), key=lambda kv: -kv[1])[:k]}

    for qid in list(full)[:5]:
        overlap = len(topk(full, qid) & topk(deq, qid)) / 10
        assert overlap >= 0.7, f"neighborhood broke under int8: {overlap}"


def test_token_budget_selection_is_greedy_prefix(spark):
    """Selection must be the exact greedy prefix of the (quality DESC,
    doc_id) order: budget respected, prefix-closed (every doc better-ranked
    than a selected doc is selected), and maximal (the next doc would
    overflow the budget)."""
    from hadoop_pyspark_streaming_analytics_spark.operators.corpus import (
        select_corpus_token_budget,
    )
    from hadoop_pyspark_streaming_analytics_spark.operators.quality import (
        quality_scores,
    )

    budget = 2000
    sel = select_corpus_token_budget(spark, SF, token_budget=budget).collect()
    assert sel, "budget selected nothing"
    assert max(r["cum_tokens"] for r in sel) <= budget

    pool = sorted(
        quality_scores(spark, SF)
        .select("doc_id", "word_count", "quality_score")
        .collect(),
        key=lambda r: (-r["quality_score"], r["doc_id"]),
    )
    greedy, cum = [], 0
    for r in pool:
        if cum + r["word_count"] > budget:
            break  # strict prefix: first overflow stops selection
        cum += r["word_count"]
        greedy.append(r["doc_id"])
    assert {r["doc_id"] for r in sel} == set(greedy)


def test_token_budget_with_tokenizer_true_counts(spark):
    """The counts= override must price the SAME greedy prefix rule with
    the provided per-doc token counts (here: the trained BPE totals) —
    the budget then bounds true tokens, not regex words."""
    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.operators.corpus import (
        bpe_token_counts,
        select_corpus_token_budget,
    )
    from hadoop_pyspark_streaming_analytics_spark.operators.quality import (
        quality_scores,
    )

    budget = 2000
    counts_df = bpe_token_counts(spark, SF).select(
        "doc_id", F.col("n_bpe_tokens").alias("n_tokens")
    )
    sel = select_corpus_token_budget(
        spark, SF, token_budget=budget, counts=counts_df
    ).collect()
    assert sel and max(r["cum_tokens"] for r in sel) <= budget
    true_counts = {r["doc_id"]: r["n_tokens"] for r in counts_df.collect()}
    pool = sorted(
        quality_scores(spark, SF).select("doc_id", "quality_score").collect(),
        key=lambda r: (-r["quality_score"], r["doc_id"]),
    )
    greedy, cum = [], 0
    for r in pool:
        c = true_counts.get(r["doc_id"])
        if c is None:
            continue  # wordless docs have no BPE price and cannot be selected
        if cum + c > budget:
            break
        cum += c
        greedy.append(r["doc_id"])
    assert {r["doc_id"] for r in sel} == set(greedy)
    for r in sel:
        assert r["word_count"] == true_counts[r["doc_id"]]


def test_staleness_audit_matches_classifier_and_bucket_cap_bounds_pairs(spark):
    """(a) The staleness audit's per-label stale counts must equal a
    first-principles recount from the classifier's keep flags joined to
    the embedding labels.  (b) image_near_duplicates' max_bucket cap must
    only ever REMOVE pairs (capped band buckets emit none), and a
    clearly-sub-bucket cap must kill the fixture's degenerate hot-bucket
    mass."""
    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.operators import multimodal, similarity
    from hadoop_pyspark_streaming_analytics_spark.operators.quality import (
        classify_documents,
        quality_features,
    )
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    keeps = {
        r["doc_id"]: r["keep"]
        for r in classify_documents(
            quality_features(load_table(spark, SF, "documents"))
        ).collect()
    }
    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, SF, "embeddings").collect()
    }
    want = {}
    for vec_id, label in labels.items():
        n, s = want.get(label, (0, 0))
        want[label] = (n + 1, s + (0 if keeps.get(vec_id) else 1))
    got = {
        r["label"]: (r["n_vecs"], r["n_stale"])
        for r in similarity.embedding_staleness_audit(spark, SF).collect()
    }
    assert got == want

    uncapped = multimodal.image_near_duplicates(spark, SF)
    capped = multimodal.image_near_duplicates(spark, SF, max_bucket=4)
    up = {(r["doc_id_a"], r["doc_id_b"]) for r in uncapped.collect()}
    cp = {(r["doc_id_a"], r["doc_id_b"]) for r in capped.collect()}
    assert cp <= up
    assert len(cp) < len(up)  # the gradient fixture's hot buckets are capped


def test_filtered_search_returns_only_matching_labels(spark):
    """Filtered vector search (pre-filter strategy): every returned
    neighbor must carry the filter label, ranks must be contiguous from 1
    per query, and the result must be a SUBSET-REFINEMENT of the
    unfiltered search's candidate universe — i.e. re-running unfiltered
    and intersecting with the label set can only lose rows to shortlist
    competition, never gain ones the filtered path missed at equal
    shortlist pressure."""
    from hadoop_pyspark_streaming_analytics_spark.operators import similarity
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    rows = similarity.ivf_pq_search_filtered(spark, SF).collect()
    assert rows
    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, SF, "embeddings").select("vec_id", "label").collect()
    }
    assert all(labels[r["vec_id"]] == similarity.ANN_FILTER_LABEL for r in rows)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rk"], r["dist"]))
    for q, rs in by_q.items():
        rs.sort()
        assert [rk for rk, _ in rs] == list(range(1, len(rs) + 1))
        assert all(rs[i][1] <= rs[i + 1][1] for i in range(len(rs) - 1))


def test_image_ahash_dedup_finds_identical_images(spark):
    """Fixture PNGs repeat exactly every 256 doc_ids (dims are mod-64
    functions of doc_id; pixels are mod-256) — so every (i, i+256) pair
    must surface with hamming 0, and hamming must be symmetric-consistent:
    a pair's reported distance equals bit_count(ahash_a XOR ahash_b)
    recomputed from the pure-python ahash64 on independently decoded
    fixtures."""
    from hadoop_pyspark_streaming_analytics_spark.operators import multimodal

    rows = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
        for r in multimodal.image_near_duplicates(spark, SF).collect()
    }
    n_docs = 500  # sf0.01 documents count
    for i in range(n_docs - 256):
        assert rows.get((i, i + 256)) == 0, f"identical pair ({i},{i+256}) missed"
    # spot-recompute five reported distances from first principles
    import itertools

    for (a, b), d in itertools.islice(rows.items(), 5):
        ha = multimodal.ahash64(
            *_decoded(multimodal, a)
        )
        hb = multimodal.ahash64(
            *_decoded(multimodal, b)
        )
        assert bin((ha ^ hb) & ((1 << 64) - 1)).count("1") == d


def _decoded(multimodal, doc_id):
    w = doc_id % 64 + 16
    h = doc_id * 7 % 64 + 16
    dw, dh, px = multimodal.decode_png_pixels(multimodal.make_png(w, h, doc_id))
    assert (dw, dh) == (w, h)
    return px, dw, dh


def test_png_pixel_decode_and_resize_exact():
    """decode_png_pixels must invert make_png exactly; resize_nearest must
    sample the expected source pixels."""
    import numpy as np

    from hadoop_pyspark_streaming_analytics_spark.operators.multimodal import (
        decode_png_pixels,
        make_png,
        resize_nearest,
    )

    w, h, seed = 20, 11, 7
    wd, hd, px = decode_png_pixels(make_png(w, h, seed))
    assert (wd, hd) == (w, h)
    arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3)
    for y in (0, 5, 10):
        for x in (0, 9, 19):
            assert tuple(arr[y, x]) == ((seed + x + y) % 256,) * 3

    out = np.frombuffer(resize_nearest(px, w, h, 4, 4), dtype=np.uint8).reshape(
        4, 4, 3
    )
    for ty in range(4):
        for tx in range(4):
            sx, sy = (tx * w) // 4, (ty * h) // 4
            assert tuple(out[ty, tx]) == tuple(arr[sy, sx])

    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_png_pixels(b"GIF89a notapng")


def test_session_attribution_agrees_with_session_window_tier(spark):
    """Every event gets exactly one session_start, and the distinct
    (user, session_start) pairs + per-session event counts must equal the
    native session_window aggregation's rows — the gaps-and-islands and
    session_window tiers are the same partition of events."""
    from hadoop_pyspark_streaming_analytics_spark.operators.timeseries import (
        event_session_attribution,
        user_sessions,
    )

    attr = event_session_attribution(spark, SF).collect()
    sessions = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in user_sessions(spark, SF).collect()
    }
    counts: dict = {}
    for r in attr:
        counts[(r["user_id"], r["session_start"])] = (
            counts.get((r["user_id"], r["session_start"]), 0) + 1
        )
        assert r["session_start"] <= r["ts"]
    assert counts == sessions


def test_wav_roundtrip_header_and_rms_exact():
    """make_wav -> parse_wav_header must invert exactly, and the PCM
    samples must match the generator formula."""
    import numpy as np

    from hadoop_pyspark_streaming_analytics_spark.operators.multimodal import (
        make_wav,
        parse_wav_header,
    )

    wav = make_wav(250, 16_000, seed=42)
    rate, ch, bits, n, off, dlen = parse_wav_header(wav)
    assert (rate, ch, bits, n) == (16_000, 1, 16, 250)
    assert dlen == 500 and off == len(wav) - dlen
    pcm = np.frombuffer(wav[off : off + dlen], dtype="<i2")
    for i in (0, 100, 249):
        assert pcm[i] == ((42 * 31 + i * 7) % 65536) - 32768
    assert parse_wav_header(b"not a wav at all") is None


def test_wav_parse_stereo_and_trailing_chunk():
    """Header parsing must honor channels/bits from fmt (not hardcoded
    16-bit mono) and locate the data chunk even when a LIST/INFO chunk
    trails it — real-world WAVs routinely have both."""
    import struct

    from hadoop_pyspark_streaming_analytics_spark.operators.multimodal import (
        parse_wav_header,
    )

    # stereo 16-bit, 100 frames -> 400 data bytes, plus a trailing LIST
    pcm = bytes(i % 256 for i in range(400))
    fmt = struct.pack("<HHIIHH", 1, 2, 8_000, 8_000 * 4, 4, 16)
    trailing = b"LIST" + struct.pack("<I", 4) + b"INFO"
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
        + trailing
    )
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    rate, ch, bits, n, off, dlen = parse_wav_header(wav)
    assert (rate, ch, bits) == (8_000, 2, 16)
    assert n == 100  # 400 bytes / (2 ch * 2 bytes) — the old //2 said 200
    assert wav[off : off + dlen] == pcm
    assert off + dlen == len(wav) - len(trailing)


def test_avi_container_roundtrip_exact():
    """make_avi -> parse_avi_frames must recover every frame payload
    byte-for-byte, and each frame must pixel-decode with its own seed."""
    from hadoop_pyspark_streaming_analytics_spark.operators.multimodal import (
        decode_png_pixels,
        make_avi,
        make_png,
        parse_avi_frames,
    )

    avi = make_avi(7, seed=5, width=10, height=6)
    frames = parse_avi_frames(avi)
    assert len(frames) == 7
    for f, payload in enumerate(frames):
        assert payload == make_png(10, 6, 5 + f)
        w, h, px = decode_png_pixels(payload)
        assert (w, h) == (10, 6)
        assert px[0] == (5 + f) % 256  # pixel (0,0)
    assert parse_avi_frames(b"RIFFxxxxWAVE") == []


def test_shard_assignment_stable_under_dataset_growth(spark):
    """The id-keyed hash design's growth guarantee: a document's SHARD is
    a function of its id alone, so growing the corpus 10x (sf0.01's ids
    0-499 are a prefix of sf0.1's 0-4999) must keep every overlapping
    document's shard — no reshard churn across dataset versions.  (The
    length/source-conditioned samplers intentionally depend on CONTENT,
    which differs per SF, so only the pure-id ops carry this guarantee.)"""
    from hadoop_pyspark_streaming_analytics_spark.operators import quality

    small, big = SF, "/root/testdata/sf0.1"
    shard_s = {
        r["doc_id"]: r["shard"]
        for r in quality.training_shard_assignment(spark, small).collect()
    }
    shard_b = {
        r["doc_id"]: r["shard"]
        for r in quality.training_shard_assignment(spark, big).collect()
    }
    assert set(shard_s) < set(shard_b)  # true growth
    for d, s in shard_s.items():
        assert shard_b[d] == s  # no churn on the overlap


def test_pii_redaction_semantics(spark):
    """A doc divisible by 3/5/7 gets all three PII kinds injected and each
    must be counted and scrubbed; a doc coprime to all three gets none."""
    from hadoop_pyspark_streaming_analytics_spark.operators import scrubbing

    rows = {
        r["doc_id"]: r
        for r in scrubbing.pii_redaction(spark, SF).collect()
    }
    hit = rows[105]  # 3*5*7
    assert (hit["n_emails"], hit["n_phones"], hit["n_ips"]) == (1, 1, 1)
    assert hit["chars_removed"] > 0
    clean = rows[1]
    assert (clean["n_emails"], clean["n_phones"], clean["n_ips"]) == (0, 0, 0)
    assert clean["chars_removed"] == 0


def test_pii_staged_counts_do_not_double_count_overlaps(spark):
    """ADVICE r3: counts must equal substitutions actually performed —
    an address like a@1.2.3.4.example.com is consumed ONCE as [EMAIL], so
    it must increment n_emails only, not also n_ips.  Staged counting
    (phones after email replacement, IPs after phone replacement) gives
    exactly that; this pins the overlap case end-to-end through the same
    expressions pii_redaction uses."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.operators.scrubbing import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
    )

    df = spark.createDataFrame(
        [
            Row(s="write a@1.2.3.4.example.com soon"),      # email containing an ip-shape
            Row(s="mail x@y.io then ip 10.0.0.1 separate"), # genuinely both
        ]
    )
    after_email = F.regexp_replace(F.col("s"), EMAIL_RE, "[EMAIL]")
    after_phone = F.regexp_replace(after_email, PHONE_RE, "[PHONE]")
    out = df.select(
        F.size(F.regexp_extract_all(F.col("s"), F.lit(EMAIL_RE), 0)).alias("e"),
        F.size(F.regexp_extract_all(after_email, F.lit(PHONE_RE), 0)).alias("p"),
        F.size(F.regexp_extract_all(after_phone, F.lit(IPV4_RE), 0)).alias("ip"),
    ).collect()
    assert (out[0]["e"], out[0]["p"], out[0]["ip"]) == (1, 0, 0)
    assert (out[1]["e"], out[1]["p"], out[1]["ip"]) == (1, 0, 1)


def test_contamination_excludes_benchmark_and_bounds(spark):
    from hadoop_pyspark_streaming_analytics_spark.operators import scrubbing

    df = scrubbing.contamination_check(spark, SF)
    rows = df.collect()
    assert all(r["doc_id"] % scrubbing.BENCHMARK_MOD != 0 for r in rows)
    assert all(0.0 <= r["contamination_frac"] <= 1.0 for r in rows)
    # the tiny shared vocabulary guarantees SOME trigram overlap exists
    assert any(r["n_contaminated"] > 0 for r in rows)


def test_contamination_bloom_matches_exact_twin(spark):
    """The Bloom-gated spelling must be BIT-IDENTICAL to the exact join:
    Bloom filters have no false negatives and survivors are exact-verified,
    so the sketch is a physical optimization only.  Also pins the
    no-false-negative property directly: every gram of the benchmark set
    passes its own bitmap."""
    from hadoop_pyspark_streaming_analytics_spark.operators import scrubbing

    exact = {
        r["doc_id"]: (r["n_grams"], r["n_contaminated"], r["contamination_frac"])
        for r in scrubbing.contamination_check(spark, SF).collect()
    }
    bloom = {
        r["doc_id"]: (r["n_grams"], r["n_contaminated"], r["contamination_frac"])
        for r in scrubbing.contamination_check_bloom(spark, SF).collect()
    }
    assert bloom == exact

    # adversarial no-false-negative check on synthetic keys numerous enough
    # (5000 over 16Ki bits) to exercise every word including bit-63 sign
    # handling: every inserted key must test positive under the production
    # build + membership expressions.
    from pyspark.sql import functions as F

    grams = spark.createDataFrame(
        [(f"w{i} x{i} y{i}",) for i in range(5000)], "gram string"
    )
    words = scrubbing._bloom_build_words(grams, "gram")
    assert any(w < 0 for w in words), "test corpus never set a sign bit"
    contained = scrubbing._bloom_might_contain(F.col("gram"), words)
    assert grams.filter(~contained).count() == 0


def test_unigram_surprisal_orders_rare_token_docs_higher(spark):
    """A doc made of the corpus's rarest tokens must out-surprise a doc of
    its commonest tokens — checked by reconstructing the unigram model."""
    from hadoop_pyspark_streaming_analytics_spark.operators import corpus

    surp = corpus.unigram_surprisal(spark, SF)
    toks = corpus._doc_tokens(
        __import__(
            "hadoop_pyspark_streaming_analytics_spark.sources.readers",
            fromlist=["load_table"],
        ).load_table(spark, SF, "documents")
    )
    freq = toks.groupBy("token").count()
    common = freq.orderBy(F.desc("count"), "token").first()["token"]
    rare = freq.orderBy("count", "token").first()["token"]
    # mean doc surprisal must correlate: every doc's value sits between the
    # two extremes' single-token surprisals
    import math

    total = toks.count()
    c_common = freq.filter(F.col("token") == common).first()["count"]
    c_rare = freq.filter(F.col("token") == rare).first()["count"]
    lo = -math.log(c_common / total)
    hi = -math.log(c_rare / total)
    vals = [r["mean_surprisal"] for r in surp.collect()]
    assert all(lo - 1e-6 <= v <= hi + 1e-6 for v in vals)


def test_pq_codes_shape_and_selfmatch(spark):
    """Every vector yields exactly PQ_M codes in [0, PQ_K); a codebook
    vector's code in every subspace is itself (distance 0)."""
    from hadoop_pyspark_streaming_analytics_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        pq_codes,
    )

    df = pq_codes(spark, SF)
    n_vec = df.select("vec_id").distinct().count()
    assert df.count() == n_vec * PQ_M
    assert df.filter((F.col("code") < 0) | (F.col("code") >= PQ_K)).count() == 0
    self_rows = df.filter(F.col("vec_id") < PQ_K).collect()
    assert all(r["code"] == r["vec_id"] and r["dist"] == 0.0 for r in self_rows)


def test_stratified_fixed_n_sample_exact_quota(spark):
    """Each stratum yields exactly min(N, stratum size) docs, and repeated
    runs pick the identical set (seedless hash order)."""
    from hadoop_pyspark_streaming_analytics_spark.operators.quality import (
        stratified_fixed_n_sample,
    )
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    sizes = {
        r["lang"]: r["count"]
        for r in load_table(spark, SF, "documents").groupBy("lang").count().collect()
    }
    got = (
        stratified_fixed_n_sample(spark, SF, n_per_stratum=40)
        .groupBy("lang")
        .count()
        .collect()
    )
    for r in got:
        assert r["count"] == min(40, sizes[r["lang"]])
    a = sorted(
        r["doc_id"]
        for r in stratified_fixed_n_sample(spark, SF, 40).collect()
    )
    b = sorted(
        r["doc_id"]
        for r in stratified_fixed_n_sample(spark, SF, 40).collect()
    )
    assert a == b


def test_point_in_time_matches_versions_and_nulls_predate(spark):
    """Every purchase joins to at most one version; purchases before a
    user's first signup carry null dims; matched rows satisfy the validity
    interval."""
    from hadoop_pyspark_streaming_analytics_spark.operators.temporal import (
        point_in_time_value,
    )

    df = point_in_time_value(spark, SF)
    total = df.count()
    assert df.select("event_id").distinct().count() == total  # ≤1 version/fact
    matched = df.filter(F.col("valid_from").isNotNull())
    assert matched.filter(F.col("ts") < F.col("valid_from")).count() == 0


def test_chunk_udtf_twin_matches_codegen_chunker(spark):
    """The Python-UDTF chunker must emit EXACTLY the codegen chunker's
    rows — same tokenization, same window starts, same final-window cap."""
    from hadoop_pyspark_streaming_analytics_spark.operators.chunking import (
        chunk_documents,
        chunk_documents_udtf,
    )

    a = sorted(
        map(tuple, chunk_documents(spark, SF).collect())
    )
    b = sorted(
        map(tuple, chunk_documents_udtf(spark, SF).collect())
    )
    assert a == b


def test_keep_best_quality_picks_top_scored_member(spark):
    """Same survivor count as keep_canonical (one per cluster + all
    unclustered), and each cluster's kept member has the cluster-max
    quality score."""
    from hadoop_pyspark_streaming_analytics_spark.operators.dedup import (
        duplicate_components,
        keep_best_quality,
        keep_canonical,
    )
    from hadoop_pyspark_streaming_analytics_spark.operators.quality import (
        quality_scores,
    )

    best = keep_best_quality(spark, SF)
    assert best.count() == keep_canonical(spark, SF).count()
    comp = duplicate_components(spark, SF)
    qual = quality_scores(spark, SF).select("doc_id", "quality_score")
    cluster_max = (
        comp.join(qual, "doc_id")
        .groupBy("component")
        .agg(F.max("quality_score").alias("max_q"))
    )
    kept_clustered = best.join(comp, "doc_id").join(cluster_max, "component")
    assert kept_clustered.filter(
        F.col("quality_score") != F.col("max_q")
    ).count() == 0


def test_doc_ngrams_short_docs_yield_no_grams(spark):
    """Docs with fewer than NGRAM_N tokens must produce zero grams, not a
    slice(toks, 0, n) runtime error (Spark's sequence(1, 0) descends)."""
    from pyspark.sql import Row

    from hadoop_pyspark_streaming_analytics_spark.operators.scrubbing import (
        _doc_ngrams,
    )

    tiny = spark.createDataFrame(
        [
            Row(doc_id=1, text=""),
            Row(doc_id=2, text="hi"),
            Row(doc_id=3, text="one two"),
            Row(doc_id=4, text="one two three"),
        ]
    )
    rows = _doc_ngrams(tiny).collect()
    assert {r["doc_id"] for r in rows} == {4}
    assert rows[0]["gram"] == "one two three"


def test_pii_regexes_agree_across_engines_on_adversarial_strings(spark):
    """The PII patterns run as Java regex in Spark and RE2 in DuckDB —
    pin dialect equivalence (match counts AND replacement output) on
    adversarial inputs: plus/dot addressing, trailing punctuation,
    boundary-adjacent digits, almost-IPs, almost-phones."""
    import duckdb
    from pyspark.sql import Row

    from hadoop_pyspark_streaming_analytics_spark.operators.scrubbing import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
    )

    cases = [
        "mail a.b+c_d%e@sub.domain.example.com end",
        "no-at-sign example.com and user@nodot stay",
        "edge user@x.co, punctuation right after",
        "call 555-1234 now",
        "not a phone 1555-1234 or 555-12345",
        "ip 10.0.0.1 ok",
        "almost ip 300.300.300.300 still matches shape",
        "version 1.2.3 is not an ip",
        "two mails a@b.io c@d.org one line",
        "",
    ]
    df = spark.createDataFrame([Row(i=i, s=s) for i, s in enumerate(cases)])
    from pyspark.sql import functions as F

    spark_rows = {
        r["i"]: r
        for r in df.select(
            "i",
            F.size(F.regexp_extract_all("s", F.lit(EMAIL_RE), 0)).alias("e"),
            F.size(F.regexp_extract_all("s", F.lit(PHONE_RE), 0)).alias("p"),
            F.size(F.regexp_extract_all("s", F.lit(IPV4_RE), 0)).alias("ip"),
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace("s", EMAIL_RE, "[EMAIL]"),
                    PHONE_RE,
                    "[PHONE]",
                ),
                IPV4_RE,
                "[IP]",
            ).alias("red"),
        ).collect()
    }
    con = duckdb.connect()
    for i, s in enumerate(cases):
        e, p, ip, red = con.execute(
            """
            SELECT len(regexp_extract_all($s, $e)),
                   len(regexp_extract_all($s, $p)),
                   len(regexp_extract_all($s, $i)),
                   regexp_replace(regexp_replace(regexp_replace(
                     $s, $e, '[EMAIL]', 'g'), $p, '[PHONE]', 'g'),
                     $i, '[IP]', 'g')
            """,
            {"s": s, "e": EMAIL_RE, "p": PHONE_RE, "i": IPV4_RE},
        ).fetchone()
        r = spark_rows[i]
        assert (r["e"], r["p"], r["ip"], r["red"]) == (e, p, ip, red), (
            i,
            s,
            (r["e"], r["p"], r["ip"], r["red"]),
            (e, p, ip, red),
        )


def test_hll_pinned_estimates(spark):
    """Pinned-estimate regression gate for the oracle-less HLL tier
    (VERDICT r3 item 6): DataSketches hashing has no run-time seed, so for
    a FIXED physical plan the estimates are bit-stable — pin them on a
    repo-controlled synthetic input (independent of the driver-regenerated
    testdata).  The partitioning is pinned by hash-repartitioning on the
    sketched key: across DIFFERENT partitionings the partial-sketch merge
    order changes representation promotions and estimates drift ~±0.5%
    (measured: 933/929/929 vs 930/930/936 for the same data under default
    vs repartition(13)), which is why the driver's in-window HLL entry is
    rows-only and THIS test carries the value-level signal."""
    from pyspark.sql import functions as F

    df = (
        spark.range(10000)
        .select(
            F.concat(F.lit("u"), (F.col("id") % 937).cast("string")).alias(
                "user_id"
            ),
            (F.col("id") % 3).cast("int").alias("day"),
        )
        .repartition(8, "user_id")
    )
    per_day = df.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    daily = {
        r["day"]: r["est"]
        for r in per_day.select(
            "day", F.hll_sketch_estimate("sk").alias("est")
        ).collect()
    }
    # 937 true distinct per day.  A tolerance band, not exact pins
    # (round-4 advice): DataSketches' HIP estimator is merge-order
    # sensitive and shuffle block fetch order is not contractually
    # deterministic, so exact values (932/932/931 observed on pyspark
    # 4.1.2) would be flaky across executors/versions.  ±1.5% is ~3× the
    # measured ±0.5% drift while still catching real estimator breakage.
    assert set(daily) == {0, 1, 2}
    for day, est in daily.items():
        assert abs(est - 937) / 937 <= 0.015, (day, est)
    merged = per_day.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).collect()[0]["est"]
    assert abs(merged - 937) / 937 <= 0.015, merged


def test_pq_adc_recall_vs_exact_l2(spark):
    """ADC quality gate: PQ-compressed distances must retrieve a
    substantial fraction of the TRUE L2 top-10 — measured 0.34 recall@10
    with the deliberately-untrained first-16-vectors codebook (the
    oracle-reproducible choice; a per-subspace k-means-trained codebook is
    the usual production upgrade, but measured NEUTRAL-TO-NEGATIVE on this
    synthetic corpus — 0.26 after 3 Lloyd rounds — so it is deliberately
    not shipped; exact re-rank via ivf_pq_search is the accuracy lever
    that demonstrably works here).  Floor at 0.25: far
    above the ~0.02 random baseline, low enough to survive codebook-free
    determinism across testdata regenerations."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from hadoop_pyspark_streaming_analytics_spark.operators.similarity import (
        pq_adc_topk,
    )
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id").isin(0, 1, 2, 3, 4)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    l2 = F.expr(
        "aggregate(zip_with(embedding, q_emb,"
        " (x,y) -> (CAST(x AS DOUBLE)-CAST(y AS DOUBLE))"
        "        * (CAST(x AS DOUBLE)-CAST(y AS DOUBLE))),"
        " 0D, (a,v) -> a+v)"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("l2").asc(), F.col("vec_id").asc())
    exact = {
        (r["query_id"], r["vec_id"])
        for r in emb.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("l2", l2)
        .withColumn("rk", F.row_number().over(w))
        .filter("rk <= 10")
        .collect()
    }
    adc = {
        (r["query_id"], r["vec_id"]) for r in pq_adc_topk(spark, SF).collect()
    }
    assert len(exact) == 50 and len(adc) == 50
    recall = len(adc & exact) / len(exact)
    assert recall >= 0.25, f"ADC recall@10 collapsed: {recall}"


def test_boilerplate_fraction_bounds_and_ranking(spark):
    """Boilerplate exposure semantics on the real corpus: fractions in
    [0, 1]; the total boilerplate-gram hits across docs must equal the
    summed doc-frequency of the top-B shared trigrams (each doc counts a
    distinct gram once — the inverted identity of the doc_freq ranking);
    and at least one document must have non-zero exposure (the synthetic
    31-word vocabulary guarantees shared trigrams)."""
    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.operators.corpus import (
        boilerplate_ngram_fraction,
    )
    from hadoop_pyspark_streaming_analytics_spark.operators.scrubbing import (
        _doc_ngrams,
    )
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    rows = boilerplate_ngram_fraction(spark, SF).collect()
    assert all(0.0 <= r["boilerplate_frac"] <= 1.0 for r in rows)
    assert all(0 <= r["n_boilerplate"] <= r["n_grams"] for r in rows)
    assert any(r["n_boilerplate"] > 0 for r in rows)

    grams = _doc_ngrams(load_table(spark, SF, "documents"))
    top20 = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("gram"))
        .limit(20)
        .collect()
    )
    assert sum(r["df"] for r in top20) == sum(r["n_boilerplate"] for r in rows)


def test_ivf_pq_search_recall_and_rerank_exactness(spark):
    """The composed IVFADC pipeline: (a) with exact re-rank, every emitted
    distance must equal the true squared L2 for that (query, vector) pair
    — re-ranking is exact on whatever survives pruning; (b) recall vs the
    true L2 top-10 must clear a floor — and note it can EXCEED the raw ADC
    path's recall (measured 0.48 vs 0.32): exact re-ranking repairs ADC
    approximation errors inside the shortlist, which is exactly why IVFADC
    pipelines re-rank; (c) pruning must actually
    prune: every returned vector's cluster is one of its query's nprobe
    probes."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from hadoop_pyspark_streaming_analytics_spark.operators.similarity import (
        ivf_assign,
        ivf_pq_search,
    )
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id").isin(0, 1, 2, 3, 4)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    l2 = F.expr(
        "aggregate(zip_with(embedding, q_emb,"
        " (x,y) -> (CAST(x AS DOUBLE)-CAST(y AS DOUBLE))"
        "        * (CAST(x AS DOUBLE)-CAST(y AS DOUBLE))),"
        " 0D, (a,v) -> a+v)"
    )
    all_pairs = (
        emb.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("true_l2", F.round(l2 + F.lit(1e-8), 4))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("true_l2").asc(), F.col("vec_id").asc()
    )
    exact10 = {
        (r["query_id"], r["vec_id"])
        for r in all_pairs.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 10")
        .collect()
    }
    truth = {
        (r["query_id"], r["vec_id"]): r["true_l2"] for r in all_pairs.collect()
    }

    got = ivf_pq_search(spark, SF).collect()
    assert len(got) == 50
    # (a) re-ranked distances are the exact L2 values
    for r in got:
        assert r["dist"] == truth[(r["query_id"], r["vec_id"])]
    # (b) recall floor (0.48 measured; floor leaves headroom for testdata
    # regeneration drift but stays far above the ~0.02 random baseline)
    ivfpq_hits = {(r["query_id"], r["vec_id"]) for r in got} & exact10
    assert len(ivfpq_hits) / len(exact10) >= 0.25
    # (c) every result lives in a probed cluster of its query
    assign = {
        r["vec_id"]: r["centroid_id"] for r in ivf_assign(spark, SF).collect()
    }
    probed: dict = {}
    for r in got:
        probed.setdefault(r["query_id"], set()).add(assign[r["vec_id"]])
    assert all(len(c) <= 2 for c in probed.values())  # nprobe = 2
    # with the gate applied BEFORE the ADC top-k window, the shortlist
    # always fills from probed cells — every query returns exactly k rows
    # regardless of how its probed clusters rank globally
    per_q: dict = {}
    for r in got:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert per_q == {q: 10 for q in (0, 1, 2, 3, 4)}


def test_ivf_pq_search_indexed_parity_and_partition_pruning(spark, tmp_path):
    """The production IVFADC spelling against the materialized index must
    (a) return EXACTLY ivf_pq_search's rows (same index semantics, same
    metric, same tiebreaks) and (b) plan the probe as literal partition
    pruning: the codes scan carries a PartitionFilters entry on
    centroid_id and reads no raw `embedding` column (raw vectors appear
    only in the bounded probe/query/re-rank reads of the embeddings
    table)."""
    from hadoop_pyspark_streaming_analytics_spark.operators.similarity import (
        ivf_pq_search,
        ivf_pq_search_indexed,
        materialize_pq_index,
    )

    idx = str(tmp_path / "pq_index")
    materialize_pq_index(spark, SF, idx)
    got_df = ivf_pq_search_indexed(spark, SF, idx)
    got = sorted(
        (r["query_id"], r["vec_id"], r["dist"], r["rk"])
        for r in got_df.collect()
    )
    want = sorted(
        (r["query_id"], r["vec_id"], r["dist"], r["rk"])
        for r in ivf_pq_search(spark, SF).collect()
    )
    assert got == want and len(got) == 50
    plan = got_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    codes_scans = [
        b
        for b in plan.split("\n\n")
        if "pq_index/codes" in b and "Scan parquet" in b.splitlines()[0]
    ]
    assert codes_scans, "no codes-table scan in the plan"
    assert all("PartitionFilters" in b and "centroid_id" in b for b in codes_scans)
    assert all("embedding" not in b for b in codes_scans)


def test_language_mixture_single_totals_scan_behind_checkpoint(spark):
    """Scale pin (round 15): the language-grain totals frame has two
    consumers (min_tokens + the rate crossJoin) — unpinned, the plan
    re-executed the corpus-sized totals pass per consumer (3 parquet
    scans; one needless full-corpus pass at 100 TB).  Checkpointed, the
    returned plan carries exactly ONE file scan (the keep filter's) plus
    the checkpoint's ExistingRDD — the positive marker keeps a Spark
    scan-node rename from faking the count."""
    from hadoop_pyspark_streaming_analytics_spark.operators.quality import (
        language_mixture_temperature_sample,
    )

    df = language_mixture_temperature_sample(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan
    assert "Scan ExistingRDD" in plan, plan


def test_language_mixture_temperature_semantics(spark):
    """α=0.5 temperature rebalancing invariants: the rarest language keeps
    EVERYTHING (rate_10k == 10000 — downsampling-only, so the mixture
    flattens by cutting dominant languages, never by dropping rare ones);
    rates order inversely to language token mass; and the keep decision is
    exactly hash < rate (all-integer, so re-running is bit-stable)."""
    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.operators.quality import (
        language_mixture_temperature_sample,
        _tokens_col,
    )
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    kept = language_mixture_temperature_sample(spark, SF)
    rates = {
        r["lang"]: r["rate_10k"]
        for r in kept.select("lang", "rate_10k").distinct().collect()
    }
    toks = {
        r["lang"]: r["t"]
        for r in load_table(spark, SF, "documents")
        .groupBy("lang")
        .agg(F.sum(F.size(_tokens_col())).alias("t"))
        .collect()
    }
    rarest = min(toks, key=toks.get)
    assert rates[rarest] == 10000
    for a in rates:
        for b in rates:
            if toks[a] < toks[b]:
                assert rates[a] >= rates[b], (a, b, rates, toks)
    assert kept.filter(F.col("keep_hash") >= F.col("rate_10k")).count() == 0
    # expected mixture: kept-token share per lang flattens vs raw share
    # (the α=0.5 point sits between raw and uniform) — sanity only, the
    # exact rates are oracle-gated
    assert all(0 < r <= 10000 for r in rates.values())


def test_split_leakage_pairs_are_verified_cross_split_neardups(spark):
    """Every reported leak is (a) an LSH candidate pair, (b) Jaccard ≥ 0.5
    under the same shingle definition, and (c) genuinely cross-split under
    the md5 bucket rule; and every verified near-dup pair that IS
    cross-split appears (no silent drops)."""
    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
        split_leakage_check,
    )

    leaks = split_leakage_check(spark, SF).collect()
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(spark, SF).collect()
    }
    # ngram_jaccard_pairs is the all-pairs exact baseline at the same
    # threshold; leak pairs must be the cross-split subset of candidates
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(spark, SF).collect()
    }

    def split(doc_id: int) -> str:
        import hashlib

        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:6], 16) % 100
        return "train" if b < 90 else ("val" if b < 95 else "test")

    for r in leaks:
        pair = (r["doc_a"], r["doc_b"])
        assert pair in cand, f"leak pair {pair} not an LSH candidate"
        assert pair in exact and r["jaccard"] == exact[pair]
        assert r["split_a"] == split(r["doc_a"])
        assert r["split_b"] == split(r["doc_b"])
        assert r["split_a"] != r["split_b"]
    want = {
        p
        for p in exact
        if p in cand and split(p[0]) != split(p[1])
    }
    assert {(r["doc_a"], r["doc_b"]) for r in leaks} == want


def test_cluster_balanced_sample_quotas_and_determinism(spark):
    """Diversity sampling invariants: per-cell counts are exactly
    min(n_per_cell, cell population); members belong to the cell they
    were sampled from; and the sample is bit-stable across
    repartitionings (hash-ordered, no RNG)."""
    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.operators.similarity import (
        cluster_balanced_sample,
        ivf_assign,
    )

    n_per = 40
    got = cluster_balanced_sample(spark, SF, n_per_cell=n_per).collect()
    assign = {
        r["vec_id"]: r["centroid_id"] for r in ivf_assign(spark, SF).collect()
    }
    pops: dict = {}
    for cid in assign.values():
        pops[cid] = pops.get(cid, 0) + 1
    per_cell: dict = {}
    for r in got:
        assert assign[r["vec_id"]] == r["centroid_id"]
        per_cell[r["centroid_id"]] = per_cell.get(r["centroid_id"], 0) + 1
    for cid, pop in pops.items():
        assert per_cell.get(cid, 0) == min(n_per, pop), (cid, pop)
    again = cluster_balanced_sample(spark, SF, n_per_cell=n_per).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_ivf_cell_stats_accounting(spark):
    """The cell report must account for every vector exactly once
    (Σ n_vecs == corpus size), skew must average to 1.0 by construction
    (Σ n_vecs·k/N over cells == k), and per-cell mins can never exceed
    their averages."""
    from hadoop_pyspark_streaming_analytics_spark.operators.similarity import (
        ivf_cell_stats,
    )
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    rows = ivf_cell_stats(spark, SF).collect()
    n_corpus = load_table(spark, SF, "embeddings").count()
    assert sum(r["n_vecs"] for r in rows) == n_corpus
    assert abs(sum(r["skew"] for r in rows) - 8.0) < 1e-2
    for r in rows:
        assert r["min_cos"] <= r["avg_cos"] + 1e-9
        assert r["n_vecs"] > 0


def test_embeddings_unit_norm_and_metric_equivalence(spark):
    """ivf_pq_search is squared-L2 end-to-end (probe, ADC, re-rank) while
    the cell ASSIGNMENT it composes with (ivf_assign) ranks by cosine —
    consistent because the corpus is unit-normalized, where
    ‖a−b‖² = 2·(1−cos(a,b)) makes the two rankings monotone images of
    each other.  Pin the precondition and the consequence: (a) every
    corpus vector has unit norm to 1e-4; (b) the L2-argmin assignment
    over the 8 baseline centroids equals the cosine-argmax assignment for
    every vector (what 'rebuild with an L2 argmin on un-normalized data'
    in the ivf_pq_search docstring would change)."""
    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.operators.similarity import (
        cosine_expr,
        ivf_assign,
        l2sq_expr,
    )
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    norms = emb.select(
        F.sqrt(
            F.expr(
                "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * x),"
                " 0D, (acc, v) -> acc + v)"
            )
        ).alias("n")
    ).agg(F.min("n").alias("lo"), F.max("n").alias("hi")).collect()[0]
    assert abs(norms["lo"] - 1.0) < 1e-4 and abs(norms["hi"] - 1.0) < 1e-4
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "centroid_id",
        cosine_expr("embedding", "c_emb").alias("cos"),
        l2sq_expr("embedding", "c_emb").alias("l2"),
    )
    by_l2 = scored.groupBy("vec_id").agg(
        F.min(F.struct(F.col("l2"), F.col("centroid_id"))).alias("m")
    ).select("vec_id", F.col("m.centroid_id").alias("l2_centroid"))
    by_cos = ivf_assign(spark, SF).select("vec_id", "centroid_id")
    mismatches = by_cos.join(by_l2, "vec_id").filter(
        F.col("centroid_id") != F.col("l2_centroid")
    ).count()
    assert mismatches == 0


def test_quality_classifier_gate_and_monotone_length(spark):
    """Model-based quality gate invariants: keep ⟺ the 4dp-rounded
    probability clears the threshold (the gate compares the ROUNDED score,
    so both engines decide on the identical number); scores live in (0,1);
    and the testdata splits non-degenerately (the calibrated weights must
    not saturate the sigmoid, or the gate tests nothing)."""
    rows = quality.quality_classifier(spark, SF).collect()
    assert {r["keep"] for r in rows} == {True, False}
    for r in rows:
        assert 0.0 < r["model_score"] < 1.0
        assert r["keep"] == (
            r["model_score"] >= quality.CLASSIFIER_KEEP_THRESHOLD
        )


def test_bigram_surprisal_counts_and_backoff_bounds(spark):
    """Bigram-LM invariants: every doc with t tokens contributes exactly
    t-1 bigrams (the array-native extraction must not drop or duplicate
    boundaries); sub-2-token docs are absent; and each doc's mean
    surprisal is bounded below by -ln(λ·1 + (1-λ)·p_max_uni) > 0 — the
    best case where every bigram is its context's only continuation."""
    from hadoop_pyspark_streaming_analytics_spark.operators import corpus

    got = {
        r["doc_id"]: (r["n_bigrams"], r["mean_surprisal"])
        for r in corpus.bigram_surprisal(spark, SF).collect()
    }
    toks = quality.token_counts(spark, SF).collect()
    for r in toks:
        t = r["bpe_ish_tokens"]
        if t >= 2:
            assert got[r["doc_id"]][0] == t - 1, r["doc_id"]
        else:
            assert r["doc_id"] not in got
    for n_bg, s in got.values():
        assert s > 0.0


def test_semdedup_single_corpus_scan_behind_checkpoint(spark):
    """Scale pin (round 15): semdedup's ``members`` frame has THREE
    consumers (both self-join sides + the final keep projection) — the
    pre-pin executedPlan re-executed the scan+assign subtree per consumer
    AND re-attached embeddings with a corpus x corpus join: FIVE parquet
    scans of the embeddings corpus, four needless full passes at 100 TB.
    With the carry-the-embedding argmax + localCheckpoint in place the
    returned plan carries ZERO file scans; the positive ExistingRDD
    marker keeps a Spark scan-node rename from faking the zero."""
    df = similarity.semdedup(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 0, plan
    assert "Scan ExistingRDD" in plan, plan


def test_semdedup_survivor_set_is_id_minimal_independent(spark):
    """SemDeDup pruning invariants, checked against an independently
    computed within-cell cosine matrix: (a) every DROPPED vector has a
    LOWER-id cell-mate at cosine >= threshold; (b) no two SURVIVORS in
    the same cell match at >= threshold (the survivor set is an
    independent set under the match relation); (c) the pruning path is
    actually exercised (some drops exist at test scale)."""
    import math

    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    res = similarity.semdedup(spark, SF).collect()
    assert any(not r["keep"] for r in res)
    cell = {r["vec_id"]: r["centroid_id"] for r in res}
    keep = {r["vec_id"]: r["keep"] for r in res}
    emb = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, SF, "embeddings").collect()
    }
    assert set(cell) == set(emb)  # every vector classified exactly once

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb) + 1e-8, 6)

    by_cell: dict = {}
    for v, c in cell.items():
        by_cell.setdefault(c, []).append(v)
    thr = similarity.SEMDEDUP_THRESHOLD
    for c, members in by_cell.items():
        members.sort()
        for j, b in enumerate(members):
            matched_lower = any(
                cos(emb[a], emb[b]) >= thr for a in members[:j]
            )
            if keep[b]:
                surv_lower = [a for a in members[:j] if keep[a]]
                assert not any(
                    cos(emb[a], emb[b]) >= thr for a in surv_lower
                ), (c, b)
            else:
                assert matched_lower, (c, b)


def test_curation_pipeline_is_exact_gate_intersection(spark):
    """pipeline_curated_modern must equal the intersection of its three
    component gates, computed independently from the component operators:
    canonical exact-dedup survivors ∩ classifier keeps ∩ non-benchmark
    docs under the contamination cap — and every excluded doc must
    violate at least one gate (no silent over-pruning)."""
    from hadoop_pyspark_streaming_analytics_spark import pipelines
    from hadoop_pyspark_streaming_analytics_spark.operators import scrubbing
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    got = {r["doc_id"] for r in pipelines.curate_documents_modern(spark, SF).collect()}
    canon = {
        r["canonical_doc_id"] for r in dedup.exact_duplicates(spark, SF).collect()
    }
    keeps = {
        r["doc_id"]
        for r in quality.quality_classifier(spark, SF).collect()
        if r["keep"]
    }
    cont = {
        r["doc_id"]: r["contamination_frac"]
        for r in scrubbing.contamination_check(spark, SF).collect()
    }
    all_ids = {r["doc_id"] for r in load_table(spark, SF, "documents").collect()}
    expected = {
        d
        for d in all_ids
        if d % scrubbing.BENCHMARK_MOD != 0
        and d in canon
        and d in keeps
        and cont.get(d, 0.0) <= pipelines.CONTAMINATION_MAX
    }
    assert got == expected
    assert got  # gates must not annihilate the corpus
    assert got != all_ids  # ...and must actually prune


def test_exact_substring_pairs_match_bruteforce_and_df_cap(spark):
    """Window-hash exact-substring detection must agree with a driver-side
    brute-force check: for every reported pair the two documents share a
    verbatim >=8-token run (count = L-8+1 per maximal shared run family),
    and pairs subsume the high-Jaccard planted near-dups (long copied
    spans).  max_df=1 must yield ZERO pairs — a window kept by the
    boilerplate cap appears in <= max_df docs, and a shared window needs
    two — proving the cap actually gates the join."""
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    W = 8
    pairs = dedup.exact_substring_pairs(spark, SF, window=W).collect()
    assert pairs
    import re

    texts = {
        r["doc_id"]: re.findall("[a-z]+", r["text"].lower())
        for r in load_table(spark, SF, "documents").collect()
    }

    def windows(doc):
        t = texts[doc]
        return {" ".join(t[i : i + W]) for i in range(len(t) - W + 1)}

    for r in pairs:
        shared = windows(r["doc_a"]) & windows(r["doc_b"])
        assert len(shared) == r["shared_windows"], (r["doc_a"], r["doc_b"])
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    planted = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(spark, SF, threshold=0.8).collect()
    }
    assert planted <= found
    assert dedup.exact_substring_pairs(spark, SF, window=W, max_df=1).count() == 0


def test_ivf_recall_report_consistency(spark):
    """The recall report must agree with an independent recomputation from
    its two component searches, and the exact side's mean cosine can never
    lose to the index's (brute force maximizes the retrieved-cosine sum)."""
    import collections

    rep = similarity.ivf_recall_report(spark, SF).collect()
    assert len(rep) == 5
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(spark, SF).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_search(spark, SF).collect()
    }
    hits = collections.Counter(q for (q, _) in exact & approx)
    for r in rep:
        assert 0.0 <= r["recall_at_k"] <= 1.0
        assert r["n_hits"] == hits.get(r["query_id"], 0)
        assert abs(r["recall_at_k"] - r["n_hits"] / 10.0) <= 1e-4
        # two stacked 4dp roundings (per-item cosines, then the mean)
        # can shift each mean by up to 1e-4 → worst-case gap 2e-4
        assert r["exact_mean_cosine"] >= r["ivf_mean_cosine"] - 2.1e-4


def test_language_audit_accounting(spark):
    """Counts must nest (mismatch <= decided <= docs), cover the corpus
    exactly once, and reproduce the rate arithmetic."""
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    rows = quality.language_mislabel_audit(spark, SF).collect()
    n_docs_total = load_table(spark, SF, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs_total
    for r in rows:
        assert 0 <= r["n_mismatch"] <= r["n_decided"] <= r["n_docs"]
        want = round(r["n_mismatch"] / max(r["n_decided"], 1) + 1e-8, 4)
        assert abs(r["mismatch_rate"] - want) <= 1e-9


def test_source_report_accounting(spark):
    """The per-source rollup must cover the corpus exactly once, and its
    duplicate accounting must equal the exact-dedup operator's: the number
    of docs in >1-member fingerprint groups."""
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    rows = quality.source_curation_report(spark, SF).collect()
    n_docs_total = load_table(spark, SF, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs_total
    dup_doc_total = sum(
        r["dup_count"]
        for r in dedup.exact_duplicates(spark, SF).collect()
        if r["dup_count"] > 1
    )
    assert sum(r["n_dup_docs"] for r in rows) == dup_doc_total
    for r in rows:
        assert 0 <= r["n_dup_docs"] <= r["n_docs"]
        assert 0.0 <= r["dup_rate"] <= 1.0
        assert 0.0 < r["avg_quality"] <= 1.0
        assert r["total_tokens"] > 0


def test_minhash_estimate_matches_exact_on_verified_pairs(spark):
    """One row per LSH candidate; the estimate is quantized to 1/16 steps;
    the exact column must agree with ngram_jaccard_pairs wherever that
    (threshold-filtered) query also reports the pair."""
    rows = dedup.minhash_estimate_pairs(spark, SF).collect()
    n_cand = dedup.minhash_lsh_candidates(spark, SF).count()
    assert len(rows) == n_cand > 0
    for r in rows:
        assert 0.0 <= r["est_jaccard"] <= 1.0
        steps = r["est_jaccard"] * 16
        assert abs(steps - round(steps)) <= 16 * 2e-4
        assert abs(
            r["abs_err"] - round(abs(r["est_jaccard"] - r["jaccard"]) + 1e-8, 4)
        ) <= 1e-9
    exact_map = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}
    truth = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(spark, SF, threshold=0.5).collect()
    }
    shared = set(truth) & set(exact_map)
    assert shared, "expected LSH candidates among true Jaccard>=0.5 pairs"
    for pair in shared:
        assert abs(exact_map[pair] - truth[pair]) <= 1e-9


def test_semdedup_derived_default_k(spark, tmp_path, monkeypatch):
    """semdedup's default k must be DERIVED from the corpus size with the
    paper's k ~ N/5000 rule (floor 8) — the safe behavior is the default,
    not a knob (VERDICT r5 item 5): the rule function is pinned, an
    enlarged corpus must actually reach the kmeans trainer with the
    derived k, and the real corpus's cells stay within a bounded share
    (ivf_cell_stats skew ~1 means the within-cell quadratic term is the
    advertised Σ|cell|² ≈ N²/k, not a hidden hot cell)."""
    import pytest
    from pyspark.sql import functions as F

    assert similarity.semdedup_default_k(1) == 8
    assert similarity.semdedup_default_k(40_000) == 8
    assert similarity.semdedup_default_k(40_001) == 9
    assert similarity.semdedup_default_k(10_000_000) == 2000
    # wiring: a 45k-vector corpus must train kmeans with k=9 (spy aborts
    # before the quadratic pair stage; the derivation is what's under test)
    spark.range(45_000).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 4), i -> cast(pmod(id * i, 7) AS FLOAT))"
        ).alias("embedding"),
        F.lit("x").alias("label"),
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    class _Stop(Exception):
        pass

    seen = {}

    def spy(spark_, sf_dir_, k, rounds):
        seen["k"] = k
        raise _Stop

    monkeypatch.setattr(similarity, "kmeans_centroids", spy)
    with pytest.raises(_Stop):
        similarity.semdedup(spark, str(tmp_path))
    assert seen["k"] == 9
    monkeypatch.undo()
    # bounded share on the real corpus at the derived k (=8 here): no cell
    # holds more than 2x its fair share
    stats = similarity.ivf_cell_stats(
        spark, SF, k=similarity.semdedup_default_k(500)
    ).collect()
    assert max(r["skew"] for r in stats) <= 2.0


def test_semdedup_arrow_scorer_parity_with_jvm(spark):
    """The Arrow/BLAS pair scorer (default — 2.4x faster on the quadratic
    within-cell stage) must produce the exact same keep set as the JVM
    higher-order path the oracle mirrors; the 6dp (+1e-8) round is the
    cross-engine/cross-scorer float surface."""
    arrow = {
        (r["vec_id"], r["centroid_id"], r["keep"])
        for r in similarity.semdedup(spark, SF).collect()
    }
    jvm = {
        (r["vec_id"], r["centroid_id"], r["keep"])
        for r in similarity.semdedup(spark, SF, use_arrow=False).collect()
    }
    assert arrow == jvm


def test_bpe_merges_match_reference_implementation(spark):
    """The distributed trainer must reproduce, step for step, a from-
    scratch pure-Python BPE (Sennrich et al.) run on the same word-count
    dictionary with the same tiebreak — pair counts, merge order, and the
    final segmentation's reconstruction property.  The reference applies
    merges by explicit pairwise list rewriting (tests/bpe_reference.py),
    NOT the engine's regex strategy, so the apply step is genuinely
    independent (ADVICE r5).  Run at the vanilla width AND the default
    batched width: top-M symbol-disjoint batching must be merge-for-merge
    identical to the sequential trainer."""
    from hadoop_pyspark_streaming_analytics_spark.operators import corpus
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    from . import bpe_reference

    sf = "/root/testdata/sf0.001"
    texts = [r["text"] for r in load_table(spark, sf, "documents").collect()]
    wcounts = bpe_reference.word_counts(texts)
    want, syms = bpe_reference.train(wcounts, corpus.BPE_MERGES)
    for batch_m in (1, corpus.BPE_BATCH_M):
        merges, trained = corpus._bpe_train(
            spark, sf, corpus.BPE_MERGES, batch_m=batch_m
        )
        assert merges == want, f"batch_m={batch_m}"
        seg = corpus._segment_of(trained).collect()
        assert len(seg) == len(wcounts)
        for r in seg:
            assert r["segmentation"].replace(" ", "") == r["word"]
            assert r["n_subwords"] == len(r["segmentation"].split(" "))
            assert r["segmentation"] == syms[r["word"]]
    # The catalog spelling (default width) agrees with both.
    got = [
        (r["step"], r["lft"], r["rgt"], r["merged"], r["pair_count"])
        for r in corpus.bpe_merges(spark, sf).orderBy("step").collect()
    ]
    assert got == want


def test_bpe_artifacts_single_training_run(spark):
    """bpe_artifacts must return the same four frames as the per-entry
    catalog spellings (which each re-train), from ONE training run."""
    from hadoop_pyspark_streaming_analytics_spark.operators import corpus

    sf = "/root/testdata/sf0.001"
    arts = corpus.bpe_artifacts(spark, sf)
    assert sorted(arts) == ["merges", "segment", "token_counts", "vocab"]
    assert [tuple(r) for r in arts["merges"].orderBy("step").collect()] == [
        tuple(r) for r in corpus.bpe_merges(spark, sf).orderBy("step").collect()
    ]
    assert [tuple(r) for r in arts["vocab"].collect()] == [
        tuple(r) for r in corpus.bpe_vocab(spark, sf).collect()
    ]
    assert [tuple(r) for r in arts["token_counts"].collect()] == [
        tuple(r) for r in corpus.bpe_token_counts(spark, sf).collect()
    ]


def test_bpe_tokenize_rejects_regex_metacharacter_symbols(spark):
    """A stored merge table with non-[a-z]+ symbols would silently corrupt
    the interpolated regex chain — it must be rejected (ADVICE r5)."""
    import pytest

    from hadoop_pyspark_streaming_analytics_spark.operators import corpus

    docs = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    for bad in [("a(", "b"), ("a", "b$"), ("a\\", "b"), ("A", "b"), ("", "b")]:
        with pytest.raises(ValueError, match="BPE merge symbols"):
            corpus.bpe_tokenize_documents(docs, [bad])
    # and the legal shape still tokenizes
    rows = corpus.bpe_tokenize_documents(docs, [("a", "b")]).collect()
    assert [r["segmentation"] for r in rows] == ["ab", "ab"]


def test_difficulty_bins_quartile_accounting(spark):
    """Bins must be 1..4, cover every document exactly once, and split
    into ~quarters (exact quartile cutpoints; boundary ties can shift a
    few docs between adjacent bins, never across)."""
    import collections

    from hadoop_pyspark_streaming_analytics_spark.operators import corpus

    rows = corpus.difficulty_bins(spark, SF).collect()
    n = len(rows)
    assert n > 0
    for col in ("difficulty_bin", "quality_bin"):
        counts = collections.Counter(r[col] for r in rows)
        assert set(counts) <= {1, 2, 3, 4}
        for b in (1, 2, 3, 4):
            assert counts.get(b, 0) >= n // 8, (col, b, counts)
    # monotone: higher bin => not-lower surprisal at the bin boundary
    by_bin = {}
    for r in rows:
        by_bin.setdefault(r["difficulty_bin"], []).append(r["mean_surprisal"])
    for b in range(1, 4):
        if b in by_bin and b + 1 in by_bin:
            assert max(by_bin[b]) <= min(by_bin[b + 1]) + 1e-9


def test_cross_source_matrix_accounting(spark):
    """The matrix's pair total must equal the verified-pair count, and
    every cell's avg must stay within the clearing threshold and 1."""
    from pyspark.sql import functions as F

    pairs = dedup.minhash_estimate_pairs(spark, SF).filter(
        F.col("jaccard") >= 0.5
    )
    n_pairs_total = pairs.count()
    rows = dedup.cross_source_matrix(spark, SF).collect()
    assert sum(r["n_pairs"] for r in rows) == n_pairs_total > 0
    for r in rows:
        assert r["source_lo"] <= r["source_hi"]
        assert 0.5 <= r["avg_jaccard"] <= 1.0


def test_pack_efficiency_report_accounting(spark):
    """Per-shard packing arithmetic must reconcile with the packing map:
    totals match, waste = blocks*capacity - tokens, fill in (0, 1], and
    boundary counts equal the straddling docs."""
    rows = chunking.pack_efficiency_report(spark, SF).collect()
    packed = chunking.pack_documents(spark, SF).collect()
    by_shard = {}
    for r in packed:
        s = by_shard.setdefault(r["shard"], [0, 0, 0])
        s[0] += 1
        s[1] += r["n_tokens"]
        s[2] += int(r["end_block"] > r["start_block"])
    assert {r["shard"] for r in rows} == set(by_shard)
    for r in rows:
        n_docs, toks, bounds = by_shard[r["shard"]]
        assert (r["n_docs"], r["total_tokens"], r["n_boundary_docs"]) == (
            n_docs,
            toks,
            bounds,
        )
        assert r["n_blocks"] == -(-toks // 512)
        assert r["waste_tokens"] == r["n_blocks"] * 512 - toks
        assert 0.0 < r["fill_ratio"] <= 1.0


def test_pack_documents_bpe_prices_with_true_counts(spark):
    """pack_documents_bpe must price every document with the trained
    tokenizer's subword total (not the regex estimate) and lay the
    shard-local prefix sums out over those counts."""
    from hadoop_pyspark_streaming_analytics_spark.operators import corpus

    counts = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in corpus.bpe_token_counts(spark, SF).collect()
    }
    packed = chunking.pack_documents_bpe(spark, SF).collect()
    assert {r["doc_id"] for r in packed} == set(counts)
    cum: dict = {}
    for r in sorted(packed, key=lambda r: (r["shard"], r["doc_id"])):
        assert r["n_tokens"] == counts[r["doc_id"]]
        assert r["shard"] == r["doc_id"] % chunking.PACK_SHARDS
        assert r["offset"] == cum.get(r["shard"], 0)
        cum[r["shard"]] = r["offset"] + r["n_tokens"]
        assert r["start_block"] == r["offset"] // chunking.PACK_CAPACITY
        assert (
            r["end_block"]
            == (r["offset"] + r["n_tokens"] - 1) // chunking.PACK_CAPACITY
        )


def test_bpe_token_counts_match_segmentation(spark):
    """Per-doc subword totals must equal summing the trained dictionary
    segmentation over the doc's word occurrences."""
    import re

    from hadoop_pyspark_streaming_analytics_spark.operators import corpus
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    seg = {
        r["word"]: r["n_subwords"]
        for r in corpus.bpe_segment(spark, sf).collect()
    }
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in corpus.bpe_token_counts(spark, sf).collect()
    }
    for r in load_table(spark, sf, "documents").collect():
        words = re.findall("[a-z]+", r["text"].lower())
        if not words:
            assert r["doc_id"] not in got
            continue
        assert got[r["doc_id"]] == (
            len(words),
            sum(seg[w] for w in words),
        )


def test_bpe_oracle_survives_pair_exhaustion():
    """If the vocabulary runs out of mergeable pairs before BPE_MERGES
    steps, the oracle's later merge CTEs are EMPTY — the LEFT JOIN ON
    TRUE apply step must pass the dictionary through unchanged (the Spark
    trainer breaks its loop), not empty it via a cross join."""
    import duckdb

    from hadoop_pyspark_streaming_analytics_spark.plans.llm_catalog import (
        _bpe_ctes,
    )

    con = duckdb.connect()
    # two-letter words: exactly one mergeable pair each, exhausted after
    # at most 2 distinct merges << BPE_MERGES=8
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(0, 'ab ab ab'), (1, 'cd cd')) AS t(doc_id, text)"
    )
    rows = con.execute(
        f"WITH {_bpe_ctes(8)} SELECT word, sym FROM s8 ORDER BY word"
    ).fetchall()
    assert rows == [("ab", "ab"), ("cd", "cd")]
    merges = con.execute(
        f"WITH {_bpe_ctes(8)} "
        "SELECT 1 AS step, lft, rgt FROM b1 UNION ALL "
        "SELECT 2, lft, rgt FROM b2 UNION ALL SELECT 3, lft, rgt FROM b3 "
        "ORDER BY step"
    ).fetchall()
    assert merges == [(1, "a", "b"), (2, "c", "d")]


def test_incremental_ingest_gate_semantics(spark):
    """The ingest gate must cover exactly the new partition, never keep an
    exact duplicate of a smaller-priority doc, and agree with a
    first-principles recomputation of both tiers."""
    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    rows = dedup.incremental_ingest(spark, SF).collect()
    docs = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    new_ids = {r["doc_id"] for r in docs if r["doc_id"] % 10 >= 8}
    assert {r["doc_id"] for r in rows} == new_ids
    # exact tier recomputation
    import re

    def norm(t):
        return re.sub(r"\s+", " ", t.lower()).strip()

    by_norm = {}
    for r in docs:
        by_norm.setdefault(norm(r["text"]), []).append(r["doc_id"])

    def prio(d):
        return (1 if d % 10 >= 8 else 0) * 10**12 + d

    exact_dropped = {
        d
        for ids in by_norm.values()
        for d in ids
        if d % 10 >= 8 and min(prio(x) for x in ids) < prio(d)
    }
    got = {r["doc_id"]: (r["keep"], r["reason"]) for r in rows}
    for d in new_ids:
        keep, reason = got[d]
        if d in exact_dropped:
            assert reason == "exact" and not keep
        else:
            assert reason in ("near_dup", "unique")
            assert keep == (reason == "unique")
    # near tier: every near_dup victim must have a verified >=0.5 Jaccard
    # partner of smaller priority among the estimator's verified pairs
    ver = [
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_estimate_pairs(spark, SF).collect()
        if r["jaccard"] >= 0.5
    ]
    partners = {}
    for a, b in ver:
        partners.setdefault(a, set()).add(b)
        partners.setdefault(b, set()).add(a)
    for d, (keep, reason) in got.items():
        if reason == "near_dup":
            assert any(prio(p) < prio(d) for p in partners.get(d, ()))


def test_recall_curve_monotone_and_consistent(spark):
    """Recall must be non-decreasing in nprobe per query, and the widest
    point must match ivf_search at the same nprobe."""
    rows = similarity.ivf_recall_curve(spark, SF).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], {})[r["nprobe"]] = r["recall_at_k"]
    assert by_q and all(set(d) == {1, 2, 4} for d in by_q.values())
    for q, d in by_q.items():
        assert d[1] <= d[2] + 1e-9 and d[2] <= d[4] + 1e-9, (q, d)
    # cross-check the nprobe=2 point against the standalone report
    rep = {
        r["query_id"]: r["recall_at_k"]
        for r in similarity.ivf_recall_report(spark, SF).collect()
    }
    for q, d in by_q.items():
        assert abs(d[2] - rep[q]) <= 1e-9


def test_difficulty_bins_cross_engine_on_tied_cutpoints(spark, tmp_path):
    """Adversarial tie shape: when half the corpus shares IDENTICAL text,
    the quartile cutpoints land exactly ON the tied surprisal/quality
    value — the boundary where interpolation or rounding drift across
    engines would flip bins.  Spark and DuckDB must still agree row for
    row (the same compare the driver runs)."""
    import duckdb

    from hadoop_pyspark_streaming_analytics_spark.operators import corpus
    from hadoop_pyspark_streaming_analytics_spark.plans.llm_catalog import (
        _difficulty_bins_sql,
    )

    texts = ["the fast key order sort"] * 10 + [
        "spark merge window hash scan join",
        "a a a a a a a a",
        "vector column batch stream row filter table",
        "zz yy xx ww vv",
        "the the the the",
        "one two three four five six seven",
    ]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    got = {
        r["doc_id"]: (r["difficulty_bin"], r["quality_bin"])
        for r in corpus.difficulty_bins(spark, d).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = {
        r[0]: (r[3], r[4])
        for r in con.execute(_difficulty_bins_sql()).fetchall()
    }
    assert got == want and len(got) == len(texts)


def test_dsir_ranks_target_like_docs_above_off_domain(spark, tmp_path):
    """First-principles semantic pin for DSIR: with a target domain made
    entirely of one vocabulary and an off-domain vocabulary disjoint from
    it, raw docs written in the target's vocabulary must out-weigh raw
    docs written off-domain, and the keep flag must follow the weight
    quantile.  (The catalog oracle re-derives the exact arithmetic; this
    pins the DIRECTION of the importance ratio.)"""
    from hadoop_pyspark_streaming_analytics_spark.operators import corpus

    target = [(i, "alpha beta gamma delta", "en", "src0", 22) for i in range(8)]
    raw_like = [
        (100 + i, "alpha beta gamma delta", "en", "src9", 22) for i in range(4)
    ]
    raw_off = [
        (200 + i, "zulu yankee xray whiskey", "en", "src9", 24) for i in range(12)
    ]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        target + raw_like + raw_off,
        "doc_id long, text string, lang string, source string, n_chars int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    rows = {r["doc_id"]: r for r in corpus.dsir_importance_sample(spark, d).collect()}
    # only raw (non-target) docs are scored
    assert set(rows) == {r[0] for r in raw_like + raw_off}
    like_w = {rows[r[0]]["dsir_weight"] for r in raw_like}
    off_w = {rows[r[0]]["dsir_weight"] for r in raw_off}
    assert len(like_w) == 1 and len(off_w) == 1
    assert like_w.pop() > off_w.pop()
    # the 4 target-like docs are exactly the top quartile of 16 raw docs
    assert {i for i, r in rows.items() if r["kept"]} == {r[0] for r in raw_like}


def test_recall_curve_surfaces_empty_probe_points(spark, tmp_path):
    """Adversarial fixture: the corpus is ONLY the 8 centroid vectors
    (one-hot), so at nprobe=1 every query's probed cell contains just the
    query itself → zero candidates.  Those points must appear as
    recall 0 — not vanish from the grid — and the DuckDB oracle must
    agree row for row."""
    import duckdb

    from hadoop_pyspark_streaming_analytics_spark.plans.llm_catalog import (
        _recall_curve_sql,
    )

    d = str(tmp_path / "sf")
    vecs = []
    for i in range(8):
        v = [0.0] * 64
        v[i] = 1.0
        vecs.append((i, v, 0))
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    rows = similarity.ivf_recall_curve(spark, d).collect()
    got = {(r["nprobe"], r["query_id"]): (r["n_hits"], r["recall_at_k"]) for r in rows}
    assert set(got) == {(p, q) for p in (1, 2, 4) for q in range(5)}
    for q in range(5):
        assert got[(1, q)] == (0, 0.0)  # empty probed cell surfaces as 0
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    want = {(r[0], r[1]): (r[2], r[3]) for r in con.execute(_recall_curve_sql()).fetchall()}
    assert got == want


def test_cluster_histogram_reconciles_with_components(spark):
    """The histogram must reconcile exactly with the components output:
    per-size cluster counts, doc totals, and no singleton rows (docs with
    no candidate pair never enter components)."""
    import collections

    comp = dedup.duplicate_components(spark, SF).collect()
    sizes = collections.Counter(
        collections.Counter(r["component"] for r in comp).values()
    )
    rows = dedup.cluster_size_histogram(spark, SF).collect()
    assert {r["cluster_size"]: r["n_clusters"] for r in rows} == dict(sizes)
    for r in rows:
        assert r["cluster_size"] >= 2  # components hold only paired docs
        assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]
    assert sum(r["n_docs"] for r in rows) == len(comp)


def test_key_skew_report_accounting(spark):
    """Top-K ordering, share arithmetic, and the salt suggestion must
    reconcile with a direct recomputation of the per-key counts."""
    import collections
    import math

    from hadoop_pyspark_streaming_analytics_spark.operators import timeseries
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_events

    rows = timeseries.key_skew_report(spark, SF).collect()
    counts = collections.Counter(
        r["user_id"] for r in load_events(spark, SF).select("user_id").collect()
    )
    total = sum(counts.values())
    # interpolated median, matching Spark percentile / DuckDB quantile_cont
    v = sorted(counts.values())
    med = (
        v[len(v) // 2]
        if len(v) % 2
        else (v[len(v) // 2 - 1] + v[len(v) // 2]) / 2.0
    )
    want_top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert [(r["user_id"], r["n_events"]) for r in rows] == want_top
    for r in rows:
        assert abs(r["share"] - round(r["n_events"] / total + 1e-8, 6)) <= 1e-12
        assert r["salt_factor"] == math.ceil(r["n_events"] / max(med, 1.0)) >= 1


def test_embedding_norm_audit_accounting(spark):
    """The audit must cover every vector exactly once, report the real
    64-dim constant dimensionality, unit-ish norms (the property the
    metric-equivalence pin relies on), and zero degenerate vectors."""
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    rows = similarity.embedding_norm_audit(spark, SF).collect()
    n_total = load_table(spark, SF, "embeddings").count()
    assert sum(r["n_vecs"] for r in rows) == n_total
    for r in rows:
        assert r["dim"] == 64 and r["n_dim_variants"] == 1
        assert r["n_zero"] == 0
        assert 0.9 <= r["min_norm"] <= r["mean_norm"] <= r["max_norm"] <= 1.1


def test_bpe_vocab_reconciles_with_segmentation(spark):
    """The vocab must be exactly the distinct final-segmentation symbols,
    occurrence totals must reconcile with the word counts, ids must be
    contiguous from 0 in (freq DESC, subword ASC) order, and total
    occurrences must equal the corpus's total BPE token count."""
    from hadoop_pyspark_streaming_analytics_spark.operators import corpus

    sf = "/root/testdata/sf0.001"
    seg = corpus.bpe_segment(spark, sf).collect()
    want = {}
    for r in seg:
        for sub in r["segmentation"].split(" "):
            want[sub] = want.get(sub, 0) + r["wcount"]
    rows = corpus.bpe_vocab(spark, sf).collect()
    assert {r["subword"]: r["n_occurrences"] for r in rows} == want
    assert [r["token_id"] for r in rows] == list(range(len(rows)))
    ordered = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [(r["subword"], r["n_occurrences"]) for r in rows] == ordered


def test_quality_calibration_within_source_quartiles(spark):
    """Quartiles must be assigned WITHIN each source (per-source quarter
    splits, boundary-monotone), covering every document exactly once."""
    import collections

    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    rows = quality.quality_score_calibration(spark, SF).collect()
    assert len(rows) == load_table(spark, SF, "documents").count()
    by_src = collections.defaultdict(list)
    for r in rows:
        by_src[r["source"]].append((r["quality_score"], r["source_quartile"]))
    for src, vals in by_src.items():
        qs = {q for _, q in vals}
        assert qs <= {1, 2, 3, 4}, (src, qs)
        n = len(vals)
        counts = collections.Counter(q for _, q in vals)
        for b in (1, 2, 3, 4):
            if n >= 8:
                assert counts.get(b, 0) >= n // 8, (src, b, counts)
        by_bin = collections.defaultdict(list)
        for s, q in vals:
            by_bin[q].append(s)
        for b in range(1, 4):
            if b in by_bin and b + 1 in by_bin:
                assert max(by_bin[b]) <= min(by_bin[b + 1]) + 1e-9, (src, b)


def test_truncation_report_reconciles_with_true_counts(spark):
    """Per-source truncation arithmetic must reconcile with the per-doc
    BPE totals: token sums, truncated-doc counts, and the exact lost-token
    sum at the shared TRUNCATION_CONTEXT."""
    from hadoop_pyspark_streaming_analytics_spark.operators import corpus
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    ctx = chunking.TRUNCATION_CONTEXT
    src = {
        r["doc_id"]: r["source"]
        for r in load_table(spark, SF, "documents").select("doc_id", "source").collect()
    }
    per_doc = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in corpus.bpe_token_counts(spark, SF).collect()
    }
    want: dict = {}
    for doc_id, n in per_doc.items():
        w = want.setdefault(src[doc_id], [0, 0, 0, 0])
        w[0] += 1
        w[1] += n
        w[2] += int(n > ctx)
        w[3] += max(n - ctx, 0)
    rows = chunking.truncation_report(spark, SF).collect()
    assert {r["source"] for r in rows} == set(want)
    for r in rows:
        n_docs, total, trunc, lost = want[r["source"]]
        assert (r["n_docs"], r["total_tokens"]) == (n_docs, total)
        assert (r["n_docs_truncated"], r["tokens_lost"]) == (trunc, lost)
        assert 0.0 <= r["lost_frac"] <= 1.0


def test_epoch_mixture_repeat_semantics(spark):
    """n_repeats must be floor(epochs) or floor(epochs)+1, the +1 slice
    must be the deterministic md5 thousandths slice, and every document
    appears exactly once (a materialization, not a sample)."""
    from hadoop_pyspark_streaming_analytics_spark.operators import quality
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    rows = quality.epoch_mixture_repeats(spark, SF).collect()
    n_docs = load_table(spark, SF, "documents").count()
    assert len(rows) == n_docs
    import hashlib

    listed = fractional = 0
    for r in rows:
        ep = quality.EPOCH_RECIPE.get(r["source"], quality.EPOCH_DEFAULT)
        listed += r["source"] in quality.EPOCH_RECIPE
        assert r["epochs"] == ep
        h1000 = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:6], 16) % 1000
        plus = 1 if h1000 < round((ep - int(ep)) * 1000) else 0
        fractional += plus
        assert r["n_repeats"] == int(ep) + plus
        # whole-epoch sources never get the fractional repeat
        if float(ep).is_integer():
            assert r["n_repeats"] == int(ep)
    assert listed and fractional, "recipe sources and fractional repeats must both occur"


def test_shard_manifest_fingerprints_detect_content_change(spark, tmp_path):
    """The manifest must reconcile with the assignment (counts, and the
    fingerprint equals md5 of the pos-ordered id list) and must CHANGE
    when a shard's content changes — the property a loader validates."""
    import hashlib

    from pyspark.sql import functions as F

    from hadoop_pyspark_streaming_analytics_spark.operators import quality
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    rows = {r["shard"]: r for r in quality.training_shard_manifest(spark, SF).collect()}
    assign = quality.training_shard_assignment(spark, SF).collect()
    by_shard: dict = {}
    for r in sorted(assign, key=lambda r: (r["shard"], r["pos_in_shard"])):
        by_shard.setdefault(r["shard"], []).append(r["doc_id"])
    assert set(rows) == set(by_shard)
    for shard, ids in by_shard.items():
        want = hashlib.md5(",".join(str(i) for i in ids).encode()).hexdigest()
        assert rows[shard]["content_fingerprint"] == want
        assert rows[shard]["n_docs"] == len(ids)
    # drop one document -> its shard's fingerprint (and only content) changes
    docs = load_table(spark, SF, "documents")
    victim = docs.select(F.min("doc_id")).first()[0]
    docs.filter(F.col("doc_id") != victim).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    changed = {
        r["shard"]: r["content_fingerprint"]
        for r in quality.training_shard_manifest(spark, str(tmp_path)).collect()
    }
    victim_shard = int(
        int(hashlib.md5(str(victim).encode()).hexdigest()[:6], 16) % 16
    )
    assert changed[victim_shard] != rows[victim_shard]["content_fingerprint"]
    for shard, fp in changed.items():
        if shard != victim_shard:
            assert fp == rows[shard]["content_fingerprint"]


# ---------------------------------------------------------------------------
# Corpus statistics tier (round 7)
# ---------------------------------------------------------------------------


def test_ngram_diversity_invariants(spark, sf_dir):
    """Per (source, n): 0 < distinct ratio <= 1, distinct <= total, and
    the distinct RATIO is non-increasing in n for this natural corpus? —
    no: wider grams are MORE distinct, so ratio must be non-decreasing
    in n per source (repeated unigrams collapse hardest)."""
    from hadoop_pyspark_streaming_analytics_spark.operators.corpus import (
        DIVERSITY_NS,
        ngram_diversity_by_source,
    )

    rows = ngram_diversity_by_source(spark, sf_dir).collect()
    by_src = {}
    for r in rows:
        assert 0 < r.n_distinct <= r.n_grams
        assert 0 < r.distinct_ratio <= 1.0 + 1e-9
        by_src.setdefault(r.source, {})[r.n] = r.distinct_ratio
    for src, ratios in by_src.items():
        assert set(ratios) == set(DIVERSITY_NS)
        seq = [ratios[n] for n in sorted(ratios)]
        assert seq == sorted(seq), (src, seq)  # wider grams more distinct


def test_length_profile_quantiles_ordered(spark, sf_dir):
    from hadoop_pyspark_streaming_analytics_spark.operators.corpus import (
        token_length_profile,
    )
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import (
        load_table,
    )

    rows = token_length_profile(spark, sf_dir).collect()
    n_sources = (
        load_table(spark, sf_dir, "documents")
        .select("source")
        .distinct()
        .count()
    )
    assert len(rows) == n_sources
    for r in rows:
        assert r.n_docs > 0
        assert 0 < r.p50_tokens <= r.p90_tokens <= r.p99_tokens
        assert r.mean_tokens > 0


def test_vocab_coverage_monotone_and_bounded(spark, sf_dir):
    """Coverage grows with k, never exceeds 1, and a cutpoint at or past
    the whole vocabulary reports exactly 1.0 (covered == total)."""
    from hadoop_pyspark_streaming_analytics_spark.operators.corpus import (
        COVERAGE_KS,
        vocab_coverage,
    )

    rows = sorted(vocab_coverage(spark, sf_dir).collect(), key=lambda r: r.top_k)
    assert [r.top_k for r in rows] == sorted(COVERAGE_KS)
    total = rows[0].total_occurrences
    prev = 0
    for r in rows:
        assert r.total_occurrences == total
        assert prev <= r.covered_occurrences <= total
        prev = r.covered_occurrences
        assert r.coverage_frac <= 1.0 + 1e-9
    # the synthetic corpus vocabulary is ~31 words: k=100 already covers all
    assert rows[-1].covered_occurrences == total
    assert abs(rows[-1].coverage_frac - 1.0) < 1e-6


def test_priority_sample_matches_python_reference(spark):
    """Efraimidis-Spirakis differential, third independent spelling
    (Catalyst expressions vs plain-python math; the DuckDB oracle is the
    second): per source, the k docs with SMALLEST key = -ln(u)/ln(1+n_chars)
    win, u = (first-8-md5-hex-digits + 0.5) / 2^32.  Adversarial shapes:
    a source smaller than k (everything selected), and an n_chars=0 doc
    (weight 0 -> key +inf -> selected only when the source can't fill k
    otherwise — exact zero-weight semantics, no NaN/crash)."""
    import hashlib
    import math

    from hadoop_pyspark_streaming_analytics_spark.operators import corpus as c

    rows = (
        [("web", i, 100 + 37 * i) for i in range(10)]
        + [("tiny", 100, 5), ("tiny", 101, 500)]
        + [("zero", 200, 0), ("zero", 201, 50), ("zero", 202, 7),
           ("zero", 203, 9), ("zero", 204, 11)]
    )
    docs = spark.createDataFrame(rows, "source string, doc_id long, n_chars int")

    def key_of(doc_id, n_chars):
        h32 = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
        u = (h32 + 0.5) / 2**32
        w = math.log(1.0 + n_chars)
        return (-math.log(u) / w) if w > 0 else math.inf

    k = 3
    expect = set()
    by_source: dict[str, list] = {}
    for s, d, n in rows:
        by_source.setdefault(s, []).append((key_of(d, n), d))
    for s, lst in by_source.items():
        for rank, (_, d) in enumerate(sorted(lst), start=1):
            if rank <= k:
                expect.add((s, d))

    orig = c.load_table
    try:
        c.load_table = lambda sp, dd, t: docs  # noqa: ARG005
        got_rows = c.priority_sample(spark, "ignored", k=k).collect()
    finally:
        c.load_table = orig
    got = {(r["source"], r["doc_id"]) for r in got_rows}
    assert got == expect
    assert len([r for r in got_rows if r["source"] == "tiny"]) == 2  # < k
    # weight-0 doc never outranks a positive-weight doc
    zero_sel = {r["doc_id"] for r in got_rows if r["source"] == "zero"}
    assert 200 not in zero_sel and len(zero_sel) == k
    # rnk is 1..k dense per source, ordered by the reported priority
    for s in ("web", "zero"):
        sel = sorted(
            (r for r in got_rows if r["source"] == s), key=lambda r: r["rnk"]
        )
        assert [r["rnk"] for r in sel] == list(range(1, k + 1))
        assert all(
            a["priority"] <= b["priority"] for a, b in zip(sel, sel[1:])
        )


def test_priority_sample_zero_weight_cross_engine(spark):
    """DuckDB-vs-Spark twin for the +inf branch (ADVICE r10 item 3): the
    sf0.001 oracle diff never sees an n_chars<=0 document, so the
    weight-0 → key=+inf semantics were only differential-tested on the
    Spark side (vs plain python).  Run the catalog entry's OWN oracle
    SQL over a synthetic documents frame that includes a zero-weight and
    a NULL-n_chars doc, and diff it against the Spark builder on the
    same frame — cross-engine +inf parity, gated."""
    import math

    import duckdb
    import pandas as pd

    from hadoop_pyspark_streaming_analytics_spark.operators import corpus as c
    from hadoop_pyspark_streaming_analytics_spark.plans.catalog import CATALOG

    oracle = next(s.oracle for s in CATALOG if s.name == "corpus_priority_sample")
    pdf = pd.DataFrame(
        {
            "source": ["web"] * 6 + ["zero", "zero", "zero"],
            "doc_id": [1, 2, 3, 4, 5, 6, 200, 201, 202],
            "n_chars": [100, 137, 174, 211, 248, 285, 0, 50, 7],
        }
    )
    docs = spark.createDataFrame(pdf).select(
        "source", "doc_id", F.col("n_chars").cast("int").alias("n_chars")
    )
    orig = c.load_table
    try:
        c.load_table = lambda sp, dd, t: docs  # noqa: ARG005
        got = (
            c.priority_sample(spark, "ignored")
            .toPandas()
            .sort_values(["source", "rnk"])
            .reset_index(drop=True)
        )
    finally:
        c.load_table = orig
    con = duckdb.connect()
    con.register("documents", pdf)
    want = (
        con.execute(oracle)
        .df()[got.columns.tolist()]
        .sort_values(["source", "rnk"])
        .reset_index(drop=True)
    )
    # The zero-weight doc keys to +inf in BOTH engines and fills the
    # last slot of its undersized stratum.
    zrow = got[(got.source == "zero") & (got.doc_id == 200)]
    assert len(zrow) == 1 and math.isinf(zrow.priority.iloc[0])
    pd.testing.assert_frame_equal(
        got.astype({c_: want[c_].dtype for c_ in want.columns}),
        want,
        check_exact=False,
        rtol=1e-6,
    )


def test_cosine_degenerate_cross_engine(spark):
    """Cross-engine pin for the round-11 nullif cosine spelling: on a
    frame with a zero-norm vector, a NULL vector, and two clean vectors,
    Spark's cosine_expr and the oracle twins' _duck_cos must agree
    VALUE-for-value — NULL on the degenerate rows (DuckDB's builtin
    list_cosine_similarity returns -1.0 for a zero vector, which is why
    the twins spell dot/nullif explicitly), matching doubles on the
    clean ones."""
    import duckdb
    import pandas as pd

    from hadoop_pyspark_streaming_analytics_spark.operators.similarity import (
        cosine_expr,
    )
    from hadoop_pyspark_streaming_analytics_spark.plans.llm_catalog import _duck_cos

    pdf = pd.DataFrame(
        {
            "id": [1, 2, 3, 4],
            "a": [[1.0, 0.0], [0.0, 0.0], None, [3.0, 4.0]],
            "b": [[1.0, 0.0], [1.0, 0.0], [1.0, 0.0], [4.0, 3.0]],
        }
    )
    sdf = spark.createDataFrame(
        pdf, "id int, a array<float>, b array<float>"
    )
    got = {
        r["id"]: r["c"]
        for r in sdf.select("id", cosine_expr("a", "b").alias("c")).collect()
    }
    con = duckdb.connect()
    con.register("v", pdf)
    want = dict(
        con.execute(
            "SELECT id, "
            + _duck_cos("a::DOUBLE[]", "b::DOUBLE[]")
            + " FROM v"
        ).fetchall()
    )
    assert set(got) == set(want)
    for i in got:
        if want[i] is None:
            assert got[i] is None, f"id {i}: spark {got[i]} vs duckdb NULL"
        else:
            assert got[i] == pytest.approx(want[i], rel=1e-12)
    assert got[2] is None and got[3] is None  # zero-norm + NULL degrade


def test_ivf_assign_degenerate_cross_engine(spark):
    """Full-entry degenerate parity for the assignment tier: on a frame
    holding a zero-norm vector, a NULL vector, and clean vectors, the
    ivf_assign builder and its catalog oracle must produce the SAME
    rows — including where the degenerate vectors land.  Pins the two
    engines' different argmax spellings (Spark max(struct(cos, -id))
    treats the all-NULL cos tie by highest neg_id; DuckDB row_number
    ORDER BY cos DESC NULLS LAST, centroid_id picks the lowest id):
    both must assign corrupt rows to centroid 0 with a NULL cosine."""
    import duckdb
    import numpy as np
    import pandas as pd

    from hadoop_pyspark_streaming_analytics_spark.operators import similarity as s
    from hadoop_pyspark_streaming_analytics_spark.plans.catalog import CATALOG

    oracle = next(sp.oracle for sp in CATALOG if sp.name == "ann_ivf_assign")
    rng = np.random.default_rng(11)
    vecs = [list(map(float, rng.normal(size=64))) for _ in range(12)]
    vecs[9] = [0.0] * 64          # zero-norm
    emb = [(i, None if i == 10 else vecs[i], i % 3) for i in range(12)]
    pdf = pd.DataFrame(emb, columns=["vec_id", "embedding", "label"])
    sdf = spark.createDataFrame(
        pdf, "vec_id long, embedding array<float>, label int"
    )
    orig = s.load_table
    try:
        s.load_table = lambda sp_, dd, t: sdf  # noqa: ARG005
        got = (
            s.ivf_assign(spark, "ignored")
            .toPandas()
            .sort_values("vec_id")
            .reset_index(drop=True)
        )
    finally:
        s.load_table = orig
    con = duckdb.connect()
    con.register("embeddings", pdf)
    want = (
        con.execute(oracle)
        .df()[got.columns.tolist()]
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({c: want[c].dtype for c in want.columns}),
        want,
        check_exact=False,
        rtol=1e-9,
    )
    degen = got[got.vec_id.isin([9, 10])]
    assert degen.cosine.isna().all()


def test_cosine_three_way_differential_random_degenerate(spark):
    """Three-way cosine differential over seeded-random frames laced
    with degenerate rows (NULL vectors, zero vectors, NULL-containing
    pairs): the JVM higher-order-function path (cosine_expr), the
    Arrow/BLAS path (cosine_arrow), and the DuckDB oracle spelling
    (_duck_cos) must agree row-for-row — NULL exactly where the others
    are NULL, doubles within 1e-9 elsewhere.  Breadth pin for the
    round-11 degrade-per-row spelling beyond the fixed 4-row fixture."""
    import duckdb
    import numpy as np
    import pandas as pd

    from hadoop_pyspark_streaming_analytics_spark.operators.similarity import (
        cosine_arrow,
        cosine_expr,
    )
    from hadoop_pyspark_streaming_analytics_spark.plans.llm_catalog import _duck_cos

    rng = np.random.default_rng(1111)

    def f32(x):
        # Round-trip through float32 so Spark (array<float> ingest) and
        # DuckDB (fed the pandas lists directly) see IDENTICAL values —
        # the parquet embeddings are float32 for the same reason.
        return [float(v) for v in np.asarray(x, dtype=np.float32)]

    # kinds 6-8 (ragged pair, equal-but-short pair, empty pair) extend
    # the Spark-side JVM↔Arrow parity sweep; DuckDB's list_dot_product
    # RAISES on unequal lengths and cannot take empty lists, so those
    # kinds are excluded from its leg (the gated parquet data is
    # fixed-dim — the oracle twins never see them).
    rows = []
    for i in range(90):
        kind = i % 9
        a = f32(rng.normal(size=8))
        b = f32(rng.normal(size=8))
        if kind == 3:
            a = None
        elif kind == 4:
            b = [0.0] * 8
        elif kind == 5:
            a, b = [0.0] * 8, None
        elif kind == 6:
            b = f32(rng.normal(size=6))  # ragged: zip_with pads -> NULL
        elif kind == 7:
            a, b = f32(rng.normal(size=4)), f32(rng.normal(size=4))
        elif kind == 8:
            a, b = [], []
        rows.append((i, kind, a, b))
    pdf = pd.DataFrame(rows, columns=["id", "kind", "a", "b"])
    sdf = spark.createDataFrame(
        pdf, "id int, kind int, a array<float>, b array<float>"
    )
    got = {
        r["id"]: (r["jvm"], r["arrow"])
        for r in sdf.select(
            "id",
            cosine_expr("a", "b").alias("jvm"),
            cosine_arrow(F.col("a"), F.col("b")).alias("arrow"),
        ).collect()
    }
    # JVM↔Arrow parity over ALL kinds (the Arrow twin must be total)
    assert len(got) == 90
    for i, (jvm, arrow) in got.items():
        if jvm is None:
            assert arrow is None, (i, arrow)
        else:
            assert arrow == pytest.approx(jvm, abs=1e-9), i
    ragged_empty = {r[0] for r in rows if r[1] in (6, 8)}
    assert all(got[i] == (None, None) for i in ragged_empty)
    con = duckdb.connect()
    duck_pdf = pdf[~pdf.kind.isin([6, 8])].drop(columns=["kind"])
    con.register("v", duck_pdf)
    want = dict(
        con.execute(
            "SELECT id, "
            + _duck_cos("a::DOUBLE[]", "b::DOUBLE[]")
            + " FROM v"
        ).fetchall()
    )
    for i, w in want.items():
        jvm = got[i][0]
        if w is None:
            assert jvm is None, (i, jvm)
        else:
            assert jvm == pytest.approx(w, abs=1e-9), i
    # the seeded mix really contains both populations on every leg
    assert sum(v is None for v in want.values()) == 30
    assert sum(j is None for j, _ in got.values()) == 50


def test_assignment_paths_agree_ivf_assign_vs_shared_core(spark, sf_dir):
    """Cross-path assignment parity (round-15 ADVICE item 3): ivf_assign
    and _assign_to_centroids spell the same argmax (6dp pre-rounded
    cosine, max(struct(cos, -centroid_id))) in two places — a tiebreak or
    rounding edit to one would silently desynchronize the IVF search /
    recall-curve assignments (which since round 16 call the shared core
    with an externally built centroid frame) from the ivf_assign build
    and from embedding_semdedup's carried-embedding variant.  Pin row
    parity of the two spellings on the real corpus."""
    from hadoop_pyspark_streaming_analytics_spark.operators import similarity as s
    from hadoop_pyspark_streaming_analytics_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    k = 8
    via_entry = s.ivf_assign(spark, sf_dir, k)
    via_core = s._assign_to_centroids(emb, s.lowid_centroids(emb, k))
    assert via_entry.columns == via_core.columns
    diff = via_entry.exceptAll(via_core).unionAll(
        via_core.exceptAll(via_entry)
    )
    assert diff.count() == 0
