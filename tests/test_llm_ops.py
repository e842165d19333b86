"""Semantic checks for the LLM-data operators: the sketch paths must
agree with their exact counterparts on planted duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kwwhat_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from kwwhat_spark.operators.multimodal import extract_features, synthesize_media
from kwwhat_spark.operators.similarity import brute_force_topk, lsh_topk


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("today", "tomorrow")),  # near dup of 1
        (4, "completely different content about spark query engines and shuffles"),
        (5, "completely different content about spark query engines and shuffles ok"),
        (6, "unrelated short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    out = {r["keeper_id"]: r["copies"] for r in exact_dedup(docs, "text", "doc_id").collect()}
    assert out[1] == 2  # docs 1 and 2 collapse
    assert sum(out.values()) == 6


def test_ngram_jaccard_finds_planted_pairs(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.5 <= pairs[(1, 3)] < 1.0
    assert (4, 5) in pairs
    assert not any(6 in p for p in pairs)


def test_ngram_jaccard_prefix_equals_full(spark, sf_dir):
    """Prefix filtering (AllPairs/PPJoin) must be lossless vs the full
    inverted-index join at every threshold."""
    from kwwhat_spark.sources.testdata import load_table

    real_docs = load_table(spark, sf_dir, "documents")
    for t in (0.3, 0.8):
        got = {
            s: sorted(
                map(tuple, ngram_jaccard_pairs(
                    real_docs, "doc_id", "text", block_col="lang",
                    threshold=t, strategy=s).collect())
            )
            for s in ("prefix", "full")
        }
        assert got["prefix"] == got["full"], f"strategies diverge at t={t}"


def test_minhash_lsh_agrees_with_exact_jaccard(docs):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", k=3, num_hashes=32, bands=8, threshold=0.5
        ).collect()
    }
    # LSH verification uses the same exact Jaccard → no false positives;
    # banding with 8 bands of 4 has ~1 recall at jaccard ≥ 0.5 on these.
    assert lsh <= exact
    assert (1, 2) in lsh and (1, 3) in lsh


def test_minhash_components_equal_allpairs_closure(spark, sf_dir):
    """Star edges (member → bucket min) must yield EXACTLY the same
    connected components as enumerating every within-bucket pair — a
    star is a spanning tree of the bucket clique. Verified on the real
    documents table so buckets have genuine multi-doc collisions."""
    from pyspark.sql import Window
    from kwwhat_spark.functions.text import let_, minhash_signature, word_shingles
    from kwwhat_spark.operators.dedup import _sig_bands, minhash_lsh_components
    from kwwhat_spark.operators.graph import connected_components
    from kwwhat_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    banded = docs.select(
        F.col("doc_id"),
        F.posexplode(
            let_(
                minhash_signature(
                    F.array_distinct(word_shingles(F.col("text"), 3)), 32
                ),
                lambda sig: _sig_bands(sig, 32, 8),
            )
        ).alias("band_idx", "band_hash"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    all_pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates()
    )
    full = connected_components(all_pairs, "doc_a", "doc_b")
    want = {r["node"]: r["component"] for r in full.collect()}
    got = {
        r["doc_id"]: r["component"]
        for r in minhash_lsh_components(docs, "doc_id", "text").collect()
    }
    n_docs = docs.count()
    assert len(got) == n_docs
    # Same membership for every doc that collides at all; singletons
    # label themselves.
    multi = {k: v for k, v in got.items() if k in want}
    assert multi == want
    assert all(got[k] == k for k in got if k not in want)
    # Sanity: the star edge list is LINEAR in bucket size, so there is
    # at least one non-trivial cluster to have exercised the closure.
    assert any(v != k for k, v in got.items())


def test_minhash_components_coarsen_verified_pairs(spark, sf_dir):
    """Verified LSH pairs are within-bucket by construction, so the star
    components must place both ends of every verified pair in the same
    cluster — the pair-free path never splits what verification would
    join; it can only merge more (false merges are the documented
    trade-off)."""
    from kwwhat_spark.operators.dedup import minhash_lsh_components, minhash_lsh_pairs
    from kwwhat_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    comp = {
        r["doc_id"]: r["component"]
        for r in minhash_lsh_components(docs, "doc_id", "text").collect()
    }
    verified = minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, num_hashes=32, bands=8, threshold=0.5
    ).collect()
    assert verified, "testdata should contain near-dup pairs"
    for r in verified:
        assert comp[r["doc_a"]] == comp[r["doc_b"]], (r["doc_a"], r["doc_b"])


def test_simhash_identical_docs_hamming_zero(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0


@pytest.mark.parametrize("replayable_hash", [False, True])
def test_simhash_null_and_empty_texts_pair_at_hamming_zero(spark, replayable_hash):
    """The documented contract: null and empty texts hash to simhash 0 in
    both families, so they pair with each other and with nothing else."""
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, None), (3, ""), (4, None), (5, "x y z")],
        "doc_id long, text string",
    )
    got = simhash_pairs(docs, "doc_id", "text", replayable_hash=replayable_hash).collect()
    assert {(r["doc_a"], r["doc_b"]): r["hamming"] for r in got} == {
        (2, 3): 0, (2, 4): 0, (3, 4): 0,
    }


@pytest.mark.full
def test_lsh_topk_subset_of_brute_force_universe(spark, sf_dir):
    from kwwhat_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    bf = brute_force_topk(q, c, k=5).collect()
    lsh = lsh_topk(q, c, k=5).collect()
    # Self-match is always rank 1 in both (cosine(v,v)=1, same bucket).
    bf_self = {r["query_id"] for r in bf if r["rank"] == 1 and r["corpus_id"] == r["query_id"]}
    lsh_self = {r["query_id"] for r in lsh if r["rank"] == 1 and r["corpus_id"] == r["query_id"]}
    assert bf_self == {0, 1, 2, 3, 4}
    assert lsh_self == {0, 1, 2, 3, 4}


def test_ivf_topk_full_probe_equals_brute_force(spark, sf_dir):
    from kwwhat_spark.operators.similarity import ivf_topk
    from kwwhat_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    bf = {(r["query_id"], r["rank"]): r["corpus_id"] for r in brute_force_topk(q, c, k=5).collect()}
    # Probing every cell degenerates to exact search.
    full = {
        (r["query_id"], r["rank"]): r["corpus_id"]
        for r in ivf_topk(q, c, k=5, n_cells=8, n_probe=8).collect()
    }
    assert full == bf


@pytest.mark.full
def test_ivf_topk_broadcast_queries_path_parity(spark, sf_dir):
    """The zero-shuffle broadcast-queries scan must equal the cogroup
    shuffle path row-for-row — full probe (exact regime) AND partial
    probe (identical cell structure ⇒ identical candidate sets), for
    both an array<double> and an array<float> input (which ships its
    vectors through the re-rank shuffle as float32)."""
    from kwwhat_spark.operators.similarity import ivf_topk
    from kwwhat_spark.sources.testdata import load_table

    raw = load_table(spark, sf_dir, "embeddings")

    def rows(f32, **kw):
        emb = raw.select(
            "vec_id",
            F.col("embedding").cast("array<float>" if f32 else "array<double>")
            .alias("embedding"),
        )
        q = emb.filter(F.col("vec_id") < 7).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
        return {
            (r["query_id"], r["rank"]): (r["corpus_id"], r["cosine_sim"])
            for r in ivf_topk(q, c, k=5, n_cells=8, **kw).collect()
        }

    for probe_kw in ({"n_probe": 8}, {"n_probe": 3}):
        for f32 in (False, True):
            shuffled = rows(f32, broadcast_queries=False, **probe_kw)
            scanned = rows(f32, broadcast_queries=True, **probe_kw)
            assert scanned == shuffled, (probe_kw, f32)


@pytest.mark.full
def test_ivf_topk_broadcast_queries_guard(spark, sf_dir):
    import pytest as _pytest

    from kwwhat_spark.operators.similarity import ivf_topk
    from kwwhat_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    big_q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    with _pytest.raises(ValueError, match="probe rows"):
        # 500 queries × 249 probed cells = 124.5k probe rows > the
        # guard. n_probe must stay < n_cells here: the full-probe
        # degenerate constant-folds to brute_force_topk (its own guard)
        # before the probe collect ever happens.
        ivf_topk(big_q, c, k=5, n_cells=250, n_probe=249,
                 broadcast_queries=True)


def test_ivf_topk_partial_probe_recall(spark, sf_dir):
    from kwwhat_spark.operators.similarity import ivf_topk
    from kwwhat_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    bf = {(r["query_id"], r["corpus_id"]) for r in brute_force_topk(q, c, k=5).collect()}
    ivf = {
        (r["query_id"], r["corpus_id"])
        for r in ivf_topk(q, c, k=5, n_cells=8, n_probe=3).collect()
    }
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.5, f"recall@5 {recall}"
    # The query's own vector is in its nearest cell: self-match always found.
    assert all((i, i) in ivf for i in range(10))


def test_ivf_trained_centroids_recall(spark, sf_dir):
    """k-means-trained centroids (MLlib) must keep full-probe exactness
    and reach at least the sampled-centroid recall at equal probes."""
    from kwwhat_spark.operators.similarity import ivf_topk, train_centroids
    from kwwhat_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    cents = train_centroids(c, "embedding", k=8, seed=42)
    assert len(cents) == 8 and all(len(v) == len(cents[0]) for v in cents)

    bf = {(r["query_id"], r["corpus_id"]) for r in brute_force_topk(q, c, k=5).collect()}
    full = {(r["query_id"], r["corpus_id"])
            for r in ivf_topk(q, c, k=5, n_cells=8, n_probe=8, centroid_vecs=cents).collect()}
    assert full == bf  # full probe is exact regardless of centroids

    def recall(cvecs):
        got = {(r["query_id"], r["corpus_id"])
               for r in ivf_topk(q, c, k=5, n_cells=8, n_probe=3,
                                 centroid_vecs=cvecs).collect()}
        return len(bf & got) / len(bf)

    trained, sampled = recall(cents), recall(None)
    assert trained >= 0.5, f"trained recall@5 {trained}"
    # Not strictly guaranteed, but stable under the fixed seed on this
    # data; a large gap the other way would mean the training is wired
    # wrong.
    assert trained >= sampled - 0.1, (trained, sampled)


def test_multimodal_feature_plumbing(spark):
    media = synthesize_media(spark, n=30)
    feats = extract_features(media, dim=16).collect()
    assert len(feats) == 30
    for r in feats:
        assert len(r["feature"]) == 16
        assert all(0.0 <= x <= 1.0 for x in r["feature"])
        assert len(r["content_sha256"]) == 64
    # Real decoders handle the decodable modalities; only opaque video
    # CONTAINERS fall back to the digest stub (AVI-MJPEG rows keep the
    # stub at WHOLE-container level too — features of a video are per
    # sampled frame via frame_sample, not per archive).
    decoders = {r["modality"]: set() for r in feats}
    for r in feats:
        decoders[r["modality"]].add(r["decoder"])
    assert decoders["image"] == {"bmp", "png", "jpeg", "gif"}
    assert decoders["audio"] == {"wav"}
    assert decoders["video"] == {"stub"}
    # Determinism: same seed → same digests.
    again = {r["media_id"]: r["content_sha256"] for r in extract_features(synthesize_media(spark, n=30), dim=16).collect()}
    assert all(again[r["media_id"]] == r["content_sha256"] for r in feats)


@pytest.mark.full
def test_multimodal_frame_sample(spark):
    from kwwhat_spark.operators.multimodal import frame_sample

    media = synthesize_media(spark, n=30)
    frames = frame_sample(media, interval_ms=5000, max_frames=4).collect()
    videos = {r["media_id"]: r for r in media.collect() if r["modality"] == "video"}
    # Only video rows expand, frame counts follow duration/interval
    # capped at max_frames, and indices/timestamps are contiguous.
    by_media: dict[int, list] = {}
    for r in frames:
        assert r["media_id"] in videos
        assert r["modality"] == "image"
        by_media.setdefault(r["media_id"], []).append(r)
    assert set(by_media) == set(videos)
    from kwwhat_spark.operators.avi import decode_avi_mjpeg
    from kwwhat_spark.operators.jpeg import decode_jpeg

    for mid, rows in by_media.items():
        avi = decode_avi_mjpeg(bytes(videos[mid]["payload"]))
        if avi is not None:  # REAL container: duration + dims from it
            duration = avi["n_frames"] * avi["us_per_frame"] // 1000
        else:
            duration = videos[mid]["duration_ms"]
        expected = min(duration // 5000 + 1, 4)
        assert len(rows) == expected
        rows.sort(key=lambda r: r["frame_index"])
        for j, r in enumerate(rows):
            assert r["frame_index"] == j
            assert r["frame_ts_ms"] == j * 5000
            if avi is None:
                assert len(r["payload"]) == 32  # digest stub
            else:  # real JPEG frame, pixel-decodable
                assert bytes(r["payload"]).startswith(b"\xff\xd8")
                assert decode_jpeg(bytes(r["payload"])) is not None
        if avi is None:
            assert r["width"] == videos[mid]["width"]
    # Stub digests are distinct per (video, ts); reruns deterministic.
    payloads = [bytes(r["payload"]) for rows in by_media.values() for r in rows]
    stub_digests = [p for p in payloads if len(p) == 32]
    assert len(set(stub_digests)) == len(stub_digests)
    again = frame_sample(synthesize_media(spark, n=30), interval_ms=5000, max_frames=4).collect()
    assert sorted(bytes(r["payload"]) for r in again) == sorted(payloads)
    # Downstream composition: frames feed extract_features unchanged.
    feats = extract_features(
        frame_sample(media, interval_ms=5000, max_frames=4), dim=8
    ).collect()
    assert len(feats) == len(frames)
    assert all(len(r["feature"]) == 8 for r in feats)


def test_minhash_seed_family_is_actually_seeded(spark):
    """Regression for the F.transform arity trap: a two-parameter lambda
    is silently called as (element, array_index), which binds the ARRAY
    INDEX over the intended seed and collapses every signature slot to
    the same hash family. The signature of a multi-shingle set must
    therefore contain many distinct values across seeds, for both hash
    families, and the xxhash64 slot-0 value must equal the directly
    computed min."""
    from kwwhat_spark.functions.text import md5_52_seeded, minhash_from_hashed

    df = spark.createDataFrame([(1, list(range(100, 130)))], "id long, h array<long>")
    for seed_hash in (None, md5_52_seeded):
        sig = df.select(
            minhash_from_hashed(F.col("h"), 16, seed_hash=seed_hash).alias("s")
        ).first()["s"]
        assert len(set(sig)) > 8, f"degenerate signature (seed ignored): {sig}"
    # Two-hash rotate family: distinct rotations per slot, so slots of a
    # multi-element set must not collapse to one value.
    got = df.select(minhash_from_hashed(F.col("h"), 4).alias("s")).first()["s"]
    assert len(set(got)) >= 3, got


@pytest.mark.full
def test_minhash_replayable_matches_xxhash_pairs(spark, sf_dir):
    """The md5_52 and xxhash64 hash families must find the same verified
    near-dup pairs on the documents table (banding recall may differ in
    principle; at this scale both recall every >= 0.5 pair)."""
    from kwwhat_spark.operators.dedup import minhash_lsh_pairs
    from kwwhat_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    kw = dict(k=3, num_hashes=32, bands=8, threshold=0.5)
    xx = {(r.doc_a, r.doc_b): round(r.jaccard, 9)
          for r in minhash_lsh_pairs(docs, "doc_id", "text", **kw).collect()}
    md = {(r.doc_a, r.doc_b): round(r.jaccard, 9)
          for r in minhash_lsh_pairs(docs, "doc_id", "text", replayable_hash=True, **kw).collect()}
    assert xx and xx == md


@pytest.mark.full
def test_xxh64_sig_mapper_matches_expression(spark):
    """The vectorized numpy signature (operators/dedup._xxh64_sig_fn)
    must be bit-identical to the Catalyst expression form
    min_j(xxhash64(shingle_j, lit(i))) — it replicates Spark's XxHash64
    (8-byte round for the long child, 4-byte round for the IntegerType
    seed literal). Random longs incl. sign/overflow edges."""
    import random

    from pyspark.sql import functions as F, types as T

    from kwwhat_spark.operators.dedup import _xxh64_sig_fn

    rng = random.Random(99)
    rows = [
        (i, [rng.randint(-(2**63), 2**63 - 1) for _ in range(rng.randint(1, 40))])
        for i in range(50)
    ]
    rows[0] = (0, [0, 1, -1, 2**63 - 1, -(2**63)])
    df = spark.createDataFrame(rows, "doc_id long, shingles array<long>")
    num_hashes = 16
    def seeded(i):
        # Factory, NOT a two-param lambda: F.transform binds a second
        # lambda parameter to the ARRAY INDEX (the minhash_from_hashed
        # trap), which would silently hash every seed identically.
        return lambda h: F.xxhash64(h, F.lit(i))

    expr_sig = df.select(
        "doc_id",
        F.array(
            *[
                F.array_min(F.transform(F.col("shingles"), seeded(i)))
                for i in range(num_hashes)
            ]
        ).alias("sig"),
    )
    numpy_sig = df.mapInPandas(
        _xxh64_sig_fn(num_hashes),
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("sig", T.ArrayType(T.LongType())),
            ]
        ),
    )
    a = {r.doc_id: list(r.sig) for r in expr_sig.collect()}
    b = {r.doc_id: list(r.sig) for r in numpy_sig.collect()}
    assert a == b


def test_all_pairs_cosine_matches_expression(spark):
    """all_pairs_cosine (broadcast BLAS matmul) must reproduce the
    expression form (self-join + aggregate/zip_with cosine, rounded
    HALF_UP to 6) pair-for-pair. Compared at threshold -1.0 so EVERY
    pair's rounded sim is checked (the 0.95 entries emit few/no rows at
    test scale), plus the thresholded survivor set, plus empty input.
    A null vector pairs with nothing, nor does a vector with one of
    another length: the expression sim is null, which no threshold
    admits."""
    import random

    from pyspark.sql import functions as F

    from kwwhat_spark.operators.similarity import all_pairs_cosine, cosine

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    # Near-duplicate + identical + antipodal pairs to stress the
    # threshold and the rounding boundary region.
    rows[1] = (1, list(rows[0][1]))
    rows[2] = (2, [x + 1e-7 for x in rows[0][1]])
    rows[3] = (3, [-x for x in rows[0][1]])
    rows[4] = (4, None)
    # Ragged: 5 and 6 are shorter than the rest and pair only with each
    # other (parallel, so they survive); every unequal-length pair's
    # expression sim is null, which no threshold admits.
    rows[5] = (5, rows[5][1][:5])
    rows[6] = (6, [2 * x for x in rows[5][1]])
    short = {5, 6}
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    expr_all = {
        (r.id_a, r.id_b): r.sim
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("sim")
        )
        .collect()
    }
    assert {k for k, v in expr_all.items() if v is None} == {
        k for k in expr_all if 4 in k or len(short & set(k)) == 1
    }
    expr = {k: v for k, v in expr_all.items() if v is not None}
    blas = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in all_pairs_cosine(
            df, "vec_id", "embedding", -1.0, keep_sim=True
        ).collect()
    }
    assert expr == blas

    thresholded = {
        (r.id_a, r.id_b)
        for r in all_pairs_cosine(df, "vec_id", "embedding", 0.95).collect()
    }
    assert thresholded == {k for k, v in expr.items() if v >= 0.95}
    assert (1, 2) not in thresholded or expr[(1, 2)] >= 0.95  # sanity
    assert (0, 1) in thresholded  # identical vectors survive
    assert (5, 6) in thresholded  # so do equal-length ragged ones

    empty = all_pairs_cosine(
        df.filter(F.lit(False)), "vec_id", "embedding", 0.5, keep_sim=True
    )
    assert empty.count() == 0 and empty.columns == ["id_a", "id_b", "cosine_sim"]

    # Force the multi-block path (block_rows = block_doubles // n -> 2
    # rows per sims block for n=40): identical output.
    import kwwhat_spark.operators.similarity as sim_mod

    old_block = sim_mod._BLOCK_DOUBLES
    sim_mod._BLOCK_DOUBLES = 80
    try:
        blocked = {
            (r.id_a, r.id_b): r.cosine_sim
            for r in all_pairs_cosine(
                df, "vec_id", "embedding", -1.0, keep_sim=True
            ).collect()
        }
    finally:
        sim_mod._BLOCK_DOUBLES = old_block
    assert blocked == expr


def test_simhash_votes_mapper_matches_expression(spark):
    """The vectorized SimHash bit votes (operators/dedup
    ._simhash64_votes_fn) must be bit-identical to the expression form
    (functions/text.simhash64 over xxhash64 token hashes): votes are
    exact integer sums, a bit is set iff votes > 0 (strictly — ties
    stay 0), and an empty or null token array yields simhash 0. Random
    token hash arrays incl. sign/overflow edges, empty and null docs."""
    import random

    from pyspark.sql import functions as F, types as T

    from kwwhat_spark.functions.text import simhash64
    from kwwhat_spark.operators.dedup import _simhash64_votes_fn

    rng = random.Random(7)
    rows = [
        (i, [rng.randint(-(2**63), 2**63 - 1) for _ in range(rng.randint(0, 30))])
        for i in range(60)
    ]
    rows[0] = (0, [0, 1, -1, 2**63 - 1, -(2**63)])
    rows[1] = (1, [])  # aggregate over empty array = 0 votes = simhash 0
    rows[2] = (2, [3, 3])  # even count: every vote a tie or ±2, ties stay 0
    rows[3] = (3, None)  # null token array = simhash 0, like the expression
    df = spark.createDataFrame(rows, "doc_id long, toks array<long>")

    # Expression form expects TOKEN STRINGS and hashes them itself; feed
    # it a pre-hashed identity by comparing at the from_hashed level:
    # simhash64 = let_(transform(tokens, xxhash64), from_hashed), so the
    # expression equivalent over already-hashed longs is simhash64 over
    # tokens whose xxhash64 is our longs. Instead compare both paths on
    # the same STRING tokens end-to-end.
    str_rows = [
        (i, " ".join(rng.choice(["a", "b", "cc", "ddd", "e f"]) for _ in
                     range(rng.randint(0, 12))))
        for i in range(40)
    ]
    str_rows[0] = (0, None)  # null text row: null token array
    sdf = spark.createDataFrame(str_rows, "doc_id long, text string")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    expr_out = {
        r.doc_id: r.simhash
        for r in sdf.select("doc_id", simhash64(toks).alias("simhash")).collect()
    }
    hashed = sdf.select(
        "doc_id", F.transform(toks, lambda t: F.xxhash64(t)).alias("toks")
    )
    numpy_out = {
        r.doc_id: r.simhash
        for r in hashed.mapInPandas(
            _simhash64_votes_fn(),
            schema=T.StructType(
                [
                    T.StructField("doc_id", T.LongType()),
                    T.StructField("simhash", T.LongType()),
                ]
            ),
        ).collect()
    }
    assert expr_out == numpy_out and expr_out[0] == 0

    # And the mapper over raw long arrays vs a direct per-row vote in
    # Python (independent reference, covers the full 64-bit range).
    def ref(hs: list[int]) -> int:
        out = 0
        for b in range(64):
            ones = sum((h >> b) & 1 for h in (x & (2**64 - 1) for x in hs))
            if 2 * ones > len(hs):
                out |= 1 << b
        return out - 2**64 if out >= 2**63 else out

    mapped = {
        r.doc_id: r.simhash
        for r in df.mapInPandas(
            _simhash64_votes_fn(),
            schema=T.StructType(
                [
                    T.StructField("doc_id", T.LongType()),
                    T.StructField("simhash", T.LongType()),
                ]
            ),
        ).collect()
    }
    assert mapped == {i: ref(hs or []) for i, hs in rows}


@pytest.mark.full
def test_minhash_from_hashed_validations(spark):
    """ADVICE r9: custom seed_hash families must raise (not be silently
    swapped for md5_52), and num_hashes > 52 must raise (the rotation
    schedule has period 52, so slots would repeat)."""
    import pytest

    from kwwhat_spark.functions.text import minhash_from_hashed

    df = spark.createDataFrame([(1, [100, 101])], "id long, h array<long>")
    with pytest.raises(ValueError, match="seed_hash"):
        df.select(minhash_from_hashed(F.col("h"), 8, seed_hash=lambda h, s: h))
    with pytest.raises(ValueError, match="num_hashes"):
        df.select(minhash_from_hashed(F.col("h"), 53, replayable=True))
    # The non-replayable per-seed family has no period-52 schedule; 53
    # seeds are legal there.
    row = df.select(minhash_from_hashed(F.col("h"), 53).alias("s")).first()
    assert len(row["s"]) == 53


def test_minhash_banded_num_hashes_guard(spark):
    """ADVICE r10: the exploded banding path uses the SAME period-52
    rotation schedule as minhash_from_hashed, so it needs the same
    num_hashes > 52 guard — both hash families route through it."""
    import pytest

    from kwwhat_spark.operators.dedup import minhash_banded

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    for replayable in (False, True):
        with pytest.raises(ValueError, match="num_hashes"):
            minhash_banded(
                df, "doc_id", "text", num_hashes=64, bands=8,
                replayable_hash=replayable,
            )
