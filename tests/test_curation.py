"""Unit invariants for the curation operators (repetition signals,
unigram-LM scoring, per-group caps, weighted sampling). Cross-engine
equality is covered by the oracle gate in test_catalog_oracle.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from kwwhat_spark.functions.text import repetition_signals
from kwwhat_spark.operators.corpus import (
    cap_per_group,
    unigram_logprob_scores,
    weighted_sample,
)
from kwwhat_spark.sources.testdata import load_table


def _signals(spark, rows):
    df = spark.createDataFrame(rows, "id long, text string")
    out = df.select("id", repetition_signals("text").alias("r")).select("id", "r.*")
    return {r["id"]: r.asDict() for r in out.collect()}


def test_repetition_signals_hand_checked(spark):
    got = _signals(
        spark,
        [(1, "a b a b a b c"), (2, "x x x x y"), (3, ""), (4, "   "), (5, "w")],
    )
    r1 = got[1]
    assert r1["n_tokens"] == 7
    assert abs(r1["word_rep_ratio"] - 4 / 7) < 1e-12
    assert r1["top_word"] == "a" and abs(r1["top_word_frac"] - 3 / 7) < 1e-12
    assert abs(r1["dup_2gram_frac"] - 0.5) < 1e-12  # 6 bigrams, 3 distinct
    assert abs(r1["dup_3gram_frac"] - 0.4) < 1e-12  # 5 trigrams, 3 distinct
    assert r1["max_run_len"] == 1
    r2 = got[2]
    assert r2["max_run_len"] == 4 and r2["top_word_frac"] == 0.8
    for empty_id in (3, 4):
        r = got[empty_id]
        assert r["n_tokens"] == 0 and r["top_word"] is None
        assert r["word_rep_ratio"] == 0.0 and r["max_run_len"] == 0
    assert got[5]["top_word"] == "w" and got[5]["top_word_frac"] == 1.0


def test_repetition_signals_mode_tiebreak_is_lexicographic(spark):
    # 'b' and 'a' both occur twice — the smaller word wins the tie.
    got = _signals(spark, [(1, "b a b a c")])
    assert got[1]["top_word"] == "a"


def test_unigram_logprob_rare_tokens_score_higher(spark):
    df = spark.createDataFrame(
        [(1, "the the the the"), (2, "zyx the the the")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in unigram_logprob_scores(df).collect()}
    # doc 2 contains the single rare token → higher mean surprisal.
    assert out[2]["mean_surprisal_bits"] > out[1]["mean_surprisal_bits"]
    assert out[1]["n_tokens"] == 4
    # doc 1 is all 'the' (7 of 8 corpus tokens): surprisal = log2(8/7) each.
    import math

    per_tok = math.floor(math.log2(8 / 7) * 1e6 + 0.5)
    assert out[1]["surprisal_q"] == 4 * per_tok


def test_unigram_logprob_drops_empty_documents(spark):
    df = spark.createDataFrame([(1, "a b"), (2, "   ")], "doc_id long, text string")
    assert [r.doc_id for r in unigram_logprob_scores(df).collect()] == [1]


def test_cap_per_group_keeps_top_n_per_group(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    capped = cap_per_group(
        docs, "source", [F.col("n_chars").desc(), F.col("doc_id").asc()], 10
    )
    per_group = {
        r["source"]: r["cnt"]
        for r in capped.groupBy("source").agg(F.count("*").alias("cnt")).collect()
    }
    assert per_group and all(c <= 10 for c in per_group.values())
    # The kept rows per source are exactly the n_chars-largest ones.
    src, _ = next(iter(per_group.items()))
    kept = sorted(
        (-r["n_chars"], r["doc_id"])
        for r in capped.filter(F.col("source") == src).collect()
    )
    best = sorted(
        (-r["n_chars"], r["doc_id"])
        for r in docs.filter(F.col("source") == src).collect()
    )[: len(kept)]
    assert kept == best


def test_weighted_sample_fixed_size_and_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    s1 = weighted_sample(docs, "doc_id", "n_chars", 5, stratify_col="lang", salt="t")
    s2 = weighted_sample(docs, "doc_id", "n_chars", 5, stratify_col="lang", salt="t")
    ids1 = sorted(r.doc_id for r in s1.collect())
    assert ids1 == sorted(r.doc_id for r in s2.collect())
    sizes = {
        r["lang"]: r["cnt"]
        for r in s1.groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    for lang, cnt in sizes.items():
        avail = docs.filter(F.col("lang") == lang).count()
        assert cnt == min(5, avail), (lang, cnt, avail)


def test_weighted_sample_huge_weight_always_selected(spark):
    rows = [(i, 1.0) for i in range(200)] + [(999, 1e9)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    picked = {r.doc_id for r in weighted_sample(df, "doc_id", "w", 3).collect()}
    assert 999 in picked and len(picked) == 3


def test_strip_duplicate_spans_cross_document(spark):
    from kwwhat_spark.operators.corpus import strip_duplicate_spans

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x a b c y"), (3, "p q r p q r"), (4, "solo words only")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in strip_duplicate_spans(df, k=3).collect()}
    # "a b c" occurs in docs 1 and 2 → covered there.
    assert out[1]["n_dup_starts"] == 1 and out[1]["cleaned_text"] == "d e"
    assert abs(out[1]["dup_span_frac"] - 3 / 5) < 1e-12
    assert out[2]["cleaned_text"] == "x y"
    # "p q r" repeats WITHIN doc 3 → everything covered.
    assert out[3]["n_dup_starts"] == 2
    assert out[3]["dup_span_frac"] == 1.0 and out[3]["cleaned_text"] == ""
    # unique doc untouched
    assert out[4]["n_dup_starts"] == 0 and out[4]["cleaned_text"] == "solo words only"


def test_strip_duplicate_spans_carry_cols(spark):
    """carry_cols must ride columns through unchanged — same rows and
    span results as the no-carry form plus a join-back on doc_id (the
    shape curation_pipeline replaced with carry_cols)."""
    from kwwhat_spark.operators.corpus import strip_duplicate_spans

    df = spark.createDataFrame(
        [
            (1, "web", "en", "a b c d e"),
            (2, "web", "de", "x a b c y"),
            (3, "books", "en", "p q r p q r"),
        ],
        "doc_id long, source string, lang string, text string",
    )
    carried = strip_duplicate_spans(df, k=3, carry_cols=("source", "lang"))
    joined = strip_duplicate_spans(df, k=3).join(
        df.select("doc_id", "source", "lang"), "doc_id"
    )
    cols = ["doc_id", "source", "lang", "n_tokens", "n_dup_starts",
            "dup_span_frac", "cleaned_text"]
    assert sorted(carried.select(*cols).collect()) == sorted(
        joined.select(*cols).collect()
    )


def test_semdedup_removes_within_cluster_duplicates_only(spark):
    from kwwhat_spark.operators.similarity import semdedup

    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.0001]),   # near-dup of 1, same cluster → removed
        (10, [0.0, 1.0]),
        (11, [0.0001, 1.0]),  # near-dup of 10, other cluster → removed there
        (20, [0.7, 0.7]),     # diagonal, not a dup of anything at 0.999
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    out = {r["vec_id"]: r.asDict() for r in semdedup(df, cents, threshold=0.999).collect()}
    assert len(out) == 5
    assert out[1]["is_kept"] and not out[2]["is_kept"]
    assert out[10]["is_kept"] and not out[11]["is_kept"]
    assert out[20]["is_kept"]
    assert out[1]["cluster_id"] == 0 and out[10]["cluster_id"] == 1


def test_knn_graph_agrees_with_expression_topk(spark, sf_dir):
    from kwwhat_spark.operators.similarity import brute_force_topk, knn_graph
    from kwwhat_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    sub = emb.filter(F.col("vec_id") < 60)
    g = knn_graph(sub, k=3)
    got = {
        (r.src_id, r.rank): (r.dst_id, round(r.cosine_sim, 6)) for r in g.collect()
    }
    q = sub.select(F.col("vec_id").alias("query_id"), "embedding")
    c = sub.select(F.col("vec_id").alias("corpus_id"), "embedding")
    # Expression path includes self-matches; re-rank without them.
    exp = brute_force_topk(q, c, k=4)
    want = {}
    for r in exp.collect():
        if r.query_id == r.corpus_id:
            continue
        ranks = want.setdefault(r.query_id, [])
        ranks.append((r.cosine_sim, r.corpus_id))
    for qid, lst in want.items():
        lst.sort(key=lambda t: (-t[0], t[1]))
        for rank, (sim, cid) in enumerate(lst[:3], start=1):
            dst, gsim = got[(qid, rank)]
            assert dst == cid, (qid, rank, dst, cid)
            assert abs(gsim - sim) < 2e-6

    counts = {r.src_id for r in g.collect()}
    assert len(counts) == sub.count(), "every vector gets neighbors"


def test_knn_graph_quantized_twin_agrees_with_blas_path(spark, sf_dir):
    # The replayable twin must be the same operator as the production
    # BLAS path modulo arithmetic: feed both the SAME int8-quantized
    # vectors, so the only difference left is integer-exact vs float
    # accumulation — neighbor ids must match and sims agree to 1e-9.
    from kwwhat_spark.operators.similarity import (
        knn_graph,
        knn_graph_quantized,
        quantize_int8,
    )
    from kwwhat_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    sub = emb.filter(F.col("vec_id") < 60).select(
        "vec_id", quantize_int8(F.col("embedding"))["q"].alias("codes")
    )
    twin = {
        (r.src_id, r.rank): (r.dst_id, r.cosine_sim)
        for r in knn_graph_quantized(sub, "vec_id", "codes", k=3).collect()
    }
    blas_in = sub.select(
        "vec_id",
        F.transform("codes", lambda x: x.cast("double")).alias("embedding"),
    )
    blas = {
        (r.src_id, r.rank): (r.dst_id, r.cosine_sim)
        for r in knn_graph(blas_in, k=3).collect()
    }
    assert set(twin) == set(blas)
    for key, (dst, sim) in twin.items():
        bdst, bsim = blas[key]
        assert abs(bsim - sim) < 1e-9, (key, bsim, sim)
        assert bdst == dst, (key, bdst, dst)


def test_kmeans_quantized_separates_obvious_groups(spark):
    from kwwhat_spark.operators.clustering import kmeans_quantized

    # Two tight groups on opposite corners; seeds 0 and 1 are one from each.
    rows = [(0, [100, 100, 0, 0]), (1, [0, 0, 100, 100])]
    rows += [(i, [100 + i % 3, 99, i % 2, 0]) for i in range(2, 12)]
    rows += [(i, [i % 2, 0, 100 + i % 3, 99]) for i in range(12, 22)]
    df = spark.createDataFrame(rows, "vec_id long, codes array<int>")
    out = {r["vec_id"]: r["cluster_id"] for r in kmeans_quantized(df, k=2, iterations=3).collect()}
    g0 = {out[i] for i in list(range(2, 12)) + [0]}
    g1 = {out[i] for i in list(range(12, 22)) + [1]}
    assert len(g0) == 1 and len(g1) == 1 and g0 != g1

    # Deterministic under repartitioning.
    out2 = {
        r["vec_id"]: r["cluster_id"]
        for r in kmeans_quantized(df.repartition(5), k=2, iterations=3).collect()
    }
    assert out == out2


def test_split_leakage_safe_invariants(spark, sf_dir):
    from pyspark.sql import functions as F

    from kwwhat_spark.queries import REGISTRY

    split = REGISTRY["split_leakage_safe"].spark(spark, sf_dir)
    # Every near-dup cluster lands in exactly one split (the invariant
    # that plain dataset_split cannot give).
    assert (
        split.groupBy("component")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
        == 0
    )
    # And therefore every LSH near-dup pair trains and evaluates on the
    # same side. The pair set MUST use the same banding parameterization
    # as the split's clustering (16 hashes / 4 bands): a candidate pair
    # shares a bucket there, hence a component, hence a split — a
    # structural guarantee, not a fixture accident. (A differently-seeded
    # banding could surface pairs the clustering never saw.)
    from kwwhat_spark.operators.dedup import minhash_lsh_pairs
    from kwwhat_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, num_hashes=16, bands=4, threshold=0.5,
        replayable_hash=True,
    )
    a = split.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    b = split.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    crossers = pairs.join(a, "doc_a").join(b, "doc_b").filter(F.col("sa") != F.col("sb"))
    assert crossers.count() == 0
    # All three splits are populated at this fixture size.
    got = {r.split for r in split.select("split").distinct().collect()}
    assert got == {"train", "validation", "test"}, got


def test_knn_graph_blocked_agrees_with_broadcast_path(spark, sf_dir):
    from kwwhat_spark.operators.similarity import knn_graph, knn_graph_blocked
    from kwwhat_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    sub = emb.filter(F.col("vec_id") < 120)
    whole = {
        (r.src_id, r.rank): (r.dst_id, round(r.cosine_sim, 6))
        for r in knn_graph(sub, k=4).collect()
    }
    blocked = {
        (r.src_id, r.rank): (r.dst_id, round(r.cosine_sim, 6))
        for r in knn_graph_blocked(sub, k=4, n_shards=3, n_query_blocks=2).collect()
    }
    assert set(blocked) == set(whole)
    for key, (dst, sim) in whole.items():
        bdst, bsim = blocked[key]
        assert bdst == dst, (key, bdst, dst)
        assert abs(bsim - sim) < 2e-6


def test_knn_graph_blocked_tolerates_empty_blocks(spark):
    from kwwhat_spark.operators.similarity import knn_graph_blocked

    rows = [(i, [float(i % 3 + 1), 1.0]) for i in range(7)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = knn_graph_blocked(df, k=2, n_shards=16, n_query_blocks=16).collect()
    assert {r.src_id for r in out} == set(range(7))
    assert all(1 <= r.rank <= 2 for r in out)
    # empty corpus: empty result with the contract schema
    empty = knn_graph_blocked(df.filter("vec_id > 99"), k=2, n_shards=4)
    assert empty.columns == ["src_id", "dst_id", "cosine_sim", "rank"]
    assert empty.count() == 0
