"""Corpus-curation operators, round 2 of the LLM-data surface: document
repetition/quality signals, corpus-level LM scoring, per-source caps,
weighted sampling, clustered semantic dedup, substring-span dedup.

These extend the reference (which has no text-curation surface) with the
public training-data-pipeline methods: Gopher repetition rules
(Rae et al. 2021 §A1.1), CCNet-style LM quality scoring, RefinedWeb-style
per-source capping, Efraimidis–Spirakis weighted sampling, SemDeDup
(Abbas et al. 2023), Lee et al. 2022 substring deduplication, a
composed curation pipeline, dynamic percentile band filters,
vocabulary-coverage scoring, deterministic integer k-means, and an
Arrow/BLAS kNN graph. Every entry except the kNN graph (whose BLAS
accumulation order is float-nondeterministic vs a sequential fold) has
a DuckDB oracle computing the bit-identical result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kwwhat_spark.functions.text import dup_gram_frac, repetition_signals
from kwwhat_spark.operators.cachescope import keep
from kwwhat_spark.queries.catalog import query
from kwwhat_spark.sources.testdata import load_table


# ---------------------------------------------------------------------------
# Gopher-style repetition signals (pure expressions, no shuffle).
# ---------------------------------------------------------------------------
@query(
    "repetition_signals",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
      FROM documents
    ), base AS (
      SELECT doc_id, t, len(t) AS n FROM toks
    ), wc AS (
      SELECT doc_id, w, COUNT(*) AS c
      FROM (SELECT doc_id, UNNEST(t) AS w FROM toks) GROUP BY 1, 2
    ), top AS (
      SELECT doc_id, w, c,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, w ASC) AS rn
      FROM wc
    ), runs AS (
      SELECT doc_id, n,
             [i FOR i IN generate_series(1, n) IF i = 1 OR t[i] <> t[i-1]] AS starts
      FROM base
    ), maxrun AS (
      SELECT doc_id,
             CASE WHEN n = 0 THEN 0
                  ELSE list_max([coalesce(starts[j+1], n+1) - starts[j]
                                 FOR j IN generate_series(1, len(starts))])
             END AS max_run_len
      FROM runs
    ), grams AS (
      SELECT doc_id,
             CASE WHEN n >= 2 THEN
               CAST(n-1 - len(list_distinct([t[i] || ' ' || t[i+1]
                                             FOR i IN generate_series(1, n-1)])) AS DOUBLE)
               / (n-1)
             ELSE 0.0 END AS dup_2gram_frac,
             CASE WHEN n >= 3 THEN
               CAST(n-2 - len(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                             FOR i IN generate_series(1, n-2)])) AS DOUBLE)
               / (n-2)
             ELSE 0.0 END AS dup_3gram_frac
      FROM base
    )
    SELECT b.doc_id,
           b.n AS n_tokens,
           CASE WHEN b.n = 0 THEN 0.0
                ELSE CAST(b.n - len(list_distinct(b.t)) AS DOUBLE) / b.n
           END AS word_rep_ratio,
           t1.w AS top_word,
           CASE WHEN b.n = 0 THEN 0.0 ELSE CAST(t1.c AS DOUBLE) / b.n END AS top_word_frac,
           g.dup_2gram_frac,
           g.dup_3gram_frac,
           m.max_run_len
    FROM base b
    LEFT JOIN (SELECT * FROM top WHERE rn = 1) t1 USING (doc_id)
    JOIN grams g USING (doc_id)
    JOIN maxrun m USING (doc_id)
    """,
    cite="LLM-ops: Gopher repetition/quality signals (narrow expression)",
)
def repetition_signals_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kwwhat_spark.operators.scaling import widen

    # widen(): the documents file is small enough to scan as 1-2 byte-sized
    # partitions, which would serialize the per-row sort/RLE work.
    docs = widen(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", repetition_signals("text").alias("r")
    ).select("doc_id", "r.*")


# ---------------------------------------------------------------------------
# Unigram-LM surprisal scoring (CCNet-style corpus quality proxy).
# ---------------------------------------------------------------------------
@query(
    "quality_unigram_logprob",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
      FROM documents
    ), vocab AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ), scored AS (
      SELECT tok,
             CAST(floor(log2((SELECT SUM(c) FROM vocab)::DOUBLE / c) * 1e6 + 0.5) AS BIGINT) AS lp_q
      FROM vocab
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(s.lp_q) AS BIGINT) AS surprisal_q,
           SUM(s.lp_q) / (COUNT(*) * 1e6) AS mean_surprisal_bits
    FROM toks t JOIN scored s USING (tok)
    GROUP BY t.doc_id
    """,
    cite="LLM-ops: unigram-LM surprisal quality scoring (quantized, cross-engine exact)",
)
def quality_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kwwhat_spark.operators.corpus import unigram_logprob_scores

    return unigram_logprob_scores(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Per-source cap (RefinedWeb-style anti-domination) and weighted sampling.
# ---------------------------------------------------------------------------
@query(
    "source_cap",
    oracle="""
    SELECT doc_id, source, n_chars
    FROM (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM documents
    ) WHERE rn <= 50
    """,
    cite="LLM-ops: per-source cap (RefinedWeb-style domain capping)",
)
def source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kwwhat_spark.operators.corpus import cap_per_group

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return cap_per_group(
        docs, "source", [F.col("n_chars").desc(), F.col("doc_id").asc()], 50
    )


@query(
    "weighted_sample_stratified",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang, n_chars,
             -ln((('0x' || substr(md5('ws1' || CAST(doc_id AS VARCHAR)), 1, 13))::UBIGINT + 1)
                 / 4503599627370497.0)
             / greatest(CAST(n_chars AS DOUBLE), 1e-300) AS r
      FROM documents
    )
    SELECT doc_id, lang, n_chars
    FROM (SELECT doc_id, lang, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY r ASC, doc_id ASC) AS rn
          FROM ranked)
    WHERE rn <= 20
    """,
    cite="LLM-ops: Efraimidis-Spirakis weighted sampling without replacement",
)
def weighted_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kwwhat_spark.operators.corpus import weighted_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample(
        docs, "doc_id", "n_chars", 20, stratify_col="lang", salt="ws1"
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-blocked semantic dedup over embeddings.
# ---------------------------------------------------------------------------
@query(
    "semdedup_clustered",
    oracle="""
    WITH cent AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings
      WHERE vec_id < greatest(8, (SELECT COUNT(*) FROM embeddings) // 500)
    ), emb AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), assigned AS (
      SELECT vec_id, v, cid,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id
               ORDER BY round(list_cosine_similarity(v, cvec), 6) DESC, cid ASC
             ) AS rn
      FROM emb CROSS JOIN cent
    ), clusters AS (
      SELECT vec_id, v, cid AS cluster_id FROM assigned WHERE rn = 1
    ), dups AS (
      SELECT DISTINCT b.vec_id AS dup_id
      FROM clusters a JOIN clusters b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.95
    )
    SELECT c.vec_id, c.cluster_id, d.dup_id IS NULL AS is_kept
    FROM clusters c LEFT JOIN dups d ON c.vec_id = d.dup_id
    """,
    cite="LLM-ops: SemDeDup cluster-blocked semantic dedup",
)
def semdedup_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kwwhat_spark.operators.scaling import widen
    from kwwhat_spark.operators.similarity import semdedup

    emb = widen(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
    )
    # K grows with the corpus (SemDeDup's premise: cluster size, and so
    # the quadratic within-cluster budget, stays roughly constant).
    # vec_id is a dense sequence, so "first K ids" is a deterministic
    # seed set expressible in static oracle SQL; production would swap
    # in train_centroids() k-means seeds.
    n = emb.count()
    k_cent = max(8, n // 500)
    seeds = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < k_cent).orderBy("vec_id").collect()
    ]
    return semdedup(emb, seeds, threshold=0.95)


# ---------------------------------------------------------------------------
# Substring-span dedup (Lee et al. 2022, word-granular).
# ---------------------------------------------------------------------------
@query(
    "dedup_substring_spans",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
      FROM documents
    ), base AS (
      SELECT doc_id, t, len(t) AS n FROM toks
    ), posts AS (
      SELECT doc_id, UNNEST(generate_series(1, n-7)) AS pos, t
      FROM base WHERE n >= 8
    ), g AS (
      SELECT doc_id, pos,
             md5(array_to_string(list_slice(t, pos, pos+7), ' ')) AS gh
      FROM posts
    ), dupg AS (
      SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2
    ), dupposts AS (
      SELECT doc_id, pos FROM g JOIN dupg USING (gh)
    ), starts_agg AS (
      SELECT doc_id, COUNT(*) AS n_dup_starts FROM dupposts GROUP BY doc_id
    ), covered AS (
      SELECT DISTINCT doc_id, UNNEST(generate_series(pos, pos+7)) AS idx FROM dupposts
    ), covagg AS (
      SELECT doc_id, COUNT(*) AS n_cov, list(idx ORDER BY idx) AS idxs
      FROM covered GROUP BY doc_id
    )
    SELECT b.doc_id,
           b.n AS n_tokens,
           COALESCE(s.n_dup_starts, 0) AS n_dup_starts,
           CASE WHEN b.n > 0 THEN COALESCE(c.n_cov, 0)::DOUBLE / b.n ELSE 0.0 END
             AS dup_span_frac,
           COALESCE(array_to_string([b.t[i] FOR i IN generate_series(1, b.n)
                                     IF NOT list_contains(COALESCE(c.idxs, []), i)], ' '),
                    '') AS cleaned_text
    FROM base b
    LEFT JOIN starts_agg s USING (doc_id)
    LEFT JOIN covagg c USING (doc_id)
    """,
    cite="LLM-ops: exact substring-span dedup (Lee et al. 2022, distributed posting counts)",
    headline=True,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kwwhat_spark.operators.corpus import strip_duplicate_spans
    from kwwhat_spark.operators.scaling import widen

    docs = widen(load_table(spark, sf_dir, "documents"))
    return strip_duplicate_spans(docs, k=8, min_count=2)


# ---------------------------------------------------------------------------
# Composed curation pipeline: repetition gate → substring strip →
# min-length gate → per-source cap. The "switchover" query: what a
# training-data team actually runs end-to-end.
# ---------------------------------------------------------------------------
@query(
    "curation_pipeline",
    oracle=r"""
    WITH toks0 AS (
      SELECT doc_id, source, lang,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
      FROM documents
    ), base0 AS (
      SELECT doc_id, source, lang, t, len(t) AS n FROM toks0
    ), gated AS (      -- gate 1: drop repetitive docs (dup 3-gram mass > 1%)
      SELECT * FROM base0
      WHERE (CASE WHEN n >= 3 THEN
               CAST(n-2 - len(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                             FOR i IN generate_series(1, n-2)])) AS DOUBLE)
               / (n-2)
             ELSE 0.0 END) <= 0.01
    ), posts AS (      -- substring dedup over the gated corpus
      SELECT doc_id, UNNEST(generate_series(1, n-7)) AS pos, t
      FROM gated WHERE n >= 8
    ), g AS (
      SELECT doc_id, pos, md5(array_to_string(list_slice(t, pos, pos+7), ' ')) AS gh
      FROM posts
    ), dupg AS (
      SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2
    ), dupposts AS (
      SELECT doc_id, pos FROM g JOIN dupg USING (gh)
    ), covered AS (
      SELECT DISTINCT doc_id, UNNEST(generate_series(pos, pos+7)) AS idx FROM dupposts
    ), covagg AS (
      SELECT doc_id, COUNT(*) AS n_cov, list(idx ORDER BY idx) AS idxs
      FROM covered GROUP BY doc_id
    ), cleaned AS (
      SELECT b.doc_id, b.source, b.lang, b.n,
             COALESCE(c.n_cov, 0) AS n_cov,
             CASE WHEN b.n > 0 THEN COALESCE(c.n_cov, 0)::DOUBLE / b.n ELSE 0.0 END
               AS dup_span_frac,
             COALESCE(array_to_string([b.t[i] FOR i IN generate_series(1, b.n)
                                       IF NOT list_contains(COALESCE(c.idxs, []), i)], ' '),
                      '') AS cleaned_text
      FROM gated b LEFT JOIN covagg c USING (doc_id)
    ), sized AS (      -- gates 2+3: mostly-duplicated docs out, tiny docs out
      SELECT doc_id, source, lang, dup_span_frac, cleaned_text,
             n - n_cov AS n_tokens_clean
      FROM cleaned
      WHERE dup_span_frac <= 0.5 AND n - n_cov >= 20
    )
    SELECT doc_id, source, lang, n_tokens_clean, dup_span_frac, cleaned_text
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY n_tokens_clean DESC, doc_id ASC) AS rn
          FROM sized)
    WHERE rn <= 40
    """,
    cite="LLM-ops: composed curation pipeline (repetition gate, substring strip, length gate, source cap)",
    headline=True,
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kwwhat_spark.operators.corpus import cap_per_group, strip_duplicate_spans
    from kwwhat_spark.operators.scaling import widen

    docs = widen(load_table(spark, sf_dir, "documents"))
    # dup_gram_frac, NOT repetition_signals(...)["dup_3gram_frac"]: the
    # one-field read of the struct cannot be pruned through its CASE
    # wrapper, so the full Gopher struct (mode sort+RLE, both gram
    # families) evaluated per row — 4.7 s vs 0.8 s for the single
    # signal at sf0.1 (functions/text.dup_gram_frac docstring).
    gated = docs.filter(dup_gram_frac("text", 3) <= 0.01)
    # carry_cols rides source/lang through the strip's persisted token
    # stage: the old join-back to a second `documents` scan re-read and
    # re-gated the corpus just to recover two small columns (guide §2.4
    # — remove the join, and with it one full corpus scan).
    stripped = strip_duplicate_spans(
        gated, k=8, min_count=2, carry_cols=("source", "lang")
    )
    n_cov = F.round(F.col("dup_span_frac") * F.col("n_tokens")).cast("long")
    sized = (
        stripped.withColumn("n_tokens_clean", F.col("n_tokens") - n_cov)
        .filter((F.col("dup_span_frac") <= 0.5) & (F.col("n_tokens_clean") >= 20))
        .select(
            "doc_id", "source", "lang", "n_tokens_clean", "dup_span_frac", "cleaned_text"
        )
    )
    return cap_per_group(
        sized, "source", [F.col("n_tokens_clean").desc(), F.col("doc_id").asc()], 40
    )


# ---------------------------------------------------------------------------
# Dynamic-threshold quality band: keep documents between the exact
# discrete p05 and p95 of the corpus surprisal distribution.
# ---------------------------------------------------------------------------
@query(
    "quality_band_filter",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
      FROM documents
    ), vocab AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ), scored AS (
      SELECT tok,
             CAST(floor(log2((SELECT SUM(c) FROM vocab)::DOUBLE / c) * 1e6 + 0.5) AS BIGINT) AS lp_q
      FROM vocab
    ), docs AS (
      SELECT t.doc_id, COUNT(*) AS n_tokens, SUM(s.lp_q) AS surprisal_q
      FROM toks t JOIN scored s USING (tok) GROUP BY t.doc_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY surprisal_q, doc_id) AS rn,
             COUNT(*) OVER () AS n
      FROM docs
    ), th AS (
      SELECT MAX(CASE WHEN rn = CAST(CEIL(0.05 * n) AS BIGINT) THEN surprisal_q END) AS lo,
             MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT) THEN surprisal_q END) AS hi
      FROM ranked
    )
    SELECT d.doc_id, d.n_tokens, CAST(d.surprisal_q AS BIGINT) AS surprisal_q,
           d.surprisal_q / (d.n_tokens * 1e6) AS mean_surprisal_bits
    FROM docs d, th
    WHERE d.surprisal_q >= th.lo AND d.surprisal_q <= th.hi
    """,
    cite="LLM-ops: dynamic percentile band filter on corpus surprisal",
)
def quality_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete p05/p95 thresholds (value at rank ceil(p*n) ordered
    by (surprisal_q, doc_id)) are integers, so the band edges are
    bit-identical across engines. The two scalars are collected to the
    driver and applied as literal predicates — no broadcast-nested-loop
    join, and at 100 TB the same two-job shape holds (the ranking pass
    would use approx_percentile or a sampled sort; documented trade)."""
    from pyspark.sql import Window as W

    from kwwhat_spark.operators.corpus import unigram_logprob_scores
    from kwwhat_spark.operators.scaling import widen

    scores = unigram_logprob_scores(widen(load_table(spark, sf_dir, "documents")))
    ranked = scores.select(
        "surprisal_q",
        F.row_number()
        .over(W.partitionBy().orderBy("surprisal_q", "doc_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    )

    def at(p: float):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("long"),
                F.col("surprisal_q"),
            )
        )

    lo, hi = ranked.agg(at(0.05), at(0.95)).collect()[0]
    return scores.filter(
        (F.col("surprisal_q") >= F.lit(lo)) & (F.col("surprisal_q") <= F.lit(hi))
    ).select("doc_id", "n_tokens", "surprisal_q", "mean_surprisal_bits")


# ---------------------------------------------------------------------------
# Induced-vocabulary coverage: build the top-V token vocabulary from the
# corpus itself, score each document's out-of-vocabulary rate.
# ---------------------------------------------------------------------------
@query(
    "vocab_coverage",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
      FROM documents
    ), vocab AS (
      SELECT tok FROM (
        SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok ASC) AS rnk
        FROM toks GROUP BY tok
      ) WHERE rnk <= 64
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           COUNT(*) FILTER (WHERE v.tok IS NULL) AS n_oov,
           COUNT(*) FILTER (WHERE v.tok IS NULL) * 1.0 / COUNT(*) AS oov_rate
    FROM toks t LEFT JOIN vocab v USING (tok)
    GROUP BY t.doc_id
    """,
    cite="LLM-ops: induced-vocabulary OOV-rate scoring (tokenizer-budget proxy)",
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-V vocabulary induced from corpus counts (rank by count desc,
    token asc — fully deterministic); per-document OOV rate against it.
    A cheap proxy for 'how much of this document will a V-entry
    tokenizer represent with whole words'. The vocabulary ranking is a
    single window over the AGGREGATED token dictionary (vocabulary-sized,
    not corpus-sized); the per-document pass is one broadcast probe plus
    one combinable aggregation."""
    from pyspark.sql import Window as W

    from kwwhat_spark.operators.scaling import widen

    docs = widen(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
        ).alias("tok"),
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "tok",
            F.row_number()
            .over(W.partitionBy().orderBy(F.col("c").desc(), F.col("tok").asc()))
            .alias("rnk"),
        )
        .filter(F.col("rnk") <= 64)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            (F.col("n_oov") * 1.0 / F.col("n_tokens")).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# k-NN graph over embeddings via the Arrow/numpy path (BLAS matmul in
# mapInPandas). Float accumulation order differs from the expression
# fold, so this is a rows-only entry; tests assert agreement with the
# expression-based exact top-k at rounded precision.
# ---------------------------------------------------------------------------
@query("knn_graph_embeddings", oracle=None,
       cite="LLM-ops: kNN graph (Arrow-batched BLAS matmul, mapInPandas)")
def knn_graph_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kwwhat_spark.operators.scaling import widen
    from kwwhat_spark.operators.similarity import knn_graph

    emb = widen(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
    )
    return knn_graph(emb, k=5)


@query("knn_graph_sharded_embeddings", oracle=None,
       cite="LLM-ops: kNN graph beyond broadcast range (executor-side "
       "block-matmul, lossless per-block top-k merge; agreement with the "
       "broadcast path asserted in tests/test_curation.py)")
def knn_graph_sharded_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs knn_graph_blocked — the fully distributed block-matmul plan
    that replaced the driver-staged knn_graph_sharded as this entry's
    implementation after the round-7 comparison (sf1, 20k vectors:
    blocked 1.1 s vs driver-staged 58 s; 200k vectors in 131 s —
    BASELINE.md round 7). The driver-staged variant is deleted; the
    entry keeps its name."""
    from kwwhat_spark.operators.scaling import widen
    from kwwhat_spark.operators.similarity import knn_graph_blocked

    emb = widen(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
    )
    return knn_graph_blocked(emb, k=5, n_shards=4)


# ---------------------------------------------------------------------------
# Replayable twin of the kNN graph: int8-quantized vectors, exact
# integer dot products, sim = dot/(sqrt(na)*sqrt(nb)) — three
# exactly-rounded IEEE ops on exactly-representable integers, so the
# doubles are bit-identical cross-engine; rounded to 6 decimals like the
# BLAS path's sims, they give the same top-k order. Bounded to the lowest-200 vec_ids: this is the oracle
# shape; production kNN is the BLAS broadcast/sharded path, bound to
# this twin by an agreement test (tests/test_llm_ops.py).
# ---------------------------------------------------------------------------
@query(
    "knn_graph_quantized_replayable",
    oracle="""
    WITH sliced AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings ORDER BY vec_id LIMIT 200
    ), emb AS (
      SELECT vec_id,
             CASE WHEN scale = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(e, x -> CAST(floor(x / scale * 127 + 0.5) AS BIGINT))
             END AS codes
      FROM (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS scale
            FROM sliced)
    ), n AS (
      SELECT vec_id, codes,
             list_sum(list_transform(codes, x -> x * x)) AS n2
      FROM emb
    ), pairs AS (
      SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
             list_sum([CAST(a.codes[i] * b.codes[i] AS BIGINT)
                       FOR i IN generate_series(1, 64)]) AS dot,
             a.n2 AS na, b.n2 AS nb
      FROM n a CROSS JOIN n b
      WHERE a.vec_id <> b.vec_id
    ), scored AS (
      SELECT src_id, dst_id,
             CASE WHEN na > 0 AND nb > 0
                  THEN round(dot / (sqrt(na) * sqrt(nb)), 6)
                  ELSE 0.0 END AS cosine_sim
      FROM pairs
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                                   ORDER BY cosine_sim DESC, dst_id ASC) AS rank
      FROM scored
    )
    SELECT src_id, dst_id, cosine_sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
""",
    cite="LLM-ops: kNN graph replayable twin (integer-quantized exact "
    "top-k, operators/similarity.py knn_graph_quantized; closes the last "
    "ungated LLM-operator family per round-3 verdict #4)",
)
def knn_graph_quantized_replayable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from kwwhat_spark.operators.similarity import knn_graph_quantized, quantize_int8

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    sliced = (
        emb.withColumn("_rn", F.row_number().over(W.partitionBy().orderBy("vec_id")))
        .filter(F.col("_rn") <= 200)
        .drop("_rn")
    )
    codes = sliced.select(
        "vec_id", quantize_int8(F.col("embedding"))["q"].alias("codes")
    )
    return knn_graph_quantized(codes, "vec_id", "codes", k=5)


# ---------------------------------------------------------------------------
# Deterministic integer k-means over int8-quantized embeddings
# (operators/clustering.py). The oracle unrolls Lloyd iterations as
# chained CTEs; every distance/sum/mean is integer arithmetic, so the
# whole iterative trajectory is bit-identical cross-engine.
# ---------------------------------------------------------------------------
@query(
    "kmeans_quantized_clusters",
    oracle="""
    WITH emb AS (
      SELECT vec_id,
             CASE WHEN scale = 0 THEN list_transform(e, x -> 0)
                  ELSE list_transform(e, x -> CAST(floor(x / scale * 127 + 0.5) AS INT))
             END AS codes
      FROM (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS scale
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings))
    ), cent0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, codes AS cvec
      FROM emb QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 8
    ), a1 AS (
      SELECT vec_id, cid, dist FROM (
        SELECT vec_id, cid, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
        FROM (
          SELECT e.vec_id, c.cid,
                 list_sum([CAST((e.codes[i] - c.cvec[i]) * (e.codes[i] - c.cvec[i]) AS BIGINT)
                           FOR i IN generate_series(1, 64)]) AS dist
          FROM emb e CROSS JOIN cent0 c
        )
      ) WHERE rn = 1
    ), cent1 AS (
      SELECT c0.cid, COALESCE(u.cvec, c0.cvec) AS cvec
      FROM cent0 c0 LEFT JOIN (
        SELECT cid, list(s ORDER BY i) AS cvec FROM (
          SELECT a.cid, t.i, SUM(e.codes[t.i]) // COUNT(*) AS s
          FROM a1 a JOIN emb e USING (vec_id)
          CROSS JOIN (SELECT UNNEST(generate_series(1, 64)) AS i) t
          GROUP BY a.cid, t.i
        ) GROUP BY cid
      ) u USING (cid)
    ), a2 AS (
      SELECT vec_id, cid, dist FROM (
        SELECT vec_id, cid, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
        FROM (
          SELECT e.vec_id, c.cid,
                 list_sum([CAST((e.codes[i] - c.cvec[i]) * (e.codes[i] - c.cvec[i]) AS BIGINT)
                           FOR i IN generate_series(1, 64)]) AS dist
          FROM emb e CROSS JOIN cent1 c
        )
      ) WHERE rn = 1
    ), cent2 AS (
      SELECT c0.cid, COALESCE(u.cvec, c0.cvec) AS cvec
      FROM cent1 c0 LEFT JOIN (
        SELECT cid, list(s ORDER BY i) AS cvec FROM (
          SELECT a.cid, t.i, SUM(e.codes[t.i]) // COUNT(*) AS s
          FROM a2 a JOIN emb e USING (vec_id)
          CROSS JOIN (SELECT UNNEST(generate_series(1, 64)) AS i) t
          GROUP BY a.cid, t.i
        ) GROUP BY cid
      ) u USING (cid)
    )
    SELECT vec_id, cid AS cluster_id, CAST(dist AS BIGINT) AS dist_q FROM (
      SELECT vec_id, cid, dist,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
      FROM (
        SELECT e.vec_id, c.cid,
               list_sum([CAST((e.codes[i] - c.cvec[i]) * (e.codes[i] - c.cvec[i]) AS BIGINT)
                         FOR i IN generate_series(1, 64)]) AS dist
        FROM emb e CROSS JOIN cent2 c
      )
    ) WHERE rn = 1
""",
    cite="clustering: deterministic integer k-means (Lloyd, oracle-checked trajectory)",
)
def kmeans_quantized_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kwwhat_spark.operators.clustering import kmeans_quantized
    from kwwhat_spark.operators.scaling import widen
    from kwwhat_spark.operators.similarity import quantize_int8

    emb = widen(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", quantize_int8(F.col("embedding"))["q"].alias("codes")
    )
    return kmeans_quantized(emb, "vec_id", "codes", k=8, iterations=2)


# ---------------------------------------------------------------------------
# C4/RefinedWeb-style exact line dedup. The synthetic documents have no
# newlines, so the entry first reformats each document into
# deterministic 12-token lines — identically in both engines — then
# removes every non-first occurrence of a repeated line corpus-wide.
# ---------------------------------------------------------------------------
@query(
    "dedup_exact_lines",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
      FROM documents
    ), reform AS (
      SELECT doc_id,
             array_to_string([array_to_string(list_slice(t, i, i+11), ' ')
                              FOR i IN generate_series(1, len(t), 12)],
                             chr(10)) AS text2
      FROM toks
    ), ls AS (
      SELECT doc_id, text2, string_split(text2, chr(10)) AS lines FROM reform
    ), lr AS (
      SELECT doc_id, UNNEST(generate_series(1, len(lines))) AS idx, lines
      FROM ls
    ), flat AS (
      SELECT doc_id, idx, lines[idx] AS line FROM lr
    ), ranked AS (
      SELECT doc_id, idx, line,
             ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn
      FROM flat
    ), drops AS (
      SELECT doc_id, idx FROM ranked WHERE rn > 1 AND len(line) >= 1
    ), kept AS (
      SELECT f.doc_id, f.idx, f.line
      FROM flat f LEFT JOIN drops d ON d.doc_id = f.doc_id AND d.idx = f.idx
      WHERE d.doc_id IS NULL
    ), agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(line, chr(10) ORDER BY idx) AS text_clean
      FROM kept GROUP BY doc_id
    )
    SELECT l.doc_id,
           len(l.lines) AS n_lines,
           COALESCE(a.n_kept, 0) AS n_kept,
           COALESCE(a.text_clean, '') AS text_clean
    FROM ls l LEFT JOIN agg a USING (doc_id)
    """,
    cite="LLM-ops: C4-style exact line dedup (operators/corpus.py dedup_lines)",
)
def dedup_exact_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kwwhat_spark.operators.corpus import dedup_lines
    from kwwhat_spark.operators.scaling import widen

    # The reformat + reconstruction chain is CPU-dense expression work
    # over every token — compute-partition the input (9.1 -> 1.6 s hot
    # at sf1 under full materialization; neutral under count() where
    # the text column prunes away).
    docs = widen(load_table(spark, sf_dir, "documents"))
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    n = F.size(toks)
    lines = F.transform(
        F.sequence(F.lit(0), F.greatest(F.floor((n - 1) / 12), F.lit(0)).cast("int")),
        lambda i: F.concat_ws(" ", F.slice(toks, i * 12 + 1, F.lit(12))),
    )
    reformatted = docs.select(
        "doc_id", F.concat_ws("\n", lines).alias("text")
    )
    out = dedup_lines(reformatted, "doc_id", "text", min_chars=1)
    return out.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_kept").cast("long").alias("n_kept"),
        "text_clean",
    )


# ---------------------------------------------------------------------------
# Distributed heavy hitters: two-pass Misra-Gries (Agarwal et al. 2012
# mergeable summaries) over the corpus bigram stream. Pass 1 bounds the
# shuffle by k counters per partition instead of the distinct-n-gram
# cardinality (billions at 100 TB); pass 2 exact-counts only the
# candidates, so the output is EXACTLY the >= ceil(theta*N) set and the
# oracle is a plain GROUP BY ... HAVING.
# ---------------------------------------------------------------------------
@query(
    "heavy_hitters_bigrams",
    oracle=r"""
    WITH toks AS (
      SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
      FROM documents
    ), grams AS (
      SELECT ts[i] || ' ' || ts[i+1] AS bigram
      FROM toks, UNNEST(range(1, len(ts))) AS t(i)
    ), n AS (SELECT COUNT(*) AS total FROM grams)
    SELECT bigram, COUNT(*) AS cnt
    FROM grams
    GROUP BY bigram
    HAVING COUNT(*) >= (SELECT CAST(ceil(0.0012 * total) AS BIGINT) FROM n)
    """,
    cite="LLM-ops: Misra-Gries two-pass heavy hitters "
    "(operators/frequency.py; exact by the k+1 > 1/theta guarantee)",
)
def heavy_hitters_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kwwhat_spark.operators.frequency import frequent_items, word_bigrams

    docs = load_table(spark, sf_dir, "documents")
    items = docs.select(F.explode(word_bigrams(F.col("text"))).alias("bigram"))
    return frequent_items(items, "bigram", theta=0.0012, k=1024)


# ---------------------------------------------------------------------------
# Per-group z-score outlier flags in EXACT integer arithmetic:
# |x - mean| > z*sigma  <=>  (n*x - S)^2 > z^2 * (n*Q - S^2)   (z = 2)
# with S = sum(x), Q = sum(x^2) — no floating-point mean/stddev, so both
# engines agree bit-for-bit (Spark decimal(38,0) vs DuckDB HUGEINT).
# Plan: one tiny per-source agg broadcast back onto the docs — a
# dimension-side join at any corpus scale.
# ---------------------------------------------------------------------------
@query(
    "outlier_docs_zscore",
    oracle="""
    WITH s AS (
      SELECT source, COUNT(*) AS n, SUM(n_chars) AS sm, SUM(n_chars*n_chars) AS q
      FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source, d.n_chars,
           n AS n_source,
           (CAST(n*d.n_chars - sm AS HUGEINT) * CAST(n*d.n_chars - sm AS HUGEINT)
            > 4 * (CAST(n AS HUGEINT)*CAST(q AS HUGEINT)
                   - CAST(sm AS HUGEINT)*CAST(sm AS HUGEINT))) AS is_len_outlier
    FROM documents d JOIN s USING (source)
    """,
    cite="LLM-ops: quality filtering by per-source length outliers "
    "(exact-integer z-score; Gopher/C4 doc-length heuristics family)",
)
def outlier_docs_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    stats = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_source"),
        F.sum("n_chars").alias("sm"),
        F.sum((F.col("n_chars") * F.col("n_chars")).cast("decimal(38,0)")).alias("q"),
    )
    n = F.col("n_source").cast("decimal(19,0)")
    x = F.col("n_chars").cast("decimal(19,0)")
    sm = F.col("sm").cast("decimal(19,0)")
    q = F.col("q")
    dev = n * x - sm
    flag = (dev * dev) > (F.lit(4).cast("decimal(19,0)") * (n * q - sm * sm))
    return (
        docs.join(F.broadcast(stats), "source")
        .select(
            "doc_id",
            "source",
            "n_chars",
            "n_source",
            flag.alias("is_len_outlier"),
        )
    )


# ---------------------------------------------------------------------------
# Interpolated bigram-LM surprisal (one order above quality_unigram_
# logprob): the perplexity-filter shape of CCNet/Gopher pipelines, made
# cross-engine exact by quantizing per-bigram surprisal to integer
# micro-bits before the per-document sum.
# ---------------------------------------------------------------------------
@query(
    "quality_bigram_logprob",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
      FROM documents
    ), pairs AS (
      SELECT doc_id, pr[1] AS prev, pr[2] AS tok
      FROM (SELECT doc_id, UNNEST(list_zip(l[1:length(l)-1], l[2:length(l)])) AS pr
            FROM toks WHERE length(l) >= 2)
    ), alltoks AS (
      SELECT UNNEST(l) AS tok FROM toks
    ), uni AS (
      SELECT tok, COUNT(*) AS cu FROM alltoks GROUP BY tok
    ), tot AS (SELECT COUNT(*)::DOUBLE AS t FROM alltoks),
    bi AS (
      SELECT prev, tok, COUNT(*) AS cb FROM pairs GROUP BY prev, tok
    ), dic AS (
      SELECT b.prev, b.tok,
             CAST(floor(log2(1.0 / (0.8 * b.cb / up.cu + 0.2 * ut.cu / (SELECT t FROM tot)))
                        * 1e6 + 0.5) AS BIGINT) AS lp_q
      FROM bi b
      JOIN uni up ON up.tok = b.prev
      JOIN uni ut ON ut.tok = b.tok
    )
    SELECT p.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(d.lp_q) AS BIGINT) AS bigram_surprisal_q,
           SUM(d.lp_q) / (COUNT(*) * 1e6) AS mean_bigram_surprisal_bits
    FROM pairs p JOIN dic d ON d.prev = p.prev AND d.tok = p.tok
    GROUP BY p.doc_id
    """,
    cite="LLM-ops: interpolated bigram-LM surprisal quality scoring "
    "(CCNet-style perplexity filter, quantized cross-engine exact)",
)
def quality_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kwwhat_spark.operators.corpus import bigram_logprob_scores

    return bigram_logprob_scores(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Curriculum construction: easy-to-hard training order. Difficulty =
# corpus-LM surprisal (the quality_unigram_logprob construction); phase
# = which exact-percentile band the doc's INTEGER surprisal falls in
# (cutoff scalars broadcast — no global window anywhere); within-phase
# order = deterministic salted-md5 shuffle key. The emitted
# (phase, shuffle_key) pair IS the curriculum order: at 100 TB you
# repartitionByRange on it and write phase-partitioned shards — no
# global rank materialized.
# ---------------------------------------------------------------------------
@query(
    "curriculum_order",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
      FROM documents
    ), vocab AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ), scored AS (
      SELECT tok,
             CAST(floor(log2((SELECT SUM(c) FROM vocab)::DOUBLE / c) * 1e6 + 0.5) AS BIGINT) AS lp_q
      FROM vocab
    ), doc_scores AS (
      SELECT t.doc_id, CAST(SUM(s.lp_q) AS BIGINT) AS surprisal_q,
             COUNT(*) AS n_tokens
      FROM toks t JOIN scored s USING (tok)
      GROUP BY t.doc_id
    ), mean_q AS (
      SELECT doc_id, (surprisal_q * 1000000) // n_tokens AS mq_q FROM doc_scores
    ), cuts AS (
      SELECT quantile_cont(mq_q, 0.25) AS c1, quantile_cont(mq_q, 0.5) AS c2,
             quantile_cont(mq_q, 0.75) AS c3
      FROM mean_q
    )
    SELECT m.doc_id,
           CAST((m.mq_q > c.c1)::INT + (m.mq_q > c.c2)::INT + (m.mq_q > c.c3)::INT AS INT)
             AS phase,
           md5('cur7' || CAST(m.doc_id AS VARCHAR)) AS shuffle_key
    FROM mean_q m, cuts c
    """,
    cite="LLM-ops: curriculum construction (easy-to-hard by corpus-LM "
    "surprisal percentile bands; broadcast cutoff scalars, no global "
    "window — the 100 TB-safe ordering shape)",
)
def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kwwhat_spark.operators.corpus import unigram_logprob_scores

    docs = load_table(spark, sf_dir, "documents")
    # Difficulty is quantized to an exact integer (micro-bit mean via LONG
    # `div`) BEFORE the percentile: with integer samples and quarter
    # fractions, linear interpolation is IEEE-exact on every engine
    # (f ∈ {0,.25,.5,.75} is a power-of-two multiple; f*(hi-lo) and
    # lo + f*(hi-lo) are exactly representable for values < 2^53), so the
    # cutoff scalars — and therefore the strict > band comparisons — are
    # bit-identical cross-engine with no ulp-boundary flake.
    scores = unigram_logprob_scores(docs).select(
        "doc_id",
        F.expr("surprisal_q * 1000000L div n_tokens").alias("mq_q"),
    )
    cuts = scores.agg(
        F.expr("percentile(mq_q, 0.25)").alias("c1"),
        F.expr("percentile(mq_q, 0.5)").alias("c2"),
        F.expr("percentile(mq_q, 0.75)").alias("c3"),
    ).first()
    return scores.select(
        "doc_id",
        (
            (F.col("mq_q") > F.lit(cuts["c1"])).cast("int")
            + (F.col("mq_q") > F.lit(cuts["c2"])).cast("int")
            + (F.col("mq_q") > F.lit(cuts["c3"])).cast("int")
        ).alias("phase"),
        F.md5(F.concat(F.lit("cur7"), F.col("doc_id").cast("string"))).alias(
            "shuffle_key"
        ),
    )


# ---------------------------------------------------------------------------
# Model-based quality filtering (the fasttext-classifier stage of
# RefinedWeb/FineWeb pipelines): hashing-trick logistic regression
# trained DISTRIBUTED on weak labels, then scored over the corpus —
# both under the value-hash gate via the kmeans-style unrolled-CTE
# replay (integer-grid weights, exact integer dot products/gradients,
# one re-quantized sigmoid per doc per round; operators/classifier.py).
# ---------------------------------------------------------------------------
_LOGREG_STOPWORDS = ("the", "a", "value", "table")
# Confident weak labels (the FineWeb-style distillation shape): the
# heuristic is a stopword-density ratio; docs in the ambiguous middle
# band are dropped from training AND evaluation — a frequency-threshold
# label has no margin at its median, and fixed-step GD cannot carve a
# marginless boundary (measured r9: majority-level accuracy without the
# band, 0.87 held-out with it).
_LOGREG_Y1_MIN = 1600  # ratio_q >= this -> y=1
_LOGREG_Y0_MAX = 1000  # ratio_q <= this -> y=0
# Halving step schedule: two rounds per shift, 16 rounds. Fixed-step
# full-batch GD oscillates once the weights grow (measured: stable at
# 12 rounds, diverged at 16 with the same shift); the geometric decay
# damps it. Each round's shift is a compile-time constant in the
# unrolled oracle.
_LOGREG_SHIFTS = [10, 10, 11, 11, 12, 12, 13, 13, 14, 14, 15, 15, 16, 16, 17, 17]
_LOGREG_PARAMS = dict(doc_limit=300, n_buckets=256)
# dot scale = SIG_SCALE * FREQ_SCALE (normalized integer frequencies)
_LOGREG_DOT_SCALE = 10_000_000_000.0


def _logreg_replay_sql(doc_limit: int, n_buckets: int) -> str:
    stop_in = ", ".join(f"'{t}'" for t in _LOGREG_STOPWORDS)
    parts = [
        rf"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents WHERE doc_id < {doc_limit}
    ), all_toks AS (
      SELECT doc_id, UNNEST(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
      FROM all_docs
    ), ratio AS (
      SELECT doc_id,
             SUM(CASE WHEN tok IN ({stop_in}) THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS ratio_q
      FROM all_toks GROUP BY doc_id
    ), labels AS MATERIALIZED (
      SELECT doc_id,
             CAST(CASE WHEN ratio_q >= {_LOGREG_Y1_MIN} THEN 1 ELSE 0 END AS INT) AS y
      FROM ratio WHERE ratio_q >= {_LOGREG_Y1_MIN} OR ratio_q <= {_LOGREG_Y0_MAX}
    ), splits AS MATERIALIZED (
      SELECT doc_id, substr(md5('clf' || CAST(doc_id AS VARCHAR)), 1, 4) < '8000' AS train
      FROM labels
    ), tok_counts AS (
      SELECT t.doc_id,
             CAST(('0x' || substr(md5(t.tok), 1, 13)) AS UBIGINT)::BIGINT % {n_buckets} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM all_toks t JOIN labels USING (doc_id)
      GROUP BY t.doc_id, bucket
    ), doclen AS (
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS len FROM tok_counts GROUP BY doc_id
    ), feats AS MATERIALIZED (
      SELECT c.doc_id, c.bucket, (c.cnt * 10000) // d.len AS cnt
      FROM tok_counts c JOIN doclen d USING (doc_id)
      UNION ALL
      SELECT doc_id, CAST(-1 AS BIGINT), CAST(10000 AS BIGINT) FROM labels
    ), tfeats AS MATERIALIZED (
      SELECT f.* FROM feats f JOIN splits s USING (doc_id) WHERE s.train
    ), w0 AS (SELECT DISTINCT bucket, CAST(0 AS BIGINT) AS w_q FROM tfeats)"""
    ]
    for t, shift in enumerate(_LOGREG_SHIFTS):
        step = float(1 << shift)
        parts.append(
            f""", d{t} AS (
      SELECT f.doc_id, l.y, CAST(SUM(f.cnt * w.w_q) AS BIGINT) AS dot_q
      FROM tfeats f JOIN w{t} w USING (bucket) JOIN labels l USING (doc_id)
      GROUP BY f.doc_id, l.y
    ), s{t} AS (
      SELECT doc_id,
             CAST(floor(1000000.0/(1.0+exp(-(dot_q/{_LOGREG_DOT_SCALE}))) + 0.5) AS BIGINT)
               - y*1000000 AS resid_q
      FROM d{t}
    ), g{t} AS (
      SELECT f.bucket, CAST(SUM(s.resid_q * f.cnt) AS BIGINT) AS g
      FROM s{t} s JOIN tfeats f USING (doc_id) GROUP BY f.bucket
    ), w{t + 1} AS MATERIALIZED (
      SELECT w.bucket, w.w_q - CAST(floor(COALESCE(g.g, 0) / {step}) AS BIGINT) AS w_q
      FROM w{t} w LEFT JOIN g{t} g USING (bucket)
    )"""
        )
    return "".join(parts)


_W_FINAL = f"w{len(_LOGREG_SHIFTS)}"

# Both gate entries need the trained weights; training is 16 distributed
# rounds, so the weights (driver-side ints, no Spark storage) are
# memoized per sf_dir for the in-process gate run. The frames are
# rebuilt per call, and their checkpoint is kept in the caller's scope.
_LOGREG_CACHE: dict[str, dict[int, int]] = {}


def _logreg_spark_halves(spark: SparkSession, sf_dir: str):
    from kwwhat_spark.operators.classifier import (
        FREQ_SCALE,
        SIG_SCALE,
        hashed_token_features,
        train_logreg,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _LOGREG_PARAMS["doc_limit"]
    )
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", r"\s+"), lambda t: t != "")
        ).alias("tok"),
    )
    ratio = toks.groupBy("doc_id").agg(
        F.expr(
            "SUM(CASE WHEN tok IN ("
            + ", ".join(f"'{t}'" for t in _LOGREG_STOPWORDS)
            + ") THEN 1 ELSE 0 END) * 10000L div COUNT(*)"
        ).alias("ratio_q")
    )
    labels = ratio.select(
        "doc_id",
        F.when(F.col("ratio_q") >= _LOGREG_Y1_MIN, 1)
        .when(F.col("ratio_q") <= _LOGREG_Y0_MAX, 0)
        .alias("y"),
    ).filter(F.col("y").isNotNull())
    splits = labels.select(
        "doc_id",
        (
            F.substring(
                F.md5(F.concat(F.lit("clf"), F.col("doc_id").cast("string"))), 1, 4
            )
            < "8000"
        ).alias("train"),
    )
    feats = keep(
        hashed_token_features(
            docs, n_buckets=_LOGREG_PARAMS["n_buckets"], normalize=True
        )
        .join(labels.select("doc_id"), "doc_id")
        .localCheckpoint(eager=True)
    )
    if sf_dir not in _LOGREG_CACHE:
        train_ids = splits.filter("train").select("doc_id")
        _LOGREG_CACHE[sf_dir] = train_logreg(
            feats.join(train_ids, "doc_id"),
            labels.join(train_ids, "doc_id"),
            rounds=len(_LOGREG_SHIFTS),
            lr_shift=_LOGREG_SHIFTS,
            dot_scale=SIG_SCALE * FREQ_SCALE,
        )
    return feats, labels, splits, _LOGREG_CACHE[sf_dir]


@query(
    "quality_classifier_train",
    oracle=_logreg_replay_sql(300, 256)
    + f"\n    SELECT bucket, w_q FROM {_W_FINAL}",
    cite="LLM-ops: model-based quality filter TRAINING — distributed "
    "full-batch logistic regression on the md5_52 hashing trick over "
    "normalized integer frequencies (operators/classifier.py "
    "train_logreg), confident weak labels + held-out split, halving "
    "step schedule, 16 unrolled rounds replayed in DuckDB",
)
def quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats, labels, splits, w = _logreg_spark_halves(spark, sf_dir)
    return spark.createDataFrame(
        [(int(b), int(q)) for b, q in sorted(w.items())], "bucket long, w_q long"
    )


@query(
    "quality_classifier_score",
    oracle=_logreg_replay_sql(300, 256) + f"""
    , fd AS (
      SELECT f.doc_id, CAST(SUM(f.cnt * w.w_q) AS BIGINT) AS dot_q
      FROM feats f JOIN {_W_FINAL} w USING (bucket) GROUP BY f.doc_id
    )
    SELECT d.doc_id,
           CAST(floor(1000000.0/(1.0+exp(-(dot_q/{_LOGREG_DOT_SCALE}))) + 0.5) AS BIGINT) AS score_q,
           CAST(floor(1000000.0/(1.0+exp(-(dot_q/{_LOGREG_DOT_SCALE}))) + 0.5) AS BIGINT) >= 500000
             AS predicted,
           l.y, s.train
    FROM fd d JOIN labels l USING (doc_id) JOIN splits s USING (doc_id)
    """,
    cite="LLM-ops: model-based quality filter SCORING — broadcast "
    "integer weight vector, exact integer logits, one re-quantized "
    "sigmoid per doc (operators/classifier.py score_logreg); output "
    "carries y + train so held-out accuracy (0.87 at sf0.01, >= the "
    "0.85 target) is measurable from the gated rows",
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kwwhat_spark.operators.classifier import FREQ_SCALE, SIG_SCALE, score_logreg

    feats, labels, splits, w = _logreg_spark_halves(spark, sf_dir)
    return (
        score_logreg(feats, w, dot_scale=SIG_SCALE * FREQ_SCALE)
        .join(labels, "doc_id")
        .join(splits, "doc_id")
    )
