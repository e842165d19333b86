"""Corpus-preparation operators for training-data pipelines: document
chunking and deterministic hash-based sampling.

Both are pure built-in-function compositions (JVM-side, codegen-friendly,
no UDFs) and both are engine-portable by construction so the DuckDB
oracle can replay them exactly:

- chunking tokenizes on single spaces and slices fixed token windows
  with a stride — array ops only;
- sampling keys on a prefix of md5(key) compared to a hex threshold,
  so the sampled row SET is a pure function of the key (stable across
  engines, runs, and partitionings — re-running a pipeline samples the
  same documents, which is what training-data reproducibility needs).

Scale: both are narrow per-row transforms — no shuffle, fully
pipelined into whatever scan/exchange surrounds them. Chunking's
explode multiplies rows by ~n_tokens/stride; downstream consumers
should aggregate or write before any wide operation.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kwwhat_spark.operators.cachescope import keep


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    *,
    chunk_tokens: int = 64,
    stride_tokens: int | None = None,
) -> DataFrame:
    """Split each document into token windows of `chunk_tokens` tokens
    every `stride_tokens` (default = chunk_tokens, i.e. no overlap).

    Adds: chunk_seq (0-based), chunk_start_token (1-based),
    chunk_text, chunk_token_count. Tail windows shorter than
    chunk_tokens are kept (deterministic; callers can filter).
    """
    stride = stride_tokens if stride_tokens is not None else chunk_tokens
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride_tokens must be positive")
    toks = F.split(F.col(text_col), " ")
    df = df.withColumn("__toks", toks).withColumn("__n", F.size("__toks"))
    starts = F.sequence(F.lit(1), F.greatest(F.col("__n"), F.lit(1)), F.lit(stride))
    out = (
        df.withColumn("chunk_start_token", F.explode(starts))
        .withColumn("chunk_seq", ((F.col("chunk_start_token") - 1) / stride).cast("long"))
        .withColumn("__chunk_toks", F.slice("__toks", F.col("chunk_start_token"), chunk_tokens))
        .withColumn("chunk_text", F.array_join("__chunk_toks", " "))
        .withColumn("chunk_token_count", F.size("__chunk_toks"))
        .drop("__toks", "__n", "__chunk_toks")
    )
    return out


def hash_sample_predicate(key: Column | str, fraction: float, *, salt: str = "") -> Column:
    """Deterministic Bernoulli-sampling predicate: keep a row iff the
    first 4 hex chars of md5(salt || key) fall under floor(fraction *
    16^4). Row membership depends only on (key, salt, fraction) — the
    16-bit granularity (~1/65536) is the portability tradeoff.
    """
    if not (0.0 <= fraction <= 1.0):
        raise ValueError("fraction must be in [0, 1]")
    threshold = int(fraction * 65536)
    if threshold >= 65536:
        return F.lit(True)
    thr_hex = format(threshold, "04x")
    prefix = F.substring(F.md5(F.concat(F.lit(salt), F.col(key) if isinstance(key, str) else key)), 1, 4)
    return prefix < F.lit(thr_hex)


def hash_sample(
    df: DataFrame,
    key: str,
    fraction: float | Mapping[str, float],
    *,
    stratify_by: str | None = None,
    salt: str = "",
) -> DataFrame:
    """Deterministically sample rows by hashed key.

    `fraction` is either a global rate, or (with `stratify_by`) a
    mapping from stratum value to rate — e.g. downsample dominant
    languages while keeping the long tail at 100%. Strata missing from
    the mapping are dropped (rate 0).
    """
    key_col = F.col(key).cast("string")
    if stratify_by is None:
        if not isinstance(fraction, (int, float)):
            raise ValueError("mapping fraction requires stratify_by")
        return df.filter(hash_sample_predicate(key_col, float(fraction), salt=salt))
    if isinstance(fraction, (int, float)):
        fraction = {None: float(fraction)}
    pred = F.lit(False)
    for stratum, rate in fraction.items():
        match = F.col(stratify_by) == F.lit(stratum)
        pred = F.when(match, hash_sample_predicate(key_col, float(rate), salt=salt)).otherwise(pred)
    return df.filter(pred)


def mix_corpora(
    df: DataFrame,
    key: str,
    group_col: str,
    weights: Mapping[str, float],
    *,
    budget_frac: float = 0.5,
    salt: str = "mix",
    allow_upsample: bool = False,
) -> DataFrame:
    """Resample a corpus toward a target group mixture (dataset mixing).

    Given target proportions `weights` over `group_col` values (e.g.
    language or source shares for a training mix) and an overall output
    budget of `budget_frac` * |df| rows, compute a per-group keep rate
    rate_g = budget * w_g / count_g and apply the same deterministic
    md5-threshold Bernoulli rule as `hash_sample` — row membership is a
    pure function of (key, salt, observed group counts), reproducible
    across engines, runs, and partitionings.

    With `allow_upsample=False` (default) rates cap at 1 and rows are
    only dropped. With `allow_upsample=True`, rate_g > 1 replicates:
    each row gets floor(rate) copies plus one more when its hash falls
    under the fractional remainder — temperature-style oversampling of
    low-resource groups. The output then carries a `copy_idx` column
    (1-based) so downstream shuffling/packing can distinguish epochs.

    Scale: the group-count aggregation is map-side-combinable over a
    tiny key domain, the rate table is broadcast back, and the
    filter/replication is a narrow per-row transform — no driver
    collect, no wide shuffle of the corpus. Groups absent from
    `weights` get rate 0.

    Mirrors the reference's qualitative sampling guidance only; this is
    an LLM-pipeline extension (BASELINE.json north_star), not a
    reference operator.
    """
    if not (0.0 < budget_frac <= 1.0):
        raise ValueError("budget_frac must be in (0, 1]")
    total_w = sum(weights.values())
    if total_w <= 0:
        raise ValueError("weights must sum to a positive value")

    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__cnt"))
    weight_expr = F.lit(None).cast("double")
    for g, w in weights.items():
        weight_expr = F.when(F.col(group_col) == F.lit(g), F.lit(w / total_w)).otherwise(
            weight_expr
        )
    # budget * w_g is the target row count for the group; rate caps at 1.
    # least() skips NULLs in both Spark and DuckDB, so an absent weight
    # must be forced to rate 0 explicitly, not left NULL.
    raw_rate = (
        F.lit(budget_frac) * weight_expr * F.sum("__cnt").over(Window.partitionBy())
        / F.col("__cnt")
    )
    capped = raw_rate if allow_upsample else F.least(F.lit(1.0), raw_rate)
    rates = counts.select(
        group_col,
        F.when(raw_rate.isNull(), F.lit(0.0)).otherwise(capped).alias("__rate"),
    )
    prefix = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(key).cast("string"))), 1, 4
    )
    joined = df.join(F.broadcast(rates), on=group_col, how="inner").filter(
        F.col("__rate") > 0
    )
    if not allow_upsample:
        thr = F.floor(F.col("__rate") * 65536).cast("int")
        keep = F.when(thr >= 65536, F.lit(True)).otherwise(
            prefix < F.format_string("%04x", thr)
        )
        return joined.filter(keep).drop("__rate")
    # floor(rate) whole copies; the fractional remainder becomes one
    # extra copy for rows whose hash falls under it (always < 65536, so
    # no overflow guard needed on the hex threshold).
    frac_thr = F.floor((F.col("__rate") - F.floor(F.col("__rate"))) * 65536).cast("int")
    copies = (
        F.floor(F.col("__rate")).cast("int")
        + F.when(prefix < F.format_string("%04x", frac_thr), F.lit(1)).otherwise(F.lit(0))
    )
    return (
        joined.withColumn("__copies", copies)
        .filter(F.col("__copies") > 0)  # Spark sequence(1,0) counts DOWN; guard first
        .withColumn("copy_idx", F.explode(F.sequence(F.lit(1), F.col("__copies"))))
        .drop("__rate", "__copies")
    )


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    *,
    budget: int = 256,
    partition_col: str = "lang",
    order_col: str = "doc_id",
) -> DataFrame:
    """GPT-style sequence packing plan: concatenate documents in a
    deterministic order and cut every `budget` tokens.

    Emits, per document: its whitespace token count, the packed bin it
    STARTS in (`bin_id`), its token offset within that bin
    (`bin_offset`), and whether it straddles a bin boundary
    (`spans_boundary`) — exactly the bookkeeping a tokenize-and-pack
    writer needs to materialize fixed-length training rows.

    Scale: the running sum is a window per `partition_col` shard — the
    idiomatic distributed layout (real pipelines pack per shard, never
    globally). A shard's documents must fit one executor's window
    partition; choose `partition_col` accordingly (e.g. a
    `pmod(hash(key), n_shards)` column for uniform shards).
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    toks = F.size(F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != ""))
    w = (
        Window.partitionBy(partition_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        df.withColumn("n_tokens", toks)
        .withColumn("__start", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .withColumn("bin_id", F.floor(F.col("__start") / budget))
        .withColumn("bin_offset", F.col("__start") % budget)
        .withColumn(
            "spans_boundary", (F.col("bin_offset") + F.col("n_tokens")) > F.lit(budget)
        )
        .drop("__start")
    )
    return out


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 5,
    broadcast_eval: bool = False,
) -> DataFrame:
    """Benchmark-decontamination check: flag training documents sharing
    any k-word shingle with an evaluation set.

    Returns one row per contaminated training document:
    (key, matched_eval_docs). Implementation is an inverted-index
    equi-join on distinct shingles — the same AllPairs machinery as
    n-gram dedup, so the shuffle carries (shingle, id) pairs only,
    never document payloads. Documents shorter than k tokens cannot
    match (no shingles emitted).

    Scale: shingle postings are map-side-distinct per document; the
    join key space is the shingle vocabulary (Zipf-distributed — the
    hottest shingles are stop-phrases; pre-filtering shingles that
    occur in >p% of eval docs is the standard mitigation and composes
    here as a filter on the eval posting list).
    """
    from kwwhat_spark.functions.text import word_shingles
    from kwwhat_spark.operators.scaling import widen

    def postings(d: DataFrame, out: str) -> DataFrame:
        toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
        return (
            widen(d)  # shingling is CPU-dense; don't let a bytes-sized scan under-parallelize it
            .filter(F.size(toks) >= k)
            .select(F.col(key).alias(out), F.explode(F.array_distinct(word_shingles(F.col(text_col), k))).alias("__sh"))
        )

    t = postings(train, "train_id")
    e = postings(eval_df, "eval_id")
    # Real decontamination runs have a tiny eval side (benchmark suites
    # are KBs against a TB corpus): broadcast its postings and the check
    # becomes a map-side hash probe with no shuffle of the train side.
    if broadcast_eval:
        e = F.broadcast(e)
    return (
        t.join(e, "__sh")
        .groupBy("train_id")
        .agg(F.countDistinct("eval_id").alias("matched_eval_docs"))
    )


def tfidf_top_terms(
    df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    *,
    top_n: int = 3,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Top-N characteristic terms per document by smoothed TF-IDF.

    Uses the rational idf form (N+1)/(df+1) rather than its log: log is
    monotone in it, so per-document rankings are identical, and pure
    rational arithmetic is bit-identical across engines (IEEE division)
    where libm log implementations may differ in the last ulp.

    Scale: ONE exchange of the term stream, hashed by document — the
    tf aggregation groups by (doc, term), which the doc partitioning
    already clusters (subset rule: no second exchange), and the final
    top-N is a hash aggregation (collect_list of ~terms-per-doc structs
    → sort_array → slice) on the same partitioning, avoiding the
    sort-window shuffle entirely (measured 5.2 s → 2.3 s at 50k docs).
    The vocabulary df table is broadcast when `broadcast_vocab`
    (default): it is the aggregated term dictionary, orders of
    magnitude smaller than the corpus. Disable for 100M+-term
    vocabularies — the join then shuffles by term and AQE's skew split
    handles the Zipf head.
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
    terms = df.repartition(F.col(key)).select(F.col(key), F.explode(toks).alias("term"))
    tf = terms.groupBy(key, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if broadcast_vocab:
        df_t = F.broadcast(df_t)
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf", F.col("tf") * (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
        )
    )
    # Struct sort key: ascending on -tfidf = tfidf desc, term asc on ties —
    # the same total order as the oracle's ORDER BY tfidf DESC, term.
    ranked = F.struct(
        (-F.col("tfidf")).alias("neg"),
        F.col("term").alias("term"),
        F.col("tf").alias("tf"),
        F.col("df").alias("df"),
        F.col("tfidf").alias("tfidf"),
    )
    tops = scored.groupBy(key).agg(
        F.slice(F.sort_array(F.collect_list(ranked)), 1, top_n).alias("__top")
    )
    return tops.select(key, F.explode("__top").alias("__t")).select(
        key,
        F.col("__t.term").alias("term"),
        F.col("__t.tf").alias("tf"),
        F.col("__t.df").alias("df"),
        F.round(F.col("__t.tfidf"), 6).alias("tfidf"),
    )


def materialize_packed_bins(
    df: DataFrame,
    text_col: str = "text",
    *,
    budget: int = 256,
    partition_col: str = "lang",
    order_col: str = "doc_id",
) -> DataFrame:
    """Materialize GPT-style packed training rows: concatenate documents
    per shard in `order_col` order and cut every `budget` tokens —
    documents straddling a boundary are SPLIT across bins, so every bin
    except a shard's last holds exactly `budget` tokens.

    Per document: explode the range of bins it touches, slice its token
    array to each bin's overlap (pure JVM array ops, no UDF), then
    assemble bins with an ordered aggregation. Output: (partition_col,
    bin_id, bin_text, bin_tokens).

    Scale: same one-window-per-shard layout as `pack_sequences` (use
    `shard_column` to size shards); the assembly aggregation is keyed by
    (shard, bin) — uniform by construction since bins are fixed-size.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    w = (
        Window.partitionBy(partition_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = (
        df.withColumn("__toks", toks)
        .withColumn("__n", F.size("__toks"))
        .filter(F.col("__n") >= 1)
        .withColumn("__start", F.sum("__n").over(w) - F.col("__n"))
    )
    first_bin = F.floor(F.col("__start") / budget)
    last_bin = F.floor((F.col("__start") + F.col("__n") - 1) / budget)
    seg = c.withColumn("bin_id", F.explode(F.sequence(first_bin, last_bin)))
    gs = F.greatest(F.col("__start"), F.col("bin_id") * budget)
    ge = F.least(F.col("__start") + F.col("__n"), (F.col("bin_id") + 1) * budget)
    seg = seg.withColumn(
        "__frag", F.array_join(F.slice("__toks", (gs - F.col("__start") + 1).cast("int"), (ge - gs).cast("int")), " ")
    ).withColumn("__frag_tokens", (ge - gs))
    assembled = seg.groupBy(partition_col, "bin_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("__start").alias("s"), F.col("__frag").alias("f")))),
                lambda s: s.getField("f"),
            ),
            " ",
        ).alias("bin_text"),
        F.sum("__frag_tokens").alias("bin_tokens"),
    )
    return assembled


def incremental_exact_dedup(
    batch: DataFrame,
    store,
    name: str = "corpus_hash_index",
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Batch-over-batch exact dedup against a persistent archive index.

    The store holds only (content_hash, first_seen_key) — never document
    payloads — so the archive index stays ~64 bytes/doc regardless of
    corpus size. A new batch is deduped internally (min key per hash
    wins, deterministic), anti-joined against the archive, and the index
    is MERGEd forward. Returns the surviving rows of `batch`.

    Scale: the anti-join and merge shuffle hash-index rows only; at
    100 TB the index is the natural Delta/Iceberg MERGE INTO target and
    the anti-join a broadcast or DPP-pruned probe of the day's batch.
    This is the batch half of the lambda pair with
    streaming.corpus.stream_ingest_corpus (which covers the watermark
    horizon; this covers the archive).
    """
    hashed = batch.withColumn("content_hash", F.md5(F.col(text_col)))
    w_min = Window.partitionBy("content_hash")
    in_batch_first = (
        hashed.withColumn("__min_key", F.min(key).over(w_min))
        .filter(F.col(key) == F.col("__min_key"))
        .drop("__min_key")
    )
    existing = store.read(name)
    if existing is not None:
        fresh = in_batch_first.join(
            existing.select("content_hash"), "content_hash", "left_anti"
        )
    else:
        fresh = in_batch_first
    index_rows = fresh.select(
        "content_hash", F.col(key).alias("first_seen_key")
    )
    store.merge(name, index_rows, ["content_hash"])
    return fresh.drop("content_hash")


def unigram_logprob_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """CCNet-style corpus-LM quality scoring: fit a unigram model on the
    corpus itself (token count / corpus total), then score each document
    by its mean token surprisal -log2 p(token). High surprisal = text
    unlike the corpus (noise, gibberish); low = boilerplate-ish.

    Cross-engine determinism: per-token surprisal is quantized to an
    integer grid (floor(log2(total/c) * 1e6 + 0.5) micro-bits) BEFORE
    the per-document sum, because (a) libm log2 differs between engines
    in the last ulp and (b) float addition is order-dependent under
    partial aggregation. Integer sums are exact and order-free; the
    single final division is bit-identical everywhere.

    Scale: shuffle 1 builds the vocabulary (map-side combinable count);
    shuffle 2 is the per-document sum (combinable). The token→logprob
    join broadcasts the vocabulary dictionary; for 100M+-term
    vocabularies set broadcast_vocab=False and AQE handles the
    shuffle join (token frequencies are Zipfian — the runtime skew
    split covers the hot tokens). Documents with zero tokens drop out
    (no tokens to score), mirroring the oracle's inner unnest-join.
    """
    from kwwhat_spark.operators.scaling import widen

    df = widen(df)  # tokenize+explode is CPU-dense; repair narrow scans
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
        ).alias("__tok"),
    )
    vocab = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__c"))
    total = vocab.agg(F.sum("__c")).collect()[0][0] or 0
    scored_vocab = vocab.withColumn(
        "__lp_q",
        F.floor(F.log2(F.lit(float(total)) / F.col("__c")) * 1e6 + F.lit(0.5)).cast(
            "long"
        ),
    )
    joined = toks.join(
        F.broadcast(scored_vocab) if broadcast_vocab else scored_vocab, "__tok"
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.sum("__lp_q").alias("surprisal_q"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .select(
            id_col,
            "n_tokens",
            "surprisal_q",
            (F.col("surprisal_q") / (F.col("n_tokens") * F.lit(1e6)))
            .alias("mean_surprisal_bits"),
        )
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    order_exprs: list[Column],
    n: int,
) -> DataFrame:
    """RefinedWeb-style per-group cap: keep at most `n` rows per group,
    preferring rows by `order_exprs` (first expression most significant).
    Used to stop any single source/domain from dominating a training mix.

    Scale: ONE hash exchange on the group key, then a per-partition
    row_number — no global sort. A pathologically hot group (one domain
    = 40% of the corpus) lands on one task; AQE's skew split cannot
    divide a window partition, so for that regime pre-filter with a
    cheap quality floor or raise spark.sql.shuffle.partitions; the cap
    itself reads each row once.
    """
    w = Window.partitionBy(group_col).orderBy(*order_exprs)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def _hash_uniform(key: Column, salt: str) -> Column:
    """Deterministic uniform in (0, 1]: top 52 bits of md5(salt||key),
    identical in DuckDB via ('0x' || substr(md5(...), 1, 13))::UBIGINT."""
    v = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 13), 16, 10
    ).cast("long")
    return (v + 1) / F.lit(float((1 << 52) + 1))


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    *,
    stratify_col: str | None = None,
    salt: str = "",
) -> DataFrame:
    """Fixed-size weighted sampling without replacement
    (Efraimidis–Spirakis 2006): rank every row by -ln(u)/w with a
    deterministic hash uniform u, keep the k smallest ranks (per stratum
    when `stratify_col` is given). Inclusion probability is proportional
    to weight; the selected SET is a pure function of (key, weight,
    salt) — reproducible across engines, runs, and partitionings.

    The rank is used only for ORDERING (ties broken by key) and never
    emitted: libm ln differs across engines in the last ulp, which
    cannot flip an order between continuous random ranks but would fail
    a bit-exact value compare.

    Scale: one hash exchange on the stratum key + per-partition top-k;
    unstratified sampling still partitions by a constant key, so for
    global top-k over huge corpora prefer a stratified call (or chain
    with hash_sample to pre-thin).
    """
    u = _hash_uniform(F.col(key_col), salt)
    rank = -F.log(u) / F.greatest(F.col(weight_col).cast("double"), F.lit(1e-300))
    part = [stratify_col] if stratify_col else [F.lit(1)]
    w = Window.partitionBy(*part).orderBy(rank.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def strip_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 8,
    min_count: int = 2,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact substring deduplication in the style of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"),
    word-granular: any k-token span whose text occurs `min_count`+ times
    in the corpus (across or within documents) is a duplicate span; all
    token positions covered by a duplicate span are removed from the
    document. Returns per document: token count, number of duplicate
    span starts, covered-token fraction, and the cleaned text.

    Plan shape (suffix arrays are replaced by a distributed
    posting-count): (1) explode positional k-grams — a narrow row
    multiplier; (2) count occurrences per gram hash (map-side
    combinable shuffle); (3) join postings to the ≥min_count grams on
    the hash; (4) ONE per-document aggregation folds covered positions
    with collect_list(sequence) → flatten → distinct (bounded by doc
    length); (5) equi-join back to documents.

    Grams are keyed by xxhash64 of the sliced TOKEN ARRAY (r12, guide
    §2.3 "narrower types" + §1.2 per-task work): tokens come from a
    \\s+ split so they contain no spaces, making concat_ws(" ")
    injective — array equality ⟺ span-text equality — and the hash
    expression skips the md5 path's string build + crypto digest + hex
    encode entirely (the gram key is evaluated once per posting on BOTH
    the count side and the join side). The count exchange carries
    8-byte longs instead of 32-char md5 strings. Gram-group identity
    holds up to xxhash64 collisions (P ≈ |grams|²/2⁶⁵ corpus-wide —
    the same documented argument as ngram_jaccard_pairs' posting key;
    a collision can only merge two gram groups, i.e. over-mark a span
    as duplicated). The DuckDB oracle still groups by md5 of the span
    text — gate-green means the rewrite is value-identical. Measured
    r12: output rows identical at sf0.01/sf0.1 (OPTIMIZATION_r12.md
    change 6, same-session compare); sf0.1 A/B parity (the query is
    exchange/latency-bound there); sf1 interleaved stash A/B, 3 windows,
    min-of-3 each: 2.35 → 2.09 s, faster in every window.

    The tokenized stage is persisted: it feeds the posting explode AND
    the final reconstruction join, and any upstream filter (e.g. a
    quality gate with per-document signals) would otherwise be
    re-evaluated for both consumers. On a cluster prefer checkpoint for
    very large corpora — the cache holds token arrays, ~1× corpus size.

    carry_cols: extra columns of `df` carried through to the output
    row. They ride the persisted token stage only — the posting explode
    projects them away before its exchange — so a caller that needs
    them downstream avoids a second corpus scan plus a re-attach join.
    """
    toks = df.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "").alias("__t"),
    )
    base = toks.withColumn("__n", F.size("__t"))
    base = keep(base.persist(StorageLevel.MEMORY_AND_DISK))
    posts = base.filter(F.col("__n") >= k).select(
        id_col,
        F.explode(F.sequence(F.lit(1), F.col("__n") - (k - 1))).alias("__pos"),
        "__t",
    ).select(
        id_col,
        "__pos",
        F.xxhash64(F.slice(F.col("__t"), F.col("__pos"), k)).alias("__gh"),
    )
    dup_grams = (
        posts.groupBy("__gh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("__gh")
    )
    covered = (
        posts.join(dup_grams, "__gh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dup_starts"),
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.collect_list(
                            F.sequence(F.col("__pos"), F.col("__pos") + (k - 1))
                        )
                    )
                )
            ).alias("__idxs"),
        )
    )
    joined = base.join(covered, [id_col], "left")
    idxs = F.coalesce(F.col("__idxs"), F.array().cast("array<int>"))
    return joined.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.col("__n").alias("n_tokens"),
        F.coalesce(F.col("n_dup_starts"), F.lit(0)).alias("n_dup_starts"),
        F.when(F.col("__n") > 0, F.size(idxs) / F.col("__n"))
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("dup_span_frac"),
        F.concat_ws(
            " ",
            F.filter(F.col("__t"), lambda t, i: ~F.array_contains(idxs, i + 1)),
        ).alias("cleaned_text"),
    )


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_chars: int = 1,
) -> DataFrame:
    """C4/RefinedWeb-style exact LINE deduplication across the corpus:
    a line whose text occurs more than once (corpus-wide, including
    within one document) keeps only its globally-first occurrence in
    (doc_id, line_idx) order; every other occurrence is removed from its
    document. Lines shorter than `min_chars` characters (boilerplate
    blanks, separators) are always kept. Returns per document:
    n_lines, n_kept, and the reconstructed text_clean.

    Scale shape: document text never shuffles. The occurrence ranking
    shuffles only (line_hash, length, doc_id, line_idx); the removal
    set returns to each document as an integer index list via one
    doc-keyed join, and reconstruction is a narrow index-filter over the
    re-split text. The hottest line's reducer is bounded by that line's
    occurrence count — the same bounded-skew shape as the posting-list
    dedup operators.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__idx", "__line"),
    ).select(
        id_col,
        "__idx",
        F.md5(F.col("__line")).alias("__h"),
        F.length("__line").alias("__len"),
    )
    w = Window.partitionBy("__h").orderBy(F.col(id_col).asc(), F.col("__idx").asc())
    losers = (
        lines.withColumn("__occ", F.row_number().over(w))
        .filter((F.col("__occ") > 1) & (F.col("__len") >= min_chars))
        .groupBy(id_col)
        .agg(F.collect_set("__idx").alias("__drop"))
    )
    joined = df.join(losers, [id_col], "left")
    split = F.split(F.col(text_col), "\n")
    drop = F.coalesce(F.col("__drop"), F.array().cast("array<int>"))
    return joined.select(
        F.col(id_col),
        F.size(split).alias("n_lines"),
        (F.size(split) - F.size(drop)).alias("n_kept"),
        F.concat_ws(
            "\n", F.filter(split, lambda line, i: ~F.array_contains(drop, i))
        ).alias("text_clean"),
    )


def deterministic_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    *,
    salt: str = "shuffle",
    buckets: int = 256,
) -> DataFrame:
    """Assign every row a dense global ordinal 0..N-1 under a seeded
    pseudo-random total order — the reproducible corpus shuffle that
    precedes sequence packing / shard export (same salt → same
    permutation on any cluster or partitioning).

    Order key: md5(salt|id), ties broken by id. The ordinal is computed
    WITHOUT a global single-partition sort: rows hash into `buckets` by
    the key's first byte(s) (a prefix of the order key, so bucket order
    refines key order); per-bucket counts come to the driver (`buckets`
    longs), cumulative offsets broadcast back, and each bucket
    independently numbers its rows with one bounded window. Two passes
    over the data, max parallelism `buckets`, no stage ever sees more
    than ~N/buckets rows — the distributed zipWithIndex that respects a
    total order.
    """
    nyb = 4  # 16^4 = 65536-way prefix space
    if not 1 <= buckets <= 16**nyb:
        raise ValueError(f"buckets must be in [1, {16**nyb}]")
    key = F.md5(F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string")))
    # Monotone range bucketing on the key prefix: floor(v·B / 16^nyb) is
    # non-decreasing in v, so (bucket, key) ordering == key ordering —
    # the property the per-bucket offsets depend on. (A modulo here
    # would interleave buckets and break the global order.)
    v = F.conv(F.substring(key, 1, nyb), 16, 10).cast("long")
    bucket = ((v * buckets).cast("long") / F.lit(16**nyb)).cast("int")
    keyed = df.withColumn("__key", key).withColumn("__bucket", bucket)
    counts = {
        r["__bucket"]: r["cnt"]
        for r in keyed.groupBy("__bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for b in range(buckets):
        offsets[b] = acc
        acc += counts.get(b, 0)
    omap = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = Window.partitionBy("__bucket").orderBy("__key", id_col)
    return (
        keyed.withColumn(
            "shuffle_ordinal",
            (omap[F.col("__bucket")] + F.row_number().over(w) - 1).cast("long"),
        )
        .drop("__key", "__bucket")
    )


def line_dedup_plan(
    batch: DataFrame,
    store,
    name: str = "corpus_line_index",
    key: str = "doc_id",
    text_col: str = "text",
    *,
    min_chars: int = 1,
):
    """Two-phase form of incremental_line_dedup for exactly-once
    streaming sinks: returns `(cleaned, commit)` where `cleaned` is the
    per-doc dedup verdict MATERIALIZED against the CURRENT index state
    (localCheckpoint — later index merges cannot retroactively change
    it) and `commit(batch_id=None)` merges this batch's line hashes into
    the index. A foreachBatch caller writes `cleaned` to a
    batch-id-scoped path first, then commits — so a replayed micro-batch
    either skips (batch_id already committed) or reproduces the original
    verdicts against the unswapped prior index version.
    """
    lines = batch.select(
        F.col(key),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__idx", "__line"),
    ).select(
        key,
        "__idx",
        F.md5(F.col("__line")).alias("__h"),
        F.length("__line").alias("__len"),
    )
    eligible = lines.filter(F.col("__len") >= min_chars)
    w = Window.partitionBy("__h").orderBy(F.col(key).asc(), F.col("__idx").asc())
    ranked = eligible.withColumn("__occ", F.row_number().over(w))
    existing = store.read(name)
    if existing is not None:
        seen = ranked.join(existing.select(F.col("line_hash").alias("__h")),
                           "__h", "left_semi").select(key, "__idx")
        in_batch_later = ranked.filter(F.col("__occ") > 1).select(key, "__idx")
        losers = seen.unionByName(in_batch_later).distinct()
    else:
        losers = ranked.filter(F.col("__occ") > 1).select(key, "__idx")
    drop_lists = losers.groupBy(key).agg(F.collect_set("__idx").alias("__drop"))
    joined = batch.join(drop_lists, [key], "left")
    split = F.split(F.col(text_col), "\n")
    drop = F.coalesce(F.col("__drop"), F.array().cast("array<int>"))
    cleaned = joined.select(
        F.col(key),
        F.size(split).alias("n_lines"),
        (F.size(split) - F.size(drop)).alias("n_kept"),
        F.concat_ws(
            "\n", F.filter(split, lambda line, i: ~F.array_contains(drop, i))
        ).alias("text_clean"),
    ).localCheckpoint(eager=True)

    def commit(batch_id: int | None = None) -> None:
        store.merge(
            name,
            eligible.select(F.col("__h").alias("line_hash")).distinct(),
            ["line_hash"],
            batch_id=batch_id,
        )

    return keep(cleaned), commit


def incremental_line_dedup(
    batch: DataFrame,
    store,
    name: str = "corpus_line_index",
    key: str = "doc_id",
    text_col: str = "text",
    *,
    min_chars: int = 1,
) -> DataFrame:
    """Batch-over-batch LINE dedup against a persistent line-hash index —
    the archive-scale form of dedup_lines (C4-style: a repeated line
    survives only at its first-ever occurrence across every batch seen
    so far). Lines shorter than `min_chars` are exempt and never enter
    the index. Returns the batch with per-doc n_lines / n_kept /
    text_clean, first-occurrence lines kept in (key, line_idx) order
    within the batch. The verdicts are materialized BEFORE the index
    merge, so the returned DataFrame reflects this batch's pre-merge
    state no matter when the caller consumes it.

    The store holds only (line_hash) — ~32 bytes per distinct line, no
    text — so it MERGEs forward like the content-hash index in
    incremental_exact_dedup. Document text never shuffles: ranking and
    the archive anti-join move (line_hash, length, key, idx); removals
    come back to each doc as an integer index list; reconstruction is a
    narrow index-filter over the re-split text.
    """
    cleaned, commit = line_dedup_plan(
        batch, store, name, key, text_col, min_chars=min_chars
    )
    commit()
    return cleaned


def bigram_logprob_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    lam: float = 0.8,
    lam_c: float = 0.2,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Interpolated bigram-LM surprisal scoring (the CCNet/perplexity
    quality-filter shape, one order up from unigram_logprob_scores):
    fit bigram + unigram counts on the corpus itself and score each
    document by its mean token surprisal under
    p(w|prev) = lam * c(prev,w)/c(prev) + (1-lam) * c(w)/total.

    Determinism contract (same as the unigram entry): the per-bigram
    surprisal is quantized to integer micro-bits BEFORE the per-document
    sum — floor(log2(1/p) * 1e6 + 0.5) — so partial aggregation order
    cannot perturb the result and both engines emit identical longs.
    The probability expression is written with an identical op sequence
    on both sides (mul, div, add), each IEEE-correctly-rounded. The
    interpolation weights ``lam`` and ``lam_c`` are BOTH passed verbatim
    (never derived by subtraction): ``1.0 - 0.8`` rounds to
    0.19999999999999996 while a ``0.2`` literal parses to
    0.20000000000000001 on every engine — one ulp apart, enough to flip
    a floor-quantization boundary. Keep the oracle SQL literals textually
    equal to these parameters.

    Plan shape at scale: bigram extraction is pure array ops on the
    token array (slice + arrays_zip + explode — no per-doc window, no
    shuffle before the counts); two combinable count shuffles build the
    model; scoring joins the pair stream against the scored dictionary
    (broadcast when it fits, AQE shuffle join with skew-split
    otherwise — token bigrams are Zipfian). Documents with <2 tokens
    have no bigrams and drop out, mirroring the oracle's inner join.
    """
    if abs(lam + lam_c - 1.0) >= 1e-9:
        raise ValueError(
            f"lam ({lam}) and lam_c ({lam_c}) must sum to 1.0 — both are "
            "passed verbatim (never derived) so a caller overriding one "
            "without the other would silently mis-weight the mixture"
        )
    from kwwhat_spark.operators.scaling import widen

    df = widen(df)
    arr = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    toks = df.select(F.col(id_col), arr.alias("__l"))
    pairs = (
        toks.filter(F.size("__l") >= 2)
        .select(
            id_col,
            F.explode(
                F.arrays_zip(
                    F.expr("slice(__l, 1, size(__l)-1)"),
                    F.expr("slice(__l, 2, size(__l)-1)"),
                )
            ).alias("__pr"),
        )
        .select(
            id_col,
            F.col("__pr")["0"].alias("__prev"),
            F.col("__pr")["1"].alias("__tok"),
        )
    )
    alltoks = toks.select(F.explode("__l").alias("__tok"))
    # Vocabulary counts serve double duty (r8): the corpus-wide token
    # total is sum(__cu) over the |vocab|-row aggregate — the previous
    # alltoks.count() re-tokenized the whole corpus for one scalar.
    uni = alltoks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__cu"))
    uni = keep(uni.localCheckpoint(eager=True))
    total = uni.agg(F.sum("__cu")).first()[0]
    bi = pairs.groupBy("__prev", "__tok").agg(F.count(F.lit(1)).alias("__cb"))
    dic = (
        bi.join(
            uni.select(F.col("__tok").alias("__prev"), F.col("__cu").alias("__cp")),
            "__prev",
        )
        .join(uni, "__tok")
        .withColumn(
            "__lp_q",
            F.floor(
                F.log2(
                    1.0
                    / (
                        F.lit(lam) * F.col("__cb") / F.col("__cp")
                        + F.lit(lam_c) * F.col("__cu") / F.lit(float(total))
                    )
                )
                * 1e6
                + F.lit(0.5)
            ).cast("long"),
        )
        .select("__prev", "__tok", "__lp_q")
    )
    scored = pairs.join(F.broadcast(dic) if broadcast_vocab else dic, ["__prev", "__tok"])
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("__lp_q").alias("bigram_surprisal_q"),
        (F.sum("__lp_q") / (F.count(F.lit(1)) * 1e6)).alias("mean_bigram_surprisal_bits"),
    )


def bm25_topk(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k1: float = 1.2,
    b: float = 0.75,
    k1p1: float = 2.2,
    b_c: float = 0.25,
    limit: int = 100,
) -> DataFrame:
    """BM25 retrieval over whitespace tokens: top-``limit`` documents for
    a fixed term set (Robertson/Sparck-Jones idf, the standard
    (k1+1)-numerator tf saturation).

    Determinism contract: the per-(doc, term) score is quantized to an
    integer micro-unit grid BEFORE the per-document sum —
    floor(1e6 * idf * tf*(k1+1) / (tf + k1*(1-b + b*len/avgdl)) + 0.5) —
    with the identical IEEE op sequence on both engines, so the longs
    (and the (score desc, doc_id) top-k order) are bit-identical.
    ``k1p1`` (= k1+1) and ``b_c`` (= 1-b) are passed verbatim rather
    than derived: ``1.2 + 1.0`` rounds to 2.1999999999999997 while the
    oracle's ``2.2`` literal parses to 2.2000000000000002 — a one-ulp
    gap that can flip the floor-quantization grid. Keep the oracle SQL
    literals textually equal to these parameters.

    Plan shape at scale: tokenize+explode is map-side; doc lengths and
    per-term tf are combinable count shuffles; df/idf is |terms| rows
    (broadcast); the final top-k is TakeOrderedAndProject (per-partition
    heads, no global sort materialization).
    """
    if abs(k1 + 1.0 - k1p1) >= 1e-9 or abs(1.0 - b - b_c) >= 1e-9:
        raise ValueError(
            f"k1p1 ({k1p1}) must equal k1+1 ({k1}+1) and b_c ({b_c}) must "
            f"equal 1-b (b={b}) — verbatim-literal companions to the base "
            "parameters; overriding one without the other mis-scores"
        )
    from kwwhat_spark.operators.scaling import widen

    df = widen(df)
    arr = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    toks = df.select(F.col(id_col), F.explode(arr).alias("__tok"))
    n_docs = df.count()
    # ONE corpus pass (r8: was three — doclen, global token count, and
    # per-term tf each re-tokenized the corpus): the fixed query-term
    # set rides the per-doc length aggregation as conditional sums, so
    # a single tokenize+combinable-shuffle yields doc lengths AND term
    # frequencies; avgdl falls out of sum(len). The checkpointed
    # per-doc table is |docs| rows (not |tokens|) — bounded state.
    per_doc = keep(
        toks.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("__len"),
            *[
                F.sum(F.when(F.col("__tok") == t, 1).otherwise(0)).alias(f"__tf{i}")
                for i, t in enumerate(terms)
            ],
        )
        .localCheckpoint(eager=True)
    )
    total_tokens = per_doc.agg(F.sum("__len")).first()[0]
    avgdl = total_tokens / n_docs
    entries = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"), F.col(f"__tf{i}").cast("long").alias("tf")
            )
            for i, t in enumerate(terms)
        ]
    )
    tf = (
        per_doc.select(id_col, "__len", F.explode(entries).alias("__e"))
        .select(
            id_col,
            "__len",
            F.col("__e.t").alias("__tok"),
            F.col("__e.tf").alias("__tf"),
        )
        .filter(F.col("__tf") > 0)
    )
    dft = tf.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    idf = dft.withColumn(
        "__idf",
        F.log((F.lit(float(n_docs)) - F.col("__df") + 0.5) / (F.col("__df") + 0.5) + 1.0),
    )
    scored = (
        tf.join(F.broadcast(idf.select("__tok", "__idf")), "__tok")
        .withColumn(
            "__score_q",
            F.floor(
                F.lit(1e6)
                * F.col("__idf")
                * (F.col("__tf") * F.lit(k1p1))
                / (
                    F.col("__tf")
                    + F.lit(k1)
                    * (F.lit(b_c) + F.lit(b) * F.col("__len") / F.lit(float(avgdl)))
                )
                + F.lit(0.5)
            ).cast("long"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("__score_q").alias("bm25_score_q"),
            F.count(F.lit(1)).alias("n_terms_matched"),
        )
        .orderBy(F.col("bm25_score_q").desc(), F.col(id_col).asc())
        .limit(limit)
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    *,
    k_rrf: int = 60,
    limit: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion of ranked retrieval lists (Cormack et al.
    2009): score(d) = sum over lists of 1/(k_rrf + rank_d). Each input
    must carry (id_col, rank) with rank starting at 1.

    Determinism contract: the reciprocal is computed as the INTEGER
    division 1e9 div (k_rrf + rank) — a pure-integer grid, so the
    per-document sum and the (score desc, id) top-k order are
    bit-identical on every engine with no float in sight.

    Plan shape at scale: each ranking is already a top-N (N ~ 100s);
    the fusion is a union + one combinable sum over N·|rankers| rows —
    driver-free and trivially parallel. The heavy lifting lives in the
    upstream rankers (BM25 / ANN), which carry their own scale paths."""
    rrf_q = F.expr(f"1000000000L div ({k_rrf} + rank)")
    scored = None
    for r in rankings:
        s = r.select(F.col(id_col), rrf_q.alias("__rrf_q"))
        scored = s if scored is None else scored.unionByName(s)
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("__rrf_q").alias("rrf_score_q"),
            F.count(F.lit(1)).alias("n_rankers"),
        )
        .orderBy(F.col("rrf_score_q").desc(), F.col(id_col).asc())
        .limit(limit)
    )
