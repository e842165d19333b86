"""Deduplication operators for LLM training-data pipelines.

Exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine — all
expressed as DataFrame plans (no Python UDFs):

- Exact: hash-groupBy on a content digest — one shuffle on the digest.
- MinHash LSH: shingle → per-seed min-hash (map-side expressions) → band
  buckets → self-join per bucket → exact Jaccard verify. The only shuffle
  keys are (band_idx, band_hash) — at 100 TB the bucket join touches only
  colliding candidates, never the full cross product.
- SimHash: 64-bit sign-sum signature; candidates pair via 16-bit chunk
  match (signatures within hamming distance 3 share ≥1 identical chunk —
  pigeonhole), verified by bit_count(xor).
- n-gram Jaccard: blocked pairwise — the exact (quadratic) baseline used
  to validate the sketch-based paths on samples.
- Embedding cosine: see operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from kwwhat_spark.functions.text import simhash64, word_shingles
from kwwhat_spark.operators.cachescope import keep
from kwwhat_spark.operators.scaling import widen


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per distinct content digest: keeper = min id, plus the
    duplicate count (hash-groupBy exact dedup)."""
    digest = F.md5(F.col(text_col))
    return (
        df.select(digest.alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("copies"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str | None = None,
    k: int = 3,
    threshold: float = 0.5,
    strategy: str = "auto",
) -> DataFrame:
    """Exact Jaccard similarity over k-word shingle SETS for all pairs
    (within an optional blocking column). Two exact strategies:

    - 'full': inverted-index self-join, intersections counted by
      group-by over the joined postings. Joined rows = sum(df^2) over
      shingles, but each row is narrow and map-side combinable — best
      at low thresholds or low duplication.
    - 'prefix': PREFIX FILTERING (AllPairs/PPJoin family): with
      shingles in a fixed global order, any pair with Jaccard >= t
      must share a shingle within the first floor((1-t)*n)+1 of BOTH
      documents (proof: if J(A,B) >= t then |A\\B| <= (1-t)|A|, so the
      smallest common element sits inside both prefixes). Only those
      prefixes are indexed/joined; exact intersections come from
      array_intersect on candidates only. Cuts the pair-generation
      shuffle ~(1-t)^-2-fold — measured 3x end-to-end at t=0.8 on a
      10x-duplicated corpus (BASELINE.md), where every cluster shingle
      has df = cluster size.
    - 'auto': prefix when threshold >= 0.7, else full.

    Both return identical results (prefix filtering is lossless)."""
    if strategy == "auto":
        strategy = "prefix" if threshold >= 0.7 else "full"
    if strategy not in ("prefix", "full"):
        raise ValueError(f"unknown strategy {strategy!r}")
    # Shingling is CPU-dense; bytes-sized scans of small text files arrive
    # as 1 partition (see operators/scaling.py) — widen before the map.
    df = widen(df)
    # Shingles are hashed to 64-bit longs BEFORE the sort: every
    # downstream consumer (global sort order for the prefix filter, the
    # posting join key, array_intersect verification) only needs set
    # identity plus a consistent total order, never the shingle text, so
    # the sort compares 8-byte longs instead of ~25-byte strings and the
    # prefix/posting exchange carries long keys (guide §2.3 "narrower
    # types"). Jaccard over the hashed sets equals Jaccard over the
    # string sets up to xxhash64 collisions (P ≈ |set|²/2⁶⁵ per doc —
    # vanishing; same argument as minhash_lsh_pairs' verify join), and
    # the prefix filter stays lossless under ANY fixed global element
    # order, hash order included. Measured r12 (sf0.1, interleaved
    # same-window A/B): prefix path 2.74 → 1.72 s; full path parity;
    # output rows identical at both thresholds.
    from kwwhat_spark.functions.text import let_

    base = df.select(
        F.col(id_col).alias("doc_id"),
        *( [F.col(block_col).alias("block")] if block_col else [F.lit(1).alias("block")] ),
        F.array_sort(
            F.array_distinct(
                let_(
                    word_shingles(F.col(text_col), k),
                    lambda sh: F.transform(sh, lambda s: F.xxhash64(s)),
                )
            )
        ).alias("shingles"),
    ).withColumn("shingle_count", F.size("shingles"))
    # base feeds three consumers (prefix index + both sides of the
    # verify join); tokenize+shingle+sort is the CPU hot spot, so cache
    # it rather than recompute per consumer (same rationale as
    # minhash_lsh_pairs; the 100 TB analogue is checkpointing the
    # shingle table).
    base = keep(base.persist(StorageLevel.MEMORY_AND_DISK))

    counts = base.select("doc_id", "shingle_count")
    if strategy == "prefix":
        prefix_len = F.floor(F.lit(1.0 - threshold) * F.col("shingle_count")).cast("int") + F.lit(1)
        prefixes = base.select(
            "doc_id", "block", "shingle_count",
            F.explode(F.slice("shingles", F.lit(1), prefix_len)).alias("shingle"),
        )
        a = prefixes.alias("a")
        b = prefixes.alias("b")
        # Length filter (AllPairs): J(A,B) >= t forces
        # t*|A| <= |B| <= |A|/t, so size-mismatched candidates are pruned
        # inside the equi-join before any pair reaches the verify stage.
        # Lossless like the prefix filter; evaluated post-hash-match, so
        # it costs two comparisons per colliding row and nothing else.
        candidates = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.block") == F.col("b.block"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & (F.col("b.shingle_count") * F.lit(threshold)
                   <= F.col("a.shingle_count"))
                & (F.col("a.shingle_count") * F.lit(threshold)
                   <= F.col("b.shingle_count")),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        sa = base.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"),
                         F.col("shingle_count").alias("count_a"))
        sb = base.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"),
                         F.col("shingle_count").alias("count_b"))
        scored = (
            candidates.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("intersection", F.size(F.array_intersect("sh_a", "sh_b")))
        )
    else:
        inverted = base.select("doc_id", "block", F.explode("shingles").alias("shingle"))
        a = inverted.alias("a")
        b = inverted.alias("b")
        shared = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.block") == F.col("b.block"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("intersection"))
        )
        scored = (
            shared
            .join(counts.withColumnRenamed("doc_id", "doc_a")
                  .withColumnRenamed("shingle_count", "count_a"), "doc_a")
            .join(counts.withColumnRenamed("doc_id", "doc_b")
                  .withColumnRenamed("shingle_count", "count_b"), "doc_b")
        )
    return (
        scored
        .withColumn(
            "jaccard",
            (
                F.col("intersection")
                / (F.col("count_a") + F.col("count_b") - F.col("intersection"))
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# --- vectorized xxhash64 replica (numpy) for the MinHash signature -------
# Bit-exact port of Spark's XxHash64 for the two shapes the signature
# uses: hashLong(long, seed) and the two-child chain
# xxhash64(h, lit(i)) = hashInt(i, hashLong(h, 42)) — the seed literal is
# an IntegerType child, so the second link is the 4-byte round, not the
# 8-byte one. Validated element-for-element against F.xxhash64 on 1000
# random longs (incl. 0/±1/±2^63 edges) for seeds 0/1/5/31 (r12 probe).
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _xxh64_sig_fn(num_hashes: int):
    """mapInPandas function computing the per-doc MinHash signature
    min_j xxhash64(shingle_j, lit(i)) for i in range(num_hashes) with
    vectorized numpy over the batch's flattened shingle arrays.

    Why not the expression form: F.array_min(F.transform(...)) runs in
    Catalyst's INTERPRETED HOF evaluator — num_hashes passes per doc at
    interpreter speed. Here the whole batch is 32 vectorized hash
    passes + np.minimum.reduceat. Same-window A/B at sf0.1 (r12): full
    pairs op 3.25 s HOF vs 2.22 s numpy (order-reversed window:
    2.42 vs 2.29), identical output pairs. The heavyweight state
    (nothing here) / batch-iterator shape follows guide §4.5."""
    import numpy as np
    import pandas as pd

    p1, p2, p3, p4, p5 = (
        np.uint64(_XXH_P1), np.uint64(_XXH_P2), np.uint64(_XXH_P3),
        np.uint64(_XXH_P4), np.uint64(_XXH_P5),
    )

    def rotl(x, r):
        r = np.uint64(r)
        return (x << r) | (x >> (np.uint64(64) - r))

    def fmix(a):
        a ^= a >> np.uint64(33)
        a *= p2
        a ^= a >> np.uint64(29)
        a *= p3
        a ^= a >> np.uint64(32)
        return a

    def sig_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lists = pdf["shingles"].to_numpy()
            lens = np.fromiter(
                (len(x) for x in lists), dtype=np.int64, count=len(lists)
            )
            flat = np.concatenate(
                [np.asarray(x, dtype=np.int64) for x in lists]
            ).view(np.uint64)
            offs = np.zeros(len(lists), dtype=np.int64)
            np.cumsum(lens[:-1], out=offs[1:])
            with np.errstate(over="ignore"):
                # inner = hashLong(shingle, 42), shared across all seeds
                acc = np.uint64(42) + p5 + np.uint64(8)
                inner = acc ^ (rotl(flat * p2, 31) * p1)
                inner = fmix(rotl(inner, 27) * p1 + p4)
                sig = np.empty((len(lists), num_hashes), dtype=np.int64)
                for i in range(num_hashes):
                    # hashInt(i, inner): the IntegerType literal child
                    a = inner + p5 + np.uint64(4)
                    a = a ^ (np.uint64(i & 0xFFFFFFFF) * p1)
                    h = fmix(rotl(a, 23) * p2 + p3).view(np.int64)
                    sig[:, i] = np.minimum.reduceat(h, offs)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": list(sig)})

    return sig_batches


def _simhash64_votes_fn():
    """mapInPandas body: (doc_id, toks: array<long>) -> (doc_id, simhash).
    Bit b of the simhash is set iff strictly more than half of the token
    hashes have bit b set — votes = ones - zeros > 0, exactly the
    expression form's `bit_vote(mask) > 0` (functions/text.simhash64),
    so the longs are bit-identical, not merely equivalent. Empty and
    null token arrays (a null text row) yield simhash 0, as in the
    expression form: aggregate over an empty array is its init 0, and
    over a null array null, whose vote CASE falls through to 0.

    Why not the expression form: simhash64 runs SIXTY-FOUR F.aggregate
    HOF passes per doc in Catalyst's INTERPRETED evaluator — the same
    pathology the r12 MinHash signature fix removed. Here the whole
    batch is 64 vectorized shift-and-reduceat passes. Same-window
    canary-gated A/B at sf0.1 (r13, OPTIMIZATION_r13.md change 5): signature
    stage 1.71 s -> 0.28 s min-of-5, identical output. Parity pinned by
    tests/test_llm_ops.py::test_simhash_votes_mapper_matches_expression."""
    import numpy as np
    import pandas as pd

    def votes(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lists = pdf["toks"].to_numpy()
            lens = np.fromiter(
                (0 if x is None else len(x) for x in lists),
                dtype=np.int64, count=len(lists),
            )
            out = np.zeros(len(lists), dtype=np.uint64)
            nonempty = lens > 0
            if nonempty.any():
                # np.add.reduceat misreads zero-length segments (it
                # returns a[offs[i]] when offs[i] == offs[i+1]), so the
                # vote matrix is built over non-empty docs only.
                flat = np.concatenate(
                    [np.asarray(x, dtype=np.int64) for x in lists[nonempty]]
                ).view(np.uint64)
                lens_ne = lens[nonempty]
                offs = np.zeros(len(lens_ne), dtype=np.int64)
                np.cumsum(lens_ne[:-1], out=offs[1:])
                acc = np.zeros(len(lens_ne), dtype=np.uint64)
                one = np.uint64(1)
                for b in range(64):
                    ones = np.add.reduceat((flat >> np.uint64(b)) & one, offs)
                    bit = (2 * ones > lens_ne.view(np.uint64)).astype(np.uint64)
                    acc |= bit << np.uint64(b)
                out[nonempty] = acc
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "simhash": out.view(np.int64)}
            )

    return votes


def _hashed_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int, shingle_hash
) -> DataFrame:
    """(doc_id, distinct hashed shingle array) — the shared front stage
    of minhash_lsh_pairs AND minhash_dedup_plan. One helper so both
    build the IDENTICAL logical plan: Spark's CacheManager matches
    cached plans structurally, so when the pairs operator persists this
    stage, the dedup plan's signature scan reads the same cache instead
    of re-shingling the batch.

    Shingle+MinHash is the CPU hot spot; widen narrow scans first
    (measured 1.7 s single-core shingle pass at sf0.1 without this).
    let_ binds the shingle array before transform maps the hash over
    it — without the binding Catalyst re-evaluates the whole shingling
    expression per element (the let_ pitfall; measured 6× here)."""
    from kwwhat_spark.functions.text import let_

    return widen(df).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(
            let_(
                word_shingles(F.col(text_col), k),
                lambda sh: F.transform(sh, lambda s: shingle_hash(s)),
            )
        ).alias("shingles"),
    )


def _xxh64_sig_df(shingled: DataFrame, num_hashes: int) -> "DataFrame":
    """(doc_id, sig) via the vectorized numpy signature over a
    _hashed_shingles stage — the production signature shape shared by
    minhash_lsh_pairs and minhash_dedup_plan."""
    from pyspark.sql import types as T

    return shingled.mapInPandas(
        _xxh64_sig_fn(num_hashes),
        schema=T.StructType(
            [
                T.StructField("doc_id", shingled.schema["doc_id"].dataType),
                T.StructField("sig", T.ArrayType(T.LongType())),
            ]
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    replayable_hash: bool = False,
) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs, verified with exact
    Jaccard on the shingle sets (standard shingle→minhash→band→bucket-join
    pipeline).

    replayable_hash swaps every xxhash64 for the md5_52 family
    (functions/text.py) — identical values computable in DuckDB SQL —
    so the WHOLE sketch (shingle hash, seeded signature family, band
    hash, candidate set, verified jaccard) goes under an external
    value-hash oracle. Production keeps xxhash64 (faster, full 64-bit
    spread); the two paths differ ONLY in the hash family.

    The (doc_id, hashed shingle set) stage is persisted: it is consumed
    four times (both sides of the band self-join and both sides of the
    verification join), and recomputing tokenize+shingle per consumer
    is the dominant cost. This is the single-node analogue of
    checkpointing the signature table in a 100 TB run.

    Shingles are hashed to 64-bit longs ONCE up front; the signature,
    the cache, and the verification intersection all work on the long
    set. Jaccard over the hashed sets equals Jaccard over the string
    sets up to xxhash64 collisions (P ≈ |set|²/2⁶⁵ per doc — vanishing),
    and the verify join shuffles 8-byte longs instead of shingle strings
    (~3× smaller candidate payload, same at 100 TB)."""
    from kwwhat_spark.functions.text import let_, md5_52, minhash_from_hashed

    if replayable_hash:
        shingle_hash = md5_52
        combine_hash = lambda c: md5_52(c)  # noqa: E731
    else:
        shingle_hash = F.xxhash64
        combine_hash = F.xxhash64

    shingled = _hashed_shingles(df, id_col, text_col, k, shingle_hash)
    shingled = keep(shingled.persist(StorageLevel.MEMORY_AND_DISK))

    # Band rows carry (doc_id, band_idx, band_hash) ONLY — the shingle
    # arrays never enter the 8×-exploded shuffle. At 100 TB the bucket
    # join moves a few long columns; document payloads are fetched by the
    # verification join below, for colliding candidates only. (On a real
    # cluster, persist/checkpoint `shingled` to avoid recomputing the
    # signature scan on each side of the self-join.) The signature stays
    # in the per-doc ARRAY form (minhash_from_hashed) rather than the
    # explode + groupBy-min shape components uses: the arrays are
    # already persisted for verification, and at bench scale the extra
    # groupBy shuffle costs more than the in-row pass (r10 A/B: 1.49 s
    # vs 1.05 s hot for the banding stage).
    rows = num_hashes // bands

    def band_hashes(sig: Column) -> Column:
        return F.array(
            *[
                combine_hash(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(sig, i + 1)
                            for i in range(b * rows, (b + 1) * rows)
                        ],
                    )
                )
                for b in range(bands)
            ]
        )

    if replayable_hash:
        # md5_52 family stays a pure expression (the DuckDB oracles
        # replay the identical SQL-expressible integers), with the
        # signature let_-bound INSIDE one select — an aliased column
        # would be CollapseProject-inlined into all 8 band references
        # and recomputed per band.
        banded = shingled.select(
            "doc_id",
            F.posexplode(
                let_(
                    minhash_from_hashed(
                        F.col("shingles"), num_hashes, replayable=True
                    ),
                    band_hashes,
                )
            ).alias("band_idx", "band_hash"),
        )
    else:
        # Production xxhash64 signature runs vectorized in numpy via
        # mapInPandas (_xxh64_sig_fn): the expression form's 32
        # interpreted-HOF passes per doc were the largest single stage
        # of this operator (r12 stage floor: sig ≈ 0.46 s of the 1.13 s
        # sf0.1 wall). Bit-exact vs F.xxhash64 (validated + pinned by
        # tests/test_llm_ops.py parity), so candidates and verified
        # pairs are unchanged.
        sig_src = _xxh64_sig_df(shingled, num_hashes)
        # sig is materialized by the Python node (CollapseProject cannot
        # inline through MapInPandas), so the 8 band references read the
        # computed array, not 8 recomputations.
        banded = sig_src.select(
            "doc_id",
            F.posexplode(let_(F.col("sig"), band_hashes)).alias(
                "band_idx", "band_hash"
            ),
        )
    # Persist the banded rows: the self-join below consumes `banded` on
    # BOTH sides, and without a cache each side recomputes the signature
    # (the mapInPandas node — CacheManager only reuses the `shingled`
    # cache underneath it; the committed r12 plan showed two MapInPandas
    # nodes). Banded rows are (doc_id, band_idx, band_hash) — bands×3
    # longs per doc, far narrower than the shingle cache that already
    # exists. Interleaved A/B (r12, quiet rig): sf0.1 0.99 → 0.80 s min,
    # sf1 4.08 → 3.77 s with visibly tighter spread (one signature pass
    # instead of two).
    banded = keep(banded.persist(StorageLevel.MEMORY_AND_DISK))
    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    verified = (
        candidates.join(
            shingled.select(
                F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
            ),
            "doc_a",
        )
        .join(
            shingled.select(
                F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
            ),
            "doc_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        verified.withColumn("jaccard", (inter / union).cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    replayable_hash: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs: 4×16-bit chunk blocking (pigeonhole-complete
    for hamming ≤ 3), verified by bit_count(xor). replayable_hash uses
    the 52-bit md5 token-hash family so the sketch replays in DuckDB
    (top chunk then carries 4 bits; pigeonhole completeness over 4
    chunks is unaffected).

    The production (xxhash64) simhash runs its 64 bit votes vectorized
    in numpy via mapInPandas over the JVM-computed token hashes
    (_simhash64_votes_fn — bit-identical to the expression form, 6× the
    stage at sf0.1); the replayable family stays a pure expression so
    the DuckDB oracle replays the identical SQL integers.

    `base` is persisted: the chunk self-join consumes it on BOTH sides,
    and without the cache each side recomputes the whole simhash stage
    (two MapInPandas nodes / two 52-pass md5 evaluations — the minhash
    banded-persist lesson, r12 change 7). The cached rows are two longs
    per doc. Same-window canary-gated A/B at sf0.1 (r13, min-of-5, full
    pairs op): expr-nopersist 2.40 s (r12 ship) -> numpy 0.72 ->
    numpy+persist 0.62; the replayable family alone gains 2.40 -> 2.09.

    Null and empty texts have no tokens, so both hash families give them
    simhash 0: every two such documents come out as a pair at hamming
    distance 0.  Filter them out first if they must not pair."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
    if replayable_hash:
        base = widen(df).select(
            F.col(id_col).alias("doc_id"),
            simhash64(toks, replayable=True).alias("simhash"),
        )
    else:
        from pyspark.sql import types as T

        hashed = widen(df).select(
            F.col(id_col).alias("doc_id"),
            F.transform(toks, lambda t: F.xxhash64(t)).alias("toks"),
        )
        base = hashed.mapInPandas(
            _simhash64_votes_fn(),
            schema=T.StructType(
                [
                    T.StructField("doc_id", hashed.schema["doc_id"].dataType),
                    T.StructField("simhash", T.LongType()),
                ]
            ),
        )
    base = keep(base.persist(StorageLevel.MEMORY_AND_DISK))

    chunks = base.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def _banded_from_hash_rows(
    ex: DataFrame,
    num_hashes: int,
    bands: int,
    combine_hash,
    replayable_hash: bool,
) -> DataFrame:
    """Signature + banding over exploded (doc_id, __s long) hash rows:
    min(slot_i) per doc via map-side-combinable groupBy, then the band
    hashes over the num_hashes min columns — every step whole-stage
    codegen, no higher-order-function lambdas."""
    from kwwhat_spark.functions.text import minhash_seed_pair, minhash_slot

    if num_hashes > 52:
        raise ValueError(
            f"minhash banding: num_hashes={num_hashes} > 52 would repeat "
            "rotation offsets (period-52 schedule) and duplicate signature "
            "slots, degrading band independence (see functions/text.py "
            "minhash_from_hashed guard)"
        )
    rows = num_hashes // bands
    h1, h2 = minhash_seed_pair(F.col("__s"), replayable_hash)
    hp = ex.select("doc_id", h1.alias("__h1"), h2.alias("__h2"))
    sig = hp.groupBy("doc_id").agg(
        *[
            F.min(minhash_slot(F.col("__h1"), F.col("__h2"), i)).alias(f"__m{i}")
            for i in range(num_hashes)
        ]
    )
    band_cols = [
        combine_hash(
            F.concat_ws(",", *[F.col(f"__m{i}") for i in range(b * rows, (b + 1) * rows)])
        )
        for b in range(bands)
    ]
    return sig.select(
        "doc_id",
        F.posexplode(F.array(*band_cols)).alias("band_idx", "band_hash"),
    )


def minhash_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    replayable_hash: bool = False,
) -> DataFrame:
    """(doc_id, band_idx, band_hash) — the shipped signature + banding
    plan of minhash_lsh_components.

    Signature via explode + codegen groupBy-min (r9): the array-lambda
    form ran the per-(shingle, seed) hash in the INTERPRETED expression
    evaluator — measured as 80% of the sf100 wall (BASELINE.md "Round 9
    (cont.): components-family floor" stage table: 418 s of 524 s at 5M
    docs). Exploding the shingles keeps every hash and the h1 XOR
    rot52(h2, k_i) double-hash family (minhash_slot) inside whole-stage
    codegen, and the groupBy(doc_id) min is map-side combinable — the
    shuffle carries ~|docs| × num_hashes longs, not the shingle stream."""
    from kwwhat_spark.functions.text import md5_52

    combine = md5_52 if replayable_hash else F.xxhash64
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(word_shingles(F.col(text_col), k))).alias("__raw"),
    ).select("doc_id", combine(F.col("__raw")).alias("__s"))
    return _banded_from_hash_rows(ex, num_hashes, bands, combine, replayable_hash)


def minhash_lsh_components(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    replayable_hash: bool = False,
) -> DataFrame:
    """Pair-free near-dup clustering: banded MinHash buckets → star edges
    (member → bucket minimum) → connected components. Returns
    (doc_id, component) for every input doc; singletons keep their own id.
    replayable_hash swaps xxhash64 for the DuckDB-replayable md5_52
    family so the bucket structure itself can sit under a value-hash
    oracle (see dedup_minhash_components_replayable).

    Why this exists: enumerating candidate PAIRS (minhash_lsh_pairs,
    ngram_jaccard_pairs) is quadratic in duplicate-cluster size. Measured
    fatally at sf10: a corpus where every doc has ~100 near-copies drove
    the candidate shuffle past 100 GB. Star edges make each bucket
    contribute |bucket| rows instead of |bucket|²/2, and within-bucket
    closure is unchanged — a star is a spanning tree of the bucket
    clique, so the edge sets have identical connected components
    (equality-tested against all-pairs closure in tests/test_llm_ops.py).
    This is the shape corpus-scale dedup pipelines actually run
    (SlimPajama, Lee et al. 2022 §4: bucket → union-find, no pair list).

    Contract vs minhash_lsh_pairs: no exact-Jaccard verification — bucket
    collisions merge directly, so the false-merge rate is set by
    bands/rows (8×4 default ≈ s-curve at J≈0.6), and one noisy collision
    can chain clusters. Use the verified pair path when pair precision
    matters and cluster sizes are bounded; use this when the corpus is
    huge or duplication is heavy."""
    from kwwhat_spark.operators.graph import star_components
    from pyspark.sql import Window

    df = widen(df)
    banded = minhash_banded(
        df, id_col, text_col, k, num_hashes, bands, replayable_hash
    )
    # One shuffle on (band_idx, band_hash); the window min never
    # materializes a bucket cross product.
    w = Window.partitionBy("band_idx", "band_hash")
    edges = (
        banded.withColumn("root", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("root"))
        .select("doc_id", "root")
    )
    # Star edges → root-graph contraction before the iterative closure
    # (star_components docstring): the pointer-jumping rounds run on
    # |roots| nodes, not |docs|. No dropDuplicates here — the
    # contraction's collect_set dedups (band_idx, band_hash) repeats
    # map-side, saving one full shuffle of the banded set.
    comps = star_components(edges, "doc_id", "root")
    docs = df.select(F.col(id_col).alias("node"))
    return docs.join(comps, "node", "left").select(
        F.col("node").alias("doc_id"),
        F.coalesce("component", "node").alias("component"),
    )


def _sig_bands(
    sig: Column, num_hashes: int, bands: int, replayable: bool = False
) -> Column:
    """Banded LSH keys of a MinHash signature: hash of each band's
    comma-joined components (same formula as minhash_lsh_pairs);
    replayable=True uses md5_52 instead of xxhash64."""
    from kwwhat_spark.functions.text import md5_52

    combine = md5_52 if replayable else F.xxhash64
    rows = num_hashes // bands
    return F.array(
        *[
            combine(
                F.concat_ws(
                    ",",
                    *[F.element_at(sig, i + 1) for i in range(b * rows, (b + 1) * rows)],
                )
            )
            for b in range(bands)
        ]
    )


def minhash_dedup_plan(
    batch: DataFrame,
    store,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    name: str = "minhash_index",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
):
    """Two-phase form of incremental_minhash_dedup for exactly-once
    streaming sinks: returns `(survivors, commit)` where `survivors` is
    materialized (localCheckpoint) against the CURRENT index state and
    `commit(batch_id=None)` merges the survivors' bands + signatures.
    Archive matches with the SAME doc_id are excluded from the dup
    verdict — an archived copy of a doc's own id only occurs when a
    crashed run already merged this batch's index rows, so the
    exclusion makes a replayed batch reproduce its original survivor
    set instead of dropping every doc as a duplicate of itself.
    """
    # The stored signature rides the SAME hashed-shingle stage and numpy
    # signature as minhash_lsh_pairs below (r13): the old expression form
    # re-shingled the batch and ran num_hashes interpreted-HOF passes per
    # doc for values the pairs operator was already computing — identical
    # longs either way (hash-then-distinct vs distinct-then-hash yields
    # the same value set, so the same per-seed minimum; numpy≡expression
    # pinned by tests/test_llm_ops.py parity). Because _hashed_shingles
    # builds a structurally identical plan, the CacheManager serves this
    # scan from the pairs operator's persisted shingle stage — one
    # shingle pass and one signature pass per batch instead of two.
    sigd = keep(
        _xxh64_sig_df(
            _hashed_shingles(batch, id_col, text_col, k, F.xxhash64), num_hashes
        )
        .select(F.col("doc_id").alias(id_col), F.col("sig").alias("__sig"))
        .persist()
    )

    # In-batch near-dup: drop any doc with a smaller-id verified pair.
    pairs = minhash_lsh_pairs(
        batch, id_col, text_col, k=k, num_hashes=num_hashes, bands=bands,
        threshold=threshold,
    )
    in_batch_losers = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    survivors = sigd.join(in_batch_losers, id_col, "left_anti")

    bands_df = survivors.select(
        id_col,
        "__sig",
        F.posexplode(_sig_bands(F.col("__sig"), num_hashes, bands)).alias(
            "band_idx", "band_hash"
        ),
    )
    arch_bands = store.read(f"{name}_bands")
    arch_sigs = store.read(f"{name}_sigs")
    if arch_bands is not None and arch_sigs is not None:
        cand = (
            bands_df.join(
                arch_bands.select(
                    "band_idx", "band_hash", F.col("doc_id").alias("__arch_id")
                ),
                ["band_idx", "band_hash"],
            )
            .filter(F.col("__arch_id") != F.col(id_col))
            .select(id_col, "__arch_id")
            .distinct()
            .join(
                arch_sigs.select(
                    F.col("doc_id").alias("__arch_id"), F.col("sig").alias("__arch_sig")
                ),
                "__arch_id",
            )
            .join(survivors.select(id_col, "__sig"), id_col)
        )
        est = F.size(
            F.filter(
                F.zip_with(F.col("__sig"), F.col("__arch_sig"), lambda x, y: x == y),
                lambda v: v,
            )
        ) / F.lit(float(num_hashes))
        dup_vs_archive = (
            cand.filter(est >= threshold).select(id_col).distinct()
        )
        fresh = survivors.join(dup_vs_archive, id_col, "left_anti")
    else:
        fresh = survivors

    fresh = keep(fresh.persist())
    # Materialize the survivor verdicts BEFORE any index merge: the
    # returned rows are pinned to this batch's pre-merge state no matter
    # when (or whether) the caller consumes them relative to commit().
    result = keep(
        batch.join(fresh.select(id_col), id_col, "left_semi").localCheckpoint(eager=True)
    )

    def commit(batch_id: int | None = None) -> None:
        store.merge(
            f"{name}_bands",
            fresh.select(
                F.col(id_col).alias("doc_id"),
                F.posexplode(_sig_bands(F.col("__sig"), num_hashes, bands)).alias(
                    "band_idx", "band_hash"
                ),
            ).select("band_idx", "band_hash", "doc_id"),
            ["band_idx", "band_hash", "doc_id"],
            batch_id=batch_id,
        )
        store.merge(
            f"{name}_sigs",
            fresh.select(F.col(id_col).alias("doc_id"), F.col("__sig").alias("sig")),
            ["doc_id"],
            batch_id=batch_id,
        )
        # Release the cached stages so a long-running stream
        # (foreachBatch per micro-batch) does not accumulate one pinned
        # RDD pair per batch.
        sigd.unpersist()
        fresh.unpersist()

    return result, commit


def incremental_minhash_dedup(
    batch: DataFrame,
    store,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    name: str = "minhash_index",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Archive-scale NEAR-duplicate dedup across batches: the persistent
    index holds each kept document's banded MinHash keys and signature —
    never the text — so its size is O(kept docs), not O(corpus bytes).
    The companion to incremental_exact_dedup for the fuzzy half.

    A new batch is first deduped internally (exact-Jaccard-verified
    pairs from minhash_lsh_pairs; a doc with a smaller-id near-dup in
    the same batch is dropped). Survivors probe the archive's band
    buckets; colliding (new, archived) candidates are verified by
    SIGNATURE-estimated Jaccard (matching minhash components /
    num_hashes ≥ threshold) — the standard at-scale approximation,
    since re-verifying against archive shingle sets would require
    storing the archive text. Fresh survivors' bands+signatures are
    merged into the store.

    Scale: the band probe is an equi-join on (band_idx, band_hash) —
    hash-partitioned, no document payloads; signatures are fixed
    256 bytes/doc. State grows linearly in kept docs and is pruned the
    same way the exact index is (re-write the store to expire cohorts).
    """
    result, commit = minhash_dedup_plan(
        batch, store, id_col, text_col, name=name, k=k,
        num_hashes=num_hashes, bands=bands, threshold=threshold,
    )
    commit()
    return result
