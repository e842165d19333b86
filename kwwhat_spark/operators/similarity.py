"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: exact baseline. The dot products are
  F.zip_with + F.aggregate expressions (JVM, codegen) — the cross join is
  the cost; use only for small query sets or validation samples.
- LSH (random hyperplanes): sign-bit bucket join — the scale path. Query
  and corpus shuffle only on bucket keys; hyperplanes are deterministic
  literals (seeded), so the plan is reproducible across runs/engines.
- IVF-style coarse quantization: cells from a deterministic sample of
  corpus vectors as centroids; probe the nearest cells only.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kwwhat_spark.operators.cachescope import keep
from kwwhat_spark.operators.scaling import widen


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return (dot(a, b) / (l2_norm(a) * l2_norm(b))).cast("double")


# Measured dead end (recorded so it is not retried): unrolling dot() to
# dim explicit element_at terms to "stay in codegen" is 2.5-9× SLOWER
# than the aggregate/zip_with lambda at dim=64 (pair stage of semdedup:
# 12.3s lambda vs 31.5s unrolled; with the K-wide assignment projection
# also unrolled, 109s — generated-method blowup past the JIT limit).
# Spark 4's higher-order functions evaluate arrays as a primitive loop;
# per-element element_at chains re-check bounds/null per term and
# produce enormous codegen methods. Keep vector math in lambda form.


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query, Arrow/BLAS path (the knn_graph
    pattern): the query set is collected and broadcast (this operator's
    contract is a SMALL query side — for query sets beyond broadcast
    range use knn_graph, LSH, or IVF), the corpus streams through
    mapInPandas where each Arrow batch computes one (batch × Q) matmul
    and emits only its batch-local top-k per query; a final window over
    the ~(partitions · Q · k) survivors ranks globally.

    Exactness: similarities are rounded HALF_UP to 6 decimals (matching
    Spark round() and DuckDB) and ranked by the total order
    (sim desc, corpus_id asc); a row outside a batch's local top-k has
    k better-ordered rows in that batch alone, so it can never enter the
    global top-k — the partial/merge split loses nothing.

    Scale: no cross-join materialization, no wide shuffle — the only
    shuffled rows are the per-batch survivors. Unlike the old
    expression-tree form, the corpus is NOT widen()ed: the per-row BLAS
    cost is small, so input-sized partitions are right and a compute
    repartition only adds a shuffle + per-task Python overhead
    (measured 2-8× slower with widen at sf1).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window as W
    from pyspark.sql import types as T

    # Driver-OOM guard: the contract is a SMALL query side. The guard is
    # folded into the collect itself — limit(max+1) bounds the pulled
    # rows exactly like the old count()-then-collect (the driver never
    # holds more than max_query_rows+1 rows either way) while running
    # ONE job on the query subtree instead of two. Measured r12 (sf0.1,
    # hot, min of 5): count+collect 0.30 s vs limited collect 0.13 s per
    # invocation — pure driver/job-launch overhead removed from every
    # brute-force/fullprobe call.
    max_query_rows = 2_000_000
    qrows = queries.select(query_id, vec_col).limit(max_query_rows + 1).collect()
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"brute_force_topk query side exceeds {max_query_rows} rows; "
            "this operator broadcasts the query set — use knn_graph "
            "(corpus-sharded), lsh_topk, or ivf_topk for large query sets"
        )
    if not qrows:
        empty = corpus.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    queries.schema[query_id],
                    corpus.schema[corpus_id],
                    T.StructField("cosine_sim", T.DoubleType()),
                    T.StructField("rank", T.IntegerType()),
                ]
            ),
        )
        return empty
    q_ids = [r[query_id] for r in qrows]
    q_mat = np.array([r[vec_col] for r in qrows], dtype=np.float64)
    q_norms = np.linalg.norm(q_mat, axis=1)
    q_norms[q_norms == 0.0] = 1.0
    bc = keep(corpus.sparkSession.sparkContext.broadcast((q_ids, q_mat, q_norms)))

    part_schema = T.StructType(
        [
            queries.schema[query_id],
            corpus.schema[corpus_id],
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )
    qf, cf = part_schema[0].name, part_schema[1].name

    def local_topk(batches):
        ids, mat, norms = bc.value
        nq = len(ids)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cvecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cids = pdf[corpus_id].to_numpy()
            cnorms = np.linalg.norm(cvecs, axis=1)
            # Zero-norm corpus rows: sim defined as 0.0 (matches the
            # query-side convention above), not NaN silently sorted last.
            cnorms[cnorms == 0.0] = 1.0
            sims = _round6_half_up(
                (cvecs @ mat.T) / (cnorms[:, None] * norms[None, :])
            )
            out_q, out_c, out_s = [], [], []
            for j in range(nq):
                order = np.lexsort((cids, -sims[:, j]))[:k]
                out_q.extend([ids[j]] * len(order))
                out_c.extend(cids[order])
                out_s.extend(sims[order, j])
            yield pd.DataFrame({qf: out_q, cf: out_c, "cosine_sim": out_s})

    survivors = corpus.select(corpus_id, vec_col).mapInPandas(
        local_topk, schema=part_schema
    )
    w = W.partitionBy(qf).orderBy(F.col("cosine_sim").desc(), F.col(cf).asc())
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qf, cf, "cosine_sim", "rank")
    )


# One sims row-block of all_pairs_cosine holds this many float64s
# (block_rows = this // corpus_rows) — 4M doubles = 32 MB. Module-level
# so the parity test can shrink it to force the multi-block path.
_ALL_PAIRS_BLOCK_DOUBLES = 4 << 20


def all_pairs_cosine(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    *,
    keep_sim: bool = False,
    sim_col: str = "cosine_sim",
) -> DataFrame:
    """Exact all-pairs cosine pairs (id_a < id_b, round(sim,6) >=
    threshold) via ONE corpus scan against the broadcast matrix — the
    brute_force_topk Arrow/BLAS pattern applied to the self-join shape.

    The expression form (a JOIN b ON id_a < id_b + the aggregate/
    zip_with cosine) evaluates three interpreted HOF passes per PAIR —
    O(n²·d) interpreted work that dominated semantic_dedup (r13 profile:
    1.65 s of the 2.6 s sf0.01 entry; 12.3 s pair stage at sf0.1, the
    recorded r9 31× pathology). Here each Arrow batch computes one
    (batch × n) BLAS matmul and emits only surviving pairs; no join, no
    shuffle, no pair materialization.

    Exactness (the brute_force_topk contract): similarities are rounded
    HALF_UP to 6 decimals (_round6_half_up — matches Spark round() and
    DuckDB) BEFORE the threshold compare, so the survivor set equals the
    expression form's except on measure-zero rounding boundaries;
    numpy-vs-expression parity is pinned by
    tests/test_llm_ops.py::test_all_pairs_cosine_matches_expression at
    threshold 0 (every pair's rounded sim compared, not just
    survivors). Zero-norm vectors: the expression form propagates
    NaN through Spark's NaN-greatest ordering (NaN >= t is TRUE); this
    path defines sim over zero norms as 0/0 = NaN and EXCLUDES it —
    divergent only for zero-norm inputs, which the embeddings testdata
    provably lacks (r13: zero zero-norm rows at every SF) and the
    docstring contract forbids. Null vectors are excluded on both
    sides, like the expression form, whose null sim fails every
    threshold compare. Ragged vectors: a pair of unequal length has a
    null similarity in the expression form (zip_with pads the shorter
    array with nulls), so it never survives here either; only vectors
    of equal length are compared.

    Like brute_force_topk the corpus must fit the driver/broadcast
    (bounded collect guard); the all-pairs O(n²) output contract already
    implies a bounded corpus — the scale paths are cosine_near_dup_pairs
    / knn_graph.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    block_doubles = _ALL_PAIRS_BLOCK_DOUBLES
    max_rows = 2_000_000
    vecs = df.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
    rows = vecs.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"all_pairs_cosine corpus exceeds {max_rows} rows; this "
            "operator broadcasts the corpus matrix — use "
            "cosine_near_dup_pairs (LSH-blocked) or knn_graph at scale"
        )
    out_fields = [
        T.StructField("id_a", df.schema[id_col].dataType),
        T.StructField("id_b", df.schema[id_col].dataType),
    ]
    if keep_sim:
        out_fields.append(T.StructField(sim_col, T.DoubleType()))
    schema = T.StructType(out_fields)
    if not rows:
        return df.sparkSession.createDataFrame([], schema)
    # One (ids, matrix, norms) per vector length: only equal-length
    # vectors pair (see the docstring).
    by_len: dict[int, list] = {}
    for r in rows:
        by_len.setdefault(len(r[1]), []).append(r)
    corpus = {}
    for d, grp in by_len.items():
        mat = np.array([r[1] for r in grp], dtype=np.float64)
        corpus[d] = (np.array([r[0] for r in grp]), mat, np.linalg.norm(mat, axis=1))
    bc = keep(df.sparkSession.sparkContext.broadcast(corpus))

    def pairs(batches):
        for pdf in batches:
            lens = pdf[vec_col].map(len)
            for d in lens.unique():
                if d in bc.value:
                    yield from pairs_of_length(pdf[lens == d], *bc.value[d])

    def pairs_of_length(pdf, ids_b, m, n):
        ncorp = len(ids_b)
        # Row-block each Arrow batch so one sims block stays ~32 MB
        # (block × ncorp float64) no matter the corpus size — the
        # semdedup batch_rows lesson; without it per-batch memory is
        # O(batch × ncorp) and a corpus near the guard bound would OOM
        # the worker. At test scales block ≥ the whole batch (no-op).
        block = max(1, block_doubles // max(1, ncorp))
        avecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        aids = pdf[id_col].to_numpy()
        an = np.linalg.norm(avecs, axis=1)
        for lo in range(0, len(aids), block):
            hi = min(lo + block, len(aids))
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = _round6_half_up(
                    (avecs[lo:hi] @ m.T) / (an[lo:hi, None] * n[None, :])
                )
            keep = (sims >= threshold) & (aids[lo:hi, None] < ids_b[None, :])
            ai, bi = np.nonzero(keep)
            cols = {"id_a": aids[lo:hi][ai], "id_b": ids_b[bi]}
            if keep_sim:
                cols[sim_col] = sims[ai, bi]
            yield pd.DataFrame(cols)

    return vecs.mapInPandas(pairs, schema=schema)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature as a bigint bucket id."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(x) for x in plane])
        sign = F.when(dot(vec, lit_plane) >= 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket.bitwiseOR(sign)
    return bucket


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket; exact cosine
    re-rank within the bucket. Recall grows with multi-probe (n_planes↓)
    or multiple tables (seed sweep union)."""
    from pyspark.sql import Window as W

    planes = _hyperplanes(dim, n_planes, seed)
    corpus = widen(corpus)
    q = queries.select(
        F.col(query_id),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_norm"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    c = corpus.select(
        F.col(corpus_id),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_norm"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    scored = q.join(c, "bucket").select(
        query_id,
        corpus_id,
        F.round(
            (dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm")))
            .cast("double"),
            6,
        ).alias("cosine_sim"),
    )
    w = W.partitionBy(query_id).orderBy(F.col("cosine_sim").desc(), F.col(corpus_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine_sim", "rank")
    )


def train_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    *,
    seed: int = 42,
    max_iter: int = 20,
) -> list[list[float]]:
    """Train k-means centroids with MLlib for IVF cell assignment —
    the quality upgrade over hash-sampled centroids (trained cells are
    balanced and aligned with the data distribution, so fewer probes
    reach the same recall). Deterministic under a fixed seed.

    Scale: KMeans|| training is a handful of passes over the vectors;
    at 100 TB train on a hash_sample() of the corpus (centroids
    converge on samples) and broadcast the k×dim result, exactly as the
    literal-embedding in ivf_topk already does.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feats)
    return [c.tolist() for c in model.clusterCenters()]


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    centroid_vecs: list[list[float]] | None = None,
    replayable_hash: bool = False,
    block_salt: int | None = None,
    float32_shuffle: bool = False,
    broadcast_queries: bool = False,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus into
    `n_cells` cells (centroids = a deterministic hash-ordered sample of
    corpus vectors), probe each query's `n_probe` nearest cells, exact
    cosine re-rank inside the probed cells. replayable_hash orders the
    centroid sample by md5_52(id) (with id tiebreak) so an external
    engine can reproduce the exact cell structure (see
    similarity_ivf_multiprobe_replayable).

    Scale shape (rewritten r9 after the sf100 sweep measured the
    expression-lambda path at 31× DuckDB on 40M pairs): all three dense
    stages run on the Arrow/BLAS path — Catalyst does NOT codegen
    higher-order functions, so F.aggregate/zip_with dot products execute
    interpreted per element (the same dead end semdedup hit; its note
    measured 5-8×, the 2M-vector fullprobe measured 31×).

    1. Assignment — mapInPandas against the broadcast centroid matrix
       (one rows×K matmul per Arrow batch; narrow, no shuffle).
    2. Probe selection — same BLAS pass over the queries, n_probe cells
       per query by (sim desc, cell desc).
    3. Re-rank — ONE hash shuffle on cell id, then a cogrouped
       applyInPandas (corpus cell × that cell's probing queries): block
       matmul, per-cell top-k candidates (k rows per probing query), so
       the final global window ranks only ~n_probe·k rows per query.

    Similarities are rounded HALF_UP to 6 decimals before EVERY
    comparison (assignment, probe order, re-rank — and the oracle
    rounds identically), so cell structure and ranking are bit-stable
    cross-engine; BLAS-vs-fold accumulation differences die in the
    rounding except on measure-zero boundaries (semdedup's contract).
    n_probe = n_cells degenerates to exact brute force (useful as the
    correctness oracle). Queries ride a shuffle keyed by cell — query
    count never lands on the driver.

    block_salt sub-partitions each cell for the re-rank cogroup: the
    corpus side is salted by hash(corpus_id) % S and each probe row is
    replicated S× so every (cell, salt) block still sees all its
    probing queries. Without it, re-rank parallelism is capped at
    n_cells (measured: the 8-cell exact gate ran 8 tasks on 32 cores —
    9.2 s vs 6.5 s for the same work at 64 cells), and a hot skewed
    cell becomes one straggler task — IVF cells are never balanced, so
    this is the applyInPandas analogue of AQE skew-split. Exactness is
    unchanged: any global top-k member of a cell is top-k within its
    own block, and the final window re-ranks the union. Default: scale
    S so n_cells·S covers the cluster's default parallelism; pass 1 to
    disable.

    float32_shuffle ships __vec/__qvec through the re-rank shuffle as
    float32 (half the dominant shuffle bytes). ONLY exact when the
    caller's doubles are float32-representable — true for all the
    embeddings-table entries (the parquet column IS float32; the load
    casts to double losslessly, and downcast→upcast is the identity on
    float32-exact values). Norms and all arithmetic stay float64.

    broadcast_queries (opt-in) is the broadcast-join analogue for ANN:
    when the probing batch is small (ad-hoc search, a gate's 20-query
    panel — NOT a full kNN-graph build), the cell shuffle moves the
    entire corpus (vector-width × corpus rows; ~2 GB at sf100) to
    answer questions a single corpus scan can already answer. This path
    collects the probe rows (query vector + probed cells, bounded,
    guarded), broadcasts them, and fuses assignment + re-rank into ONE
    narrow mapInPandas pass over the corpus: per Arrow batch, assign
    cells, mask each query's non-probed rows, per-batch top-k; the
    global window then ranks ≤ k·batches candidates per query. Zero
    corpus shuffle — the plan a 1000-executor cluster wants for a
    small query batch against a decade-scale corpus. Exactness:
    identical rounded math; any global top-k member is top-k within
    its scan batch (the block_salt argument, with Arrow batches as the
    blocks).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window as W
    from pyspark.sql import types as T

    if float32_shuffle:
        # Downcast BEFORE widen: the repair repartition and the Arrow
        # feed into assignment then move half the bytes. Exact under
        # the flag's contract (values are float32-representable); all
        # math still runs float64 after the numpy upcast. Norms are
        # computed on an explicit double cast so the fold matches the
        # oracle's double arithmetic.
        corpus = corpus.withColumn(vec_col, F.col(vec_col).cast("array<float>"))
        queries = queries.withColumn(vec_col, F.col(vec_col).cast("array<float>"))
    if broadcast_queries and n_probe >= n_cells:
        # n_probe ≥ n_cells makes the probe structure a CONSTANT: every
        # query probes every cell whatever the centroids are, so the
        # centroid sample (a full corpus scan: orderBy(hash).limit —
        # ~1 s of the 3.5 s sf100 wall) and the probe job constant-fold
        # away and the operator IS exact brute force — which is this
        # degenerate regime's own documented semantics. Delegate to the
        # one tested scan implementation rather than duplicating it.
        # Non-degenerate probing (cell structure load-bearing) keeps
        # its value-hash gate via similarity_ivf_multiprobe_replayable
        # and the scan≡cogroup partial-probe parity test.
        return brute_force_topk(queries, corpus, query_id, corpus_id, vec_col, k)

    # widen() is a repartition — right for the cogroup path (the shuffle
    # is paid anyway and assignment wants full parallelism), WRONG for
    # the broadcast scan path, whose whole point is zero corpus movement:
    # brute_force_topk's docstring records the same lesson (widen 2-8×
    # slower for a BLAS-light scan). The scan branch reads the pre-widen
    # frame; the widened frame still feeds centroid sampling and the
    # cogroup machinery (identical values, so identical centroids).
    corpus_prewiden = corpus
    corpus = widen(corpus)
    c = corpus.select(
        F.col(corpus_id),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col).cast("array<double>")).alias("c_norm"),
    )
    if centroid_vecs is not None:
        # Caller-provided (e.g. train_centroids' k-means) — norms in Python.
        import math

        centroids = [
            (vec, math.sqrt(sum(x * x for x in vec)) or 1.0) for vec in centroid_vecs
        ]
    else:
        # Deterministic centroid sample: first n_cells corpus vectors in
        # hash(id) order (at 100 TB: sample() + takeOrdered instead).
        if replayable_hash:
            from kwwhat_spark.functions.text import md5_52

            order = [md5_52(F.col(corpus_id).cast("string")), F.col(corpus_id)]
        else:
            order = [F.xxhash64(F.col(corpus_id).cast("string"))]
        centroids = [
            (row["c_vec"], float(row["c_norm"]))
            for row in c.orderBy(*order).limit(n_cells).collect()
        ]

    n_cells_eff = len(centroids)
    cent_mat = np.array([list(vec) for vec, _ in centroids], dtype=np.float64)
    cent_norms = np.array([n for _, n in centroids], dtype=np.float64)
    sc = queries.sparkSession.sparkContext
    bc = keep(sc.broadcast((cent_mat, cent_norms)))
    if block_salt is None:
        dp = sc.defaultParallelism
        n_salt = max(1, min(16, -(-dp // max(n_cells_eff, 1))))
    else:
        n_salt = max(1, block_salt)
    vec_np = np.float32 if float32_shuffle else np.float64
    vec_spark = T.FloatType() if float32_shuffle else T.DoubleType()

    def _cell_sims(vecs: "np.ndarray") -> "np.ndarray":
        m, nn = bc.value
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0.0] = 1.0
        with np.errstate(divide="ignore", invalid="ignore"):
            return _round6_half_up((vecs @ m.T) / (norms[:, None] * nn[None, :]))

    qid_field = queries.schema[query_id]
    cid_field = corpus.schema[corpus_id]
    assign_schema = T.StructType(
        [
            cid_field,
            T.StructField("__vec", T.ArrayType(vec_spark)),
            T.StructField("__norm", T.DoubleType()),
            T.StructField("cell", T.IntegerType()),
        ]
    )

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack(pdf["c_vec"].to_numpy()).astype(np.float64)
            sims = _cell_sims(vecs)
            # (sim desc, cell desc): argmax keeps the FIRST max, so a
            # column-reversed argmax breaks ties toward the larger cell
            # — the struct-greatest semantics the oracle replays.
            cell = n_cells_eff - 1 - np.argmax(sims[:, ::-1], axis=1)
            yield pd.DataFrame(
                {
                    corpus_id: pdf[corpus_id],
                    "__vec": list(vecs.astype(vec_np)),
                    "__norm": np.linalg.norm(vecs, axis=1),
                    "cell": cell.astype(np.int32),
                }
            )

    assigned = c.select(corpus_id, "c_vec").mapInPandas(assign, schema=assign_schema)

    probe_schema = T.StructType(
        [
            qid_field,
            T.StructField("__qvec", T.ArrayType(vec_spark)),
            T.StructField("__qnorm", T.DoubleType()),
            T.StructField("cell", T.IntegerType()),
        ]
    )

    def probe(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack(pdf["q_vec"].to_numpy()).astype(np.float64)
            sims = _cell_sims(vecs)
            norms = np.linalg.norm(vecs, axis=1)
            ids, qv, qn, cells = [], [], [], []
            for r in range(len(pdf)):
                order = sorted(
                    range(n_cells_eff), key=lambda i: (-sims[r, i], -i)
                )[:n_probe]
                for cl in order:
                    ids.append(pdf[query_id].iloc[r])
                    qv.append(vecs[r].astype(vec_np))
                    qn.append(norms[r])
                    cells.append(cl)
            yield pd.DataFrame(
                {query_id: ids, "__qvec": qv, "__qnorm": qn,
                 "cell": np.array(cells, dtype=np.int32)}
            )

    q = queries.select(query_id, F.col(vec_col).alias("q_vec"))
    probes = q.mapInPandas(probe, schema=probe_schema)

    out_schema = T.StructType(
        [qid_field, cid_field, T.StructField("cosine_sim", T.DoubleType())]
    )

    def rerank(key, cdf, qdf):
        if len(cdf) == 0 or len(qdf) == 0:
            return pd.DataFrame({f.name: [] for f in out_schema.fields})
        cmat = np.stack(cdf["__vec"].to_numpy()).astype(np.float64)
        cn = cdf["__norm"].to_numpy().copy()
        cn[cn == 0.0] = 1.0
        qmat = np.stack(qdf["__qvec"].to_numpy()).astype(np.float64)
        qn = qdf["__qnorm"].to_numpy().copy()
        qn[qn == 0.0] = 1.0
        sims = _round6_half_up((qmat @ cmat.T) / (qn[:, None] * cn[None, :]))
        cids = cdf[corpus_id].to_numpy()
        out_q, out_c, out_s = [], [], []
        kk = min(k, sims.shape[1])
        for r in range(sims.shape[0]):
            row = sims[r]
            # top-k by (sim desc, corpus_id asc): lexsort primary=-sim,
            # secondary=corpus_id; bounded candidates per probing query
            idx = np.lexsort((cids, -row))[:kk]
            out_q.extend([qdf[query_id].iloc[r]] * len(idx))
            out_c.extend(cids[idx])
            out_s.extend(row[idx])
        return pd.DataFrame(
            {out_schema.fields[0].name: out_q,
             out_schema.fields[1].name: out_c,
             "cosine_sim": out_s}
        )

    if broadcast_queries:
        probe_rows = probes.collect()
        if len(probe_rows) > 100_000:
            raise ValueError(
                f"broadcast_queries collected {len(probe_rows)} probe rows; "
                "the path is for small query batches — use the cogroup "
                "shuffle path (broadcast_queries=False) for bulk probing"
            )
        by_q: dict = {}
        for r in probe_rows:
            e = by_q.setdefault(
                r[query_id],
                [np.asarray(r["__qvec"], dtype=np.float64), r["__qnorm"], set()],
            )
            e[2].add(r["cell"])
        q_ids = list(by_q)
        qmat = np.stack([by_q[i][0] for i in q_ids]) if q_ids else np.zeros((0, 1))
        qnorms = np.array([by_q[i][1] for i in q_ids], dtype=np.float64)
        qnorms[qnorms == 0.0] = 1.0
        probe_mask = np.zeros((len(q_ids), n_cells_eff), dtype=bool)
        for r_i, qid_val in enumerate(q_ids):
            for cl in by_q[qid_val][2]:
                probe_mask[r_i, cl] = True
        # All-true mask ⇒ cell assignment cannot change the output: every
        # corpus row is allowed for every query regardless of its cell.
        # Decide once on the driver and skip the per-batch centroid
        # matmul + argmax entirely (dead-work elimination for the
        # full-probe regime; assignment math stays value-hash-gated via
        # the cogroup path's multiprobe entry and the partial-probe
        # parity test).
        all_cells_probed = bool(probe_mask.all()) if len(q_ids) else False
        bq = keep(sc.broadcast((q_ids, qmat, qnorms, probe_mask, all_cells_probed)))

        def scan_rerank(batches):
            b_qids, b_qmat, b_qnorms, b_mask, b_full = bq.value
            for pdf in batches:
                if len(pdf) == 0 or not b_qids:
                    continue
                vecs = np.stack(pdf["c_vec"].to_numpy()).astype(np.float64)
                cn = np.linalg.norm(vecs, axis=1)
                cn[cn == 0.0] = 1.0
                sims = _round6_half_up(
                    (b_qmat @ vecs.T) / (b_qnorms[:, None] * cn[None, :])
                )
                if b_full:
                    allowed = np.ones((len(b_qids), len(vecs)), dtype=bool)
                else:
                    csims = _cell_sims(vecs)
                    cell = n_cells_eff - 1 - np.argmax(csims[:, ::-1], axis=1)
                    allowed = b_mask[:, cell]
                cids = pdf[corpus_id].to_numpy()
                out_q, out_c, out_s = [], [], []
                for r in range(len(b_qids)):
                    ok = np.nonzero(allowed[r])[0]
                    if ok.size == 0:
                        continue
                    row = sims[r]
                    sel = ok[np.lexsort((cids[ok], -row[ok]))[: min(k, ok.size)]]
                    out_q.extend([b_qids[r]] * len(sel))
                    out_c.extend(cids[sel])
                    out_s.extend(row[sel])
                yield pd.DataFrame(
                    {out_schema.fields[0].name: out_q,
                     out_schema.fields[1].name: out_c,
                     "cosine_sim": out_s}
                )

        candidates = corpus_prewiden.select(
            F.col(corpus_id), F.col(vec_col).alias("c_vec")
        ).mapInPandas(scan_rerank, schema=out_schema)
    else:
        if n_salt > 1:
            assigned = assigned.withColumn(
                "__salt",
                F.pmod(F.xxhash64(F.col(corpus_id).cast("string")), F.lit(n_salt))
                .cast("int"),
            )
            probes = probes.withColumn(
                "__salt",
                F.explode(F.array(*[F.lit(i) for i in range(n_salt)])),
            )
            group_keys = ["cell", "__salt"]
        else:
            group_keys = ["cell"]
        candidates = (
            assigned.groupBy(*group_keys)
            .cogroup(probes.groupBy(*group_keys))
            .applyInPandas(lambda key, c_, q_: rerank(key, c_, q_), schema=out_schema)
        )
    w = W.partitionBy(query_id).orderBy(F.col("cosine_sim").desc(), F.col(corpus_id).asc())
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine_sim", "rank")
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH blocking + exact
    verification (the embedding analogue of MinHash dedup)."""
    planes = _hyperplanes(dim, n_planes, seed)
    base = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        l2_norm(F.col(vec_col)).alias("norm"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    a = base.alias("a")
    b = base.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            F.round(
                (
                    dot(F.col("a.vec"), F.col("b.vec"))
                    / (F.col("a.norm") * F.col("b.norm"))
                ).cast("double"),
                6,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def quantize_int8(vec: Column) -> Column:
    """Struct(scale, q): symmetric per-vector int8 quantization —
    scale = max(|x|), q_i = floor(x_i/scale*127 + 0.5). 4× smaller than
    float32 at <0.5% cosine error for unit-norm embeddings; the
    downstream dot product rescales by scale_a*scale_b/127².

    floor(x+0.5) instead of round(): identical IEEE doubles in every
    engine (round() half-even vs half-up varies), so quantized codes
    are bit-exact cross-engine. Zero vectors quantize to all-zero.
    """
    v = F.transform(vec, lambda x: x.cast("double"))
    absmax = F.array_max(F.transform(v, F.abs))
    q = F.when(absmax == 0.0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(v, lambda x: F.floor(x / absmax * 127 + F.lit(0.5)).cast("int"))
    )
    return F.struct(absmax.alias("scale"), q.alias("q"))


def l2_normalize(vec: Column) -> Column:
    """Unit-normalize a vector (double elements); zero vectors pass
    through unchanged. Narrow per-row transform — no shuffle."""
    v = F.transform(vec, lambda x: x.cast("double"))
    n = l2_norm(v)
    return F.when(n == 0.0, v).otherwise(F.transform(v, lambda x: x / n))


def _round6_half_up(x):
    """numpy replica of Spark/DuckDB round(x, 6): HALF_UP (away from
    zero), quotient by the exactly-representable 1e6 — the same doubles
    as BigDecimal's decimal-then-nearest-double path for 6 places.

    Known boundary risk (distinct from BLAS accumulation order): Spark/
    DuckDB apply HALF_UP to the exact decimal expansion of the double
    via BigDecimal, while this formula applies it to |x|*1e6 computed in
    double arithmetic. When that product rounds ONTO an n+0.5 boundary
    whose true value lies just below it (or vice versa), the two paths
    pick adjacent 1e-6 steps, and a threshold compare (e.g. >= 0.95) on
    the boundary can flip a dup/contamination verdict by 1 ulp. In
    practice cosine sims land on exact x.xxxxxx5 boundaries with
    negligible probability; BASELINE.md records oracle-parity runs —
    re-record whenever a threshold changes.
    """
    import numpy as np

    return np.copysign(np.floor(np.abs(x) * 1e6 + 0.5) / 1e6, x)


def semdedup(
    df: DataFrame,
    centroid_vecs: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    threshold: float = 0.95,
    batch_rows: int = 4096,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings, then remove
    near-duplicates only WITHIN each cluster — the clustering bounds the
    quadratic pair search to ~N²/K instead of N².

    Both dense stages run on the Arrow/BLAS path (the knn_graph pattern;
    expression array-lambda math measured 5-8× slower here — see the
    dead-end note above and BASELINE.md):

    1. Assignment — mapInPandas against the broadcast centroid matrix:
       one (rows × K) matmul per Arrow batch, argmax of round(cos, 6)
       with ties to the smaller centroid id. Narrow; no shuffle.
    2. Pair search — applyInPandas per cluster after ONE hash shuffle on
       cluster_id: the within-cluster (n × n) cosine matrix in row
       blocks of `batch_rows`; a row is a duplicate iff some
       smaller-id row in its cluster reaches round(cos, 6) ≥ threshold.
       Emits (id, cluster_id, is_kept) directly — no join-back.

    Output: every input row with its cluster_id and an is_kept flag.

    Oracle fidelity: similarities are rounded HALF_UP to 6 decimals
    (matching Spark's round() and DuckDB's) before every comparison, so
    cluster choice and dup verdicts match the unrolled SQL oracle; BLAS
    accumulation order can differ from a sequential fold in the last
    ulp, which the 6-decimal rounding absorbs except on measure-zero
    boundary coincidences.

    Scale: centroids come from train_centroids() (MLlib k-means on a
    hash_sample) with K grown with N so clusters stay ~500 vectors; the
    only shuffle moves each vector once, keyed by cluster id. A skewed
    giant cluster is bounded by `batch_rows` blocking (memory stays
    O(batch_rows · cluster), not O(cluster²)).
    """
    import numpy as np
    from pyspark.sql import types as T

    if not centroid_vecs:
        raise ValueError("semdedup requires at least one centroid")
    order = sorted(range(len(centroid_vecs)), key=lambda i: centroid_vecs[i][0])
    cent_ids = np.array([int(centroid_vecs[i][0]) for i in order], dtype=np.int64)
    cent_mat = np.array([centroid_vecs[i][1] for i in order], dtype=np.float64)
    cent_norms = np.linalg.norm(cent_mat, axis=1)
    cent_norms[cent_norms == 0.0] = 1.0
    bc = keep(df.sparkSession.sparkContext.broadcast((cent_ids, cent_mat, cent_norms)))

    id_field = df.schema[id_col]
    assign_schema = T.StructType(
        [
            id_field,
            T.StructField("__vec", T.ArrayType(T.DoubleType())),
            T.StructField("cluster_id", T.IntegerType()),
        ]
    )
    out_schema = T.StructType(
        [
            id_field,
            T.StructField("cluster_id", T.IntegerType()),
            T.StructField("is_kept", T.BooleanType()),
        ]
    )

    def assign(batches):
        import pandas as pd

        c_ids, c_mat, c_norms = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(vecs, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = _round6_half_up(
                    (vecs @ c_mat.T) / (norms[:, None] * c_norms[None, :])
                )
            # centroids sorted by cid → argmax's first-max = smallest cid
            best = np.argmax(sims, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "__vec": list(vecs),
                    "cluster_id": c_ids[best].astype(np.int32),
                }
            )

    def dedup_cluster(pdf):
        import pandas as pd

        ids_raw = pdf[id_col].to_numpy()
        by_id = np.argsort(ids_raw, kind="stable")
        ids = ids_raw[by_id]
        vecs = np.stack(pdf["__vec"].to_numpy()[by_id]).astype(np.float64)
        norms = np.linalg.norm(vecs, axis=1)
        n = len(ids)
        is_dup = np.zeros(n, dtype=bool)
        for lo in range(0, n, batch_rows):
            hi = min(lo + batch_rows, n)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = _round6_half_up(
                    (vecs[lo:hi] @ vecs.T) / (norms[lo:hi, None] * norms[None, :])
                )
            smaller = ids[lo:hi, None] < ids[None, :]
            is_dup |= ((sims >= threshold) & smaller).any(axis=0)
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster_id": pdf["cluster_id"].to_numpy()[by_id],
                "is_kept": ~is_dup,
            }
        )

    assigned = df.select(id_col, vec_col).mapInPandas(assign, schema=assign_schema)
    return assigned.groupBy("cluster_id").applyInPandas(dedup_cluster, schema=out_schema)


_KNN_SCHEMA = "src_id long, dst_id long, cosine_sim double, rank int"


def _unit_rows(mat):
    """Rows of ``mat`` scaled to unit L2 norm; all-zero rows stay zero."""
    import numpy as np

    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    return mat / norms[:, None]


def _topk_edges(q_ids, q_mat, c_ids, c_unit, k: int):
    """The top-k kernel of knn_graph and knn_graph_blocked: for each
    query row, the k corpus rows of highest cosine similarity, ordered
    by (-sim, dst_id) with the self-edge skipped, as a (src_id, dst_id,
    cosine_sim, rank) frame. ``c_unit`` is the corpus through
    _unit_rows."""
    import numpy as np
    import pandas as pd

    sims = _unit_rows(q_mat) @ c_unit.T
    out = {"src_id": [], "dst_id": [], "cosine_sim": [], "rank": []}
    for i, qid in enumerate(q_ids):
        row = sims[i]
        taken = 0
        for j in np.lexsort((c_ids, -row)):
            if c_ids[j] == qid:
                continue
            taken += 1
            out["src_id"].append(qid)
            out["dst_id"].append(c_ids[j])
            out["cosine_sim"].append(row[j])
            out["rank"].append(taken)
            if taken == k:
                break
    return pd.DataFrame(out)


def knn_graph(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 5,
    batch_rows: int = 4096,
) -> DataFrame:
    """k-nearest-neighbor graph over an embedding column via the Arrow /
    numpy path: the L2-normalized corpus matrix is broadcast once, and
    each Arrow batch of rows computes its similarities against it with a
    BLAS matmul inside mapInPandas. This is the documented "Pandas UDF
    when expression math can't compete" escape hatch: an all-pairs
    similarity is O(N²·d) multiplications, and BLAS does them ~2 orders
    of magnitude faster than interpreted per-pair expressions (see the
    dead-end note above — expression vector math tops out well below
    hardware throughput).

    Output: (src_id, dst_id, cosine_sim float64, rank 1..k), excluding
    self-edges; ties broken by dst_id ascending. Results are float-exact
    per BLAS accumulation order, NOT bit-identical to the sequential
    fold of the expression path — hence a rows-only catalog entry with
    an agreement test (rounded similarities match the expression top-k)
    instead of a value-hash oracle.

    Scale: the broadcast corpus bounds this operator at ~executor-memory
    vectors (64-dim float64 ≈ 2 GB per 4M vectors); past that, switch to
    knn_graph_blocked (block matmul) or the IVF/LSH entries.
    The matmul is embarrassingly parallel across input partitions.
    """
    import numpy as np

    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    bc = keep(df.sparkSession.sparkContext.broadcast((ids, _unit_rows(mat))))

    def neighbors(batches):
        c_ids, c_unit = bc.value
        for pdf in batches:
            for lo in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[lo : lo + batch_rows]
                q = np.stack(chunk[vec_col].to_numpy()).astype(np.float64)
                yield _topk_edges(chunk[id_col].to_numpy(), q, c_ids, c_unit, k)

    return df.select(id_col, vec_col).mapInPandas(neighbors, _KNN_SCHEMA)


def knn_graph_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 5,
    n_shards: int = 4,
    n_query_blocks: int | None = None,
) -> DataFrame:
    """Executor-side block-matmul kNN (VERDICT r6 item 7): knn_graph
    beyond broadcast range, with no vector ever moving through the
    driver. Corpus rows are hashed into ``n_shards`` blocks, query rows
    into ``n_query_blocks`` blocks, each side is replicated across the
    other's block axis with a column-explode, and a cogrouped
    applyInPandas computes the (query-block × corpus-shard) BLAS matmul
    per task. Per-shard top-k partials merge into the global top-k with
    a window (the per-block top-k is a candidate superset of the global
    top-k, so the merge is lossless). It replaced a driver-staged
    variant (shard by shard collected and broadcast): 1.07 s vs 58.3 s
    at sf1 (BASELINE.md round 7).

    Cost shape: shuffle volume N·n_shards (queries) + N·n_query_blocks
    (corpus); task memory is one query block + one corpus shard. At 100 TB you size the two block
    counts so a block pair fits executor memory — the standard
    distributed block-matrix-multiply layout.

    Output schema and ordering semantics are identical to knn_graph
    (src_id, dst_id, cosine_sim, rank; self-edges excluded, ties by
    dst_id ascending); an agreement test pins the two paths together.
    """
    from pyspark.sql import Window as W

    if n_query_blocks is None:
        n_query_blocks = n_shards
    src = df.select(id_col, vec_col)
    shard_axis = F.array(*[F.lit(s) for s in range(n_shards)])
    qblock_axis = F.array(*[F.lit(b) for b in range(n_query_blocks)])
    queries = src.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_query_blocks)).alias("_qb"),
        F.explode(shard_axis).alias("_sh"),
    )
    corpus = src.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).alias("_sh"),
        F.explode(qblock_axis).alias("_qb"),
    )

    def block(left, right):
        import numpy as np
        import pandas as pd

        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                {"src_id": [], "dst_id": [], "cosine_sim": [], "rank": []}
            )
        c_ids = right["c_id"].to_numpy(dtype=np.int64)
        c_mat = np.stack(right["c_vec"].to_numpy()).astype(np.float64)
        q = np.stack(left["q_vec"].to_numpy()).astype(np.float64)
        return _topk_edges(left["q_id"].to_numpy(dtype=np.int64), q,
                           c_ids, _unit_rows(c_mat), k)

    partials = (
        queries.groupBy("_qb", "_sh")
        .cogroup(corpus.groupBy("_qb", "_sh"))
        .applyInPandas(block, _KNN_SCHEMA)
    )
    w = W.partitionBy("src_id").orderBy(F.desc("cosine_sim"), F.asc("dst_id"))
    return (
        partials.drop("rank")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_graph_quantized(
    df: DataFrame,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    *,
    k: int = 5,
) -> DataFrame:
    """Replayable twin of knn_graph: exact kNN over integer-quantized
    vectors as pure DataFrame expressions — no BLAS, no float
    accumulation-order ambiguity, so the result is bit-identical in any
    engine that replays the integer math (the md5_52 trick applied to
    vector similarity; round-3 verdict #4).

    Determinism argument: the dot product and squared norms are BIGINT
    sums over quantized codes (exact); sim = dot / (sqrt(na)*sqrt(nb))
    is then three exactly-rounded IEEE-754 ops on exactly-representable
    integers (|codes|<=127, 64-dim => na <= 64*127^2 ~ 1.03e6 << 2^53),
    so both engines produce the same double bit pattern and the same
    (-sim, dst_id) order. Semantics mirror knn_graph: top-k per src,
    self-edges excluded, ties by dst_id ascending.

    This is the ORACLE TWIN shape — an all-pairs join meant for a
    bounded slice (the catalog entry caps the corpus). The production
    paths are knn_graph (broadcast matmul) and knn_graph_blocked (block
    matmul); an agreement test binds this twin's neighbor sets to the
    BLAS path at matching quantization error.
    """
    from pyspark.sql import Window as W

    zero = F.lit(0).cast("long")
    norms = df.select(
        F.col(id_col),
        F.col(codes_col).alias("_c"),
        F.aggregate(
            codes_col, zero, lambda acc, x: acc + x.cast("long") * x.cast("long")
        ).alias("_n2"),
    )
    a = norms.select(
        F.col(id_col).alias("src_id"), F.col("_c").alias("_ca"), F.col("_n2").alias("_na")
    )
    b = norms.select(
        F.col(id_col).alias("dst_id"), F.col("_c").alias("_cb"), F.col("_n2").alias("_nb")
    )
    dot = F.aggregate(
        F.zip_with("_ca", "_cb", lambda x, y: x.cast("long") * y.cast("long")),
        zero,
        lambda acc, v: acc + v,
    )
    sim = F.when(
        (F.col("_na") > 0) & (F.col("_nb") > 0),
        F.col("_dot")
        / (F.sqrt(F.col("_na").cast("double")) * F.sqrt(F.col("_nb").cast("double"))),
    ).otherwise(F.lit(0.0))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("src_id") != F.col("dst_id"))
        .withColumn("_dot", dot)
        .select("src_id", "dst_id", sim.alias("cosine_sim"), "_na", "_nb")
    )
    w = W.partitionBy("src_id").orderBy(F.desc("cosine_sim"), F.asc("dst_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "dst_id", "cosine_sim", "rank")
    )
