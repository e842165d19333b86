"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: exact baseline. The dot products are
  F.zip_with + F.aggregate expressions (JVM, codegen) — the cross join is
  the cost; use only for small query sets or validation samples.
- LSH (random hyperplanes): sign-bit bucket join — the scale path. Query
  and corpus shuffle only on bucket keys; hyperplanes are deterministic
  literals (seeded), so the plan is reproducible across runs/engines.
- IVF-style coarse quantization: cells from a deterministic sample of
  corpus vectors as centroids; probe the nearest cells only.

The Arrow/BLAS operators (brute_force_topk, all_pairs_cosine, ivf_topk,
semdedup, knn_graph, knn_graph_blocked, and queries/llm.py's
decontaminate_embedding) share one vector kernel: _collect (bounded
driver collect), _vectors (column -> matrix, norms, validity), _cosine
(one similarity block), _topk (one (-sim, id) selection) and _row_blocks
(one memory budget). _vectors applies the one input rule:

- A null, empty or all-zero vector (or one with a null element) has no
  cosine: it is in no pair and no top-k list.
- A vector pairs only with vectors of its own length, as the expression
  form's zip_with gives unequal lengths a null sim.
- A row with no valid centroid of its length gets no IVF cell.

tests/test_vector_contract.py holds every operator to the rule.
"""

from __future__ import annotations

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


# One similarity block holds at most this many float64s (4M = 32 MB),
# so a task's memory stays bounded whatever the corpus or cluster size.
# Operators read it on the driver, so their closures carry the value to
# the Python workers and a test can shrink it to force the multi-block
# path.
_BLOCK_DOUBLES = 4 << 20


def _collect(df: DataFrame, op: str, what: str, instead: str,
             max_rows: int = 2_000_000) -> list:
    """The rows of ``df`` for a driver-side matrix, at most ``max_rows``;
    more raise a ValueError naming ``op`` and the scale path ``instead``.
    limit(max_rows + 1) bounds the pulled rows exactly like a count()
    first, in one job instead of two (measured r12 on brute_force_topk,
    sf0.1, hot, min of 5: count+collect 0.30 s vs limited collect
    0.13 s per call)."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"{op} collects more than {max_rows} {what}; use {instead}"
        )
    return rows


def _vectors(col):
    """A vector column — an Arrow batch's pandas Series or a list of
    collected arrays — as (mat, norms, lens): a float64 matrix with
    shorter rows zero-padded, each row's L2 norm, and each row's length,
    0 for a row with no cosine under the module's input rule, so
    ``lens > 0`` is the validity mask."""
    import numpy as np

    vals = list(col)
    lens = np.array([0 if v is None else len(v) for v in vals], dtype=np.int64)
    if len(vals) and lens.min() == lens.max() > 0:
        mat = np.stack(vals).astype(np.float64)
    else:
        mat = np.zeros((len(vals), lens.max(initial=0)))
        for i, v in enumerate(vals):
            if lens[i]:
                mat[i, : lens[i]] = v
    norms = np.linalg.norm(mat, axis=1)
    lens[~(norms > 0)] = 0  # all-zero, or NaN from a null element
    return mat, norms, lens


def _rows(v, idx):
    """Rows ``idx`` (a slice or index array) of a _vectors triple."""
    return tuple(x[idx] for x in v)


def _row_blocks(n_rows: int, n_cols: int, budget: int) -> list:
    """Row slices covering ``n_rows`` (at least one, so an empty input
    still yields one empty block) whose similarity block against
    ``n_cols`` columns holds at most ``budget`` (_BLOCK_DOUBLES) values."""
    step = max(1, budget // max(1, n_cols))
    return [slice(lo, lo + step) for lo in range(0, max(1, n_rows), step)]


def _sims(a, b):
    """Unrounded cosine of every (a row, b row) pair of two _vectors
    triples, NaN where the input rule gives none: a row is invalid or
    the lengths differ."""
    import numpy as np

    (am, an, al), (bm, bn, bl) = a, b
    if am.shape[1] != bm.shape[1]:  # ragged: pairs across the cut are masked
        w = min(am.shape[1], bm.shape[1])
        am, bm = am[:, :w], bm[:, :w]
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = (am @ bm.T) / (an[:, None] * bn[None, :])
    lens = np.concatenate([al, bl])
    if len(lens) and not lens.min() == lens.max() > 0:
        sims[(al[:, None] != bl[None, :]) | (al[:, None] == 0)] = np.nan
    return sims


def _cosine(a, b):
    """The cosine block: _sims rounded HALF_UP to 6 decimals, the
    expression form's F.round(cosine(a, b), 6). Rounding before every
    compare keeps thresholds and rankings equal to the oracle's except
    on measure-zero boundaries (see _round6_half_up)."""
    return _round6_half_up(_sims(a, b))


def _unit(v):
    """A _vectors triple scaled to unit rows with norms 1: knn_graph's
    similarity is the unrounded dot of unit rows."""
    import numpy as np

    mat, norms, lens = v
    with np.errstate(divide="ignore", invalid="ignore"):
        return mat / norms[:, None], np.ones_like(norms), lens


def _topk(sims, ids, k: int, skip=None):
    """Each row's k best columns of ``sims`` by (-sim, id), as flat
    (rows, cols) index arrays in row-then-rank order. A NaN sim (no
    cosine) is never selected, nor, given ``skip``, the column whose id
    equals skip[row]."""
    import numpy as np

    if skip is not None:
        sims = np.where(ids[None, :] == skip[:, None], np.nan, sims)
    neg = -sims
    # Sort only the candidates: each row's k best and every tie of its
    # k-th (a row with fewer than k sims keeps them all). A partition is
    # linear in the row; sorting whole rows was 4x slower per batch.
    if neg.shape[1] > k:
        kth = np.partition(neg, k - 1, axis=1)[:, k - 1 : k]
        rows, cols = np.nonzero(neg <= np.where(np.isnan(kth), np.inf, kth))
    else:
        rows, cols = np.nonzero(~np.isnan(neg))
    order = np.lexsort((ids[cols], neg[rows, cols], rows))
    rows, cols = rows[order], cols[order]
    first_k = np.arange(len(rows)) < np.searchsorted(rows, rows) + k
    return rows[first_k], cols[first_k]


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

    Input rule: the module's (_vectors) — a query or corpus vector with
    no cosine, or of another length, is in no top-k list.

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

    budget = _BLOCK_DOUBLES
    qrows = _collect(
        queries.select(query_id, vec_col), "brute_force_topk", "query rows",
        "knn_graph (corpus-sharded), lsh_topk, or ivf_topk for large query sets",
    )
    bc = keep(corpus.sparkSession.sparkContext.broadcast(
        (np.array([r[0] for r in qrows]), _vectors(r[1] for r in qrows))
    ))

    part_schema = T.StructType(
        [
            queries.schema[query_id],
            corpus.schema[corpus_id],
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )
    qf, cf = part_schema[0].name, part_schema[1].name

    def local_topk(batches):
        q_ids, q = bc.value
        for pdf in batches:
            c = _vectors(pdf[vec_col])
            cids = pdf[corpus_id].to_numpy()
            for s in _row_blocks(len(q_ids), len(cids), budget):
                sims = _cosine(c, _rows(q, s)).T
                r, j = _topk(sims, cids, k)
                yield pd.DataFrame(
                    {qf: q_ids[s][r], cf: cids[j], "cosine_sim": sims[r, j]}
                )

    survivors = corpus.select(corpus_id, vec_col).mapInPandas(
        local_topk, schema=part_schema
    )
    w = W.partitionBy(qf).orderBy(F.col("cosine_sim").desc(), F.col(cf).asc())
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qf, cf, "cosine_sim", "rank")
    )


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

    Input rule: the module's (_vectors) — a vector with no cosine, or of
    another length, is in no pair, as the expression form's null sim
    fails every threshold compare.

    Exactness (the brute_force_topk contract): similarities are rounded
    HALF_UP to 6 decimals (_round6_half_up — matches Spark round() and
    DuckDB) BEFORE the threshold compare, so the survivor set equals the
    expression form's except on measure-zero rounding boundaries;
    numpy-vs-expression parity is pinned by
    tests/test_llm_ops.py::test_all_pairs_cosine_matches_expression at
    threshold 0 (every pair's rounded sim compared, not just
    survivors).

    Like brute_force_topk the corpus must fit the driver/broadcast
    (bounded collect guard); the all-pairs O(n²) output contract already
    implies a bounded corpus — the scale paths are cosine_near_dup_pairs
    / knn_graph.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    budget = _BLOCK_DOUBLES
    vecs = df.select(id_col, vec_col)
    rows = _collect(
        vecs, "all_pairs_cosine", "corpus rows",
        "cosine_near_dup_pairs (LSH-blocked) or knn_graph at scale",
    )
    out_fields = [
        T.StructField("id_a", df.schema[id_col].dataType),
        T.StructField("id_b", df.schema[id_col].dataType),
    ]
    if keep_sim:
        out_fields.append(T.StructField(sim_col, T.DoubleType()))
    bc = keep(df.sparkSession.sparkContext.broadcast(
        (np.array([r[0] for r in rows]), _vectors(r[1] for r in rows))
    ))

    def pairs(batches):
        ids_b, b = bc.value
        for pdf in batches:
            a = _vectors(pdf[vec_col])
            aids = pdf[id_col].to_numpy()
            for s in _row_blocks(len(aids), len(ids_b), budget):
                sims = _cosine(_rows(a, s), b)
                ai, bi = np.nonzero(
                    (sims >= threshold) & (aids[s, None] < ids_b[None, :])
                )
                cols = {"id_a": aids[s][ai], "id_b": ids_b[bi]}
                if keep_sim:
                    cols[sim_col] = sims[ai, bi]
                yield pd.DataFrame(cols)

    return vecs.mapInPandas(pairs, schema=T.StructType(out_fields))


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
    broadcast_queries: bool = False,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus into
    `n_cells` cells (centroids = a deterministic hash-ordered sample of
    corpus vectors), probe each query's `n_probe` nearest cells, exact
    cosine re-rank inside the probed cells. replayable_hash orders the
    centroid sample by md5_52(id) (with id tiebreak) so an external
    engine can reproduce the exact cell structure (see
    similarity_ivf_multiprobe_replayable).

    Input rule: the module's (_vectors) — a corpus or query row with no
    valid centroid of its length gets no cell, so it is in no top-k list.

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

    The re-rank cogroup sub-partitions each cell into S salt blocks: the
    corpus side is salted by hash(corpus_id) % S and each probe row is
    replicated S× so every (cell, salt) block still sees all its
    probing queries. Without it, re-rank parallelism is capped at
    n_cells (measured: the 8-cell exact gate ran 8 tasks on 32 cores —
    9.2 s vs 6.5 s for the same work at 64 cells), and a hot skewed
    cell becomes one straggler task — IVF cells are never balanced, so
    this is the applyInPandas analogue of AQE skew-split. Exactness is
    unchanged: any global top-k member of a cell is top-k within its
    own block, and the final window re-ranks the union. S is scaled so
    n_cells·S covers the cluster's default parallelism.

    Vectors ride the re-rank shuffle in the input column's own element
    type: an array<float> column (the embeddings parquet) ships float32,
    half the dominant shuffle bytes, and all math runs float64 after the
    exact numpy upcast.

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
    its scan batch (the salt-block argument, with Arrow batches as the
    blocks).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window as W
    from pyspark.sql import types as T

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
    c = corpus.select(F.col(corpus_id), F.col(vec_col).alias("c_vec"))
    if centroid_vecs is None:
        # Deterministic centroid sample: first n_cells corpus vectors in
        # hash(id) order (at 100 TB: sample() + takeOrdered instead).
        if replayable_hash:
            from kwwhat_spark.functions.text import md5_52

            order = [md5_52(F.col(corpus_id).cast("string")), F.col(corpus_id)]
        else:
            order = [F.xxhash64(F.col(corpus_id).cast("string"))]
        centroid_vecs = [
            row["c_vec"] for row in c.orderBy(*order).limit(n_cells).collect()
        ]

    n_cells_eff = len(centroid_vecs)
    budget = _BLOCK_DOUBLES
    # _topk's id key: (sim desc, cell desc), the struct-greatest rule the
    # oracle replays.
    cell_key = -np.arange(n_cells_eff)
    sc = queries.sparkSession.sparkContext
    bc = keep(sc.broadcast(_vectors(centroid_vecs)))
    n_salt = max(1, min(16, -(-sc.defaultParallelism // max(n_cells_eff, 1))))

    def cell_of(v):
        """Each row's nearest cell, -1 for a row with no valid centroid."""
        r, cl = _topk(_cosine(v, bc.value), cell_key, 1)
        cell = np.full(len(v[2]), -1, dtype=np.int32)
        cell[r] = cl
        return cell

    qid_field = queries.schema[query_id]
    cid_field = corpus.schema[corpus_id]
    qf, cf = qid_field.name, cid_field.name
    assign_schema = T.StructType(
        [
            cid_field,
            T.StructField("__vec", corpus.schema[vec_col].dataType),
            T.StructField("cell", T.IntegerType()),
        ]
    )

    def assign(batches):
        for pdf in batches:
            cell = cell_of(_vectors(pdf["c_vec"]))
            has = cell >= 0
            yield pd.DataFrame(
                {
                    corpus_id: pdf[corpus_id].to_numpy()[has],
                    "__vec": pdf["c_vec"].to_numpy()[has],
                    "cell": cell[has],
                }
            )

    assigned = c.mapInPandas(assign, schema=assign_schema)

    probe_schema = T.StructType(
        [
            qid_field,
            T.StructField("__qvec", queries.schema[vec_col].dataType),
            T.StructField("cell", T.IntegerType()),
        ]
    )

    def probe(batches):
        for pdf in batches:
            r, cl = _topk(_cosine(_vectors(pdf["q_vec"]), bc.value), cell_key, n_probe)
            yield pd.DataFrame(
                {
                    query_id: pdf[query_id].to_numpy()[r],
                    "__qvec": pdf["q_vec"].to_numpy()[r],
                    "cell": cl.astype(np.int32),
                }
            )

    q = queries.select(query_id, F.col(vec_col).alias("q_vec"))
    probes = q.mapInPandas(probe, schema=probe_schema)

    out_schema = T.StructType(
        [qid_field, cid_field, T.StructField("cosine_sim", T.DoubleType())]
    )

    def topk_frames(q_ids, qv, cids, cv, allowed=None):
        """Per query block: its top-k of the corpus rows by (sim desc,
        corpus_id asc), restricted to ``allowed`` (queries × rows)."""
        for s in _row_blocks(len(q_ids), len(cids), budget):
            sims = _cosine(_rows(qv, s), cv)
            if allowed is not None:
                sims[~allowed[s]] = np.nan
            r, j = _topk(sims, cids, k)
            yield pd.DataFrame({qf: q_ids[s][r], cf: cids[j], "cosine_sim": sims[r, j]})

    if broadcast_queries:
        by_q: dict = {}
        for row in _collect(
            probes, "ivf_topk(broadcast_queries=True)", "probe rows",
            "the cogroup shuffle path (broadcast_queries=False) for bulk probing",
            max_rows=100_000,
        ):
            by_q.setdefault(row[query_id], (row["__qvec"], set()))[1].add(row["cell"])
        # One column per cell plus a last, never-probed one that cell_of's
        # -1 ("no cell") indexes.
        probe_mask = np.zeros((len(by_q), n_cells_eff + 1), dtype=bool)
        for i, (_, cells) in enumerate(by_q.values()):
            probe_mask[i, list(cells)] = True
        # All cells probed ⇒ cell assignment cannot change the output:
        # every corpus row is allowed for every query regardless of its
        # cell. Decide once on the driver and skip the per-batch centroid
        # matmul entirely (dead-work elimination for the full-probe
        # regime; assignment math stays value-hash-gated via the cogroup
        # path's multiprobe entry and the partial-probe parity test).
        all_cells_probed = bool(by_q) and bool(probe_mask[:, :-1].all())
        bq = keep(sc.broadcast((
            np.array(list(by_q)), _vectors(v for v, _ in by_q.values()),
            probe_mask, all_cells_probed,
        )))

        def scan_rerank(batches):
            q_ids, qv, mask, full = bq.value
            for pdf in batches:
                cv = _vectors(pdf["c_vec"])
                allowed = None if full else mask[:, cell_of(cv)]
                yield from topk_frames(
                    q_ids, qv, pdf[corpus_id].to_numpy(), cv, allowed
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

        def rerank(cdf, qdf):
            return pd.concat(topk_frames(
                qdf[query_id].to_numpy(), _vectors(qdf["__qvec"]),
                cdf[corpus_id].to_numpy(), _vectors(cdf["__vec"]),
            ))

        candidates = (
            assigned.groupBy(*group_keys)
            .cogroup(probes.groupBy(*group_keys))
            .applyInPandas(rerank, schema=out_schema)
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


def semdedup(
    df: DataFrame,
    centroid_vecs: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings, then remove
    near-duplicates only WITHIN each cluster — the clustering bounds the
    quadratic pair search to ~N²/K instead of N².

    Both dense stages run on the Arrow/BLAS path (the knn_graph pattern;
    expression array-lambda math measured 5-8× slower here — see the
    dead-end note above and BASELINE.md):

    1. Assignment — mapInPandas against the broadcast centroid matrix:
       one (rows × K) matmul per Arrow batch, the best round(cos, 6)
       with ties to the smaller centroid id. Narrow; no shuffle.
    2. Pair search — applyInPandas per cluster after ONE hash shuffle on
       cluster_id: the within-cluster (n × n) cosine matrix in row
       blocks (_row_blocks); a row is a duplicate iff some
       smaller-id row in its cluster reaches round(cos, 6) ≥ threshold.
       Emits (id, cluster_id, is_kept) directly — no join-back.

    Output: every input row with its cluster_id and an is_kept flag.

    Input rule: the module's (_vectors) — a row with no valid centroid
    of its length gets cluster_id null and is_kept true.

    Oracle fidelity: similarities are rounded HALF_UP to 6 decimals
    (matching Spark's round() and DuckDB's) before every comparison, so
    cluster choice and dup verdicts match the unrolled SQL oracle; BLAS
    accumulation order can differ from a sequential fold in the last
    ulp, which the 6-decimal rounding absorbs except on measure-zero
    boundary coincidences.

    Scale: centroids come from train_centroids() (MLlib k-means on a
    hash_sample) with K grown with N so clusters stay ~500 vectors; the
    only shuffle moves each vector once, keyed by cluster id. A skewed
    giant cluster is bounded by the row-block budget (memory stays
    O(block · cluster), not O(cluster²)).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if not centroid_vecs:
        raise ValueError("semdedup requires at least one centroid")
    budget = _BLOCK_DOUBLES
    bc = keep(df.sparkSession.sparkContext.broadcast((
        np.array([int(cid) for cid, _ in centroid_vecs], dtype=np.int64),
        _vectors(vec for _, vec in centroid_vecs),
    )))

    id_field = df.schema[id_col]
    assign_schema = T.StructType(
        [
            id_field,
            T.StructField("__vec", df.schema[vec_col].dataType),
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
        c_ids, cents = bc.value
        for pdf in batches:
            r, j = _topk(_cosine(_vectors(pdf[vec_col]), cents), c_ids, 1)
            cluster = np.zeros(len(pdf), dtype=np.int32)
            cluster[r] = c_ids[j]
            no_cell = np.ones(len(pdf), dtype=bool)
            no_cell[r] = False
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "__vec": pdf[vec_col],
                    "cluster_id": pd.arrays.IntegerArray(cluster, no_cell),
                }
            )

    def dedup_cluster(pdf):
        pdf = pdf.iloc[np.argsort(pdf[id_col].to_numpy(), kind="stable")]
        ids = pdf[id_col].to_numpy()
        is_dup = np.zeros(len(ids), dtype=bool)
        if pdf["cluster_id"].notna().all():  # not the group of rows with no cell
            v = _vectors(pdf["__vec"])
            for s in _row_blocks(len(ids), len(ids), budget):
                sims = _cosine(_rows(v, s), v)
                is_dup |= ((sims >= threshold) & (ids[s, None] < ids[None, :])).any(axis=0)
        return pd.DataFrame(
            {id_col: ids, "cluster_id": pdf["cluster_id"].to_numpy(), "is_kept": ~is_dup}
        )

    assigned = df.select(id_col, vec_col).mapInPandas(assign, schema=assign_schema)
    return assigned.groupBy("cluster_id").applyInPandas(dedup_cluster, schema=out_schema)


_KNN_SCHEMA = "src_id long, dst_id long, cosine_sim double, rank int"


def _topk_edges(q_ids, q, c_ids, c_unit, k: int, budget: int):
    """The top-k kernel of knn_graph and knn_graph_blocked: for each
    query row of the _vectors triple ``q``, the k corpus rows of highest
    cosine similarity, ordered by (-sim, dst_id) with the self-edge
    skipped, as a (src_id, dst_id, cosine_sim, rank) frame. ``c_unit``
    is the corpus through _unit."""
    import numpy as np
    import pandas as pd

    frames = []
    for s in _row_blocks(len(q_ids), len(c_ids), budget):
        sims = _sims(_unit(_rows(q, s)), c_unit)
        r, j = _topk(sims, c_ids, k, skip=q_ids[s])
        frames.append(pd.DataFrame({
            "src_id": q_ids[s][r],
            "dst_id": c_ids[j],
            "cosine_sim": sims[r, j],
            "rank": (np.arange(len(r)) - np.searchsorted(r, r) + 1).astype(np.int32),
        }))
    return pd.concat(frames)


def knn_graph(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 5,
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

    Input rule: the module's (_vectors) — a vector with no cosine, or of
    another length, has no edge.

    Scale: the broadcast corpus bounds this operator at ~executor-memory
    vectors (64-dim float64 ≈ 2 GB per 4M vectors; the collect is
    guarded at 2M rows); past that, switch to knn_graph_blocked (block
    matmul) or the IVF/LSH entries.
    The matmul is embarrassingly parallel across input partitions.
    """
    import numpy as np

    budget = _BLOCK_DOUBLES
    rows = _collect(
        df.select(id_col, vec_col), "knn_graph", "corpus rows",
        "knn_graph_blocked (executor-side block matmul)",
    )
    bc = keep(df.sparkSession.sparkContext.broadcast((
        np.array([r[0] for r in rows], dtype=np.int64),
        _unit(_vectors(r[1] for r in rows)),
    )))

    def neighbors(batches):
        c_ids, c_unit = bc.value
        for pdf in batches:
            yield _topk_edges(
                pdf[id_col].to_numpy(), _vectors(pdf[vec_col]), c_ids, c_unit, k,
                budget,
            )

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

    Output schema, ordering semantics and input rule are identical to
    knn_graph (src_id, dst_id, cosine_sim, rank; self-edges excluded,
    ties by dst_id ascending); an agreement test pins the two paths
    together.
    """
    from pyspark.sql import Window as W

    if n_query_blocks is None:
        n_query_blocks = n_shards
    budget = _BLOCK_DOUBLES
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

        return _topk_edges(
            left["q_id"].to_numpy(dtype=np.int64), _vectors(left["q_vec"]),
            right["c_id"].to_numpy(dtype=np.int64), _unit(_vectors(right["c_vec"])), k,
            budget,
        )

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
