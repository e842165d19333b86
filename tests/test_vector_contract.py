"""One input rule for every Arrow/BLAS similarity operator.

Each public operator on the shared vector kernel of
operators/similarity.py is fed the same defect cases. None may crash,
and each result must equal what the expression form
(F.round(cosine(a, b), 6)) gives under the documented rule:

- a null, empty or all-zero vector has no cosine: it is in no pair and
  no top-k list;
- a vector pairs only with vectors of its own length;
- a row with no valid centroid gets no IVF cell (semdedup: cluster_id
  null, is_kept true).

The reference below computes the expression form only on the pairs the
rule admits, then applies each operator's own semantics (top-k by
(-sim, id), id_a < id_b thresholds, cell and probe choice by
(sim desc, cell desc)) in plain Python.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from kwwhat_spark.operators.similarity import (
    all_pairs_cosine,
    brute_force_topk,
    cosine,
    ivf_topk,
    knn_graph,
    knn_graph_blocked,
    semdedup,
)

K = 3
N_CELLS = 3
THRESHOLD = 0.5

# Dyadic values are exact in float32, so the parquet copy that
# decontaminate_embedding reads holds the same vectors. Ids that are
# multiples of 50 are that entry's eval rows.
_rng = random.Random(5)
BASE = [(i, [_rng.randint(-64, 64) / 64 for _ in range(3)]) for i in (0, 1, 2, 50, 51, 100, 101)]
BASE.append((3, [x + 1 / 1024 for x in BASE[0][1]]))  # near-duplicate of row 0

# case -> (corpus rows, query rows); the self-join operators read the corpus.
CASES = {
    "null_vector": (BASE + [(150, None)],) * 2,
    "empty_array": (BASE + [(150, [])],) * 2,
    "ragged_vector": (BASE + [(150, [1.0, 2.0]), (151, [2.0, 4.125])],) * 2,
    "zero_norm": (BASE + [(150, [0.0, 0.0, 0.0])],) * 2,
    "empty_partition": (BASE, BASE),
    "empty_input": ([], BASE),
    "one_row_corpus": (BASE[:1], BASE),
}

SEMDEDUP_CENTROIDS = [(7, [1.0, 0.0, 0.0]), (8, [0.0, 1.0, 0.0]), (9, [0.0, 0.0, 1.0])]
_CENTROID_ROW = {cid: 1000 + cid for cid, _ in SEMDEDUP_CENTROIDS}


def _has_cosine(v) -> bool:
    return bool(v) and any(x != 0 for x in v)


@pytest.fixture(scope="module")
def expr_sims(spark):
    """case -> {(id_a, id_b): expression-form round(cosine, 6)} over
    every ordered pair of rows (queries, corpus, semdedup centroids)
    that the rule gives a cosine, self-pairs included."""
    pairs = []
    for case, (corpus, queries) in CASES.items():
        rows = dict(corpus + queries)
        rows.update({_CENTROID_ROW[cid]: v for cid, v in SEMDEDUP_CENTROIDS})
        valid = [(i, v) for i, v in rows.items() if _has_cosine(v)]
        pairs += [(case, a, va, b, vb) for a, va in valid for b, vb in valid
                  if len(va) == len(vb)]
    df = spark.createDataFrame(
        pairs, "case string, a long, va array<double>, b long, vb array<double>"
    )
    out: dict = {case: {} for case in CASES}
    for r in df.select(
        "case", "a", "b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("sim")
    ).collect():
        out[r.case][(r.a, r.b)] = r.sim
    return out


def _frames(spark, case):
    corpus, queries = CASES[case]
    schema = "vec_id long, embedding array<double>"
    c = spark.createDataFrame(corpus, schema)
    if case == "empty_partition":
        c = c.repartition(len(corpus) + 4)  # round-robin: some partitions empty
    return c, spark.createDataFrame(queries, schema)


def _topk(sims, q_ids, c_ids, k, skip_self=False):
    out = set()
    for a in q_ids:
        ranked = sorted((-sims[a, b], b) for b in c_ids
                        if (a, b) in sims and not (skip_self and a == b))
        out |= {(a, b, -neg, rank) for rank, (neg, b) in enumerate(ranked[:k], 1)}
    return out


def _ids(rows):
    return [i for i, _ in rows]


# --- operators: run(spark, case, tmp_path) -> rows; want(case, sims) -> rows ---


def _run_brute(spark, case, tmp_path):
    c, q = _frames(spark, case)
    out = brute_force_topk(
        q.withColumnRenamed("vec_id", "query_id"),
        c.withColumnRenamed("vec_id", "corpus_id"),
        k=K,
    )
    return {tuple(r) for r in out.collect()}


def _want_brute(case, sims):
    corpus, queries = CASES[case]
    return _topk(sims, _ids(queries), _ids(corpus), K)


def _run_all_pairs(spark, case, tmp_path):
    c, _ = _frames(spark, case)
    out = all_pairs_cosine(c, "vec_id", "embedding", THRESHOLD, keep_sim=True)
    return {tuple(r) for r in out.collect()}


def _want_all_pairs(case, sims):
    return {(a, b, s) for (a, b), s in sims.items()
            if a < b and s >= THRESHOLD and a in _ids(CASES[case][0])
            and b in _ids(CASES[case][0])}


def _run_ivf(**kw):
    def run(spark, case, tmp_path):
        c, q = _frames(spark, case)
        out = ivf_topk(
            q.withColumnRenamed("vec_id", "query_id"),
            c.withColumnRenamed("vec_id", "corpus_id"),
            k=K, n_cells=N_CELLS, **kw,
        )
        return {tuple(r) for r in out.collect()}

    return run


def _want_ivf(n_probe):
    """The documented IVF: centroids are the first N_CELLS corpus rows in
    xxhash64(string id) order; a row's cells are ranked by (sim desc,
    cell desc) over the centroids it has a cosine with."""

    def want(case, sims):
        from pyspark.sql import SparkSession

        corpus, queries = CASES[case]
        ids = SparkSession.getActiveSession().createDataFrame(
            [(i,) for i in _ids(corpus)], "vec_id long"
        )
        cents = [r.vec_id for r in ids.orderBy(
            F.xxhash64(F.col("vec_id").cast("string"))
        ).limit(N_CELLS).collect()]

        def cells(x, n):
            opts = sorted(((sims[x, cid], cell) for cell, cid in enumerate(cents)
                           if (x, cid) in sims), reverse=True)
            return {cell for _, cell in opts[:n]}

        out = set()
        for q in _ids(queries):
            probed = cells(q, n_probe)
            allowed = [b for b in _ids(corpus) if cells(b, 1) & probed]
            out |= _topk(sims, [q], allowed, K)
        return out

    return want


def _run_semdedup(spark, case, tmp_path):
    c, _ = _frames(spark, case)
    out = semdedup(c, SEMDEDUP_CENTROIDS, threshold=0.99)
    return {tuple(r) for r in out.collect()}


def _want_semdedup(case, sims):
    corpus = CASES[case][0]
    cluster = {}
    for x in _ids(corpus):
        opts = [(-sims[x, row], cid) for cid, row in _CENTROID_ROW.items() if (x, row) in sims]
        cluster[x] = min(opts)[1] if opts else None
    out = set()
    for x, cl in cluster.items():
        dup = cl is not None and any(
            cluster[y] == cl and y < x and (x, y) in sims and sims[x, y] >= 0.99
            for y in cluster
        )
        out.add((x, cl, not dup))
    return out


def _run_knn(op, **kw):
    def run(spark, case, tmp_path):
        c, _ = _frames(spark, case)
        return {tuple(r) for r in op(c, k=K, **kw).collect()}

    return run


def _want_knn(case, sims):
    ids = _ids(CASES[case][0])
    return _topk(sims, ids, ids, K, skip_self=True)


def _run_decontaminate(spark, case, tmp_path):
    from kwwhat_spark.queries import REGISTRY

    c, _ = _frames(spark, case)
    c.select("vec_id", F.col("embedding").cast("array<float>").alias("embedding")).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = REGISTRY["decontaminate_embedding"].spark(spark, str(tmp_path))
    return {tuple(r) for r in out.collect()}


def _want_decontaminate(case, sims):
    ids = _ids(CASES[case][0])
    out = set()
    for c in ids:
        evals = [sims[c, e] for e in ids if e % 50 == 0 and e != c and (c, e) in sims]
        if evals:
            out.add((c, max(evals), max(evals) >= 0.95))
    return out


OPERATORS = {
    "brute_force_topk": (_run_brute, _want_brute),
    "all_pairs_cosine": (_run_all_pairs, _want_all_pairs),
    "ivf_topk_cogroup": (_run_ivf(n_probe=1), _want_ivf(1)),
    "ivf_topk_cogroup_full_probe": (_run_ivf(n_probe=N_CELLS), _want_ivf(N_CELLS)),
    "ivf_topk_broadcast_queries": (_run_ivf(n_probe=1, broadcast_queries=True), _want_ivf(1)),
    "semdedup": (_run_semdedup, _want_semdedup),
    "knn_graph": (_run_knn(knn_graph), _want_knn),
    "knn_graph_blocked": (_run_knn(knn_graph_blocked, n_shards=2, n_query_blocks=2), _want_knn),
    "decontaminate_embedding": (_run_decontaminate, _want_decontaminate),
}


@pytest.mark.parametrize("case", CASES)
@pytest.mark.parametrize("op", OPERATORS)
def test_operator_obeys_input_rule(spark, expr_sims, tmp_path, op, case):
    run, want = OPERATORS[op]
    assert run(spark, case, tmp_path) == want(case, expr_sims[case])


def test_knn_rows_do_not_depend_on_blocking(spark):
    """A pair's cosine_sim and rank must not depend on the block its
    rows are computed in: one corpus gives identical knn_graph rows at
    two Arrow batch sizes, and knn_graph_blocked gives those rows too.
    Unrounded, a block's BLAS product differs from the same rows of the
    whole product in the last bits."""
    rng = random.Random(11)
    rows = [(i, [rng.randint(-64, 64) / 64 for _ in range(64)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    got = []
    try:
        for n in ("7", "10000"):
            spark.conf.set(key, n)
            got.append(sorted(tuple(r) for r in knn_graph(df, k=K).collect()))
    finally:
        spark.conf.set(key, old)
    assert len(got[0]) == 300 * K
    assert got[0] == got[1]
    blocked = knn_graph_blocked(df, k=K, n_shards=3, n_query_blocks=2).collect()
    assert sorted(tuple(r) for r in blocked) == got[1]
