"""Connected components over an edge DataFrame — the transitive-closure
step a pairwise dedup needs: near-dup PAIRS form clusters (A~B, B~C ⇒
{A,B,C}), and the canonical keeper must be chosen per CLUSTER, not per
pair (pairwise "drop the higher id" can drop every doc of a triangle).

Algorithm: iterative min-label propagation with POINTER JUMPING: each
round every node takes the min label over its closed neighborhood, then
compresses by also taking its label's label — so label chains halve
every round and convergence is O(log diameter) rounds, not O(diameter)
(the same doubling idea as large-star/small-star, Kiveris et al.).
Dedup graphs are near-cliques (1-2 rounds); a 20-link chain takes ~5.

Scale shape per round: one shuffle of the (undirected) edge list joined
to current labels + one groupBy node + one self-join for compression —
all partition on node id. Each round ends with an EAGER
localCheckpoint: persist alone keeps the full lineage, and re-planning
a plan that doubles per round is itself exponential — truncating
lineage keeps every round's plan flat. (On a cluster with an HDFS
checkpoint dir, `checkpoint()` gives the fault-tolerant variant.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from kwwhat_spark.operators.cachescope import keep, release, scope

# Bounded-driver closure threshold, in DOUBLED (undirected) edge rows.
# Below this the component closure runs as one union-find over an Arrow
# collect of the edge list instead of O(log diameter) distributed rounds
# — the same documented-bound pattern as the BPE argmax: the ROOT graph
# a star-contraction leaves behind is |roots| ≪ |docs| (sf100: ~360k
# roots for 5M docs), so its edges fit one driver read by construction,
# while each distributed round costs a shuffle + two joins + an eager
# checkpoint (measured ~21 s of the 59 s sf100 MinHash components wall).
# 12M doubled rows ≈ 6M edges ≈ 200 MB collected — minutes of saved
# rounds vs seconds of driver work; above it, the distributed
# pointer-jumping loop is the scale path.
LOCAL_CLOSURE_MAX_EDGE_ROWS = 12_000_000

_LOCAL_CLOSURE_TYPES = (
    T.LongType, T.IntegerType, T.ShortType, T.ByteType, T.StringType,
)


def _local_components(und_pdf):
    """Single-pass union-find over a collected (a, b) edge frame.
    Union roots larger→smaller, so the final root of every tree is the
    component minimum — the same label the distributed closure
    produces. Returns a pandas frame (node, component)."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while parent[r] != r:
            r = parent[r]
        # Path compression: point the whole chain at the root.
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(und_pdf["a"].tolist(), und_pdf["b"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    nodes = list(parent)
    return pd.DataFrame(
        {"node": nodes, "component": [find(n) for n in nodes]}
    ).astype({"node": und_pdf["a"].dtype, "component": und_pdf["a"].dtype})


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    *,
    max_iter: int = 25,
    local_max_edge_rows: int | None = None,
) -> DataFrame:
    """Return (node, component) where component = min node id reachable.
    Isolated nodes only appear if present as self-edges; callers union
    their full node set afterwards if needed.
    """
    with scope():
        und = keep(
            edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_und = und.count()  # materialize once; reused every round
        limit = (
            LOCAL_CLOSURE_MAX_EDGE_ROWS
            if local_max_edge_rows is None
            else local_max_edge_rows
        )
        node_type = und.schema["a"].dataType
        if n_und <= limit and isinstance(node_type, _LOCAL_CLOSURE_TYPES):
            labels_pdf = _local_components(und.toPandas())
            schema = T.StructType(
                [
                    T.StructField("node", node_type, False),
                    T.StructField("component", node_type, False),
                ]
            )
            return edges.sparkSession.createDataFrame(labels_pdf, schema)
        labels = (
            und.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
            .localCheckpoint(eager=True)
        )
        for _ in range(max_iter):
            neighbor_min = (
                und.join(labels, und.b == labels.node)
                .groupBy(F.col("a").alias("node"))
                .agg(F.min("component").alias("nbr_component"))
            )
            stepped = (
                labels.join(neighbor_min, "node", "left")
                .select(
                    "node",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("nbr_component"), F.col("component")),
                    ).alias("component"),
                )
            )
            # Pointer jumping: also adopt the label of my label, halving
            # label-chain length every round.
            by_node = stepped.select(
                F.col("node").alias("c_node"), F.col("component").alias("c_comp")
            )
            new_labels = (
                stepped.join(by_node, stepped.component == F.col("c_node"), "left")
                .select(
                    "node",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("c_comp"), F.col("component")),
                    ).alias("component"),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.component") != F.col("o.component"))
                .limit(1)
                .count()
            )
            release(labels)
            labels = new_labels
            if changed == 0:
                break
    return keep(labels)


def star_components(
    edges: DataFrame,
    member: str,
    root: str,
    *,
    max_iter: int = 25,
    local_max_edge_rows: int | None = None,
) -> DataFrame:
    """Connected components of a STAR edge list — (member → root) rows
    where every member's edges came from bucket minima (LSH banding).
    Returns (node, component) for every node appearing in the edges.

    Contraction argument: a member connects exactly the set of roots it
    points at, so collapsing each member's root-set into clique edges
    anchored at its MINIMUM root — (r0, r) for r in roots(member) —
    yields a ROOT-only graph with identical connectivity among roots.
    And the component minimum of the original graph is always a root
    (every member has a root ≤ itself, because a bucket root is the
    bucket MINIMUM), so min-labels computed on the root graph are the
    true component labels. Members then read their label through their
    minimum root in one broadcast-friendly join.

    Scale shape (why this beats running pointer jumping on the raw star
    list): the iterative closure now touches |roots| nodes — in a
    heavy-duplication corpus roots ≈ |docs| / mean-cluster-size, orders
    of magnitude smaller — while the per-member work is ONE map-side
    combinable groupBy. r10 sf100 (5M docs): closure stage 102 s → the
    root graph collapses to ~360k nodes and the full entry drops ~40%
    (BASELINE.md round 10)."""
    # Re-add each root's self-row first: the edge list drops doc==root
    # rows, so a node that is a MEMBER of one bucket and the ROOT of
    # another would otherwise lose the link between its own bucket and
    # the bucket it belongs to (found by the random-bucket union-find
    # test: member 60 of root-48's bucket, itself root of {60,65,102} —
    # without (60,60) the 48↔60 components never merge). With self-rows
    # every node appearing anywhere is in `rs`, so one mapping covers
    # members and roots alike.
    # The edge list feeds two union branches, and the rootset frame
    # feeds both the root closure and the final label join — without
    # materialization each consumer would re-run the WHOLE upstream
    # sig+banding pipeline (measured at sf100: the 139 s signature stage
    # re-evaluated per consumer). Persist the input once, truncate the
    # small rootset's lineage eagerly.
    # The cached edge list (bands× the deduplicated size since
    # dropDuplicates moved to the caller) is freed once `rs` is built,
    # also when the checkpoint throws; `rs` is read by the result.
    with scope():
        edges_p = keep(
            edges.select(F.col(member).alias("m"), F.col(root).alias("r"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        aug = edges_p.union(
            edges_p.select(F.col("r").alias("m"), F.col("r").alias("r")).distinct()
        )
        rs = (
            aug.groupBy("m")
            .agg(
                F.min("r").alias("r0"),
                F.collect_set("r").alias("rts"),
            )
            .localCheckpoint(eager=True)
        )
    rs = keep(rs)
    root_edges = (
        rs.select("r0", F.explode("rts").alias("r"))
        .filter(F.col("r0") != F.col("r"))
        .dropDuplicates()
    )
    root_comps = connected_components(
        root_edges, "r0", "r",
        max_iter=max_iter, local_max_edge_rows=local_max_edge_rows,
    )
    return (
        rs.join(root_comps, rs.r0 == root_comps.node, "left")
        .select(
            F.col("m").alias("node"),
            F.coalesce("component", "r0").alias("component"),
        )
    )


def dedup_keepers(
    pairs: DataFrame,
    id_a: str,
    id_b: str,
) -> DataFrame:
    """From near-duplicate pairs, compute per-cluster canonical keepers:
    (doc_id, component, is_keeper). Keeper = min id of the component —
    the transitive-closure-correct version of "keep the lower id"."""
    comps = connected_components(pairs, id_a, id_b)
    return comps.select(
        F.col("node").alias("doc_id"),
        "component",
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


def select_representatives(
    pairs: DataFrame,
    id_a: str,
    id_b: str,
    scores: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Per near-duplicate cluster, keep the BEST-SCORING member (ties →
    min id) instead of the min id: the "keep the longest / highest-quality
    copy" representative policy training pipelines actually want, made
    transitive-closure-correct. Returns (doc_id, component, is_keeper)
    for every doc appearing in `pairs`; `scores` must cover those ids.

    Scale: connected_components plus one equi-join to the score column
    and one combinable max-of-struct aggregation per component — the
    argmax never collects clusters, so giant components cost one shuffle
    like everything else.
    """
    comps = connected_components(pairs, id_a, id_b)
    scored = comps.join(
        scores.select(F.col(id_col).alias("node"), F.col(score_col).alias("__score")),
        "node",
    )
    # min_by over (-score, id): highest score, ties to the smallest id.
    # Only the SCORE is negated (always numeric); the id is compared
    # as-is, so string doc ids order correctly instead of casting to
    # null under negation.
    best = scored.groupBy("component").agg(
        F.min_by(
            "node",
            F.struct((-F.col("__score")).alias("neg_s"), F.col("node").alias("id")),
        ).alias("__keeper")
    )
    return scored.join(best, "component").select(
        F.col("node").alias("doc_id"),
        "component",
        (F.col("node") == F.col("__keeper")).alias("is_keeper"),
    )


def pagerank_quantized(
    edges: DataFrame,
    src: str,
    dst: str,
    *,
    iterations: int = 5,
    scale: int = 10**12,
) -> DataFrame:
    """PageRank with ALL-INTEGER arithmetic, exactly reproducible across
    engines and partitionings: ranks live on a fixed-point grid of
    1/`scale` units and every step uses floor division —
    no float sums whose order could differ.

        p0(v)   = scale div N
        contrib = p(u) div deg(u)          (per out-edge)
        p'(v)   = (15·(scale div N)) div 100 + (85·Σ contrib) div 100

    The graph is symmetrized and deduplicated; every node therefore has
    degree ≥ 1. Total mass is not exactly conserved (floors shave
    ulp-units) — the trade for bit-exact determinism; with scale=1e12
    the drift is ~1e-9 relative per iteration.

    Scale shape per round: one shuffle joining edges to current ranks
    (partition by node), one combinable integer-sum aggregation. Edges
    and degrees persist across rounds; each round ends with an eager
    localCheckpoint so the plan stays flat instead of doubling
    (same lineage discipline as connected_components above).
    """
    # The final iterate is eagerly checkpointed, so the loop-invariant
    # cached stages are no longer referenced by its lineage: their scope
    # closes before it is returned.
    e0 = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    with scope():
        und = keep(
            e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        deg = keep(
            und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        nodes = keep(
            und.select(F.col("a").alias("node")).distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n = nodes.count()
        init = scale // n
        base = (15 * init) // 100
        p = nodes.withColumn("rank_q", F.lit(init).cast("long"))
        for _ in range(iterations):
            prev = p
            contribs = (
                und.join(p, und.a == p.node)
                .join(deg, "a")
                .select(F.col("b").alias("node"), F.expr("rank_q div deg").alias("c"))
                .groupBy("node")
                .agg(F.sum("c").alias("s"))
            )
            p = (
                nodes.join(contribs, "node", "left")
                .select(
                    "node",
                    (
                        F.lit(base)
                        + F.expr("(85 * coalesce(s, 0L)) div 100")
                    ).cast("long").alias("rank_q"),
                )
                .localCheckpoint(eager=True)
            )
            release(prev)
    return keep(p)
