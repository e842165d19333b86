"""Model-based quality classification: hashing-trick logistic
regression, trained distributed (the fasttext-classifier stage of
modern pretraining pipelines — RefinedWeb/FineWeb-style "educational
value" filters — expressed Spark-first).

Design for cross-engine exactness (the kmeans/BPE replayable pattern):

- Features: whitespace tokens hashed to ``n_buckets`` via the md5_52
  family (engine-portable), plus a bias bucket (-1) per document;
  per-(doc, bucket) counts are integers.
- Weights live on an INTEGER micro-unit grid (1e-6). The per-document
  logit is an exact integer dot product sum(cnt * w_q); the sigmoid is
  the single transcendental — computed from the exact
  ``dot_q/1e6`` double (correctly-rounded division, bit-identical on
  every IEEE engine) and immediately re-quantized to integer
  micro-units, so partial-aggregation order can never perturb a
  gradient.
- Full-batch gradient descent: grad_q[b] = sum((sig_q - y*1e6) * cnt)
  is an exact integer; the learning-rate step is a power-of-two floor
  division (floor(g / 2^lr_shift)) — exact in double on both engines,
  and equal to Python's ``//`` for negatives.

Honest scope note (updated r9): features are normalized to integer-
scaled frequencies (normalize=True; raw counts remain for the
length-signal use case), the step follows a halving schedule (fixed
steps measurably oscillate once weights grow), and the gate entry
trains on confident weak labels with a held-out split — 0.87 held-out
accuracy vs a 0.51 majority baseline at sf0.01
(tests/test_classifier.py::test_classifier_heldout_accuracy). Still
full-batch GD, not L-BFGS: the point is the distributed machinery
under the value-hash gate, with honest generalization measurement.

Plan shape at 100 TB: features are one tokenize+hash explode plus a
combinable count shuffle; each training round is two broadcast-join +
combinable-sum passes over the feature table, and the ONLY driver
state is the (n_buckets+1)-row weight vector — the same bounded-state
contract as the kmeans centroid loop. Scoring is a broadcast join +
per-doc integer sum: linear, no wide shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kwwhat_spark.operators.cachescope import keep, scope

BIAS_BUCKET = -1
SIG_SCALE = 1_000_000
FREQ_SCALE = 10_000


def hashed_token_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n_buckets: int = 256,
    normalize: bool = False,
) -> DataFrame:
    """(id, bucket, cnt): md5_52-hashed token counts plus one bias row
    per document — including token-less documents, so every input row
    is scoreable.

    ``normalize=True`` is the production shape (r9): counts become
    integer-scaled frequencies, cnt_q = (cnt * FREQ_SCALE) div doc_len
    (exact integer division — replayable), and the bias row carries
    FREQ_SCALE so its magnitude matches the token features. Raw counts
    make the logit scale with document length, so one step size cannot
    fit both short and long documents; frequencies put every document
    on the same scale (measured: held-out accuracy 0.77 -> >=0.85 on
    the gate corpus). Pass dot_scale=SIG_SCALE*FREQ_SCALE to
    train_logreg/score_logreg when normalized."""
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
        ).alias("__tok"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("__tok")), 1, 13), 16, 10).cast("long")
        % n_buckets
    )
    feats = toks.select(id_col, bucket.alias("bucket")).groupBy(
        id_col, "bucket"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    if normalize:
        lens = feats.groupBy(id_col).agg(F.sum("cnt").alias("__len"))
        feats = feats.join(lens, id_col).select(
            id_col,
            "bucket",
            F.expr(f"(cnt * {FREQ_SCALE}L) div __len").alias("cnt"),
        )
    bias = df.select(
        F.col(id_col),
        F.lit(BIAS_BUCKET).cast("long").alias("bucket"),
        F.lit(FREQ_SCALE if normalize else 1).cast("long").alias("cnt"),
    )
    return feats.unionByName(bias)


def _sig_q(dot_q, dot_scale: int = SIG_SCALE):
    # floor(1e6 * sigmoid(dot_q/dot_scale) + 0.5): the one
    # transcendental, re-quantized immediately (identical expression in
    # the oracle). dot_scale = SIG_SCALE for raw counts,
    # SIG_SCALE*FREQ_SCALE for normalized features.
    return F.floor(
        F.lit(float(SIG_SCALE))
        / (F.lit(1.0) + F.exp(-(dot_q / F.lit(float(dot_scale)))))
        + F.lit(0.5)
    ).cast("long")


def train_logreg(
    feats: DataFrame,
    labels: DataFrame,
    *,
    id_col: str = "doc_id",
    rounds: int = 6,
    lr_shift: int | list[int] = 20,
    dot_scale: int = SIG_SCALE,
) -> dict[int, int]:
    """Full-batch integer-grid logistic regression; returns
    {bucket: w_q}. ``labels`` is (id, y) with y in {0, 1}. Driver state
    = the weight vector only; each round is two distributed passes.

    ``lr_shift`` may be a per-round schedule (list, len >= rounds):
    fixed-step full-batch GD oscillates once weights grow (measured:
    12 rounds fine, 16 diverged at the same shift), and a growing shift
    (halving step) damps it — still exact integers, and each round's
    shift is a compile-time constant in the unrolled oracle replay."""
    spark = feats.sparkSession
    shifts = (
        list(lr_shift) if isinstance(lr_shift, (list, tuple))
        else [lr_shift] * rounds
    )
    if len(shifts) < rounds:
        raise ValueError(f"lr_shift schedule shorter than rounds: {shifts}")
    with scope():
        data = keep(
            feats.join(labels, id_col)
            .select(id_col, "bucket", "cnt", "y")
            .localCheckpoint(eager=True)
        )
        buckets = [r["bucket"] for r in data.select("bucket").distinct().collect()]
        w: dict[int, int] = {int(b): 0 for b in buckets}
        for rnd in range(rounds):
            wdf = spark.createDataFrame(
                [(int(b), int(q)) for b, q in sorted(w.items())], "bucket long, w_q long"
            )
            dots = (
                data.join(F.broadcast(wdf), "bucket")
                .groupBy(id_col, "y")
                .agg(F.sum(F.col("cnt") * F.col("w_q")).alias("dot_q"))
            )
            sig = dots.select(
                id_col,
                (
                    _sig_q(F.col("dot_q"), dot_scale) - F.col("y") * F.lit(SIG_SCALE)
                ).alias("resid_q"),
            )
            grad = (
                sig.join(data.select(id_col, "bucket", "cnt"), id_col)
                .groupBy("bucket")
                .agg(F.sum(F.col("resid_q") * F.col("cnt")).alias("g"))
            )
            for r in grad.collect():  # <= n_buckets+1 rows: bounded driver read
                w[int(r["bucket"])] -= int(r["g"]) // (1 << shifts[rnd])
    return w


def score_logreg(
    feats: DataFrame,
    weights: dict[int, int],
    *,
    id_col: str = "doc_id",
    threshold_q: int = SIG_SCALE // 2,
    dot_scale: int = SIG_SCALE,
) -> DataFrame:
    """(id, score_q, predicted): integer-quantized sigmoid score per
    document under ``weights``, thresholded at ``threshold_q``."""
    spark = feats.sparkSession
    wdf = spark.createDataFrame(
        [(int(b), int(q)) for b, q in sorted(weights.items())], "bucket long, w_q long"
    )
    dots = (
        feats.join(F.broadcast(wdf), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("cnt") * F.col("w_q")).alias("dot_q"))
    )
    return dots.select(
        id_col,
        _sig_q(F.col("dot_q"), dot_scale).alias("score_q"),
        (_sig_q(F.col("dot_q"), dot_scale) >= F.lit(threshold_q)).alias(
            "predicted"
        ),
    )
