"""Temporal join operators Spark lacks natively: as-of join and
bucketed interval join.

Both are re-expressed as compositions of built-in DataFrame ops (no
UDFs), following the custom-operator guidance in the build brief:

- `asof_join` — merge-asof semantics via a single window over the
  UNION of the two streams: one shuffle on the join keys, no range
  join, no per-row lookups. This is the scale path for "latest quote
  before each trade" style queries at any key cardinality.
- `interval_join` — point-in-interval join WITHOUT an equi key made
  shuffle-joinable by time bucketing: intervals explode to the fixed
  buckets they overlap, points map to exactly one bucket, and the join
  becomes an equi-join on bucket id with a post-filter. Avoids the
  BroadcastNestedLoopJoin/CartesianProduct plan Spark would otherwise
  pick for a pure theta join.

The reference's own temporal joins all carry an equi key (charger id)
and need neither trick (SURVEY.md §2.3); these generalize that family
to the key-free case.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

_SIDE = "__asof_side"
_TS = "__asof_ts"
_BUCKET = "__iv_bucket"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    *,
    strict: bool = True,
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """For each left row, attach `value_cols` from the latest right row
    with right_ts < left_ts (strict) or <= left_ts (non-strict), per
    `on` key group. Left rows and columns are preserved (left join).

    Plan shape: unionByName → one Window exchange on `on` → filter.
    The right stream contributes only (on, right_ts, value_cols), so
    the shuffled payload stays narrow.
    """
    overlap = set(value_cols) & set(left.columns)
    if overlap:
        raise ValueError(f"value_cols collide with left columns: {sorted(overlap)}")
    # Right rows sort before left rows at equal ts for non-strict
    # (visible), after for strict (invisible): frame ends at -1 row.
    right_rank = 1 if strict else -1
    r = right.select(
        *on,
        F.col(right_ts).alias(_TS),
        F.lit(right_rank).alias(_SIDE),
        *value_cols,
    )
    l = left.withColumn(_TS, F.col(left_ts)).withColumn(_SIDE, F.lit(0))
    unioned = l.unionByName(r, allowMissingColumns=True)
    w = (
        W.partitionBy(*on)
        .orderBy(_TS, _SIDE)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    matched_ts = f"{_TS}_matched"
    out = unioned.select(
        "*",
        F.last(F.when(F.col(_SIDE) != 0, F.col(_TS)), ignorenulls=True)
        .over(w).alias(matched_ts),
        *[
            F.last(F.when(F.col(_SIDE) != 0, F.col(c)), ignorenulls=True)
            .over(w).alias(f"{c}__m")
            for c in value_cols
        ],
    ).filter(F.col(_SIDE) == 0)
    if tolerance_seconds is not None:
        in_tol = (
            F.unix_micros(F.col(left_ts)) - F.unix_micros(F.col(matched_ts))
        ) <= F.lit(int(tolerance_seconds) * 1_000_000)
        keep = F.col(matched_ts).isNotNull() & in_tol
        picked = [F.when(keep, F.col(f"{c}__m")).alias(c) for c in value_cols]
    else:
        picked = [F.col(f"{c}__m").alias(c) for c in value_cols]
    return out.select(*left.columns, *picked)


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    *,
    on: Sequence[str] = (),
    bucket_seconds: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Join each point row to every interval row with
    start_ts <= point_ts <= end_ts (plus optional equi keys `on`).

    Scale path: intervals explode to ceil(len/bucket)+1 bucket ids,
    points map to one bucket, and the join is a plain shuffle equi-join
    on (bucket, *on) with the range predicate as a post-filter — each
    (point, interval) pair meets in exactly one bucket, so no dedup is
    needed. Choose bucket_seconds near the typical interval length:
    shorter buckets replicate long intervals, longer buckets widen the
    post-filter.

    `how`: 'inner' or 'left' (left keeps unmatched points with null
    interval columns).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")
    bucket_us = int(bucket_seconds) * 1_000_000
    p = points.withColumn(_BUCKET, (F.unix_micros(F.col(point_ts)) / bucket_us).cast("long"))
    iv = intervals.withColumn(
        _BUCKET,
        F.explode(
            F.sequence(
                (F.unix_micros(F.col(start_ts)) / bucket_us).cast("long"),
                (F.unix_micros(F.col(end_ts)) / bucket_us).cast("long"),
            )
        ),
    )
    cond = (p[_BUCKET] == iv[_BUCKET])
    for k in on:
        cond = cond & (p[k] == iv[k])
    cond = cond & (p[point_ts] >= iv[start_ts]) & (p[point_ts] <= iv[end_ts])
    joined = p.join(iv, cond, how)
    iv_cols = [c for c in intervals.columns if c not in on]
    return joined.select(*[p[c] for c in points.columns], *[iv[c] for c in iv_cols])


def uid_window_join(
    req: DataFrame,
    conf: DataFrame,
    uid_left: str,
    uid_right: str,
    ts_left: str,
    ts_right: str,
    window_s: int,
) -> DataFrame:
    """``req LEFT JOIN conf ON uid AND ts_right IN [ts_left, ts_left+window_s]``
    with the window folded into the join KEY: conf rows replicate to the
    (at most two) window-wide time buckets they can serve, so the join
    is an equi-join on (uid, bucket) and the exact range predicate only
    re-checks inside a bucket.

    Why (r9, measured on the 500× OCPP fleet): the demo seed carries one
    degenerate correlation uuid repeated 1554× (every other uuid exactly
    2×, a real-data shape — retry storms and placeholder ids exist in
    every fleet). A plain uid equi-join evaluates the time predicate
    AFTER the per-key fanout, so that one key cost |calls|×|results|
    rows (events_conf measured 125M rows from 370k events at 500×) and
    landed on a single straggler task. Bucketing bounds per-key fanout
    by the rows inside one window width regardless of uid multiplicity.

    Pair multiplicity is unchanged: a req row has exactly one bucket b,
    and a conf row's two replicas carry distinct bucket keys, so each
    qualifying (req, conf) pair matches exactly once — left-join
    null-extension semantics are identical to the plain form."""
    if int(window_s) < 1:
        raise ValueError(
            f"uid_window_join: window_s must be >= 1 (got {window_s}); the "
            "bucket decomposition divides by the window width"
        )
    width_us = int(window_s) * 1_000_000
    b_left = F.floor(F.unix_micros(F.col(ts_left)) / F.lit(width_us))
    cb = F.floor(F.unix_micros(F.col(ts_right)) / F.lit(width_us))
    req2 = req.withColumn("__uwb", b_left)
    conf2 = conf.withColumn("__uwb", F.explode(F.array(cb - 1, cb)))
    out = req2.join(
        conf2,
        (F.col(uid_right) == F.col(uid_left))
        & (req2["__uwb"] == conf2["__uwb"])
        & (F.col(ts_right) >= F.col(ts_left))
        & (
            F.col(ts_right)
            <= F.col(ts_left) + F.expr(f"interval {int(window_s)} seconds")
        ),
        "left",
    )
    return out.drop("__uwb")
