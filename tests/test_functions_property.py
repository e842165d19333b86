"""Property-based cross-engine tests (hypothesis) for the audited scalar
helpers — SURVEY §7 risks 1 (boundary datediff), 4 (array semantics) and
the surrogate-key formula. Each property compares the Spark expression
against DuckDB evaluating the reference's own SQL on the same randomized
inputs."""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kwwhat_spark.functions.core import (
    array_union_sorted,
    bucket_15min,
    datediff_boundary,
    surrogate_key,
)

TS = st.datetimes(
    min_value=dt.datetime(2020, 1, 1),
    max_value=dt.datetime(2030, 12, 31),
).map(lambda d: d.replace(microsecond=0))

_SETTINGS = dict(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    return con


def _batch_compare(spark, duck, rows, spark_expr, duck_sql_per_row):
    df = spark.createDataFrame(rows, "a timestamp, b timestamp")
    got = [r["v"] for r in df.select(spark_expr.alias("v")).collect()]
    want = [
        duck.execute(duck_sql_per_row, [a, b]).fetchone()[0] for a, b in rows
    ]
    assert got == want, list(zip(rows, got, want))


@pytest.mark.full
@settings(**_SETTINGS)
@given(st.lists(st.tuples(TS, TS), min_size=1, max_size=20))
def test_datediff_minute_matches_duckdb(spark, duck, pairs):
    _batch_compare(
        spark, duck, pairs,
        datediff_boundary("minute", F.col("a"), F.col("b")),
        "select datediff('minute', ?::timestamp, ?::timestamp)",
    )


@pytest.mark.full
@settings(**_SETTINGS)
@given(st.lists(st.tuples(TS, TS), min_size=1, max_size=20))
def test_datediff_second_matches_duckdb(spark, duck, pairs):
    _batch_compare(
        spark, duck, pairs,
        datediff_boundary("second", F.col("a"), F.col("b")),
        "select datediff('second', ?::timestamp, ?::timestamp)",
    )


@pytest.mark.full
@settings(**_SETTINGS)
@given(st.lists(st.tuples(TS, TS), min_size=1, max_size=20))
def test_datediff_day_matches_duckdb(spark, duck, pairs):
    _batch_compare(
        spark, duck, pairs,
        datediff_boundary("day", F.col("a"), F.col("b")),
        "select datediff('day', ?::timestamp, ?::timestamp)",
    )


@pytest.mark.full
@settings(**_SETTINGS)
@given(st.lists(TS, min_size=1, max_size=20))
def test_bucket_15min_matches_reference_formula(spark, duck, stamps):
    rows = [(t, t) for t in stamps]
    _batch_compare(
        spark, duck, rows,
        bucket_15min(F.col("a")),
        # The reference's own bucket expression (int_meter_values.sql:156-160).
        "select date_trunc('minute', ?::timestamp) "
        " - interval (minute(?::timestamp) % 15) minute",
    )


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.text(
                alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="'"),
                max_size=20,
            )),
            st.one_of(st.none(), st.integers(min_value=-10**9, max_value=10**9)),
        ),
        min_size=1,
        max_size=20,
    )
)
@pytest.mark.full
def test_surrogate_key_matches_dbt_formula(spark, duck, rows):
    df = spark.createDataFrame(rows, "a string, b long")
    got = [r["v"] for r in df.select(surrogate_key("a", "b").alias("v")).collect()]
    want = [
        duck.execute(
            "select md5(coalesce(?::varchar, '_dbt_utils_surrogate_key_null_')"
            " || '-' || coalesce(?::varchar, '_dbt_utils_surrogate_key_null_'))",
            [a, b],
        ).fetchone()[0]
        for a, b in rows
    ]
    assert got == want


def test_array_union_sorted_null_cases(spark):
    """macros/array_concat.sql's null cases, then sort and distinct."""
    df = spark.createDataFrame(
        [(None, None), (["b", "a", "b"], None), (None, ["c", "a", "c"]), (["b"], ["a", "b"])],
        "a array<string>, b array<string>",
    )
    got = [r["v"] for r in df.select(array_union_sorted(F.col("a"), F.col("b")).alias("v"))
           .collect()]
    assert got == [None, ["a", "b"], ["a", "c"], ["a", "b"]]


# --- PII redaction: Spark (Java regex) vs DuckDB (RE2, 'g' flag) must
# agree byte-for-byte on redacted text and match counts — the regexes
# are deliberately restricted to the semantics-identical subset.

_TEXT_ALPHABET = st.sampled_from(
    list("abcXYZ 019.@+-_%") + ["@example.com", "user.name", "555-123-4567", "4111 1111 1111 1111", "a@b.co"]
)
_PII_TEXT = st.lists(_TEXT_ALPHABET, min_size=0, max_size=12).map(" ".join)


@pytest.mark.full
@settings(**_SETTINGS)
@given(st.lists(_PII_TEXT, min_size=1, max_size=15))
def test_redact_pii_matches_duckdb(spark, duck, texts):
    from kwwhat_spark.functions.text import EMAIL_RE, LONG_NUMBER_RE, redact_pii

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r.redacted, r.n_emails, r.n_long_numbers)
        for r in df.select(redact_pii("text").alias("r")).select("r.*").collect()
    ]
    want = []
    for t in texts:
        row = duck.execute(
            """
            WITH s1 AS (
              SELECT len(regexp_extract_all(?::VARCHAR, ?)) AS n_emails,
                     regexp_replace(?::VARCHAR, ?, '<EMAIL>', 'g') AS t1
            )
            SELECT regexp_replace(t1, ?, '<NUM>', 'g'), n_emails,
                   len(regexp_extract_all(t1, ?))
            FROM s1
            """,
            [t, EMAIL_RE, t, EMAIL_RE, LONG_NUMBER_RE, LONG_NUMBER_RE],
        ).fetchone()
        want.append((row[0], row[1], row[2]))
    assert got == want, list(zip(texts, got, want))


# ---------------------------------------------------------------------------
# repetition_signals vs a pure-Python reference: the sort/RLE mode, the
# dup-gram fractions, and the run-length logic are integer/string
# computations with exact-division doubles, so Python replays them
# exactly on arbitrary token streams.
# ---------------------------------------------------------------------------
def _py_signals(text: str):
    toks = [t for t in text.split() if t != ""]
    n = len(toks)
    if n == 0:
        return (0, 0.0, None, 0.0, 0.0, 0.0, 0)
    from collections import Counter

    counts = Counter(toks)
    top_word = min(counts, key=lambda w: (-counts[w], w))

    def dup_frac(k):
        occ = n - (k - 1)
        if occ < 1:
            return 0.0
        grams = [" ".join(toks[i : i + k]) for i in range(occ)]
        return (occ - len(set(grams))) / occ

    max_run = cur = 1
    for i in range(1, n):
        cur = cur + 1 if toks[i] == toks[i - 1] else 1
        max_run = max(max_run, cur)
    return (
        n,
        (n - len(counts)) / n,
        top_word,
        counts[top_word] / n,
        dup_frac(2),
        dup_frac(3),
        max_run,
    )


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "ab", "xyz", "q1", "-", "7"]),
            min_size=0, max_size=30,
        ).map(" ".join),
        min_size=1, max_size=8,
    )
)
@pytest.mark.full
@settings(**_SETTINGS)
def test_repetition_signals_match_python_reference(spark, texts):
    from kwwhat_spark.functions.text import repetition_signals

    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    out = df.select("id", repetition_signals("text").alias("r")).collect()
    for row in out:
        want = _py_signals(texts[row["id"]])
        got = (
            row["r"]["n_tokens"], row["r"]["word_rep_ratio"], row["r"]["top_word"],
            row["r"]["top_word_frac"], row["r"]["dup_2gram_frac"],
            row["r"]["dup_3gram_frac"], row["r"]["max_run_len"],
        )
        assert got == want, (texts[row["id"]], got, want)
