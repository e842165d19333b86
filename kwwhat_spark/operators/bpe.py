"""Distributed byte-pair-encoding (BPE) merge learning and application.

The tokenizer half of a training-data pipeline: learn the top-N BPE
merges from a corpus (Sennrich et al. 2016 word-level BPE — frequencies
over word TYPES weighted by their corpus counts, end-of-word marker), and
re-segment text with a learned merge table.

Distributed shape (the part that matters at 100 TB):
  - The corpus collapses to a WORD-TYPE frequency table first (one
    combinable count shuffle); every subsequent round works on the type
    table, whose size is the vocabulary (Heaps-law sublinear in corpus
    size), not the token stream.
  - Each merge round is: adjacent-pair explode weighted by type count →
    combinable groupBy sum → a 1-row argmax to the driver (the chosen
    merge is the ONLY driver state) → Arrow-batched re-segmentation of
    the type table (mapInPandas; per-type work, not per-token).
  - Applying a learned table to new text re-segments each word TYPE once
    (dedupe → mapInPandas → broadcast join back to the token stream).

Iterative driver loop = genuinely non-SQL-expressible, so the catalog
entry is rows-only by documented structural necessity; exactness is
pinned locally against a pure-Python reference implementation over
randomized corpora (tests/test_bpe.py).

Determinism: ties in the pair argmax break on (count desc, left asc,
right asc) — a total order — so the learned table is unique for a given
corpus regardless of partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kwwhat_spark.operators.cachescope import keep, release, scope

EOW = "</w>"

# GPT-2-style pre-tokenizer (Radford et al. 2019, public): contractions,
# optionally-space-prefixed letter/number/punctuation runs, trailing
# whitespace. Java regex (Spark's regexp_extract_all) supports \p{L},
# \p{N} and the (?!\S) lookahead directly.
GPT2_SPLIT_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"
    r"|\s+(?!\S)|\s+"
)

# Java's \s is ASCII-only by default, while the Python `regex` module
# (the pinned reference in tests/test_bpe.py) treats \s as Unicode
# whitespace — without alignment, U+00A0/U+3000 would be classified as
# punctuation by the JVM but whitespace by the reference. (?U)
# (UNICODE_CHARACTER_CLASS) makes the JVM side Unicode-aware; it is a
# JVM-only inline flag (Python regex is already Unicode-default and
# rejects uppercase (?U)), so it is prepended ONLY on the Spark side.
_JVM_GPT2_SPLIT_PATTERN = "(?U)" + GPT2_SPLIT_PATTERN


def gpt2_pretokenize(col) -> Column:
    """Array of GPT-2 pre-tokens for a string column — JVM codegen
    regexp_extract_all with Unicode character classes, byte-for-byte
    equal to `regex.findall(GPT2_SPLIT_PATTERN, text)` in Python."""
    return F.regexp_extract_all(col, F.lit(_JVM_GPT2_SPLIT_PATTERN), F.lit(0))


def bytes_to_unicode() -> dict[int, str]:
    """The standard byte->printable-unicode bijection of byte-level BPE
    (GPT-2 convention): visible latin-1 bytes map to themselves; the
    remaining 68 bytes (controls, space, 0x7F-0xA0, 0xAD) map to
    256, 257, ... in increasing byte order. Merges then operate on
    strings while representing raw UTF-8 bytes — no unknown-token
    escape hatch needed."""
    visible = (
        list(range(0x21, 0x7F)) + list(range(0xA1, 0xAD)) + list(range(0xAE, 0x100))
    )
    vis = set(visible)
    mapping: dict[int, str] = {}
    extra = 0
    for b in range(256):
        if b in vis:
            mapping[b] = chr(b)
        else:
            mapping[b] = chr(256 + extra)
            extra += 1
    return mapping


def _word_types(df: DataFrame, text_col: str) -> DataFrame:
    """(symbols array<string>, cnt long): character-split word types with
    the end-of-word marker fused onto the final character."""
    words = df.select(
        F.explode(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
        ).alias("__w")
    )
    types = words.groupBy("__w").agg(F.count(F.lit(1)).alias("cnt"))
    # split('') yields chars; fuse EOW onto the last char (standard BPE
    # word-boundary convention: 'low' -> [l, o, w</w>]).
    return types.select(
        F.expr(
            f"transform(split(__w, ''), (c, i) -> "
            f"CASE WHEN i = length(__w) - 1 THEN c || '{EOW}' ELSE c END)"
        ).alias("symbols"),
        "cnt",
    )


def _byte_types(
    df: DataFrame, text_col: str, pretokenizer: str = "gpt2"
) -> DataFrame:
    """(symbols array<string>, cnt long): byte-level pre-token types.

    Pre-tokenization runs JVM-side as a codegen expression; only the
    DISTINCT pre-token types cross into Python (Arrow-batched) for
    UTF-8 byte mapping — per-TYPE work bounded by the vocabulary, not
    the token stream, exactly like the word-level path. No end-of-word
    marker: byte-level BPE carries the word boundary in the
    leading-space convention of the pre-tokenizer itself.

    ``pretokenizer='gpt2'`` is the production shape (GPT2_SPLIT_PATTERN,
    regex lookahead — not RE2-replayable); ``'whitespace'`` splits on
    \\s+ (SQL-replayable) so the byte->unicode bijection and the byte
    merge loop can sit under the DuckDB value-hash gate."""
    import pandas as pd

    b2u = bytes_to_unicode()

    if pretokenizer == "gpt2":
        unit = gpt2_pretokenize(F.col(text_col))
    elif pretokenizer == "whitespace":
        unit = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    else:
        raise ValueError(f"unknown pretokenizer: {pretokenizer!r}")
    pres = df.select(F.explode(unit).alias("__w"))
    types = pres.groupBy("__w").agg(F.count(F.lit(1)).alias("cnt"))

    def to_syms(batches):
        for pdf in batches:
            out = [[b2u[b] for b in w.encode("utf-8")] for w in pdf["__w"]]
            yield pd.DataFrame({"symbols": out, "cnt": pdf["cnt"]})

    return types.mapInPandas(to_syms, schema="symbols array<string>, cnt long")


def _pair_counts(types: DataFrame) -> DataFrame:
    pairs = types.select(
        F.explode(
            F.arrays_zip(
                F.expr("slice(symbols, 1, size(symbols)-1)"),
                F.expr("slice(symbols, 2, size(symbols)-1)"),
            )
        ).alias("__pr"),
        "cnt",
    ).select(
        F.col("__pr")["0"].alias("left"),
        F.col("__pr")["1"].alias("right"),
        "cnt",
    )
    return pairs.groupBy("left", "right").agg(F.sum("cnt").alias("pair_count"))


def _merge_types(types: DataFrame, left: str, right: str) -> DataFrame:
    """Fuse every adjacent (left, right) into one symbol, left-to-right
    greedily (Arrow-batched; per word TYPE)."""
    import pandas as pd

    merged_sym = left + right

    def apply(batches):
        for pdf in batches:
            out = []
            for syms in pdf["symbols"]:
                syms = list(syms)
                res = []
                i = 0
                n = len(syms)
                while i < n:
                    if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                        res.append(merged_sym)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                out.append(res)
            yield pd.DataFrame({"symbols": out, "cnt": pdf["cnt"]})

    return types.mapInPandas(apply, schema="symbols array<string>, cnt long")


def learn_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    *,
    n_merges: int = 24,
    level: str = "word",
    pretokenizer: str = "gpt2",
) -> list[tuple[int, str, str, int]]:
    """Learn the top-``n_merges`` BPE merges: [(rank, left, right,
    pair_count)], rank 1 = first merge. Stops early when no pair occurs
    twice (nothing left worth fusing).

    ``level='word'`` is 2016-style word BPE (whitespace pre-tokenizer,
    </w> marker); ``level='byte'`` is the modern byte-level shape
    (GPT-2 regex pre-tokenizer + byte->unicode alphabet; pass
    ``pretokenizer='whitespace'`` for the SQL-replayable twin shape).
    Both share the identical distributed merge loop over the type
    table."""
    if level == "word":
        types = _word_types(df, text_col)
    elif level == "byte":
        types = _byte_types(df, text_col, pretokenizer)
    else:
        raise ValueError(f"unknown BPE level: {level!r}")
    with scope():
        types = keep(types.localCheckpoint(eager=True))
        merges: list[tuple[int, str, str, int]] = []
        for rank in range(1, n_merges + 1):
            top = (
                _pair_counts(types)
                .orderBy(F.col("pair_count").desc(), F.col("left").asc(), F.col("right").asc())
                .limit(1)
                .collect()
            )
            if not top or top[0]["pair_count"] < 2:
                break
            left, right, cnt = top[0]["left"], top[0]["right"], int(top[0]["pair_count"])
            merges.append((rank, left, right, cnt))
            nxt = keep(_merge_types(types, left, right).localCheckpoint(eager=True))
            release(types)
            types = nxt
    return merges


def _merge_seq(syms: list[str], order: list[tuple[str, str]]) -> list[str]:
    """Apply a learned merge sequence to one symbol list (greedy
    left-to-right per merge, in rank order — Sennrich apply semantics)."""
    for left, right in order:
        i, res, n = 0, [], len(syms)
        while i < n:
            if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                res.append(left + right)
                i += 2
            else:
                res.append(syms[i])
                i += 1
        syms = res
    return syms


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    level: str = "word",
) -> DataFrame:
    """Segment each document with a learned merge table; returns
    (id_col, n_words, n_bpe_tokens, tokens_per_word) — with
    ``level='byte'`` the unit is GPT-2 pre-tokens (n_words counts
    pre-tokens; byte->unicode alphabet before merging, no </w>).
    Re-segments each distinct word/pre-token TYPE once and
    broadcast-joins back to the token stream — per-type cost, not
    per-token."""
    import pandas as pd

    order = [(m[1], m[2]) for m in sorted(merges, key=lambda m: m[0])]
    if level == "word":
        unit = F.explode(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
        )
    elif level == "byte":
        unit = F.explode(gpt2_pretokenize(F.col(text_col)))
    else:
        raise ValueError(f"unknown BPE level: {level!r}")
    b2u = bytes_to_unicode() if level == "byte" else None

    words = df.select(F.col(id_col), unit.alias("__w"))
    types = words.select("__w").distinct()

    def segment(batches):
        for pdf in batches:
            counts = []
            for w in pdf["__w"]:
                if b2u is not None:
                    syms = [b2u[b] for b in w.encode("utf-8")]
                else:
                    syms = list(w[:-1]) + [w[-1] + EOW] if w else []
                counts.append(len(_merge_seq(syms, order)))
            yield pd.DataFrame({"__w": pdf["__w"], "__n_sym": counts})

    seg = types.mapInPandas(segment, schema="__w string, __n_sym long")
    return (
        words.join(F.broadcast(seg), "__w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__n_sym").alias("n_bpe_tokens"),
            (F.sum("__n_sym") / F.count(F.lit(1))).alias("tokens_per_word"),
        )
    )
