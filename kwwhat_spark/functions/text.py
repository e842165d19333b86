"""Text-analysis column expressions for LLM-data pipelines.

All pure Column expressions (whole-stage codegen, no UDFs): shingling,
token counting, quality scoring, language-ID heuristic, fingerprints.
At 100 TB these run inside the scan stage — no shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def let_(expr: Column, body) -> Column:
    """Let-binding for column expressions: evaluate `expr` ONCE per row and
    pass the bound value to `body`.

    Catalyst inlines projection columns into their consumers, so an
    expression referenced N times inside higher-order functions is
    re-evaluated N times per row — e.g. a MinHash that reads a shingle
    array once per seed re-runs the whole tokenize+shingle pipeline 32×
    (measured 100× slowdown at sf0.1). `transform` over a single-element
    array is the expression-level let: the lambda argument is evaluated
    once and bound. Pure expression — stays in whole-stage codegen.
    """
    return F.element_at(F.transform(F.array(expr), body), 1)


def whitespace_token_count(text: Column | str) -> Column:
    """Tokens = non-empty whitespace-separated chunks."""
    c = _col(text)
    return F.size(F.filter(F.split(c, r"\s+"), lambda t: t != ""))


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """k-word shingles (space-joined), for MinHash/Jaccard on documents.

    Built in ONE codegen regex pass: normalize whitespace runs to single
    spaces (trim AFTER the replace so tab/newline edges strip too), then
    a zero-width lookahead anchored at token boundaries captures every
    overlapping k-token run. Fewer than k tokens falls back to the whole
    normalized string, so the output is element-for-element identical to
    the r1-r10 form (filter/split tokens → transform(sequence) →
    concat_ws(slice)) — which ran ENTIRELY in the interpreted
    higher-order-function evaluator and was 80%+ of the MinHash
    signature wall (r11 probe at sf10/5e5 docs: 12.7 s HOF vs 1.9 s
    regex for the same 27M shingles; the r9 "HOFs are never codegen'd"
    lesson, hiding one level deeper). regexp_extract_all and
    regexp_replace are both whole-stage-codegen expressions."""
    norm = F.trim(F.regexp_replace(_col(text), r"\s+", " "))
    pat = r"(?=(?:^| )([^ ]+" + r"(?: [^ ]+)" * (k - 1) + r"))"
    return let_(
        norm,
        lambda n: let_(
            F.regexp_extract_all(n, F.lit(pat), 1),
            lambda sh: F.when(F.size(sh) > 0, sh).otherwise(F.array(n)),
        ),
    )


def punctuation_ratio(text: Column | str) -> Column:
    c = _col(text)
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return (punct / F.greatest(F.length(c), F.lit(1))).cast("double")


def digit_ratio(text: Column | str) -> Column:
    c = _col(text)
    digits = F.length(c) - F.length(F.regexp_replace(c, r"[0-9]", ""))
    return (digits / F.greatest(F.length(c), F.lit(1))).cast("double")


_STOPWORDS = (
    "the a an and or of to in is are was were be it this that for on with as at by".split()
)


def stopword_ratio(text: Column | str) -> Column:
    return let_(
        F.filter(F.split(F.lower(_col(text)), r"\s+"), lambda t: t != ""),
        lambda toks: (
            F.size(F.filter(toks, lambda t: t.isin(_STOPWORDS)))
            / F.greatest(F.size(toks), F.lit(1))
        ).cast("double"),
    )


def quality_score(text: Column | str) -> Column:
    """Composite heuristic quality in [0,1]: length-normalized, penalizes
    extreme punctuation/digit density, rewards stopword presence
    (Gopher/C4-style rules, public heuristics)."""
    c = _col(text)
    length_term = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punctuation_ratio(c) * 4, F.lit(1.0))
    digit_term = F.lit(1.0) - F.least(digit_ratio(c) * 4, F.lit(1.0))
    stop_term = F.least(stopword_ratio(c) * 5, F.lit(1.0))
    return ((length_term + punct_term + digit_term + stop_term) / 4).cast("double")


# Tiny per-language marker sets (public stopword lists); scored by marker
# hits — a deterministic n-gram-style heuristic, not a trained model.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "los", "es", "de"],
    "zh": ["的", "是", "不", "了", "在"],
}


def lang_id(text: Column | str) -> Column:
    """Marker-based language guess with deterministic tie-break (marker
    count desc, then language code asc)."""
    toks = F.split(F.lower(_col(text)), r"\s+")

    # NB: closures, not default-arg lambdas — pyspark counts lambda params,
    # so `lambda t, m=markers:` would be treated as an (element, index)
    # lambda and silently bind m to the index column.
    def marker_hits(markers):
        return F.size(F.filter(toks, lambda t: t.isin(markers)))

    scores = [
        F.struct(
            marker_hits(markers).alias("hits"),
            F.lit(-1 * i).alias("tiebreak"),  # stable order by declaration
            F.lit(lang).alias("lang"),
        )
        for i, (lang, markers) in enumerate(_LANG_MARKERS.items())
    ]
    return F.greatest(*scores).getField("lang")


def doc_fingerprint(text: Column | str, replayable: bool = False) -> Column:
    """64-bit content fingerprint of whitespace/case-normalized text
    (replayable=True: 52-bit md5 prefix, identical in DuckDB)."""
    normalized = F.lower(F.regexp_replace(_col(text), r"\s+", " "))
    return md5_52(normalized) if replayable else F.xxhash64(normalized)


def md5_52(col: Column) -> Column:
    """52-bit integer from the md5 hex prefix — the cross-engine
    replayable hash family (DuckDB computes the identical value as
    ('0x' || substr(md5(x), 1, 13))::UBIGINT). Slower and with less
    spread than xxhash64; use it where an external engine must replay
    the sketch bit-for-bit (oracle-gated dedup entries), xxhash64
    everywhere else."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 13), 16, 10).cast("long")


def md5_52_seeded(h: Column, seed: int) -> Column:
    """Seeded member of the md5_52 family: hash of 'seed:h'."""
    return md5_52(F.concat_ws(":", F.lit(seed), h.cast("string")))


MINHASH_MASK52 = (1 << 52) - 1


def minhash_seed_pair(h: Column, replayable: bool = False) -> tuple[Column, Column]:
    """(h1, h2) double-hashing base pair from a base shingle hash ``h``
    — two real hash evaluations per shingle instead of one per seed.
    The full seed family is h1 XOR rot52(h2, k_i) (minhash_slot). Both
    values are masked to 52 bits so the rotate width is well-defined
    (rot52 rotates within the 52-bit lane) and so the replayable family
    is the exact integer DuckDB recomputes."""
    if replayable:
        h1 = h  # md5_52 output is already 52-bit
        h2 = md5_52_seeded(h, 1)
    else:
        h1 = h.bitwiseAND(F.lit(MINHASH_MASK52))
        h2 = F.xxhash64(h, F.lit(1)).bitwiseAND(F.lit(MINHASH_MASK52))
    return h1, h2


def minhash_slot(h1: Column, h2: Column, i: int) -> Column:
    """Seed-``i`` member of the two-hash MinHash family:
    h_i = h1 XOR rot52(h2, (7*i+3) % 52). The rotation decorrelates
    slots — the naive Kirsch-Mitzenmacher form h1 + i*h2 lets one
    shingle with small (h1, h2) win MANY slots, which inflates band
    collisions for LOW-Jaccard pairs (measured at sf0.1: 262 candidate
    pairs vs 255 under the per-seed digest family; the rotate form
    restores 256). The left shift masks first so the shifted part stays
    inside a signed long — the identical expression replays in DuckDB."""
    k = (7 * i + 3) % 52
    rot = (
        h2.bitwiseAND(F.lit(MINHASH_MASK52 >> k)) * F.lit(1 << k)
    ).bitwiseOR(F.shiftright(h2, 52 - k))
    return h1.bitwiseXOR(rot)


def minhash_from_hashed(
    hashed: Column, num_hashes: int = 32, seed_hash=None, replayable: bool = False
) -> Column:
    """MinHash signature over ALREADY-HASHED shingles (array<long>).
    Exposed separately so callers that keep a hashed shingle-set column
    (minhash_lsh_pairs) hash each string exactly once across signature
    AND verification.

    Two constructions, chosen by hash family (r10 A/B, sf0.1 pairs
    entry, alternating in-process trials):

    - non-replayable: per-seed family xxhash64(h, i) — ONE expression
      node per (element, seed). Higher-order-function lambdas run in
      the INTERPRETED evaluator where cost scales with node count, so
      the 6-node rotate arithmetic of minhash_slot is ~30% slower here
      (1.40 s vs 1.07 s full entry) despite doing less "real" work.
      This array form is for callers that already hold per-doc arrays;
      the corpus-scale explode + groupBy-min path (operators/dedup.py
      minhash_banded) uses the double-hash rotate family in WHOLE-STAGE
      CODEGEN, where it wins (sf100 components 512→324 s).
    - replayable=True: the md5_52 double-hash rotate family
      h_i = h1 XOR rot52(h2, k_i) (minhash_seed_pair / minhash_slot) —
      TWO md5 digests per shingle instead of one per seed, and exactly
      the integers the DuckDB oracles recompute. The rotation schedule
      k=(7*i+3)%52 has period 52, so num_hashes > 52 is rejected
      (duplicate slots would silently degrade band independence).

    ``seed_hash`` is accepted for backward compatibility and implies
    replayable=True — md5_52_seeded is the only supported family; any
    other callable raises rather than being silently replaced."""
    if seed_hash is not None:
        if seed_hash is not md5_52_seeded:
            raise ValueError(
                "minhash_from_hashed: custom seed_hash families are not "
                "supported (only md5_52_seeded for back-compat); the "
                "md5_52 rotate family would silently replace it"
            )
        replayable = True

    if not replayable:
        def seeded(i):
            # Factory, NOT a default-arg lambda: F.transform treats a
            # two-parameter callable as (element, array_index) and would
            # silently bind the index over the seed.
            return lambda h: F.xxhash64(h, F.lit(i))

        return F.array(
            *[F.array_min(F.transform(hashed, seeded(i))) for i in range(num_hashes)]
        )

    if num_hashes > 52:
        raise ValueError(
            f"minhash_from_hashed: num_hashes={num_hashes} > 52 would repeat "
            "rotation offsets (period-52 schedule) and duplicate signature slots"
        )

    def slot(i):
        # Factory for the same reason as above: zip_with would otherwise
        # close over the loop variable and bind every slot to the last seed.
        return lambda x, y: minhash_slot(x, y, i)

    def pair_arrays(hs: Column) -> Column:
        # Two parallel primitive long arrays instead of one array of
        # structs (r9's shape): struct elements cost a per-element
        # GenericInternalRow plus interpreted getField in every slot
        # lambda; primitive arrays stay in UnsafeArrayData.
        h1s = F.transform(hs, lambda h: minhash_seed_pair(h, True)[0])
        h2s = F.transform(hs, lambda h: minhash_seed_pair(h, True)[1])
        return let_(
            h1s,
            lambda a1: let_(
                h2s,
                lambda a2: F.array(
                    *[
                        F.array_min(F.zip_with(a1, a2, slot(i)))
                        for i in range(num_hashes)
                    ]
                ),
            ),
        )

    return let_(hashed, pair_arrays)


def minhash_signature(
    shingles: Column, num_hashes: int = 32, replayable: bool = False
) -> Column:
    """MinHash signature: hash each shingle string ONCE, then derive the
    per-seed family by double hashing (minhash_from_hashed) — two hash
    evaluations per shingle regardless of num_hashes. Pure expression,
    shingle array bound once (let_). replayable=True uses the md5_52
    family throughout (see md5_52)."""
    shingle_hash = md5_52 if replayable else F.xxhash64
    return let_(
        F.transform(shingles, lambda s: shingle_hash(s)),
        lambda hashed: minhash_from_hashed(hashed, num_hashes, replayable=replayable),
    )


def simhash64(tokens: Column, replayable: bool = False) -> Column:
    """64-bit SimHash over a token array: sign-sum per bit of xxhash64.
    Token hashes are computed once and let_-bound; the 64 bit votes then
    iterate over 8-byte longs only. replayable=True votes over the
    52-bit md5_52 token hash instead — fewer bits, but every bit is
    recomputable in DuckDB SQL (the sketch itself goes under the
    value-hash gate, dedup_simhash_replayable)."""
    n_bits = 52 if replayable else 64
    token_hash = md5_52 if replayable else F.xxhash64

    def from_hashed(h: Column) -> Column:
        def bit_vote(mask):
            return F.aggregate(
                h,
                F.lit(0).cast("long"),
                lambda acc, x: acc
                + F.when(x.bitwiseAND(mask) != 0, F.lit(1)).otherwise(F.lit(-1)),
            )

        bits = []
        for b in range(n_bits):
            # Two's-complement literal: bit 63 is the sign bit of a long.
            mask = F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")
            bits.append(
                F.when(bit_vote(mask) > 0, mask).otherwise(F.lit(0).cast("long"))
            )
        out = bits[0]
        for b in bits[1:]:
            out = out.bitwiseOR(b)
        return out

    return let_(F.transform(tokens, lambda t: token_hash(t)), from_hashed)


def _run_starts(arr: Column, n: Column) -> Column:
    """Start indexes (1-based) of equal-value runs in `arr` (length `n`).
    CASE guards the i-1 access so ANSI element_at never sees index 0."""
    return F.filter(
        F.sequence(F.lit(1), n),
        lambda i: F.when(i == 1, F.lit(True)).otherwise(
            F.element_at(arr, i) != F.element_at(arr, i - 1)
        ),
    )


def _run_structs(arr: Column, n: Column) -> Column:
    """Array of struct(run_len, value) for each equal-value run."""

    def from_starts(starts: Column) -> Column:
        m = F.size(starts)
        return F.transform(
            F.sequence(F.lit(1), m),
            lambda j: F.struct(
                (
                    F.when(j < m, F.element_at(starts, j + 1)).otherwise(n + 1)
                    - F.element_at(starts, j)
                ).alias("run_len"),
                F.element_at(arr, F.element_at(starts, j)).alias("value"),
            ),
        )

    return let_(_run_starts(arr, n), from_starts)


def _dup_gram_frac(toks: Column, n: Column, k: int) -> Column:
    """Fraction of k-gram occurrences that are repeats of an earlier
    occurrence within the document: (occurrences − distinct)/occurrences.
    0.0 when the document has fewer than k tokens."""
    occ = n - (k - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(occ, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    return (
        F.when(occ >= 1, (occ - F.size(F.array_distinct(grams))) / occ)
        .otherwise(F.lit(0.0))
        .cast("double")
    )


def dup_gram_frac(text: Column | str, k: int) -> Column:
    """Repeated k-gram occurrence mass of one document, standalone:
    (occurrences − distinct k-grams) / occurrences, 0.0 below k tokens.

    Use THIS when a pipeline gates on a single repetition signal.
    ``repetition_signals(...)["dup_3gram_frac"]`` looks like a one-field
    read, but Catalyst cannot simplify GetStructField through the
    CASE WHEN wrapping the struct, so the ENTIRE signal struct — token
    sort + run-length encoding for the mode, both gram families —
    evaluates per row for one consumed field (measured r12 at sf0.1,
    same-window: full-struct gate 4.7–9.9 s vs 1.0 s for the single
    signal). The gram build here is the word_shingles codegen regex
    pass, not the interpreted transform/slice HOF (~20% further,
    0.77 s; the r11 shingle lesson). Value-identical to the struct
    field: 0 mismatches over the full sf0.1 corpus."""
    c = _col(text)
    occ = whitespace_token_count(c) - (k - 1)
    return let_(
        occ,
        lambda o: F.when(
            o >= 1,
            (o - F.size(F.array_distinct(word_shingles(c, k)))) / o,
        )
        .otherwise(F.lit(0.0))
        .cast("double"),
    )


def repetition_signals(text: Column | str) -> Column:
    """Gopher-style within-document repetition signals as ONE pure
    expression struct (no shuffle, no UDF — runs inside the scan stage):

    - n_tokens: whitespace token count
    - word_rep_ratio: (tokens − distinct tokens)/tokens — mass of repeats
    - top_word / top_word_frac: the modal token (tie-break: highest count
      then lexicographically smallest) and its occurrence fraction
    - dup_2gram_frac / dup_3gram_frac: repeated n-gram occurrence mass
    - max_run_len: longest consecutive run of one token (stutter)

    The mode is computed by sorting the token array and run-length
    encoding it — O(n log n) per row, bounded by document length, so the
    operator stays narrow at any corpus scale (cf. Gopher §A1.1 rules;
    the reference has no text-quality surface — this extends it for
    training-data curation).
    """

    def build(toks: Column) -> Column:
        n = F.size(toks)

        def from_sorted_runs(runs: Column) -> Column:
            best = F.array_min(
                F.transform(
                    runs,
                    lambda r: F.struct(
                        (-r["run_len"]).alias("neg_count"),
                        r["value"].alias("word"),
                    ),
                )
            )
            max_run = F.array_max(
                F.transform(_run_structs(toks, n), lambda r: r["run_len"])
            )
            return F.struct(
                n.alias("n_tokens"),
                ((n - F.size(F.array_distinct(toks))) / n)
                .cast("double")
                .alias("word_rep_ratio"),
                best["word"].alias("top_word"),
                (-best["neg_count"] / n).cast("double").alias("top_word_frac"),
                _dup_gram_frac(toks, n, 2).alias("dup_2gram_frac"),
                _dup_gram_frac(toks, n, 3).alias("dup_3gram_frac"),
                max_run.alias("max_run_len"),
            )

        return F.when(n == 0, build_empty()).otherwise(
            let_(_run_structs(F.sort_array(toks), n), from_sorted_runs)
        )

    def build_empty() -> Column:
        return F.struct(
            F.lit(0).alias("n_tokens"),
            F.lit(0.0).alias("word_rep_ratio"),
            F.lit(None).cast("string").alias("top_word"),
            F.lit(0.0).alias("top_word_frac"),
            F.lit(0.0).alias("dup_2gram_frac"),
            F.lit(0.0).alias("dup_3gram_frac"),
            F.lit(0).alias("max_run_len"),
        )

    return let_(
        F.filter(F.split(_col(text), r"\s+"), lambda t: t != ""), build
    )


# PII scrubbing patterns — deliberately restricted to regex constructs
# with identical semantics in Java regex (Spark) and RE2 (DuckDB 'g'
# flag), so the oracle can replay redaction bit-for-bit.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONG_NUMBER_RE = r"[0-9][0-9 -]{7,}[0-9]"


def redact_pii(text: Column | str) -> Column:
    """Struct(redacted, n_emails, n_long_numbers): emails then long
    digit runs (phones, card numbers) replaced with typed placeholders.
    Narrow per-row transform — pipelines into the scan, no shuffle."""
    c = _col(text)
    n_emails = F.regexp_count(c, F.lit(EMAIL_RE))
    step1 = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    n_nums = F.regexp_count(step1, F.lit(LONG_NUMBER_RE))
    step2 = F.regexp_replace(step1, LONG_NUMBER_RE, "<NUM>")
    return F.struct(
        step2.alias("redacted"),
        n_emails.alias("n_emails"),
        n_nums.alias("n_long_numbers"),
    )


def canonicalize_url(url: Column | str) -> Column:
    """Canonical form of an http(s) URL — the first step of crawl-level
    URL deduplication (the same URL arrives as dozens of variants in a
    real crawl):

    - scheme and host lowercased; default ports stripped (http:80,
      https:443), other ports kept;
    - userinfo (``user[:password]@``) stripped — RFC 3986 host identity
      excludes it, and leaving it in would split host/port at the wrong
      colon; bracketed IPv6 host literals (``[::1]:8080``) kept intact;
    - fragment dropped;
    - path: duplicate slashes collapsed, trailing slashes stripped,
      empty path becomes "/";
    - query: parameters split, tracking params dropped (utm_*, fbclid,
      gclid), the rest sorted (order-insensitive identity), empty query
      dropped.

    Pure built-in expressions (regexp + array ops — codegen, no UDF),
    and every regex is both Java- and RE2-compatible so the DuckDB
    oracle replays it verbatim."""
    u = F.col(url) if isinstance(url, str) else url
    u = F.regexp_replace(u, r"#.*$", "")  # fragment
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.regexp_extract(rest, r"^([^/?]*)", 1)
    pathq = F.regexp_replace(rest, r"^[^/?]*", "")
    # Host cannot contain '@' (RFC 3986), so userinfo is everything up
    # to the LAST '@' — strip it greedily before the host/port split.
    hostport = F.regexp_replace(hostport, r"^.*@", "")
    # Bracketed IPv6 literal: the host is the whole [...] token; the
    # plain ^([^:]*) split would truncate it at the first ':'.
    bracket = F.regexp_extract(hostport, r"^(\[[^\]]*\])", 1)
    host = F.lower(
        F.when(bracket != "", bracket).otherwise(
            F.regexp_extract(hostport, r"^([^:]*)", 1)
        )
    )
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    default_port = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    port_part = F.when(
        (port == "") | default_port, F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    path = F.regexp_replace(F.regexp_replace(path, r"/{2,}", "/"), r"/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "")
            & ~p.rlike(r"^(utm_[^=]*|fbclid|gclid)="),
        )
    )
    q_norm = F.array_join(params, "&")
    query_part = F.when(q_norm == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), q_norm)
    )
    return F.concat(scheme, F.lit("://"), host, port_part, path, query_part)
