"""Portable text primitives: tokenization, shingling, shingle hashing.

Every helper has a Spark-Column form and a DuckDB-SQL form that are
kept semantically identical, so dedup/similarity queries can be
oracle-checked value-for-value. The shared hash is the first 15 hex
digits of md5 (a 60-bit integer) — md5 is bit-identical across
engines, and 15 hex digits fit in int64.

All array transforms here are Spark higher-order functions
(JVM-side, no Python UDFs): tokenize → shingle → hash is a single
narrow projection, embarrassingly parallel at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 31-bit Mersenne prime: keeps a*h+b inside int64 (a,h < 2^31).
MERSENNE31 = 2_147_483_647


def tokenize(col: Column) -> Column:
    """Lowercased alphanumeric word tokens.

    Separator runs are collapsed to single spaces and trimmed BEFORE
    the split, so no empty tokens arise and no (interpreted)
    higher-order filter is needed — the whole tokenizer stays in
    whole-stage codegen.

    Cross-engine scope (r14 adversarial sweep, pinned by
    test_tokenize_chain_cross_engine_property): token output is
    byte-identical to the DuckDB mirror on arbitrary input —
    including CJK, emoji, combining marks, NBSP, Unicode line
    terminators, fullwidth digits, ß/Σ/ς — EXCEPT text containing
    U+0130 ('İ'): Java's lower() follows Unicode SpecialCasing
    ('İ' → 'i' + U+0307, and the combining dot then splits the
    token) while DuckDB's simple-folds to a bare 'i' (merging it
    with neighbors). The same known-divergence family the URL
    canonicalization property documents; real pipelines normalize
    such text upstream, and the driver corpus is ASCII.
    """
    return F.split(
        F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " ")), " ")


def tokenize_sql(expr: str) -> str:
    return (
        f"string_split(trim(regexp_replace(lower({expr}),"
        " '[^a-z0-9]+', ' ', 'g')), ' ')"
    )


def word_ngrams(tokens: Column, n: int, distinct: bool = False) -> Column:
    """Word n-grams as strings — OCCURRENCE list by default (the
    LM-counts / repetition flavor: duplicates kept), distinct set with
    ``distinct=True`` (the Jaccard/shingle flavor).

    Guarded for short docs: Spark's ``sequence(1, size-n+1)`` would
    count DOWN when size < n (default step -1), yielding garbage
    indices — return an empty array instead.

    One definition for the expression that was previously triplicated
    across shingles / ngram_counts / repetition_scores (r13 text
    review): the three copies could silently drift on the guard or
    the slice arithmetic.
    """
    # n < 1 would produce zero-length slices (every gram '') or an
    # up-counting sequence past the token count — silently meaningless
    # grams for every consumer (r14 second-pass review).
    if int(n) < 1:
        raise ValueError("n must be >= 1")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
    )
    if distinct:
        grams = F.array_distinct(grams)
    empty = F.array().cast("array<string>")
    return F.when(F.size(tokens) >= n, grams).otherwise(empty)


def shingles(tokens: Column, n: int) -> Column:
    """Distinct word n-grams as strings (set semantics for Jaccard)."""
    return word_ngrams(tokens, n, distinct=True)


def shingles_sql(tokens_expr: str, n: int) -> str:
    """NOTE (r14 adversarial sweep): DuckDB's list_distinct does NOT
    preserve first-occurrence order while Spark's array_distinct
    does, so on inputs with repeated n-grams the two engines return
    the same shingle SET in different ORDERS. Every consumer is
    order-invariant (list_min / list_sum / list_intersect / explode →
    group), which is what keeps the oracles exact — a query that ever
    rendered the shingle array itself as a result column would
    hash-diverge. Pinned by
    test_tokenize_chain_cross_engine_property."""
    return (
        f"list_distinct(list_transform(range(1, len({tokens_expr}) - {n - 2}),"
        f" i -> array_to_string(list_slice({tokens_expr}, i, i + {n - 1}), ' ')))"
    )


def hash60(col: Column) -> Column:
    """60-bit integer hash of a string: int(md5[:15], 16)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def shingle_hashes(text: Column, n: int) -> Column:
    """Distinct 60-bit hashes of the text's word n-grams."""
    return F.transform(shingles(tokenize(text), n), hash60)


def shingle_hashes_sql(expr: str, n: int) -> str:
    sh = shingles_sql(tokenize_sql(expr), n)
    return f"list_transform({sh}, s -> {hash60_sql('s')})"


def minhash_params(k: int) -> list[tuple[int, int]]:
    """k fixed (a, b) permutation constants from a deterministic LCG
    seeded with 1,234,567 — baked identically into the Spark plan and
    the oracle SQL."""
    params = []
    x = 1_234_567
    for _ in range(k):
        x = (1_103_515_245 * x + 12_345) % (1 << 31)
        a = (x | 1) % MERSENNE31 or 1
        x = (1_103_515_245 * x + 12_345) % (1 << 31)
        b = x % MERSENNE31
        params.append((a, b))
    return params
