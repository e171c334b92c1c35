"""Deterministic, engine-portable hashing primitives for dedup sketches.

Design decision: every sketch derives from ``md5`` hex digests, because
Spark and DuckDB produce byte-identical md5 hex — which makes every
sketch operator oracle-checkable. MinHash uses the Kirsch-Mitzenmacher
construction (``operators/dedup.km_signature``): one md5 per shingle
expanded into k 32-bit integer family members via ``(h1 + i·h2) mod 2³²``
— k× cheaper than k seeded hashes, and signatures shuffle as longs, not
hex strings. At 100 TB you'd swap the md5 base hash for ``xxhash64`` (no
hex round-trip) — the operator shapes are unchanged; the md5 variant is
the portable/testable reference implementation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def seeded_md5(col: Column, seed: int) -> Column:
    """md5 hex of ``seed || ':' || value`` — one independent hash family
    member per seed."""
    return F.md5(F.concat(F.lit(f"{seed}:"), col))


def word_tokens(text: Column) -> Column:
    """Lowercased whitespace tokens (empty tokens removed)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an ALREADY-MATERIALIZED token
    array column. Callers on the hot path should tokenize into a real
    column first (ideally behind an exchange) so the tokenization
    expression is evaluated once, not once per reference — the
    interpreted higher-order pipeline below references the array ~6×.
    """
    k = F.size(toks)
    # arrays_zip of n shifted slices, NOT element_at(toks, i) inside the
    # lambda: interpreted higher-order functions re-evaluate the full
    # tokenization expression on every element_at reference (~3× per
    # shingle), which turns shingling quadratic-ish per document. The
    # zip form evaluates the token array a constant number of times.
    shifted = [F.slice(toks, j + 1, F.greatest(k - (n - 1), F.lit(0))) for j in range(n)]
    grams = F.transform(
        F.arrays_zip(*shifted),
        lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)]),
    )
    return F.array_distinct(
        F.when(k >= n, grams).otherwise(F.array(F.array_join(toks, " ")))
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of lowercased text.

    The shingle basis for MinHash / Jaccard dedup. Documents shorter
    than ``n`` words fall back to their full token sequence as a single
    shingle, so short docs still participate. Convenience composition —
    for large corpora prefer tokenizing into a column and calling
    ``shingles_from_tokens`` (see its docstring).
    """
    return shingles_from_tokens(word_tokens(text), n)


def hex4_to_int(hex4: Column) -> Column:
    """First-4-hex-chars → 16-bit int, via conv (portable: the oracle
    reproduces it with position arithmetic)."""
    return F.conv(hex4, 16, 10).cast("int")


def simhash16(tokens: Column) -> Column:
    """16-bit SimHash over a token array.

    Classic sign-of-weighted-bit-sums construction: each token
    contributes +1/-1 to each of 16 bit positions according to the bits
    of its (md5-derived) 16-bit hash; the fingerprint sets bit i when
    the sum is positive. Pure columnar fold — per-row, no shuffle.
    """
    tok_hashes = F.transform(tokens, lambda t: hex4_to_int(F.substring(F.md5(t), 1, 4)))
    # accumulate per-bit counts in an array<int>[16] via aggregate fold
    zero = F.array(*[F.lit(0) for _ in range(16)])
    counts = F.aggregate(
        tok_hashes,
        zero,
        lambda acc, h: F.array(*[
            acc[i] + F.when(h.bitwiseAND(F.lit(1 << i)) > 0, 1).otherwise(-1)
            for i in range(16)
        ]),
    )
    bits = [F.when(counts[i] > 0, F.lit(1 << i)).otherwise(F.lit(0)) for i in range(16)]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")
