"""Differential fuzz of the sketch primitives: the Spark columnar
MinHash/SimHash/band-key expressions vs independent pure-Python twins
over a randomized corpus (fixed seed). These hashes underpin four dedup
operators AND their DuckDB oracles — a silent divergence here would
corrupt every downstream pair set, so they get their own broad-input
check beyond the fixed fixtures."""

from __future__ import annotations

import hashlib
import random
import string

import pyspark.sql.functions as F
from pyspark.sql import Column

from jira_scraper_etl_spark.functions import hashing as H
from jira_scraper_etl_spark.operators import dedup as D

MOD32 = 1 << 32


# --- per-row Spark expression specs of the distributed MinHash pipeline ----

def km_hash(md5_hex: Column, i: int) -> Column:
    """Kirsch-Mitzenmacher family member i from an md5 hex digest:
    ``(h1 + i·h2) mod 2³²`` over the digest's two 32-bit hex halves."""
    h1 = F.conv(F.substring(md5_hex, 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(md5_hex, 9, 8), 16, 10).cast("bigint")
    return (h1 + F.lit(i) * h2) % F.lit(MOD32)


def minhash_signature(shingles: Column, k: int = 16) -> Column:
    """Array of k min-over-shingles KM hashes: the per-row form of
    ``operators/dedup.minhash_signatures`` (explode + min-aggregate).
    Empty shingle sets produce nulls."""
    ms = F.transform(shingles, lambda s: F.md5(s))

    def member(i: int) -> Column:
        # one-arg lambda on purpose: a two-arg transform lambda is
        # (element, ARRAY INDEX) in PySpark — binding the family id via
        # a default arg silently turns i into the element position
        return F.array_min(F.transform(ms, lambda m: km_hash(m, i)))

    return F.array(*[member(i) for i in range(k)])


def band_keys(signature: Column, bands: int, rows: int) -> Column:
    """LSH band keys: md5 of each band's concatenated signature rows, as
    array<struct<band:int, key:string>>. Two docs collide on band b iff
    their signature rows [b*rows, (b+1)*rows) are all equal."""
    entries = []
    for b in range(bands):
        rows_b = [F.element_at(signature, b * rows + r + 1).cast("string")
                  for r in range(rows)]
        entries.append(F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *rows_b)).alias("key"),
        ))
    return F.array(*entries)


# --- pure-Python twins (written independently of the Spark forms) ----------

def py_tokens(text: str) -> list[str]:
    return [t for t in text.lower().split() if t]


def py_shingles(toks: list[str], n: int = 3) -> list[str]:
    if len(toks) >= n:
        seen, out = set(), []
        for i in range(len(toks) - n + 1):
            g = " ".join(toks[i:i + n])
            if g not in seen:
                seen.add(g)
                out.append(g)
        return out
    return [" ".join(toks)]


def py_minhash(shingles: list[str], k: int = 16) -> list[int]:
    sig = []
    digests = [hashlib.md5(s.encode()).hexdigest() for s in shingles]
    for i in range(k):
        vals = [(int(m[:8], 16) + i * int(m[8:16], 16)) % MOD32 for m in digests]
        sig.append(min(vals))
    return sig


def py_band_keys(sig: list[int], bands: int = 4, rows: int = 4) -> list[str]:
    return [
        hashlib.md5("|".join(str(v) for v in sig[b * rows:(b + 1) * rows])
                    .encode()).hexdigest()
        for b in range(bands)
    ]


def py_simhash16(toks: list[str]) -> int:
    counts = [0] * 16
    for t in toks:
        h = int(hashlib.md5(t.encode()).hexdigest()[:4], 16)
        for i in range(16):
            counts[i] += 1 if (h >> i) & 1 else -1
    return sum(1 << i for i in range(16) if counts[i] > 0)


def random_corpus(n: int, seed: int = 7) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    alphabet = string.ascii_lowercase + string.digits + ".,!? "
    docs = []
    for i in range(n):
        n_words = rng.choice([0, 1, 2, 3, 5, 8, 20, 60])
        words = ["".join(rng.choices(alphabet, k=rng.randint(1, 9)))
                 for _ in range(n_words)]
        text = " ".join(words)
        if rng.random() < 0.2:
            text = "  " + text + "   "  # whitespace edges
        docs.append((i, text))
    return docs


def test_minhash_band_simhash_match_python_twins(spark):
    docs = random_corpus(300)
    df = spark.createDataFrame(docs, "doc_id long, text string")

    got = {
        r.doc_id: (list(r.sig), [(b.band, b.key) for b in r.bands], r.sh)
        for r in df.where(F.length(F.trim("text")) > 0).select(
            "doc_id",
            minhash_signature(H.word_shingles(F.col("text"))).alias("sig"),
            band_keys(minhash_signature(H.word_shingles(F.col("text"))),
                        4, 4).alias("bands"),
            H.simhash16(H.word_tokens(F.col("text"))).alias("sh"),
        ).collect()
    }
    checked = 0
    for doc_id, text in docs:
        toks = py_tokens(text)
        if not toks:
            continue
        sig = py_minhash(py_shingles(toks))
        keys = py_band_keys(sig)
        assert got[doc_id][0] == sig, (doc_id, text)
        assert got[doc_id][1] == list(enumerate(keys)), (doc_id, text)
        assert got[doc_id][2] == py_simhash16(toks), (doc_id, text)
        checked += 1
    assert checked >= 200  # the corpus wasn't degenerate


def test_distributed_signatures_equal_expression_form(spark):
    """The explode+min-aggregate pipeline (the scalable shape) must
    produce the same signatures as the per-row expression form."""
    docs = random_corpus(200, seed=11)
    df = spark.createDataFrame(docs, "doc_id long, text string") \
        .where(F.length(F.trim("text")) > 0)
    dist = {r.doc_id: [r[f"mh{i}"] for i in range(16)]
            for r in D.minhash_signatures(D.shingled_docs(df)).collect()}
    expr = {r.doc_id: list(r.sig) for r in df.select(
        "doc_id",
        minhash_signature(H.word_shingles(F.col("text"))).alias("sig"))
        .collect()}
    assert dist == expr and len(dist) >= 150
