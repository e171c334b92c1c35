"""Dedup operators: MinHash-LSH and SimHash pipelines.

Performance note (why these are DataFrame operators, not per-row array
expressions): Spark's higher-order functions (transform/aggregate) are
interpreted, not whole-stage-codegen'd — a 16-hash signature as 16
array-transforms costs ~2 ms/doc. Restructured as
``explode(shingles) → 16 codegen'd md5 columns → groupBy(doc).agg(min×16)``
the same values come out of vectorized hash aggregation with map-side
partial combine — the shape that holds at 100 TB (shuffle carries only
doc_id + 16 hashes, never the shingle arrays).

Hash values are identical to functions/hashing.py (Kirsch-Mitzenmacher
integer family over md5 halves) — the DuckDB oracles in plans/llm_ops.py
mirror the same arithmetic digit-for-digit.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions.hashing import shingles_from_tokens, word_tokens
from .fanout import fan_out

N_HASHES, N_BANDS, BAND_ROWS = 16, 4, 4

# Corpus-derived (bands, rows) ladder — the "next-decade lever"
# BASELINE.md named after the sf100 probe measured candidate volume
# growing ~n^1.4 under the fixed 4×4 banding: per-band random
# collisions scale as E[J^rows] and stop discriminating once n² swamps
# it, so ROWS must grow with log(n) to hold candidates/doc flat — the
# same trade as derive_rp_bits. Each extra row suppresses a random
# pair's per-band survival by its (low) Jaccard while a true near-dup
# at the J=0.8 design point only loses ×0.8 — the BAND count rung
# compensates recall, which is non-decreasing up the ladder:
#   (4 bands, 4 rows): 1-(1-0.8^4)^4 ≈ 0.878   (n ≤ 2^20 — every
#       oracle-checked SF and the sf1/sf10 soaks: ladder inert)
#   (6 bands, 5 rows): 1-(1-0.8^5)^6 ≈ 0.908   (n ≤ 2^23 — sf100's 5M)
#   (9 bands, 6 rows): 1-(1-0.8^6)^9 ≈ 0.935   (beyond)
# STATIC thresholds, not a runtime formula, so the DuckDB oracle
# mirrors the ladder as a CASE over COUNT(*) with zero float risk.
MINHASH_LADDER = ((1 << 20, 4, 4), (1 << 23, 6, 5))
MINHASH_TOP = (9, 6)


def derive_minhash_br(n: int) -> tuple[int, int]:
    """(bands, rows) for a corpus of ``n`` documents — fixed 4×4 below
    2^20, the candidate-suppressing ladder above."""
    for cap, bands, rows in MINHASH_LADDER:
        if n <= cap:
            return bands, rows
    return MINHASH_TOP


def shingled_docs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, sh: array<string>) — distinct word n-gram shingles per doc.

    Two-stage on purpose: tokenize, exchange, then shingle from the
    token *attribute*. The exchange (a) fans a small single-file scan
    out across all cores before the expensive interpreted shingle
    pipeline, and (b) is a CollapseProject barrier, so the tokenization
    expression is evaluated once per row instead of once per reference
    (~6× inside shingles_from_tokens). Measured 3.4s → 0.6s at sf0.1.
    """
    # `sh` is non-empty for every non-null text (empty/whitespace docs
    # fall back to a single joined-token shingle), so the "has shingles"
    # guard is exactly `text IS NOT NULL` — which pushes into the
    # parquet scan. Filtering on size(sh) instead gets predicate-pushed
    # below the exchange and re-inlines the whole shingle expression
    # into a pre-exchange single-threaded Filter (2.6s at sf0.1).
    #
    # The conditional exchange sits on the RAW text: a small corpus is
    # one file split, and anything computed pre-exchange runs on one
    # core (see operators/fanout).
    # Tokenize and shingle are separate post-exchange projections;
    # CollapseProject leaves them alone (the token array is non-cheap
    # and referenced ~6× by the shingle expression), so tokenization is
    # evaluated once per row.
    raw = fan_out(df.where(F.col(text_col).isNotNull())
                  .select(id_col, text_col))
    toks = raw.select(id_col, word_tokens(F.col(text_col)).alias("toks"))
    return toks.select(id_col, shingles_from_tokens(F.col("toks"), n).alias("sh"))


MOD32 = 4294967296  # 2^32 — Kirsch-Mitzenmacher family modulus


def km_signature(hp: DataFrame, id_col: str = "doc_id",
                 k: int = N_HASHES) -> DataFrame:
    """(id, mh0..mh{k-1}) from (id, h1, h2) rows: the Kirsch-Mitzenmacher
    family ``mh_i = min((h1 + i·h2) mod 2³²)`` as k min-aggregates.

    Each aggregate is one SQL string, parsed on the JVM side: building
    the same expression from ``Column`` calls cost ~80 py4j round trips
    per hash on the driver. Partial aggregation runs map-side, so the
    shuffle carries k longs per doc whatever the document size."""
    return hp.groupBy(id_col).agg(
        *[F.expr(f"min((h1 + {i} * h2) % {MOD32}) AS mh{i}")
          for i in range(k)])


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       k: int = N_HASHES) -> DataFrame:
    """(id, mh0..mh{k-1}) integer MinHash signature columns.

    explode → ONE md5 per shingle → h1/h2 = the md5's two 32-bit hex
    halves → :func:`km_signature`. One cryptographic hash instead of k,
    and the shuffle carries k longs per doc, not k hex strings.

    Staged as separate projections (md5, then halves) so the non-cheap
    md5/substring expressions are evaluated once, not once per
    reference — CollapseProject keeps them apart."""
    exploded = docs.select(id_col, F.explode("sh").alias("s"))
    m = exploded.select(id_col, F.md5("s").alias("m"))
    hp = m.select(
        id_col,
        F.conv(F.substring("m", 1, 8), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring("m", 9, 8), 16, 10).cast("bigint").alias("h2"),
    )
    return km_signature(hp, id_col, k)


def band_keys_df(sig: DataFrame, id_col: str = "doc_id",
                 bands: int = N_BANDS, rows: int = BAND_ROWS) -> DataFrame:
    """(id, key): one row per LSH band; key = xxhash64(band_index,
    band's signature rows) — an 8-byte long with the band index folded
    in, so every downstream exchange carries one long instead of a
    (band, hex digest) pair. Band keys are engine-local equivalence
    classes, never output values: the DuckDB oracle in plans/llm_ops.py
    models the same classes with md5-of-concat, and equal signature
    tuples produce equal keys under both (the exact Jaccard verify makes
    sub-2⁻⁶⁴ cross-band collisions harmless). Built as one SQL string
    for the same driver-cost reason as :func:`km_signature`."""
    keys = ", ".join(
        f"xxhash64({b}, "
        + ", ".join(f"mh{b * rows + r}" for r in range(rows)) + ")"
        for b in range(bands))
    return sig.selectExpr(f"`{id_col}`", f"explode(array({keys})) AS key")


def candidate_pairs(banded: DataFrame, id_col: str = "doc_id",
                    max_bucket_size: int | None = 256,
                    chain_width: int = 2,
                    dedup: bool = True) -> DataFrame:
    """(id_a < id_b) pairs sharing an LSH bucket, from (id, key) rows
    whose ids are unique within a key (a doc has one key per band).
    This is the candidate stage of every LSH family: MinHash bands,
    sign-slice and random-hyperplane embedding keys, SimHash nibble
    keys. Ids may be any orderable type; a struct id orders by its
    first field, so ``struct(doc, payload)`` carries the payload
    through with ``id_a.doc < id_b.doc``.

    One aggregation builds each bucket's sorted id list; singleton
    buckets are dropped, and each member then pairs with a slice of the
    members after it:

    - a bucket of at most ``max_bucket_size`` ids yields every i < j
      pair (the plain bucket self-join the oracles model);
    - a bigger bucket (boilerplate corpora: thousands of docs sharing a
      band key) yields each member's next ``chain_width`` ids. That is
      O(n·W) pairs instead of O(n²), and consecutive pairs keep the
      bucket one connected component for dedup clustering;
    - ``max_bucket_size=None`` yields every i < j pair of every bucket,
      for families whose output must be the exact pair set (the
      SimHash pigeonhole, the embedding listings and verdicts).

    Pairs come from positions: the slice copies only the ids it emits,
    so a hot bucket costs O(n·W) rows and bytes. ``dedup=False`` keeps
    one row per bucket and pair; callers that aggregate over the pair
    stream (MIN-id verdicts) absorb multi-band duplicates for free and
    skip the full exchange that ``dropDuplicates`` costs."""
    buckets = (banded.groupBy("key")
               .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
               .where(F.size("ids") > 1))
    rest = "size(ids) - i - 1"
    width = rest if max_bucket_size is None else (
        f"IF(size(ids) <= {max_bucket_size}, {rest}, "
        f"least({chain_width}, {rest}))")
    out = (buckets.selectExpr("ids", "posexplode(ids) AS (i, id_a)")
           .selectExpr("id_a", f"explode(slice(ids, i + 2, {width})) AS id_b"))
    return out.dropDuplicates(["id_a", "id_b"]) if dedup else out


def _fits_broadcast(df: DataFrame) -> bool:
    """Whether the planner would broadcast ``df`` as a join side —
    Catalyst's own size estimate (for a materialized persist seam:
    the measured cached bytes) against the session's
    autoBroadcastJoinThreshold. Used to apply join-strategy hints only
    in the regime they were written for (non-broadcastable sides)."""
    from .fanout import _plan_size_bytes

    size = _plan_size_bytes(df)
    if size is None:
        return False
    thr = df.sparkSession._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    return 0 < size < thr


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    inter = F.size(F.array_intersect(sh_a, sh_b))
    return inter.cast("double") / (F.size(sh_a) + F.size(sh_b) - inter)


def minhash_near_dup_pairs(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           threshold: float = 0.2,
                           bands: int | None = None,
                           rows: int | None = None,
                           dedup_candidates: bool = True) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → sign → band →
    bucket-join → exact-Jaccard verify ≥ threshold.
    Output: (doc_a, doc_b, jaccard).

    ``bands``/``rows`` default to the corpus-derived ladder
    (derive_minhash_br) — fixed 4×4 at every test/soak SF, widening
    signatures past 2^20 docs to hold candidates/doc flat (the sf100
    n^1.4 candidate growth BASELINE.md measured under fixed banding).
    The count that drives the ladder is one metadata-only job against
    the input. ``bands`` and ``rows`` must be passed together — the
    ladder derives them as a pair (signature width = bands*rows), so
    honoring one caller value while rederiving the other would
    silently change the signature geometry."""
    from ..seams import persist_seam

    if (bands is None) != (rows is None):
        raise ValueError(
            "minhash_near_dup_pairs: pass bands and rows together "
            f"(got bands={bands}, rows={rows}); the ladder derives "
            "them as a pair")
    if bands is None:
        bands, rows = derive_minhash_br(df.count())
    # shingling is the expensive map stage and is needed by BOTH the
    # signature path and the verify path — persist so it runs once
    # (at 100 TB: materialize the shingled corpus to parquet instead;
    # caller releases via seams.release_seams). persist_seam fills the
    # cache EAGERLY: the downstream DAG fans out into several
    # concurrent shuffle-map stages (signature, verify-a, verify-b)
    # and concurrent first readers of a lazy persist each recompute
    # the full shingle pipeline (measured 4× duplicate 1.6s stages
    # at sf0.1).
    docs = persist_seam(shingled_docs(df, id_col, text_col))
    sig = minhash_signatures(docs, id_col, k=bands * rows)
    banded = band_keys_df(sig, id_col, bands=bands, rows=rows)
    cand = candidate_pairs(banded, id_col, dedup=dedup_candidates)
    # Verify: join candidate ids back to each side's shingles, carried
    # as 8-byte xxhash64 keys (~3-4× narrower than the strings in both
    # exchanges and hash builds). Jaccard depends only on intersection
    # and union sizes of the per-doc-distinct sets, so the value is the
    # string form's unless two shingles of one pair collide in 64 bits
    # (≈|union|²/2⁶⁵; the string-based oracle and the hashed-vs-string
    # test would surface one). Hashing after the seam is a map-only
    # projection of the cached corpus: nothing upstream re-runs.
    sh64 = F.transform(F.col("sh"), lambda s: F.xxhash64(s))
    sa = docs.select(F.col(id_col).alias("id_a"), sh64.alias("sh_a"))
    sb = docs.select(F.col(id_col).alias("id_b"), sh64.alias("sh_b"))
    # Below the broadcast threshold the planner broadcasts the corpus
    # side and the pair stream never exchanges. Past it the planner
    # would pick sort-merge, which sorts the pair stream and the wide
    # arrays (at 15M docs those sorts spilled >50 GB), so the corpus
    # sides are hinted to a hash join exactly there. The gate sizes the
    # hashed projection the join ships, not the string seam.
    if not _fits_broadcast(sa):
        sa, sb = sa.hint("shuffle_hash"), sb.hint("shuffle_hash")
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("jaccard") >= threshold)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard")
    )


def simhash_fingerprints(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """(id, simhash): 16-bit SimHash as a pure map-only columnar fold
    (functions/hashing.simhash16 over word_tokens). ZERO shuffles —
    fingerprinting is embarrassingly parallel, and the fold is ~2×
    faster than the former explode→groupBy form at sf0.1 (measured,
    value-identical). Docs with null/empty text get simhash 0."""
    from ..functions.hashing import simhash16

    return df.select(
        id_col,
        simhash16(word_tokens(F.coalesce(F.col(text_col), F.lit(""))))
        .alias("simhash"),
    )


# SimHash near-dup radius: 4-nibble banding is lossless exactly up to 3
# (pigeonhole over 4 blocks) — a wider radius would silently drop pairs
# that share no nibble block.
MAX_HAMMING = 3


def nibble_keys(fps: DataFrame, fp_col: str) -> DataFrame:
    """``fps`` plus ``key``: one row per 4-bit block of the 16-bit
    fingerprint ``fp_col``, ``key = block·16 + nibble`` (64 buckets).
    Two fingerprints share a key iff some block is equal, which every
    pair at hamming ≤ 3 does (pigeonhole over 4 blocks)."""
    keys = ", ".join(f"{16 * i} + (shiftright(`{fp_col}`, {4 * i}) & 15)"
                     for i in range(4))
    return fps.selectExpr("*", f"explode(array({keys})) AS key")


def hamming(a: Column, b: Column) -> Column:
    """Bit distance between two fingerprint columns."""
    return F.bit_count(a.cast("long").bitwiseXOR(b.cast("long")))


def simhash_fp_pairs(fps: DataFrame, col: str = "simhash") -> DataFrame:
    """Near-dup pairs over DISTINCT fingerprint VALUES: (fa, fb) with
    fa < fb and hamming ≤ ``MAX_HAMMING``, from the nibble-key
    candidates (:func:`candidate_pairs`, uncapped). This contracted
    graph has at most 2^16 nodes whatever the corpus size, while the
    doc-pair expansion is O(Σ|clique|²) (500k docs into 2^16 values ⇒
    billions of doc pairs); dedup_cluster_canonical solves components
    on it. ``fps`` must hold each fingerprint once."""
    pairs = candidate_pairs(nibble_keys(fps.select(col), col), col,
                            max_bucket_size=None).toDF("fa", "fb")
    return pairs.where(hamming(F.col("fa"), F.col("fb")) <= MAX_HAMMING)


def simhash_near_dup_pairs(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """SimHash near-dup pairs at hamming ≤ MAX_HAMMING: (doc_a, doc_b,
    hamming) with doc_a < doc_b. Candidates share a nibble key, which is
    exact for hamming ≤ 3 by pigeonhole. Each id is
    ``struct(doc, simhash)``, so the fingerprint rides through
    :func:`candidate_pairs` and the verify needs no join back.

    SCALE WARNING: the output is the PAIR LISTING — O(Σ|clique|²) rows
    on dup-dense corpora (>1 GiB of result at the sf1 soak's 31-token
    vocabulary). Use :func:`simhash_neighbor_stats` (bounded per-doc
    form) or the cluster labeling (plans/llm_ops dedup_cluster_canonical)
    when the duplicate density is unknown; this pair form is for bounded
    slices and verify stages."""
    # fan out of the single-file scan partition before per-token hashing
    # (same rationale as minhash_near_dup_pairs)
    fp = simhash_fingerprints(
        fan_out(df.select(id_col, text_col)), id_col, text_col)
    keyed = nibble_keys(fp, "simhash").select(
        F.struct(id_col, "simhash").alias("id"), "key")
    pairs = candidate_pairs(keyed, "id", max_bucket_size=None)
    return (
        pairs.select(F.col(f"id_a.{id_col}").alias("doc_a"),
                     F.col(f"id_b.{id_col}").alias("doc_b"),
                     hamming(F.col("id_a.simhash"), F.col("id_b.simhash"))
                     .cast("int").alias("hamming"))
        .where(F.col("hamming") <= MAX_HAMMING)
    )


def simhash_neighbor_stats(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Per-document SimHash near-dup statistics — the BOUNDED output
    form of :func:`simhash_near_dup_pairs`: one row per document,
    ``(id, n_neighbors, min_neighbor)`` where neighbors are the other
    docs at hamming ≤ MAX_HAMMING (``min_neighbor`` NULL when none).

    Never materializes a doc-pair anywhere: the computation runs on the
    CONTRACTED fingerprint graph (one node per distinct 16-bit value,
    ≤ 2¹⁶ nodes at any corpus size — the dedup_cluster_canonical
    contraction argument). Per-fingerprint clique stats (size, two
    smallest ids) come from two keyed aggregations over the fingerprint
    column; cross-fingerprint adjacency from :func:`simhash_fp_pairs`
    over DISTINCT fingerprints only. A doc's neighbor count is
    then (own clique − 1) + Σ sizes of adjacent cliques, and its min
    neighbor the least of the adjacent cliques' minima and its own
    clique's min (second-min when the doc IS the min). Every stage is
    map-side combinable; output cardinality = corpus size. This is the
    form that survives dup-dense corpora where the pair listing is
    O(Σ|clique|²).
    """
    # fp feeds three consumers (clique agg, second-min agg, the final
    # join-back); checkpoint so the tokenize+hash map pass runs once —
    # at warehouse scale this seam is a parquet materialization
    from ..seams import checkpoint_seam
    fp = checkpoint_seam(simhash_fingerprints(
        fan_out(df.select(id_col, text_col)), id_col, text_col))
    cl = fp.groupBy("simhash").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("m1"))
    # second-smallest id per clique (NULL for singleton cliques): one
    # more keyed agg — no collect_list, so hot cliques stay cheap
    m2 = (fp.join(cl.select("simhash", "m1"), "simhash")
          .where(F.col(id_col) > F.col("m1"))
          .groupBy("simhash").agg(F.min(id_col).alias("m2")))
    cl = cl.join(m2, "simhash", "left")

    # cross-fingerprint adjacency = the shared contracted-graph pair
    # join, symmetrized (each fingerprint must see ALL its neighbors)
    fpp = simhash_fp_pairs(cl.select("simhash"))
    adj = (fpp.select(F.col("fa").alias("simhash"), F.col("fb").alias("g"))
           .unionByName(fpp.select(F.col("fb").alias("simhash"),
                                   F.col("fa").alias("g"))))
    ext = (adj.join(cl.select(F.col("simhash").alias("g"),
                              F.col("n_docs").alias("g_docs"),
                              F.col("m1").alias("g_m1")), "g")
           .groupBy("simhash")
           .agg(F.sum("g_docs").alias("ext_cnt"), F.min("g_m1").alias("ext_min")))

    out = fp.join(cl, "simhash").join(ext, "simhash", "left")
    own_min = F.when(F.col(id_col) == F.col("m1"), F.col("m2")) \
               .otherwise(F.col("m1"))
    return out.select(
        F.col(id_col),
        (F.col("n_docs") - 1 + F.coalesce(F.col("ext_cnt"), F.lit(0)))
        .cast("long").alias("n_neighbors"),
        F.least(F.col("ext_min"), own_min).alias("min_neighbor"),
    )
