"""LLM training-data pipeline operators (the north-star extensions).

Dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
cosine), similarity search (brute-force + bucketed ANN), and text
analysis (language ID / quality / token stats / fingerprints) over the
``documents`` and ``embeddings`` tables.

Engine-portability design (what makes these oracle-checkable):

* All sketch hashes are md5 hex strings; for fixed-width hex,
  lexicographic MIN == numeric MIN, so MinHash signatures are exact in
  both engines (functions/hashing.py).
* All similarity arithmetic is integer-quantized fixed-point
  (functions/vectors.py) — order-independent, bit-identical.
* SimHash LSH banding is *exact* by pigeonhole (hamming ≤ 3 over 4
  nibble-blocks ⇒ some block equal), so the banded Spark plan equals
  the all-pairs oracle. MinHash banding is probabilistic, so its oracle
  models the bands explicitly.

Scale notes: per-operator docstrings call out the 100 TB strategy —
candidate generation is always hash-bucketed (shuffle on short keys,
never O(n²)); the quadratic verify step only runs inside buckets.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..seams import checkpoint_seam, persist_seam

from ..catalog import load_table
from ..functions import hashing as H
from ..functions import textstats as TS
from ..functions import vectors as V
from ..operators import dedup as D
from ..operators.fanout import fan_out
from .registry import register

# ---------------------------------------------------------------------------
# Shared DuckDB SQL fragments (mirror functions/hashing.py exactly)
# ---------------------------------------------------------------------------

SQL_TOKS = r"list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"

SQL_SHINGLES = f"""
    CASE WHEN len(toks) >= 3
         THEN list_distinct(list_transform(generate_series(1, len(toks)-2),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         ELSE [array_to_string(toks, ' ')] END
""".strip()

N_HASHES, N_BANDS, BAND_ROWS = 16, 4, 4


def _sql_hex32(expr: str, start: int) -> str:
    """8 hex chars of ``expr`` starting at 1-based ``start`` → uint32,
    via per-digit position arithmetic (portable across engines)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substring({expr}, {start + j}, 1)) - 1)"
        f" * {16 ** (7 - j)}"
        for j in range(8)
    )


# Kirsch-Mitzenmacher MinHash (mirrors operators/dedup.km_signature
# and minhash_signatures): one md5 per shingle, family
# member i = (h1 + i*h2) mod 2^32 over the digest's two hex halves.
SQL_HASH_PAIRS = (
    f"list_transform(ms, m -> [CAST({_sql_hex32('m', 1)} AS BIGINT), "
    f"CAST({_sql_hex32('m', 9)} AS BIGINT)])"
)

# 16-bit token hash from the first 4 hex chars of md5 (== functions/hashing.hex4_to_int)
_HEXV = "(strpos('0123456789abcdef', substring(md5(t), {i}, 1)) - 1)"
SQL_TOKHASH = (f"{_HEXV.format(i=1)}*4096 + {_HEXV.format(i=2)}*256 + "
               f"{_HEXV.format(i=3)}*16 + {_HEXV.format(i=4)}")

SQL_SIMHASH = " + ".join(
    f"(CASE WHEN list_sum(list_transform(th, h -> CASE WHEN (h >> {b}) & 1 = 1 "
    f"THEN 1 ELSE -1 END)) > 0 THEN {1 << b} ELSE 0 END)"
    for b in range(16)
)

SQL_QUANT = "list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
SQL_QDOT_AB = ("list_sum(list_transform(generate_series(1, len(a.q)), "
               "i -> a.q[i] * b.q[i]))")


def _doc_shingled(where: str = "") -> str:
    return f"""
    SELECT doc_id, {SQL_SHINGLES} AS sh
    FROM (SELECT doc_id, {SQL_TOKS} AS toks FROM documents {where})
    """


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
    WITH hashed AS (
        SELECT doc_id, md5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text),
                   '[^a-z0-9]+', ' ', 'g'), ' {2,}', ' ', 'g'))) AS content_hash
        FROM documents
    )
    SELECT doc_id, content_hash, (rn = 1) AS is_canonical, n_copies
    FROM (
        SELECT doc_id, content_hash,
               ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY content_hash) AS n_copies
        FROM hashed
    )
    """,
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via normalized-content hash: every doc is tagged with
    its content hash, whether it is the canonical (lowest-id) copy, and
    the copy count. At 100 TB this is one shuffle on a 16-byte key with
    map-side partial aggregation — the cheapest dedup there is."""
    d = load_table(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id",
        F.md5(TS.normalize_for_fingerprint(F.col("text"))).alias("content_hash"),
    )
    w = Window.partitionBy("content_hash")
    return (
        hashed
        .withColumn("rn", F.row_number().over(w.orderBy("doc_id")))
        .withColumn("n_copies", F.count(F.lit(1)).over(w))
        .select("doc_id", "content_hash", (F.col("rn") == 1).alias("is_canonical"),
                "n_copies")
    )


# The derived (bands, rows) ladder as SQL — digit-for-digit
# operators/dedup.derive_minhash_br over COUNT(*) FROM documents.
_L1_CAP, _L1_B, _L1_R = D.MINHASH_LADDER[0]
_L2_CAP, _L2_B, _L2_R = D.MINHASH_LADDER[1]
_TOP_B, _TOP_R = D.MINHASH_TOP
SQL_MINHASH_PAR = f"""
    par AS (SELECT CASE WHEN COUNT(*) <= {_L1_CAP} THEN {_L1_B}
                        WHEN COUNT(*) <= {_L2_CAP} THEN {_L2_B}
                        ELSE {_TOP_B} END AS bands,
                   CASE WHEN COUNT(*) <= {_L1_CAP} THEN {_L1_R}
                        WHEN COUNT(*) <= {_L2_CAP} THEN {_L2_R}
                        ELSE {_TOP_R} END AS rws
            FROM documents)
"""


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH shingled AS ({_doc_shingled()}),
    {SQL_MINHASH_PAR},
    hashed AS (
        SELECT doc_id, sh, {SQL_HASH_PAIRS} AS hp
        FROM (SELECT doc_id, sh, list_transform(sh, s -> md5(s)) AS ms
              FROM shingled WHERE len(sh) > 0)
    ),
    sig AS (
        SELECT doc_id, gi.i AS i,
               list_aggregate(list_transform(hp,
                   p -> (p[1] + gi.i * p[2]) % 4294967296), 'min') AS mh
        FROM hashed, par, generate_series(0, {_TOP_B * _TOP_R - 1}) AS gi(i)
        WHERE gi.i < par.bands * par.rws
    ),
    banded AS (
        SELECT doc_id, i // rws AS b,
               md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY i)) AS key
        FROM sig, par
        GROUP BY doc_id, i // rws
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        FROM banded x JOIN banded y
          ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
    FROM cand JOIN shingled a ON cand.da = a.doc_id
              JOIN shingled b ON cand.db = b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.2
    """,
    tags=("dedup", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: word-3-gram shingles → MinHash → banded LSH
    bucket join → exact Jaccard verify ≥ 0.2. Signature width is the
    CORPUS-DERIVED ladder (operators/dedup.derive_minhash_br, round-11
    verdict #2): 16 hashes / 4 bands × 4 rows at every oracle-checked
    SF, widening to 6×5 past 2^20 docs and 9×6 past 2^23 so per-band
    random collisions — the n^1.4 candidate growth the sf100 probe
    measured under fixed banding — stay suppressed while the extra
    bands hold design-point recall (1-(1-J^r)^b non-decreasing up the
    ladder at J=0.8).

    Scale shape: candidates come from a bucket join keyed on 8-byte
    xxhash64 band keys (band index folded in), never all-pairs; only
    bucket co-residents are verified, and hot buckets degrade to a
    chain over their sorted ids (operators/dedup.candidate_pairs). The oracle
    models the same band-equality classes with md5-of-concat, UNPIVOTED
    (one row per doc × family member, bands/rows from a CASE over
    COUNT(*)) so both engines derive the rung from the same count —
    keys are engine-local, never output values.
    """
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_near_dup_pairs(d, "doc_id", "text", threshold=0.2)


@register(
    "dedup_minhash_verdict",
    oracle=f"""
    WITH shingled AS ({_doc_shingled()}),
    {SQL_MINHASH_PAR},
    hashed AS (
        SELECT doc_id, sh, {SQL_HASH_PAIRS} AS hp
        FROM (SELECT doc_id, sh, list_transform(sh, s -> md5(s)) AS ms
              FROM shingled WHERE len(sh) > 0)
    ),
    sig AS (
        SELECT doc_id, gi.i AS i,
               list_aggregate(list_transform(hp,
                   p -> (p[1] + gi.i * p[2]) % 4294967296), 'min') AS mh
        FROM hashed, par, generate_series(0, {_TOP_B * _TOP_R - 1}) AS gi(i)
        WHERE gi.i < par.bands * par.rws
    ),
    banded AS (
        SELECT doc_id, i // rws AS b,
               md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY i)) AS key
        FROM sig, par
        GROUP BY doc_id, i // rws
    ),
    cand AS (
        SELECT x.doc_id AS da, y.doc_id AS db
        FROM banded x JOIN banded y
          ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id
    ),
    dropped AS (
        SELECT cand.db AS doc_id, MIN(cand.da) AS min_peer
        FROM cand JOIN shingled a ON cand.da = a.doc_id
                  JOIN shingled b ON cand.db = b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
              >= 0.2
        GROUP BY cand.db
    )
    SELECT d.doc_id, (x.min_peer IS NULL) AS keep,
           COALESCE(x.min_peer, d.doc_id) AS canonical_id
    FROM documents d LEFT JOIN dropped x ON d.doc_id = x.doc_id
    """,
    tags=("dedup", "lsh"),
)
def dedup_minhash_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-bounded PER-DOC near-dup verdict for the TEXT family —
    dedup_embedding_rp_verdict's production form applied to the
    MinHash path: one row per document, keep iff no qualifying
    (Jaccard ≥ 0.2) neighbor with a smaller doc_id, canonical = MIN
    such neighbor (min-id election; self when kept). O(n) output at
    any duplicate density — the pair listing stays the diagnostic.

    Same two scale levers as the RP verdict: the candidate stream is
    NOT distinct-ed (MIN absorbs multi-band duplicates — skips a full
    exchange of the candidate stream) and the MIN aggregation partial-
    aggregates map-side, so the shuffle after verify is O(n). Docs
    with NULL text never shingle, never pair, and keep themselves —
    identical on both engines (the oracle LEFT JOINs from documents).

    ORACLE PRECONDITION (ADVICE r12): the candidate stage inherits
    candidate_pairs' hot-bucket chain degradation (buckets past
    max_bucket_size=256 pair each member only with its chain_width=2
    successors in id order) while the DuckDB oracle always does the full
    bucket-quadratic join. The min-id election makes any divergence
    LOUDER than in the pair listing — a doc's true minimum peer can
    fall outside the chain window. So oracle-checked fixtures must
    keep every band bucket at or under the cap;
    tests/test_queries.py::test_minhash_oracle_fixture_buckets_under_cap
    pins that invariant against the driver's fixture corpora. On a
    production boilerplate-heavy corpus the degradation is the
    documented (keep-connectivity, not keep-minimality) trade.

    Reference analog: transformer.py's per-issue include/exclude
    decisions when rewriting the corpus."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_near_dup_pairs(d, "doc_id", "text", threshold=0.2,
                                     dedup_candidates=False)
    dropped = (pairs.groupBy(F.col("doc_b").alias("doc_id"))
               .agg(F.min("doc_a").alias("min_peer")))
    ids = d.select("doc_id")
    return (ids.join(dropped, "doc_id", "left")
            .select("doc_id",
                    F.col("min_peer").isNull().alias("keep"),
                    F.coalesce("min_peer", "doc_id").alias("canonical_id")))


_SQL_SIMHASH_FP = f"""
    th AS (
        SELECT doc_id,
               list_transform(toks, t -> {SQL_TOKHASH}) AS th
        FROM (SELECT doc_id, {SQL_TOKS} AS toks FROM documents)
    ),
    fp AS (SELECT doc_id, CAST({SQL_SIMHASH} AS INTEGER) AS simhash FROM th)
"""


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {_SQL_SIMHASH_FP}
    SELECT a.doc_id AS doc_id,
           CAST(COUNT(b.doc_id) AS BIGINT) AS n_neighbors,
           MIN(b.doc_id) AS min_neighbor
    FROM fp a LEFT JOIN fp b
      ON a.doc_id <> b.doc_id
     AND bit_count(xor(CAST(a.simhash AS BIGINT), CAST(b.simhash AS BIGINT))) <= 3
    GROUP BY a.doc_id
    """,
    tags=("dedup", "lsh"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 16-bit fingerprints, per-doc neighbor stats at
    hamming ≤ 3 — ``(doc_id, n_neighbors, min_neighbor)``, one row per
    document. BOUNDED output by construction: the former pair-listing
    headline form is O(Σ|clique|²) rows on dup-dense corpora (>1 GiB at
    the sf1 soak's 31-token vocabulary — BASELINE.md finding 4); this
    form is O(n) however duplicate-dense the corpus gets.

    Spark side never materializes doc pairs at all: per-fingerprint
    clique stats + nibble-banded adjacency over DISTINCT fingerprints
    (≤ 2¹⁶ nodes at any scale — the cluster_canonical contraction), then
    a per-doc join-back (operators/dedup.simhash_neighbor_stats). The
    banding is lossless for hamming ≤ 3 by pigeonhole, so this equals
    the all-pairs oracle exactly. The pair listing remains available as
    dedup_simhash_pairs (bounded slice) / simhash_near_dup_pairs (API).
    """
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_neighbor_stats(d, "doc_id", "text")


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_SQL_SIMHASH_FP.replace("FROM documents", "FROM documents WHERE doc_id < 200")}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(CAST(a.simhash AS BIGINT), CAST(b.simhash AS BIGINT)))
                AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(CAST(a.simhash AS BIGINT), CAST(b.simhash AS BIGINT))) <= 3
    """,
    tags=("dedup", "lsh"),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIR LISTING on a bounded slice (doc_id < 200),
    for verify stages and diagnostics where the explicit pairs matter.
    The slice gate bounds the worst-case output the way
    dedup_ngram_jaccard gates its all-pairs ground truth; unsliced
    corpora should use dedup_simhash (per-doc stats) or
    dedup_cluster_canonical (labels).

    Nibble-key LSH: hamming ≤ 3 guarantees (pigeonhole) an identical
    nibble block, so the candidates sharing a nibble key
    (operators/dedup.nibble_keys → candidate_pairs) hold exactly the
    oracle's pairs — no O(n²) anywhere, one exchange keyed on the key.
    """
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return D.simhash_near_dup_pairs(d, "doc_id", "text")


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH shingled AS ({_doc_shingled("WHERE doc_id < 200")})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
    FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
    WHERE len(a.sh) > 0 AND len(b.sh) > 0
      AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.1
    """,
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs n-gram Jaccard on a bounded slice (doc_id < 200).

    This is the ground-truth operator the LSH variants approximate —
    deliberately quadratic, so it is gated to a bounded subset. At
    scale it only ever runs inside LSH buckets (see dedup_minhash_lsh).
    """
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    docs = (d.select("doc_id", H.word_shingles(F.col("text"), 3).alias("sh"))
            .where(F.size("sh") > 0))
    a, b = docs.alias("a"), docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                (inter.cast("double") / union).alias("jaccard"))
        .where(F.col("jaccard") >= 0.1)
    )


# Sign-LSH banding for embedding dedup: ``bands`` disjoint slices of
# ``bits`` sign bits each over the 64 components; band key = band
# offset + sign code.
#
# SCALE DIAL, AUTO-DERIVED: bucket count per band is 2^bits and
# candidate volume per band is Σ_buckets |bucket|² ≈ n²/2^bits for
# well-spread vectors, so bits must grow ~log2(n) to hold per-bucket
# occupancy (and therefore candidate volume per input row) constant.
# The round-3 fixed (16, 4) default needed hand retuning per scale (the
# sf1 soak measured 30× runtime for 10× rows at fixed bits —
# BASELINE.md finding 3); ``derive_banding`` now picks
# ``bits = clamp(ceil(log2 n) − 2, 4, 16)``, ``bands = 64 // bits``:
# expected bucket occupancy ~2² = 4, so candidates stay ~O(4n) per band
# at ANY corpus size, and the −2 slack buys recall — per-band hit
# probability of a cos-θ pair is (1 − acos(θ)/π)^bits, so for true
# near-dups (cos ≥ 0.9, p ≈ 0.9/bit) recall across bands stays ≥ ~99%
# while growing bits with log2(n) keeps the join linear. The oracle SQL
# derives the identical parameters from COUNT(*) so both engines band
# identically at every scale factor.
EMB_DIM = 64


def derive_banding(n: int, dim: int = EMB_DIM) -> tuple[int, int]:
    """(bands, bits) for a corpus of ``n`` vectors — see the dial
    comment above. Mirrored digit-for-digit by SQL_EMB_PARAMS. The
    16-bit cap is the SLICE variant's constraint (bands = dim//bits
    needs bits ≤ dim/4 to keep ≥4 tables); the RP multi-table family
    has its own uncapped-in-practice dial (derive_rp_bits)."""
    import math

    bits = max(4, min(16, math.ceil(math.log2(max(n, 2))) - 2))
    return dim // bits, bits


def derive_rp_bits(n: int) -> int:
    """bits for the RP multi-table family — same log2(n)−2 occupancy
    rule WITHOUT the slice variant's 16-bit cap: RP hyperplanes are
    unbounded by the dimension (each table hashes the FULL vector), so
    bits keeps growing with the corpus and per-bucket occupancy stays
    ~4 at any n. The 16 cap inherited from derive_banding made the
    bucket join quadratic past n ≈ 2^18 — measured at the sf30 decade
    as 13.6× runtime for 3× rows (600k vectors at load λ≈9.2);
    re-derived 18 bits restores λ≈2.3 and the linear trend. Capped at
    24 so band-offset keys (band << bits | key) stay far inside int64
    and bucket count never exceeds 16M/table. Mirrored digit-for-digit
    by SQL_RP_KEYS."""
    import math

    return max(4, min(24, math.ceil(math.log2(max(n, 2))) - 2))


SQL_EMB_PARAMS = """
    p AS (SELECT LEAST(16, GREATEST(4,
                     CAST(CEIL(LOG2(GREATEST(COUNT(*), 2))) AS INT) - 2)) AS bits
          FROM embeddings),
    p2 AS (SELECT bits, 64 // bits AS bands FROM p)
"""


def emb_band_keys(bands: int, bits: int, dim: int = EMB_DIM):
    """Band-key array column over a quantized embedding column ``q``:
    band b's key encodes the sign pattern of components
    [b·bits+1 .. b·bits+bits] offset into its own key space. Requires
    bands·bits ≤ dim (bands use disjoint component slices) — enforced,
    because slices past the vector read NULL, every sign test goes to
    its else-branch, and the out-of-range bands assign ALL vectors one
    key, silently degenerating the bucket join to O(n²)."""
    if not (1 <= bits <= 32 and bands >= 1 and bands * bits <= dim):
        raise ValueError(
            f"invalid banding (bands={bands}, bits={bits}, dim={dim}): "
            f"need 1 <= bits <= 32, bands >= 1, bands*bits <= dim — "
            f"degenerate values silently produce O(n²) joins (bits=0: "
            f"every vector shares every bucket) or empty results "
            f"(bands=0); use dedup_embedding_cosine_rp for band counts "
            f"beyond the dim budget)")
    return F.array(*[
        F.lit(b * (1 << bits))
        + sum((F.when(F.element_at("q", bits * b + i + 1) > 0,
                      F.lit(1 << (bits - 1 - i))).otherwise(0)
               for i in range(bits)), F.lit(0))
        for b in range(bands)
    ])

# Band keys with the derived (bands, bits) — the inner list_sum builds
# band b's sign code bit-by-bit, exactly like emb_band_keys.
SQL_EMB_BANDS = """
    SELECT vec_id, UNNEST(list_transform(generate_series(0, p2.bands - 1),
        b -> b * (1 << p2.bits)
             + list_sum(list_transform(generate_series(0, p2.bits - 1),
                 i -> CASE WHEN q.q[p2.bits * b + i + 1] > 0
                      THEN (1 << (p2.bits - 1 - i)) ELSE 0 END)))) AS bk
    FROM q, p2
""".strip()


def emb_candidates(base: DataFrame, bands: int, bits: int) -> DataFrame:
    """(va < vb) candidate pairs, each once: vectors of a (vec_id, q)
    frame that share a sign-LSH band key. Only (vec_id, key) rows move;
    :func:`operators.dedup.candidate_pairs` uncapped yields every
    in-bucket pair, as the oracle's bucket self-join does."""
    keyed = base.select("vec_id",
                        F.explode(emb_band_keys(bands, bits)).alias("key"))
    return D.candidate_pairs(keyed, "vec_id",
                             max_bucket_size=None).toDF("va", "vb")


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH q AS (SELECT vec_id, {SQL_QUANT} AS q FROM embeddings),
    {SQL_EMB_PARAMS},
    n AS (SELECT vec_id, q, list_sum(list_transform(q, x -> x * x)) AS n2 FROM q),
    bands AS ({SQL_EMB_BANDS}),
    cand AS (
        SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
        FROM bands x JOIN bands y ON x.bk = y.bk AND x.vec_id < y.vec_id
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST({SQL_QDOT_AB} AS DOUBLE)
             / (SQRT(CAST(a.n2 AS DOUBLE)) * SQRT(CAST(b.n2 AS DOUBLE))) AS cos_sim
    FROM cand JOIN n a ON cand.va = a.vec_id JOIN n b ON cand.vb = b.vec_id
    WHERE CAST({SQL_QDOT_AB} AS DOUBLE)
             / (SQRT(CAST(a.n2 AS DOUBLE)) * SQRT(CAST(b.n2 AS DOUBLE))) >= 0.45
    """,
    tags=("dedup", "embedding", "lsh"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str,
                           bands: int | None = None,
                           bits: int | None = None) -> DataFrame:
    """Embedding near-dup: sign-LSH candidate generation, then pairs
    with quantized cosine ≥ 0.45 verified *within buckets only*.

    The scale path: ``bands`` disjoint slices of ``bits`` sign bits
    produce one short band key per (vector, band); candidates are the
    distinct id pairs sharing a key (``emb_candidates``, one sorted-id
    aggregation per bucket carrying only ids — never the vectors), then
    two keyed joins back to the quantized vectors for the cosine
    verify. No all-pairs product anywhere: every shuffle is keyed.

    Banding is AUTO-DERIVED from the corpus size by default
    (``derive_banding``: bits grows with log2(n) so per-bucket occupancy
    — and with it candidate volume per row — stays constant, and the
    operator needs no hand retuning per scale; fixed bits let candidate
    volume grow ~n²/2^bits).
    The oracle SQL derives identical parameters from COUNT(*), so both
    engines band identically at every scale factor. Explicit
    ``bands``/``bits`` kwargs remain as the manual override dial.
    Measured recall vs the exact twin (dedup_embedding_cosine_exact)
    with derived params: see tests/test_queries.py. Fixed-point
    quantization (floor(x·1000)) keeps the arithmetic bit-identical
    across engines.
    """
    e = load_table(spark, sf_dir, "embeddings")
    if bits is None and bands is None:
        bands, bits = derive_banding(e.count())
    elif bits is None:
        # caller fixed the band count: give each band its full share of
        # the 64-bit slice budget (deriving bits from n here could make
        # bands*bits exceed the dim — emb_band_keys rejects that)
        bits = EMB_DIM // bands
    elif bands is None:
        bands = EMB_DIM // bits
    # persisted seam (the minhash-shingle pattern): three consumers
    # (band keys, verify side a, verify side b) would re-run the
    # quantize HOF per consumer — and the n2 join key's inferred
    # isnotnull would re-inline the HOF into the scan's DataFilters
    # (plan-audit HOF-SCAN-FILTER class); the cache materializes both.
    # The returned DataFrame depends on this cache, so the function
    # cannot unpersist it — registered via persist_seam; the caller
    # releases with seams.release_seams() (bench.run_suite does, per
    # query; see seams.py for the session-wide contract).
    base = persist_seam(
        e.select("vec_id", V.quantize(F.col("embedding")).alias("q"))
        .withColumn("n2", V.qnorm2(F.col("q"))))
    cand = emb_candidates(base, bands, bits)
    a, b = base.alias("a"), base.alias("b")
    cos = (V.qdot(F.col("a.q"), F.col("b.q")).cast("double")
           / (F.sqrt(F.col("a.n2").cast("double")) * F.sqrt(F.col("b.n2").cast("double"))))
    return (
        cand.join(a, F.col("va") == F.col("a.vec_id"))
        .join(b, F.col("vb") == F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"),
                cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= 0.45)
    )


@register(
    "dedup_embedding_cosine_exact",
    oracle=f"""
    WITH q AS (SELECT vec_id, {SQL_QUANT} AS q FROM embeddings WHERE vec_id < 300),
    n AS (SELECT vec_id, q, list_sum(list_transform(q, x -> x * x)) AS n2 FROM q)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST({SQL_QDOT_AB} AS DOUBLE)
             / (SQRT(CAST(a.n2 AS DOUBLE)) * SQRT(CAST(b.n2 AS DOUBLE))) AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE CAST({SQL_QDOT_AB} AS DOUBLE)
             / (SQRT(CAST(a.n2 AS DOUBLE)) * SQRT(CAST(b.n2 AS DOUBLE))) >= 0.45
    """,
    tags=("dedup", "embedding", "ground-truth"),
)
def dedup_embedding_cosine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs ground-truth twin for dedup_embedding_cosine, gated to
    ``vec_id < 300`` (the dedup_ngram_jaccard pattern): deliberately
    quadratic so recall of the banded operator is measurable; at scale
    this form only ever runs inside LSH buckets, never globally."""
    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    # persisted seam: both join sides consume q (and the cache keeps
    # the n2 key's inferred isnotnull off the scan — HOF-SCAN-FILTER)
    q = e.select("vec_id", V.quantize(F.col("embedding")).alias("q"))
    q = persist_seam(q.withColumn("n2", V.qnorm2(F.col("q"))))
    a, b = q.alias("a"), q.alias("b")
    cos = (V.qdot(F.col("a.q"), F.col("b.q")).cast("double")
           / (F.sqrt(F.col("a.n2").cast("double")) * F.sqrt(F.col("b.n2").cast("double"))))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"),
                cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= 0.45)
    )


# ---------------------------------------------------------------------------
# Multi-table random-hyperplane LSH (the recall-preserving scale path)
# ---------------------------------------------------------------------------
# The slice-based banding above draws each band's bits from DISJOINT
# component slices, capping bands × bits ≤ dim (64). That cap is what
# costs recall as bits grow with log2(n): at sf1's derived (4, 13) a
# cos-0.9 pair survives a 13-bit band with probability ~0.25 and only 4
# bands exist. Random-hyperplane LSH (classic SimHash-for-cosine,
# Charikar '02) removes the cap: every band hashes the FULL vector
# against `bits` pseudo-random ±1 (Rademacher) hyperplanes, so the band
# count is a free recall dial (RP_BANDS=32 ⇒ the same pair survives
# with 1-(1-0.25)^32 ≈ 99.99%) while candidate volume stays
# ~bands · occupancy · n. The hyperplane signs are derived from md5
# parity of "band:bit:component" — data-independent, and reproduced
# digit-for-digit by the oracle SQL, so both engines band identically.
RP_BANDS = 32

# bits → bands: hold RECALL at the cos-0.9 design point as bits grow
# with the corpus (round-11: the sf30/sf100 recall measurement showed
# fixed 32 bands sagging exactly as 1−(1−p^bits)^32 predicts once
# derive_rp_bits passes 16 — p_bit = 1−acos(0.9)/π ≈ 0.8564, so each
# extra bit multiplies the per-band survival by 0.8564 and bands must
# grow by 1/0.8564 to compensate: bands(b) = ceil(32 · 1.1677^(b−16)).
# STATIC table, not a formula evaluated at runtime, so the oracle SQL
# mirrors it as a CASE expression with zero cross-engine float-rounding
# risk. Below 17 bits (every driver-checked SF) nothing changes.
# Growing bands as n^0.2225 is the classic LSH trade (the ρ exponent —
# Charikar '02 / Indyk-Motwani): total key-table work rises to
# ~n^1.22, which is the honest price of holding recall AND per-bucket
# occupancy simultaneously; the alternative regimes are quadratic
# candidates (fixed bits) or collapsing recall (fixed bands).
RP_BANDS_BY_BITS = {17: 38, 18: 44, 19: 51, 20: 60,
                    21: 70, 22: 82, 23: 95, 24: 111}


def derive_rp_bands(bits: int) -> int:
    """Band count for the RP family at a derived bit width — RP_BANDS
    below 17 bits, the recall-compensating static ladder above."""
    return RP_BANDS_BY_BITS.get(bits, RP_BANDS) if bits > 16 else RP_BANDS


# The same ladder as SQL, shared by every RP oracle: DuckDB CASE over
# the (few) bit widths, digit-for-digit derive_rp_bands.
SQL_RP_BANDS = ("CASE WHEN bits <= 16 THEN 32 " + " ".join(
    f"WHEN bits = {b} THEN {n}" for b, n in sorted(RP_BANDS_BY_BITS.items()))
    + " ELSE 32 END")


def _rp_signs(bands: int, bits: int, dim: int = EMB_DIM) -> list:
    import hashlib

    def s(b, i, j):
        h = hashlib.md5(f"{b}:{i}:{j}".encode()).hexdigest()
        return 1 if int(h[0], 16) % 2 == 0 else -1

    return [[[s(b, i, j) for j in range(dim)]
             for i in range(bits)] for b in range(bands)]


def rp_band_key_table(base, bands: int, bits: int):
    """(vec_id, bks: array<bigint>) — all RP band keys per vector, via
    ONE Arrow-batched numpy matmul: Q (batch×dim) @ S (dim×bands·bits),
    strict-positive sign bits packed per band above a per-band offset —
    value-identical to the per-hyperplane ±sum expression path
    (integer arithmetic end to end; the differential test in
    tests/test_queries.py keeps that path as its spec and pins
    equality).

    This is the documented let-numpy-do-the-matmul exception to the
    stay-in-codegen rule: at the sf10 soak's derived bits=16 the
    expression path is a 512-column projection of 64-term sums that
    falls out of whole-stage codegen into interpreted evaluation —
    measured 558 s for 200k vectors even with a 512 MB JIT code cache
    — while one BLAS-shaped int64 matmul per Arrow batch is
    sub-second."""
    signs = _rp_signs(bands, bits)
    dim = EMB_DIM

    def gen(batches):
        import numpy as np
        import pandas as pd

        S = np.array(signs, dtype=np.int64).reshape(bands * bits, dim).T
        w = np.int64(1) << (bits - 1 - np.arange(bits, dtype=np.int64))
        offs = np.arange(bands, dtype=np.int64) << np.int64(bits)
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            d = q @ S
            b = (d > 0).reshape(len(pdf), bands, bits).astype(np.int64)
            keys = (b * w).sum(axis=2) + offs
            yield pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(),
                                "bks": list(keys)})

    return base.select("vec_id", "q").mapInPandas(
        gen, "vec_id bigint, bks array<bigint>")


# The RP hash-table construction, as SQL CTEs shared by every oracle
# that banded with rp_band_key_table: derived bits from COUNT(*)
# (digit-for-digit derive_banding), the md5-parity Rademacher
# hyperplane matrix, per-(vector, table) sign bits, packed keys.
SQL_RP_KEYS = f"""
    p0 AS (SELECT LEAST(24, GREATEST(4,
              CAST(CEIL(LOG2(GREATEST(COUNT(*), 2))) AS INT) - 2)) AS bits
          FROM embeddings),
    p AS (SELECT bits, {SQL_RP_BANDS} AS bands FROM p0),
    mat AS (
        SELECT gb.b AS b, gi.i AS i, gj.j AS j,
               CASE WHEN (strpos('0123456789abcdef',
                    substring(md5(CAST(gb.b AS VARCHAR) || ':' ||
                              CAST(gi.i AS VARCHAR) || ':' ||
                              CAST(gj.j AS VARCHAR)), 1, 1)) - 1) % 2 = 0
                    THEN 1 ELSE -1 END AS s
        FROM generate_series(0, 127) AS gb(b), p,
             generate_series(0, 23) AS gi(i),
             generate_series(0, 63) AS gj(j)
        WHERE gi.i < p.bits AND gb.b < p.bands
    ),
    bt AS (
        SELECT q.vec_id, m.b, m.i,
               CASE WHEN SUM(m.s * q.q[m.j + 1]) > 0 THEN 1 ELSE 0 END AS bit
        FROM q, mat m GROUP BY q.vec_id, m.b, m.i
    ),
    keys AS (
        SELECT vec_id, b, CAST(SUM(bit << (p.bits - 1 - i)) AS BIGINT) AS k
        FROM bt, p GROUP BY vec_id, b
    )
"""



# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

@register(
    "similarity_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id, label, {SQL_QUANT} AS q FROM embeddings),
    n AS (SELECT vec_id, label, q, list_sum(list_transform(q, x -> x * x)) AS n2 FROM q),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, b.label AS neighbor_label,
               CAST({SQL_QDOT_AB} AS DOUBLE)
                 / (SQRT(CAST(a.n2 AS DOUBLE)) * SQRT(CAST(b.n2 AS DOUBLE))) AS cos_sim
        FROM n a JOIN n b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < 5
    )
    SELECT query_id, neighbor_id, neighbor_label, cos_sim, CAST(rk AS INTEGER) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= 10
    """,
    tags=("similarity",),
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for a query set (vec_id < 5) — the exact
    baseline every ANN variant is measured against.

    The query side is tiny and broadcast; scoring is a map-only pass
    over the corpus (no shuffle for the join), then a per-query top-k
    window. At 100 TB: identical plan, queries stay broadcast.
    """
    e = load_table(spark, sf_dir, "embeddings")
    base = (e.select("vec_id", "label", V.quantize(F.col("embedding")).alias("q"))
            .withColumn("n2", V.qnorm2(F.col("q"))))
    queries = base.where(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("query_id"), F.col("q").alias("qq"),
                F.col("n2").alias("qn2"))
    cos = (V.qdot(F.col("qq"), F.col("q")).cast("double")
           / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("n2").cast("double"))))
    scored = (
        base.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("neighbor_label"), cos.alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 10)
            .select("query_id", "neighbor_id", "neighbor_label", "cos_sim", "rk"))


@register(
    "similarity_ann_signlsh",
    oracle=f"""
    WITH q AS (SELECT vec_id, {SQL_QUANT} AS q FROM embeddings),
    {SQL_RP_KEYS},
    cand AS (
        SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS neighbor_id
        FROM keys x JOIN keys y
          ON x.b = y.b AND x.k = y.k AND y.vec_id <> x.vec_id
        WHERE x.vec_id < 20
    ),
    n AS (SELECT vec_id, q, list_sum(list_transform(q, x -> x * x)) AS n2 FROM q),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               CAST({SQL_QDOT_AB} AS DOUBLE)
                 / (SQRT(CAST(a.n2 AS DOUBLE)) * SQRT(CAST(b.n2 AS DOUBLE))) AS cos_sim
        FROM cand JOIN n a ON cand.query_id = a.vec_id
                  JOIN n b ON cand.neighbor_id = b.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rk AS INTEGER) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= 5
    """,
    tags=("similarity", "lsh"),
)
def similarity_ann_signlsh(spark: SparkSession, sf_dir: str,
                           bands: int | None = None,
                           bits: int | None = None) -> DataFrame:
    """Bucketed ANN with SIZE-DERIVED parameters: each of ``bands``
    random-hyperplane tables (md5-parity Rademacher signs, identical in
    both engines) hashes the full vector into 2^bits buckets with
    ``bits`` auto-derived from corpus size (``derive_banding`` — bits ≈
    log2(n) − 2 holds per-bucket occupancy, and therefore per-query
    candidate volume, at ~4·bands at ANY corpus size); candidates are
    the union over tables of same-bucket vectors, scored by quantized
    cosine, top-5 per query.

    This replaced the round-2 manual layout (3 fixed sign bits = 8
    buckets): fixed bits means per-query candidates grow ~n/2^bits —
    linear scans at sf10 — while deriving bits from n without multiple
    tables costs recall (a cos-0.9 pair survives ONE 16-bit table with
    p ≈ 0.08). The multi-table form keeps both: candidates stay
    ~4·bands per query and recall across 32 tables is 1−(1−p)^32 ≈ 0.94
    at the sf10-derived 16 bits (≈ 0.99+ below sf1), verified against
    the brute-force exact baseline in tests/test_queries.py and at the
    soak decades in tests/test_sf1_soak.py.

    Spark shape: band keys from ONE Arrow-batched numpy int64 matmul
    per partition (rp_band_key_table — the expression path drops out of
    whole-stage codegen at derived bit widths, the round-7 558 s sf10
    wall); the query side (20 ids × bands keys) broadcasts, so the
    corpus-sized key table never shuffles — candidate generation is a
    map-side hash join, then the verify joins the ≤ 20·4·bands distinct
    candidate ids back to the quantized vectors.
    """
    e = load_table(spark, sf_dir, "embeddings")
    if bits is None:
        bits = derive_rp_bits(e.count())
    if bands is None:
        bands = derive_rp_bands(bits)  # recall-compensating ladder
    # persist: base feeds the key build, the query projection and the
    # neighbor-verify join — without the seam the quantize pipeline
    # re-runs per consumer (round-13; the _rp_qualifying_pairs seam
    # pattern applied here)
    base = persist_seam(
        e.select("vec_id", V.quantize(F.col("embedding")).alias("q"))
        .withColumn("n2", V.qnorm2(F.col("q"))))
    # localCheckpoint = the LSH build-the-tables step (same rationale
    # as the RP dedup family): ``slim`` fans out into BOTH candidate
    # join sides, and an uncheckpointed key table re-runs the Arrow
    # matmul once per side (two MapInArrow nodes in the round-13
    # before-plan, plans/r13/similarity_ann_signlsh_before.txt)
    keys = checkpoint_seam(rp_band_key_table(base, bands, bits))
    # bks[b] embeds the table offset b·2^bits, so one exploded column
    # equi-joins (table, bucket) at once — same key family as the rp
    # dedup variant, shared build
    slim = keys.select("vec_id", F.explode("bks").alias("bk"))
    qk = (slim.where(F.col("vec_id") < 20)
          .select(F.col("vec_id").alias("query_id"), F.col("bk").alias("qbk")))
    cand = (slim.join(F.broadcast(qk),
                      (F.col("bk") == F.col("qbk"))
                      & (F.col("vec_id") != F.col("query_id")))
            .select("query_id", F.col("vec_id").alias("neighbor_id"))
            .distinct())
    queries = base.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq"),
        F.col("n2").alias("qn2"))
    cos = (V.qdot(F.col("qq"), F.col("q")).cast("double")
           / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("n2").cast("double"))))
    scored = (
        cand.join(F.broadcast(queries), "query_id")
        .join(base, F.col("neighbor_id") == F.col("vec_id"))
        .select("query_id", "neighbor_id", cos.alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 5)
            .select("query_id", "neighbor_id", "cos_sim", "rk"))


@register("similarity_ann_mllsh", oracle=None, tags=("similarity", "lsh", "ml"))
def similarity_ann_mllsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via Spark ML's BucketedRandomProjectionLSH (seeded):
    approxSimilarityJoin of a 5-vector query set against the corpus,
    euclidean threshold, ranked. No oracle — the random projections are
    Spark-internal (driver records rows-only); similarity_ann_signlsh is
    the oracle-checked LSH variant."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings")
    # persisted seam: fit + query side + corpus side all consume vecs
    # (and it keeps the inferred isnotnull(features) HOF off the scan)
    vecs = persist_seam(e.select("vec_id", array_to_vector(
        F.transform("embedding", lambda x: x.cast("double")))
        .alias("features")))
    lsh = BucketedRandomProjectionLSH(inputCol="features", outputCol="hashes",
                                      bucketLength=2.0, numHashTables=3, seed=42)
    model = lsh.fit(vecs)
    queries = vecs.where(F.col("vec_id") < 5)
    joined = model.approxSimilarityJoin(queries, vecs, 8.0, distCol="dist")
    out = joined.select(
        F.col("datasetA.vec_id").alias("query_id"),
        F.col("datasetB.vec_id").alias("neighbor_id"),
        F.col("dist"),
    ).where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    return (out.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 5))


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_SW_SQL = {
    lang: "[" + ", ".join(f"'{w}'" for w in words) + "]"
    for lang, words in TS.STOPWORDS.items()
}
_HITS = {
    lang: f"len(list_intersect(list_distinct(toks), {_SW_SQL[lang]}))"
    for lang in sorted(TS.STOPWORDS)
}
_BEST = "greatest(" + ", ".join(_HITS[lang] for lang in sorted(TS.STOPWORDS)) + ")"
# lexicographically-first language wins ties (matches functions/textstats.py)
_PRED = "CASE "
for lang in sorted(TS.STOPWORDS):
    _PRED += f"WHEN {_BEST} > 0 AND {_HITS[lang]} = {_BEST} THEN '{lang}' "
_PRED += "ELSE 'unknown' END"


@register(
    "text_language_id",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang, {_PRED} AS predicted_lang,
           CAST({_BEST} AS INTEGER) AS best_hits
    FROM (SELECT doc_id, lang, {SQL_TOKS} AS toks FROM documents)
    """,
    tags=("textstats",),
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by function-word overlap (n-gram heuristic): argmax of
    per-language stopword hits, ties to the lexicographically-first
    language, 'unknown' when nothing matches. Broadcast-lexicon map-only
    pass — the standard first gate of a multilingual curation pipeline."""
    d = load_table(spark, sf_dir, "documents")
    hits = [TS.stopword_hits(F.col("text"), lang) for lang in sorted(TS.STOPWORDS)]
    best = F.greatest(*hits)
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        TS.predict_language(F.col("text")).alias("predicted_lang"),
        best.cast("int").alias("best_hits"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {SQL_TOKS} AS toks FROM documents),
    c AS (
        SELECT doc_id,
               CAST(LENGTH(text) AS BIGINT) AS n_chars,
               CAST(len(toks) AS BIGINT) AS n_words,
               CAST(LENGTH(REGEXP_REPLACE(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                 / GREATEST(LENGTH(text), 1) AS punct_ratio,
               CAST(LENGTH(REGEXP_REPLACE(text, '[^0-9]', '', 'g')) AS DOUBLE)
                 / GREATEST(LENGTH(text), 1) AS digit_ratio,
               CAST({_HITS['en']} AS DOUBLE) / 10.0 AS stopword_ratio
        FROM t
    )
    SELECT doc_id, n_chars, n_words, punct_ratio, digit_ratio, stopword_ratio,
           0.5 * (CASE WHEN n_words BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.25 END)
           + 0.25 * stopword_ratio
           + 0.25 * (1.0 - LEAST(1.0, punct_ratio * 4 + digit_ratio * 4)) AS quality
    FROM c
    """,
    tags=("textstats",),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style quality signals + composite score per document
    (length band, stopword density, punctuation/digit noise). All
    ratios are int/int → double: deterministic on every engine."""
    d = load_table(spark, sf_dir, "documents")
    c = TS.quality_components(F.col("text"))
    return d.select(
        "doc_id",
        c["n_chars"].alias("n_chars"),
        c["n_words"].alias("n_words"),
        c["punct_ratio"].alias("punct_ratio"),
        c["digit_ratio"].alias("digit_ratio"),
        c["stopword_ratio"].alias("stopword_ratio"),
        TS.quality_score(F.col("text")).alias("quality"),
    )


@register(
    "text_token_stats",
    oracle=r"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
                AS INTEGER) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                AS INTEGER) AS bpe_tokens,
           CAST(len(list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
                x -> x <> ''))) AS INTEGER) AS vocab_size,
           CAST(len(list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
                x -> x <> ''))) AS DOUBLE)
             / GREATEST(len(list_filter(string_split_regex(lower(text), '\s+'),
                x -> x <> '')), 1) AS type_token_ratio
    FROM documents
    """,
    tags=("textstats",),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting: whitespace tokens, BPE-ish word-piece count
    (letters|digits|symbol regex — the classic pre-tokenizer), vocab
    size and type/token ratio. The budget function for context-length
    planning over a 100 TB corpus — map-only, codegen'd."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", r"\s+"), lambda t: t != "")
    toks = H.word_tokens(F.col("text"))
    vocab = F.array_distinct(toks)
    return d.select(
        "doc_id",
        F.size(ws).alias("ws_tokens"),
        TS.bpe_token_count(F.col("text")).alias("bpe_tokens"),
        F.size(vocab).alias("vocab_size"),
        (F.size(vocab).cast("double")
         / F.greatest(F.size(toks), F.lit(1))).alias("type_token_ratio"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g'),
                    ' {{2,}}', ' ', 'g')) AS norm,
               {SQL_SHINGLES} AS sh
        FROM (SELECT doc_id, text, {SQL_TOKS} AS toks FROM documents)
    )
    SELECT doc_id,
           md5(norm) AS content_fp,
           SUBSTRING(md5(norm), 1, 8) AS short_fp,
           array_to_string(list_sort(list_transform(sh, s -> md5('0:' || s)))[1:3], ',')
               AS kmin_sketch
    FROM t
    """,
    tags=("textstats",),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: full + short content hash over the
    normalized text, plus a 3-min k-min sketch over shingle hashes
    (a winnowing-style selection — the same sketch used for
    containment search)."""
    d = load_table(spark, sf_dir, "documents")
    norm = TS.normalize_for_fingerprint(F.col("text"))
    sh = H.word_shingles(F.col("text"), 3)
    kmin = F.slice(F.array_sort(F.transform(sh, lambda s: H.seeded_md5(s, 0))), 1, 3)
    return d.select(
        "doc_id",
        F.md5(norm).alias("content_fp"),
        F.substring(F.md5(norm), 1, 8).alias("short_fp"),
        F.array_join(kmin, ",").alias("kmin_sketch"),
    )


# similarity_ann_ivf moved to plans/vector_ops.py in round 9: rebuilt
# on the deterministic exact-kmeans coarse quantizer so the whole
# pipeline is DuckDB-replayable (oracle-backed, no longer rows-only).


@register(
    "text_vocab_topk",
    oracle=f"""
    SELECT t AS token, COUNT(*) AS n
    FROM (SELECT {SQL_TOKS} AS toks FROM documents), LATERAL unnest(toks) AS u(t)
    GROUP BY t
    ORDER BY n DESC, t ASC
    LIMIT 100
    """,
    tags=("textstats", "topk"),
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global vocabulary: top-100 tokens by corpus frequency (ties
    broken by token, so the order is total and engine-portable).

    The canonical tokenizer-training precursor. Shape at 100 TB:
    explode → hash aggregate with map-side partial combine (shuffle
    carries one row per *distinct* token per partition, not per
    occurrence) → TakeOrderedAndProject for the top-k — no global sort.
    """
    d = load_table(spark, sf_dir, "documents")
    # fan the single-file scan out before interpreted tokenization
    # (same rationale as operators/dedup.shingled_docs; skipped on
    # wide scans and toy inputs, see operators/fanout)
    toks = (fan_out(d.select("text"))
            .select(F.explode(H.word_tokens(F.col("text"))).alias("token")))
    return (toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("token")).limit(100))


@register(
    "text_char_pair_stats",
    oracle=f"""
    WITH toks AS (
        SELECT t FROM (SELECT {SQL_TOKS} AS toks FROM documents),
        LATERAL unnest(toks) AS u(t)
    ),
    pairs AS (
        SELECT substring(t, i, 2) AS pair
        FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS g(i)
        WHERE len(t) >= 2
    )
    SELECT pair, COUNT(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair ASC
    LIMIT 50
    """,
    tags=("textstats", "topk", "tokenizer"),
)
def text_char_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate statistics: corpus-wide frequencies of
    adjacent character pairs inside tokens, top-50 (ties broken by
    pair, total order). This is exactly the pair-count step of one BPE
    training iteration — the vocabulary-building primitive next to
    text_vocab_topk (whole tokens) and text_bigram_assoc (token pairs).

    Shape: tokenize (fanned off the scan) → per-token pair explode →
    hash aggregate with map-side combine (shuffle carries one row per
    distinct pair per partition — the pair alphabet is tiny) →
    TakeOrderedAndProject. No global sort, no shuffle of raw text."""
    d = load_table(spark, sf_dir, "documents")
    toks = (fan_out(d.select("text"))
            .select(F.explode(H.word_tokens(F.col("text"))).alias("t"))
            .where(F.length("t") >= 2))
    # substring with a non-literal start position needs the SQL form
    pairs = toks.select(F.explode(F.expr(
        "transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))"
    )).alias("pair"))
    return (pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("pair")).limit(50))


def _cc_union_find(spark: SparkSession, member_rows, edge_rows) -> DataFrame:
    """Connected components of a BOUNDED graph on the driver:
    path-compressing union-find over the collected node/edge lists.
    Component label = min fp_min among members; cluster_size = sum of
    per-fingerprint doc counts over the component (so the expand join
    needs no doc-level re-aggregation). Only valid because the
    contracted fingerprint graph is ≤ 2^16 nodes by construction (and
    edge count is capped by the hamming-≤3 ball: ≤ 696 neighbours per
    node) — constants that do NOT grow with the corpus. Returns an
    (id, label, cluster_size) DataFrame small enough to broadcast into
    the expand join."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for r in member_rows:
        parent[r.simhash] = r.simhash
    # (fa, fb) undirected pairs: union-find needs each edge once, so
    # the caller ships half the rows the symmetric edge set has
    for fa, fb in edge_rows:
        ra, rb = find(int(fa)), find(int(fb))
        if ra != rb:
            parent[ra] = rb
    best: dict[int, int] = {}
    size: dict[int, int] = {}
    for r in member_rows:
        root = find(r.simhash)
        if root not in best or r.fp_min < best[root]:
            best[root] = r.fp_min
        size[root] = size.get(root, 0) + r.n_docs
    out = [(r.simhash, best[find(r.simhash)], size[find(r.simhash)])
           for r in member_rows]
    return spark.createDataFrame(out, "id int, label long, cluster_size long")


@register(
    "dedup_cluster_canonical",
    oracle=f"""
    WITH RECURSIVE th AS (
        SELECT doc_id, list_transform(toks, t -> {SQL_TOKHASH}) AS th
        FROM (SELECT doc_id, {SQL_TOKS} AS toks FROM documents)
    ),
    fp AS (SELECT doc_id, CAST({SQL_SIMHASH} AS INTEGER) AS simhash FROM th),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(CAST(a.simhash AS BIGINT), CAST(b.simhash AS BIGINT))) <= 3
    ),
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT s AS id FROM edges),
    reach AS (
        SELECT id, id AS r FROM nodes
        UNION
        SELECT reach.id, e.d FROM reach JOIN edges e ON e.s = reach.r
    ),
    clustered AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS INTEGER) AS cluster_size
    FROM clustered
    """,
    tags=("dedup", "iterative"),
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the (exact)
    SimHash pair graph; each doc in a component gets the component's
    minimum doc_id as its cluster id (the canonical representative)
    plus the component size.

    This is the step that turns pairwise near-dup evidence into
    keep/drop decisions. The Spark side contracts the graph to distinct
    fingerprints first (docs sharing a fingerprint are hamming-0
    connected), solves CC on the contracted graph, and expands
    components back to docs. Contraction is what survives scale: the
    doc-pair graph is near-quadratic inside fingerprint near-cliques
    (1.57M pairs at sf0.1, 47 s end-to-end) while the fingerprint graph
    is bounded by min(corpus, 2^16) nodes (identical output).

    CC runs on the driver: union-find over the collected contracted
    graph. That graph is bounded BY CONSTRUCTION, independent of corpus
    size: at most 2^16 nodes (16-bit fingerprints), each with at most
    696 neighbours (the hamming-≤3 ball, C(16,1)+C(16,2)+C(16,3)), so
    ``fp_pairs.toPandas()`` ships at most ~22.8M undirected edges at
    any scale. The oracle reproduces the doc-level semantics with a
    recursive CTE.
    """
    d = load_table(spark, sf_dir, "documents")
    # GRAPH CONTRACTION before CC — the scale-defining step. Docs with
    # the same 16-bit fingerprint are trivially connected (hamming 0),
    # so the doc-pair graph (which is near-quadratic inside fingerprint
    # near-cliques: 1.57M pairs / 14.5 s at sf0.1) collapses to the
    # DISTINCT-fingerprint graph: one node per fingerprint value,
    # bounded by min(corpus, 2^16) nodes, edges via the same lossless
    # nibble banding. Components of docs == components of fingerprints,
    # because doc adjacency depends only on the fingerprints.
    fp = checkpoint_seam(D.simhash_fingerprints(
        fan_out(d.select("doc_id", "text"))))
    nodes = fp.groupBy("simhash").agg(F.min("doc_id").alias("fp_min"),
                                      F.count(F.lit(1)).alias("n_docs"))
    fp_pairs = D.simhash_fp_pairs(nodes.select("simhash"))
    # checkpoint fp_pairs, the shared upstream of BOTH edge directions,
    # the member set and the driver's edge list — one materialization
    # instead of one per reader
    fp_pairs = checkpoint_seam(fp_pairs)
    edges = (fp_pairs.select(F.col("fa").alias("s"), F.col("fb").alias("d"))
             .unionByName(fp_pairs.select(F.col("fb").alias("s"),
                                          F.col("fa").alias("d"))))
    # graph nodes = fingerprints that yield any doc pair: an internal
    # pair (≥2 docs share the fingerprint) or an edge to another
    # fingerprint — matching the oracle's nodes-from-edges semantics.
    linked = edges.select(F.col("s").alias("simhash")).distinct()
    members = (nodes.join(linked, "simhash", "left_semi")
               .unionByName(nodes.where(F.col("n_docs") >= 2))
               .dropDuplicates(["simhash"]))
    member_rows = members.collect()
    # labels carry the component doc-count too, so the expand is a
    # single broadcast join — no doc-level re-aggregation
    # Arrow transfer for the (dense) edge list: toPandas moves two
    # int columns in columnar batches — 926k edges in ~0.2s at the
    # sf1 soak vs ~2.8s as Row objects
    pairs_pdf = fp_pairs.toPandas()
    # a Python list: Catalyst can't size it
    labels = F.broadcast(_cc_union_find(
        spark, member_rows,
        zip(pairs_pdf["fa"].to_numpy(), pairs_pdf["fb"].to_numpy())))
    return (fp.join(labels, fp.simhash == labels.id)
            .select("doc_id", F.col("label").alias("cluster_id"),
                    F.col("cluster_size").cast("int")))


@register(
    "dedup_embedding_cosine_rp",
    oracle=f"""
    WITH q AS (SELECT vec_id, {SQL_QUANT} AS q FROM embeddings),
    {SQL_RP_KEYS},
    cand AS (
        SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
        FROM keys x JOIN keys y
          ON x.b = y.b AND x.k = y.k AND x.vec_id < y.vec_id
    ),
    n AS (SELECT vec_id, q, list_sum(list_transform(q, x -> x * x)) AS n2 FROM q)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST({SQL_QDOT_AB} AS DOUBLE)
             / (SQRT(CAST(a.n2 AS DOUBLE)) * SQRT(CAST(b.n2 AS DOUBLE))) AS cos_sim
    FROM cand JOIN n a ON cand.va = a.vec_id JOIN n b ON cand.vb = b.vec_id
    WHERE CAST({SQL_QDOT_AB} AS DOUBLE)
             / (SQRT(CAST(a.n2 AS DOUBLE)) * SQRT(CAST(b.n2 AS DOUBLE))) >= 0.45
    """,
    tags=("dedup", "embedding", "lsh"),
)
def dedup_embedding_cosine_rp(spark: SparkSession, sf_dir: str,
                              bands: int | None = None,
                              bits: int | None = None) -> DataFrame:
    """Embedding near-dup via MULTI-TABLE random-hyperplane LSH — the
    recall-preserving counterpart of dedup_embedding_cosine. Each of
    ``bands`` tables hashes the FULL vector against ``bits``
    pseudo-random Rademacher hyperplanes (md5-parity signs, identical
    in both engines), so the band count is unbounded by the dimension:
    bits still grows with log2(n) to hold bucket occupancy (and with it
    candidate volume ~bands·4n) constant, while 32 independent tables
    hold recall where the 64-bit slice budget cannot (a cos-0.9 pair at
    sf1's derived 13 bits survives slice banding's 4 tables with
    p≈0.68 but 32 RP tables with p≈0.9999).

    Spark shape: band keys come from ONE Arrow-batched numpy int64
    matmul per partition (rp_band_key_table — the bands·bits ±sums are
    a BLAS-shaped product no 512-column expression tree can match: the
    expression path drops out of whole-stage codegen into interpreted
    evaluation, measured 558 s vs sub-second at the sf10 soak), then
    candidates/verify are the same ``candidate_pairs`` +
    fixed-point-cosine stages as the slice variant. Everything after
    key generation is identical plan shape; only the key family
    changed. Integer arithmetic end to end, so the Arrow path is
    bit-identical to the expression spec (differential-tested).
    """
    return _rp_qualifying_pairs(spark, sf_dir, bands, bits,
                                dedup_candidates=True)


def _rp_qualifying_pairs(spark: SparkSession, sf_dir: str,
                         bands: int | None, bits: int | None,
                         dedup_candidates: bool) -> DataFrame:
    """The shared RP-LSH candidate+verify pipeline: banded key build,
    bucket candidate pairs, fixed-point cosine verify, τ=0.45 filter.
    Returns (vec_a, vec_b, cos_sim) with vec_a < vec_b.

    ``dedup_candidates``: the pair-LISTING query needs each qualifying
    pair exactly once, so it pays a full exchange to DISTINCT the
    candidate stream before the verify join. The VERDICT consumer
    aggregates MIN(vec_a) per vec_b, which absorbs duplicate
    candidates for free — it skips that exchange entirely and lets the
    verify join carry the (low, λ≈2–4 occupancy) band-collision
    duplication instead. At the sf100 decade the skipped exchange is a
    ~190M-row shuffle of the candidate stream."""
    e = load_table(spark, sf_dir, "embeddings")
    if bits is None:
        bits = derive_rp_bits(e.count())
    if bands is None:
        bands = derive_rp_bands(bits)  # recall-compensating ladder
    # persisted seam: key build + both verify sides consume base (see
    # dedup_embedding_cosine — also keeps the n2 join key's inferred
    # isnotnull off the scan's DataFilters). The cached/verified
    # representation packs components as SMALLINT (values are
    # floor(x·1000) ∈ [-1000, 1000], so the cast is lossless): the
    # verify stage streams ~bands·λ·n/2 candidate pairs each carrying
    # a query vector — at the sf100 decade (2M vectors, 51 bands)
    # that's ~190M pairs, and 8-byte elements made it a ~100 GB
    # sort-spill that exhausted the probe box's disk. 2-byte elements
    # put the same join at ~30 GB; exact integer arithmetic is
    # preserved by widening inside the dot (V.qdot_wide).
    base = persist_seam(
        e.select("vec_id", V.quantize(F.col("embedding")).alias("ql"))
        .select("vec_id", F.col("ql").cast("array<smallint>").alias("q"),
                V.qnorm2(F.col("ql")).alias("n2")))
    # The hash-table materialization seam: the packed band keys are
    # checkpointed so the hyperplane arithmetic runs exactly once —
    # this is the LSH "build the tables" step; at warehouse scale it is
    # a parquet write of n×bands longs, here a localCheckpoint of the
    # same. Keys come from the Arrow-batched numpy matmul
    # (rp_band_key_table): the 512-expression projection path is
    # interpreted-evaluation-bound at scale (see its docstring).
    keys = checkpoint_seam(rp_band_key_table(base, bands, bits))
    # bks[b] embeds the table offset b·2^bits, so a vector has one key
    # per table and one key column buckets (table, code) at once
    cand = D.candidate_pairs(
        keys.select("vec_id", F.explode("bks").alias("key")), "vec_id",
        max_bucket_size=None, dedup=dedup_candidates).toDF("va", "vb")
    # SHUFFLE_HASH on the corpus side of both verify joins: the pair
    # stream is orders of magnitude wider than the per-partition
    # corpus build (n·~150 B / shuffle.partitions), and a sort-merge
    # join would SORT the wide stream — the other half of the sf100
    # disk blow-up. A hash build never sorts the stream side. It is
    # unconditional, unlike the minhash verify's broadcast-below-
    # threshold gate: the packed-smallint base is narrow enough that
    # the hash build beats a per-run broadcast at bench scale.
    a, b = base.hint("shuffle_hash").alias("a"), \
        base.hint("shuffle_hash").alias("b")
    cos = (V.qdot_wide(F.col("a.q"), F.col("b.q")).cast("double")
           / (F.sqrt(F.col("a.n2").cast("double"))
              * F.sqrt(F.col("b.n2").cast("double"))))
    return (
        cand.join(a, F.col("va") == F.col("a.vec_id"))
        .join(b, F.col("vb") == F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"),
                cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= 0.45)
    )


@register(
    "dedup_embedding_rp_verdict",
    oracle=f"""
    WITH q AS (SELECT vec_id, {SQL_QUANT} AS q FROM embeddings),
    {SQL_RP_KEYS},
    cand AS (
        SELECT x.vec_id AS va, y.vec_id AS vb
        FROM keys x JOIN keys y
          ON x.b = y.b AND x.k = y.k AND x.vec_id < y.vec_id
    ),
    n AS (SELECT vec_id, q, list_sum(list_transform(q, x -> x * x)) AS n2 FROM q),
    dropped AS (
        SELECT cand.vb AS vec_id, MIN(cand.va) AS min_peer
        FROM cand JOIN n a ON cand.va = a.vec_id JOIN n b ON cand.vb = b.vec_id
        WHERE CAST({SQL_QDOT_AB} AS DOUBLE)
                 / (SQRT(CAST(a.n2 AS DOUBLE)) * SQRT(CAST(b.n2 AS DOUBLE))) >= 0.45
        GROUP BY cand.vb
    )
    SELECT v.vec_id, (d.min_peer IS NULL) AS keep,
           COALESCE(d.min_peer, v.vec_id) AS canonical_id
    FROM q v LEFT JOIN dropped d ON v.vec_id = d.vec_id
    """,
    tags=("dedup", "embedding", "lsh"),
)
def dedup_embedding_rp_verdict(spark: SparkSession, sf_dir: str,
                               bands: int | None = None,
                               bits: int | None = None) -> DataFrame:
    """Output-bounded PER-DOC dedup verdict over the SAME banded RP
    candidates as dedup_embedding_cosine_rp (round-11 verdict #3): one
    row per vector — keep iff no qualifying (cos ≥ 0.45) neighbor with
    a smaller vec_id exists, canonical_id = MIN such neighbor (min-id
    election, the dedup_sink admission precedent; self when kept).
    Output is O(n) at ANY pair density, which is the production form
    for 100 TB — the pair LISTING grows ~n² on a pair-dense corpus
    (sf100: 949 s for 3.04M pairs) and is demoted to the diagnostic.

    Election is the non-recursive single-pass rule (drop against ALL
    smaller qualifying ids, not only kept ones) — the same dominance
    shape as SemDeDup's centroid-distance prune, chosen because it is
    one map-side-combinable MIN aggregation over the verify stream and
    exactly oracle-expressible; transitive canonicalization stays
    dedup_cluster_canonical's job. Skips the pair-listing's candidate
    DISTINCT exchange (MIN absorbs band-collision duplicates), so the
    verdict is strictly cheaper than the listing despite aggregating.

    Reference analog: transformer.py's per-issue include/exclude
    verdicts when rewriting the corpus (row-level keep decisions, not
    pair reports)."""
    pairs = _rp_qualifying_pairs(spark, sf_dir, bands, bits,
                                 dedup_candidates=False)
    # partial agg below the exchange: each map task emits ≤ one row
    # per distinct vec_b it saw — the shuffle is O(n), not O(pairs)
    dropped = (pairs.groupBy(F.col("vec_b").alias("vec_id"))
               .agg(F.min("vec_a").alias("min_peer")))
    ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    return (ids.join(dropped, "vec_id", "left")
            .select("vec_id",
                    F.col("min_peer").isNull().alias("keep"),
                    F.coalesce("min_peer", "vec_id").alias("canonical_id")))
