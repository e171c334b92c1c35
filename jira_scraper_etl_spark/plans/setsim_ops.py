"""Set-similarity join by prefix filtering (AllPairs/PPJoin family) and
token-frequency spectrum statistics (Good-Turing count-of-counts).

``dedup_jaccard_prefix`` fills the one gap in the dedup family: an
EXACT Jaccard-threshold join that never goes all-pairs. MinHash/LSH
(dedup_minhash_lsh) trades recall for scale; the gated ground truth
(dedup_ngram_jaccard) is exact but deliberately quadratic on a bounded
slice. Prefix filtering is exact AND subquadratic: under a global
token order (rarest first), any two sets with Jaccard ≥ τ must share a
token inside their short prefixes — so candidates come from a
bucket join on prefix tokens, whose buckets are small BY CONSTRUCTION
(prefixes prefer the rarest tokens). Bayardo et al., "Scaling Up All
Pairs Similarity Search" (WWW'07) is the public reference.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.storagelevel import StorageLevel

from ..seams import checkpoint_seam, persist_seam, release_checkpoint

from ..catalog import load_table
from ..errors import RegimeRefused
from ..functions import hashing as H
from ..operators import dedup as OD
from ..operators.fanout import HEAVY, LIGHT, fan_out
from .llm_ops import SQL_SHINGLES, SQL_TOKS
from .registry import register

# Jaccard threshold for the registered prefix join. Prefix length for a
# set of size z is z − ceil(τ·z) + 1: the prefix-filtering lemma — the
# ceil(τ·z)-th-from-last common element of any qualifying pair must sit
# inside both prefixes under one global order.
TAU = 0.5

# Candidate-volume budget for the prefix join: the upper bound
# Σ_tok m·(m−1)/2 over prefix-bucket sizes m (computed from the already-
# persisted prefix table, one cheap agg) is compared against this before
# the self-join is ever launched. On Zipfian vocabularies the bound is
# ~linear in corpus size (prefixes prefer rare tokens) and never trips;
# on degenerate low-entropy corpora it goes ~n² — the sf10 soak corpus
# (500k docs, 31-token vocabulary) projected >4G candidates, shuffled
# >70 GB and filled the disk. 500M admits every legitimate regime on
# record (sf1 full corpus ≈ 41M, the 100k-doc soak slice ≈ 165M);
# past it the operator DEGRADES along _TAU_LADDER and finally to the
# MinHash-banded candidate stage (same exact verify) instead of either
# an OOM-disk crash hours later (round 7) or a flat refusal (round 8) —
# a 100 TB engine returns a result with provenance, not an error.
MAX_PREFIX_CANDIDATES = 500_000_000

# Degradation ladder for the candidate-volume guard, as exact rationals
# (num, den): the τ=1/2 contract threshold first; each raised τ keeps
# the join EXACT at that higher threshold with strictly shorter
# prefixes (fewer, rarer bucket keys → fewer candidates). If no rung
# fits the budget the operator falls back to MinHash-banded candidates
# feeding the SAME exact verify at the original τ=1/2 — approximate
# recall (banding), exact precision (every emitted pair's jaccard is
# truly ≥ τ).
_TAU_LADDER = [(1, 2), (2, 3), (4, 5)]


@register(
    "dedup_jaccard_prefix",
    oracle=f"""
    WITH shingled AS (
        SELECT doc_id, sh
        FROM (SELECT doc_id, {SQL_SHINGLES} AS sh
              FROM (SELECT doc_id, {SQL_TOKS} AS toks FROM documents))
        WHERE len(sh) > 0
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
             AS jaccard,
           'prefix' AS method
    FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
          >= {TAU}
    """,
    tags=("dedup", "join"),
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str,
                         max_candidates: int | None = None,
                         fallback: bool = True) -> DataFrame:
    """EXACT Jaccard ≥ 0.5 similarity join over the FULL corpus with no
    all-pairs stage — prefix filtering (AllPairs, WWW'07): order the
    shingle vocabulary globally by (document frequency, shingle), keep
    from each document only the first ``|s| − ceil(τ·|s|) + 1`` tokens
    under that order, and generate candidates by an equi-join on those
    prefix tokens. The lemma guarantees every qualifying pair shares a
    prefix token (zero false negatives — the oracle is the plain
    all-pairs join over the whole table, not a slice); exact
    verification then intersects the full shingle sets of candidates
    only.

    Scale shape: shingles are hash-compacted to 64-bit xxhash64 keys at
    the source — every downstream stage (df counts, rank join, sorted
    arrays, candidate join, verify intersects) moves longs, never
    strings; the prefix lemma only needs A consistent total order, so
    (df, hash) serves as well as (df, shingle) (collision risk ≈
    |vocab|²/2⁶⁵ per corpus — ~10⁻¹¹ at sf1 — documented, and the
    brute-force-equality test plus the string-based oracle would
    surface one). Candidate buckets are keyed on the RAREST tokens of
    each document; the standard length filter (τ·|a| ≤ |b| ≤ |a|/τ)
    and the PPJoin positional filter (1 + min(|a|−i, |b|−j) ≥
    ceil(τ/(1+τ)·(|a|+|b|)) — a pair matching only DEEP in both
    prefixes cannot reach the required overlap) prune before the
    distinct. All stages are linear in (doc, token) volume on Zipfian
    vocabularies, where prefix tokens are genuinely rare. On
    low-entropy corpora (the sf1 soak's 31-token vocabulary) candidate
    volume degenerates toward density — intrinsic to any EXACT
    similarity join; the guard there is ENFORCED, not advisory: before
    the self-join launches, the candidate upper bound Σ_tok m·(m−1)/2
    over prefix-bucket sizes is priced (integer arithmetic, one
    map-side-combined agg) against ``max_candidates`` (default
    MAX_PREFIX_CANDIDATES). Past the budget the operator DEGRADES
    instead of refusing (round-8 verdict): first re-price at the
    raised thresholds in _TAU_LADDER (each still an EXACT join, at a
    higher τ), and if no rung fits, generate candidates from the
    MinHash band keys (operators/dedup.candidate_pairs — bucketed,
    hot-bucket-capped, never all-pairs) feeding the SAME exact verify
    at τ=1/2. Every output row carries a ``method`` provenance column
    ('prefix' | 'prefix_tau=N/D' | 'minhash_lsh'): exact precision
    always (each emitted jaccard is truly ≥ the stated threshold);
    recall is total on the prefix rungs at their τ and banding-
    probabilistic on the minhash rung. ``fallback=False`` restores the
    round-8 refusal (RegimeRefused) for callers that must not degrade.
    """
    if max_candidates is None:
        max_candidates = MAX_PREFIX_CANDIDATES
    d = load_table(spark, sf_dir, "documents")
    # persisted seam: the interpreted shingling HOF pipeline is the
    # expensive map stage and has two consumers (prefix pipeline,
    # verify arrays) — materialize it once (the text_tfidf_topk
    # pattern; Catalyst won't reuse the subtree across branches).
    # no size(sh) gate: word_shingles is total — every doc (null and
    # empty text included) yields >= 1 shingle, so the old
    # where(size(sh) > 0) was a no-op that Catalyst inlined into the
    # scan's DataFilters (HOF-SCAN-FILTER class, duplicate serialized
    # shingling)
    docs = persist_seam(
        fan_out(d.select("doc_id", H.word_shingles(F.col("text"), 3)
                         .alias("sh")), LIGHT)
        .select("doc_id",
                F.transform("sh", lambda s: F.xxhash64(s)).alias("sh")))
    flat = docs.select("doc_id", F.explode("sh").alias("tok"))
    dfreq = flat.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # per-doc tokens sorted by the global (df, hash) order, rarest first
    srt = (flat.join(dfreq, "tok")
           .groupBy("doc_id")
           .agg(F.array_sort(F.collect_list(F.struct("df", "tok")))
                .alias("srt"))
           .withColumn("sz", F.size("srt")))

    def rung_len(num: int, den: int):
        # prefix length z − ceil(τ·z) + 1 for τ=num/den; ceil(τ·z) =
        # (num·z + den − 1) div den, integer-exact (Spark div truncates
        # toward zero; all operands positive here).
        return (F.col("sz")
                - F.expr(f"(sz * {num} + {den - 1}) div {den}") + F.lit(1))

    # ONE prefix table serves every rung: under a raised τ the prefix
    # for a doc of size z is strictly shorter, and the global token
    # order is shared — so each rung's prefix is exactly the rows of
    # the τ=1/2 table with idx ≤ that rung's length. Build (and
    # persist: the candidate self-join consumes it TWICE and Catalyst
    # does not reuse the join⨝groupBy subtree across the aliased
    # sides) only the longest rung's table.
    num0, den0 = _TAU_LADDER[0]
    prefix = (srt.select(
        "doc_id", "sz",
        F.posexplode(F.slice(F.transform("srt", lambda x: x["tok"]),
                             F.lit(1), rung_len(num0, den0)))
        .alias("idx", "tok"))
        .withColumn("idx", F.col("idx") + 1))  # 1-based prefix position
    prefix = persist_seam(prefix, materialize=False)

    # Candidate-volume guard, ALL rungs priced in one map-side-combined
    # agg: the self-join emits at most Σ_tok m·(m−1)/2 rows (m = the
    # rung's prefix-bucket size, a conditional count on the shared
    # table) BEFORE its filters, and on low-entropy corpora the
    # filters cannot prune below true density — so the join is priced
    # before it is paid for, and degrading to a shorter rung costs a
    # FILTER of the cached table, never a corpus re-pass. m·(m−1) is
    # even, so the per-bucket div 2 is exact in int64 (ADVICE r8: the
    # former double /2 could round near the budget boundary).
    rungs = _TAU_LADDER if fallback else _TAU_LADDER[:1]
    stats = prefix.groupBy("tok").agg(
        *[F.count(F.when(F.col("idx") <= rung_len(n, d), 1))
          .alias(f"m{j}") for j, (n, d) in enumerate(rungs)])
    totals = stats.select(
        *[F.sum(F.expr(f"m{j} * (m{j} - 1) div 2")).alias(f"c{j}")
          for j in range(len(rungs))]).first()
    ests = [int(totals[f"c{j}"] or 0) for j in range(len(rungs))]
    chosen = next((j for j, e in enumerate(ests)
                   if e <= max_candidates), None)
    if chosen is None:
        prefix.unpersist()
        if not fallback:
            docs.unpersist()
            raise RegimeRefused(
                f"dedup_jaccard_prefix: projected candidate volume "
                f"{ests[0]:,} exceeds the {max_candidates:,} budget — "
                f"the corpus vocabulary is too low-entropy for an exact "
                f"prefix-filtered join (no rare tokens to prune on). "
                f"Route this corpus to dedup_minhash_lsh, raise TAU, "
                f"re-enable fallback=, or pass a larger max_candidates= "
                f"if the shuffle volume is genuinely affordable "
                f"(~32 bytes/candidate).")
        cand = _minhash_candidates_hashed(docs)
        return _verify_pairs(cand, docs, TAU, "minhash_lsh")
    num, den = rungs[chosen]
    if chosen > 0:
        prefix = prefix.where(F.col("idx") <= rung_len(num, den))
    a, b = prefix.alias("a"), prefix.alias("b")
    # required overlap α = ceil(τ/(1+τ)·(|a|+|b|)) with τ=num/den:
    # ceil(num·(|a|+|b|) / (num+den)) — Spark div TRUNCATES toward
    # zero, so add (num+den−1) for the ceil on positive ints
    nd = num + den
    alpha = F.expr(f"((a.sz + b.sz) * {num} + {nd - 1}) div {nd}")
    # positional filter upper bound: tokens at/after the matching
    # positions are all that can still be common
    ubound = (F.lit(1) + F.least(F.col("a.sz") - F.col("a.idx"),
                                 F.col("b.sz") - F.col("b.idx")))
    cand = (
        a.join(b, (F.col("a.tok") == F.col("b.tok"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               # length filter: τ·|a| ≤ |b| ≤ |a|/τ (integer-exact)
               & (F.col("b.sz") * den >= F.col("a.sz") * num)
               & (F.col("a.sz") * den >= F.col("b.sz") * num)
               & (ubound >= alpha))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    method = "prefix" if (num, den) == _TAU_LADDER[0] else \
        f"prefix_tau={num}/{den}"
    return _verify_pairs(cand, docs, num / den, method)


def _minhash_candidates_hashed(docs: DataFrame) -> DataFrame:
    """MinHash-banded candidate pairs straight from the already-hashed
    shingle arrays (doc_id, sh: array<long> of xxhash64 keys) — the
    degraded-regime candidate generator for dedup_jaccard_prefix.

    Reuses the persisted ``docs`` seam instead of re-shingling the
    corpus (operators/dedup.minhash_near_dup_pairs would run the whole
    interpreted shingle pipeline a second time and persist a second
    copy). The Kirsch-Mitzenmacher family needs two 32-bit hashes per
    shingle; the xxhash64 key's high and low halves serve (same
    arithmetic as operators/dedup.minhash_signatures, different base
    hash — band keys are engine-local equivalence classes, never
    output values, and the exact verify downstream makes any band
    collision harmless). Banding/capping is the shared
    operators/dedup machinery: band_keys_df's 8-byte keys,
    candidate_pairs' hot-bucket chain degradation — bucketed, never
    all-pairs, O(n·W) even on the degenerate corpora that trip the
    prefix guard."""
    ex = docs.select("doc_id", F.explode("sh").alias("s"))
    hp = ex.select(
        "doc_id",
        F.shiftrightunsigned("s", 32).alias("h1"),
        F.col("s").bitwiseAND(F.lit(0xFFFFFFFF)).alias("h2"))
    sig = hp.groupBy("doc_id").agg(
        *[F.min((F.col("h1") + F.lit(i) * F.col("h2")) % F.lit(OD.MOD32))
          .alias(f"mh{i}") for i in range(OD.N_HASHES)])
    banded = OD.band_keys_df(sig, "doc_id")
    return (OD.candidate_pairs(banded, "doc_id")
            .select(F.col("id_a").alias("doc_a"),
                    F.col("id_b").alias("doc_b")))


def _verify_pairs(cand: DataFrame, docs: DataFrame, tau: float,
                  method: str) -> DataFrame:
    """Exact-Jaccard verify of (doc_a, doc_b) candidates against the
    hashed shingle arrays, thresholded at ``tau``, tagged with the
    ``method`` provenance column. Shared by every dedup_jaccard_prefix
    regime — the rungs differ only in how candidates were generated.

    Join strategy (round-14, guide §3.1 — the minhash-verify gating
    applied here): below the broadcast threshold the planner ships the
    corpus arrays to every task and the pair stream never exchanges;
    past it the un-hinted planner falls back to sort-merge, which
    SORTS the O(candidates) pair stream twice — the sf300 spill class.
    Hint shuffle_hash exactly in the non-broadcastable regime (a hash
    build of the corpus side per partition, no pair-stream sort).
    Plan-neutral at bench SFs, where the seam broadcasts either way."""
    from ..operators.dedup import _fits_broadcast

    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    if not _fits_broadcast(sa):
        sa, sb = sa.hint("shuffle_hash"), sb.hint("shuffle_hash")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .select("doc_a", "doc_b",
                (inter.cast("double") / union).alias("jaccard"))
        .where(F.col("jaccard") >= tau)
        .withColumn("method", F.lit(method))
    )


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — MOSS)
# ---------------------------------------------------------------------------

WINNOW_K = 8   # character k-gram length
WINNOW_W = 4   # window: one fingerprint selected per W consecutive grams
# min over (hash, rightmost position) as ONE lexicographic key: md5 hex
# is fixed-width lowercase, so string min == 128-bit value min, and
# appending zero-padded (10^9 − pos) makes ties resolve to the largest
# position — the paper's "rightmost minimal hash" rule — in a single
# MIN aggregate both engines evaluate identically.
_POS_BASE = 1_000_000_000


# The winnow pipeline's oracle CTEs + final select, shared verbatim by
# text_winnow_fingerprints and the overlap join built on it.
_WINNOW_CTES = f"""g AS (
        SELECT doc_id, t.i AS pos,
               md5(substring(text, t.i, {WINNOW_K}))
                 || lpad(CAST({_POS_BASE} - t.i AS VARCHAR), 10, '0') AS key,
               greatest(len(text) - {WINNOW_K} + 1, 0) AS n
        FROM documents, LATERAL unnest(generate_series(
            1, greatest(len(text) - {WINNOW_K} + 1, 0))) AS t(i)
    ),
    wins AS (
        SELECT doc_id, pos, n,
               min(key) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW
                              AND {WINNOW_W - 1} FOLLOWING) AS sk
        FROM g
    )"""

_WINNOW_SELECT = f"""SELECT DISTINCT doc_id,
           CAST({_POS_BASE} - CAST(substring(sk, 33, 10) AS BIGINT) AS BIGINT)
             AS pos,
           substring(sk, 1, 16) AS fp
    FROM wins WHERE pos <= n - {WINNOW_W} + 1"""


@register(
    "text_winnow_fingerprints",
    oracle=f"""
    WITH {_WINNOW_CTES}
    {_WINNOW_SELECT}
    """,
    tags=("textstats", "dedup", "fingerprint"),
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every character 8-gram, slide
    a window of 4 consecutive hashes, keep the minimal hash per window
    (rightmost on ties), emit the distinct (position, fingerprint)
    pairs per document. The selection guarantee: any substring match of
    length ≥ w + k − 1 between two documents shares at least one
    selected fingerprint — local fingerprinting with a DENSITY
    guarantee (≈ 2/(w+1) of grams selected), which plain "every i-th
    hash" or "hashes ≡ 0 mod p" schemes don't give. Complements the
    fingerprint family: text_fingerprint is one rolling hash per doc,
    this is the position-anchored set plagiarism/overlap detectors
    join on.

    Scale shape: MAP-ONLY after one conditional fan-out — grams,
    window minima, tie-breaks, AND the output dedup are array
    expressions inside one row (array_distinct over the ≈ 2n/(w+1)
    selected keys; the ~|text| gram stream never explodes through a
    shuffle). The fan_out seam matters here more than anywhere: the
    per-row work is ~|text| md5 calls, so a single-file scan whose row
    groups land in one task serializes the whole corpus — measured at
    the sf10 decade as a 13-of-14-tasks-idle straggler running ~10 min
    while the balanced form takes seconds (round-3 finding 5, same fix
    as dedup_span_exact). The rightmost-min tie-break folds into a
    single lexicographic array_min over slice() windows via the key
    encoding above (md5 hex ∥ zero-padded 10⁹−pos) — no struct
    comparators, so the whole pass stays in whole-stage codegen.
    Documents shorter than k + w − 1 chars emit nothing (below the
    guarantee threshold — the paper's contract, documented rather than
    padded)."""
    # HEAVY preset: one md5 per character position is cryptographic-
    # hash-per-token-class work (~5-10 s/MB single-core), so fan out
    # beyond toy scale — measured 4.9 s single-task vs sub-second
    # fanned at sf0.1's 0.6 MB corpus
    d = fan_out(load_table(spark, sf_dir, "documents")
                .select("doc_id", "text"), HEAVY)
    # (md5(gram) ∥ pad(POS_BASE − i)) per position; substring needs a
    # Column start index inside the lambda — F.expr keeps it terse
    keys = F.expr(
        f"transform(sequence(1, greatest(length(text) - {WINNOW_K} + 1, 0)),"
        f" i -> md5(substring(text, i, {WINNOW_K}))"
        f"      || lpad(cast({_POS_BASE} - i as string), 10, '0'))")
    sel = F.expr(
        f"transform(sequence(1, size(ks) - {WINNOW_W} + 1),"
        f" j -> array_min(slice(ks, j, {WINNOW_W})))")
    # the short-doc gate MUST be the cheap length predicate, not
    # size(ks) >= w: filtering on the computed column makes Catalyst
    # inline the entire md5 gram pipeline into the Filter and push it
    # into the SCAN stage as a DataFilter — below the fan-out exchange,
    # so the whole corpus's hashing ran twice, once serialized in the
    # scan's straggler task (measured: 682 s at sf10 vs 8 s fixed).
    # length(text) ≥ k + w − 1 ⇔ size(ks) ≥ w, and it also keeps
    # sequence(1, size−w+1) ascending (sequence(1, 0) is DESCENDING in
    # Spark — bogus windows, not an empty array).
    return (
        d.where(F.length("text") >= WINNOW_K + WINNOW_W - 1)
        .select("doc_id", keys.alias("ks"))
        .select("doc_id", F.explode(F.array_distinct(sel)).alias("sk"))
        .select(
            "doc_id",
            (F.lit(_POS_BASE)
             - F.substring("sk", 33, 10).cast("long")).alias("pos"),
            F.substring("sk", 1, 16).alias("fp"))
    )


# MOSS overlap-join dials: fingerprints appearing in more than
# WINNOW_MAX_DF documents are boilerplate (ubiquitous substrings) and
# are dropped before pairing — the paper's own noise rule, and the
# guarantee that bucket sizes (hence candidate volume per fingerprint)
# are bounded by construction; pairs must share at least
# WINNOW_MIN_SHARED distinct fingerprints to be reported.
WINNOW_MAX_DF = 10
WINNOW_MIN_SHARED = 3


@register(
    "text_winnow_overlap",
    oracle=f"""
    WITH {_WINNOW_CTES},
    W AS ({_WINNOW_SELECT}),
    docfp AS (SELECT DISTINCT doc_id, fp FROM W),
    rare AS (SELECT fp FROM docfp GROUP BY fp
             HAVING COUNT(*) <= {WINNOW_MAX_DF}),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM docfp a JOIN rare USING (fp) JOIN docfp b USING (fp)
        WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM pairs GROUP BY doc_a, doc_b
    HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
    """,
    tags=("dedup", "join", "fingerprint"),
)
def text_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MOSS overlap join — what winnowing fingerprints are FOR:
    document pairs sharing ≥ WINNOW_MIN_SHARED distinct selected
    fingerprints, i.e. pairs with at least that many (near-)guaranteed
    common substrings of length ≥ k+w−1 — the plagiarism/boilerplate
    detector, completing the story text_winnow_fingerprints starts.

    Scale shape: pairs come from a bucket join keyed on the
    fingerprint, and the WINNOW_MAX_DF prune (the paper's own
    ubiquitous-substring noise rule) bounds every bucket at ≤ max_df
    docs BEFORE the join — candidate volume is Σ_fp m·(m−1)/2 ≤
    |fps|·max_df²/2, linear in corpus size by construction, so unlike
    the Jaccard prefix join this needs no runtime pricing guard. One
    distinct (map-side combined), one df-count agg reused as the
    prune, one equi-join, one pair count — every stage keyed, nothing
    all-pairs. The shared-count threshold is the MOSS report rule."""
    fps = text_winnow_fingerprints(spark, sf_dir)
    # the fingerprint pass runs once, both join sides hit cache
    docfp = persist_seam(fps.select("doc_id", "fp").distinct())
    rare = (docfp.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= WINNOW_MAX_DF)
            .select("fp"))
    a = docfp.join(rare, "fp").select("fp", F.col("doc_id").alias("doc_a"))
    b = docfp.select("fp", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


def winnow_fast_frame(d: DataFrame) -> DataFrame:
    """The xxhash64 winnowing pass over a (doc_id, text) frame —
    shared by the registry entry and the fixture-scale guarantee
    tests (tests/test_setsim_guarantees.py)."""
    keys = F.expr(
        f"transform(sequence(1, greatest(length(text) - {WINNOW_K} + 1, 0)),"
        f" i -> struct(xxhash64(substring(text, i, {WINNOW_K})) as h,"
        f"             -i as negpos))")
    # sliding window-min by DOUBLING, not per-window slices: m1[i] =
    # min(ks[i], ks[i+1]), m2[i] = min(m1[i], m1[i+2]) = min of the
    # full 4-window — two zip_with passes (~2n struct compares, zero
    # per-window array allocation) where transform+slice+array_min is
    # ~(w+1)·n allocations; measured 40.9 s → 32.9 s at sf10, output
    # identical. zip_with pads the shorter (shifted) side with nulls
    # and least() skips nulls, so the trailing partial windows exist
    # but are cut by the slice to the n−w+1 valid ones.
    assert WINNOW_W == 4, "doubling ladder below is built for w=4"
    m1 = ("zip_with(ks, slice(ks, 2, greatest(size(ks) - 1, 0)),"
          " (a, b) -> least(a, b))")
    sel = F.expr(
        f"slice(zip_with(m1, slice(m1, 3, greatest(size(m1) - 2, 0)),"
        f"       (a, b) -> least(a, b)),"
        f" 1, greatest(size(m1) - {WINNOW_W - 1}, 0))")
    # same cheap-length-predicate gate as the md5 entry (see its
    # docstring: filtering on the computed column would push the whole
    # gram pipeline into the scan's DataFilters)
    return (
        d.where(F.length("text") >= WINNOW_K + WINNOW_W - 1)
        .select("doc_id", keys.alias("ks"))
        .withColumn("m1", F.expr(m1))
        .select("doc_id", F.explode(F.array_distinct(sel)).alias("sk"))
        .select("doc_id",
                (-F.col("sk.negpos")).cast("long").alias("pos"),
                F.col("sk.h").alias("fp"))
    )


@register(
    "text_winnow_fingerprints_fast",
    oracle=None,  # rows-only: no xxhash64 twin in DuckDB/stdlib Python
    tags=("textstats", "dedup", "fingerprint", "approx-twin"),
)
def text_winnow_fingerprints_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The named 100 TB path for winnowing (round-9 verdict #7, the
    events_winsorize_approx twin precedent): identical MOSS selection
    semantics to text_winnow_fingerprints — hash every char 8-gram,
    per-4-window minimum, rightmost on ties, distinct (pos, fp) per doc
    — but grams are hashed with xxhash64 (one 64-bit mix per gram)
    instead of md5 (a full cryptographic digest per CHARACTER position:
    147M md5 calls at sf10, the suite's documented linear floor). The
    md5 entry stays as the DuckDB-oracle anchor; this twin is what a
    100 TB corpus actually runs.

    The window minimum is an array_min over struct(h, −pos) — Spark
    orders structs field-by-field, so min h wins and min −pos breaks
    ties to the RIGHTMOST position, the paper's rule, with no string
    key encoding at all (the md5 entry needs the hex∥pad trick because
    its hash is already a string). Map-only after the same conditional
    fan-out; output fp is the raw 64-bit hash (8 bytes/row vs the md5
    entry's 16-char hex prefix).

    Correctness is pinned without an oracle (tests/
    test_setsim_guarantees.py): (a) the paper's coverage guarantee on
    REAL corpus docs — first selected position ≤ w, adjacent gaps ≤ w,
    last ≥ n_grams − w + 1; (b) sampled replay — the engine's own
    xxhash64 gram stream re-winnowed by an independent Python
    implementation of the selection rule, exact (pos, fp) set
    equality; (c) the substring-match guarantee on engineered pairs —
    any shared substring of length ≥ w + k − 1 shares ≥ 1 selected
    fingerprint."""
    d = fan_out(load_table(spark, sf_dir, "documents")
                .select("doc_id", "text"), HEAVY)
    return winnow_fast_frame(d)


# ---------------------------------------------------------------------------
# Good-Turing frequency spectrum (count-of-counts)
# ---------------------------------------------------------------------------

@register(
    "ngram_count_of_counts",
    oracle=f"""
    WITH tf AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS r
        FROM (SELECT unnest({SQL_TOKS}) AS tok FROM documents)
        GROUP BY tok
    ),
    spectrum AS (
        SELECT r, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM tf GROUP BY r
    )
    SELECT r, n_tokens,
           CASE WHEN LEAD(r) OVER (ORDER BY r) = r + 1
                THEN CAST((r + 1) * LEAD(n_tokens) OVER (ORDER BY r) AS DOUBLE)
                     / n_tokens
                ELSE NULL END AS r_star
    FROM spectrum
    """,
    tags=("textstats", "agg"),
)
def ngram_count_of_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency-of-frequencies (the Good-Turing spectrum): how
    many distinct tokens occur exactly r times, with the Good-Turing
    adjusted count r* = (r+1)·N_{r+1}/N_r where the next frequency
    class exists — the smoothing statistic classical language models
    (Katz backoff) compute over the corpus, and a one-glance
    diagnostic of vocabulary burstiness (Zipf corpora show N_1 ≫ N_2).

    Two map-side-combined shuffles (token counts, then spectrum
    counts); the LEAD window runs over the spectrum, whose cardinality
    is the number of DISTINCT frequencies — O(√total_tokens) by a
    counting argument (Σ r·N_r = T and the r values are distinct, so
    there are at most ~√(2T) classes), safe in a single partition at
    any corpus size. r* is one integer product and one IEEE division —
    bit-identical cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    toks = (fan_out(d.select(H.word_tokens(F.col("text")).alias("toks")),
                    LIGHT)
            .select(F.explode("toks").alias("tok")))
    tf = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("r"))
    spectrum = tf.groupBy("r").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"))
    w = Window.orderBy("r")
    nxt_r = F.lead("r").over(w)
    nxt_n = F.lead("n_tokens").over(w)
    return spectrum.select(
        "r", "n_tokens",
        F.when(nxt_r == F.col("r") + 1,
               ((F.col("r") + 1) * nxt_n).cast("double") / F.col("n_tokens"))
        .alias("r_star"))


# ---------------------------------------------------------------------------
# Iterative BPE merge learning (tokenizer training)
# ---------------------------------------------------------------------------

BPE_STEPS = 4


def _bpe_iteration_sql(i: int) -> str:
    """One BPE iteration as chained CTEs: pair counts over the current
    vocab symbolization, deterministic top pair, then greedy left-to-
    right merge application expressed relationally — all matching
    positions, islands of CONSECUTIVE matches (only possible when
    left==right, e.g. 'aaa'), keep even offsets within each island
    (proven equivalent to the sequential greedy fold; see the operator
    docstring), rebuild the symbol lists positionally."""
    return f"""
    p{i} AS (
        SELECT syms[g.i] AS l, syms[g.i+1] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM v{i-1}, LATERAL unnest(generate_series(1, len(syms)-1)) AS g(i)
        GROUP BY 1, 2
    ),
    t{i} AS (SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1),
    q{i} AS (SELECT w, freq, syms, g.i AS q
             FROM v{i-1}, LATERAL unnest(generate_series(1, len(syms))) AS g(i)),
    mm{i} AS (SELECT q{i}.w, q{i}.q FROM q{i}, t{i}
              WHERE syms[q] = t{i}.l AND q < len(syms) AND syms[q+1] = t{i}.r),
    isl{i} AS (SELECT w, q,
                      q - ROW_NUMBER() OVER (PARTITION BY w ORDER BY q) AS isle
               FROM mm{i}),
    keep{i} AS (SELECT w, q
                FROM (SELECT w, q, MIN(q) OVER (PARTITION BY w, isle) AS s
                      FROM isl{i})
                WHERE (q - s) % 2 = 0),
    v{i} AS (
        SELECT q{i}.w AS w, ANY_VALUE(q{i}.freq) AS freq,
               list(CASE WHEN k.q IS NOT NULL THEN (SELECT l || r FROM t{i})
                         ELSE q{i}.syms[q{i}.q] END ORDER BY q{i}.q)
                 FILTER (WHERE k2.q IS NULL) AS syms
        FROM q{i}
        LEFT JOIN keep{i} k  ON q{i}.w = k.w  AND q{i}.q = k.q
        LEFT JOIN keep{i} k2 ON q{i}.w = k2.w AND q{i}.q = k2.q + 1
        GROUP BY q{i}.w
    )"""


_BPE_ORACLE = f"""
WITH vocab0 AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest({SQL_TOKS}) AS w FROM documents) GROUP BY w
),
v0 AS (SELECT w, freq,
       list_transform(generate_series(1, len(w)), i -> substring(w, i, 1)) AS syms
       FROM vocab0),
{','.join(_bpe_iteration_sql(i) for i in range(1, BPE_STEPS + 1))}
{' UNION ALL '.join(
    f"SELECT {i} AS step, l AS left_sym, r AS right_sym, l || r AS merged,"
    f" cnt AS pair_count FROM t{i}" for i in range(1, BPE_STEPS + 1))}
"""


@register("bpe_learn_merges", oracle=_BPE_ORACLE, tags=("textstats", "iterative"))
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge learning (Sennrich et al., ACL'16) —
    the tokenizer-training loop run as a distributed iterative
    algorithm: count adjacent symbol pairs over the word-frequency
    table (positions-based, overlaps included, weighted by word
    frequency — the reference get_stats semantics), elect the most
    frequent pair (ties broken lexicographically), apply the merge
    greedily left-to-right, repeat. Closes the loop that
    text_char_pair_stats (merge CANDIDATE stats) opens: this entry
    learns the actual merge table.

    Scale shape: all heavy work happens on the WORD-FREQUENCY table,
    never the corpus — one corpus-wide shuffle builds (word, freq),
    then every iteration is a pair-explode + map-side-combined count
    over vocabulary-sized data (the classic BPE trick: 100 TB of text
    with a 10M-word vocabulary iterates over 10M rows). Per-iteration
    driver state is ONE row (the elected pair, like
    dedup_cluster_canonical's bounded driver work); lineage is
    truncated per iteration with localCheckpoint so the fold lambdas
    don't stack. The greedy merge is a sequential fold per word
    (F.aggregate); the oracle expresses the same greedy semantics
    relationally — all matches, then even offsets within islands of
    consecutive matches — an equivalence property-tested over 8000
    random sequences in tests."""
    merges, _ = _bpe_train(spark, sf_dir, keep_words=False)
    return spark.createDataFrame(
        merges,
        schema="step int, left_sym string, right_sym string, "
               "merged string, pair_count long")


def _bpe_train(spark: SparkSession, sf_dir: str,
               keep_words: bool = True) -> tuple[list[tuple], DataFrame]:
    """The shared BPE training loop: learns BPE_STEPS merges over the
    word-frequency table and returns both the merge list AND the final
    symbolized vocabulary (w, freq, syms) — the ENCODED vocab under
    the learned merges, which text_bpe_encode_stats joins back to the
    corpus. ``keep_words=False`` (bpe_learn_merges, which only reports
    the merge table) drops the word column before the loop: carrying it
    through 4 fold+localCheckpoint rounds costs a measurable slice of
    the benched entry (r10 1.37s -> 2.09s bench blip traced here), and
    the learning math never reads it."""
    d = load_table(spark, sf_dir, "documents")
    cols = (["w"] if keep_words else []) + ["freq"]
    vocab = (d.select(F.explode(H.word_tokens(F.col("text"))).alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("freq"))
             .select(*cols, F.split("w", "").alias("syms"))
             .persist(StorageLevel.MEMORY_AND_DISK))
    vocab.count()
    merges: list[tuple] = []
    cur = vocab
    for step in range(1, BPE_STEPS + 1):
        k = F.size("syms")
        pl = F.slice("syms", 1, F.greatest(k - 1, F.lit(0)))
        pr = F.slice("syms", 2, F.greatest(k - 1, F.lit(0)))
        pairs = (cur.select(
            "freq",
            F.explode(F.arrays_zip(pl.alias("l"), pr.alias("r"))).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt")))
        top = pairs.orderBy(F.desc("cnt"), "l", "r").limit(1).collect()
        if not top:
            break
        l, r, cnt = top[0].l, top[0].r, top[0].cnt
        merges.append((step, l, r, l + r, int(cnt)))
        merged = F.lit(l + r)
        nxt = checkpoint_seam(cur.select(*cols, F.aggregate(
            "syms", F.expr("cast(array() as array<string>)"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(l)) & (x == F.lit(r)),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)))
            .otherwise(F.concat(acc, F.array(x)))).alias("syms")))
        release_checkpoint(cur)  # no-op on the first step's vocab
        cur = nxt
    vocab.unpersist()
    return merges, cur


_BPE_ENCODE_ORACLE = f"""
WITH vocab0 AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest({SQL_TOKS}) AS w FROM documents) GROUP BY w
),
v0 AS (SELECT w, freq,
       list_transform(generate_series(1, len(w)), i -> substring(w, i, 1)) AS syms
       FROM vocab0),
{','.join(_bpe_iteration_sql(i) for i in range(1, BPE_STEPS + 1))},
wt AS MATERIALIZED (SELECT w, CAST(len(syms) AS BIGINT) AS n_syms
                    FROM v{BPE_STEPS}),
docw AS (SELECT doc_id, unnest({SQL_TOKS}) AS w FROM documents),
per AS (
    SELECT dw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(wt.n_syms) AS BIGINT) AS n_bpe_tokens
    FROM docw dw JOIN wt ON dw.w = wt.w
    GROUP BY dw.doc_id
)
SELECT d.doc_id, COALESCE(per.n_words, 0) AS n_words,
       COALESCE(per.n_bpe_tokens, 0) AS n_bpe_tokens
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
"""


@register("text_bpe_encode_stats", oracle=_BPE_ENCODE_ORACLE,
          tags=("textstats", "iterative"))
def text_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION — the other half of the BPE loop that
    bpe_learn_merges trains: encode every document under the learned
    merge table and report its token count. This is the operation an
    LLM-pipeline runs constantly (context-length packing, cost
    estimation, per-doc token budgets), and the classic BPE scale
    trick makes it corpus-free: merges are applied to the WORD-
    FREQUENCY table only (the same greedy left-to-right fold the
    training loop uses — the final training state IS the encoded
    vocabulary), then per-doc counts come from one keyed join of the
    corpus word stream against the vocabulary-sized (word -> n_syms)
    table and one map-side-combined aggregation. 100 TB of text with
    a 10M-word vocabulary never re-runs a merge over the corpus.

    Fully oracle-backed: the DuckDB replay re-learns the merges with
    the proven relational-greedy CTE chain (shared _bpe_iteration_sql
    text, the islands/even-offsets equivalence property-tested over
    8000 random sequences) and re-derives every document's count from
    v{BPE_STEPS}'s symbolization. wt is MATERIALIZED so the chain is
    evaluated once, not once per reference (the semdedup fnl lesson).

    Output: (doc_id, n_words, n_bpe_tokens) for EVERY document —
    tokenless docs keep a zero row via the left join, in both engines.
    """
    merges, enc = _bpe_train(spark, sf_dir)
    wt = enc.select("w", F.size("syms").cast("long").alias("n_syms"))
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id",
                     F.explode(H.word_tokens(F.col("text"))).alias("w"))
    per = (words.join(wt, "w")
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
                F.sum("n_syms").cast("long").alias("n_bpe_tokens")))
    return (d.select("doc_id").join(per, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_words", F.lit(0).cast("long"))
                     .alias("n_words"),
                    F.coalesce("n_bpe_tokens", F.lit(0).cast("long"))
                     .alias("n_bpe_tokens")))


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (mergeable frequent-items sketch)
# ---------------------------------------------------------------------------

@register(
    "text_heavy_hitters_mg",
    oracle=None,  # rows-only: MG evictions depend on partition layout;
                  # the invariant tests pin the lb/ub envelope vs exact
    tags=("textstats", "approx", "incremental"),
)
def text_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus tokens via MERGEABLE Misra-Gries summaries — the
    frequent-items member of the sketch family (HLL for cardinality,
    approx_percentile for quantiles, MG for heavy hitters): each
    partition keeps 64 counters over its token stream (decrement-all
    on overflow), summaries merge by counter addition, and the merged
    error budget E = Σ decrements brackets every item:
    lb ≤ true ≤ lb + E, with presence GUARANTEED for any item whose
    true frequency exceeds E. The shuffle is ≤ 64 rows per partition
    regardless of vocabulary size — the 100 TB answer when the exact
    (token → count) table itself is the bottleneck.

    Rows-only by design: counter evictions depend on partition layout,
    so lb/ub are environment-dependent within their proven envelope
    (like the other sketch entries); `tests/test_sketches.py` pins the
    envelope against exact counts and the merge-soundness guarantee.
    On this corpus (31-token vocabulary < 64 counters) the sketch is
    degenerately EXACT — every count fits a counter, E = 0 — which the
    test also asserts: the top-50 equals the exact top-50."""
    from ..operators.sketches import mg_topk

    d = load_table(spark, sf_dir, "documents")
    toks = (fan_out(d.select(H.word_tokens(F.col("text")).alias("toks")),
                    LIGHT)
            .select(F.explode("toks").alias("tok")))
    return mg_topk(toks, "tok", k=64, topk=50)
