"""Training-data curation operators: deterministic splits, stratified
sampling, sequence packing, benchmark decontamination, and length
percentiles over the ``documents`` table.

These are the dataset-assembly steps that sit between the dedup/quality
operators (plans/llm_ops.py) and an actual training run. Every operator
here is hash-deterministic — no RNG state — so results are reproducible
across engines (the DuckDB oracles mirror the md5 arithmetic
digit-for-digit, the same portability trick as functions/hashing.py)
and across cluster sizes (nothing depends on partitioning).

Scale notes per operator in the docstrings; the common theme: splits
and samples are map-only (hash of the id — no shuffle at all), packing
windows are sharded (never a global sort), and decontamination
broadcasts the benchmark's n-gram set instead of joining corpus×eval.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_table
from ..functions import hashing as H
from ..operators.fanout import fan_out
from ..functions import vectors as V
from .llm_ops import SQL_QDOT_AB, SQL_QUANT, SQL_TOKS, _HITS, _doc_shingled
from .registry import register

# Split-bucket arithmetic shared by split/sample: first 4 md5 hex chars
# of the decimal doc_id -> uint16 -> mod 100. Same construction as the
# 16-bit token hash (functions/hashing.hex4_to_int).
_HEXP = "(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), {i}, 1)) - 1)"
SQL_DOC_BUCKET = (f"({_HEXP.format(i=1)}*4096 + {_HEXP.format(i=2)}*256 + "
                  f"{_HEXP.format(i=3)}*16 + {_HEXP.format(i=4)}) % 100")


def doc_bucket(doc_id: F.Column) -> F.Column:
    """Deterministic 0..99 bucket from md5 of the decimal doc id."""
    return H.hex4_to_int(F.substring(F.md5(doc_id.cast("string")), 1, 4)) % 100


@register(
    "split_train_test",
    oracle=f"""
    SELECT doc_id, CAST({SQL_DOC_BUCKET} AS BIGINT) AS bucket,
           CASE WHEN {SQL_DOC_BUCKET} < 90 THEN 'train'
                WHEN {SQL_DOC_BUCKET} < 95 THEN 'valid'
                ELSE 'test' END AS split
    FROM documents
    """,
    tags=("curation", "split"),
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/5/5 train/valid/test assignment by hashing the document id.

    Hash-based (not random) on purpose: the assignment is a pure
    function of the id, so re-running on a grown corpus never moves an
    old document between splits (no leakage of former training docs
    into test). Map-only — no shuffle, no RNG state; at 100 TB this is
    a free column on the scan.
    """
    d = load_table(spark, sf_dir, "documents")
    b = doc_bucket(F.col("doc_id"))
    return d.select(
        "doc_id", b.cast("bigint").alias("bucket"),
        F.when(b < 90, "train").when(b < 95, "valid").otherwise("test")
        .alias("split"),
    )


@register(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM (SELECT doc_id, lang, source, {SQL_DOC_BUCKET} AS bucket FROM documents)
    WHERE bucket < (CASE WHEN lang = 'en' THEN 25 ELSE 50 END)
    """,
    tags=("curation", "sampling"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsample: keep 25% of English docs
    and 50% of every other language (downweighting the dominant
    stratum — the standard data-mixing move).

    Same hash-bucket as split_train_test, so sampling composes with the
    split without correlation surprises only if the rates differ per
    stratum (they do here); an independent sample would re-hash with a
    salt. Map-only, no shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", 25).otherwise(50)
    return (d.select("doc_id", "lang", "source",
                     doc_bucket(F.col("doc_id")).alias("bucket"))
            .where(F.col("bucket") < rate)
            .select("doc_id", "lang", "source"))


PACK_BUDGET = 256   # tokens per packed sequence
PACK_SHARDS = 32    # packing parallelism — window runs per shard


@register(
    "pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
               CAST(len({SQL_TOKS}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT doc_id, shard, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS tok_start
        FROM toks
    )
    SELECT doc_id, shard, n_tokens, tok_start,
           CAST(FLOOR(tok_start / {PACK_BUDGET}) AS BIGINT) AS seq_first,
           -- GREATEST guards empty docs: n_tokens=0 on an exact chunk
           -- boundary would otherwise put seq_last before seq_first
           CAST(FLOOR((tok_start + GREATEST(n_tokens, 1) - 1) / {PACK_BUDGET})
                AS BIGINT) AS seq_last
    FROM packed
    """,
    tags=("curation", "packing"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are concatenated in
    id order and cut every PACK_BUDGET tokens; each doc learns its
    token offset and the first/last sequence it lands in (docs may
    straddle a boundary — the standard LLM pretraining packing).

    Sharded by ``doc_id % PACK_SHARDS`` so the running-sum window is
    per-shard — parallel, never a global sort/single-partition window.
    At 100 TB the shard count scales with the cluster; sequence ids are
    (shard, seq) pairs so no coordination between shards is needed.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(H.word_tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    packed = toks.withColumn(
        "tok_start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint"))
    return packed.select(
        "doc_id", "shard", "n_tokens", "tok_start",
        F.floor(F.col("tok_start") / PACK_BUDGET).cast("bigint").alias("seq_first"),
        # greatest() guards empty docs (see oracle comment)
        F.floor((F.col("tok_start") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1)
                / PACK_BUDGET).cast("bigint").alias("seq_last"),
    )


@register(
    "decontaminate_ngram",
    oracle=f"""
    WITH sh AS ({_doc_shingled()}),
    eval_grams AS (
        SELECT DISTINCT t FROM (SELECT unnest(sh) AS t FROM sh WHERE doc_id < 10)
    ),
    corpus AS (SELECT doc_id, sh FROM sh WHERE doc_id >= 10),
    hits AS (
        SELECT e.doc_id, COUNT(*) AS n_overlap
        FROM (SELECT doc_id, unnest(sh) AS t FROM corpus) e
        JOIN eval_grams g ON e.t = g.t
        GROUP BY e.doc_id
    )
    SELECT c.doc_id, CAST(len(c.sh) AS BIGINT) AS n_shingles,
           CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / len(c.sh) AS contamination,
           (CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / len(c.sh)) >= 0.5
               AS is_contaminated
    FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
    """,
    tags=("curation", "decontamination"),
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs (doc_id ≥ 10) whose
    3-gram shingle overlap with the held-out eval set (doc_id < 10)
    exceeds 50% of their shingles.

    The eval set's distinct n-gram table is tiny relative to the corpus
    (benchmarks are ~10⁴ items; corpora are ~10¹⁰), so it is broadcast
    and the overlap is a map-side semi-count — the corpus never
    shuffles its shingles. At 100 TB the eval grams would be hashed
    (xxhash64) to shrink the broadcast further; shape unchanged.
    """
    d = load_table(spark, sf_dir, "documents")
    sh = (fan_out(d.where(F.col("text").isNotNull())
                  .select("doc_id", "text"))
          .select("doc_id", H.word_shingles(F.col("text"), 3).alias("sh")))
    eval_grams = (sh.where(F.col("doc_id") < 10)
                  .select(F.explode("sh").alias("t")).distinct())
    corpus = sh.where(F.col("doc_id") >= 10)
    hits = (corpus.select("doc_id", F.explode("sh").alias("t"))
            .join(F.broadcast(eval_grams), "t")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_overlap")))
    out = (corpus.select("doc_id", F.size("sh").cast("bigint").alias("n_shingles"))
           .join(hits, "doc_id", "left")
           .withColumn("n_overlap", F.coalesce("n_overlap", F.lit(0)).cast("bigint")))
    contamination = F.col("n_overlap").cast("double") / F.col("n_shingles")
    return out.select(
        "doc_id", "n_shingles", "n_overlap",
        contamination.alias("contamination"),
        (contamination >= 0.5).alias("is_contaminated"),
    )


@register(
    "decontaminate_hashed",
    oracle=f"""
    WITH sh AS ({_doc_shingled()}),
    eval_grams AS (
        SELECT DISTINCT t FROM (SELECT unnest(sh) AS t FROM sh WHERE doc_id < 10)
    ),
    corpus AS (SELECT doc_id, sh FROM sh WHERE doc_id >= 10),
    hits AS (
        SELECT e.doc_id, COUNT(*) AS n_overlap
        FROM (SELECT doc_id, unnest(sh) AS t FROM corpus) e
        JOIN eval_grams g ON e.t = g.t
        GROUP BY e.doc_id
    )
    SELECT c.doc_id, CAST(len(c.sh) AS BIGINT) AS n_shingles,
           CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / len(c.sh) AS contamination,
           (CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / len(c.sh)) >= 0.5
               AS is_contaminated
    FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
    """,
    tags=("curation", "decontamination"),
)
def decontaminate_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination, hash-prefiltered — the Bloom-style
    scale variant of decontaminate_ngram with IDENTICAL output (and the
    same oracle): a two-stage membership test in pure columnar ops.

    Stage 1 broadcasts only the xxhash64 SET of the eval n-grams (8
    bytes/gram instead of the gram strings — at a 10⁸-gram benchmark
    suite that is the difference between an ~1 GB and a multi-GB
    broadcast) and probes corpus gram hashes against it. Hash
    collisions make this a superset of the true matches — exactly a
    Bloom filter's false-positive contract. Stage 2 exact-verifies only
    the surviving candidates against the true gram strings, so the
    result is exact while the expensive string comparison touches
    candidate rows only (benchmark-overlap rate ≪ 1% in practice).
    Same two-stage candidate/verify shape as dedup_pairs_edit_distance.

    One corpus pass (round-14, guide §2.3/§2.4): the two membership
    stages are LEFT joins against the broadcasts carrying match-marker
    columns instead of semi-join filters, so the per-doc denominator
    (total gram count == size(sh), explode drops nothing) and the
    numerator (marked rows) come out of ONE map-side-combined
    aggregation over the gram stream — a doc's grams stay in one
    partition through the fanned-out map, so the partials collapse to
    ~1 row per doc before the exchange. The previous form re-ran the
    whole corpus shingle pipeline a second time for size(sh) and paid
    a corpus-wide doc_id join to attach the overlap counts (before-
    plan: 2 shingle subtrees, 20 Exchange refs; after: 1 and 8).
    """
    d = load_table(spark, sf_dir, "documents")
    sh = (fan_out(d.where(F.col("text").isNotNull())
                  .select("doc_id", "text"))
          .select("doc_id", H.word_shingles(F.col("text"), 3).alias("sh")))
    eval_grams = (sh.where(F.col("doc_id") < 10)
                  .select(F.explode("sh").alias("t")).distinct())
    eval_hashes = eval_grams.select(F.xxhash64("t").alias("hh")).distinct()
    corpus = sh.where(F.col("doc_id") >= 10)
    # explode_outer: a doc whose shingle array is empty still emits its
    # zero-denominator row (0/0 -> null contamination, as before)
    grams = corpus.select("doc_id", F.explode_outer("sh").alias("t"))
    g1 = grams.join(F.broadcast(eval_hashes),
                    F.xxhash64(grams.t) == eval_hashes.hh, "left")
    ev = eval_grams.select(F.col("t").alias("et"), F.lit(1).alias("m"))
    g2 = g1.join(F.broadcast(ev),
                 F.col("hh").isNotNull() & (F.col("t") == F.col("et")),
                 "left")
    agg = g2.groupBy("doc_id").agg(
        F.count("t").cast("bigint").alias("n_shingles"),
        F.count("m").cast("bigint").alias("n_overlap"))
    contamination = F.col("n_overlap").cast("double") / F.col("n_shingles")
    return agg.select(
        "doc_id", "n_shingles", "n_overlap",
        contamination.alias("contamination"),
        (contamination >= 0.5).alias("is_contaminated"),
    )


@register(
    "decontaminate_embedding",
    oracle=f"""
    WITH q AS (SELECT vec_id, {SQL_QUANT} AS q FROM embeddings),
    n AS (SELECT vec_id, q, list_sum(list_transform(q, x -> x * x)) AS n2 FROM q)
    SELECT a.vec_id,
           MAX(CAST({SQL_QDOT_AB} AS DOUBLE)
               / (SQRT(CAST(a.n2 AS DOUBLE)) * SQRT(CAST(b.n2 AS DOUBLE))))
             AS max_cos_eval,
           MAX(CAST({SQL_QDOT_AB} AS DOUBLE)
               / (SQRT(CAST(a.n2 AS DOUBLE)) * SQRT(CAST(b.n2 AS DOUBLE))))
             >= 0.8 AS is_contaminated
    FROM n a, n b
    WHERE a.vec_id >= 20 AND b.vec_id < 20
    GROUP BY a.vec_id
    """,
    tags=("curation", "decontamination", "embedding"),
)
def decontaminate_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination: flag corpus vectors (vec_id ≥ 20) whose
    max cosine against ANY held-out eval vector (vec_id < 20) reaches
    0.8 — catching paraphrased benchmark leakage that n-gram overlap
    (decontaminate_ngram) can't see.

    The ZERO-shuffle decontamination shape: the eval set is aggregated
    into a single array-of-structs row (benchmarks are ~10⁴ vectors —
    a few MB) and broadcast; each corpus row folds over it for the max
    cosine, so the whole operator is scan → map → done. No exchange
    touches the corpus at any scale; the corpus-side groupBy the naive
    cross-join formulation needs simply does not exist here.
    Fixed-point quantization keeps the scores bit-identical to the
    oracle's exact integer arithmetic.
    """
    e = load_table(spark, sf_dir, "embeddings")
    base = (e.select("vec_id", V.quantize(F.col("embedding")).alias("q"))
            .withColumn("n2", V.qnorm2(F.col("q"))))
    evals = (base.where(F.col("vec_id") < 20)
             .agg(F.collect_list(F.struct("q", "n2")).alias("evs")))
    corpus = base.where(F.col("vec_id") >= 20)
    max_cos = F.aggregate(
        F.col("evs"),
        F.lit(-2.0),
        lambda acc, ev: F.greatest(
            acc,
            V.qdot(F.col("q"), ev.q).cast("double")
            / (F.sqrt(F.col("n2").cast("double"))
               * F.sqrt(ev.n2.cast("double")))),
    )
    return (corpus.crossJoin(evals)
            .select("vec_id", max_cos.alias("max_cos_eval"))
            .withColumn("is_contaminated", F.col("max_cos_eval") >= 0.8))


@register(
    "text_repetition_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
    tc AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w),
    tstats AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_token_frac
        FROM tc GROUP BY doc_id
    ),
    bg AS (
        SELECT doc_id, toks[i] || ' ' || toks[i+1] AS b
        FROM t, LATERAL unnest(generate_series(1, len(toks) - 1)) AS u(i)
        WHERE len(toks) >= 2
    ),
    bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
    bstats AS (
        SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac
        FROM bc GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_tokens, s.n_distinct, s.top_token_frac,
           COALESCE(b.top_bigram_frac, 0.0) AS top_bigram_frac,
           CAST(s.n_distinct AS DOUBLE) / s.n_tokens AS distinct_ratio
    FROM tstats s LEFT JOIN bstats b ON s.doc_id = b.doc_id
    """,
    tags=("curation", "textstats"),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition signals per document: most-frequent
    token fraction, most-frequent bigram fraction, distinct-token
    ratio — the standard filters for boilerplate and degenerate
    repetition in pretraining corpora.

    Shape: explode → count per (doc, gram) with map-side combine →
    per-doc max/sum. The shuffle key is (doc_id, gram) so hot documents
    spread across partitions naturally; no per-doc histogram ever
    materializes as an array. Docs with no tokens are excluded (no
    denominator), matching the oracle.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = (fan_out(d.where(F.col("text").isNotNull())
                    .select("doc_id", "text"))
            .select("doc_id", H.word_tokens(F.col("text")).alias("toks")))
    tok_counts = (toks.select("doc_id", F.explode("toks").alias("w"))
                  .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c")))
    tstats = tok_counts.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        (F.max("c").cast("double") / F.sum("c")).alias("top_token_frac"),
    )
    k = F.size("toks")
    bigrams = F.zip_with(
        F.slice("toks", 1, F.greatest(k - 1, F.lit(0))),
        F.slice("toks", 2, F.greatest(k - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # no k >= 2 gate: bigrams is total (slice/greatest makes it empty
    # below 2 tokens, and explode of an empty array emits nothing), and
    # the computed-size filter was a HOF-SCAN-FILTER hazard
    bg_counts = (toks
                 .select("doc_id", F.explode(bigrams).alias("b"))
                 .groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c")))
    bstats = bg_counts.groupBy("doc_id").agg(
        (F.max("c").cast("double") / F.sum("c")).alias("top_bigram_frac"))
    return (tstats.join(bstats, "doc_id", "left")
            .select("doc_id", "n_tokens", "n_distinct", "top_token_frac",
                    F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
                    (F.col("n_distinct").cast("double") / F.col("n_tokens"))
                    .alias("distinct_ratio")))


@register(
    "curate_pretrain_corpus",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, text, {SQL_TOKS} AS toks FROM documents),
    scored AS (
        SELECT doc_id, lang, text, CAST(len(toks) AS BIGINT) AS n_toks,
               0.5 * (CASE WHEN len(toks) BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.25 END)
               + 0.25 * (CAST({_HITS['en']} AS DOUBLE) / 10.0)
               + 0.25 * (1.0 - LEAST(1.0,
                     CAST(LENGTH(REGEXP_REPLACE(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                       / GREATEST(LENGTH(text), 1) * 4
                   + CAST(LENGTH(REGEXP_REPLACE(text, '[^0-9]', '', 'g')) AS DOUBLE)
                       / GREATEST(LENGTH(text), 1) * 4)) AS quality
        FROM t
    ),
    kept AS (SELECT * FROM scored WHERE quality >= 0.78),
    hashed AS (
        SELECT *, md5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text),
                   '[^a-z0-9]+', ' ', 'g'), ' {{2,}}', ' ', 'g'))) AS content_hash
        FROM kept
    ),
    canon AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
        FROM hashed
    ),
    final AS (
        SELECT lang, n_toks,
               CASE WHEN {SQL_DOC_BUCKET} < 90 THEN 'train'
                    WHEN {SQL_DOC_BUCKET} < 95 THEN 'valid'
                    ELSE 'test' END AS split
        FROM canon WHERE rn = 1
    )
    SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens
    FROM final GROUP BY split, lang
    """,
    tags=("curation", "pipeline"),
)
def curate_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed flagship curation pipeline: quality-filter
    (threshold 0.78) → exact-dedup to canonical docs → hash split →
    per-(split, lang) doc and token counts. This is the query a user of
    the engine runs end-to-end before a training job.

    Scale shape: every stage except the dedup is map-only (filters,
    hashes, token counts fuse into one codegen'd scan pass); the dedup
    is a single shuffle on the 32-hex content hash (same as
    dedup_exact); the final rollup aggregates to a handful of rows with
    map-side partial combine. One shuffle total.
    """
    from ..functions.textstats import normalize_for_fingerprint, quality_score

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "lang",
        F.size(H.word_tokens(F.col("text"))).cast("bigint").alias("n_toks"),
        F.md5(normalize_for_fingerprint(F.col("text"))).alias("content_hash"),
        quality_score(F.col("text")).alias("quality"),
    )
    kept = scored.where(F.col("quality") >= 0.78)
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    canon = (kept.withColumn("rn", F.row_number().over(w))
             .where(F.col("rn") == 1))
    b = doc_bucket(F.col("doc_id"))
    final = canon.select(
        "lang", "n_toks",
        F.when(b < 90, "train").when(b < 95, "valid").otherwise("test")
        .alias("split"),
    )
    return final.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
    )


@register(
    "text_length_percentiles",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(FLOOR(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY n_tokens) * 100)
                AS BIGINT) AS p50_c,
           CAST(FLOOR(PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY n_tokens) * 100)
                AS BIGINT) AS p90_c,
           CAST(FLOOR(PERCENTILE_CONT(0.99) WITHIN GROUP (ORDER BY n_tokens) * 100)
                AS BIGINT) AS p99_c
    FROM (SELECT lang, CAST(len({SQL_TOKS}) AS BIGINT) AS n_tokens FROM documents)
    GROUP BY lang
    """,
    tags=("curation", "stats"),
)
def text_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-length percentiles (p50/p90/p99) per language —
    the curation dashboard numbers behind truncation/packing budgets.

    Exact percentile is a per-group sort; groups here are languages
    (small cardinality, each fits an executor). At 100 TB you'd switch
    to approx_percentile (t-digest sketch, map-side mergeable — no
    per-group sort) and keep this exact form for validation samples.
    Results are fixed-point floored (×100) so the linear-interpolation
    doubles hash identically across engines.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang",
                    F.size(H.word_tokens(F.col("text"))).cast("bigint")
                    .alias("n_tokens"))
    pct = F.expr("percentile(n_tokens, array(0.5D, 0.9D, 0.99D))")
    agg = toks.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), pct.alias("p"))
    return agg.select(
        "lang", "n_docs",
        F.floor(F.element_at("p", 1) * 100).cast("bigint").alias("p50_c"),
        F.floor(F.element_at("p", 2) * 100).cast("bigint").alias("p90_c"),
        F.floor(F.element_at("p", 3) * 100).cast("bigint").alias("p99_c"),
    )


@register(
    "sample_mixture_weights",
    oracle=f"""
    WITH t AS (SELECT source, {{toks}} AS toks FROM documents),
    per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
            FROM t GROUP BY source),
    tot AS (SELECT list_reduce(list(sqrt(CAST(n_tokens AS DOUBLE))
                                    ORDER BY source),
                               (a, b) -> a + b) AS total FROM per)
    SELECT source, n_docs, n_tokens,
           sqrt(CAST(n_tokens AS DOUBLE)) AS weight,
           sqrt(CAST(n_tokens AS DOUBLE)) / total AS share
    FROM per, tot
    """.format(toks=SQL_TOKS),
    tags=("curation", "sampling"),
)
def sample_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture: per-source token counts and a
    sqrt-damped (temperature 2) sampling share — the standard recipe
    for upweighting small high-quality sources in a pretraining mix.

    Cross-engine float determinism is the interesting part. sqrt is
    IEEE-754 correctly rounded in every engine, but SUMming the
    per-source weights is order-dependent in the last bits, and Spark's
    partial aggregation order is nondeterministic. So the total is NOT
    a SUM: the weights are collected into a source-sorted array and
    left-folded sequentially (F.aggregate here, list_reduce in the
    oracle) — same order, bit-identical total on both engines. The fold
    materializes one array of |sources| doubles on one task; for
    millions of domains you'd fold fixed-size sorted blocks then fold
    the block totals (still deterministic, still tiny). The broadcast
    of the 1-row total back onto per-source rows is the plan's only
    non-keyed join and carries 8 bytes.
    """
    d = load_table(spark, sf_dir, "documents")
    per = (d.select("source", F.size(H.word_tokens(F.col("text"))).alias("n"))
           .groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("n").cast("long").alias("n_tokens")))
    weight = F.sqrt(F.col("n_tokens").cast("double"))
    total = per.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("source", weight.alias("w")))),
                lambda s: s.w),
            F.lit(0.0), lambda acc, x: acc + x,
        ).alias("total"))
    return (per.crossJoin(total)
            .select("source", "n_docs", "n_tokens", weight.alias("weight"),
                    (weight / F.col("total")).alias("share")))


@register("text_length_percentiles_approx", oracle=None,
          tags=("curation", "stats", "sketch"))
def text_length_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path that text_length_percentiles' docstring points
    to: approx_percentile — a mergeable t-digest-style sketch, so each
    partition summarizes locally and only sketches shuffle; no
    per-group sort at any scale. Rows-only in the driver (the sketch is
    engine-internal, like approx_count_distinct);
    tests/test_curation.py pins it within rank-error tolerance of the
    exact per-language percentiles.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang",
                    F.size(H.word_tokens(F.col("text"))).cast("bigint")
                    .alias("n_tokens"))
    pct = F.expr(
        "approx_percentile(n_tokens, array(0.5D, 0.9D, 0.99D), 10000)")
    agg = toks.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), pct.alias("p"))
    return agg.select(
        "lang", "n_docs",
        F.element_at("p", 1).alias("p50"),
        F.element_at("p", 2).alias("p90"),
        F.element_at("p", 3).alias("p99"),
    )


_SQL_CONTENT_HASH = ("md5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), "
                     "'[^a-z0-9]+', ' ', 'g'), ' {2,}', ' ', 'g')))")


@register(
    "curate_dataset_card",
    oracle=f"""
    WITH h AS (
        SELECT source, lang, n_chars,
               len({SQL_TOKS}) AS n_tokens,
               {_SQL_CONTENT_HASH} AS ch
        FROM documents
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(n_chars) AS INTEGER) AS min_chars,
           CAST(MAX(n_chars) AS INTEGER) AS max_chars,
           CAST(COUNT(DISTINCT ch) AS BIGINT) AS n_unique,
           CAST(COUNT(DISTINCT ch) AS DOUBLE) / COUNT(*) AS uniq_ratio
    FROM h
    GROUP BY source, lang
    """,
    tags=("curation", "stats"),
)
def curate_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card accounting per (source, lang): doc/char/token
    volumes, char-length extremes, and the exact-duplicate rate via
    distinct content hashes — the summary table every released
    pretraining dataset ships (C4/RefinedWeb/Dolma dataset cards).

    Scale shape: one groupBy on a low-cardinality composite key. The
    volume aggregates partial-combine map-side, so the only real
    shuffle weight is COUNT(DISTINCT ch) — Spark expands that to a
    two-phase aggregate keyed on (source, lang, ch), i.e. the shuffle
    is spread across the full hash space, not funneled into
    |sources×langs| reducers; no skew funnel at 100 TB. The ratio is a
    single int/int double division — bit-identical cross-engine.
    """
    from ..functions import textstats as TS

    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        "source", "lang", "n_chars",
        F.size(H.word_tokens(F.col("text"))).alias("n_tokens"),
        F.md5(TS.normalize_for_fingerprint(F.col("text"))).alias("ch"),
    )
    agg = h.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("n_chars").cast("int").alias("min_chars"),
        F.max("n_chars").cast("int").alias("max_chars"),
        F.count_distinct(F.col("ch")).alias("n_unique"),
    )
    return agg.select(
        "source", "lang", "n_docs", "total_chars", "total_tokens",
        "min_chars", "max_chars", "n_unique",
        (F.col("n_unique").cast("double") / F.col("n_docs")).alias("uniq_ratio"),
    )

# Shuffle-hash arithmetic: first 4 md5 hex chars of "<seed>:<doc_id>"
# -> uint16; shard = hash % n_shards. Position within a shard orders by
# the FULL 32-char digest (then doc_id for total order).
SHUFFLE_SEED, SHUFFLE_SHARDS = 42, 8
_HEXS = ("(strpos('0123456789abcdef', substring(md5('"
         f"{SHUFFLE_SEED}" "' || ':' || CAST(doc_id AS VARCHAR)), {i}, 1)) - 1)")
SQL_SHUFFLE_HASH = (f"({_HEXS.format(i=1)}*4096 + {_HEXS.format(i=2)}*256 + "
                    f"{_HEXS.format(i=3)}*16 + {_HEXS.format(i=4)})")


@register(
    "corpus_shard_shuffle",
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               md5('{SHUFFLE_SEED}' || ':' || CAST(doc_id AS VARCHAR)) AS hh,
               CAST({SQL_SHUFFLE_HASH} % {SHUFFLE_SHARDS} AS INTEGER) AS shard
        FROM documents
    )
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hh, doc_id)
                AS BIGINT) AS pos
    FROM h
    """,
    tags=("curation", "shuffle"),
)
def corpus_shard_shuffle(spark: SparkSession, sf_dir: str,
                         seed: int = SHUFFLE_SEED,
                         n_shards: int = SHUFFLE_SHARDS) -> DataFrame:
    """Deterministic global shuffle into training shards: every doc gets
    a (shard, pos) assignment by hashing ``seed:doc_id`` — the
    randomize-document-order step every pretraining run performs before
    writing tfrecord/webdataset shards.

    Scale shape — the reason this is NOT ``ORDER BY hash``: a global
    sort is a range-exchange over the full corpus. Sharding first
    (map-only hash, shuffle keyed on the shard id) and ranking within
    each shard gives the same statistical shuffle with per-shard sorts
    bounded by shard size; pick ``n_shards ≈ corpus / target shard
    size`` so each sort fits an executor. Hash-determinism means the
    assignment is reproducible across engines, cluster sizes, and
    reruns (same properties as split_train_test), and under corpus
    growth the RELATIVE order of existing docs never changes (new ids
    interleave by hash; absolute positions shift, order doesn't).

    Consumers write each shard with
    ``operators/transform.write_training_shards`` (repartition on shard
    + a local sort on ``(shard, pos)`` — the shard prefix satisfies the
    partitioned write's required ordering so no second, spill-unstable
    sort gets layered on top) — one exchange total, no global sort.
    """
    return shard_shuffle_assign(
        load_table(spark, sf_dir, "documents"), seed, n_shards)


def shard_shuffle_assign(df: DataFrame, seed: int = SHUFFLE_SEED,
                         n_shards: int = SHUFFLE_SHARDS) -> DataFrame:
    """Core of corpus_shard_shuffle over any frame with a ``doc_id``
    column — separated so tests can verify growth stability by running
    the SAME assignment over a restricted corpus."""
    h = F.md5(F.concat(F.lit(str(seed)), F.lit(":"),
                       F.col("doc_id").cast("string")))
    d = (df.select("doc_id", h.alias("hh"))
         .withColumn("shard",
                     (H.hex4_to_int(F.substring("hh", 1, 4))
                      % F.lit(n_shards)).cast("int")))
    w = Window.partitionBy("shard").orderBy("hh", "doc_id")
    return d.select("doc_id", "shard",
                    F.row_number().over(w).cast("long").alias("pos"))


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023, arXiv:2302.03169):
# select raw-pool documents whose hashed n-gram distribution looks like
# a target domain. Published DSIR scores docs by the log-likelihood
# ratio of hashed-ngram bag models; this engine's cross-engine
# bit-exactness convention is LOG-FREE integer scoring (BASELINE.md),
# so the score here is the monotone ratio-sum surrogate:
# score(doc) = Σ_tokens min( ((t_b+1)·2^20) // (s_b+1), 2^40 ), where
# t_b / s_b are target / source token counts of the token's hashed
# bucket. Same selection direction (tokens common in the target and
# rare in the source score high), exact integers end to end; the 2^40
# cap bounds a single token's weight so a 100 TB corpus's worst
# target-heavy bucket times a 10^5-token doc stays far inside int64.
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 4096          # hashed-ngram feature dimension
DSIR_SCALE = 1 << 20         # ratio fixed-point scale
DSIR_WCAP = 1 << 40          # per-token weight cap (int64 headroom)
DSIR_TOPK = 100              # selection threshold = the K-th score

# the pool filter runs over the d/s join, so its doc_id must be
# qualified (DuckDB rejects the ambiguous bare name)
_SQL_POOL_BUCKET = SQL_DOC_BUCKET.replace("doc_id", "d.doc_id")

_SQL_DSIR_TOKHASH = ("(strpos('0123456789abcdef', substring(m, 1, 1)) - 1)*4096"
                     " + (strpos('0123456789abcdef', substring(m, 2, 1)) - 1)*256"
                     " + (strpos('0123456789abcdef', substring(m, 3, 1)) - 1)*16"
                     " + (strpos('0123456789abcdef', substring(m, 4, 1)) - 1)")


@register(
    "curate_dsir_weights",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, {SQL_DOC_BUCKET} < 10 AS is_target,
               ({_SQL_DSIR_TOKHASH}) % {DSIR_BUCKETS} AS b
        FROM (SELECT doc_id, md5(unnest({SQL_TOKS})) AS m
              FROM documents WHERE text IS NOT NULL)
    ),
    tc AS (SELECT b, COUNT(*) AS t FROM tok WHERE is_target GROUP BY b),
    sc AS (SELECT b, COUNT(*) AS s FROM tok WHERE NOT is_target GROUP BY b),
    w AS (
        SELECT sc.b,
               LEAST((COALESCE(tc.t, 0) + 1) * CAST({DSIR_SCALE} AS BIGINT)
                     // (sc.s + 1), CAST({DSIR_WCAP} AS BIGINT)) AS wt
        FROM sc LEFT JOIN tc ON sc.b = tc.b
    ),
    scored AS (
        SELECT tok.doc_id, COUNT(*) AS n_tokens,
               SUM(w.wt) AS dsir_score
        FROM tok JOIN w ON tok.b = w.b
        WHERE NOT tok.is_target
        GROUP BY tok.doc_id
    ),
    kth AS (
        SELECT MIN(dsir_score) AS k FROM (
            SELECT dsir_score FROM scored
            ORDER BY dsir_score DESC, scored.doc_id LIMIT {DSIR_TOPK})
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(s.dsir_score, 0) AS BIGINT) AS dsir_score,
           COALESCE(s.dsir_score, 0) >= (SELECT k FROM kth) AS selected
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    WHERE {_SQL_POOL_BUCKET} >= 10
    """,
    tags=("curation", "sampling"),
)
def curate_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style hashed-ngram importance scoring of the raw pool
    against a target domain (the deterministic 10%% doc_bucket split —
    the same split arithmetic as split_train_test). One row per SOURCE
    document: token count, integer importance score, and a selection
    flag at the top-DSIR_TOPK score threshold.

    Scale shape (the method's own deployment shape): the bucket-weight
    MODEL is tiny (≤ DSIR_BUCKETS rows — counts contract to the
    feature dimension, map-side combined), so scoring is one BROADCAST
    join against the token stream and one map-side-combinable per-doc
    SUM — data-distributed, model-local, no all-corpus shuffle wider
    than the doc-id aggregation. The selection threshold is an exact
    top-K (TakeOrderedAndProject, K bounded) collected to one scalar —
    never a global rank/sort of the full pool. Null-text and
    empty-token docs stay in the output with score 0 (LEFT JOIN from
    the pool), matching the oracle's LEFT JOIN exactly.

    Reference analog: none (the reference has no curation surface);
    this extends the §2-beyond curation family alongside
    decontaminate_* and sample_mixture_weights."""
    d = load_table(spark, sf_dir, "documents")
    # fan the scan out before the tokenize/md5 explode (a single-file
    # scan would run the whole heavy map pass on its ~14 input blocks:
    # the sf10 probe showed every stage tailing on one straggler), and
    # persist the hashed token stream — it feeds THREE consumers
    # (target counts, source counts, scoring) plus the threshold
    # election, each of which otherwise re-derives the full explode.
    # Measured at sf10/sf30: 160.4/326.6 s -> see BASELINE.md.
    from ..seams import persist_seam
    toks = persist_seam(
        fan_out(d.where(F.col("text").isNotNull())
                .select("doc_id", "text"))
        .select("doc_id",
                (doc_bucket(F.col("doc_id")) < 10).alias("is_target"),
                F.explode(H.word_tokens(F.col("text"))).alias("t"))
        .select("doc_id", "is_target",
                (H.hex4_to_int(F.substring(F.md5("t"), 1, 4))
                 % DSIR_BUCKETS).alias("b")))
    tc = (toks.where("is_target").groupBy("b")
          .agg(F.count(F.lit(1)).alias("t")))
    sc = (toks.where(~F.col("is_target")).groupBy("b")
          .agg(F.count(F.lit(1)).alias("s")))
    w = (sc.join(tc, "b", "left")
         .select("b", F.least(
             F.expr(f"(coalesce(t, 0) + 1) * cast({DSIR_SCALE} as bigint) "
                    f"div (s + 1)"),
             F.lit(DSIR_WCAP).cast("long")).alias("wt")))
    scored = (toks.where(~F.col("is_target"))
              .join(F.broadcast(w), "b")  # DSIR_BUCKETS rows, estimated as toks
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_tokens"),
                   F.sum("wt").alias("dsir_score")))
    kth = (scored.orderBy(F.col("dsir_score").desc(), "doc_id")
           .limit(DSIR_TOPK).agg(F.min("dsir_score")).collect()[0][0])
    pool = d.where(doc_bucket(F.col("doc_id")) >= 10).select("doc_id")
    return (pool.join(scored, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_tokens", F.lit(0)).cast("long")
                    .alias("n_tokens"),
                    F.coalesce("dsir_score", F.lit(0)).cast("long")
                    .alias("dsir_score"),
                    (F.coalesce("dsir_score", F.lit(0)) >= F.lit(kth))
                    .alias("selected")))
