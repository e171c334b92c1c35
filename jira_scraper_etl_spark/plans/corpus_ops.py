"""Second-wave corpus operators: PII redaction, cross-document
span-level dedup, corpus-frequency scoring, fixed-point embedding
centroids, and incremental (new-batch) novelty detection.

These extend the LLM-curation surface (plans/llm_ops.py) with steps a
production pretraining pipeline runs between quality filtering and
dataset assembly:

* **PII redaction** — regex scrub of emails / IPv4 addresses, the
  mandatory compliance pass. Map-only: no shuffle at any scale.
* **Span-level dedup** — C4/RefinedWeb-style removal of repeated
  fixed-size token spans *across* documents (document-level near-dup,
  plans/llm_ops.py, can't catch boilerplate paragraphs embedded in
  otherwise-unique pages). Shuffles only on a 128-bit span hash.
* **Corpus-frequency scoring** — mean corpus term-frequency of each
  document's tokens: gibberish/OCR-noise docs score near 1 (their
  tokens appear nowhere else), natural-language docs score high. The
  classic cheap signal for a first-pass perplexity proxy without a
  model. All-integer arithmetic, so it cross-checks exactly.
* **Label centroids** — per-label embedding means in fixed-point so the
  result is independent of accumulation order (IVF refresh, prototypes).
* **Incremental novelty** — exact + SimHash near-dup checks of a new
  batch against the existing corpus; the delta form of dedup a daily
  ingest actually runs.

Regex-dialect note: the redaction patterns are written in the common
subset of Java regex (Spark) and RE2 (the DuckDB oracle) — character
classes, bounded repetition, ``\\b`` word boundaries; no alternations
whose leftmost-first (Java) vs leftmost-longest (RE2) semantics could
diverge, no backreferences or lookaround (RE2 has neither).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from ..seams import persist_seam

from ..catalog import load_table
from ..functions import hashing as H
from ..operators.fanout import fan_out
from ..functions import vectors as V
from .curation import SQL_DOC_BUCKET
from .llm_ops import SQL_QUANT, SQL_SIMHASH, SQL_TOKHASH, SQL_TOKS, _doc_shingled
from .registry import register

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}(\.\d{1,3}){3}\b"

# The synthetic documents table carries no real PII, so the redaction
# query materializes a contact-bearing line from table columns first —
# that way the oracle comparison actually exercises both regexes on
# every row instead of vacuously diffing unmodified text.
_SQL_CONTACT = (
    "'reach user' || CAST(doc_id AS VARCHAR) || '@' || source || "
    "'.example.com from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || "
    "CAST(doc_id % 100 AS VARCHAR) || '.' || CAST(doc_id % 50 AS VARCHAR) || "
    "' re: ' || substring(text, 1, 40)"
)


def _contact_col() -> F.Column:
    return F.concat(
        F.lit("reach user"), F.col("doc_id").cast("string"),
        F.lit("@"), F.col("source"), F.lit(".example.com from 10."),
        (F.col("doc_id") % 256).cast("string"), F.lit("."),
        (F.col("doc_id") % 100).cast("string"), F.lit("."),
        (F.col("doc_id") % 50).cast("string"),
        F.lit(" re: "), F.substring("text", 1, 40),
    )


@register(
    "text_pii_redact",
    oracle=f"""
    WITH c AS (SELECT doc_id, {_SQL_CONTACT} AS contact FROM documents),
    e AS (SELECT doc_id, contact,
                 regexp_replace(contact, '{EMAIL_RE}', '<EMAIL>', 'g') AS em
          FROM c)
    SELECT doc_id,
           CAST(len(regexp_extract_all(contact, '{EMAIL_RE}')) AS INTEGER)
             AS n_emails,
           CAST(len(regexp_extract_all(em, '{IPV4_RE}')) AS INTEGER)
             AS n_ips,
           regexp_replace(em, '{IPV4_RE}', '<IP>', 'g') AS redacted
    FROM e
    """,
    tags=("privacy", "textstats"),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: replace emails and IPv4 addresses with typed
    placeholder tokens and count what was removed.

    Pure map-only columnar pass (regexp_count / regexp_replace are
    JVM-side, inside whole-stage codegen) — zero shuffles, so at 100 TB
    this is scan-bound and embarrassingly parallel. Email is replaced
    before IPv4 AND n_ips is counted on the email-redacted intermediate
    so a dotted quad inside an email's host (x@1.2.3.4.example.com) is
    neither double-redacted nor double-counted — the counts always
    describe exactly what the redacted output removed.
    """
    d = load_table(spark, sf_dir, "documents")
    c = d.select("doc_id", _contact_col().alias("contact"))
    em = F.regexp_replace("contact", EMAIL_RE, "<EMAIL>")
    e = c.select("doc_id", "contact", em.alias("em"))
    return e.select(
        "doc_id",
        F.regexp_count("contact", F.lit(EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count("em", F.lit(IPV4_RE)).cast("int").alias("n_ips"),
        F.regexp_replace("em", IPV4_RE, "<IP>").alias("redacted"),
    )


SPAN = 8  # tokens per dedup span


@register(
    "dedup_span_exact",
    oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    chunks AS (
        SELECT doc_id, i AS chunk_idx,
               array_to_string(toks[(i*{SPAN}+1):(i*{SPAN}+{SPAN})], ' ') AS chunk
        FROM (SELECT doc_id, toks,
                     unnest(range(CAST(ceil(len(toks)/{SPAN}.0) AS BIGINT))) AS i
              FROM t WHERE len(toks) > 0)
    ),
    kept AS (
        SELECT doc_id, chunk_idx, chunk FROM (
            SELECT doc_id, chunk_idx, chunk,
                   ROW_NUMBER() OVER (PARTITION BY md5(chunk)
                                      ORDER BY doc_id, chunk_idx) AS rn
            FROM chunks
        ) WHERE rn = 1
    )
    SELECT doc_id,
           string_agg(chunk, ' ' ORDER BY chunk_idx) AS text_deduped,
           CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM kept GROUP BY doc_id
    """,
    tags=("dedup", "span"),
)
def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document span dedup: split every document into consecutive
    8-token spans, keep only the corpus-wide FIRST occurrence of each
    distinct span (ordered by doc_id, position), and reassemble the
    surviving spans per document. This removes boilerplate
    (headers, license blocks, navigation chrome) that document-level
    near-dup can't see because the surrounding page is unique; docs
    whose every span is repeated elsewhere drop out entirely.

    Scale shape: two keyed shuffles, both map-side combinable.
    (1) first-occurrence election is a ``groupBy(md5(span))`` with
    ``min(struct(doc_id, chunk_idx, span))`` — NOT a window: a window
    partitioned by the span hash would funnel every copy of a hot span
    (the same boilerplate in millions of docs) through one reducer,
    while min() partial-aggregates each partition down to ONE row per
    distinct span before the exchange, so shuffle volume is
    O(distinct spans) and a degenerate corpus costs nothing extra.
    The struct min orders by (doc_id, chunk_idx) and carries the span
    text along, so the winner row needs no join back.
    (2) reassembly re-keys the winners on doc_id. At 100 TB the
    winner set would be dictionary-encoded parquet between the two
    stages rather than held in one job (same plan, materialized seam).
    """
    return span_dedup(load_table(spark, sf_dir, "documents"))


def span_dedup(d: DataFrame) -> DataFrame:
    """Core of dedup_span_exact over any (doc_id, text) frame — reused
    by the composed curate_corpus_v2 pipeline."""
    # fan the per-doc tokenize/explode work out of the (few) scan
    # partitions before the heavy map stage — a single-file scan would
    # otherwise run the whole explode+md5 pass in one task; skipped on
    # wide scans and toy inputs (see operators/fanout).
    toks = H.word_tokens(F.col("text"))
    # the no-empty-docs gate is the CHEAP source predicate (has a
    # non-whitespace char <=> word_tokens nonempty, nulls drop both
    # ways): filtering on size(toks) made Catalyst inline the tokenize
    # HOF into the scan's DataFilters below the fan-out exchange —
    # duplicate work with one copy serialized (HOF-SCAN-FILTER)
    t = fan_out(d.where(F.col("text").rlike(r"\S"))
                .select("doc_id", toks.alias("toks")))
    n_chunks = F.ceil(F.size("toks") / F.lit(float(SPAN))).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice("toks", i * SPAN + 1, SPAN), " "),
    )
    # posexplode position == chunk index (transform preserves order)
    chunks = t.select(
        "doc_id", F.posexplode(spans).alias("chunk_idx", "chunk"))
    kept = (chunks
            .groupBy(F.md5("chunk").alias("h"))
            .agg(F.min(F.struct("doc_id", "chunk_idx", "chunk")).alias("win"))
            .select(F.col("win.doc_id").alias("doc_id"),
                    F.col("win.chunk_idx").alias("chunk_idx"),
                    F.col("win.chunk").alias("chunk")))
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
                lambda s: s.chunk),
            " ").alias("text_deduped"),
        F.count(F.lit(1)).alias("n_kept"),
    )


@register(
    "text_corpus_freq_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(toks) AS tok
        FROM (SELECT doc_id, {SQL_TOKS} AS toks FROM documents)
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    vocab AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS ctf FROM tf GROUP BY tok)
    SELECT doc_id,
           CAST(SUM(tf.tf) AS BIGINT) AS n_toks,
           CAST(SUM(tf.tf * vocab.ctf) AS BIGINT) AS sum_freq,
           CAST(CAST(SUM(tf.tf * vocab.ctf) AS BIGINT) AS DOUBLE)
             / CAST(SUM(tf.tf) AS BIGINT) AS mean_tok_freq
    FROM tf JOIN vocab USING (tok)
    GROUP BY doc_id
    """,
    tags=("textstats", "quality"),
)
def text_corpus_freq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean corpus term-frequency of each document's tokens — the cheap
    perplexity proxy: a doc of tokens nobody else uses (OCR garbage,
    base64 blobs) averages ~1, natural text averages high.

    Two-pass by construction (the corpus vocabulary must exist before
    docs can be scored), but every stage is keyed and partially
    aggregated: per-(doc, token) counts collapse the explode output
    BEFORE the token-keyed stages, so the vocabulary aggregation and
    the scoring join both process distinct (doc, token) pairs — orders
    of magnitude smaller than the raw token stream. Stop-word-grade hot
    tokens skew the join key; AQE skew-split keeps those partitions
    bounded. All counts are exact integers; the only double is the
    final int/int division, which is bit-identical cross-engine.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = H.word_tokens(F.col("text"))
    # conditional fan-out before the interpreted split/explode: a
    # single-file scan otherwise runs the explode on one core; skipped
    # on wide scans and toy inputs (see operators/fanout)
    t = (fan_out(d.select("doc_id", toks.alias("toks")))
         .select("doc_id", F.explode("toks").alias("tok")))
    # Eager persist: tf feeds BOTH the vocabulary aggregation and the
    # scoring join, and Catalyst does not reuse the exchange across the
    # two subtrees (the round-robin repartition defeats subplan
    # canonicalization) — without this the tokenize+explode+count
    # pipeline, the most expensive stage, runs twice. Neutral at sf0.1
    # (0.83 s vs 0.80 s — cache write ≈ duplicate compute at 5k docs)
    # but the duplicate pipeline dominates at scale. At 100 TB this
    # seam is a parquet materialization instead of a cache.
    tf = persist_seam(
        t.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf")))
    vocab = tf.groupBy("tok").agg(F.sum("tf").cast("long").alias("ctf"))
    return (
        tf.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_toks"),
            F.sum(F.col("tf") * F.col("ctf")).cast("long").alias("sum_freq"),
            (F.sum(F.col("tf") * F.col("ctf")).cast("long").cast("double")
             / F.sum("tf").cast("long")).alias("mean_tok_freq"),
        )
    )


@register(
    "embedding_label_centroids",
    oracle="""
    SELECT label, CAST(i - 1 AS INTEGER) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(qv) AS BIGINT) AS sum_q,
           CAST(CAST(SUM(qv) AS BIGINT) AS DOUBLE) / COUNT(*) AS mean_q
    FROM (SELECT label, unnest(q) AS qv, generate_subscripts(q, 1) AS i
          FROM (SELECT label, {q} AS q FROM embeddings))
    GROUP BY label, i
    """.format(q=SQL_QUANT),
    tags=("embeddings", "centroids"),
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column, one row per
    (label, dimension) — the building block of IVF cell refresh,
    class prototypes, and drift monitoring.

    Mean-of-floats is order-dependent, so the centroid is computed in
    fixed-point: quantize each component (floor(x*1000), matching
    functions/vectors.quantize), sum exact BIGINTs keyed on
    (label, dim), divide once at the end — bit-identical on any
    partitioning and engine. Explode-then-aggregate keeps the shuffle
    rows (label, dim, long) regardless of vector width; the map-side
    partial sum collapses each partition to |labels|×|dims| rows before
    the exchange, so at 100 TB shuffle volume is independent of row
    count.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select("label", F.posexplode(V.quantize(F.col("embedding")))
                 .alias("dim", "qv"))
    return q.groupBy("label", F.col("dim").cast("int").alias("dim")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qv").cast("long").alias("sum_q"),
        (F.sum("qv").cast("long").cast("double") / F.count(F.lit(1)))
        .alias("mean_q"),
    )


_SQL_NORM = ("TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), "
             "'[^a-z0-9]+', ' ', 'g'), ' {2,}', ' ', 'g'))")


@register(
    "dedup_incremental_novel",
    oracle=f"""
    WITH b AS (SELECT doc_id, text, {SQL_DOC_BUCKET} AS bucket FROM documents),
    oldc AS (SELECT doc_id, text FROM b WHERE bucket < 90),
    newc AS (SELECT doc_id, text FROM b WHERE bucket >= 90),
    oh AS (SELECT DISTINCT md5({_SQL_NORM}) AS h FROM oldc),
    nh AS (SELECT doc_id, md5({_SQL_NORM}) AS h FROM newc),
    tho AS (SELECT doc_id, list_transform(toks, t -> {SQL_TOKHASH}) AS th
            FROM (SELECT doc_id, {SQL_TOKS} AS toks FROM oldc)),
    thn AS (SELECT doc_id, list_transform(toks, t -> {SQL_TOKHASH}) AS th
            FROM (SELECT doc_id, {SQL_TOKS} AS toks FROM newc)),
    fpo AS (SELECT DISTINCT CAST({SQL_SIMHASH} AS INTEGER) AS s FROM tho),
    fpn AS (SELECT doc_id, CAST({SQL_SIMHASH} AS INTEGER) AS s FROM thn)
    SELECT n.doc_id,
           n.h NOT IN (SELECT h FROM oh) AS exact_novel,
           NOT EXISTS (
               SELECT 1 FROM fpo o
               WHERE bit_count(xor(CAST(f.s AS BIGINT), CAST(o.s AS BIGINT))) <= 3
           ) AS near_novel
    FROM nh n JOIN fpn f USING (doc_id)
    """,
    tags=("dedup", "incremental"),
)
def dedup_incremental_novel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental curation: which documents of a NEW batch are novel
    against the EXISTING corpus — the daily-ingest form of dedup (a
    production pipeline rarely re-dedups 100 TB; it checks deltas).
    The corpus split reuses the deterministic 90/10 hash-bucket
    assignment from split_train_test, so 'old corpus' and 'new batch'
    are stable subsets of the documents table.

    Per new doc: ``exact_novel`` — its normalized content hash appears
    nowhere in the old corpus; ``near_novel`` — no old SimHash
    fingerprint within hamming ≤ 3 (lossless nibble keys, same
    pigeonhole argument as dedup_simhash, but the key join is new×old
    instead of a self-join — candidate volume scales with the BATCH,
    not the corpus).

    Scale shape: the old side reduces to two compact indexes (distinct
    16-byte hashes; ≤ 2^16 distinct fingerprints after collapsing) that
    at 100 TB would be precomputed once and reused per batch; every
    join here is keyed on those short keys, and new-batch rows ride
    through map-side. Nothing is O(old × new).

    One corpus pass (round-14, guide §2.4): the exact path (md5 over
    the regex-normalized text) and the near path (SimHash over the
    token stream) are independent per-row folds over the SAME text, so
    they ride one fanned-out map stage into a narrow persist seam
    (doc_id, bucket, h, simhash ≈ 50 B/row at any corpus size); the
    four consumers (old/new × exact/near) read the seam instead of
    re-running their own full-corpus scan + text pass each — the
    round-13 audit counted two disjoint full passes, and each side's
    filter made it four scans in the physical plan.
    """
    from ..functions import textstats as TS
    from ..functions.hashing import simhash16, word_tokens
    from ..operators.dedup import MAX_HAMMING, hamming, nibble_keys
    from ..seams import persist_seam
    from .curation import doc_bucket

    d = load_table(spark, sf_dir, "documents")
    feat = persist_seam(
        fan_out(d.select("doc_id", "text")).select(
            "doc_id",
            doc_bucket(F.col("doc_id")).alias("bucket"),
            F.md5(TS.normalize_for_fingerprint(F.col("text"))).alias("h"),
            # identical expression to operators/dedup.simhash_fingerprints
            simhash16(word_tokens(F.coalesce(F.col("text"), F.lit(""))))
            .alias("simhash")))
    old = feat.where(F.col("bucket") < 90)
    new = feat.where(F.col("bucket") >= 90)

    old_hashes = old.select("h").distinct()
    exact = (new.select("doc_id", "h")
             .join(old_hashes.withColumn("seen", F.lit(1)), "h", "left")
             .select("doc_id", F.col("seen").isNull().alias("exact_novel")))

    # collapse the old corpus to its DISTINCT fingerprints: the near-dup
    # test only depends on fingerprint values (≤ 2^16 of them)
    fp_old = old.select(F.col("simhash").alias("old_sh")).distinct()
    fp_new = new.select("doc_id", "simhash")
    matched = (
        nibble_keys(fp_new, "simhash")
        .join(nibble_keys(fp_old, "old_sh"), "key")
        .where(hamming(F.col("simhash"), F.col("old_sh")) <= MAX_HAMMING)
        .select("doc_id").distinct()
        .withColumn("hit", F.lit(1)))
    near = (fp_new.join(matched, "doc_id", "left")
            .select("doc_id", F.col("hit").isNull().alias("near_novel")))
    return exact.join(near, "doc_id")


@register(
    "text_bigram_assoc",
    oracle=f"""
    WITH t AS (SELECT {SQL_TOKS} AS toks FROM documents),
    uni AS (SELECT unnest(toks) AS tok FROM t),
    uc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY tok),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uni),
    bg AS (
        SELECT unnest(list_transform(generate_series(1, len(toks)-1),
                                     i -> toks[i])) AS a,
               unnest(list_transform(generate_series(1, len(toks)-1),
                                     i -> toks[i+1])) AS b
        FROM t WHERE len(toks) >= 2
    ),
    bgc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab
            FROM bg GROUP BY a, b HAVING COUNT(*) >= 5)
    SELECT a, b, cab,
           (CAST(cab AS DOUBLE) * CAST(n AS DOUBLE))
             / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)) AS lift
    FROM bgc JOIN uc ua ON bgc.a = ua.tok
             JOIN uc ub ON bgc.b = ub.tok, tot
    ORDER BY lift DESC, a, b LIMIT 50
    """,
    tags=("textstats", "assoc"),
)
def text_bigram_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 token bigrams by lift (observed / expected-if-independent)
    — collocation mining, the association-rule shape behind phrase
    detection and tokenizer-merge candidates.

    Float determinism: lift is a FIXED expression tree over exact
    integer counts — two double casts, one multiply, one divide in the
    same order on both engines — so each value is bit-identical; no
    order-dependent float aggregation exists anywhere in the plan.
    Ties (identical lift) are broken by the bigram itself.

    Scale shape: the token arrays are persisted once and feed three
    consumers (unigram counts, total, bigram counts). All aggregations
    are map-side combined; the two unigram joins are keyed on the
    token; top-50 is TakeOrderedAndProject, never a global sort. The
    ``cab >= 5`` support floor bounds the join input the way every
    association miner prunes.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = H.word_tokens(F.col("text"))
    # fan the cached token arrays across cores: three consumer stages
    # read this cache, so 1-2 cache partitions would serialize them all
    t = persist_seam(fan_out(d.select(toks.alias("toks"))))
    uni = t.select(F.explode("toks").alias("tok"))
    uc = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = uni.agg(F.count(F.lit(1)).alias("n"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.struct(F.element_at("toks", i).alias("a"),
                           F.element_at("toks", i + 1).alias("b")))
    bgc = (t.where(F.size("toks") >= 2)
           .select(F.explode(bigrams).alias("bg"))
           .groupBy(F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
           .agg(F.count(F.lit(1)).alias("cab"))
           .where(F.col("cab") >= 5))
    ua = uc.select(F.col("tok").alias("a"), F.col("c").alias("ca"))
    ub = uc.select(F.col("tok").alias("b"), F.col("c").alias("cb"))
    lift = ((F.col("cab").cast("double") * F.col("n").cast("double"))
            / (F.col("ca").cast("double") * F.col("cb").cast("double")))
    return (bgc.join(ua, "a").join(ub, "b")
            .crossJoin(tot)
            .select("a", "b", "cab", lift.alias("lift"))
            .orderBy(F.desc("lift"), "a", "b").limit(50))


@register(
    "curate_corpus_v2",
    oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    chunks AS (
        SELECT doc_id, i AS chunk_idx,
               array_to_string(toks[(i*{SPAN}+1):(i*{SPAN}+{SPAN})], ' ') AS chunk
        FROM (SELECT doc_id, toks,
                     unnest(range(CAST(ceil(len(toks)/{SPAN}.0) AS BIGINT))) AS i
              FROM t WHERE len(toks) > 0)
    ),
    kept AS (
        SELECT doc_id, chunk_idx, chunk FROM (
            SELECT doc_id, chunk_idx, chunk,
                   ROW_NUMBER() OVER (PARTITION BY md5(chunk)
                                      ORDER BY doc_id, chunk_idx) AS rn
            FROM chunks
        ) WHERE rn = 1
    ),
    dedup AS (
        SELECT doc_id,
               string_agg(chunk, ' ' ORDER BY chunk_idx) AS text_deduped,
               CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY doc_id
    ),
    j AS (
        SELECT doc_id, source, text_deduped, n_kept,
               CASE WHEN {SQL_DOC_BUCKET} < 90 THEN 'train'
                    WHEN {SQL_DOC_BUCKET} < 95 THEN 'valid'
                    ELSE 'test' END AS split
        FROM documents JOIN dedup USING (doc_id)
    )
    SELECT split, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_kept) AS BIGINT) AS n_spans,
           CAST(SUM(len(list_filter(string_split_regex(lower(text_deduped),
                '\\s+'), x -> x <> ''))) AS BIGINT) AS n_tokens
    FROM j GROUP BY split, source
    """,
    tags=("curation", "composed"),
)
def curate_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation flagship #2: cross-document span dedup →
    deterministic train/valid/test split → per-(split, source) corpus
    accounting (docs, surviving spans, post-dedup token budget) — the
    report a data team reads before launching a training run.

    Composition adds ONE keyed join (source lookup on doc_id) and ONE
    rollup shuffle on top of span_dedup's two — the split column is a
    free map-side hash of the id. Every metric is an exact integer, so
    the composed result cross-checks bit-for-bit against the chained
    CTE oracle; this is the point of keeping each stage deterministic:
    pipelines of them stay deterministic.
    """
    from .curation import doc_bucket

    d = load_table(spark, sf_dir, "documents")
    dd = span_dedup(d)
    b = doc_bucket(F.col("doc_id"))
    toks_d = H.word_tokens(F.col("text_deduped"))
    return (
        d.select("doc_id", "source").join(dd, "doc_id")
        .withColumn("split",
                    F.when(b < 90, "train").when(b < 95, "valid")
                    .otherwise("test"))
        .groupBy("split", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_kept").cast("long").alias("n_spans"),
             F.sum(F.size(toks_d)).cast("long").alias("n_tokens"))
    )


@register(
    "dedup_pairs_edit_distance",
    oracle=f"""
    WITH th AS (
        SELECT doc_id, list_transform(toks, t -> {SQL_TOKHASH}) AS th
        FROM (SELECT doc_id, {SQL_TOKS} AS toks FROM documents
              WHERE doc_id < 150)
    ),
    fp AS (SELECT doc_id, CAST({SQL_SIMHASH} AS INTEGER) AS s FROM th),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(CAST(a.s AS BIGINT), CAST(b.s AS BIGINT))) <= 3
    )
    SELECT doc_a, doc_b,
           CAST(levenshtein(ta.text, tb.text) AS INTEGER) AS edit_dist,
           1.0 - CAST(levenshtein(ta.text, tb.text) AS DOUBLE)
               / GREATEST(LENGTH(ta.text), LENGTH(tb.text), 1) AS sim
    FROM pairs
    JOIN documents ta ON pairs.doc_a = ta.doc_id
    JOIN documents tb ON pairs.doc_b = tb.doc_id
    """,
    tags=("dedup", "verify"),
)
def dedup_pairs_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level verification of SimHash candidate pairs:
    Levenshtein distance plus a length-normalized similarity — the
    record-linkage confirmation step that runs AFTER cheap candidate
    generation, never before (edit distance is O(len²) per pair, so the
    join that feeds it must already be bucket-bounded; here the input
    is the nibble-banded simhash pairs on a bounded slice, and at
    100 TB it is exactly the verify stage of the LSH pipelines).
    Both engines implement unit-cost Levenshtein identically, and the
    similarity is a single int/int division — bit-identical.
    """
    from ..operators.dedup import simhash_near_dup_pairs

    d = (load_table(spark, sf_dir, "documents")
         .where(F.col("doc_id") < 150))
    pairs = simhash_near_dup_pairs(d, "doc_id", "text")
    ta = d.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = d.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    lev = F.levenshtein("text_a", "text_b")
    return (pairs.join(ta, "doc_a").join(tb, "doc_b")
            .select("doc_a", "doc_b",
                    lev.cast("int").alias("edit_dist"),
                    (F.lit(1.0) - lev.cast("double")
                     / F.greatest(F.length("text_a"), F.length("text_b"),
                                  F.lit(1))).alias("sim")))


@register(
    "dedup_containment",
    oracle=f"""
    WITH shingled AS ({_doc_shingled("WHERE doc_id < 200")})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS INTEGER) AS n_common,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh)
             AS containment
    FROM shingled a JOIN shingled b ON a.doc_id <> b.doc_id
    WHERE len(a.sh) > 0 AND len(b.sh) > 0
      AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) >= 0.5
    """,
    tags=("dedup", "verify"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment |A∩B| / |A|: finds documents
    *contained in* other documents (quote-and-extend pages, boilerplate
    wrappers) that symmetric Jaccard misses when the container is much
    longer than the contained doc.

    Ground-truth twin on a bounded slice (doc_id < 200), the
    dedup_ngram_jaccard pattern: deliberately quadratic so it is gated;
    at 100 TB this comparison only ever runs inside MinHash-LSH buckets
    (dedup_minhash_lsh generates the candidates — containment is the
    verify stage for asymmetric dups, where the banded signature of the
    short doc still collides with its container on some band). Both
    sides emit each direction separately: (A⊂B) and (B⊂A) are
    different facts. Integer intersection + one double division —
    bit-identical cross-engine.
    """
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    docs = (d.select("doc_id", H.word_shingles(F.col("text"), 3).alias("sh"))
            .where(F.size("sh") > 0))
    a, b = docs.alias("a"), docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    containment = inter.cast("double") / F.size(F.col("a.sh"))
    return (
        a.join(b, F.col("a.doc_id") != F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                inter.cast("int").alias("n_common"),
                containment.alias("containment"))
        .where(F.col("containment") >= 0.5)
    )


# Fixed scoring alphabet: the 26 letters + 10 digits + space. A FIXED
# list (not per-doc distinct chars) keeps the plan map-only — counts
# come from length arithmetic, no explode, no shuffle — and makes the
# summation order a fixed expression tree, so no float-order issues.
SCORE_ALPHABET = [chr(c) for c in range(ord("a"), ord("z") + 1)] + \
    [str(d) for d in range(10)] + [" "]

_SQL_ALPHA = "[" + ", ".join(f"'{c}'" for c in SCORE_ALPHABET) + "]"


@register(
    "text_char_diversity",
    oracle=f"""
    WITH c AS (
        SELECT doc_id,
               list_transform({_SQL_ALPHA}, ch ->
                 CAST(len(lower(text)) - len(replace(lower(text), ch, ''))
                      AS BIGINT)) AS cnt
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               list_sum(cnt) AS n_alpha,
               list_sum(list_transform(cnt, v -> v * v)) AS sum_sq,
               len(list_filter(cnt, v -> v > 0)) AS n_distinct,
               list_max(cnt) AS max_cnt
        FROM c
    )
    SELECT doc_id,
           CAST(n_alpha AS BIGINT) AS n_alpha,
           CAST(n_distinct AS INTEGER) AS n_distinct,
           CASE WHEN n_alpha > 0
                THEN CAST(max_cnt AS DOUBLE) / n_alpha ELSE 0.0 END AS max_frac,
           CASE WHEN n_alpha > 0
                THEN 1.0 - CAST(sum_sq AS DOUBLE) / (CAST(n_alpha AS DOUBLE) * n_alpha)
                ELSE 0.0 END AS simpson
    FROM s
    """,
    tags=("textstats", "quality"),
)
def text_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-diversity gibberish signal: Simpson diversity
    1 − Σ(n_c/N)² plus top-character fraction over a fixed 37-symbol
    alphabet. Low diversity / high max_frac flags OCR noise, key-mash,
    and padding docs — the character-level complement to the token
    entropy proxies (text_repetition_stats, text_corpus_freq_score).

    Simpson instead of Shannon entropy is deliberate: ln() is not
    correctly-rounded in IEEE-754 (Java's Math.log and libm may differ
    in the last ulp, breaking cross-engine hash parity), while Simpson
    needs only exact integer counts and two divisions. Per-symbol
    counts come from length arithmetic over the fixed alphabet —
    map-only, zero shuffle, whole-stage codegen at any scale.
    """
    d = load_table(spark, sf_dir, "documents")
    # Fan the 37-scan fold out of the (few) scan partitions; skipped on
    # wide scans and toy inputs (see operators/fanout).
    d = fan_out(d)
    # One struct-fold over the count array: four separate aggregate
    # expressions would each re-evaluate the 37-replace cnt computation
    # (higher-order folds are independent expression trees — measured
    # 4× the per-row string work); a single fold evaluates cnt once.
    stats = d.select(
        "doc_id", _char_stats_col().alias("st")
    ).select(
        "doc_id",
        F.col("st.n").alias("n_alpha"),
        F.col("st.ss").alias("sum_sq"),
        F.col("st.nd").cast("int").alias("n_distinct"),
        F.col("st.mx").alias("max_cnt"),
    )
    nz = F.col("n_alpha") > 0
    return stats.select(
        "doc_id", "n_alpha", "n_distinct",
        F.when(nz, F.col("max_cnt").cast("double") / F.col("n_alpha"))
         .otherwise(0.0).alias("max_frac"),
        F.when(nz, F.lit(1.0) - F.col("sum_sq").cast("double")
               / (F.col("n_alpha").cast("double") * F.col("n_alpha")))
         .otherwise(0.0).alias("simpson"),
    )


def _char_stats_col() -> F.Column:
    """Single-pass fold of the fixed-alphabet count array into a
    (n, ss, nd, mx) struct: total count, sum of squares, distinct
    symbols, max count. The array expression appears exactly once, so
    whole-stage codegen computes the 37 length/replace scans once per
    row regardless of how many stats the caller consumes."""
    s = F.lower(F.col("text"))
    cnt = F.array(*[
        (F.length(s) - F.length(F.replace(s, F.lit(c), F.lit("")))).cast("long")
        for c in SCORE_ALPHABET
    ])
    zero = F.lit(0).cast("long")
    init = F.struct(zero.alias("n"), zero.alias("ss"),
                    zero.alias("nd"), zero.alias("mx"))
    return F.aggregate(
        cnt, init,
        lambda a, v: F.struct(
            (a["n"] + v).alias("n"),
            (a["ss"] + v * v).alias("ss"),
            (a["nd"] + F.when(v > 0, 1).otherwise(0)).alias("nd"),
            F.greatest(a["mx"], v).alias("mx"),
        ),
    )


_SQL_CONTENT_HASH_V3 = ("md5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), "
                        "'[^a-z0-9]+', ' ', 'g'), ' {2,}', ' ', 'g')))")


@register(
    "curate_corpus_v3",
    oracle=f"""
    WITH c AS (
        SELECT doc_id, lang, text,
               list_transform({_SQL_ALPHA}, ch ->
                 CAST(len(lower(text)) - len(replace(lower(text), ch, ''))
                      AS BIGINT)) AS cnt
        FROM documents
    ),
    s AS (
        SELECT doc_id, lang, text,
               list_sum(cnt) AS n_alpha,
               list_sum(list_transform(cnt, v -> v * v)) AS ss
        FROM c
    ),
    g AS (
        SELECT doc_id, lang, n_alpha, ss,
               len({SQL_TOKS}) AS n_tokens,
               {_SQL_CONTENT_HASH_V3} AS ch
        FROM s
    ),
    e AS (
        SELECT doc_id, lang, n_tokens, n_alpha, ss FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY ch ORDER BY doc_id) AS rn
            FROM g
        ) WHERE rn = 1
    ),
    w AS (
        SELECT doc_id, lang, n_tokens,
               1.0 - CAST(ss AS DOUBLE) / (CAST(n_alpha AS DOUBLE) * n_alpha)
                 AS simpson
        FROM e WHERE n_alpha >= 20
          AND 1.0 - CAST(ss AS DOUBLE) / (CAST(n_alpha AS DOUBLE) * n_alpha)
                >= 0.92
    ),
    r AS (
        SELECT lang, n_tokens,
               CAST(FLOOR(simpson * 1000000) AS BIGINT) AS simpson_fp,
               CASE WHEN {SQL_DOC_BUCKET} < 90 THEN 'train'
                    WHEN {SQL_DOC_BUCKET} < 95 THEN 'valid'
                    ELSE 'test' END AS split
        FROM w
    )
    SELECT split, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(simpson_fp) AS DOUBLE) / (1000000.0 * COUNT(*))
             AS avg_simpson
    FROM r
    GROUP BY split, lang
    """,
    tags=("curation", "flagship"),
)
def curate_corpus_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed flagship #3 — the newest signals as one pipeline:
    exact dedup (lowest-id winner per content hash) → character-
    diversity quality gate (Simpson ≥ 0.92, ≥ 20 scoreable chars) →
    hash split → per-(split, lang) corpus accounting with the mean
    quality score of what survived.

    Scale shape: the gate and scoring are map-only (fixed-alphabet
    length arithmetic — zero shuffle, see text_char_diversity); dedup
    is a groupBy(content_hash) + min(struct) election (map-side
    combine, O(distinct hashes) shuffle — the dedup_span_exact
    argument); the rollup partial-aggregates into |splits×langs| rows.
    Two keyed shuffles total at any scale. The mean is carried as
    floor(simpson·10⁶) integers so the SUM is order-independent; one
    final division — bit-identical cross-engine.
    """
    from ..functions import textstats as TS
    from .curation import doc_bucket

    d = load_table(spark, sf_dir, "documents")
    # Fan the heavy per-doc map work (37-scan char fold + tokenize +
    # content hash) out of the (few) scan partitions — the span_dedup
    # argument: a single-file scan runs the whole pass in one task;
    # skipped on wide scans and toy inputs (see operators/fanout).
    d = fan_out(d)
    # Single struct-fold (see _char_stats_col) so the 37-scan count
    # array is computed once per row, not once per consuming expression.
    base = d.select(
        "doc_id", "lang",
        F.size(H.word_tokens(F.col("text"))).alias("n_tokens"),
        F.md5(TS.normalize_for_fingerprint(F.col("text"))).alias("ch"),
        _char_stats_col().alias("st"),
    )
    # Dedup BEFORE the quality gate: the gate predicates then filter
    # columns materialized through the aggregation exchange instead of
    # being pushed back into the map projection — predicate pushdown
    # through a project re-inlines every referenced expression, which
    # tripled the 37-scan fold in the physical plan (measured; plan
    # asserted in tests). Election on the raw corpus also means the
    # canonical representative is stable regardless of gate tuning.
    winners = (
        base.groupBy("ch")
        .agg(F.min(F.struct("doc_id", "lang", "n_tokens", "st")).alias("w"))
        .select("w.doc_id", "w.lang", "w.n_tokens",
                F.col("w.st.n").alias("n_alpha"), F.col("w.st.ss").alias("ss"))
    )
    simpson = (F.lit(1.0) - F.col("ss").cast("double")
               / (F.col("n_alpha").cast("double") * F.col("n_alpha")))
    winners = (winners.where(F.col("n_alpha") >= 20)
               .withColumn("simpson", simpson)
               .where(F.col("simpson") >= 0.92)
               .select("doc_id", "lang", "n_tokens", "simpson"))
    b = doc_bucket(F.col("doc_id"))
    r = winners.select(
        "lang", "n_tokens",
        F.floor(F.col("simpson") * 1000000).cast("long").alias("simpson_fp"),
        F.when(b < 90, "train").when(b < 95, "valid").otherwise("test")
         .alias("split"),
    )
    agg = r.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum("simpson_fp").alias("fp"),
    )
    return agg.select(
        "split", "lang", "n_docs", "n_tokens",
        (F.col("fp").cast("double") / (F.lit(1000000.0) * F.col("n_docs")))
        .alias("avg_simpson"),
    )

@register(
    "text_dedup_lines",
    oracle=r"""
    WITH l AS (
        SELECT doc_id,
               list_filter(string_split(text, chr(10)), x -> TRIM(x) <> '')
                 AS lines
        FROM documents WHERE text IS NOT NULL
    ),
    k AS (
        SELECT doc_id, lines,
               list_filter(lines, (x, i) -> list_position(lines, x) = i)
                 AS kept
        FROM l
    )
    SELECT doc_id,
           array_to_string(kept, chr(10)) AS text_deduped,
           CAST(len(lines) AS INTEGER) AS n_lines,
           CAST(len(lines) - len(kept) AS INTEGER) AS n_removed
    FROM k
    """,
    tags=("dedup", "textstats"),
)
def text_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document duplicate-line removal — the C4/Gopher "dedupe
    lines" filter that strips repeated boilerplate (nav chrome, cookie
    banners, signatures) INSIDE a page while dedup_span_exact handles
    repetition ACROSS documents. Keeps the first occurrence of each
    non-blank line, preserves order, reports removal accounting.

    Pure map-only columnar pass: split → blank-filter → first-occurrence
    filter (``array_position(lines, x) == index`` — per-doc quadratic in
    the LINE count only, never rows) → rejoin. Zero shuffles at any
    scale; both engines' position functions return the FIRST index on
    duplicates, which is the exact semantic needed.
    """
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    lines = F.filter(F.split("text", "\n"),
                     lambda x: F.trim(x) != "")
    l = d.select("doc_id", lines.alias("lines"))
    kept = F.filter("lines",
                    lambda x, i: F.array_position(F.col("lines"), x) == i + 1)
    k = l.select("doc_id", "lines", kept.alias("kept"))
    return k.select(
        "doc_id",
        F.array_join("kept", "\n").alias("text_deduped"),
        F.size("lines").alias("n_lines"),
        (F.size("lines") - F.size("kept")).alias("n_removed"),
    )

CHUNK_TOKENS, CHUNK_STRIDE = 32, 24  # window size / stride (8-token overlap)


@register(
    "chunk_documents_overlap",
    oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    c AS (
        SELECT doc_id, i AS chunk_idx,
               array_to_string(
                   toks[(i*{CHUNK_STRIDE}+1):(i*{CHUNK_STRIDE}+{CHUNK_TOKENS})],
                   ' ') AS chunk,
               len(toks[(i*{CHUNK_STRIDE}+1):(i*{CHUNK_STRIDE}+{CHUNK_TOKENS})])
                 AS n_tokens
        FROM (SELECT doc_id, toks,
                     unnest(range(CAST(
                        CASE WHEN len(toks) <= {CHUNK_TOKENS} THEN 1
                             ELSE ceil((len(toks) - {CHUNK_TOKENS})
                                       / {CHUNK_STRIDE}.0) + 1 END AS BIGINT)))
                       AS i
              FROM t WHERE len(toks) > 0)
    )
    SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx, chunk,
           CAST(n_tokens AS INTEGER) AS n_tokens
    FROM c
    """,
    tags=("curation", "chunking"),
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style overlapping token windows: split every document into
    32-token chunks at a 24-token stride (8-token overlap so no answer
    span straddles a boundary unseen) — the indexing precursor for the
    similarity-search family, complementing pack_sequences (training
    packing, disjoint) with the retrieval layout.

    Map-only: tokenize → per-doc window-count arithmetic → explode →
    slice+join. Zero shuffles at any scale; chunk count per doc is
    ``1 + ceil((len − window) / stride)`` so the last window is the
    only short one (never an empty trailing chunk).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = H.word_tokens(F.col("text"))
    # the no-empty-docs gate is the CHEAP source predicate (has a
    # non-whitespace char <=> word_tokens nonempty, nulls drop both
    # ways): filtering on size(toks) made Catalyst inline the tokenize
    # HOF into the scan's DataFilters below the fan-out exchange —
    # duplicate work with one copy serialized (HOF-SCAN-FILTER)
    t = fan_out(d.where(F.col("text").rlike(r"\S"))
                .select("doc_id", toks.alias("toks")))
    n_chunks = F.when(
        F.size("toks") <= CHUNK_TOKENS, F.lit(1)
    ).otherwise(
        F.ceil((F.size("toks") - CHUNK_TOKENS) / F.lit(float(CHUNK_STRIDE)))
        .cast("int") + 1)
    windows = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice("toks", i * CHUNK_STRIDE + 1, CHUNK_TOKENS))
    return (t.select("doc_id", F.posexplode(windows).alias("chunk_idx", "w"))
            .select("doc_id", "chunk_idx",
                    F.array_join("w", " ").alias("chunk"),
                    F.size("w").alias("n_tokens")))


# ---------------------------------------------------------------------------
# Bigram novelty: the log-free LM-surprise signal
# ---------------------------------------------------------------------------

@register(
    "text_bigram_novelty",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {SQL_TOKS} AS toks FROM documents
    ),
    bigr AS (
        SELECT doc_id, toks[g.i] AS l, toks[g.i + 1] AS r
        FROM toks, LATERAL unnest(generate_series(1, len(toks) - 1)) AS g(i)
    ),
    per_doc AS (
        SELECT DISTINCT doc_id, l, r FROM bigr
    ),
    df AS (
        SELECT l, r, CAST(COUNT(*) AS BIGINT) AS n_docs_with
        FROM per_doc GROUP BY l, r
    ),
    scored AS (
        SELECT p.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigram_types,
               CAST(COUNT(*) FILTER (WHERE df.n_docs_with = 1) AS BIGINT)
                   AS n_unique_types
        FROM per_doc p JOIN df ON p.l = df.l AND p.r = df.r
        GROUP BY p.doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.n_bigram_types, 0) AS n_bigram_types,
           COALESCE(s.n_unique_types, 0) AS n_unique_types,
           CASE WHEN s.n_bigram_types IS NULL THEN NULL
                ELSE CAST(1000 * s.n_unique_types // s.n_bigram_types
                          AS INTEGER)
           END AS novelty_permille
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """,
    tags=("textstats", "quality", "lm"),
)
def text_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram novelty — the share of a document's distinct
    word bigrams that occur in NO other document. The log-free stand-in
    for LM-perplexity surprise (a KenLM-style scorer flags exactly
    these unseen n-gram transitions): boilerplate and template docs
    score near 0 (every transition is corpus-common), unique prose and
    OCR noise score near 1000. Complements text_corpus_freq_score
    (unigram commonness) with transition-level evidence, all-integer so
    the oracle compare is exact — the repo rule that libm ``ln`` never
    enters a hashed result.

    Scale shape (the text_tfidf_topk template): bigrams come from one
    map-only slice/zip per doc (no self-join); the per-(doc, bigram)
    DISTINCT collapses the explode output before any bigram-keyed
    stage; the persisted seam feeds both the bigram document-frequency
    aggregation and the scoring join (Catalyst never reuses the
    exchange across the two subtrees). Everything shuffles on (l, r)
    bigram keys with map-side combine; the final left join restores
    bigram-less docs (<2 tokens) with NULL novelty."""
    d = load_table(spark, sf_dir, "documents")
    toks = H.word_tokens(F.col("text"))
    t = fan_out(d.select("doc_id", toks.alias("toks")))
    k = F.size("toks")
    pl = F.slice("toks", 1, F.greatest(k - 1, F.lit(0)))
    pr = F.slice("toks", 2, F.greatest(k - 1, F.lit(0)))
    per_doc = (t.select(
        "doc_id",
        F.explode(F.arrays_zip(pl.alias("l"), pr.alias("r"))).alias("p"))
        .select("doc_id", F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .distinct())
    per_doc = persist_seam(per_doc)
    df = (per_doc.groupBy("l", "r")
          .agg(F.count(F.lit(1)).cast("long").alias("n_docs_with")))
    scored = (per_doc.join(df, ["l", "r"])
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).cast("long").alias("n_bigram_types"),
                   F.sum(F.when(F.col("n_docs_with") == 1, 1)
                         .otherwise(0)).cast("long")
                   .alias("n_unique_types")))
    return (d.select("doc_id").join(scored, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_bigram_types", F.lit(0).cast("long"))
                .alias("n_bigram_types"),
                F.coalesce("n_unique_types", F.lit(0).cast("long"))
                .alias("n_unique_types"),
                # truncating integer div on non-negative operands ==
                # DuckDB // ; NULL (not 0) for bigram-less docs
                F.expr("cast((1000 * n_unique_types) div n_bigram_types"
                       " as int)").alias("novelty_permille")))


# ---------------------------------------------------------------------------
# ExactSubstr-style duplicated-substring statistics (round 13)
# ---------------------------------------------------------------------------

SUBSTR_L = 12  # sliding-window length in tokens


@register(
    "dedup_substring_exact",
    oracle=f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    base AS (SELECT doc_id, len(toks) AS n_toks, toks
             FROM t WHERE len(toks) > 0),
    sites AS (
        SELECT doc_id, i - 1 AS pos,
               md5(array_to_string(toks[i:i+{SUBSTR_L - 1}], ' ')) AS h
        FROM base, LATERAL unnest(
            generate_series(1, n_toks - {SUBSTR_L} + 1)) AS g(i)
        WHERE n_toks >= {SUBSTR_L}
    ),
    c AS (SELECT h FROM sites GROUP BY h HAVING COUNT(*) >= 2),
    dup AS (SELECT doc_id, pos FROM sites JOIN c USING (h)),
    cov AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_sites,
               CAST(SUM(contrib) AS BIGINT) AS dup_token_cov
        FROM (SELECT doc_id,
                     LEAST({SUBSTR_L},
                           pos - COALESCE(lag(pos, 1) OVER (
                               PARTITION BY doc_id ORDER BY pos),
                               pos - {SUBSTR_L})) AS contrib
              FROM dup)
        GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_toks AS BIGINT) AS n_tokens,
           CAST(GREATEST(b.n_toks - {SUBSTR_L} + 1, 0) AS BIGINT)
               AS n_windows,
           COALESCE(v.n_dup_sites, 0) AS n_dup_sites,
           COALESCE(v.dup_token_cov, 0) AS dup_token_cov,
           CAST(COALESCE(v.dup_token_cov, 0) AS DOUBLE) / b.n_toks
               AS dup_frac
    FROM base b LEFT JOIN cov v USING (doc_id)
    """,
    tags=("dedup", "substring"),
)
def dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-substring detection (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", 2022):
    a token-position is "duplicated" when the exact ``SUBSTR_L``-token
    window starting there occurs at >= 2 sites corpus-wide — other doc
    OR other offset, exactly what the paper's suffix array reports.
    Per document this emits the window/site counts, the number of
    token positions covered by at least one duplicated window (the
    interval-union of the hit windows), and the covered fraction —
    the quantity ExactSubstr cuts at 50 BPE tokens on web-scale text;
    ``SUBSTR_L=12`` words is the scaled analog for this corpus's
    54-token average documents.

    Spark-first shape instead of the paper's monolithic suffix array
    (which needs the whole corpus in one address space): stride-1
    rolling windows hashed to 128 bits, a ``groupBy(h)`` site count
    (map-side combined, so shuffle volume is O(distinct windows)),
    one hash join of sites back to the >=2 hashes, and a per-doc fold
    for the interval union. All window intervals share length L, so
    the union is exactly ``sum(min(L, s_i - s_{{i-1}}))`` over sorted
    starts — no sweep-line state. At 100 TB the window hash would be
    xxhash64+prefix instead of md5 text (same plan), and the hot-hash
    skew of a corpus-wide boilerplate window on the sites side of the
    join is AQE skew-split territory; the count side is one row per
    distinct window by construction.

    The per-doc ``collect_list`` of duplicated starts is bounded by
    document length (never corpus size). Reference analog: the
    repeated-block removal transformer.py applies per issue body.
    """
    return substring_dup_stats(load_table(spark, sf_dir, "documents"))


def substring_dup_stats(d: DataFrame, L: int = SUBSTR_L,
                        hash64: bool = False) -> DataFrame:
    """Core of dedup_substring_exact over any (doc_id, text) frame.

    ``hash64=True`` is the 100 TB key mode: windows keyed by xxhash64
    (8-byte bigint) instead of the oracle-replayable md5 hex (32-char
    string) — same plan, ~4× smaller site shuffle and a fixed-width
    sort key. Identical output unless two *distinct* windows collide
    in 64 bits (birthday odds ~n²/2⁶⁵: ~2% for one collision anywhere
    at 800M windows, and a collision only perturbs that one window's
    verdict); the registered entry keeps md5 so the DuckDB oracle can
    replay it bit-for-bit.
    """
    toks = H.word_tokens(F.col("text"))
    t = fan_out(d.where(F.col("text").rlike(r"\S"))
                .select("doc_id", toks.alias("toks")))
    base = persist_seam(
        t.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"),
                 "toks"))
    win_key = (lambda s: F.xxhash64(s)) if hash64 else F.md5
    wins = F.transform(
        F.sequence(F.lit(0), (F.col("n_tokens") - L).cast("int")),
        lambda i: win_key(F.array_join(F.slice("toks", i + 1, L), " ")))
    sites = (base.where(F.col("n_tokens") >= L)
             .select("doc_id", F.posexplode(wins).alias("pos", "h")))
    cnt = (sites.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
           .where(F.col("cnt") >= 2).select("h"))
    # shuffle_hash, NOT the default SMJ: sort-merge sorts the full
    # O(total tokens) site stream on its 32-char window key before
    # probing — the same stream-sort the sf300 MinHash probe caught
    # spilling its verify stage to disk (ENOSPC). Hash-building on the
    # >=2-count key side (one row per duplicated window, far smaller
    # than the stream) keeps the site stream pass-through. At sf30
    # (1.5M docs / 81M windows) wall-clock is unchanged (77.6 s vs
    # 79.1 s — the map-side window-string build dominates there); the
    # hint's value is removing the stream-sort's O(sites) sort-spill
    # before the disk-bound decades.
    dup = sites.join(cnt.hint("shuffle_hash"), "h").select("doc_id", "pos")
    union_len = F.aggregate(
        F.sort_array(F.collect_list("pos")),
        F.struct(F.lit(-L).cast("int").alias("prev"),
                 F.lit(0).cast("bigint").alias("tot")),
        lambda acc, s: F.struct(
            s.alias("prev"),
            (acc.tot + F.least(F.lit(L), s - acc.prev)).alias("tot")),
        lambda acc: acc.tot)
    cov = (dup.groupBy("doc_id")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_sites"),
                union_len.alias("dup_token_cov")))
    return (base
            .select("doc_id", "n_tokens",
                    F.greatest(F.col("n_tokens") - L + 1,
                               F.lit(0).cast("bigint")).alias("n_windows"))
            .join(cov, "doc_id", "left")
            .select("doc_id", "n_tokens", "n_windows",
                    F.coalesce("n_dup_sites", F.lit(0).cast("bigint"))
                    .alias("n_dup_sites"),
                    F.coalesce("dup_token_cov", F.lit(0).cast("bigint"))
                    .alias("dup_token_cov"),
                    (F.coalesce("dup_token_cov", F.lit(0).cast("bigint"))
                     / F.col("n_tokens")).alias("dup_frac")))


# ---------------------------------------------------------------------------
# Gopher-rule document quality filter (round 13)
# ---------------------------------------------------------------------------

GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")

# The synthetic documents carry no line structure, bullets, ellipses or
# '#' symbols, so — exactly like the PII-redaction entry's synthesized
# contact line — the query appends two deterministic lines derived from
# table columns before scoring. That way the oracle comparison
# exercises every rule's regex and every boolean branch on every row
# instead of vacuously passing the line rules at n_lines=1.
_SQL_GTEXT = (
    "text || chr(10) || CASE doc_id % 3 WHEN 0 THEN '- bullet point' "
    "WHEN 1 THEN 'to be continued...' ELSE '## note #tag' END || "
    "chr(10) || CASE doc_id % 2 WHEN 0 THEN '* item two' "
    "ELSE 'and that is all' END"
)


def _gtext_col() -> Column:
    return F.concat(
        F.col("text"), F.lit("\n"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("- bullet point"))
        .when(F.col("doc_id") % 3 == 1, F.lit("to be continued..."))
        .otherwise(F.lit("## note #tag")),
        F.lit("\n"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("* item two"))
        .otherwise(F.lit("and that is all")))


@register(
    "text_gopher_quality",
    oracle=f"""
    WITH g AS (SELECT doc_id, {_SQL_GTEXT} AS text FROM documents
               WHERE regexp_matches(text, '\\S')),
    t AS (SELECT doc_id, text, {SQL_TOKS} AS toks FROM g),
    m AS (SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_words,
                 CAST(list_sum(list_transform(toks,
                     w -> CAST(len(w) AS BIGINT))) AS BIGINT) AS sum_len,
                 CAST(len(list_filter(toks,
                     w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha,
                 CAST(len(list_intersect(list_distinct(toks),
                     {list(GOPHER_STOPS)})) AS BIGINT) AS n_stop_words,
                 CAST(len(regexp_extract_all(text, '#'))
                      + len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS n_sym,
                 CAST(len(regexp_extract_all(text, chr(10))) + 1 AS BIGINT) AS n_lines,
                 CAST(len(regexp_extract_all(text,
                     '(?m)^[ \\t]*[-*•]')) AS BIGINT) AS n_bullet,
                 CAST(len(regexp_extract_all(text,
                     '\\.\\.\\.(\\n|\\z)')) AS BIGINT) AS n_ell
          FROM t),
    r AS (SELECT doc_id, n_words,
                 CAST(sum_len AS DOUBLE) / n_words AS mean_word_len,
                 CAST(n_sym AS DOUBLE) / n_words AS symbol_ratio,
                 CAST(n_alpha AS DOUBLE) / n_words AS frac_alpha_words,
                 n_stop_words,
                 CAST(n_bullet AS DOUBLE) / n_lines AS frac_bullet_lines,
                 CAST(n_ell AS DOUBLE) / n_lines AS frac_ellipsis_lines
          FROM m)
    SELECT *,
           CAST((CASE WHEN n_words BETWEEN 50 AND 100000
                      THEN 0 ELSE 1 END)
              + (CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0
                      THEN 0 ELSE 1 END)
              + (CASE WHEN symbol_ratio <= 0.1 THEN 0 ELSE 1 END)
              + (CASE WHEN frac_bullet_lines <= 0.9 THEN 0 ELSE 1 END)
              + (CASE WHEN frac_ellipsis_lines <= 0.3 THEN 0 ELSE 1 END)
              + (CASE WHEN frac_alpha_words >= 0.8 THEN 0 ELSE 1 END)
              + (CASE WHEN n_stop_words >= 2 THEN 0 ELSE 1 END)
             AS INTEGER) AS n_rules_failed,
           ((CASE WHEN n_words BETWEEN 50 AND 100000 THEN 0 ELSE 1 END)
              + (CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0
                      THEN 0 ELSE 1 END)
              + (CASE WHEN symbol_ratio <= 0.1 THEN 0 ELSE 1 END)
              + (CASE WHEN frac_bullet_lines <= 0.9 THEN 0 ELSE 1 END)
              + (CASE WHEN frac_ellipsis_lines <= 0.3 THEN 0 ELSE 1 END)
              + (CASE WHEN frac_alpha_words >= 0.8 THEN 0 ELSE 1 END)
              + (CASE WHEN n_stop_words >= 2 THEN 0 ELSE 1 END)) = 0
             AS pass_gopher
    FROM r
    """,
    tags=("textstats", "quality"),
)
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality filter (Rae et al. 2021, appendix A1.1):
    word-count bounds, mean-word-length bounds, symbol-to-word ratio,
    bullet-line and ellipsis-line fractions, alphabetic-word fraction,
    and required-stop-word presence — the published pretraining
    heuristics, emitted as per-document metrics plus the combined
    pass verdict so downstream curation can threshold or re-weight.

    Map-only at any scale: every metric folds over the document's own
    tokens/lines (higher-order ``aggregate``/``filter`` on the token
    array, ``regexp_count`` on the raw text — no UDF, no shuffle, no
    state). Cross-engine exactness: every ratio is one IEEE division
    of exactly-computed BIGINTs, so the rule booleans compare
    identically; the line regexes stick to the Java-regex/RE2 common
    subset (explicit ``[ \\t]``, never ``\\s``, ``\\n``-terminated
    lines) per the module's dialect note.

    Reference analog: transformer.py's include/exclude checks when
    selecting issues worth keeping; the published rule set replaces
    its ad-hoc length test.
    """
    d = load_table(spark, sf_dir, "documents")
    g = (d.where(F.col("text").rlike(r"\S"))
         .select("doc_id", _gtext_col().alias("text")))
    t = fan_out(g.select("doc_id", "text",
                         H.word_tokens(F.col("text")).alias("toks")))
    n_words = F.size("toks").cast("bigint")
    sum_len = F.aggregate("toks", F.lit(0).cast("bigint"),
                          lambda a, w: a + F.length(w))
    n_alpha = F.size(F.filter("toks", lambda w: w.rlike("[a-z]")))
    n_stop = F.size(F.array_intersect(
        F.array_distinct("toks"),
        F.array(*[F.lit(s) for s in GOPHER_STOPS])))
    n_sym = (F.regexp_count(F.col("text"), F.lit("#"))
             + F.regexp_count(F.col("text"), F.lit(r"\.\.\.")))
    n_lines = F.regexp_count(F.col("text"), F.lit("\n")) + 1
    n_bullet = F.regexp_count(F.col("text"), F.lit(r"(?m)^[ \t]*[-*•]"))
    n_ell = F.regexp_count(F.col("text"), F.lit("\\.\\.\\.(\\n|\\z)"))
    m = t.select(
        "doc_id", n_words.alias("n_words"),
        (sum_len.cast("double") / n_words).alias("mean_word_len"),
        (n_sym.cast("double") / n_words).alias("symbol_ratio"),
        (n_alpha.cast("double") / n_words).alias("frac_alpha_words"),
        n_stop.cast("bigint").alias("n_stop_words"),
        (n_bullet.cast("double") / n_lines).alias("frac_bullet_lines"),
        (n_ell.cast("double") / n_lines).alias("frac_ellipsis_lines"))
    fails = (
        F.when(F.col("n_words").between(50, 100000), 0).otherwise(1)
        + F.when(F.col("mean_word_len").between(3.0, 10.0), 0).otherwise(1)
        + F.when(F.col("symbol_ratio") <= 0.1, 0).otherwise(1)
        + F.when(F.col("frac_bullet_lines") <= 0.9, 0).otherwise(1)
        + F.when(F.col("frac_ellipsis_lines") <= 0.3, 0).otherwise(1)
        + F.when(F.col("frac_alpha_words") >= 0.8, 0).otherwise(1)
        + F.when(F.col("n_stop_words") >= 2, 0).otherwise(1))
    return m.select("*", fails.cast("int").alias("n_rules_failed"),
                    (fails == 0).alias("pass_gopher"))


# ---------------------------------------------------------------------------
# Gopher-rule within-document repetition signals (round 13)
# ---------------------------------------------------------------------------

# (n-gram size, mode): "top" = coverage of the single most frequent
# n-gram (Gopher: "fraction of characters in most common {2,3,4}-gram");
# "dup" = coverage of ALL n-grams occurring more than once in the doc
# (Gopher: "fraction of characters in duplicated {5..10}-grams" — 5 and
# 8 as the family's representatives).
_REP_SIZES = ((2, "top"), (3, "top"), (4, "top"), (5, "dup"), (8, "dup"))


def _rep_ctes(n: int, mode: str) -> str:
    """DuckDB CTE chain for one n-gram size: sites, per-doc counts,
    selected grams (argmax with count-desc/lexicographic tie-break, or
    the >=2-count set), their positions, and the interval-union
    coverage via the same LEAST(L, gap) fold as dedup_substring_exact."""
    if mode == "top":
        sel = f"""w{n} AS (SELECT doc_id, g FROM (
        SELECT doc_id, g, ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY c DESC, g ASC) AS rn FROM c{n}) WHERE rn = 1)"""
    else:
        sel = f"w{n} AS (SELECT doc_id, g FROM c{n} WHERE c >= 2)"
    return f"""s{n} AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string(toks[i:i+{n - 1}], ' ') AS g
        FROM base, LATERAL unnest(
            generate_series(1, n_toks - {n} + 1)) AS u(i)
        WHERE n_toks >= {n}),
    c{n} AS (SELECT doc_id, g, COUNT(*) AS c FROM s{n}
             GROUP BY doc_id, g),
    {sel},
    p{n} AS (SELECT s.doc_id, s.pos FROM s{n} s
             JOIN w{n} w USING (doc_id, g)),
    v{n} AS (SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS cov
             FROM (SELECT doc_id,
                          LEAST({n}, pos - COALESCE(lag(pos, 1) OVER (
                              PARTITION BY doc_id ORDER BY pos),
                              pos - {n})) AS contrib
                   FROM p{n})
             GROUP BY doc_id)"""


_REP_FRAC_COLS = ",\n           ".join(
    f"CAST(COALESCE(v{n}.cov, 0) AS DOUBLE) / b.n_toks"
    f" AS {mode}{n}_cov_frac" for n, mode in _REP_SIZES)
_REP_JOINS = "\n    ".join(
    f"LEFT JOIN v{n} USING (doc_id)" for n, _ in _REP_SIZES)
_REP_ORACLE = f"""
    WITH t AS (SELECT doc_id, {{SQL_TOKS}} AS toks FROM documents),
    base AS (SELECT doc_id, len(toks) AS n_toks, toks
             FROM t WHERE len(toks) > 0),
    {",".join(_rep_ctes(n, m) for n, m in _REP_SIZES)}
    SELECT b.doc_id,
           CAST(b.n_toks AS BIGINT) AS n_tokens,
           CAST(1 AS DOUBLE)
             - CAST(len(list_distinct(b.toks)) AS DOUBLE) / b.n_toks
             AS dup_word_frac,
           {_REP_FRAC_COLS}
    FROM base b
    {_REP_JOINS}
""".replace("{SQL_TOKS}", SQL_TOKS)


@register(
    "text_repetition_coverage",
    oracle=_REP_ORACLE,
    tags=("textstats", "quality"),
)
def text_repetition_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule within-document repetition signals (Rae et al. 2021
    appendix A1.2, word-level adaptation): coverage fraction of the
    single most frequent {2,3,4}-gram, coverage fraction of all
    duplicated {5,8}-grams, and the duplicate-word fraction — the
    published filters for loops, boilerplate chains, and keyword-stuffed
    documents that document-LEVEL dedup cannot see. Complements the
    fraction-based `text_repetition_stats` (top-token/top-bigram share,
    plans/curation.py) with the paper's COVERAGE form. "Coverage" is the
    token-position interval-union of the selected grams' occurrences
    (the paper counts characters; positions make overlap-counting exact
    and engine-portable), so every fraction is in [0, 1] even for
    self-overlapping grams like "a a" in "a a a a".

    Scale shape: all semantics are within-document, but the counting
    runs as ONE corpus-wide ``groupBy(doc_id, gram)`` per n-gram size
    with the positions riding through as a collect_list
    (_gram_coverage, round-13: the former select-then-join-back shape
    re-exchanged the O(tokens) site stream a second time) — map-side
    combinable, shuffle O(site positions) = O(total tokens), and
    linear in doc length where a pure higher-order-function form would
    be O(len²) per doc (fatal on 100k-token docs). Argmax tie-break is
    count-desc then lexicographic (``min(struct(-c, g))`` ≡ the
    oracle's ROW_NUMBER order), so the result is total and
    cross-engine deterministic. Five sizes = five passes over the
    persisted token seam; a fused one-generate form tagging sites by n
    was A/B-tested this round and was ~20% SLOWER (struct-array
    construction in the generate outweighs the merged shuffles — the
    map-side gram build dominates, not the exchanges), so the per-size
    passes stay.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = H.word_tokens(F.col("text"))
    t = fan_out(d.where(F.col("text").rlike(r"\S"))
                .select("doc_id", toks.alias("toks")))
    base = persist_seam(
        t.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"),
                 "toks"))
    out = base.select(
        "doc_id", "n_tokens",
        (F.lit(1.0) - F.size(F.array_distinct("toks"))
         / F.col("n_tokens")).alias("dup_word_frac"))
    # NB: the loop lambdas close over ``n`` late-binding style, which
    # is safe here because each HOF expression is BUILT in the same
    # iteration (F.transform/F.aggregate evaluate the lambda eagerly
    # to construct the expression tree); default-arg pinning would
    # break PySpark's lambda-arity introspection.
    for n, mode in _REP_SIZES:
        cov = _gram_coverage(base, n, mode).withColumnRenamed(
            "cov", f"_cov{n}")
        out = (out.join(cov, "doc_id", "left")
               .withColumn(f"{mode}{n}_cov_frac",
                           F.coalesce(F.col(f"_cov{n}"), F.lit(0))
                           / F.col("n_tokens"))
               .drop(f"_cov{n}"))
    return out


def _gram_coverage(base: DataFrame, n: int, mode: str) -> DataFrame:
    """(doc_id, cov): interval-union coverage of the selected n-grams —
    ``mode='top'`` the single most frequent gram (count-desc,
    lexicographic tie-break), ``mode='dup'`` every gram occurring ≥ 2
    times. Shared by text_repetition_coverage and curate_fineweb_keep.

    Round-13 shape (guide §2.4): positions ride THROUGH the
    (doc, gram) count aggregation as a ``collect_list`` — the former
    shape joined the selected grams BACK to the O(tokens) site stream,
    re-exchanging it a second time on the same key. Carrying the
    position lists costs the same shuffle bytes as the sites exchange
    it replaces and removes the join + second exchange outright
    (measured top-2 at sf1: 5.3 → 2.8 s median-of-5, values
    bit-identical). Per-row state stays bounded by document length
    (one gram's positions for 'top', a doc's duplicated-gram positions
    for 'dup' — both ≤ n_tokens, the same bound the coverage fold
    already carried)."""
    grams = F.transform(
        F.sequence(F.lit(0), (F.col("n_tokens") - n).cast("int")),
        lambda i: F.array_join(F.slice("toks", i + 1, n), " "))
    sites = (base.where(F.col("n_tokens") >= n)
             .select("doc_id", F.posexplode(grams).alias("pos", "g")))
    cnt = (sites.groupBy("doc_id", "g")
           .agg(F.count(F.lit(1)).alias("c"),
                F.collect_list("pos").alias("ps")))
    if mode == "top":
        # ps never decides the min: (−c, g) is unique per (doc, g) row
        merged = (cnt.groupBy("doc_id")
                  .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                                      F.col("g").alias("g"),
                                      F.col("ps").alias("ps"))).alias("w"))
                  .select("doc_id", F.col("w.ps").alias("allps")))
    else:
        merged = (cnt.where(F.col("c") >= 2)
                  .groupBy("doc_id")
                  .agg(F.flatten(F.collect_list("ps")).alias("allps")))
    union_len = F.aggregate(
        F.sort_array(F.col("allps")),
        F.struct(F.lit(-n).cast("int").alias("prev"),
                 F.lit(0).cast("bigint").alias("tot")),
        lambda acc, s: F.struct(
            s.alias("prev"),
            (acc.tot + F.least(F.lit(n), s - acc.prev)).alias("tot")),
        lambda acc: acc.tot)
    return merged.select("doc_id", union_len.alias("cov"))


# ---------------------------------------------------------------------------
# C4 heuristic filters (round 13)
# ---------------------------------------------------------------------------

# Like the Gopher entry: the synthetic corpus has no line structure,
# braces, boilerplate phrases, or code fragments, so the query appends
# deterministic doc_id-derived lines before scoring — every rule's
# regex and boolean branch runs non-vacuously on both engines.
_SQL_C4TEXT = (
    "text || '.' || chr(10) || CASE doc_id % 5"
    " WHEN 0 THEN 'this line ends with terminal punctuation.'"
    " WHEN 1 THEN 'please enable javascript to view this page'"
    " WHEN 2 THEN 'by continuing you accept our privacy policy.'"
    " WHEN 3 THEN 'function f() { return 0; }'"
    " ELSE 'lorem ipsum dolor sit amet!' END || chr(10) ||"
    " CASE doc_id % 2 WHEN 0 THEN 'short line' "
    " ELSE 'a longer line with enough words to pass the cut.' END"
)

_C4_POLICY_RE = "(terms of use|privacy policy|cookie policy|uses cookies)"


def _c4text_col() -> Column:
    return F.concat(
        F.col("text"), F.lit(".\n"),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit("this line ends with terminal punctuation."))
        .when(F.col("doc_id") % 5 == 1,
              F.lit("please enable javascript to view this page"))
        .when(F.col("doc_id") % 5 == 2,
              F.lit("by continuing you accept our privacy policy."))
        .when(F.col("doc_id") % 5 == 3,
              F.lit("function f() { return 0; }"))
        .otherwise(F.lit("lorem ipsum dolor sit amet!")),
        F.lit("\n"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("short line"))
        .otherwise(F.lit("a longer line with enough words to pass the cut.")))


@register(
    "text_c4_filters",
    oracle=f"""
    WITH g AS (SELECT doc_id, {_SQL_C4TEXT} AS text FROM documents
               WHERE regexp_matches(text, '\\S')),
    l AS (SELECT doc_id, text,
                 string_split(text, chr(10)) AS lines FROM g),
    m AS (SELECT doc_id,
                 CAST(len(lines) AS BIGINT) AS n_lines,
                 CAST(len(list_filter(lines,
                     x -> regexp_matches(x, '[.!?"]$'))) AS BIGINT)
                     AS n_terminal_lines,
                 CAST(len(list_filter(lines, x ->
                     len(list_filter(string_split_regex(x, '\\s+'),
                                     w -> w <> '')) < 5)) AS BIGINT)
                     AS n_short_lines,
                 CAST(len(regexp_extract_all(lower(text), '[.!?]'))
                     AS BIGINT) AS n_sentences,
                 contains(lower(text), 'lorem ipsum') AS has_lorem,
                 contains(text, '{{') AS has_brace,
                 contains(lower(text), 'javascript') AS has_javascript,
                 regexp_matches(lower(text), '{_C4_POLICY_RE}')
                     AS has_policy_phrase
          FROM l)
    SELECT doc_id, n_lines, n_terminal_lines, n_short_lines, n_sentences,
           CAST(n_terminal_lines AS DOUBLE) / n_lines
               AS frac_terminal_lines,
           CAST(n_short_lines AS DOUBLE) / n_lines AS frac_short_lines,
           has_lorem, has_brace, has_javascript, has_policy_phrase,
           (n_sentences >= 3 AND NOT has_lorem AND NOT has_brace
            AND NOT has_javascript AND NOT has_policy_phrase) AS pass_c4
    FROM m
    """,
    tags=("textstats", "quality"),
)
def text_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning heuristics (Raffel et al. 2020 §2.2): terminal-
    punctuation line fraction, short-line (<5 words) fraction, the
    ≥3-sentence requirement, and the page-level removals — "lorem
    ipsum", curly braces (code), "javascript", and the cookie/policy
    boilerplate phrases — emitted as per-document metrics plus the
    combined pass verdict. C4 applies the line rules by dropping lines
    and the page rules by dropping documents; this emits the signals so
    downstream curation can do either (the repo's line-level dropper is
    ``text_dedup_lines``-style reassembly).

    Map-only at any scale: line splits and phrase probes fold over each
    document alone (HOF filter/split + regexp, no UDF, no shuffle,
    no state). The line-end regex sticks to the Java/RE2 common subset
    (explicit ``[.!?\"]$`` on ``\\n``-split lines, never multiline
    ``$``). Reference analog: transformer.py's ad-hoc content checks
    when deciding which issue bodies to keep.
    """
    d = load_table(spark, sf_dir, "documents")
    g = (d.where(F.col("text").rlike(r"\S"))
         .select("doc_id", _c4text_col().alias("text")))
    t = fan_out(g.select("doc_id", "text",
                         F.split("text", "\n").alias("lines")))
    low = F.lower(F.col("text"))
    n_lines = F.size("lines").cast("bigint")
    n_term = F.size(F.filter(
        "lines", lambda x: x.rlike('[.!?"]$'))).cast("bigint")
    n_short = F.size(F.filter(
        "lines",
        lambda x: F.size(F.filter(F.split(x, r"\s+"),
                                  lambda w: w != "")) < 5)).cast("bigint")
    n_sent = F.size(F.regexp_extract_all(low, F.lit(r"[.!?]"), 0)) \
        .cast("bigint")
    m = t.select(
        "doc_id", n_lines.alias("n_lines"),
        n_term.alias("n_terminal_lines"),
        n_short.alias("n_short_lines"),
        n_sent.alias("n_sentences"),
        (n_term.cast("double") / n_lines).alias("frac_terminal_lines"),
        (n_short.cast("double") / n_lines).alias("frac_short_lines"),
        low.contains("lorem ipsum").alias("has_lorem"),
        F.col("text").contains("{").alias("has_brace"),
        low.contains("javascript").alias("has_javascript"),
        low.rlike(_C4_POLICY_RE).alias("has_policy_phrase"))
    return m.select(
        "*",
        ((F.col("n_sentences") >= 3) & ~F.col("has_lorem")
         & ~F.col("has_brace") & ~F.col("has_javascript")
         & ~F.col("has_policy_phrase")).alias("pass_c4"))


# ---------------------------------------------------------------------------
# Source-level curation rollup (round 13)
# ---------------------------------------------------------------------------

@register(
    "curate_source_rollup",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, lang, md5(text) AS h,
                      len({SQL_TOKS}) AS n_toks
               FROM documents WHERE text IS NOT NULL),
    hc AS (SELECT source, h, COUNT(*) AS c FROM t GROUP BY source, h),
    dup AS (SELECT source,
                   CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN c END), 0)
                        AS BIGINT) AS n_dup_docs
            FROM hc GROUP BY source),
    lc AS (SELECT source, lang, COUNT(*) AS c FROM t
           GROUP BY source, lang),
    lm AS (SELECT source, lang AS top_lang, c AS top_c,
                  CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT)
                      AS n_langs
           FROM (SELECT source, lang, c, ROW_NUMBER() OVER (
                     PARTITION BY source ORDER BY c DESC, lang ASC) AS rn,
                     COUNT(*) OVER (PARTITION BY source) AS nl
                 FROM lc) q
           WHERE rn = 1),
    base AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                    CAST(SUM(n_toks) AS BIGINT) AS n_tokens
             FROM t GROUP BY source)
    SELECT b.source, b.n_docs, b.n_tokens,
           CAST(b.n_tokens AS DOUBLE) / b.n_docs AS mean_doc_tokens,
           d.n_dup_docs,
           CAST(d.n_dup_docs AS DOUBLE) / b.n_docs AS dup_frac,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lc
            WHERE lc.source = b.source) AS n_langs,
           l.top_lang,
           CAST(l.top_c AS DOUBLE) / b.n_docs AS top_lang_share
    FROM base b
    JOIN dup d USING (source)
    JOIN lm l USING (source)
    """,
    tags=("curation",),
)
def curate_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level curation rollup (the RefinedWeb/CCNet move of
    filtering by DOMAIN before filtering by document): per source —
    doc and token counts, mean document length, the exact-duplicate
    rate inside the source (all copies of a repeated md5 counted, the
    mass a within-source dedup would touch), language count, and the
    dominant language with its share (count-desc, lexicographic
    tie-break, so the result is total and engine-portable).

    Scale shape: three map-side-combinable aggregations keyed by
    source / (source, md5) / (source, lang) — shuffle volume is
    O(distinct keys), never O(docs) — joined on the (small) source
    dimension, which AQE broadcasts. A production run over millions of
    domains keys the same plan; no driver-side state anywhere.
    Reference analog: transformer.py's per-project accounting when
    summarizing a scrape run.
    """
    d = load_table(spark, sf_dir, "documents")
    t = fan_out(
        d.where(F.col("text").isNotNull())
        .select("doc_id", "source", "lang", F.md5("text").alias("h"),
                F.size(H.word_tokens(F.col("text"))).alias("n_toks")))
    t = persist_seam(t)
    base = t.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"))
    dup = (t.groupBy("source", "h").agg(F.count(F.lit(1)).alias("c"))
           .groupBy("source")
           .agg(F.coalesce(
               F.sum(F.when(F.col("c") >= 2, F.col("c"))),
               F.lit(0)).cast("bigint").alias("n_dup_docs")))
    lc = t.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    lm = (lc.groupBy("source")
          .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                              F.col("lang").alias("lang"))).alias("w"),
               F.count(F.lit(1)).cast("bigint").alias("n_langs"))
          .select("source", F.col("w.lang").alias("top_lang"),
                  (-F.col("w.nc")).alias("top_c"), "n_langs"))
    return (base.join(dup, "source").join(lm, "source")
            .select("source", "n_docs", "n_tokens",
                    (F.col("n_tokens").cast("double") / F.col("n_docs"))
                    .alias("mean_doc_tokens"),
                    "n_dup_docs",
                    (F.col("n_dup_docs").cast("double") / F.col("n_docs"))
                    .alias("dup_frac"),
                    "n_langs", "top_lang",
                    (F.col("top_c").cast("double") / F.col("n_docs"))
                    .alias("top_lang_share")))


# ---------------------------------------------------------------------------
# FineWeb-style composed curation verdict (round 13)
# ---------------------------------------------------------------------------

FINEWEB_TOP2_MAX = 0.20   # Gopher A1.2 top-2-gram coverage ceiling
FINEWEB_DUP5_MAX = 0.30   # Gopher A1.2 duplicated-5-gram ceiling

_FW_ORACLE = f"""
    WITH t0 AS (SELECT doc_id, text, md5(text) AS h, {{SQL_TOKS}} AS toks
                FROM documents WHERE regexp_matches(text, '\\S')),
    base AS (SELECT doc_id, text, h, toks, len(toks) AS n_toks FROM t0),
    {",".join(_rep_ctes(n, m) for n, m in ((2, "top"), (5, "dup")))},
    lang AS (SELECT doc_id, {{_PRED}} AS plang FROM base),
    m AS (SELECT doc_id,
                 n_toks AS n_words,
                 CAST(list_sum(list_transform(toks,
                     w -> CAST(len(w) AS BIGINT))) AS BIGINT) AS sum_len,
                 CAST(len(list_filter(toks,
                     w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha,
                 CAST(len(list_intersect(list_distinct(toks),
                     {list(GOPHER_STOPS)})) AS BIGINT) AS n_stop,
                 contains(lower(text), 'lorem ipsum') AS has_lorem,
                 contains(text, '{{{{') AS has_brace,
                 contains(lower(text), 'javascript') AS has_js,
                 regexp_matches(lower(text), '{_C4_POLICY_RE}') AS has_policy
          FROM base),
    dd AS (SELECT h, MIN(doc_id) AS cdoc FROM base GROUP BY h),
    v AS (SELECT b.doc_id,
                 (l.plang = 'en') AS lang_ok,
                 (m.n_words BETWEEN 50 AND 100000
                  AND CAST(m.sum_len AS DOUBLE) / m.n_words >= 3.0
                  AND CAST(m.sum_len AS DOUBLE) / m.n_words <= 10.0
                  AND CAST(m.n_alpha AS DOUBLE) / m.n_words >= 0.8
                  AND m.n_stop >= 2) AS gopher_ok,
                 (NOT m.has_lorem AND NOT m.has_brace AND NOT m.has_js
                  AND NOT m.has_policy) AS c4_ok,
                 (CAST(COALESCE(v2.cov, 0) AS DOUBLE) / b.n_toks
                      <= {FINEWEB_TOP2_MAX}
                  AND CAST(COALESCE(v5.cov, 0) AS DOUBLE) / b.n_toks
                      <= {FINEWEB_DUP5_MAX}) AS repetition_ok,
                 (b.doc_id = d.cdoc) AS is_canonical
          FROM base b
          JOIN lang l USING (doc_id)
          JOIN m USING (doc_id)
          JOIN dd d USING (h)
          LEFT JOIN v2 USING (doc_id)
          LEFT JOIN v5 USING (doc_id))
    SELECT doc_id, lang_ok, gopher_ok, c4_ok, repetition_ok, is_canonical,
           (lang_ok AND gopher_ok AND c4_ok AND repetition_ok
            AND is_canonical) AS keep,
           CASE WHEN NOT lang_ok THEN 'lang'
                WHEN NOT gopher_ok THEN 'quality'
                WHEN NOT c4_ok THEN 'c4'
                WHEN NOT repetition_ok THEN 'repetition'
                WHEN NOT is_canonical THEN 'duplicate'
                ELSE 'kept' END AS reason
    FROM v
"""


@register(
    "curate_fineweb_keep",
    oracle=None,  # bound below after fragment substitution
    tags=("curation", "flagship"),
)
def curate_fineweb_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style composed curation verdict (Penedo et al. 2024's
    pipeline order): language gate → Gopher token-quality rules → C4
    page-level removals → Gopher repetition ceilings (top-2-gram ≤ 0.20,
    duplicated-5-gram ≤ 0.30 coverage) → exact-dedup first-occurrence
    election; one row per document with each stage's boolean, the
    combined keep, and the FIRST failing stage as the reason code —
    the accounting a production curation run reports per shard.

    Stage semantics reuse the individually-oracle-checked entries
    (text_language_id's argmax lexicon, text_gopher_quality's token
    rules on RAW text — the line rules need line structure, so the
    composed form keeps to token/page rules — text_c4_filters' page
    removals, text_repetition_coverage's interval-union, dedup_exact's
    min-id election). Plan shape: ONE persisted token seam feeds the
    map-only metric block, both repetition sub-pipelines, and the
    md5 election; everything re-joins on doc_id (unique, AQE-planned).
    No stage sees another's rejections — the booleans are independent,
    so the reason chain is a reporting choice, exactly as in the
    published pipeline's ablations.
    """
    d = load_table(spark, sf_dir, "documents")
    t = fan_out(d.where(F.col("text").rlike(r"\S"))
                .select("doc_id", "text",
                        H.word_tokens(F.col("text")).alias("toks"),
                        F.md5("text").alias("h")))
    base = persist_seam(
        t.select("doc_id", "text", "toks", "h",
                 F.size("toks").cast("bigint").alias("n_tokens")))
    low = F.lower(F.col("text"))
    n_words = F.col("n_tokens")
    sum_len = F.aggregate("toks", F.lit(0).cast("bigint"),
                          lambda a, w: a + F.length(w))
    mwl = sum_len.cast("double") / n_words
    n_alpha = F.size(F.filter("toks", lambda w: w.rlike("[a-z]")))
    n_stop = F.size(F.array_intersect(
        F.array_distinct("toks"),
        F.array(*[F.lit(s) for s in GOPHER_STOPS])))
    from ..functions.textstats import predict_language
    flags = base.select(
        "doc_id",
        (predict_language(F.col("text")) == "en").alias("lang_ok"),
        (n_words.between(50, 100000) & (mwl >= 3.0) & (mwl <= 10.0)
         & (n_alpha.cast("double") / n_words >= 0.8)
         & (n_stop >= 2)).alias("gopher_ok"),
        (~low.contains("lorem ipsum") & ~F.col("text").contains("{")
         & ~low.contains("javascript")
         & ~low.rlike(_C4_POLICY_RE)).alias("c4_ok"))
    # coverage via the shared collect-list shape (_gram_coverage,
    # round-13): no second exchange of the site stream per size
    covs = {n: _gram_coverage(base, n, mode).withColumnRenamed(
                "cov", f"cov{n}")
            for n, mode in ((2, "top"), (5, "dup"))}
    dd = base.groupBy("h").agg(F.min("doc_id").alias("cdoc"))
    v = (base.select("doc_id", "h", "n_tokens")
         .join(flags, "doc_id")
         .join(covs[2], "doc_id", "left")
         .join(covs[5], "doc_id", "left")
         .join(dd, "h")
         .select(
             "doc_id", "lang_ok", "gopher_ok", "c4_ok",
             ((F.coalesce("cov2", F.lit(0)).cast("double")
               / F.col("n_tokens") <= FINEWEB_TOP2_MAX)
              & (F.coalesce("cov5", F.lit(0)).cast("double")
                 / F.col("n_tokens") <= FINEWEB_DUP5_MAX))
             .alias("repetition_ok"),
             (F.col("doc_id") == F.col("cdoc")).alias("is_canonical")))
    keep = (F.col("lang_ok") & F.col("gopher_ok") & F.col("c4_ok")
            & F.col("repetition_ok") & F.col("is_canonical"))
    reason = (F.when(~F.col("lang_ok"), "lang")
              .when(~F.col("gopher_ok"), "quality")
              .when(~F.col("c4_ok"), "c4")
              .when(~F.col("repetition_ok"), "repetition")
              .when(~F.col("is_canonical"), "duplicate")
              .otherwise("kept"))
    return v.select("doc_id", "lang_ok", "gopher_ok", "c4_ok",
                    "repetition_ok", "is_canonical", keep.alias("keep"),
                    reason.alias("reason"))


# bind the fragment-substituted oracle (SQL_TOKS / _PRED come from the
# language entry's module so the lexicons stay single-sourced)
from .llm_ops import _PRED as _LLM_PRED  # noqa: E402
from .registry import QUERIES as _QUERIES  # noqa: E402
_QUERIES["curate_fineweb_keep"].oracle = (
    _FW_ORACLE.replace("{SQL_TOKS}", SQL_TOKS)
    .replace("{_PRED}", _LLM_PRED))
