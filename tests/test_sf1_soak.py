"""Scaled-dataset soak checks. They run only when
``$SPARK_GRAFT_SOAK_DIR`` names a generated dataset, so a dataset left
on disk never adds the soak to the ordinary test run
(``make soak-sf1``, or ``python tools/make_sf.py 10 .scratch/sf1;
SPARK_GRAFT_SOAK_DIR=.scratch/sf1 pytest tests/test_sf1_soak.py``). The
invariants are scale-independent, so the same suite drives any scale
decade (``make soak-sf10``, ``make probe-sf100``).

Two queries' DuckDB oracles are computationally impractical at sf1 —
dedup_cluster_canonical's recursive-CTE transitive closure and
dedup_embedding_cosine's interpreted list-lambda dot products over ~n²/16
candidate pairs (both harness-side walls, measured >30 min / >35 GB RSS;
see BASELINE.md). Both stay oracle-green at sf0.01/sf0.1. Here their sf1
correctness is pinned by distributed invariants instead, which hold at
ANY scale.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from jira_scraper_etl_spark import plans

SF1 = os.environ.get("SPARK_GRAFT_SOAK_DIR", "")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF1),
    reason="SPARK_GRAFT_SOAK_DIR does not name a scaled soak dataset")


def test_cluster_canonical_invariants_sf1(spark):
    """Connected-components output at sf1: (1) every doc labeled exactly
    once; (2) cluster_id is the component's min doc_id; (3) cluster_size
    is self-consistent; (4) every banded near-dup doc pair lands in the
    same cluster (edge consistency — the defining CC property)."""
    out = plans.QUERIES["dedup_cluster_canonical"].fn(spark, SF1).cache()
    n_docs = spark.read.parquet(f"{SF1}/documents.parquet").count()
    assert out.count() == n_docs
    assert out.select("doc_id").distinct().count() == n_docs

    per_cluster = out.groupBy("cluster_id").agg(
        F.min("doc_id").alias("min_doc"),
        F.count(F.lit(1)).alias("n"),
        F.first("cluster_size").alias("sz"),
        F.count_distinct("cluster_size").alias("sz_variants"))
    bad = per_cluster.where(
        (F.col("min_doc") != F.col("cluster_id"))
        | (F.col("n") != F.col("sz")) | (F.col("sz_variants") != 1))
    assert bad.count() == 0

    # Edge consistency at the FINGERPRINT level — the scale-sound form
    # of the defining CC property. The doc-pair expansion is
    # O(Σ|clique|²): at the sf10 decade (500k docs saturating the 2^16
    # fingerprint space) it is billions of pairs and the old doc-pair
    # join ran >45 min without completing; the fingerprint graph is
    # bounded at 2^16 nodes AT ANY CORPUS SIZE and implies the doc
    # property — a hamming<=3 doc pair has equal fingerprints (check A)
    # or adjacent ones (check B).
    from jira_scraper_etl_spark.operators import dedup as D
    fp = D.simhash_fingerprints(
        spark.read.parquet(f"{SF1}/documents.parquet")
        .select("doc_id", "text"))
    labels = out.select("doc_id", "cluster_id")
    fp_label = fp.join(labels, "doc_id")
    # (A) all docs sharing a fingerprint share a cluster
    assert fp_label.groupBy("simhash").agg(
        F.count_distinct("cluster_id").alias("k")) \
        .where(F.col("k") != 1).count() == 0
    # (B) adjacent fingerprints (hamming <= 3) share a cluster
    fp_cluster = fp_label.select("simhash", "cluster_id").distinct()
    pairs = D.simhash_fp_pairs(fp_cluster.select("simhash"))
    joined = (pairs
              .join(fp_cluster.withColumnsRenamed(
                  {"simhash": "fa", "cluster_id": "ca"}), "fa")
              .join(fp_cluster.withColumnsRenamed(
                  {"simhash": "fb", "cluster_id": "cb"}), "fb"))
    assert joined.where(F.col("ca") != F.col("cb")).count() == 0
    out.unpersist()


def test_simhash_neighbor_stats_bounded_and_consistent_sf1(spark):
    """The round-4 bounded dedup_simhash form at sf1 — the regime where
    the old pair listing exceeded maxResultSize (BASELINE finding 4):
    output is exactly one row per document, and neighbor counts are
    consistent with the cluster labeling (hamming <= 3 adjacency is a
    subgraph of the cluster's transitive closure, so every doc's
    n_neighbors is bounded by cluster_size - 1; docs in singleton
    clusters have zero neighbors and no min_neighbor)."""
    out = plans.QUERIES["dedup_simhash"].fn(spark, SF1).cache()
    n_docs = spark.read.parquet(f"{SF1}/documents.parquet").count()
    assert out.count() == n_docs
    labels = plans.QUERIES["dedup_cluster_canonical"].fn(spark, SF1) \
        .select("doc_id", "cluster_size")
    joined = out.join(labels, "doc_id")
    assert joined.where(
        F.col("n_neighbors") > F.col("cluster_size") - 1).count() == 0
    singletons = joined.where(F.col("cluster_size") == 1)
    assert singletons.where(
        (F.col("n_neighbors") != 0) | F.col("min_neighbor").isNotNull()
    ).count() == 0
    out.unpersist()


def test_embedding_derived_banding_candidates_linear_sf1(spark):
    """derive_banding at sf1 (20k vectors): candidate volume stays
    ~O(n·k) — the finding-3 regression was O(n²/2^bits) ≈ 16.4k-pair
    verify stages taking 306 s at the fixed (16,4) layout."""
    import pyspark.sql.functions as F

    from jira_scraper_etl_spark.functions import vectors as V
    from jira_scraper_etl_spark.plans.llm_ops import (derive_banding,
                                                      emb_candidates)

    e = spark.read.parquet(f"{SF1}/embeddings.parquet")
    n = e.count()
    bands, bits = derive_banding(n)
    base = e.select("vec_id", V.quantize(F.col("embedding")).alias("q"))
    n_cand = emb_candidates(base, bands, bits).count()
    assert n_cand <= 16 * n * bands, (n_cand, n, bands, bits)


def test_embedding_cosine_sound_and_scaled_sf1(spark):
    """Embedding dedup at soak scale with SIZE-DERIVED banding dials
    (BASELINE finding 3: bits must grow ~log2(n) or candidates go
    ~n²/2^bits — hardcoded (8,8) is 1e9 candidates at the sf10
    decade): every slice-banded pair's cosine clears the threshold
    (soundness is dial-independent). RECALL at scale is asserted on
    the RP-LSH variant — by design: the slice variant's bands×bits ≤
    dim cap costs recall as bits grow (a cos-0.9 pair survives the
    sf10-derived (4, 16) slices with p ≈ 0.30, and zero copy-0 pairs
    surfacing is an expected draw), while 32 independent RP tables
    hold recall ≈ 1 at the same bits (the documented scale path,
    llm_ops.py slice-vs-RP note)."""
    from jira_scraper_etl_spark.plans.llm_ops import derive_banding

    n = spark.read.parquet(f"{SF1}/embeddings.parquet").count()
    bands, bits = derive_banding(n)
    out = plans.QUERIES["dedup_embedding_cosine"].fn(
        spark, SF1, bands=bands, bits=bits).cache()
    assert out.where(F.col("cos_sim") < 0.45).count() == 0
    out.unpersist()
    # copy 0 (vec_id < 2000) carries the original engineered near-dups;
    # the 32-table RP variant is the recall path at scale
    rp = plans.QUERIES["dedup_embedding_cosine_rp"].fn(spark, SF1).cache()
    assert rp.where(F.col("cos_sim") < 0.45).count() == 0
    assert rp.where((F.col("vec_a") < 2000) & (F.col("vec_b") < 2000)).count() > 0
    rp.unpersist()


def test_signlsh_ann_recall_at_scale(spark, tmp_path):
    """similarity_ann_signlsh with SIZE-DERIVED parameters at the soak
    decade, on a PLANTED-neighbor corpus: the soak embeddings plus one
    near-duplicate of each query vector (cos ≈ 0.9998 — 0.98·v + 0.02·u
    with a deterministic unit perturbation). LSH recall is only
    guaranteed for genuinely similar pairs, and this corpus's natural
    neighbors max out near cos 0.5 where NO sublinear method can
    promise recall — so the assertion plants pairs the theory covers:
    at the sf10-derived 16 bits a cos-0.9998 pair survives one RP table
    with p ≈ 0.90, hence all 32 tables miss it with p ≈ 1e-32. Every
    query must rank its planted partner first; the reported cosine must
    clear 0.99. This exercises the full corpus-sized machinery (Arrow
    matmul key build over every vector, broadcast candidate join) at
    the decade, not a fixture."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = spark.read.parquet(f"{SF1}/embeddings.parquet")
    base = sorted(src.where(F.col("vec_id") < 20).collect(),
                  key=lambda r: r.vec_id)
    n_max = src.agg(F.max("vec_id")).first()[0]
    rng = np.random.default_rng(7)
    vec_ids, embs, labels, planted = [], [], [], {}
    for r in base:
        v = np.array(r.embedding, dtype=np.float64)
        u = rng.standard_normal(len(v))
        u /= np.linalg.norm(u)
        p = 0.98 * (v / np.linalg.norm(v)) + 0.02 * u
        p /= np.linalg.norm(p)
        pid = n_max + 1 + r.vec_id
        planted[r.vec_id] = pid
        vec_ids.append(pid)
        embs.append([float(x) for x in p])
        labels.append(int(r.label))
    d = str(tmp_path / "planted")
    tbl = pa.table({"vec_id": pa.array(vec_ids, pa.int64()),
                    "embedding": pa.array(embs, pa.list_(pa.float32())),
                    "label": pa.array(labels, pa.int32())})
    extra = str(tmp_path / "extra.parquet")
    pq.write_table(tbl, extra)
    os.makedirs(d, exist_ok=True)
    (src.unionByName(spark.read.parquet(extra))
        .coalesce(8).write.parquet(f"{d}/embeddings.parquet"))

    ann = plans.QUERIES["similarity_ann_signlsh"].fn(spark, d)
    top1 = {r.query_id: (r.neighbor_id, r.cos_sim)
            for r in ann.where(F.col("rk") == 1).collect()}
    assert set(top1) == set(planted)
    for q, pid in planted.items():
        nid, cos = top1[q]
        assert nid == pid, (q, nid, pid)
        assert cos >= 0.99, (q, cos)


def test_winnowing_sampled_replay_at_scale(spark):
    """text_winnow_fingerprints at the soak decade: the full-result
    oracle compare is harness-impractical at sf10 (58M fingerprint rows
    exceed the driver collect budget — the dedup_simhash finding-4
    class), so correctness is pinned the scale-sound way: the engine's
    output FILTERED to a 200-doc sample (predicate pushed to the join,
    never a driver collect of the corpus result) must equal a plain-
    Python replay of the paper's algorithm on those docs, and global
    invariants (positions ≥ 1, 16-hex fingerprints) hold on an
    aggregate pass."""
    import hashlib

    from jira_scraper_etl_spark.plans.setsim_ops import WINNOW_K, WINNOW_W

    out = plans.QUERIES["text_winnow_fingerprints"].fn(spark, SF1)
    sample_ids = list(range(0, 2000, 10))  # 200 copy-0 docs
    got = {}
    for r in out.where(F.col("doc_id").isin(sample_ids)).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.fp))
    docs = (spark.read.parquet(f"{SF1}/documents.parquet")
            .where(F.col("doc_id").isin(sample_ids))
            .select("doc_id", "text").collect())
    assert docs
    for d in docs:
        n = len(d.text) - WINNOW_K + 1
        if n < WINNOW_W:
            assert d.doc_id not in got
            continue
        hs = [hashlib.md5(d.text[i:i + WINNOW_K].encode()).hexdigest()
              for i in range(n)]
        want = set()
        for j in range(n - WINNOW_W + 1):
            best = j
            for p in range(j, j + WINNOW_W):
                if hs[p] <= hs[best]:
                    best = p
            want.add((best + 1, hs[best][:16]))
        assert got.get(d.doc_id) == want, d.doc_id
    bad = out.where(
        (F.col("pos") < 1) | (F.length("fp") != 16)
        | ~F.col("fp").rlike("^[0-9a-f]{16}$")).count()
    assert bad == 0


JACCARD_SOAK_CAP = 100_000


def test_jaccard_prefix_exact_dup_recall_sf1(spark, tmp_path):
    """Zero-false-negative spot check at soak scale, where the
    all-pairs DuckDB oracle is impractical (~1.25G list_intersect
    pairs at sf1): every pair of documents with IDENTICAL text must be
    returned with jaccard exactly 1.0 (their shingle sets are equal,
    so the prefix lemma guarantees a shared prefix token), and every
    returned pair's jaccard must clear the τ=0.5 threshold.

    Above JACCARD_SOAK_CAP docs the check runs on the doc_id-prefix
    slice (still 2× the sf1 corpus, and copy 0 keeps the engineered
    dups): on THIS low-entropy 31-token-vocabulary corpus an EXACT
    similarity join degenerates toward density — the full sf10 run
    shuffled >70 GB of candidate pairs and filled the disk. Round 9:
    the guard DEGRADES there instead of refusing (round-8 verdict #2)
    — the full corpus must now return a RESULT within budget, tagged
    with a non-'prefix' ``method`` and exact-precision jaccard values.
    The lemma being verified is corpus-size independent; the slice is
    its own closed corpus."""
    d = spark.read.parquet(f"{SF1}/documents.parquet")
    target = SF1
    if d.count() > JACCARD_SOAK_CAP:
        # the guard degrades: a result, not an error. Every emitted
        # pair is exact-precision at >= the weakest rung's threshold.
        deg = plans.QUERIES["dedup_jaccard_prefix"].fn(spark, SF1).cache()
        methods = [r.method for r in deg.select("method").distinct().collect()]
        assert len(methods) == 1 and methods[0] != "prefix", methods
        assert methods[0] == "minhash_lsh" or methods[0].startswith(
            "prefix_tau=")
        assert deg.where(F.col("jaccard") < 0.5).count() == 0
        assert deg.count() > 0  # the engineered dups guarantee pairs
        deg.unpersist()
        target = str(tmp_path / "jacc_slice")
        d.where(F.col("doc_id") < JACCARD_SOAK_CAP) \
            .write.parquet(f"{target}/documents.parquet")
    out = plans.QUERIES["dedup_jaccard_prefix"].fn(spark, target).cache()
    assert out.where(F.col("jaccard") < 0.5).count() == 0
    assert out.where(F.col("method") != "prefix").count() == 0

    dup_groups = (spark.read.parquet(f"{target}/documents.parquet")
                  .groupBy("text")
                  .agg(F.collect_list("doc_id").alias("ids"))
                  .where(F.size("ids") > 1)
                  .collect())
    want = set()
    for g in dup_groups:
        ids = sorted(g.ids)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                want.add((a, b))
    assert want  # the generator's copy-0 keeps engineered dups
    got = {(r.doc_a, r.doc_b) for r in
           out.where(F.col("jaccard") == 1.0).collect()}
    assert want <= got, want - got
    out.unpersist()


def test_compaction_bins_conserve_at_scale(spark):
    """Round-7 planner at soak scale: bins conserve docs and bytes
    exactly, cover contiguous non-overlapping doc_id ranges in bin
    order, and every bin but the last is filled to within one max-doc
    of the target — all checked distributed (one collect of the
    bin-level result, corpus never driver-side)."""
    from jira_scraper_etl_spark.plans.analysis_ops import COMPACT_TARGET

    out = sorted(plans.QUERIES["layout_compaction_bins"].fn(spark, SF1)
                 .collect(), key=lambda r: r.bin)
    d = spark.read.parquet(f"{SF1}/documents.parquet")
    stats = d.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.octet_length("text")).alias("b"),
        F.max(F.octet_length("text")).alias("mx")).first()
    assert sum(r.n_docs for r in out) == stats.n
    assert sum(r.bin_bytes for r in out) == stats.b
    assert [r.bin for r in out] == list(range(len(out)))
    for a, b in zip(out, out[1:]):
        assert a.last_doc < b.first_doc
    for r in out[:-1]:
        assert r.bin_bytes + stats.mx >= COMPACT_TARGET


def test_histogram_totals_at_scale(spark):
    """Round-7 histogram at soak scale: bucket counts sum to the table
    row count, per-priority CDF ends at the priority's total, bucket
    min/max stay inside their bucket."""
    from jira_scraper_etl_spark.plans.warehouse_ops import HIST_WIDTH

    out = plans.QUERIES["dq_histogram_totalprice"].fn(spark, SF1).collect()
    o = spark.read.parquet(f"{SF1}/orders.parquet")
    assert sum(r.n_orders for r in out) == o.count()
    per_prio = {r.o_orderpriority: r.n_orders
                for r in o.groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("n_orders")).collect()}
    last_cum = {}
    for r in sorted(out, key=lambda r: (r.o_orderpriority, r.bin)):
        assert r.bin_lo <= r.min_price <= r.max_price < r.bin_lo + HIST_WIDTH
        last_cum[r.o_orderpriority] = r.cum_orders
    assert last_cum == per_prio


def test_bigram_novelty_bounds_at_scale(spark):
    """Round-7 novelty scorer at soak scale: one row per doc, unique
    <= total types, permille within [0, 1000] and consistent with the
    counts — checked distributed, no corpus collect."""
    out = plans.QUERIES["text_bigram_novelty"].fn(spark, SF1).cache()
    n_docs = spark.read.parquet(f"{SF1}/documents.parquet").count()
    assert out.count() == n_docs
    bad = out.where(
        (F.col("n_unique_types") > F.col("n_bigram_types"))
        | ((F.col("n_bigram_types") > 0)
           & (F.col("novelty_permille")
              != F.expr("cast((1000 * n_unique_types) div n_bigram_types"
                        " as int)")))
        | ((F.col("n_bigram_types") == 0)
           & F.col("novelty_permille").isNotNull()))
    assert bad.count() == 0
    out.unpersist()


@pytest.fixture(scope="module")
def soak_stream_dir(spark, tmp_path_factory):
    """The WHOLE soak event log split into 3 time-range parquet files
    with ascending mtimes — the backlog replay shared by every
    soak-scale streaming drain below."""
    import glob
    import shutil

    from pyspark.sql import Window

    from jira_scraper_etl_spark.catalog import load_events

    d = str(tmp_path_factory.mktemp("soak_events_stream"))
    raw = load_events(spark, SF1)
    nt = F.ntile(3).over(Window.orderBy("ts", "event_id"))
    chunked = raw.withColumn("nt", nt)
    for i in (1, 2, 3):  # sequential writes -> ascending mtimes
        stage = f"{d}/_stage{i}"
        chunked.where(F.col("nt") == i).drop("nt").coalesce(1) \
            .write.mode("overwrite").parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.move(part, f"{d}/{i:02d}.parquet")
        shutil.rmtree(stage)
    return d


def test_streaming_journey_drain_at_scale(spark, soak_stream_dir, tmp_path):
    """Soak-scale streaming drain (the round-5 verdict's 'streaming
    drains' decade ask): the stateful journey profile drained over a
    3-file time-range backlog of the WHOLE soak event log must equal
    the batch events_user_journey flagship on every metric for every
    user — cross-batch applyInPandasWithState state at O(users) scale,
    not the fixture-sized differential."""
    from jira_scraper_etl_spark.streaming import events as SE

    stream = SE.stream_events(spark, soak_stream_dir, glob="*.parquet",
                              max_files_per_trigger=1)
    out = SE.journey_state(stream)
    SE.drain_query(lambda: (
        out.writeStream.format("memory").queryName("journey_soak_sink")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()),
        timeout_seconds=1800.0)
    sink = spark.table("journey_soak_sink").toPandas()
    final = sink.groupby("user_id").last()
    got = {
        int(uid): (int(r.n_events), int(r.first_us), int(r.last_us),
                   int(r.n_active_hours), int(r.n_sessions),
                   int(r.n_debounced), int(r.funnel_stage))
        for uid, r in final.iterrows()}
    batch = (plans.QUERIES["events_user_journey"].fn(spark, SF1)
             .withColumn("first_us",
                         F.expr("unix_micros(cast(first_ts as timestamp))"))
             .withColumn("last_us",
                         F.expr("unix_micros(cast(last_ts as timestamp))")))
    want = {r.user_id: (r.n_events, r.first_us, r.last_us,
                        r.n_active_hours, r.n_sessions, r.n_debounced,
                        r.funnel_stage) for r in batch.collect()}
    assert got == want and want
    spark.catalog.dropTempView("journey_soak_sink")


def test_streaming_session_drain_at_scale(spark, soak_stream_dir, tmp_path):
    """Session-window streaming twin at soak scale (round-8 verdict
    #4): drain the same 3-file backlog through the watermarked
    session_window aggregation; the append-mode output must EQUAL the
    batch events_session_30m sessions closed by the final watermark —
    merging session state across micro-batch boundaries at O(open
    sessions) scale, checked row-exact."""
    from datetime import timedelta

    from jira_scraper_etl_spark.catalog import load_events
    from jira_scraper_etl_spark.streaming import events as SE

    stream = SE.stream_events(spark, soak_stream_dir, glob="*.parquet",
                              max_files_per_trigger=1)
    agg = SE.session_counts(stream, watermark="2 hours")
    SE.drain_query(lambda: (
        agg.writeStream.format("memory").queryName("session_soak_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_sess"))
        .trigger(availableNow=True).start()),
        timeout_seconds=1800.0)
    # DISTRIBUTED compare (round 10): the old driver-side set compare
    # collected both the drained output and the batch sessions —
    # millions of rows twice, alongside the memory sink's own copy —
    # and a run lost an in-flight collect block to block-manager
    # pressure (TaskResultLost). exceptAll counts check the same
    # row-exact equality with only scalars reaching the driver, and
    # bound got between the strict and inclusive watermark closures
    # (the ADVICE-r9 boundary rule from the fixture-scale twin).
    got = spark.table("session_soak_sink")
    wm = (load_events(spark, SF1).agg(F.max("ts")).first()[0]
          - timedelta(hours=2))
    batch = plans.QUERIES["events_session_30m"].fn(spark, SF1)
    end_col = batch.columns[2]  # session_end
    strict = batch.where(F.col(end_col) < wm)
    incl = batch.where(F.col(end_col) <= wm)
    assert strict.exceptAll(got).count() == 0  # every closed session emitted
    assert got.exceptAll(incl).count() == 0    # nothing past the closure
    n_got = got.count()
    assert 0 < n_got < batch.count()  # some sessions stay open past wm
    spark.catalog.dropTempView("session_soak_sink")


def test_stream_static_enrichment_drain_at_scale(spark, soak_stream_dir,
                                                 tmp_path):
    """Stream-static enrichment at soak scale: the full soak event log
    drained against the soak customer dimension (complete mode) must
    equal the batch events_enriched_segment_hourly exactly — the
    static side re-broadcasts per micro-batch across the 3-batch
    replay, and the windowed rollup output stays |segments|×|hours|
    regardless of event volume."""
    from jira_scraper_etl_spark.catalog import load_table
    from jira_scraper_etl_spark.streaming import events as SE

    stream = SE.stream_events(spark, soak_stream_dir, glob="*.parquet",
                              max_files_per_trigger=1)
    dim = load_table(spark, SF1, "customer")
    agg = SE.enriched_segment_counts(stream, dim)
    SE.drain_query(lambda: (
        agg.writeStream.format("memory").queryName("enriched_soak_sink")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_enr"))
        .trigger(availableNow=True).start()),
        timeout_seconds=1800.0)
    got = {tuple(r) for r in spark.table("enriched_soak_sink").collect()}
    want = {tuple(r) for r in
            plans.QUERIES["events_enriched_segment_hourly"]
            .fn(spark, SF1).collect()}
    assert got == want and want
    spark.catalog.dropTempView("enriched_soak_sink")


def test_streaming_merge_crash_resume_soak(spark, tmp_path):
    """Round-9 verdict #5 at soak scale: the order backlog (1.5M rows
    at sf1) drained as 5 micro-batch files through the foreachBatch
    MERGE sink with an injected crash after batch 1's version commit
    (the at-least-once window), resumed, must converge EXACTLY to the
    one-shot batch MERGE — 165k keys compared value-for-value (exact
    DECIMAL balances, so convergence is bit-identical, not
    approximate)."""
    import glob
    import shutil

    from pyspark.sql import Window

    from jira_scraper_etl_spark.operators import versioned as V
    from jira_scraper_etl_spark.streaming import merge_sink as MS

    d = str(tmp_path / "orders_stream")
    raw = spark.read.parquet(f"{SF1}/orders.parquet")
    nt = F.ntile(5).over(Window.orderBy("o_orderdate", "o_orderkey"))
    chunked = raw.withColumn("nt", nt)
    for i in range(1, 6):
        tmp = f"{d}/_stage{i}"
        chunked.where(F.col("nt") == i).drop("nt").coalesce(1) \
            .write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.move(part, f"{d}/{i:02d}.parquet")
        shutil.rmtree(tmp)

    table, ck = str(tmp_path / "balances"), str(tmp_path / "ck")
    seed = MS.seed_from_customers(
        spark.read.parquet(f"{SF1}/customer.parquet"))

    def crash_once(phase, batch_id):
        if batch_id == 1:
            raise RuntimeError("injected crash after commit")

    with pytest.raises(Exception, match="injected crash"):
        MS.run_merge_stream(spark, d, table, ck, seed=seed,
                            crash_hook=crash_once, timeout_seconds=600)
    assert V.latest_batch_id(table) == 1
    final = MS.run_merge_stream(spark, d, table, ck, timeout_seconds=600)
    want = MS.merge_balances(seed, MS.order_deltas(raw))
    got_c, want_c = final.count(), want.count()
    assert got_c == want_c
    # exact anti-join both ways instead of a driver-side set compare
    assert final.exceptAll(want).count() == 0
    assert want.exceptAll(final).count() == 0
    assert len(V.committed_versions(table)) == 6  # seed + 5, no dupes


def test_cluster_canonical_sampled_bfs_equality(spark):
    """Round-9 verdict #6 — exact SAMPLED VALUES at soak scale, not
    just invariants (the DuckDB recursive-CTE oracle is impractical
    past sf0.1): recompute ~200 sampled docs' clusters by an
    INDEPENDENT Python BFS over the collected contracted fingerprint
    graph (≤2^16 nodes by construction — affordable at any corpus
    size) and assert (cluster_id, cluster_size) equality with the
    distributed operator."""
    from collections import deque

    from jira_scraper_etl_spark.operators import dedup as D
    from jira_scraper_etl_spark.operators.fanout import fan_out

    d = spark.read.parquet(f"{SF1}/documents.parquet")
    fp = D.simhash_fingerprints(
        fan_out(d.select("doc_id", "text"))).localCheckpoint()
    nodes = {r.simhash: (r.fp_min, r.n_docs) for r in
             fp.groupBy("simhash")
             .agg(F.min("doc_id").alias("fp_min"),
                  F.count(F.lit(1)).alias("n_docs")).collect()}
    edges = [(r.fa, r.fb) for r in D.simhash_fp_pairs(
        spark.createDataFrame([(s,) for s in nodes], "simhash int"))
        .collect()]

    # member fingerprints: any edge endpoint, or >= 2 docs (hamming-0
    # internal pair) — the operator's own node rule
    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    members = set(adj) | {s for s, (_, n) in nodes.items() if n >= 2}

    label: dict[int, tuple[int, int]] = {}  # fp -> (cluster_id, size)
    seen: set[int] = set()
    for start in members:
        if start in seen:
            continue
        comp, q = [], deque([start])
        seen.add(start)
        while q:
            u = q.popleft()
            comp.append(u)
            for v in adj.get(u, ()):
                if v not in seen:
                    seen.add(v)
                    q.append(v)
        cid = min(nodes[u][0] for u in comp)
        size = sum(nodes[u][1] for u in comp)
        for u in comp:
            label[u] = (cid, size)

    n_docs = d.count()
    stride = max(1, n_docs // 200)
    sampled = {r.doc_id: r.simhash
               for r in fp.where(F.col("doc_id") % stride == 0).collect()}
    out = plans.QUERIES["dedup_cluster_canonical"].fn(spark, SF1)
    got = {r.doc_id: (r.cluster_id, r.cluster_size)
           for r in out.where(F.col("doc_id") % stride == 0).collect()}
    want = {doc: label[s] for doc, s in sampled.items() if s in label}
    assert len(want) >= 150  # the sample genuinely exercises clusters
    assert got == want


def test_streaming_merge_skewed_hot_key_soak(spark, tmp_path):
    """Round-10 verdict #8: the crash-resume MERGE soak re-run with a
    hot-key batch distribution — ~90% of the 1.5M change rows collapse
    onto ONE customer key. The sink's defense is structural: the
    per-batch delta aggregation is map-side combined, so exactly one
    change row per key reaches the merge join regardless of skew. The
    skewed drain must converge bit-exactly to the one-shot skewed
    MERGE within the same timeout as the uniform soak, with no batch
    stalling (AvailableNow would time out)."""
    import glob
    import shutil

    from pyspark.sql import Window

    from jira_scraper_etl_spark.operators import versioned as V
    from jira_scraper_etl_spark.streaming import merge_sink as MS

    d = str(tmp_path / "orders_stream")
    raw = (spark.read.parquet(f"{SF1}/orders.parquet")
           .withColumn("o_custkey",
                       F.when(F.col("o_orderkey") % 10 < 9, F.lit(1))
                       .otherwise(F.col("o_custkey"))))
    nt = F.ntile(5).over(Window.orderBy("o_orderdate", "o_orderkey"))
    chunked = raw.withColumn("nt", nt)
    for i in range(1, 6):
        tmp = f"{d}/_stage{i}"
        chunked.where(F.col("nt") == i).drop("nt").coalesce(1) \
            .write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.move(part, f"{d}/{i:02d}.parquet")
        shutil.rmtree(tmp)

    table, ck = str(tmp_path / "balances"), str(tmp_path / "ck")
    seed = MS.seed_from_customers(
        spark.read.parquet(f"{SF1}/customer.parquet"))

    def crash_once(phase, batch_id):
        if batch_id == 1:
            raise RuntimeError("injected crash after commit")

    with pytest.raises(Exception, match="injected crash"):
        MS.run_merge_stream(spark, d, table, ck, seed=seed,
                            crash_hook=crash_once, timeout_seconds=600)
    final = MS.run_merge_stream(spark, d, table, ck, timeout_seconds=600)
    want = MS.merge_balances(seed, MS.order_deltas(
        spark.read.parquet(d)))
    assert final.count() == want.count()
    assert final.exceptAll(want).count() == 0
    assert want.exceptAll(final).count() == 0
    assert len(V.committed_versions(table)) == 6
    # the hot key really absorbed ~90% of the stream
    hot = final.where(F.col("c_custkey") == 1).collect()[0].n_orders
    assert hot >= 0.85 * spark.read.parquet(d).count()


def test_streaming_dedup_sink_soak(spark, tmp_path):
    """Round-10 verdict #6 at soak scale: the 10%-bucket new documents
    (~5k at sf1, ~50k at sf10) drained as 5 doc_id-ordered micro-batch
    files through the incremental-dedup sink with an injected crash
    after batch 1, resumed — the admitted corpus must converge exactly
    (distributed compare) to the one-shot mega-batch admission."""
    import glob
    import shutil

    from jira_scraper_etl_spark.operators import versioned as V
    from jira_scraper_etl_spark.plans.curation import doc_bucket
    from jira_scraper_etl_spark.streaming import dedup_sink as DS

    docs = (spark.read.parquet(f"{SF1}/documents.parquet")
            .withColumn("bucket", doc_bucket(F.col("doc_id"))))
    old = docs.where(F.col("bucket") < 90).select("doc_id", "text")
    new = docs.where(F.col("bucket") >= 90).select("doc_id", "text")

    d = str(tmp_path / "docs_stream")
    ids = sorted(r.doc_id for r in new.select("doc_id").collect())
    cuts = [ids[i * len(ids) // 5] for i in range(1, 5)]
    bounds = [None] + cuts + [None]
    for i in range(5):
        part = new
        if bounds[i] is not None:
            part = part.where(F.col("doc_id") >= bounds[i])
        if bounds[i + 1] is not None:
            part = part.where(F.col("doc_id") < bounds[i + 1])
        tmp = f"{d}/_stage{i}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        f = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.move(f, f"{d}/{i + 1:02d}.parquet")
        shutil.rmtree(tmp)

    table, ck = str(tmp_path / "corpus"), str(tmp_path / "ck")
    seed = DS.fingerprint_docs(old)

    def crash_once(phase, batch_id):
        if batch_id == 1:
            raise RuntimeError("injected crash after commit")

    with pytest.raises(Exception, match="injected crash"):
        DS.run_dedup_stream(spark, d, table, ck, seed=seed,
                            crash_hook=crash_once, timeout_seconds=600)
    final = DS.run_dedup_stream(spark, d, table, ck, timeout_seconds=600)

    want = DS.admit_batch(DS.fingerprint_docs(new), seed).unionByName(seed)
    assert final.count() == want.count()
    assert final.exceptAll(want).count() == 0
    assert want.exceptAll(final).count() == 0
    assert len(V.committed_versions(table)) == 6  # seed + 5 batches


def test_streaming_dedup_sink_skewed_soak(spark, tmp_path):
    """Round-11 verdict #8: the dedup sink under a HOT-KEY drain (the
    skewed-MERGE precedent applied to admission). Two skews at once:
    (a) 60% of the new documents collapse onto one boilerplate family —
    shared long template + one distinct token each, so their SimHash
    fingerprints land within hamming ≤ 3 of each other (a hot
    fingerprint neighborhood in the near-dup index, NOT exact dupes);
    (b) batch MASS is skewed — the middle batch carries ~60% of the
    rows while the others split the rest. Crash after batch 1, resume;
    the admitted corpus must still converge exactly to the one-shot
    mega-batch admission, and the hot family must have been mostly
    REJECTED (greedy first-seen: the family's earliest arrivals admit,
    the rest are near-dup-rejected)."""
    import glob
    import shutil

    from jira_scraper_etl_spark.operators import versioned as V
    from jira_scraper_etl_spark.plans.curation import doc_bucket
    from jira_scraper_etl_spark.streaming import dedup_sink as DS

    docs = (spark.read.parquet(f"{SF1}/documents.parquet")
            .withColumn("bucket", doc_bucket(F.col("doc_id"))))
    old = docs.where(F.col("bucket") < 90).select("doc_id", "text")
    boiler = " ".join(f"boilerplate{i}" for i in range(48))
    hot_text = F.concat(F.lit(boiler + " tok"),
                        (F.col("doc_id") % 1000).cast("string"))
    new = (docs.where(F.col("bucket") >= 90)
           .select("doc_id",
                   F.when(F.col("doc_id") % 10 < 6, hot_text)
                   .otherwise(F.col("text")).alias("text")))

    # skewed 5-way slicing: batches carry ~10/10/60/10/10% of the mass
    d = str(tmp_path / "docs_stream")
    ids = sorted(r.doc_id for r in new.select("doc_id").collect())
    n = len(ids)
    cuts = [ids[n // 10], ids[2 * n // 10], ids[8 * n // 10],
            ids[9 * n // 10]]
    bounds = [None] + cuts + [None]
    for i in range(5):
        part = new
        if bounds[i] is not None:
            part = part.where(F.col("doc_id") >= bounds[i])
        if bounds[i + 1] is not None:
            part = part.where(F.col("doc_id") < bounds[i + 1])
        tmp = f"{d}/_stage{i}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        f = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.move(f, f"{d}/{i + 1:02d}.parquet")
        shutil.rmtree(tmp)

    table, ck = str(tmp_path / "corpus"), str(tmp_path / "ck")
    seed = DS.fingerprint_docs(old)

    import time
    lat: dict[int, float] = {}
    t_last = [time.perf_counter()]

    def hook(phase, batch_id):
        now = time.perf_counter()
        lat[batch_id] = now - t_last[0]
        t_last[0] = now

    def crash_once(phase, batch_id):
        hook(phase, batch_id)
        if batch_id == 1:
            raise RuntimeError("injected crash after commit")

    with pytest.raises(Exception, match="injected crash"):
        DS.run_dedup_stream(spark, d, table, ck, seed=seed,
                            crash_hook=crash_once, timeout_seconds=1200)
    t_last[0] = time.perf_counter()
    final = DS.run_dedup_stream(spark, d, table, ck, crash_hook=hook,
                                timeout_seconds=1200)

    want = DS.admit_batch(DS.fingerprint_docs(new), seed).unionByName(seed)
    assert final.count() == want.count()
    assert final.exceptAll(want).count() == 0
    assert want.exceptAll(final).count() == 0
    assert len(V.committed_versions(table)) == 6  # seed + 5 batches

    # the hot family really was hot — and mostly rejected: of the ~60%
    # hot new docs, at most a small core (distinct fingerprints within
    # the family's hamming spread) is admitted
    n_hot = new.where(F.col("text").startswith("boilerplate0")).count()
    hot_admitted = (final.join(
        new.where(F.col("text").startswith("boilerplate0"))
        .select("doc_id"), "doc_id", "left_semi").count())
    assert n_hot >= 0.5 * n  # skew actually injected
    assert hot_admitted <= max(0.05 * n_hot, 64), (hot_admitted, n_hot)

    # bounded per-batch latency: the hot batch (3, ~6x the rows) may
    # cost proportionally more, but no batch may blow up super-linearly
    # (O(batch), not O(corpus·batch)); factor 20 leaves room for fixed
    # per-batch planning overhead at small SFs.
    per = [lat[b] for b in sorted(lat) if b >= 0]
    print("dedup-sink per-batch latencies:",
          {b: round(lat[b], 1) for b in sorted(lat)})  # BASELINE.md rows
    assert per and max(per) <= 20 * (sum(per) / len(per)), lat


def test_rp_recall_holds_where_derived_bits_exceed_16(spark, tmp_path):
    """Round-10 ADVICE #5 / verdict #2: the RP family's recall at the
    corpus sizes where derive_rp_bits passes 16 — the regime the r10
    dial change altered with no oracle to catch a regression. Recall is
    measured on PLANTED pairs: 50 vectors perturbed to cos ≈ 0.9 (the
    LSH design point) appended to the corpus; the recall-compensating
    band ladder (derive_rp_bands) must keep both the ANN top-5 and the
    dedup pair recall ≥ 0.85 at ANY decade — with fixed 32 bands this
    sags as 0.8564^bits per extra bit (measured 0.83 predicted at
    sf100's 19 bits), which is exactly the regression this pins.
    Skips below the 2^18 regime (sf1/sf10 soak dirs), where the ladder
    is inert by construction."""
    import math

    from jira_scraper_etl_spark.plans import llm_ops as L

    emb = spark.read.parquet(f"{SF1}/embeddings.parquet")
    n = emb.count()
    bits = L.derive_rp_bits(n)
    if bits <= 16:
        pytest.skip(f"corpus {n} derives {bits} bits — ladder inert")
    bands = L.derive_rp_bands(bits)
    assert bands > L.RP_BANDS  # the dial actually moved

    # plant 50 cos≈0.9 twins of vec_ids 0..49: v' = v + 0.484·g with
    # |g| ≈ |v| from per-component hash noise → cos ≈ 1/√(1+0.484²)
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    dim = len(emb.select("embedding").first().embedding)
    noise = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: F.pmod(F.xxhash64(F.concat_ws(":", F.col("vec_id"),
                                                j.cast("string"))),
                         F.lit(10000)).cast("double") / 10000.0 - 0.5)
    norm = F.sqrt(F.aggregate(F.col("embedding"), F.lit(0.0),
                              lambda a, x: a + x * x))
    scale = 0.484 * math.sqrt(12.0 / dim)
    planted = (emb.where(F.col("vec_id") < 50)
               .withColumn("g", noise).withColumn("nrm", norm)
               .select((F.col("vec_id") + max_id + 1).alias("vec_id"),
                       "label",
                       F.zip_with("embedding", "g",
                                  lambda x, g: x + F.lit(scale)
                                  * F.col("nrm") * g).alias("embedding")))
    tmp_sf = str(tmp_path / "sfp")
    import os
    os.makedirs(tmp_sf)
    emb.select("vec_id", "label", "embedding").unionByName(planted) \
        .write.mode("overwrite").parquet(f"{tmp_sf}/embeddings.parquet")

    # ANN: each query 0..19's planted twin must surface in its top-5
    ann = L.similarity_ann_signlsh(spark, tmp_sf)
    got = {}
    for r in ann.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum((q + max_id + 1) in got.get(q, set()) for q in range(20))
    ann_recall = hits / 20
    # dedup: the 50 planted (i, twin) pairs sit at cos≈0.9 ≥ 0.45
    rp = L.dedup_embedding_cosine_rp(spark, tmp_sf)
    found = {(r.vec_a, r.vec_b) for r in
             rp.where(F.col("vec_b") > max_id).collect()}
    pair_recall = sum((i, i + max_id + 1) in found for i in range(50)) / 50
    print(f"bits={bits} bands={bands} ann_recall={ann_recall} "
          f"pair_recall={pair_recall}")
    assert ann_recall >= 0.85, (bits, bands, ann_recall)
    assert pair_recall >= 0.85, (bits, bands, pair_recall)


def test_streaming_dedup_sink_long_horizon_flat(spark, tmp_path):
    """Round-12 verdict #1 done-criterion: a 100-batch drain through
    the dedup sink must show FLAT per-batch wall-clock — the read side
    is bounded by compaction (at most compact_every+1 version dirs per
    corpus_index scan) instead of growing one union branch per commit.
    Pins: (a) late-window median per-batch time within 2.5x of the
    early window (box noise + slow index growth allowance; the
    uncompacted layout measured super-linear growth well past that),
    (b) the effective read set never exceeded the bound at any
    observation, (c) >100 versions committed, (d) the final corpus
    equals the one-shot mega-batch admission (compaction is
    content-redundant even under 100 slicings)."""
    import os
    import statistics
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from jira_scraper_etl_spark.operators import versioned as V
    from jira_scraper_etl_spark.plans.curation import doc_bucket
    from jira_scraper_etl_spark.streaming import dedup_sink as DS
    from jira_scraper_etl_spark.streaming.events import drain_query

    docs = (spark.read.parquet(f"{SF1}/documents.parquet")
            .withColumn("bucket", doc_bucket(F.col("doc_id"))))
    old = docs.where(F.col("bucket") < 90).select("doc_id", "text")
    new = docs.where(F.col("bucket") >= 90).select("doc_id", "text")

    n_batches, every = 100, 8
    pdf = (new.toPandas().sort_values("doc_id").reset_index(drop=True))
    d = str(tmp_path / "docs_stream")
    os.makedirs(d)
    for i in range(n_batches):
        lo = i * len(pdf) // n_batches
        hi = (i + 1) * len(pdf) // n_batches
        pq.write_table(pa.Table.from_pandas(pdf.iloc[lo:hi],
                                            preserve_index=False),
                       f"{d}/{i + 1:03d}.parquet")

    table, ck = str(tmp_path / "corpus"), str(tmp_path / "ck")
    V.write_version(DS.fingerprint_docs(old), table,
                    extra={"batch_id": -1})
    inner = DS.foreach_batch_dedup(table, compact_every=every)
    times: dict[int, float] = {}
    eff_sizes: list[int] = []

    def timed(batch, batch_id):
        t0 = time.perf_counter()
        inner(batch, batch_id)
        times[batch_id] = time.perf_counter() - t0
        eff_sizes.append(len(V.effective_versions(table)))

    schema = spark.read.parquet(d).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .option("pathGlobFilter", "*.parquet").parquet(d))
    drain_query(lambda: (
        stream.writeStream.foreachBatch(timed)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()), timeout_seconds=2400)

    assert len(times) == n_batches
    # (b) bound held at every observation (post-compaction check, so
    # the bound is every+1; +1 slack for the pre-compaction peek)
    assert max(eff_sizes) <= every + 2, max(eff_sizes)
    # (c) versions really accumulated (deltas + compactions), read set
    # stayed bounded anyway
    assert len(V.committed_versions(table)) > n_batches
    # (a) flatness: median of batches 11-35 vs 76-100 (skip the JVM
    # warm-up window; medians resist single-batch GC/compaction spikes)
    ordered = [times[b] for b in sorted(times)]
    early = statistics.median(ordered[10:35])
    late = statistics.median(ordered[75:])
    assert late <= 2.5 * early, (early, late)
    # (d) exact convergence to the one-shot admission
    seed = DS.fingerprint_docs(old)
    want = DS.admit_batch(DS.fingerprint_docs(new), seed).unionByName(seed)
    final = DS.corpus_index(spark, table)
    assert final.count() == want.count()
    assert final.exceptAll(want).count() == 0
    assert want.exceptAll(final).count() == 0


def test_streaming_merge_long_horizon_flat_with_gc(spark, tmp_path):
    """Round-12 verdict #7: 100 micro-batches through the MERGE sink
    with gc_retain=10. The sink rewrites the full snapshot per batch —
    right for a keyed upsert table whose key population is bounded —
    so per-batch wall-clock must stay FLAT (the snapshot is ~|keys|
    rows regardless of how many batches ran), version directories on
    disk must stay bounded by the retention window instead of growing
    one per commit, and the final snapshot must equal the one-shot
    MERGE of the whole change stream (GC never touches content)."""
    import os
    import statistics
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from jira_scraper_etl_spark.operators import versioned as V
    from jira_scraper_etl_spark.streaming import merge_sink as MS
    from jira_scraper_etl_spark.streaming.events import drain_query

    customers = spark.read.parquet(f"{SF1}/customer.parquet")
    orders = spark.read.parquet(f"{SF1}/orders.parquet") \
        .select("o_orderkey", "o_custkey", "o_totalprice")

    n_batches, retain = 100, 10
    pdf = orders.toPandas().sort_values("o_orderkey").reset_index(drop=True)
    d = str(tmp_path / "orders_stream")
    os.makedirs(d)
    for i in range(n_batches):
        lo = i * len(pdf) // n_batches
        hi = (i + 1) * len(pdf) // n_batches
        pq.write_table(pa.Table.from_pandas(pdf.iloc[lo:hi],
                                            preserve_index=False),
                       f"{d}/{i + 1:03d}.parquet")

    table, ck = str(tmp_path / "balances"), str(tmp_path / "ck")
    V.write_version(MS.seed_from_customers(customers), table,
                    extra={"batch_id": -1})
    inner = MS.foreach_batch_merge(table, gc_retain=retain)
    times: dict[int, float] = {}
    dirs_seen: list[int] = []

    def timed(batch, batch_id):
        t0 = time.perf_counter()
        inner(batch, batch_id)
        times[batch_id] = time.perf_counter() - t0
        dirs_seen.append(len(V.committed_versions(table)))

    schema = spark.read.parquet(d).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .option("pathGlobFilter", "*.parquet").parquet(d))
    drain_query(lambda: (
        stream.writeStream.foreachBatch(timed)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()), timeout_seconds=2400)

    assert len(times) == n_batches
    # version accumulation bounded by the retention window at every
    # observation (GC runs inside the batch, so the count is exact)
    assert max(dirs_seen) <= retain + 1, max(dirs_seen)
    # time travel: exactly the newest `retain` versions remain readable
    left = V.committed_versions(table)
    assert len(left) == retain
    # flatness: median of batches 11-35 vs 76-100
    ordered = [times[b] for b in sorted(times)]
    early = statistics.median(ordered[10:35])
    late = statistics.median(ordered[75:])
    assert late <= 2.5 * early, (early, late)
    # content: identical to the one-shot MERGE of the whole stream
    want = MS.merge_balances(MS.seed_from_customers(customers),
                             MS.order_deltas(orders))
    final = V.read_version(spark, table)
    assert final.count() == want.count()
    assert final.exceptAll(want).count() == 0
    assert want.exceptAll(final).count() == 0
