"""Registry smoke tests: every query runs at sf0.001 with a stable
schema; the driver entry contract works. (Value-level parity vs DuckDB
is covered by tools/check_oracle.py and the driver's own harness.)"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from jira_scraper_etl_spark import plans


@pytest.mark.parametrize("name", sorted(plans.QUERIES))
def test_query_runs(spark, sf_dir, name):
    q = plans.QUERIES[name]
    df = q.fn(spark, sf_dir)
    assert df.columns, name
    assert df.count() >= 0


def test_oracle_coverage():
    """Every query has an oracle unless explicitly rows-only (approx
    sketches, ML-internal LSH, code-defined Jira fixtures, the UDTF
    differential twin)."""
    rows_only = {name for name, q in plans.QUERIES.items() if q.oracle is None}
    assert rows_only == {
        "agg_approx_count_distinct",
        "agg_hll_mergeable",
        "events_winsorize_approx",
        "events_anomaly_mad_approx",
        "similarity_ann_mllsh",
        "jira_transform_silver",
        "jira_corpus_stats",
        "jira_qa_pairs_udtf",
        "text_length_percentiles_approx",
        "text_heavy_hitters_mg",
        "embedding_pca_project",
        "events_rolling_distinct_hll",
        "text_winnow_fingerprints_fast",
    }


def test_embedding_dedup_bucketed_subset_and_recall(spark, sf_dir):
    """Two contracts: (1) under the manual narrow-band dial (16 bands ×
    4 bits — the recall-maximal layout for the 64-bit budget at this
    threshold) the banded pairs EQUAL the all-pairs truth at test SFs;
    (2) the auto-derived default (wider bits for bucket selectivity —
    trades recall at threshold-grazing similarities, see derive_banding)
    stays SOUND: a subset of the truth, never a false pair."""
    import pyspark.sql.functions as F

    narrow = plans.QUERIES["dedup_embedding_cosine"].fn(
        spark, sf_dir, bands=16, bits=4)
    derived = plans.QUERIES["dedup_embedding_cosine"].fn(spark, sf_dir)
    exact = plans.QUERIES["dedup_embedding_cosine_exact"].fn(spark, sf_dir)

    def under300(df):
        return {(r.vec_a, r.vec_b) for r in df.where(F.col("vec_a") < 300)
                .where(F.col("vec_b") < 300).collect()}

    want = {(r.vec_a, r.vec_b) for r in exact.collect()}
    assert under300(narrow) == want and isinstance(want, set)
    assert under300(derived) <= want


def test_embedding_dedup_derived_candidates_linear(spark, sf_dir):
    """The derive_banding invariant: candidate volume from the derived
    layout stays ~O(n·k) (expected bucket occupancy ~4 ⇒ ~4n candidate
    pairs per band), never the O(n²/2^bits) a fixed narrow layout
    degrades to as n grows."""
    import pyspark.sql.functions as F

    from jira_scraper_etl_spark.catalog import load_table
    from jira_scraper_etl_spark.functions import vectors as V
    from jira_scraper_etl_spark.plans.llm_ops import (derive_banding,
                                                      emb_candidates)

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    bands, bits = derive_banding(n)
    base = e.select("vec_id", V.quantize(F.col("embedding")).alias("q"))
    n_cand = emb_candidates(base, bands, bits).count()
    # occupancy ~2^2 per bucket => ~ C(4,2)*(n/4) = 1.5n pairs per band
    # before dedup; allow generous headroom for skewed sign patterns
    assert n_cand <= 16 * n * bands, (n_cand, n, bands, bits)


def test_embedding_dedup_wide_bands_sound(spark, sf_dir):
    """The (bands, bits) scale dial (fewer, wider bands for bigger
    corpora — 34× faster at the sf1 soak) must stay SOUND: every pair
    the wide-band variant returns is a true ≥-threshold pair (the
    in-bucket verify guarantees precision; only recall moves with the
    dial)."""
    import pyspark.sql.functions as F

    wide = plans.QUERIES["dedup_embedding_cosine"].fn(
        spark, sf_dir, bands=8, bits=8)
    exact = plans.QUERIES["dedup_embedding_cosine_exact"].fn(spark, sf_dir)
    got = {(r.vec_a, r.vec_b) for r in wide.where(F.col("vec_a") < 300)
           .where(F.col("vec_b") < 300).collect()}
    want = {(r.vec_a, r.vec_b) for r in exact.collect()}
    assert got <= want
    assert wide.count() >= 1  # still finds the engineered near-dups


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    """similarity_ann_ivf is oracle-backed since round 9 (deterministic
    exact-kmeans coarse quantizer), but the oracle only proves the
    pipeline is computed as specified — this pins its QUALITY: mean
    recall@5 against the exact top-5 (restricted to queries both
    report) must clear a floor — nprobe=2 of 8 cells can miss
    cross-cell neighbors, but not most of them."""
    import pyspark.sql.functions as F

    ivf = plans.QUERIES["similarity_ann_ivf"].fn(spark, sf_dir)
    got = {}
    for r in ivf.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    exact = plans.QUERIES["similarity_topk_bruteforce"].fn(spark, sf_dir)
    want = {}
    for r in exact.where(F.col("rk") <= 5).collect():
        want.setdefault(r.query_id, set()).add(r.neighbor_id)
    common = set(got) & set(want)
    assert common
    recall = sum(len(got[q] & want[q]) / len(want[q]) for q in common) / len(common)
    assert recall >= 0.4, recall


def test_signlsh_recall_vs_bruteforce(spark, sf_dir):
    """Derived-parameter multi-table RP ANN vs the exact baseline: on
    the shared query set (vec_id < 5), mean recall@5 against brute-force
    top-5 clears a floor, and every reported cosine is the true quantized
    cosine (precision is exact by construction — the verify stage
    computes real cosines, only candidate generation is approximate)."""
    import pyspark.sql.functions as F

    ann = plans.QUERIES["similarity_ann_signlsh"].fn(spark, sf_dir)
    got, got_cos = {}, {}
    for r in ann.where(F.col("query_id") < 5).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
        got_cos[(r.query_id, r.neighbor_id)] = r.cos_sim
    exact = plans.QUERIES["similarity_topk_bruteforce"].fn(spark, sf_dir)
    want, want_cos = {}, {}
    for r in exact.collect():
        if r.rk <= 5:
            want.setdefault(r.query_id, set()).add(r.neighbor_id)
        want_cos[(r.query_id, r.neighbor_id)] = r.cos_sim
    common = set(got) & set(want)
    assert common
    recall = sum(len(got[q] & want[q]) / len(want[q]) for q in common) / len(common)
    assert recall >= 0.4, recall
    for k, c in got_cos.items():
        if k in want_cos:
            assert c == want_cos[k], k


def test_entry_contract(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() > 0
    qs = entrymod.queries()
    os = entrymod.oracle_sql()
    assert set(os) <= set(qs)
    assert len(qs) == len(plans.QUERIES)


def test_quantize_int8_codes_bounded_and_calibrated(spark, sf_dir):
    """int8 codes land in [0, 255], keep the input dimensionality, and
    per-dimension extremes actually reach the code range ends (the
    corpus min maps to 0 and the corpus max to >= 254 — floor can shave
    the top code by one ulp-rounding step, never more)."""
    import pyspark.sql.functions as F

    df = plans.QUERIES["embedding_quantize_int8"].fn(spark, sf_dir)
    # Registered output is harness-safe scalars (codes_csv string, not a
    # bare array) — parse it back to ints for the range assertions.
    codes = F.transform(F.split("codes_csv", ","), lambda s: s.cast("int"))
    row = df.select(
        F.min(F.array_min(codes)).alias("lo"),
        F.max(F.array_max(codes)).alias("hi"),
        F.min("n_dims").alias("d_lo"),
        F.max("n_dims").alias("d_hi"),
    ).collect()[0]
    assert row.lo == 0 and 254 <= row.hi <= 255
    assert row.d_lo == row.d_hi == 64


def test_containment_is_asymmetric_and_bounded(spark, sf_dir):
    """Containment is directional: C(A,B) uses |A|'s shingle count, so
    a short doc inside a long one scores high A->B and low B->A; all
    values fall in (0, 1]."""
    rows = plans.QUERIES["dedup_containment"].fn(spark, sf_dir).collect()
    for r in rows:
        assert 0.0 < r.containment <= 1.0 and r.n_common >= 1
        assert r.doc_a != r.doc_b


def test_dataset_card_accounts_for_every_doc(spark, sf_dir):
    """Card rows partition the corpus: group doc counts sum to the
    table count and the unique-hash count never exceeds the doc count."""
    import pyspark.sql.functions as F

    from jira_scraper_etl_spark.catalog import load_table

    card = plans.QUERIES["curate_dataset_card"].fn(spark, sf_dir)
    total = card.agg(F.sum("n_docs")).collect()[0][0]
    assert total == load_table(spark, sf_dir, "documents").count()
    assert card.where(F.col("n_unique") > F.col("n_docs")).count() == 0
    assert card.where((F.col("uniq_ratio") <= 0) | (F.col("uniq_ratio") > 1)).count() == 0


def test_sq8_topk_recall_vs_float_ranking(spark, sf_dir):
    """Code-space (int8) top-10 must substantially agree with the exact
    float-space ranking: mean recall@10 >= 0.8 at test SF (SQ8's ~0.4%
    per-component quantization error only reorders near-ties)."""
    sq8 = plans.QUERIES["similarity_topk_sq8"].fn(spark, sf_dir).collect()
    exact = plans.QUERIES["similarity_topk_bruteforce"].fn(spark, sf_dir).collect()
    got: dict[int, set[int]] = {}
    want: dict[int, set[int]] = {}
    for r in sq8:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in exact:
        want.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(got) == set(want)
    recall = sum(len(got[q] & want[q]) / len(want[q]) for q in want) / len(want)
    assert recall >= 0.8, recall


def test_char_diversity_invariants(spark, sf_dir):
    """Simpson diversity lives in [0, 1); max_frac in (0, 1]; distinct
    symbol count never exceeds the fixed 37-symbol alphabet; and a
    single-character doc scores diversity 0 by construction."""
    import pyspark.sql.functions as F

    df = plans.QUERIES["text_char_diversity"].fn(spark, sf_dir)
    bad = df.where(
        (F.col("simpson") < 0) | (F.col("simpson") >= 1)
        | (F.col("n_distinct") > 37)
        | ((F.col("n_alpha") > 0) & ((F.col("max_frac") <= 0) | (F.col("max_frac") > 1)))
    )
    assert bad.count() == 0
    one = df.where((F.col("n_distinct") == 1) & (F.col("n_alpha") > 0))
    assert one.where(F.col("simpson") != 0.0).count() == 0


def rp_hyperplane_dots(bands: int, bits: int) -> list:
    """The expression spec of ``llm_ops.rp_band_key_table``: one ±sum
    column per hyperplane over the component columns e0..e63, as SQL
    strings (composed Column objects would cost one py4j round trip per
    node). Separate columns on purpose: codegen splits a projection
    into one method per expression, while one explode(array(...))
    generator compiles as one giant method and OOMs Janino."""
    import pyspark.sql.functions as F

    from jira_scraper_etl_spark.plans.llm_ops import _rp_signs

    signs = _rp_signs(bands, bits)

    def dot(b, i):
        return " ".join(("+" if s == 1 else "-") + f" e{j}"
                        for j, s in enumerate(signs[b][i]))

    return [F.expr(dot(b, i)).alias(f"d{b}_{i}")
            for b in range(bands) for i in range(bits)]


def rp_band_keys(bands: int, bits: int):
    """Band-key array from the hyperplane dot columns: band b's key packs
    sign(d_b_i) bits above a per-band offset."""
    import pyspark.sql.functions as F

    def key(b):
        terms = " + ".join(
            f"(CASE WHEN d{b}_{i} > 0 THEN {1 << (bits - 1 - i)} "
            f"ELSE 0 END)"
            for i in range(bits))
        return f"{b * (1 << bits)} + {terms}"

    return F.expr("array(" + ", ".join(key(b) for b in range(bands)) + ")")


def test_embedding_dedup_rp_sound_and_higher_recall(spark, sf_dir):
    """The multi-table RP variant: (1) SOUND — every returned pair is a
    true >=-threshold pair; (2) its recall on the ground-truth slice is
    at least the slice-banded variant's (32 full-width tables vs the
    64-bit slice budget — the reason the family exists); (3) candidate
    volume stays ~O(n·bands) (bucket occupancy is held by the same
    derived bits)."""
    import pyspark.sql.functions as F

    from jira_scraper_etl_spark.catalog import load_table
    from jira_scraper_etl_spark.functions import vectors as V
    from jira_scraper_etl_spark.plans.llm_ops import (EMB_DIM, RP_BANDS,
                                                      derive_rp_bits)

    def under300(df):
        return {(r.vec_a, r.vec_b) for r in df.where(F.col("vec_a") < 300)
                .where(F.col("vec_b") < 300).collect()}

    rp = plans.QUERIES["dedup_embedding_cosine_rp"].fn(spark, sf_dir)
    slice_banded = plans.QUERIES["dedup_embedding_cosine"].fn(spark, sf_dir)
    exact = plans.QUERIES["dedup_embedding_cosine_exact"].fn(spark, sf_dir)
    want = {(r.vec_a, r.vec_b) for r in exact.collect()}
    rp300 = under300(rp)
    assert rp300 <= want
    assert len(rp300) >= len(under300(slice_banded))

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    bits = derive_rp_bits(n)
    base = e.select("vec_id", V.quantize(F.col("embedding")).alias("q"))
    wide = base.select(
        "vec_id",
        *[F.element_at("q", j + 1).alias(f"e{j}") for j in range(EMB_DIM)])
    dots = wide.select("vec_id", *rp_hyperplane_dots(RP_BANDS, bits)) \
        .localCheckpoint()
    slim = dots.select("vec_id",
                       F.explode(rp_band_keys(RP_BANDS, bits)).alias("bk"))
    x, y = slim.alias("x"), slim.alias("y")
    n_cand = (x.join(y, (F.col("x.bk") == F.col("y.bk"))
                     & (F.col("x.vec_id") < F.col("y.vec_id")))
              .select("x.vec_id", "y.vec_id").distinct().count())
    assert n_cand <= 16 * n * RP_BANDS, (n_cand, n, bits)


def test_banding_guards(spark, sf_dir):
    """Misuse guards: slice banding rejects bands*bits > dim (slices
    past the vector would silently assign every row one key — an O(n^2)
    join); a bands-only override derives a compatible bits."""
    import pytest as _pytest

    from jira_scraper_etl_spark.plans.llm_ops import emb_band_keys

    with _pytest.raises(ValueError, match="invalid banding"):
        emb_band_keys(16, 13)
    with _pytest.raises(ValueError, match="invalid banding"):
        emb_band_keys(100, 0)   # bits=0 would put every vector in one bucket
    with _pytest.raises(ValueError, match="invalid banding"):
        emb_band_keys(0, 65)    # bands=0 would silently return no pairs
    # bands-only override: bits auto-fits the 64-bit budget
    out = plans.QUERIES["dedup_embedding_cosine"].fn(spark, sf_dir, bands=16)
    assert out.count() >= 0


def test_rp_band_key_table_matches_expression_path(spark, sf_dir):
    """The vectorized Arrow band-key builder must produce EXACTLY the
    (vec_id, band key) set of the expression-path spec
    (rp_hyperplane_dots + rp_band_keys) — integer arithmetic both
    sides, so equality is exact, not approximate."""
    import pyspark.sql.functions as F

    from jira_scraper_etl_spark.catalog import load_table
    from jira_scraper_etl_spark.functions import vectors as V
    from jira_scraper_etl_spark.plans.llm_ops import (EMB_DIM, RP_BANDS,
                                                      derive_rp_bits,
                                                      rp_band_key_table)

    e = load_table(spark, sf_dir, "embeddings")
    bits = derive_rp_bits(e.count())
    base = e.select("vec_id", V.quantize(F.col("embedding")).alias("q"))
    wide = base.select(
        "vec_id",
        *[F.element_at("q", j + 1).alias(f"e{j}") for j in range(EMB_DIM)])
    dots = wide.select("vec_id", *rp_hyperplane_dots(RP_BANDS, bits))
    want = {(r.vec_id, r.bk) for r in dots.select(
        "vec_id", F.explode(rp_band_keys(RP_BANDS, bits)).alias("bk"))
        .collect()}
    got = {(r.vec_id, r.bk) for r in
           rp_band_key_table(base, RP_BANDS, bits)
           .select("vec_id", F.explode("bks").alias("bk")).collect()}
    assert got == want


def test_mllsh_recall_vs_bruteforce(spark, sf_dir):
    """similarity_ann_mllsh stays rows-only (the projections are
    Spark-ML-internal, no cross-engine oracle possible) — round-9
    verdict #8 pins it instead with a deterministic-seed recall floor:
    seed=42 makes the hash tables reproducible, so mean recall@5 vs
    the exact cosine top-5 is a FIXED number at this SF (0.96
    measured); 0.8 is the regression tripwire. Euclidean-vs-cosine
    ranking differences on the near-unit-norm corpus are inside that
    slack."""
    import pyspark.sql.functions as F

    ann = plans.QUERIES["similarity_ann_mllsh"].fn(spark, sf_dir)
    got = {}
    for r in ann.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    exact = plans.QUERIES["similarity_topk_bruteforce"].fn(spark, sf_dir)
    want = {}
    for r in exact.where(F.col("rk") <= 5).collect():
        want.setdefault(r.query_id, set()).add(r.neighbor_id)
    common = set(got) & set(want)
    assert common == {0, 1, 2, 3, 4}
    recall = sum(len(got[q] & want[q]) / len(want[q]) for q in common) / len(common)
    assert recall >= 0.8, recall


def test_ivfpq_recall_and_code_domain(spark, sf_dir):
    """similarity_ann_ivfpq is oracle-backed (every ADC distance is
    re-derived from the neighbor's codes by DuckDB), so this pins what
    the hash can't: (a) recall@5 of the ADC ranking vs the EXACT
    integer-L2 ranking OVER THE SAME PROBED CANDIDATE SET — isolating
    the product quantizer's approximation quality from IVF's nprobe
    pruning (which test_ivf_recall_vs_bruteforce already bounds);
    (b) the compressed representation really is M=8 codes in [0, 16);
    (c) no nested loop anywhere in the plan."""
    import numpy as np
    import pyspark.sql.functions as F

    from jira_scraper_etl_spark.catalog import load_table
    from jira_scraper_etl_spark.functions import vectors as V
    from jira_scraper_etl_spark.plans.vector_ops import (
        IVF_NPROBE, IVF_NQ, IVF_TOPK, PQ_K, PQ_M, _km_assign_arrow,
        _km_train, _pq_encode_arrow, _pq_train)

    df = plans.QUERIES["similarity_ann_ivfpq"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = {}
    for r in df.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(got) <= set(range(IVF_NQ))

    # exact integer-L2 ranking over the SAME probed candidate set
    q, cents = _km_train(spark, sf_dir)
    assigned = _km_assign_arrow(q, cents).select("vec_id", "q", "cluster")
    arows = assigned.collect()
    ids = np.array([r.vec_id for r in arows])
    Q = np.stack([np.array(r.q, dtype=np.int64) for r in arows])
    cell = np.array([r.cluster for r in arows])
    C = np.array(cents, dtype=np.int64)
    want = {}
    for qi in range(IVF_NQ):
        pos = int(np.where(ids == qi)[0][0])
        dc = ((C - Q[pos]) ** 2).sum(axis=1)
        probed = np.lexsort((np.arange(len(C)), dc))[:IVF_NPROBE]
        mask = np.isin(cell, probed) & (ids != qi)
        cand_ids, cand_q = ids[mask], Q[mask]
        if not len(cand_ids):
            continue
        d = ((cand_q - Q[pos]) ** 2).sum(axis=1)
        order = np.lexsort((cand_ids, d))
        want[qi] = {int(cand_ids[j]) for j in order[:IVF_TOPK]}
    common = set(got) & set(want)
    assert common, "ivfpq returned no queries"
    recall = (sum(len(got[q] & want[q]) / len(want[q]) for q in common)
              / len(common))
    # measured 0.31 (sf0.001) / 0.35 (sf0.01) vs a 0.04 random-pick
    # baseline (candidate sets ~128): random unit-norm vectors are
    # PQ's hardest case (no cluster structure to absorb into the
    # codebooks) and 16 codes x 8 dims is the toy setting — the pin
    # is the ~8x-above-chance floor, not production recall
    assert recall >= 0.2, recall

    # compressed representation: M codes, each in [0, PQ_K)
    codes = _pq_encode_arrow(assigned, _pq_train(assigned)).collect()
    assert all(len(r.codes) == PQ_M for r in codes)
    assert all(0 <= c < PQ_K for r in codes for c in r.codes)


def test_rp_verdict_is_min_id_election_over_listed_pairs(spark, sf_dir):
    """dedup_embedding_rp_verdict must equal the min-id election
    replayed in Python from the pair-LISTING query's output: a vector
    is dropped iff the listing reports a qualifying pair with a
    smaller id, and its canonical is the MINIMUM such peer — one row
    per corpus vector regardless of pair density (the O(n) output
    contract that motivated the entry, round-11 verdict #3)."""
    import pyspark.sql.functions as F

    from jira_scraper_etl_spark.catalog import load_table

    pairs = plans.QUERIES["dedup_embedding_cosine_rp"].fn(spark, sf_dir)
    min_peer: dict[int, int] = {}
    for r in pairs.collect():
        a, b = int(r.vec_a), int(r.vec_b)
        min_peer[b] = min(min_peer.get(b, a), a)

    got = plans.QUERIES["dedup_embedding_rp_verdict"].fn(spark, sf_dir)
    rows = got.collect()
    n = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows) == n
    for r in rows:
        v = int(r.vec_id)
        if v in min_peer:
            assert not r.keep and r.canonical_id == min_peer[v], r
        else:
            assert r.keep and r.canonical_id == v, r
    # kept ids are exactly the ids with no smaller qualifying peer
    assert sum(not r.keep for r in rows) == len(min_peer)
    # the verdict plan must NOT pay the listing's candidate-DISTINCT
    # exchange: MIN absorbs band-collision duplicates (docstring
    # contract). Its plan trades that exchange for the MIN
    # aggregation's own exchange, so the pin is <= listing + 1 —
    # what it must never do is ADD exchanges beyond that swap
    # (ADVICE r12: comment previously overclaimed "strictly fewer").
    n_ex = lambda df: df._jdf.queryExecution().executedPlan().toString().count("Exchange")  # noqa: E731
    assert n_ex(got) <= n_ex(pairs) + 1  # +1: the verdict's own MIN agg


def test_minhash_oracle_fixture_buckets_under_cap(spark):
    """ORACLE PRECONDITION pin (ADVICE r12): dedup_minhash_verdict and
    the pair listing degrade buckets past candidate_pairs'
    max_bucket_size=256 to a rank-chain, while the DuckDB oracles do
    the full bucket-quadratic join. The min-id election amplifies any
    divergence (a doc's true minimum peer can fall outside the chain
    window), so every corpus the driver oracle-checks must keep every
    minhash band bucket at or under the cap. This sweeps BOTH driver
    fixture SFs (the pytest sf0.001 and the driver's sf0.01) at the
    exact banding the ladder derives there, so a future
    boilerplate-heavy fixture regeneration fails HERE instead of
    silently diverging from the oracle."""
    import inspect
    import os

    import pyspark.sql.functions as F

    from jira_scraper_etl_spark.operators import dedup as D

    cap_default = inspect.signature(D.candidate_pairs).parameters[
        "max_bucket_size"].default
    assert cap_default == 256  # the documented precondition constant
    for sf in ("sf0.001", "sf0.01"):
        d = f"/root/testdata/{sf}"
        if not os.path.isdir(d):  # driver boxes always have both
            continue
        docs = spark.read.parquet(f"{d}/documents.parquet")
        bands, rows = D.derive_minhash_br(docs.count())
        sh = D.shingled_docs(docs, "doc_id", "text")
        sig = D.minhash_signatures(sh, "doc_id", k=bands * rows)
        banded = D.band_keys_df(sig, "doc_id", bands=bands, rows=rows)
        biggest = (banded.groupBy("key").count()
                   .agg(F.max("count").alias("m")).collect()[0].m)
        assert biggest <= cap_default, (
            f"{sf}: max minhash bucket {biggest} exceeds the chain cap "
            f"{cap_default}; the verdict/listing oracles would diverge")


def test_semdedup_banded_prefilter_sound_with_recall_floor(spark):
    """Round-12 verdict #2: the within-cluster RP-band prefilter
    (engaged when a cluster exceeds SEMDEDUP_EXACT_CLUSTER_CAP rows;
    forced here with cap=0) must be SOUND — it prunes a subset of the
    exact dominance prune, since banding only removes candidate pairs
    — and must keep most of the prune (recall floor; deterministic:
    md5-derived hyperplanes, fixed data). Cluster assignment and d2
    must be bit-identical on both paths — only the prune verdict may
    differ. At the driver's oracle SF every cluster is far under the
    cap, so the REGISTERED entry still runs the exact path and its
    DuckDB oracle is untouched (checked every round)."""
    from jira_scraper_etl_spark.plans.vector_ops import (
        SEMDEDUP_EXACT_CLUSTER_CAP)
    from jira_scraper_etl_spark.seams import release_seams

    sf = "/root/testdata/sf0.01"
    fn = plans.QUERIES["dedup_semantic_semdedup"].fn
    exact = {r.vec_id: (r.cluster, r.d2, r.pruned)
             for r in fn(spark, sf).collect()}
    release_seams()
    banded = {r.vec_id: (r.cluster, r.d2, r.pruned)
              for r in fn(spark, sf, exact_cluster_cap=0).collect()}
    release_seams()
    assert set(exact) == set(banded)
    for v in exact:
        assert exact[v][:2] == banded[v][:2], v  # cluster/d2 identical
    ep = {v for v, t in exact.items() if t[2]}
    bp = {v for v, t in banded.items() if t[2]}
    assert bp <= ep  # soundness: banding never invents a prune
    assert ep  # the fixture corpus really has tau-similar pairs
    assert len(bp & ep) / len(ep) >= 0.9  # measured 1.0 (sf1: 0.94)
    # the cap really is above every oracle-checked cluster size: with
    # the default cap the registered entry equals the exact path
    assert SEMDEDUP_EXACT_CLUSTER_CAP >= 1024
