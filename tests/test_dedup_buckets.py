"""Hot-bucket handling in the LSH candidate join: a degenerate corpus
(hundreds of near-identical docs sharing every band key) must not
produce a quadratic bucket, while non-degenerate corpora produce
exactly the pairs of the plain bucket self-join."""

from __future__ import annotations

import pyspark.sql.functions as F

from jira_scraper_etl_spark.operators import dedup as D


def banded_for(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    docs = D.shingled_docs(df)
    sig = D.minhash_signatures(docs)
    return D.band_keys_df(sig)


def test_degenerate_bucket_is_chained_not_quadratic(spark):
    n = 500
    text = "the quick brown fox jumps over the lazy dog again and again"
    banded = banded_for(spark, [(i, text) for i in range(n)])
    pairs = D.candidate_pairs(banded, max_bucket_size=64, chain_width=2)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # O(n·W), not O(n²): chain pairs only
    assert len(got) <= n * 2
    assert len(got) < 1000  # C(500,2) would be 124750
    # connectivity preserved: every consecutive pair present, so the
    # whole bucket stays one component for downstream clustering
    assert all((i, i + 1) in got for i in range(n - 1))


def test_non_degenerate_pairs_identical_with_and_without_cap(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    banded = banded_for(
        spark, [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()])
    capped = {(r.id_a, r.id_b)
              for r in D.candidate_pairs(banded, max_bucket_size=256).collect()}
    uncapped = {(r.id_a, r.id_b)
                for r in D.candidate_pairs(banded, max_bucket_size=1 << 30).collect()}
    assert capped == uncapped and uncapped


def test_small_buckets_exact_chain_only_above_cap(spark):
    # two distinct texts: bucket sizes 3 and 2 — cap 2 chains the first
    rows = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
            (3, "alpha beta gamma delta"), (4, "omega psi chi phi"),
            (5, "omega psi chi phi")]
    banded = banded_for(spark, rows)
    uncapped = {(r.id_a, r.id_b)
                for r in D.candidate_pairs(banded, max_bucket_size=10).collect()}
    assert uncapped == {(1, 2), (1, 3), (2, 3), (4, 5)}
    capped = {(r.id_a, r.id_b)
              for r in D.candidate_pairs(banded, max_bucket_size=2,
                                         chain_width=1).collect()}
    # bucket {1,2,3} chains to consecutive pairs; bucket {4,5} unchanged
    assert capped == {(1, 2), (2, 3), (4, 5)}


def _reference_pairs(buckets, cap, width):
    """Pure-Python candidate_pairs: one Counter entry per (bucket, pair)
    — every i < j pair of a bucket at or under ``cap`` (of every bucket
    when ``cap`` is None), each member's next ``width`` ids in a bigger
    one."""
    from collections import Counter

    out = Counter()
    for ids in buckets.values():
        s = sorted(ids)
        n = len(s)
        for i in range(n):
            hi = n if cap is None or n <= cap else min(n, i + 1 + width)
            out.update((s[i], s[j]) for j in range(i + 1, hi))
    return out


def test_candidate_pairs_matches_python_reference(spark):
    """Differential check of the bucket-pair generator on seeded random
    (key, id) rows: bucket sizes 1, 2, cap, cap+1 and 3×cap, ids drawn
    from one shared pool (so a pair recurs across buckets, like a doc
    pair sharing several bands), chain widths 1-3, and the uncapped
    mode. ``dedup=True`` must give the reference's pair set;
    ``dedup=False`` its multiset, one row per bucket and pair. Ids are
    longs or ``struct(id, payload)`` with the payload falling as the id
    rises: struct ids must order by their first field (the SimHash
    pair listing carries its fingerprint that way)."""
    import random
    from collections import Counter

    cap = 6
    for seed in (3, 17):
        rng = random.Random(seed)
        pool = range(1000, 1000 + 4 * cap)
        drawn = {rng.getrandbits(62): rng.sample(pool, size)
                 for size in (1, 2, cap, cap + 1, 3 * cap, 2, cap)}
        for id_type in ("long", "struct<id: long, payload: long>"):
            buckets = (drawn if id_type == "long" else
                       {k: [(i, 5000 - i) for i in ids]
                        for k, ids in drawn.items()})
            rows = [(key, i) for key, ids in buckets.items() for i in ids]
            rng.shuffle(rows)
            banded = spark.createDataFrame(rows, f"key long, doc_id {id_type}")
            for max_size, widths in ((cap, (1, 2, 3)), (None, (2,))):
                for width in widths:
                    want = _reference_pairs(buckets, max_size, width)
                    assert sum(want.values()) > len(want)  # cross-bucket repeats
                    got = D.candidate_pairs(banded, max_bucket_size=max_size,
                                            chain_width=width, dedup=True).collect()
                    got = [(r.id_a, r.id_b) if id_type == "long" else
                           (tuple(r.id_a), tuple(r.id_b)) for r in got]
                    assert sorted(got) == sorted(want), \
                        (seed, id_type, max_size, width)
                    got = D.candidate_pairs(banded, max_bucket_size=max_size,
                                            chain_width=width, dedup=False).collect()
                    got = [(r.id_a, r.id_b) if id_type == "long" else
                           (tuple(r.id_a), tuple(r.id_b)) for r in got]
                    assert Counter(got) == want, \
                        (seed, id_type, max_size, width)


def test_nibble_keys_share_a_key_iff_a_block_is_equal(spark):
    """Seeded 16-bit fingerprint pairs at hamming 0-4: two fingerprints
    share a nibble key exactly when one of their four 4-bit blocks is
    equal, so every pair at hamming <= 3 shares a key."""
    import random

    rng = random.Random(11)
    pairs = []
    for _ in range(300):
        a, h = rng.getrandbits(16), rng.randint(0, 4)
        b = a
        for bit in rng.sample(range(16), h):
            b ^= 1 << bit
        pairs.append((a, b, h))
    fps = spark.createDataFrame(
        [(fp, fp % 7) for fp in {x for a, b, _ in pairs for x in (a, b)}],
        "simhash int, other int")
    keys: dict[int, set[int]] = {}
    for r in D.nibble_keys(fps, "simhash").collect():
        assert r.other == r.simhash % 7  # the input columns ride along
        keys.setdefault(r.simhash, set()).add(r.key)
    assert all(len(k) == 4 and k <= set(range(64)) for k in keys.values())
    missed = 0
    for a, b, h in pairs:
        block_equal = any((a >> 4 * i) & 15 == (b >> 4 * i) & 15
                          for i in range(4))
        assert bool(keys[a] & keys[b]) == block_equal, (a, b, h)
        assert h > 3 or block_equal, (a, b, h)
        missed += not block_equal
    assert missed  # some hamming-4 pair shares no block


def test_minhash_lsh_build_leaves_one_seam(spark, sf_dir):
    """Building dedup_minhash_lsh persists only the shingled corpus,
    whose three consumers fan out; the candidate stage has one consumer
    and needs no seam."""
    from jira_scraper_etl_spark import plans, seams

    seams.release_seams()
    try:
        plans.QUERIES["dedup_minhash_lsh"].fn(spark, sf_dir)
        assert seams.outstanding() == 1
    finally:
        seams.release_seams()


def test_simhash_neighbor_stats_matches_bruteforce_random(spark):
    """Differential check of the contracted-graph neighbor math
    (clique sizes, second-min election, cross-clique adjacency): on
    seeded random corpora with tiny vocabularies (forcing fingerprint
    collisions and near-collisions), per-doc (n_neighbors, min_neighbor)
    must equal a brute-force O(n^2) recomputation from the SAME
    fingerprints."""
    import random

    import pyspark.sql.functions as F

    from jira_scraper_etl_spark.operators.dedup import (
        simhash_fingerprints, simhash_neighbor_stats)

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(6)]
        rows = [(i, " ".join(rng.choice(vocab)
                             for _ in range(rng.randint(1, 12))))
                for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)

        fps = {r.doc_id: r.simhash
               for r in simhash_fingerprints(df).collect()}
        want = {}
        for a, fa in fps.items():
            nbrs = [b for b, fb in fps.items()
                    if b != a and bin(fa ^ fb).count("1") <= 3]
            want[a] = (len(nbrs), min(nbrs) if nbrs else None)

        got = {r.doc_id: (r.n_neighbors, r.min_neighbor)
               for r in simhash_neighbor_stats(df).collect()}
        assert got == want, f"seed {seed}: {sorted(set(got.items()) ^ set(want.items()))[:4]}"


def test_minhash_ladder_recall_contract_across_rungs(spark, sf_dir):
    """Round-11 verdict #2: the corpus-derived (bands, rows) ladder
    (derive_minhash_br) must not cost recall at the design point as it
    widens. Pins three things: (a) the ladder is INERT at every
    oracle-checked SF (4x4 below 2^20 docs); (b) analytic design-point
    recall 1-(1-J^r)^b at J=0.8 is non-decreasing up the ladder; (c)
    functionally, EVERY exact-Jaccard >= 0.8 truth pair in the
    engineered corpus is found by every rung (deterministic for a
    fixed corpus + fixed Kirsch-Mitzenmacher family — measured 25/25
    at sf0.01 on all three rungs)."""
    import pyspark.sql.functions as F

    from jira_scraper_etl_spark.catalog import load_table
    from jira_scraper_etl_spark.operators import dedup as OD

    # (a) inert below 2^20; caps move the rung
    assert OD.derive_minhash_br(500) == (4, 4)
    assert OD.derive_minhash_br(1 << 20) == (4, 4)
    assert OD.derive_minhash_br((1 << 20) + 1) == (6, 5)
    assert OD.derive_minhash_br(1 << 23) == (6, 5)
    assert OD.derive_minhash_br((1 << 23) + 1) == (9, 6)

    # (b) recall monotone at the J=0.8 design point
    rungs = [br for _, *br in OD.MINHASH_LADDER] + [list(OD.MINHASH_TOP)]
    recalls = [1 - (1 - 0.8 ** r) ** b for b, r in rungs]
    assert recalls == sorted(recalls) and recalls[0] >= 0.87, recalls

    # (c) every J >= 0.8 truth pair found at every rung
    d = load_table(spark, sf_dir, "documents")
    docs = OD.shingled_docs(d)
    sa = docs.select(F.col("doc_id").alias("a"), F.col("sh").alias("sa"))
    sb = docs.select(F.col("doc_id").alias("b"), F.col("sh").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter.cast("double") / (F.size("sa") + F.size("sb") - inter)
    truth = {(r.a, r.b) for r in
             sa.crossJoin(sb).where(F.col("a") < F.col("b"))
             .where(jac >= 0.8).collect()}
    assert truth, "fixture corpus lost its engineered near-dups"
    for bands, rows in rungs:
        got = {(r.doc_a, r.doc_b) for r in
               OD.minhash_near_dup_pairs(d, bands=bands, rows=rows)
               .collect()}
        assert truth <= got, (bands, rows, sorted(truth - got)[:4])


def test_minhash_verdict_is_min_id_election_over_listed_pairs(spark, sf_dir):
    """dedup_minhash_verdict equals the min-id election replayed from
    the pair listing (the rp-verdict differential applied to the text
    family): dropped iff the listing reports a qualifying pair with a
    smaller id, canonical = MIN such peer, one row per document
    INCLUDING null-text docs (they never shingle, so they keep)."""
    import pyspark.sql.functions as F

    from jira_scraper_etl_spark import plans
    from jira_scraper_etl_spark.catalog import load_table

    pairs = plans.QUERIES["dedup_minhash_lsh"].fn(spark, sf_dir)
    min_peer: dict[int, int] = {}
    for r in pairs.collect():
        a, b = int(r.doc_a), int(r.doc_b)
        min_peer[b] = min(min_peer.get(b, a), a)

    got = plans.QUERIES["dedup_minhash_verdict"].fn(spark, sf_dir)
    rows = got.collect()
    n = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n
    for r in rows:
        d = int(r.doc_id)
        if d in min_peer:
            assert not r.keep and r.canonical_id == min_peer[d], r
        else:
            assert r.keep and r.canonical_id == d, r
    assert sum(not r.keep for r in rows) == len(min_peer)


def test_minhash_verify_hash_compaction_matches_string_jaccard(spark, sf_dir):
    """The verify stage ships xxhash64-compacted shingle keys instead
    of the shingle strings (round-13 optimization: ~3-4x narrower
    verify exchanges + hash-relation builds). Jaccard depends only on
    intersection/union SIZES over the per-doc-distinct shingle sets,
    so every emitted pair's value must be BIT-identical to the one
    computed from the original strings — a 64-bit collision between
    two distinct shingles of one compared union is the only way they
    could diverge (and would fail this differential loudly)."""
    from jira_scraper_etl_spark.catalog import load_table
    from jira_scraper_etl_spark.operators import dedup as OD

    d = load_table(spark, sf_dir, "documents")
    got = OD.minhash_near_dup_pairs(d).collect()
    assert got, "fixture corpus lost its engineered near-dups"
    sh = {r.doc_id: set(r.sh) for r in OD.shingled_docs(d).collect()}
    for r in got:
        a, b = sh[r.doc_a], sh[r.doc_b]
        expect = len(a & b) / len(a | b)  # same int64/int64 IEEE divide
        assert r.jaccard == expect, (r.doc_a, r.doc_b, r.jaccard, expect)
