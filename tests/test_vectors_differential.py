"""Differential fuzz of the quantized vector math vs numpy twins —
every embedding dedup/similarity operator rides on these primitives."""

from __future__ import annotations

import math
import random

import numpy as np
import pyspark.sql.functions as F

from jira_scraper_etl_spark.functions import vectors as V


def random_vectors(n: int, dim: int = 32, seed: int = 13):
    rng = random.Random(seed)
    out = []
    for i in range(n):
        # mix magnitudes, exact-representable values, and negatives
        v = [rng.choice([
            rng.uniform(-1, 1),
            rng.uniform(-100, 100),
            rng.randint(-5, 5) * 0.25,   # exactly representable
            0.0,
        ]) for _ in range(dim)]
        out.append((i, [float(x) for x in v]))
    return out


def test_quantized_math_matches_numpy(spark):
    vecs = random_vectors(300)
    df = spark.createDataFrame(vecs, "vid long, v array<float>")
    pairs = df.alias("a").join(df.alias("b"),
                               F.col("a.vid") + 1 == F.col("b.vid"))
    got = pairs.select(
        F.col("a.vid").alias("vid"),
        V.quantize(F.col("a.v")).alias("qa"),
        V.qdot(V.quantize(F.col("a.v")), V.quantize(F.col("b.v"))).alias("qd"),
        V.qnorm2(V.quantize(F.col("a.v"))).alias("qn"),
        V.qcosine(F.col("a.v"), F.col("b.v")).alias("qc"),
        V.cosine(F.col("a.v"), F.col("b.v")).alias("c"),
    ).collect()
    by_id = {i: np.array(v, dtype=np.float32) for i, v in vecs}
    assert len(got) == len(vecs) - 1
    for r in got:
        a64 = by_id[r.vid].astype(np.float64)
        b64 = by_id[r.vid + 1].astype(np.float64)
        qa = np.floor(a64 * 1000).astype(np.int64)
        qb = np.floor(b64 * 1000).astype(np.int64)
        assert list(r.qa) == qa.tolist(), r.vid
        assert r.qd == int(qa @ qb), r.vid
        assert r.qn == int(qa @ qa), r.vid
        want_qc = (qa @ qb) / (math.sqrt(qa @ qa) * math.sqrt(qb @ qb))
        assert r.qc == want_qc, r.vid  # exact: same double ops both sides
        want_c = float(a64 @ b64) / (np.linalg.norm(a64) * np.linalg.norm(b64))
        assert abs(r.c - want_c) < 1e-9, r.vid
    # quantized cosine tracks true cosine within the documented margin
    errs = []
    for r in got:
        a64 = by_id[r.vid].astype(np.float64)
        b64 = by_id[r.vid + 1].astype(np.float64)
        na, nb = np.linalg.norm(a64), np.linalg.norm(b64)
        if na > 1 and nb > 1:
            errs.append(abs(r.qc - (a64 @ b64) / (na * nb)))
    assert errs and max(errs) < 0.02


def test_pca_gram_exact_and_eigenpair_converged(spark, sf_dir):
    """(a) the distributed integer Gram equals numpy's exactly;
    (b) the power-iteration eigenpair satisfies ‖Gv − λv‖ ≤ 1e-8·λ;
    (c) per-row projections match a numpy recompute; (d) re-running is
    bit-identical (everything is integer arithmetic + a deterministic
    driver solve + a fixed-order fold)."""
    import numpy as np
    import pyspark.sql.functions as F

    from jira_scraper_etl_spark import plans
    from jira_scraper_etl_spark.functions import vectors as V
    from jira_scraper_etl_spark.plans.vector_ops import (gram_matrix,
                                                         power_iteration)

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.select("vec_id", V.quantize(F.col("embedding")).alias("q"))
    qm = np.stack([np.array(r.q, dtype=np.int64)
                   for r in q.orderBy("vec_id").collect()])
    want_g = qm.T @ qm
    got_rows = gram_matrix(q).collect()
    got_g = np.zeros_like(want_g)
    for r in got_rows:
        got_g[r.i, r.j] = r.s
    assert (got_g == want_g).all()

    lam, v = power_iteration([r.asDict() for r in got_rows], qm.shape[1])
    resid = np.linalg.norm(want_g @ v - lam * v)
    # measured residual on the shipped corpora is ~1e-12·λ; 1e-8 leaves
    # headroom for eigengap variation without letting a real
    # power-iteration regression (e.g. a dropped iteration → ~1e-7)
    # slip through
    assert resid <= 1e-8 * lam
    assert lam > 0 and abs(np.linalg.norm(v) - 1) < 1e-12

    out = {r.vec_id: r.pc1_score for r in
           plans.QUERIES["embedding_pca_project"].fn(spark, sf_dir).collect()}
    ids = [r.vec_id for r in q.orderBy("vec_id").collect()]
    want_scores = qm @ v
    for vid, ws in zip(ids, want_scores):
        assert abs(out[vid] - ws) <= 1e-9 * max(1.0, abs(ws)), vid

    again = {r.vec_id: r.pc1_score for r in
             plans.QUERIES["embedding_pca_project"].fn(spark, sf_dir).collect()}
    assert again == out


def test_kmeans_exact_matches_numpy_replay(spark, sf_dir):
    """Replay the integer Lloyd algorithm in numpy — same seeding,
    same truncating division — and require IDENTICAL assignments and
    distances (the whole point of the exact formulation: k-means with
    no cross-engine or cross-run drift at all)."""
    import numpy as np
    import pyspark.sql.functions as F

    from jira_scraper_etl_spark import plans
    from jira_scraper_etl_spark.functions import vectors as V
    from jira_scraper_etl_spark.plans.vector_ops import KM_ITERS, KM_K

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = (e.select("vec_id", V.quantize(F.col("embedding")).alias("q"))
            .orderBy("vec_id").collect())
    ids = np.array([r.vec_id for r in rows])
    qm = np.stack([np.array(r.q, dtype=np.int64) for r in rows])
    cents = qm[np.argsort(ids)[:KM_K]].copy()

    def assign(c):
        d = ((qm[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        cl = d.argmin(axis=1)  # argmin ties -> lowest index, matching
        return cl, d[np.arange(len(qm)), cl]

    for _ in range(KM_ITERS):
        cl, _ = assign(cents)
        for cid in range(KM_K):
            m = cl == cid
            if m.any():
                s = qm[m].sum(axis=0)
                n = int(m.sum())
                cents[cid] = np.sign(s) * (np.abs(s) // n)
    cl, d2 = assign(cents)
    want = {int(i): (int(c), int(d)) for i, c, d in zip(ids, cl, d2)}
    got = {r.vec_id: (r.cluster, r.d2) for r in
           plans.QUERIES["embedding_kmeans_exact"].fn(spark, sf_dir).collect()}
    assert got == want
    assert len({c for c, _ in got.values()}) > 1  # really clusters


def km_assign(q_df, cents: list):
    """The expression spec of ``vector_ops._km_assign_arrow``: the
    argmin over (d2, cid) structs, so ties go to the lowest cluster id,
    with the model as one constant-folded literal in one ``F.expr``."""
    from jira_scraper_etl_spark.plans.vector_ops import _cents_sql_literal

    arr = _cents_sql_literal(cents)
    best = F.expr(
        f"array_min(zip_with("
        f"transform({arr}, c -> aggregate(zip_with(q, c, "
        f"(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)), "
        f"sequence(0, {len(cents) - 1}), "
        f"(d, i) -> named_struct('d2', d, 'cid', cast(i as int))))")
    return (q_df.withColumn("b", best)
            .withColumn("cluster", F.col("b.cid"))
            .withColumn("d2", F.col("b.d2")).drop("b"))


def test_kmeans_arrow_assignment_equals_expression_spec(spark, sf_dir):
    """The Arrow-matmul assignment (the operator's hot path since the
    sf10 53 s HOF wall) must be BIT-IDENTICAL to the interpreted
    expression spec km_assign on every (vec_id, cluster, d2) — same
    contract as the rp_band_key_table differential."""
    from jira_scraper_etl_spark.plans.vector_ops import (KM_K,
                                                         _km_assign_arrow)

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.select("vec_id", V.quantize(F.col("embedding")).alias("q"))
    cents = [list(r.q) for r in
             q.where(F.col("vec_id") < KM_K).orderBy("vec_id").collect()]
    # a deliberately tie-prone second model: all-zero centroids make
    # every distance equal per row — argmin must break to cluster 0
    zero = [[0] * len(cents[0]) for _ in range(KM_K)]
    for model in (cents, zero):
        spec = {r.vec_id: (r.cluster, r.d2)
                for r in km_assign(q, model).collect()}
        arrow = {r.vec_id: (r.cluster, r.d2)
                 for r in _km_assign_arrow(q, model).collect()}
        assert spec == arrow and spec


def test_pq_trunc_div_matches_duckdb_integer_division():
    """The PQ centroid update divides possibly-negative integer sums;
    _trunc_div must truncate toward zero exactly like DuckDB's // on
    BIGINT (floor division would differ on negatives)."""
    import duckdb

    from jira_scraper_etl_spark.plans.vector_ops import _trunc_div

    cases = [(7, 2), (-7, 2), (1, 3), (-1, 3), (0, 5), (-100, 7), (99, 10)]
    for s, n in cases:
        want = duckdb.sql(
            f"SELECT CAST({s} AS BIGINT) // CAST({n} AS BIGINT)").fetchone()[0]
        assert _trunc_div(s, n) == want, (s, n)


def test_pq_codebook_literal_shape_and_values():
    """The M×K×SUBDIM literal must nest exactly three array() levels
    with L-suffixed longs — the form constant folding collapses to one
    complex Literal."""
    from jira_scraper_etl_spark.plans.vector_ops import (
        PQ_K, PQ_M, PQ_SUBDIM, _pq_codebook_literal)

    cbs = [[[m * 1000 + j * 10 + k for k in range(PQ_SUBDIM)]
            for j in range(PQ_K)] for m in range(PQ_M)]
    lit = _pq_codebook_literal(cbs)
    assert lit.count("array(") == 1 + PQ_M + PQ_M * PQ_K
    assert f"{7 * 1000 + 15 * 10 + 7}L" in lit  # last element present


def test_pq_subspace_distance_kernel_ties_to_lowest_code():
    """The einsum kernel's argmin must implement first-minimum (ties to
    the lowest code id), matching the oracle's ROW_NUMBER ORDER BY
    (d2, code) — verified on a codebook with duplicate codewords."""
    import numpy as np

    from jira_scraper_etl_spark.plans.vector_ops import (
        PQ_K, PQ_M, PQ_SUBDIM, _pq_subspace_distances)

    # every subspace: codewords 3 and 7 are identical -> any vector
    # equidistant to both must take code 3
    rng = np.random.default_rng(7)
    cbs = rng.integers(-5, 5, size=(PQ_M, PQ_K, PQ_SUBDIM)).tolist()
    for m in range(PQ_M):
        cbs[m][7] = list(cbs[m][3])
    codes_of = _pq_subspace_distances(cbs)
    Q = np.array(cbs)[:, 3, :].reshape(1, PQ_M * PQ_SUBDIM)  # exact hits
    _, codes = codes_of(Q.astype(np.int64))
    assert (codes == 3).all()


# ---------------------------------------------------------------------------
# SemDeDup: independent numpy replay of the whole pipeline
# ---------------------------------------------------------------------------

def _semdedup_replay(vecs_by_id: dict[int, np.ndarray], tau: float):
    """Pure-numpy replay of dedup_semantic_semdedup: derived-k integer
    Lloyd (seed = first k vec_ids, argmin ties to the lowest cluster,
    truncating centroid division, empty clusters carry over), then the
    (d2, vec_id)-dominance cosine prune."""
    from jira_scraper_etl_spark.plans.vector_ops import (
        KM_ITERS, derive_semdedup_k)

    ids = sorted(vecs_by_id)
    Q = np.stack([vecs_by_id[i] for i in ids]).astype(np.int64)
    k = derive_semdedup_k(len(ids))
    cents = Q[[ids.index(i) for i in range(k)]].copy()

    def assign(C):
        d = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        cid = d.argmin(axis=1)
        return cid, d[np.arange(len(Q)), cid]

    for _ in range(KM_ITERS):
        cid, _ = assign(cents)
        for c in range(k):
            m = cid == c
            if m.any():
                s, n = Q[m].sum(axis=0), int(m.sum())
                cents[c] = np.where(s >= 0, np.abs(s) // n,
                                    -(np.abs(s) // n))
    cid, d2 = assign(cents)
    norms = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
    pruned = {}
    for i, vid in enumerate(ids):
        flag = False
        for j, wid in enumerate(ids):
            if cid[j] != cid[i] or (d2[j], wid) <= (d2[i], vid):
                continue
            cos = float(Q[i] @ Q[j]) / (norms[i] * norms[j])
            if cos >= tau:
                flag = True
                break
        pruned[vid] = (int(cid[i]), int(d2[i]), flag)
    return pruned


def test_semdedup_matches_numpy_replay(spark, sf_dir):
    """The registered operator equals a from-scratch numpy replay of
    the paper pipeline on the sf0.001 corpus — every cluster id, every
    exact d2, every prune verdict."""
    from jira_scraper_etl_spark import plans
    from jira_scraper_etl_spark.plans.vector_ops import SEMDEDUP_TAU

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    vecs = {r.vec_id: np.floor(
        np.array(r.embedding, dtype=np.float32).astype(np.float64) * 1000
    ).astype(np.int64) for r in emb}
    want = _semdedup_replay(vecs, SEMDEDUP_TAU)

    got = plans.QUERIES["dedup_semantic_semdedup"].fn(spark, sf_dir).collect()
    assert len(got) == len(want)
    assert any(r.pruned for r in got), "fixture has planted near-dups"
    for r in got:
        assert (r.cluster, r.d2, r.pruned) == want[r.vec_id], r.vec_id


def test_semdedup_k_ladder_matches_sql():
    """The Python bit_length derivation and the SQL CASE ladder agree
    at every power-of-4 boundary (+/-1) and assorted sizes."""
    import duckdb

    from jira_scraper_etl_spark.plans.vector_ops import (
        SEMDEDUP_KCAP, _sql_semdedup_k, derive_semdedup_k)

    sql = _sql_semdedup_k().replace("COUNT(*)", "n")
    con = duckdb.connect()
    ns = [1, 2, 3, 4, 5, 15, 16, 17, 500, 5000, 20000]
    ns += [4 ** j + d for j in range(1, SEMDEDUP_KCAP + 2) for d in (-1, 0, 1)]
    for n in ns:
        if n < 1:
            continue
        got = con.execute(f"SELECT {sql} FROM (SELECT {n}::BIGINT AS n)").fetchone()[0]
        assert got == derive_semdedup_k(n), n


def test_pca_power_matches_numpy_replay_and_rayleigh_bound(spark, sf_dir):
    """embedding_pca_power (the oracle-backed integer twin of the PCA
    entry, round-11 verdict #5) must equal a pure-numpy replay of its
    spec EXACTLY (every projection is int64 arithmetic), and its final
    integer direction must capture >= 0.9 of the top eigenvalue by
    Rayleigh quotient (measured 0.92 at sf0.001 / 0.97 at sf0.01 —
    12 truncated rounds on a near-flat spectrum do not converge in
    ANGLE, which is why the pin is the quotient, not cosine) while
    never exceeding it."""
    import numpy as np

    from jira_scraper_etl_spark import plans
    from jira_scraper_etl_spark.plans.vector_ops import (_pca_power_ints,
                                                         power_iteration)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    Q = np.array([[int(np.floor(float(x) * 1000)) for x in r.embedding]
                  for r in emb], dtype=np.int64)
    ids = [r.vec_id for r in emb]
    G = Q.T @ Q
    v = np.array(_pca_power_ints(G, Q.shape[1]), dtype=np.int64)
    want = dict(zip(ids, Q @ v))

    got = plans.QUERIES["embedding_pca_power"].fn(spark, sf_dir).collect()
    assert len(got) == len(want)
    assert all(int(r.pc1_proj) == int(want[r.vec_id]) for r in got)

    gd = G.astype(np.float64)
    lam, _ = power_iteration(
        [{"i": i, "j": j, "s": int(G[i, j])}
         for i in range(G.shape[0]) for j in range(G.shape[1])],
        G.shape[0])
    vf = v.astype(np.float64)
    rq = (vf @ gd @ vf) / (vf @ vf)
    assert 0.9 * lam <= rq <= lam * (1 + 1e-9), (rq, lam)
