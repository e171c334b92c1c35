"""Vector-compression operators: corpus-calibrated scalar quantization.

At 100 TB an `array<float>` embedding column is the storage and shuffle
bottleneck of every ANN/dedup stage (64 floats = 256 bytes/row; int8
codes are 64 bytes, and the calibration stats let any later stage
dequantize). Production vector stores (FAISS `SQ8`, ScaNN's scalar
quantizer) all run this exact two-pass shape:

1. **Stats pass** — per-dimension min/max over the corpus. Expressed as
   posexplode → groupBy(dim): the partial aggregation collapses every
   map partition to ≤ dim rows, so the shuffle carries O(partitions ×
   dim) regardless of corpus size.
2. **Encode pass** — map-only: broadcast the single stats row and
   quantize each component to ``floor((x - mn) / (mx - mn) * 255)``.
   No shuffle; stays in whole-stage codegen.

Cross-engine determinism: every arithmetic step is a correctly-rounded
IEEE-754 double op applied in the same order on both engines (the
float32 → double widening is exact), so codes are bit-identical —
the same argument as functions/vectors.quantize (SQL_QUANT).

The reference has no vector surface at all; this extends the
north-star LLM-pipeline mandate (SURVEY.md §7) alongside
plans/llm_ops.py's ANN/dedup family, which consumes these codes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_table
from ..operators.fanout import fan_out
from ..seams import persist_seam
from .registry import register

# Shared oracle CTE: per-dimension calibration + int8 codes. Kept as a
# module constant so every SQ8 consumer's oracle uses the identical
# encode (the same reuse discipline as llm_ops.SQL_TOKS).
SQL_SQ8_ENC = """
    dims AS (
        SELECT u.i AS i,
               MIN(CAST(e.embedding[u.i] AS DOUBLE)) AS mn,
               MAX(CAST(e.embedding[u.i] AS DOUBLE)) AS mx
        FROM embeddings e, unnest(generate_series(1, len(e.embedding))) AS u(i)
        GROUP BY u.i
    ),
    s AS (SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs
          FROM dims),
    enc AS (
        SELECT vec_id,
               list_transform(generate_series(1, len(embedding)), i ->
                 CAST(CASE WHEN s.maxs[i] = s.mins[i] THEN 0
                      ELSE FLOOR((CAST(embedding[i] AS DOUBLE) - s.mins[i])
                                 / (s.maxs[i] - s.mins[i]) * 255)
                 END AS INTEGER)) AS codes
        FROM embeddings, s
    )
"""


def encoded_vectors(spark: SparkSession, sf_dir: str,
                    with_cal: bool = False) -> DataFrame:
    """(vec_id, codes array<int>) — the Spark twin of SQL_SQ8_ENC.
    ``with_cal=True`` keeps the broadcast mins/maxs columns so a
    consumer can dequantize.

    Stats pass: posexplode → groupBy(dim) partial-combines each map
    partition down to ≤ dim rows before the shuffle. The one-row
    calibration result is broadcast; the encode is map-only."""
    e = load_table(spark, sf_dir, "embeddings")
    stats = (
        e.select(F.posexplode("embedding").alias("i", "x"))
        .groupBy("i")
        .agg(F.min(F.col("x").cast("double")).alias("mn"),
             F.max(F.col("x").cast("double")).alias("mx"))
    )
    cal = stats.groupBy().agg(
        F.transform(F.array_sort(F.collect_list(F.struct("i", "mn"))),
                    lambda s: s["mn"]).alias("mins"),
        F.transform(F.array_sort(F.collect_list(F.struct("i", "mx"))),
                    lambda s: s["mx"]).alias("maxs"),
    )
    # F.get is 0-based, matching transform's 0-based index lambda.
    mn = lambda i: F.get("mins", i)  # noqa: E731
    mx = lambda i: F.get("maxs", i)  # noqa: E731
    codes = F.transform(
        "embedding",
        lambda x, i: F.when(mx(i) == mn(i), F.lit(0)).otherwise(
            F.floor((x.cast("double") - mn(i)) / (mx(i) - mn(i)) * 255)
        ).cast("int"),
    )
    out = e.crossJoin(cal)
    if with_cal:
        return out.select("vec_id", codes.alias("codes"), "mins", "maxs")
    return out.select("vec_id", codes.alias("codes"))


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH dims AS (
        SELECT u.i AS i,
               MIN(CAST(e.embedding[u.i] AS DOUBLE)) AS mn,
               MAX(CAST(e.embedding[u.i] AS DOUBLE)) AS mx
        FROM embeddings e, unnest(generate_series(1, len(e.embedding))) AS u(i)
        GROUP BY u.i
    ),
    s AS (SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs
          FROM dims),
    enc AS (
        SELECT vec_id,
               list_transform(generate_series(1, len(embedding)), i ->
                 CAST(CASE WHEN s.maxs[i] = s.mins[i] THEN 0
                      ELSE FLOOR((CAST(embedding[i] AS DOUBLE) - s.mins[i])
                                 / (s.maxs[i] - s.mins[i]) * 255)
                 END AS INTEGER)) AS codes
        FROM embeddings, s
    )
    SELECT vec_id, array_to_string(codes, ',') AS codes_csv,
           CAST(list_sum(codes) AS BIGINT) AS code_sum,
           CAST(len(codes) AS INTEGER) AS n_dims
    FROM enc
    """,
    tags=("embedding", "compression"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-calibrated int8 scalar quantization of the embedding
    column (FAISS-SQ8 shape): per-dimension min/max calibration, then a
    map-only encode to ``floor((x-mn)/(mx-mn)*255)`` ∈ [0, 255].

    Scale shape: the stats aggregate shuffles ≤ dim rows per map
    partition (map-side combine over 64 keys); the one-row calibration
    result broadcasts; the encode is shuffle-free. 4× smaller vectors
    for every downstream ANN/dedup shuffle.

    Output contract: the codes are emitted as a comma-joined string
    (``codes_csv``), not a bare ``array<int>`` — external harnesses
    canonicalize by sorting every output column in pandas, and a raw
    numpy array column is unhashable/unsortable there. Internal
    consumers (similarity_topk_sq8) use :func:`encoded_vectors`, which
    keeps the typed array.
    """
    return encoded_vectors(spark, sf_dir).select(
        "vec_id",
        F.array_join("codes", ",").alias("codes_csv"),
        F.aggregate("codes", F.lit(0).cast("long"),
                    lambda acc, v: acc + v).alias("code_sum"),
        F.size("codes").alias("n_dims"),
    )


# Dequantize-then-fixed-point: x̂ᵢ = mnᵢ + cᵢ·(mxᵢ−mnᵢ)/255, stored as
# floor(x̂ᵢ·1000) — the SQL_QUANT fixed-point pattern, so dot products
# are exact integers and bit-identical cross-engine. (Scoring raw
# [0,255] codes would be wrong: the per-dimension affine SHIFT of the
# encode is not cosine-preserving — measured recall@10 drops to ~0.66.)
SQL_SQ8_DQ = """
    dq AS (
        SELECT e2.vec_id,
               list_transform(generate_series(1, len(e2.codes)), i ->
                 CAST(FLOOR((s.mins[i] + e2.codes[i] * (s.maxs[i] - s.mins[i])
                             / 255) * 1000) AS BIGINT)) AS q
        FROM enc e2, s
    )
"""

SQL_DQDOT_AB = ("list_sum(list_transform(generate_series(1, len(a.q)), "
                "i -> a.q[i] * b.q[i]))")


@register(
    "similarity_topk_sq8",
    oracle=f"""
    WITH {SQL_SQ8_ENC},
    {SQL_SQ8_DQ},
    n AS (SELECT vec_id, q, list_sum(list_transform(q, x -> x * x)) AS n2
          FROM dq),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST({SQL_DQDOT_AB} AS DOUBLE)
                 / (SQRT(CAST(a.n2 AS DOUBLE)) * SQRT(CAST(b.n2 AS DOUBLE)))
                 AS code_cos
        FROM n a JOIN n b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < 5 AND a.n2 > 0 AND b.n2 > 0
    )
    SELECT query_id, neighbor_id, code_cos, CAST(rk AS INTEGER) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY code_cos DESC, neighbor_id) AS rk
          FROM scored)
    WHERE rk <= 10
    """,
    tags=("similarity", "compression"),
)
def similarity_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 neighbor search over the int8-compressed corpus —
    FAISS-SQ8's query path: only the 4×-smaller codes (plus the one
    broadcast calibration row) are scanned/moved; scoring dequantizes
    on the fly (x̂ = mn + c·(mx−mn)/255) and ranks by cosine of the
    reconstructions in exact fixed-point arithmetic.

    Same plan shape as similarity_topk_bruteforce (broadcast query set,
    map-only integer dot products, per-query top-k window) — the codes
    make every byte scanned and broadcast 4× cheaper, which at 100 TB
    is the difference between a memory-resident scan and a spilling
    one. tests/test_queries.py pins recall@10 against the exact float
    ranking.
    """
    dq = F.transform(
        "codes",
        lambda c, i: F.floor(
            (F.get("mins", i)
             + c.cast("double") * (F.get("maxs", i) - F.get("mins", i)) / 255)
            * 1000
        ).cast("long"),
    )
    base = (encoded_vectors(spark, sf_dir, with_cal=True)
            .select("vec_id", dq.alias("q"))
            .withColumn("n2",
                        F.aggregate("q", F.lit(0).cast("long"),
                                    lambda acc, v: acc + v * v))
            .where(F.col("n2") > 0))
    queries = (base.where(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("q").alias("qq"), F.col("n2").alias("qn2")))
    cdot = F.aggregate(
        F.zip_with("qq", "q", lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    code_cos = (cdot.cast("double")
                / (F.sqrt(F.col("qn2").cast("double"))
                   * F.sqrt(F.col("n2").cast("double"))))
    scored = (base.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      code_cos.alias("code_cos")))
    w = Window.partitionBy("query_id").orderBy(F.desc("code_cos"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 10)
            .select("query_id", "neighbor_id", "code_cos", "rk"))


# ---------------------------------------------------------------------------
# PCA via power iteration (distributed exact Gram, driver eigensolve)
# ---------------------------------------------------------------------------

def gram_matrix(q: DataFrame, col: str = "q") -> DataFrame:
    """Exact integer Gram matrix ΣqqT of a quantized vector column as
    (i, j, s) rows: each partition accumulates its 64×64 partial in
    numpy int64 (Arrow-batched — the BLAS-shaped inner loop the
    per-element explode form pays ~dim× more shuffle rows for),
    partials merge by integer addition — the mergeable-summary shape,
    and exact because inputs are fixed-point integers (no float
    accumulation order to drift)."""
    import pandas as pd

    def partial(batches):
        import numpy as np

        acc = None
        for pdf in batches:
            m = np.stack(pdf[col].to_numpy()).astype(np.int64)
            g = m.T @ m
            acc = g if acc is None else acc + g
        if acc is None:
            return
        d = acc.shape[0]
        ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
        yield pd.DataFrame({"i": ii.ravel().astype("int32"),
                            "j": jj.ravel().astype("int32"),
                            "s": acc.ravel()})

    return (q.mapInPandas(partial, schema="i int, j int, s long")
            .groupBy("i", "j").agg(F.sum("s").cast("long").alias("s")))


def power_iteration(g_rows: list, dim: int, iters: int = 800):
    """Driver-side power iteration on the (tiny) dim×dim Gram matrix:
    top eigenvalue/eigenvector. Deterministic: fixed all-ones start,
    FIXED iteration count (no data-dependent early exit), one thread.
    800 iterations covers an eigengap as tight as λ2/λ1 ≈ 0.96 to
    well under the enforced 1e-8 relative-residual test bound
    (random-ish embedding corpora measure ≈ 0.93 and land near 1e-12;
    the test asserts the residual, so a tighter spectrum fails loudly
    instead of silently returning a mixed vector)."""
    import numpy as np

    G = np.zeros((dim, dim), dtype=np.float64)
    for r in g_rows:
        G[r["i"], r["j"]] = float(r["s"])
    v = np.ones(dim) / np.sqrt(dim)
    for _ in range(iters):
        w = G @ v
        v = w / np.linalg.norm(w)
    lam = float(v @ G @ v)
    # deterministic sign convention: first nonzero component positive
    nz = np.flatnonzero(np.abs(v) > 1e-12)
    if len(nz) and v[nz[0]] < 0:
        v = -v
    return lam, v


# hoisted above the k-means section because the PCA oracle below is
# rendered at import time: shared 64-dim embedding geometry + the
# Lloyd-loop constants
KM_K, KM_ITERS, KM_DIM = 8, 4, 64

PCA_POW_ITERS = 12   # unrolled in the oracle — keep small and fixed
PCA_POW_SCALE = 1000  # per-iteration renormalization target magnitude


def _pca_power_ints(G, dim: int) -> list[int]:
    """The ALL-INTEGER reduced-iteration power loop shared (in spec) by
    embedding_pca_power and its DuckDB oracle: v0 = ones; per
    iteration w = G·v exactly in int64, then renormalize by TRUNCATING
    division with scale = max(max|w|//1000, 1) so components stay in
    ~[-1000, 1000] (overflow headroom: |G| ≤ n·10⁶ keeps w ≤
    64·|G|·10³ < 2⁶³ past sf100). Truncation toward zero matches
    DuckDB's integer ``//``; Python's floors, hence the explicit
    trunc."""
    import numpy as np

    v = np.ones(dim, dtype=np.int64)
    for _ in range(PCA_POW_ITERS):
        w = G @ v
        s = max(int(np.max(np.abs(w))) // PCA_POW_SCALE, 1)
        v = np.sign(w) * (np.abs(w) // s)  # trunc toward zero
    return [int(x) for x in v]


def _pca_power_oracle() -> str:
    """Unrolled integer power iteration over the exact Gram matrix —
    the _km_oracle/_semdedup_oracle precedent applied to PCA (round-11
    verdict #5): ``g`` holds the 64×64 integer Gram (MATERIALIZED — it
    is referenced by every iteration's matvec and DuckDB would
    otherwise re-inline the corpus aggregation 12×), each iteration is
    a 64-row matvec + truncating renormalization, and the final
    integer component projects every vector. Digit-for-digit
    _pca_power_ints."""
    from .llm_ops import SQL_QUANT

    its = ",".join(f"""
    w{i} AS MATERIALIZED (
        SELECT g.i AS k, CAST(SUM(g.s * v.x) AS BIGINT) AS w
        FROM g JOIN v{i - 1} v ON g.j = v.k GROUP BY g.i),
    v{i} AS (
        SELECT k, CAST(w // sc AS BIGINT) AS x
        FROM w{i}, (SELECT GREATEST(MAX(ABS(w)) // {PCA_POW_SCALE}, 1)
                    AS sc FROM w{i}))
    """ for i in range(1, PCA_POW_ITERS + 1))
    return f"""
    WITH vecs AS (SELECT vec_id, {SQL_QUANT} AS q FROM embeddings),
    g AS MATERIALIZED (
        SELECT gi.i AS i, gj.j AS j,
               CAST(SUM(v.q[gi.i] * v.q[gj.j]) AS BIGINT) AS s
        FROM vecs v, generate_series(1, {KM_DIM}) gi(i),
             generate_series(1, {KM_DIM}) gj(j)
        GROUP BY gi.i, gj.j
    ),
    v0 AS (SELECT k, CAST(1 AS BIGINT) AS x
           FROM generate_series(1, {KM_DIM}) t(k)),
    {its},
    f AS (SELECT list(x ORDER BY k) AS vf FROM v{PCA_POW_ITERS})
    SELECT v.vec_id,
           CAST(list_sum(list_transform(generate_series(1, {KM_DIM}),
                k -> v.q[k] * f.vf[k])) AS BIGINT) AS pc1_proj
    FROM vecs v, f
    """


@register(
    "embedding_pca_power",
    oracle=_pca_power_oracle(),
    tags=("vectors", "ml", "iterative"),
)
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-backed INTEGER twin of embedding_pca_project (round-11
    verdict #5 — previously PCA was the only rows-only entry that was
    not inherently oracle-inexpressible): the same distributed
    one-pass exact integer Gram (gram_matrix), then a FIXED 12-round
    all-integer power iteration with truncating renormalization on the
    driver (_pca_power_ints — 32 KiB of model state, the
    dedup_cluster_canonical contracted-state split), then a map-only
    integer projection of every vector against the broadcast
    component. Every value is exact integer arithmetic, so the DuckDB
    oracle replays the whole pipeline digit-for-digit — the
    _km_oracle precedent applied to linear algebra.

    The float entry (embedding_pca_project, 800 iterations, residual
    ≤ 1e-8·λ) remains the production eigensolve; this entry pins the
    cross-engine spec. 12 truncated-integer rounds track the true
    component only as far as the spectrum allows — the pytest pins the
    Rayleigh-quotient relationship against the numpy eigensolve rather
    than claiming convergence."""
    import numpy as np

    from ..functions import vectors as V

    e = load_table(spark, sf_dir, "embeddings")
    # fan out + seam (the _km_train shape): the pruned scan is 1-2
    # splits, so the Gram partials and the projection would each run
    # single-task AND re-evaluate the quantize pipeline; the seam
    # fills under the gram collect (materialize=False, no extra job)
    q = persist_seam(
        fan_out(e.select("vec_id",
                         V.quantize(F.col("embedding")).alias("q"))),
        materialize=False)
    dim = len(e.select("embedding").head()[0])
    G = np.zeros((dim, dim), dtype=np.int64)
    for r in gram_matrix(q).collect():
        G[r.i, r.j] = r.s
    v = _pca_power_ints(G, dim)
    vlit = F.array(*[F.lit(x).cast("long") for x in v])
    proj = F.aggregate(
        F.zip_with("q", vlit, lambda a, b: a * b),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    return q.select("vec_id", proj.alias("pc1_proj"))


@register(
    "embedding_pca_project",
    oracle=None,  # rows-only: the eigensolve has no DuckDB twin; the
                  # test pins the eigenpair residual + numpy recompute
                  # (embedding_pca_power is the oracle-backed integer
                  # twin of this pipeline)
    tags=("vectors", "ml", "iterative"),
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-principal-component projection of the embedding corpus —
    PCA as a distributed iterative-linear-algebra pipeline: (1) ONE
    pass builds the exact 64×64 integer Gram matrix of the fixed-point
    embeddings (numpy partial per partition, integer merge — the only
    corpus-sized stage); (2) power iteration runs on the driver over
    the 64×64 (800 fixed iterations on 32 KiB of state — the classic split:
    data-sized work distributed, model-sized work local, same shape as
    dedup_cluster_canonical's contracted union-find); (3) a map-only
    projection scores every vector against the broadcast component.
    Uncentered PCA (top right-singular vector), the variant retrieval
    systems use for whitening/rotation calibration.

    Rows-only: an eigensolve has no DuckDB twin. The test pins (a) the
    distributed Gram == numpy's exactly (integer arithmetic), (b) the
    eigenpair residual ‖Gv − λv‖ ≤ 1e-8·λ (the enforced test
    bound; measured corpora land near 1e-12), (c) per-row scores vs a
    full numpy recompute, (d) bit-identical re-runs."""
    from ..functions import vectors as V

    e = load_table(spark, sf_dir, "embeddings")
    # fan out + seam — same rationale as embedding_pca_power above
    q = persist_seam(
        fan_out(e.select("vec_id",
                         V.quantize(F.col("embedding")).alias("q"))),
        materialize=False)
    dim = len(e.select("embedding").head()[0])
    g_rows = [r.asDict() for r in gram_matrix(q).collect()]
    lam, v = power_iteration(g_rows, dim)
    vlit = F.array(*[F.lit(float(x)) for x in v])
    score = F.aggregate(
        F.zip_with("q", vlit, lambda a, b: a.cast("double") * b),
        F.lit(0.0), lambda acc, x: acc + x)
    return q.select(
        "vec_id", score.alias("pc1_score"),
        F.lit(lam).alias("eigenvalue"))


# ---------------------------------------------------------------------------
# Exact integer k-means (deterministic Lloyd iterations, oracle-checked)
# ---------------------------------------------------------------------------


def _km_iteration_sql(it: int) -> str:
    """One Lloyd iteration as CTEs: assignment under c{it-1} (argmin of
    exact integer squared distances, ties to the lowest cluster id),
    per-cluster per-dimension integer sums, centroids by TRUNCATING
    integer division (DuckDB's ``//`` truncates toward zero for
    integers, matching the Spark driver's trunc-div — floor division
    would disagree on negative sums). Empty clusters keep their
    previous centroid."""
    return f"""
    d{it} AS (
        SELECT v.vec_id, v.q, c.cluster,
               list_sum(list_transform(generate_series(1, {KM_DIM}),
                    k -> (v.q[k] - c.c[k]) * (v.q[k] - c.c[k]))) AS d2
        FROM vecs v CROSS JOIN c{it - 1} c
    ),
    a{it} AS (
        SELECT vec_id, q, cluster, d2
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY d2, cluster) AS rk
              FROM d{it})
        WHERE rk = 1
    ),
    s{it} AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n
              FROM a{it} GROUP BY cluster),
    m{it} AS (
        SELECT cluster, g.k AS k, CAST(SUM(q[g.k]) AS BIGINT) AS s
        FROM a{it}, LATERAL unnest(generate_series(1, {KM_DIM})) AS g(k)
        GROUP BY cluster, g.k
    ),
    c{it} AS (
        SELECT m.cluster, list(m.s // s{it}.n ORDER BY m.k) AS c
        FROM m{it} m JOIN s{it} ON m.cluster = s{it}.cluster
        GROUP BY m.cluster
        UNION ALL
        SELECT cluster, c FROM c{it - 1}
        WHERE cluster NOT IN (SELECT cluster FROM s{it})
    )"""


def _km_oracle() -> str:
    from .llm_ops import SQL_QUANT

    its = ",".join(_km_iteration_sql(i) for i in range(1, KM_ITERS + 1))
    fin = KM_ITERS + 1
    return f"""
    WITH vecs AS (SELECT vec_id, {SQL_QUANT} AS q FROM embeddings),
    c0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster, q AS c
           FROM vecs WHERE vec_id < {KM_K}),
    {its},
    d{fin} AS (
        SELECT v.vec_id, c.cluster,
               list_sum(list_transform(generate_series(1, {KM_DIM}),
                    k -> (v.q[k] - c.c[k]) * (v.q[k] - c.c[k]))) AS d2
        FROM vecs v CROSS JOIN c{KM_ITERS} c
    )
    SELECT vec_id, CAST(cluster AS INTEGER) AS cluster,
           CAST(d2 AS BIGINT) AS d2
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY d2, cluster) AS rk
          FROM d{fin})
    WHERE rk = 1
    """


def _cents_sql_literal(cents: list) -> str:
    """The k×dim centroid model as one SQL array-of-arrays literal —
    constant folding collapses it to a single complex-typed Literal
    (see _km_assign's codegen-cache note)."""
    return "array(" + ",".join(
        "array(" + ",".join(f"{int(x)}L" for x in c) + ")"
        for c in cents) + ")"


def _km_assign(q_df: DataFrame, cents: list) -> DataFrame:
    """Assignment under a k×dim centroid model, shaped for plan reuse
    AND cheap plan construction:

    - The model enters as one SQL array-of-arrays literal inside a
      single ``F.expr`` string. Constant folding collapses it to ONE
      complex-typed Literal that codegen stores in its references
      array — NOT k×dim inlined source constants — so every Lloyd
      iteration generates the IDENTICAL codegen source (only the
      referenced ArrayData changes) and Spark's codegen cache compiles
      once for all iterations. The original per-cluster unrolling
      inlined 512 fresh literals per iteration, forcing a multi-second
      recompile per iteration at ANY data size.
    - One ``F.expr`` string is ONE py4j round-trip parsed JVM-side;
      building the same tree with F.transform/F.aggregate Python
      lambdas plus ``F.lit(nested_list)`` costs ~0.4s of per-element
      py4j conversion PER ITERATION (measured), pure driver overhead.

    The argmin is array_min over (d2, cid) structs = ties to the
    lowest cluster id.

    This expression path is the ORACLE-PARITY SPEC and the
    differential twin; the registered operator assigns via
    _km_assign_arrow (one numpy int64 matmul per Arrow batch) because
    higher-order functions evaluate INTERPRETED in Spark — k×dim
    lambda evaluations per row made assignment the whole cost of the
    operator at the sf10 decade (53 s, ~1.5G interpreted expression
    evals across 5 passes; the rp_band_key_table lesson again)."""
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


def _km_assign_arrow(q_df: DataFrame, cents: list) -> DataFrame:
    """Assignment as ONE numpy int64 matmul per Arrow batch —
    bit-identical to the _km_assign expression spec (all-integer:
    d2 = ||q||² − 2·q·Cᵀ + ||c||² in int64, argmin's first-minimum
    rule = ties to the lowest cluster id, exactly array_min's struct
    order), differential-tested against it.

    Why: Spark evaluates higher-order functions interpreted, so the
    expression assignment costs k×dim lambda evaluations per row —
    measured as ~all of the operator's 53 s at the sf10 decade
    (200k vectors × 8×64 × 5 passes). The BLAS-shaped product is the
    documented let-numpy-do-the-matmul exception (rp_band_key_table
    precedent); q rides through the batch so the centroid-update
    aggregation keeps its map-side-combined JVM path."""
    import numpy as np

    C = np.array(cents, dtype=np.int64)
    c2 = (C * C).sum(axis=1)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            d = (Q * Q).sum(axis=1, keepdims=True) - 2 * (Q @ C.T) + c2
            cid = d.argmin(axis=1)  # first min = lowest cluster id
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "q": pdf["q"].to_numpy(),
                "cluster": cid.astype("int32"),
                "d2": d[np.arange(len(Q)), cid]})

    return q_df.select("vec_id", "q").mapInPandas(
        gen, "vec_id bigint, q array<bigint>, cluster int, d2 bigint")


@register("embedding_kmeans_exact", oracle=_km_oracle(),
          tags=("vectors", "ml", "iterative"))
def embedding_kmeans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT k-means (k=8, 4 Lloyd iterations) over the fixed-point
    embeddings — iterative distributed ML with a full DuckDB oracle,
    which no float k-means can offer (centroid means and distance
    comparisons would drift in the last ulp): distances are exact
    integer Σ(q−c)², the argmin tie-breaks to the lowest cluster id,
    and centroids update by TRUNCATING integer division (both engines'
    semantics for negative sums), so every iteration is bit-identical
    cross-engine. Deterministic seeding: the first k vectors are the
    initial centroids.

    Scale shape per iteration: assignment is map-only against the
    k×dim broadcast-in-closure model — one numpy int64 matmul per
    Arrow batch (_km_assign_arrow; the interpreted-HOF expression spec
    _km_assign remains as the differential twin — it cost 53 s at the
    sf10 decade where the matmul costs ~8 s); the update is ONE
    map-side-combined aggregation to k×(dim+1) longs; the k×64-int
    model state lives on the driver between iterations (the
    dedup_cluster_canonical / bpe_learn_merges bounded-driver-state
    pattern). The oracle replays the same algorithm as chained CTEs
    with an explicit cross join — fine at oracle scale, deliberately
    not the engine plan."""
    q, cents = _km_train(spark, sf_dir)
    return _km_assign_arrow(q, cents).select("vec_id", "cluster", "d2")


def _km_train(spark: SparkSession, sf_dir: str,
              k: int | None = KM_K) -> tuple[DataFrame, list]:
    """The deterministic integer Lloyd loop shared by
    embedding_kmeans_exact, similarity_ann_ivf/_ivfpq and
    dedup_semantic_semdedup (the IVF coarse quantizer IS this model —
    training it identically is what makes the IVF DuckDB-replayable).
    ``k=None`` derives the cluster count from the corpus size
    (``derive_semdedup_k`` — k ≈ √n, SemDeDup's balanced partition
    size). Returns the PERSISTED quantized table (a registered seam —
    seams.release_seams() reclaims it) and the final k×dim centroid
    list."""
    from ..functions import vectors as V

    e = load_table(spark, sf_dir, "embeddings")
    # fan out BEFORE the persist: the cache inherits its partitioning
    # from the scan, and the sf10 embeddings file's row-group layout
    # put ~all rows in 1 of 13 splits — every one of the 5 Lloyd
    # passes then ran its matmul+agg in a single straggler task
    # (measured 15.8 s; balanced 5.5 s). One shuffle of the quantized
    # rows buys 5 balanced cached passes.
    q = persist_seam(
        fan_out(e.select("vec_id",
                         V.quantize(F.col("embedding")).alias("q"))),
        materialize=False)
    if k is None:
        k = derive_semdedup_k(q.count())
    # the seed collect scans (and therefore fills) the whole cache —
    # no separate count() job needed
    init = {r.vec_id: list(r.q)
            for r in q.where(F.col("vec_id") < k).collect()}
    # seeding contract (ADVICE r11): both this loop and the DuckDB
    # oracle seed from ``vec_id < k``, which is only the same set when
    # ids are dense from 0 — fail with a clear message instead of a
    # bare KeyError (engine) / silent divergence (oracle) on sparse ids.
    if len(init) != k:
        raise ValueError(
            f"k-means seeding requires vec_ids dense in [0, {k}); got "
            f"{len(init)} of {k} seed rows — re-id the corpus or pass "
            "an explicit k <= the dense prefix length")
    cents = [init[i] for i in range(k)]
    # iteration-invariant Columns built once: 65 agg expressions are
    # ~200 py4j round-trips, driver overhead worth hoisting
    agg_cols = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.element_at("q", i + 1)).alias(f"s{i}")
        for i in range(KM_DIM)]

    def trunc_div(s: int, n: int) -> int:
        return abs(s) // n * (1 if s >= 0 else -1)

    for _ in range(KM_ITERS):
        a = _km_assign_arrow(q, cents)
        rows = {r.cluster: r
                for r in a.groupBy("cluster").agg(*agg_cols).collect()}
        cents = [
            [trunc_div(int(rows[cid][f"s{i}"]), int(rows[cid].n))
             for i in range(KM_DIM)] if cid in rows else cents[cid]
            for cid in range(k)
        ]
    return q, cents


# ---------------------------------------------------------------------------
# IVF ANN on the exact-kmeans coarse quantizer (oracle-backed)
# ---------------------------------------------------------------------------

IVF_NPROBE, IVF_TOPK, IVF_NQ = 2, 5, 20


def _ivf_oracle() -> str:
    """DuckDB replay of the full IVF pipeline: the SAME Lloyd CTE
    chain as _km_oracle trains the coarse quantizer, then list
    assignment (argmin of exact integer distances), nprobe-nearest-
    cell probing for the query set, and exact quantized-cosine top-k
    within the probed lists — possible only because
    embedding_kmeans_exact is deterministic (fixed seeding, truncating
    division), which was the point of building it that way."""
    from .llm_ops import SQL_QDOT_AB, SQL_QUANT

    its = ",".join(_km_iteration_sql(i) for i in range(1, KM_ITERS + 1))
    fin = KM_ITERS + 1
    return f"""
    WITH vecs AS (SELECT vec_id, {SQL_QUANT} AS q FROM embeddings),
    c0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster, q AS c
           FROM vecs WHERE vec_id < {KM_K}),
    {its},
    d{fin} AS (
        SELECT v.vec_id, c.cluster,
               list_sum(list_transform(generate_series(1, {KM_DIM}),
                    k -> (v.q[k] - c.c[k]) * (v.q[k] - c.c[k]))) AS d2
        FROM vecs v CROSS JOIN c{KM_ITERS} c
    ),
    asg AS (
        SELECT vec_id, cluster
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY d2, cluster) AS rk
              FROM d{fin})
        WHERE rk = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, cluster AS qcell
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY d2, cluster) AS rk
              FROM d{fin} WHERE vec_id < {IVF_NQ})
        WHERE rk <= {IVF_NPROBE}
    ),
    n AS (SELECT vec_id, q, list_sum(list_transform(q, x -> x * x)) AS n2
          FROM vecs),
    cand AS (
        SELECT p.query_id, g.vec_id AS neighbor_id
        FROM probes p JOIN asg g ON g.cluster = p.qcell
        WHERE g.vec_id <> p.query_id
    ),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               CAST({SQL_QDOT_AB} AS DOUBLE)
                 / (SQRT(CAST(a.n2 AS DOUBLE)) * SQRT(CAST(b.n2 AS DOUBLE)))
                 AS cos_sim
        FROM cand JOIN n a ON cand.query_id = a.vec_id
                  JOIN n b ON cand.neighbor_id = b.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rk AS INTEGER) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id)
                      AS rk
          FROM scored)
    WHERE rk <= {IVF_TOPK}
    """


@register("similarity_ann_ivf", oracle=_ivf_oracle(),
          tags=("similarity", "ml", "iterative"))
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN with multi-probe: the exact-kmeans coarse
    quantizer (k=8, deterministic — _km_train) partitions the corpus
    into 8 inverted lists; each query probes its nprobe=2 nearest
    cells by exact integer distance, then exact quantized-cosine top-5
    within the probed cells.

    Rewritten from Spark-ML KMeans in round 9 so the WHOLE pipeline is
    DuckDB-replayable (round-8 verdict #6): deterministic centroids →
    integer argmin assignment → (d2, cluster)-ordered probes → the
    oracle-proven cosine chain — the entry moves from rows-only to
    oracle-backed, and the recall-vs-bruteforce floor keeps holding
    (tests/test_queries.py).

    This is the production shape for embedding search at 100 TB: the
    coarse quantizer trains on a bounded sample (here the corpus — k×65
    longs of driver state per iteration), list assignment is a map-only
    numpy-matmul pass against the broadcast-in-closure model, and
    candidate generation is an equi-join on the 1-byte cell id — never
    all-pairs. Multi-probe explodes each query into its nprobe nearest
    cells (a k-element interpreted HOF per QUERY row only), so recall
    climbs without changing the join shape."""
    from ..functions import vectors as V

    q, cents = _km_train(spark, sf_dir)
    # persisted seam (ADVICE r9): assigned feeds BOTH the broadcast
    # probe build and the scored corpus join — uncached, every
    # downstream action re-ran the quantize+assignment pipeline twice
    assigned = persist_seam(
        _km_assign_arrow(q, cents).select("vec_id", "q", "cluster")
        .withColumn("n2", V.qnorm2(F.col("q"))))
    # nprobe nearest cells per query: exact integer distances to the
    # k-centroid literal, (d2, cid) struct sort = ties to lowest cell
    arr = _cents_sql_literal(cents)
    probe_cells = F.expr(
        f"slice(array_sort(zip_with("
        f"transform({arr}, c -> aggregate(zip_with(q, c, "
        f"(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)), "
        f"sequence(0, {KM_K - 1}), "
        f"(d, i) -> named_struct('d2', d, 'cid', cast(i as int)))), "
        f"1, {IVF_NPROBE})")
    probes = (assigned.where(F.col("vec_id") < IVF_NQ)
              .select(F.col("vec_id").alias("query_id"),
                      F.col("q").alias("qq"), F.col("n2").alias("qn2"),
                      F.explode(probe_cells).alias("pc"))
              .select("query_id", "qq", "qn2",
                      F.col("pc.cid").alias("qcell")))
    cos = (V.qdot(F.col("qq"), F.col("q")).cast("double")
           / (F.sqrt(F.col("qn2").cast("double"))
              * F.sqrt(F.col("n2").cast("double"))))
    scored = (assigned.join(F.broadcast(probes),
                            (F.col("cluster") == F.col("qcell"))
                            & (F.col("vec_id") != F.col("query_id")))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      cos.alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                               F.asc("neighbor_id"))
    out = (scored.withColumn("rk", F.row_number().over(w))
           .where(F.col("rk") <= IVF_TOPK)
           .select("query_id", "neighbor_id", "cos_sim", "rk"))
    return out


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized ADC scoring inside the probed IVF cells
# ---------------------------------------------------------------------------

PQ_M, PQ_SUBDIM, PQ_K, PQ_ITERS = 8, 8, 16, 2


def _trunc_div(s: int, n: int) -> int:
    """Truncating integer division (toward zero) — Spark driver
    arithmetic matching DuckDB's ``//`` on BIGINT (floor division
    would disagree on negative sums)."""
    return abs(s) // n * (1 if s >= 0 else -1)


def _pq_codebook_literal(cbs: list) -> str:
    """The M×K×SUBDIM product-quantizer model as one SQL literal —
    the _cents_sql_literal argument one nesting level deeper (constant
    folding collapses it to a single complex-typed Literal)."""
    return "array(" + ",".join(
        "array(" + ",".join(
            "array(" + ",".join(f"{int(x)}L" for x in c) + ")"
            for c in cb) + ")"
        for cb in cbs) + ")"


def _pq_subspace_distances(cbs: list):
    """Shared numpy kernel: exact int64 squared distances of every
    row's M subvectors to all K codewords of their subspace —
    d[n, M, K] via one einsum per Arrow batch; argmin's first-minimum
    rule = ties to the lowest code id (the ROW_NUMBER ORDER BY
    (d2, code) spelling in the oracle)."""
    import numpy as np

    C = np.array(cbs, dtype=np.int64)       # (M, K, SUBDIM)
    c2 = (C * C).sum(axis=2)                 # (M, K)

    def codes_of(Q):
        n = len(Q)
        S = Q.reshape(n, PQ_M, PQ_SUBDIM)
        d = ((S * S).sum(axis=2)[:, :, None]
             - 2 * np.einsum("nms,mks->nmk", S, C)
             + c2[None, :, :])
        return S, d.argmin(axis=2)           # (n, M, SUBDIM), (n, M)

    return codes_of


def _pq_assign_exploded(assigned: DataFrame, cbs: list) -> DataFrame:
    """Training-pass assignment: (m, code, subq) exploded to M rows per
    vector so the centroid update is ONE map-side-combined JVM
    aggregation to ≤ M×K groups — the _km_train update shape with the
    subspace id joining the group key."""
    import numpy as np

    codes_of = _pq_subspace_distances(cbs)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            S, codes = codes_of(Q)
            n = len(Q)
            yield pd.DataFrame({
                "m": np.tile(np.arange(PQ_M), n).astype("int32"),
                "code": codes.reshape(-1).astype("int32"),
                "subq": list(S.reshape(n * PQ_M, PQ_SUBDIM)),
            })

    return assigned.select("q").mapInPandas(
        gen, "m int, code int, subq array<bigint>")


def _pq_encode_arrow(assigned: DataFrame, cbs: list) -> DataFrame:
    """Final encode: each vector's M one-byte codes in ONE row —
    the compressed corpus representation ADC scans (M bytes/vector
    vs 4·dim bytes of floats: 32× smaller at M=8, dim=64)."""
    import numpy as np

    codes_of = _pq_subspace_distances(cbs)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            _, codes = codes_of(Q)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "cluster": pdf["cluster"].to_numpy(),
                "codes": list(codes.astype("int32")),
            })

    return assigned.select("vec_id", "q", "cluster").mapInPandas(
        gen, "vec_id bigint, cluster int, codes array<int>")


def _pq_train(assigned: DataFrame) -> list:
    """Deterministic integer Lloyd per subspace, all M subspaces in one
    pass per iteration: seed = the first PQ_K vectors' subvector
    slices, assignment = _pq_assign_exploded's argmin, update =
    truncating integer division per (m, code). Driver state is
    M×K×SUBDIM ints (~1 KB) — the bounded-model pattern _km_train
    uses, one level down the quantization hierarchy."""
    init = {r.vec_id: list(r.q)
            for r in assigned.where(F.col("vec_id") < PQ_K)
            .select("vec_id", "q").collect()}
    cbs = [[init[j][m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM]
            for j in range(PQ_K)] for m in range(PQ_M)]
    agg_cols = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.element_at("subq", i + 1)).alias(f"s{i}")
        for i in range(PQ_SUBDIM)]
    for _ in range(PQ_ITERS):
        a = _pq_assign_exploded(assigned, cbs)
        rows = {(r.m, r.code): r
                for r in a.groupBy("m", "code").agg(*agg_cols).collect()}
        cbs = [
            [[_trunc_div(int(rows[(m, j)][f"s{i}"]), int(rows[(m, j)].n))
              for i in range(PQ_SUBDIM)] if (m, j) in rows else cbs[m][j]
             for j in range(PQ_K)]
            for m in range(PQ_M)
        ]
    return cbs


def _pq_iteration_sql(it: int) -> str:
    """One PQ Lloyd iteration as CTEs — _km_iteration_sql with the
    subspace id m carried through every key (one CTE chain trains all
    M codebooks at once, mirroring the engine's single-pass update)."""
    return f"""
    pd{it} AS (
        SELECT s.vec_id, s.m, s.subq, p.code,
               list_sum(list_transform(generate_series(1, {PQ_SUBDIM}),
                    k -> (s.subq[k] - p.c[k]) * (s.subq[k] - p.c[k]))) AS d2
        FROM subvecs s JOIN pq{it - 1} p ON p.m = s.m
    ),
    pa{it} AS (
        SELECT vec_id, m, subq, code
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                           ORDER BY d2, code) AS rk
              FROM pd{it})
        WHERE rk = 1
    ),
    pn{it} AS (SELECT m, code, CAST(COUNT(*) AS BIGINT) AS n
               FROM pa{it} GROUP BY m, code),
    pm{it} AS (
        SELECT m, code, g.k AS k, CAST(SUM(subq[g.k]) AS BIGINT) AS s
        FROM pa{it}, LATERAL unnest(generate_series(1, {PQ_SUBDIM})) AS g(k)
        GROUP BY m, code, g.k
    ),
    pq{it} AS (
        SELECT x.m, x.code, list(x.s // n.n ORDER BY x.k) AS c
        FROM pm{it} x JOIN pn{it} n ON x.m = n.m AND x.code = n.code
        GROUP BY x.m, x.code
        UNION ALL
        SELECT p.m, p.code, p.c FROM pq{it - 1} p
        WHERE NOT EXISTS (SELECT 1 FROM pn{it} n
                          WHERE n.m = p.m AND n.code = p.code)
    )"""


def _ivfpq_oracle() -> str:
    """DuckDB replay of the FULL IVF-PQ pipeline: the _km_oracle Lloyd
    chain trains the coarse quantizer, the m-keyed PQ chain trains all
    8 sub-codebooks, and ADC re-derives every reported distance from
    the neighbor's CODES (never its raw vector) — a Spark-side encode
    or LUT bug cannot hash-match."""
    from .llm_ops import SQL_QUANT

    its = ",".join(_km_iteration_sql(i) for i in range(1, KM_ITERS + 1))
    pq_its = ",".join(_pq_iteration_sql(i) for i in range(1, PQ_ITERS + 1))
    fin, pfin = KM_ITERS + 1, PQ_ITERS + 1
    return f"""
    WITH vecs AS (SELECT vec_id, {SQL_QUANT} AS q FROM embeddings),
    c0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster, q AS c
           FROM vecs WHERE vec_id < {KM_K}),
    {its},
    d{fin} AS (
        SELECT v.vec_id, c.cluster,
               list_sum(list_transform(generate_series(1, {KM_DIM}),
                    k -> (v.q[k] - c.c[k]) * (v.q[k] - c.c[k]))) AS d2
        FROM vecs v CROSS JOIN c{KM_ITERS} c
    ),
    asg AS (
        SELECT vec_id, cluster
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY d2, cluster) AS rk
              FROM d{fin})
        WHERE rk = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, cluster AS qcell
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY d2, cluster) AS rk
              FROM d{fin} WHERE vec_id < {IVF_NQ})
        WHERE rk <= {IVF_NPROBE}
    ),
    subvecs AS (
        SELECT vec_id, u.m AS m,
               list_transform(generate_series(1, {PQ_SUBDIM}),
                              k -> q[u.m * {PQ_SUBDIM} + k]) AS subq
        FROM vecs, unnest(generate_series(0, {PQ_M - 1})) AS u(m)
    ),
    pq0 AS (SELECT m, CAST(vec_id AS INTEGER) AS code, subq AS c
            FROM subvecs WHERE vec_id < {PQ_K}),
    {pq_its},
    pd{pfin} AS (
        SELECT s.vec_id, s.m, p.code,
               list_sum(list_transform(generate_series(1, {PQ_SUBDIM}),
                    k -> (s.subq[k] - p.c[k]) * (s.subq[k] - p.c[k]))) AS d2
        FROM subvecs s JOIN pq{PQ_ITERS} p ON p.m = s.m
    ),
    pa{pfin} AS (
        SELECT vec_id, m, code
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                           ORDER BY d2, code) AS rk
              FROM pd{pfin})
        WHERE rk = 1
    ),
    cand AS (
        SELECT p.query_id, g.vec_id AS neighbor_id
        FROM probes p JOIN asg g ON g.cluster = p.qcell
        WHERE g.vec_id <> p.query_id
    ),
    adc AS (
        SELECT cand.query_id, cand.neighbor_id,
               CAST(SUM(list_sum(list_transform(
                    generate_series(1, {PQ_SUBDIM}),
                    k -> (sq.subq[k] - pc.c[k]) * (sq.subq[k] - pc.c[k]))))
                    AS BIGINT) AS adc_d2
        FROM cand
        JOIN pa{pfin} fn ON fn.vec_id = cand.neighbor_id
        JOIN subvecs sq ON sq.vec_id = cand.query_id AND sq.m = fn.m
        JOIN pq{PQ_ITERS} pc ON pc.m = fn.m AND pc.code = fn.code
        GROUP BY cand.query_id, cand.neighbor_id
    )
    SELECT query_id, neighbor_id, adc_d2, CAST(rk AS INTEGER) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY adc_d2, neighbor_id) AS rk
          FROM adc)
    WHERE rk <= {IVF_TOPK}
    """


@register("similarity_ann_ivfpq", oracle=_ivfpq_oracle(),
          tags=("similarity", "ml", "iterative", "compression"))
def similarity_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (the FAISS IVFPQ shape): the exact-kmeans coarse
    quantizer routes each query to its nprobe=2 nearest cells, and
    candidates inside the probed cells are ranked by ASYMMETRIC
    DISTANCE COMPUTATION — the query keeps its full vector, every
    candidate is represented ONLY by its M=8 one-byte product codes,
    and distance ≈ Σ_m LUT_m[code_m] where LUT is the query's
    precomputed 8×16 table of exact subvector-to-codeword distances.

    Everything is integer-exact and therefore fully DuckDB-replayable
    (the similarity_ann_ivf determinism argument extended one level
    down the quantization hierarchy): sub-codebooks train with the
    same seeded truncating-division Lloyd loop per subspace (all 8 in
    one pass per iteration, update = one map-side-combined aggregation
    to ≤ 8×16 groups), codes are first-minimum argmins, and the ADC
    sum is exact int64 — so the oracle re-derives every reported
    distance from the neighbor's codes alone.

    The 100 TB story is MEMORY, on top of IVF's candidate pruning: the
    scored corpus representation is 8 bytes/vector vs 256 bytes of
    floats (32×) — the difference between an in-RAM scan and a
    spilling one at 2B vectors/TB — and each candidate costs 8 LUT
    adds instead of a 64-dim dot product. Recall vs the exact
    quantized-L2 ranking is pinned in tests/test_queries.py; the
    ADC-vs-true-distance bias is the documented PQ trade (16 codes ×
    8 dims is the toy-corpus setting; production uses 256×anything —
    the plan shape is identical)."""
    q, cents = _km_train(spark, sf_dir)
    assigned = persist_seam(
        _km_assign_arrow(q, cents).select("vec_id", "q", "cluster"))
    cbs = _pq_train(assigned)
    codes = _pq_encode_arrow(assigned, cbs)
    arr = _cents_sql_literal(cents)
    probe_cells = F.expr(
        f"slice(array_sort(zip_with("
        f"transform({arr}, c -> aggregate(zip_with(q, c, "
        f"(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)), "
        f"sequence(0, {KM_K - 1}), "
        f"(d, i) -> named_struct('d2', d, 'cid', cast(i as int)))), "
        f"1, {IVF_NPROBE})")
    cb_lit = _pq_codebook_literal(cbs)
    lut = F.expr(
        f"flatten(transform(sequence(0, {PQ_M - 1}), m -> "
        f"transform(element_at({cb_lit}, m + 1), c -> "
        f"aggregate(zip_with(slice(q, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM}), c, "
        f"(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x))))")
    probes = (assigned.where(F.col("vec_id") < IVF_NQ)
              .select(F.col("vec_id").alias("query_id"), lut.alias("lut"),
                      F.explode(probe_cells).alias("pc"))
              .select("query_id", "lut", F.col("pc.cid").alias("qcell")))
    adc = F.expr(
        f"aggregate(zip_with(codes, sequence(0, {PQ_M - 1}), "
        f"(c, m) -> element_at(lut, m * {PQ_K} + c + 1)), "
        f"0L, (acc, x) -> acc + x)")
    scored = (codes.join(F.broadcast(probes),
                         (F.col("cluster") == F.col("qcell"))
                         & (F.col("vec_id") != F.col("query_id")))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      adc.alias("adc_d2")))
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= IVF_TOPK)
            .select("query_id", "neighbor_id", "adc_d2", "rk"))


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup by k-means partition + within-cluster
# centroid-distance dominance pruning (oracle-backed end to end)
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.45   # same verify threshold as the embedding dedup family
SEMDEDUP_KCAP = 14    # k caps at 2^14 clusters (n ~ 2.7e8 before cluster
                      # sizes start growing linearly again)

# Round-12 verdict #2: clusters at or under this row count run the
# exact all-pairs dominance gram (every oracle-checked SF lands here —
# the derived-k ladder puts mean cluster size at ~31 rows at sf0.01,
# ~390 at sf1, ~976 at sf10); bigger clusters (first reached at the
# sf30 decade, ~1170 rows) switch to the RP-band candidate prefilter,
# which linearizes the within-cluster term (see _banded_dominance_hits)
# at a documented recall trade on the prune decision.
SEMDEDUP_EXACT_CLUSTER_CAP = 1024


def derive_semdedup_k(n: int) -> int:
    """k = 2^⌊log2(n)/2⌋ (capped): the balanced SemDeDup partition.

    Choosing k ≈ √n makes BOTH phases n^1.5: assignment costs n·k·dim
    and within-cluster pairing costs Σ sᵢ² ≈ n²/k — k = √n equalizes
    them, which is the true complexity of SemDeDup's exact
    within-cluster comparison (the paper trades the same way: k grows
    with corpus size so clusters stay comparable). Powers of two via
    integer bit_length, NOT floor(log2(n)/2) in floats — float log2
    is off-by-an-ulp at exact powers, and the SQL mirror is an exact
    integer CASE ladder over 4^j thresholds."""
    if n < 4:
        return 1
    return 2 ** min(SEMDEDUP_KCAP, (int(n).bit_length() - 1) // 2)


def _sql_semdedup_k() -> str:
    """The derive_semdedup_k ladder as exact integer comparisons
    (largest j with 4^j <= n), matching bit_length arithmetic
    digit-for-digit — no float log anywhere."""
    branches = " ".join(
        f"WHEN COUNT(*) >= {4 ** j} THEN {2 ** j}"
        for j in range(SEMDEDUP_KCAP, 0, -1))
    return f"CASE {branches} ELSE 1 END"


def _semdedup_oracle() -> str:
    """DuckDB replay of the WHOLE SemDeDup pipeline: the same
    k-adaptive Lloyd chain as _km_oracle (k enters only through c0's
    seed predicate — the iteration CTEs are k-independent, so the
    corpus-derived k is one scalar subquery), then the dominance
    prune as a self-join EXISTS: x is pruned iff some same-cluster y
    farther from the centroid (larger d2, vec_id tie-break) has
    quantized cosine >= tau with x. fnl is MATERIALIZED — it is
    referenced three times (both join sides + the verdict projection)
    and DuckDB would otherwise inline the full Lloyd chain into each
    reference (measured 74 s -> 11 s at sf0.01)."""
    from .llm_ops import SQL_QUANT

    fin = KM_ITERS + 1
    # The shared iteration text, with the per-iteration a/c CTEs
    # MATERIALIZED: c{it} is referenced twice (next iteration's
    # distance join + its own empty-cluster carry-over), so the
    # inlined chain re-evaluates ~2^iters times — at k=8 (kmeans/IVF)
    # that is tolerable and the shared spec text stays untouched, but
    # semdedup's derived k is 16x larger at the sf1 decade. Purely an
    # evaluation hint: values are identical.
    def _materialize(i: int) -> str:
        raw = _km_iteration_sql(i)
        out = (raw
               .replace(f"a{i} AS (", f"a{i} AS MATERIALIZED (")
               .replace(f"c{i} AS (", f"c{i} AS MATERIALIZED ("))
        # guard the string-surgery hint (ADVICE r11): if the shared
        # iteration text's formatting drifts, fail loudly instead of
        # silently regressing to the 74 s exponential re-inline.
        assert out.count("AS MATERIALIZED") == 2, (
            f"_km_iteration_sql({i}) text drifted; MATERIALIZED hint "
            "no longer applies")
        return out

    its = ",".join(_materialize(i) for i in range(1, fin + 1))
    dot = (f"list_sum(list_transform(generate_series(1, {KM_DIM}), "
           f"k -> x.q[k] * y.q[k]))")
    return f"""
    WITH vecs AS (SELECT vec_id, {SQL_QUANT} AS q FROM embeddings),
    par AS (SELECT {_sql_semdedup_k()} AS k FROM vecs),
    c0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster, q AS c
           FROM vecs WHERE vec_id < (SELECT k FROM par)),
    {its},
    fnl AS MATERIALIZED (SELECT vec_id, q, cluster, d2,
                   list_sum(list_transform(q, v -> v * v)) AS n2
            FROM a{fin}),
    pr AS (
        SELECT x.vec_id
        FROM fnl x JOIN fnl y ON x.cluster = y.cluster
         AND (y.d2 > x.d2 OR (y.d2 = x.d2 AND y.vec_id > x.vec_id))
        WHERE CAST({dot} AS DOUBLE)
              / (SQRT(CAST(x.n2 AS DOUBLE)) * SQRT(CAST(y.n2 AS DOUBLE)))
              >= {SEMDEDUP_TAU}
        GROUP BY x.vec_id
    )
    SELECT f.vec_id, CAST(f.cluster AS INTEGER) AS cluster,
           CAST(f.d2 AS BIGINT) AS d2,
           (pr.vec_id IS NOT NULL) AS pruned
    FROM fnl f LEFT JOIN pr ON f.vec_id = pr.vec_id
    """


def _dominance_hits(Q, norms, tau: float):
    """Exact within-cluster dominance prune over rows pre-sorted in
    descending (d2, vec_id) order: row i is hit iff some EARLIER row j
    has quantized cosine >= tau with it. Blocked 2048-row int64 grams —
    bounded memory under any cluster skew. Same IEEE op order as the
    oracle: sqrt each norm, multiply, then divide the exact integer dot
    widened to double."""
    import numpy as np

    s = len(Q)
    pruned = np.zeros(s, dtype=bool)
    for start in range(1, s, 2048):
        end = min(start + 2048, s)
        g = Q[start:end] @ Q[:end].T
        c = g.astype(np.float64) / (norms[start:end, None]
                                    * norms[None, :end])
        for i in range(start, end):
            pruned[i] = bool((c[i - start, :i] >= tau).any())
    return pruned


def _banded_dominance_hits(Q, norms, tau: float):
    """The within-cluster RP-band candidate prefilter (round-12 verdict
    #2): instead of the s² gram, hash every row into sign-LSH buckets
    under ``derive_rp_bands(bits)`` independent hyperplane tables
    (bits sized to the CLUSTER by the same occupancy rule as the
    corpus-level RP family — derive_rp_bits — so expected bucket
    occupancy stays ~4 at any cluster size) and run the tau-dominance
    test on same-bucket pairs only. Per-cluster work drops from s² to
    ~bands·occupancy·s ≈ 128·s, which linearizes SemDeDup's
    within-cluster term — the n^1.5 Σs² pairing becomes O(n) while the
    semantics on CANDIDATES are untouched (identical dominance order,
    identical cosine arithmetic — _dominance_hits runs on each
    oversized bucket, so a degenerate all-identical cluster degrades
    to the exact blocked gram, never worse).

    The trade is recall on the PRUNE decision: a tau-similar dominator
    that never shares a bucket with its victim is missed, so the
    banded path prunes a SUBSET of the exact path's rows
    (tests/test_queries.py pins soundness and the recall floor at
    sf0.01 by forcing this path below the cap). Hyperplanes are the
    family's deterministic md5-derived Rademacher signs
    (llm_ops._rp_signs) — same verdict on every run and every engine.
    """
    import numpy as np

    from .llm_ops import _rp_signs, derive_rp_bands, derive_rp_bits

    s, dim = Q.shape
    bits = derive_rp_bits(s)
    bands = derive_rp_bands(bits)
    S = (np.array(_rp_signs(bands, bits, dim=dim), dtype=np.int64)
         .reshape(bands * bits, dim).T)
    d = Q @ S
    w = np.int64(1) << np.arange(bits, dtype=np.int64)
    keys = ((d > 0).reshape(s, bands, bits).astype(np.int64) * w).sum(axis=2)

    pruned = np.zeros(s, dtype=bool)
    for t in range(bands):
        kt = keys[:, t]
        order = np.argsort(kt, kind="stable")  # stable: dominance order
        ks = kt[order]                         # survives within a bucket
        starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
        bounds = np.r_[starts, s]
        pa, pb = [], []
        for a, b in zip(bounds[:-1], bounds[1:]):
            m = b - a
            if m < 2:
                continue
            idx = order[a:b]  # ascending == descending-(d2,id) order
            if m > 2048:
                # hot bucket (boilerplate-identical vectors): blocked
                # exact gram on the bucket instead of m^2 pair arrays
                pruned[idx] |= _dominance_hits(Q[idx], norms[idx], tau)
                continue
            iu, ju = np.triu_indices(m, 1)
            pa.append(idx[iu])
            pb.append(idx[ju])
        if not pa:
            continue
        ia, ib = np.concatenate(pa), np.concatenate(pb)
        cos = ((Q[ia] * Q[ib]).sum(axis=1).astype(np.float64)
               / (norms[ia] * norms[ib]))
        pruned[ib[cos >= tau]] = True
    return pruned


@register("dedup_semantic_semdedup", oracle=_semdedup_oracle(),
          tags=("dedup", "embedding", "ml", "iterative"))
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str,
                            exact_cluster_cap: int | None = None
                            ) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering the embedding space with k-means and
    pruning, within each cluster, every vector that is tau-similar to
    a vector FARTHER from the cluster centroid — the paper's
    keep-low-centroid-similarity rule, whose operational form is
    exactly a dominance test: sort the cluster by distance-to-centroid
    descending and prune anything tau-similar to an earlier item. The
    rule is order-free (a plain EXISTS over (d2, vec_id) dominance),
    so both engines compute it without any sequential greedy state —
    unlike the streaming dedup sink's chain-sensitive admission.

    Everything is integer-exact and DuckDB-replayable: the k-adaptive
    Lloyd loop is the proven _km_train/_km_oracle chain (k = 2^(...)
    derived from COUNT(*) by the same integer ladder on both sides),
    distance-to-centroid is the assignment's own exact d2, and the
    tau test is the family's quantized-cosine double predicate.

    Scale shape: k ~ sqrt(n) makes assignment n·k·dim int64 matmul
    work (per Arrow batch). The within-cluster pairing is exact (one
    blocked int64 gram per cluster — the paper runs the same
    per-cluster matmul on GPUs) only up to SEMDEDUP_EXACT_CLUSTER_CAP
    rows, which covers every oracle-checked SF; clusters past the cap
    (first reached at the sf30 decade) run the RP-band candidate
    prefilter instead (_banded_dominance_hits — round-12 verdict #2),
    which cuts the pairing term from Σs² ≈ n^1.5 to ~bands·occ·n =
    O(n) at a pinned recall trade on the prune decision. The remaining
    super-linear term is the Lloyd/assignment phase itself (n·k·dim
    with k≈√n) — SemDeDup's own coarse quantizer, the published
    algorithm's cost floor. Memory stays bounded under any skew: gram
    blocks cap at 2048 rows, hot LSH buckets degrade to the blocked
    exact gram, and per-task state is one cluster.

    Returns the full per-vector verdict table (vec_id, cluster, d2,
    pruned) so the oracle hash covers kept AND pruned rows."""
    import numpy as np
    import pandas as pd

    q, cents = _km_train(spark, sf_dir, k=None)
    a = _km_assign_arrow(q, cents)
    tau = SEMDEDUP_TAU
    cap = (SEMDEDUP_EXACT_CLUSTER_CAP if exact_cluster_cap is None
           else exact_cluster_cap)

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame(
                {"vec_id": pd.Series(dtype="int64"),
                 "cluster": pd.Series(dtype="int32"),
                 "d2": pd.Series(dtype="int64"),
                 "pruned": pd.Series(dtype="bool")})
        # descending (d2, vec_id): earlier rows dominate later ones
        pdf = pdf.sort_values(["d2", "vec_id"],
                              ascending=False, ignore_index=True)
        Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
        norms = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
        if len(Q) <= cap:
            pruned = _dominance_hits(Q, norms, tau)
        else:
            pruned = _banded_dominance_hits(Q, norms, tau)
        return pd.DataFrame({
            "vec_id": pdf["vec_id"].to_numpy(),
            "cluster": pdf["cluster"].to_numpy(),
            "d2": pdf["d2"].to_numpy(),
            "pruned": pruned})

    return a.groupBy("cluster").applyInPandas(
        prune, "vec_id bigint, cluster int, d2 bigint, pruned boolean")
