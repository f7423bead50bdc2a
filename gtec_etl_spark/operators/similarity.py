"""Similarity search over embedding columns (array<float>).

Brute-force exact cosine top-k is the correctness baseline; the scale paths
are IVF (search only the nearest centroid's partition) and random-hyperplane
LSH (bucket join). Dot products are sequential JVM-side folds
(zip_with + aggregate) so results are bitwise reproducible in the SQL
oracle — no Python UDFs anywhere on the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gtec_etl_spark.session import local_frame


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def with_norm(df: DataFrame, vec_col: str = "embedding", out: str = "norm") -> DataFrame:
    return df.withColumn(out, F.sqrt(dot(F.col(vec_col), F.col(vec_col))))


def sqdist(a: Column, b: Column) -> Column:
    """Sequential left-fold squared L2 distance in double precision —
    the same add order as the oracle's list_reduce, so bit-reproducible."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def quantize_micros(vec: Column) -> Column:
    """Elementwise float→int64 quantization to integer micros:
    floor(x * 1e6 + 0.5). Every step (float→double cast, double multiply,
    add, floor) is an IEEE-754 operation with one correct answer, so any
    engine produces the same int64 — the foundation for cross-engine-exact
    integer distance arithmetic (PQ encode/ADC)."""
    return F.transform(
        vec,
        lambda x: F.floor(x.cast("double") * F.lit(1000000.0) + F.lit(0.5)).cast(
            "long"
        ),
    )


def dot_int(a: Column, b: Column) -> Column:
    """Exact dot product over int64 vectors (quantized micros). Pure
    integer arithmetic — engine-independent. Magnitude: |x| <= ~1e6 per
    element, so a 64-dim dot is <= ~6.4e13, far inside int64."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def sqdist_int(a: Column, b: Column) -> Column:
    """Exact squared L2 distance over int64 vectors. Pure integer
    arithmetic: order-free, association-free, engine-independent."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def brute_force_topk(
    emb: DataFrame,
    query_vec: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against a single query vector (a 1-row
    DataFrame with column `q`). The query side is broadcast; ranking uses
    TakeOrderedAndProject (per-partition top-k, driver merge) — no global
    sort. Deterministic tie-break on id."""
    e = with_norm(emb, vec_col)
    q = with_norm(query_vec.select(F.col("q").alias("qv")), "qv", "qnorm")
    cos = dot(F.col(vec_col), F.col("qv")) / (F.col("norm") * F.col("qnorm"))
    return (
        e.crossJoin(F.broadcast(q))
        .withColumn("cosine_exact", cos)
        .orderBy(F.col("cosine_exact").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, F.round("cosine_exact", 4).alias("cosine"))
    )


def pq_kmeans_codebook(
    subs: DataFrame, init: DataFrame, iters: int = 4
) -> DataFrame:
    """Lloyd's iterations training a product-quantization codebook per
    subspace, in quantized-integer space — computed DRIVER-LOCALLY in
    numpy over the collected training sample (round 9).

    `subs`: (vec_id, j, sub array<long>) training sub-vectors (quantized
    micros, see quantize_micros) — a bounded deterministic sample of the
    corpus, NEVER the corpus itself. `init`: (j, r, c array<long>)
    initial codebook (e.g. the hash-seeded sample sim_pq_adc_topk uses).
    Returns (j, r, c) with the same shape, as a local-relation DataFrame.

    Why driver-local: training cost is O(sample x iters) BY DESIGN —
    corpus-independent, constant-size work. Spark-staging it (the r3-r8
    shape: per-iteration broadcast join + two shuffles) made a
    1024-vector problem occupy 4 x 3 stage barriers of a 32-core
    scheduler for seconds; this is how production ANN systems train too
    (sample to memory, Lloyd's in BLAS, ship the codebook). The collect
    is bounded by the sample/codebook size, same class as the audit's
    fixed-K codebook allowlist; only ENCODE ever scans the corpus.

    Exactness (bit-identical to the unrolled DuckDB oracle CTEs):
    - assignment argmin: squared L2 via the gram identity on float64 —
      every term is an integer < 2^53, so exact in any summation order;
      codeword rows ordered by r make np.argmin's first-minimum rule the
      (sqdist, r) tie-break.
    - centroid update floor(double(sum)/double(count) + 0.5): the int64
      member sum (< 2^53) casts to double exactly; then ONE
      correctly-rounded divide, add, floor — the identical IEEE op
      sequence both engines spell out.
    - empty clusters keep their previous codeword."""
    import numpy as np

    spark = subs.sparkSession
    schema = init.schema
    init_rows = init.collect()
    sub_rows = subs.collect()

    by_j_init: dict = {}
    for row in init_rows:
        by_j_init.setdefault(row["j"], []).append((row["r"], list(row["c"])))
    by_j_sub: dict = {}
    for row in sub_rows:
        by_j_sub.setdefault(row["j"], []).append(list(row["sub"]))

    out = []
    for j in sorted(by_j_init):
        pairs = sorted(by_j_init[j])  # codeword rows ordered by r
        rs = [r for r, _ in pairs]
        C = np.array([c for _, c in pairs], dtype=np.float64)
        subs_j = by_j_sub.get(j, [])
        if subs_j:
            X = np.array(subs_j, dtype=np.float64)
            nx2 = np.einsum("nd,nd->n", X, X)  # exact ints in float64
            for _ in range(iters):
                nc2 = np.einsum("kd,kd->k", C, C)
                d = nx2[:, None] - 2.0 * (X @ C.T) + nc2[None, :]
                a = np.argmin(d, axis=1)  # first min == (sqdist, r) ties
                C2 = C.copy()
                for k in range(len(rs)):
                    members = X[a == k]
                    if len(members):
                        # float64 sum of int-valued members is exact
                        # (|sum| < 2^53); then the oracle's op sequence.
                        C2[k] = np.floor(
                            members.sum(axis=0) / np.float64(len(members))
                            + 0.5
                        )
                C = C2
        for k, r in enumerate(rs):
            out.append((j, r, [int(v) for v in C[k]]))
    return local_frame(
        spark, [dict(zip(("j", "r", "c"), row)) for row in out], schema
    )


def hyperplane_weight(j: int, d: int) -> int:
    """Deterministic integer pseudo-random hyperplane weights, exactly
    representable in doubles and reproducible in SQL."""
    return ((1103515245 * (j * 64 + d) + 12345) % 2001) - 1000


def hyperplane_bucket(vec_col: Column, n_planes: int, dim: int) -> Column:
    """Random-hyperplane LSH bucket id: sign bit per plane, packed."""
    bucket = None
    for j in range(n_planes):
        weights = F.array(*[F.lit(float(hyperplane_weight(j, d))) for d in range(dim)])
        proj = F.aggregate(
            F.zip_with(vec_col, weights, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("long")
