"""Product quantization (PQ) for embedding compression.

The classic ANN storage trick (Jégou et al. 2011, public method): split
each D-dim vector into ``m`` subvectors, k-means each subspace
independently, and store each vector as ``m`` small integer codes. With
m=4, k=16 a 64-dim float vector compresses 256 bytes → 4 half-byte
codes (PQ16x4 shape).

Scale shape:
- **train**: the m k-means fits are ONE run of
  :func:`similarity._lloyd` — the loop behind
  :func:`similarity.kmeans_fit` — over the exploded (vec, subspace)
  relation, keyed on ``subspace``: per iteration the m·k codeword table
  broadcasts once and the centroid update is a single shuffle, i.e. one
  corpus pass per iteration rather than m per-subspace jobs.
- **encode**: the full m-subspace codebook is m×k rows — broadcast onto
  the corpus; the argmin per (vector, subspace) folds into ONE hash
  aggregate on vec_id (min-of-struct per subspace via conditional
  aggregates), so encode costs one map-side-combinable shuffle of
  |vectors| rows.

Determinism: identical to kmeans_fit — quantized-integer distance math,
lowest-id initialization, struct-ordered tie-breaks.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .similarity import QUANT_SCALE, _lloyd


def _dim(embeddings: DataFrame, col: str) -> int:
    row = embeddings.select(F.size(col).alias("d")).first()
    if row is None:
        raise ValueError("empty embeddings table")
    return int(row["d"])


def pq_train(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    col: str = "embedding",
    d: int | None = None,
) -> DataFrame:
    """Train all ``m`` subspace codebooks in ONE Lloyd loop.

    Semantically this is m independent k-means fits, one per subspace,
    and it is literally :func:`similarity.kmeans_fit`'s loop
    (:func:`similarity._lloyd`) keyed on ``subspace``: same quantization,
    same lowest-id init per subspace, same exact-BIGINT distances, same
    struct-ordered tie-breaks, same centroid rounding. With ``m=1`` it
    equals ``kmeans_fit`` row for row (unit-tested), and the
    per-subspace DuckDB unroll oracle keeps hash-matching. Physically
    the loop runs over an exploded (vec, subspace, qvec) relation: per
    iteration the m·k codeword table broadcasts once and the centroid
    update is ONE shuffle keyed on (subspace, cluster, dim) instead of
    m separate per-subspace jobs.

    Returns (subspace, code, centroid array<double>, n_vectors).

    ``d`` — the (constant) embedding dimension; pass it when the caller
    already knows it to skip the one-row probe job ``_dim`` costs."""
    if d is None:
        d = _dim(embeddings, col)
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    subs = (
        embeddings.select(
            id_col,
            F.posexplode(
                F.array(*[F.slice(col, j * sub + 1, sub) for j in range(m)])
            ).alias("subspace", "svec_f"),
        )
        .select(
            id_col,
            "subspace",
            F.transform(
                "svec_f",
                lambda x: F.round(x.cast("double") * QUANT_SCALE, 0).cast(
                    "bigint"
                ),
            ).alias("qvec"),
        )
        .cache()
    )
    w = Window.partitionBy("subspace").orderBy(id_col)
    centroids = (
        subs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "subspace",
            (F.col("rn") - 1).alias("cluster"),
            F.col("qvec").alias("cvec"),
        )
    )
    trained = _lloyd(subs, centroids, iters, keys=("subspace",))
    return trained.withColumnRenamed("cluster", "code")


def pq_encode(
    embeddings: DataFrame,
    codebook: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    col: str = "embedding",
    d: int | None = None,
) -> DataFrame:
    """Encode vectors as m integer codes (columns ``code_0..code_{m-1}``)
    plus the total quantization error ``q_err`` (exact integer math in
    the quantized domain).

    PURE PROJECTION: the m·k codebook collapses to ONE broadcast row
    holding an array of (subspace, code, cvec) structs, and each vector
    computes all m argmins inline — per subspace j, ``array_min`` of
    ``struct(d2, code)`` over the filtered subspace-j codewords. This
    replaces the previous melt (m rows per vector) + broadcast join +
    corpus-wide hash re-aggregation on vec_id: same exact-BIGINT
    distances, same struct-ordered tie-break (min d2, then min code),
    but zero shuffle and zero row inflation.

    ``d`` — the (constant) embedding dimension; pass it when known to
    skip the one-row probe job ``_dim`` costs."""
    if d is None:
        d = _dim(embeddings, col)
    sub = d // m
    cb_arr = codebook.select(
        "subspace",
        "code",
        F.transform(
            "centroid",
            lambda x: F.round(x * QUANT_SCALE, 0).cast("bigint"),
        ).alias("cvec"),
    ).agg(
        F.array_sort(
            F.collect_list(F.struct("subspace", "code", "cvec"))
        ).alias("__cb")
    )

    def _best(j: int) -> Column:
        svec = F.transform(
            F.slice(col, j * sub + 1, sub),
            lambda x: F.round(x.cast("double") * QUANT_SCALE, 0).cast(
                "bigint"
            ),
        )
        return F.array_min(
            F.transform(
                F.filter(F.col("__cb"), lambda c: c["subspace"] == F.lit(j)),
                lambda c: F.struct(
                    F.aggregate(
                        F.zip_with(
                            svec, c["cvec"], lambda x, y: (x - y) * (x - y)
                        ),
                        F.lit(0).cast("bigint"),
                        lambda a, x: a + x,
                    ).alias("d2"),
                    c["code"].alias("code"),
                ),
            )
        )

    enc = embeddings.crossJoin(F.broadcast(cb_arr)).select(
        id_col, *[_best(j).alias(f"_best_{j}") for j in range(m)]
    )
    # An EMPTY codebook must yield 0 rows (the pre-projection inner-join
    # shape's result), not N rows of NULL codes: collect_list over zero
    # codewords still emits one agg row holding an empty array, the
    # crossJoin keeps every vector, and array_min(empty) = NULL — filter
    # those out, mirroring _assign_clusters' isNotNull guard.
    enc = enc.filter(
        reduce(
            lambda a, b: a & b,
            [F.col(f"_best_{j}").isNotNull() for j in range(m)],
        )
    )
    total_err = reduce(
        lambda a, b: a + b, [F.col(f"_best_{j}.d2") for j in range(m)]
    )
    return enc.select(
        id_col,
        *[F.col(f"_best_{j}.code").alias(f"code_{j}") for j in range(m)],
        total_err.cast("bigint").alias("q_err"),
    )


def build_pq_index(
    catalog,
    name: str,
    embeddings: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    col: str = "embedding",
) -> None:
    """Train the PQ codebook once and persist it as the catalog table
    ``{name}__codebook`` — the same train-once/apply-many lifecycle as
    :func:`ann_index.build_ann_index`. The codebook is m·k tiny rows;
    rebuilds write a new snapshot version, so encodes racing a retrain
    read a consistent older codebook."""
    d = _dim(embeddings, col)
    cb = pq_train(
        embeddings, m=m, k=k, iters=iters, id_col=id_col, col=col, d=d
    )
    # geometry as table metadata: steady-state encodes read m and d for
    # free instead of paying a one-row dimension-probe job per call
    catalog.write(cb, f"{name}__codebook", meta={"m": int(m), "d": int(d)})


def encode_with_pq_index(
    catalog,
    name: str,
    embeddings: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    col: str = "embedding",
) -> DataFrame:
    """Steady-state PQ encode off the PERSISTED codebook: one catalog
    read (m·k rows, broadcast) + one hash aggregate over the corpus — no
    subspace training, which is what the inline train+encode pays on
    every call. This is the path a 100 TB ingest pipeline runs per
    batch; the codebook retrains only on drift."""
    cb = catalog.read(f"{name}__codebook")
    meta = catalog.read_meta(f"{name}__codebook") or {}
    return pq_encode(
        embeddings, cb, m=m, id_col=id_col, col=col,
        d=int(meta["d"]) if "d" in meta else None,
    )


def adc_lut(
    queries: DataFrame,
    codebook: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    col: str = "embedding",
    query_id_col: str = "query_id",
    d: int | None = None,
) -> DataFrame:
    """Per-query ADC lookup table: the quantized distance from each query
    subvector to every codeword — |Q|·m·k tiny rows, meant to be
    broadcast. The corpus side then pays m integer lookup-adds per
    (query, vector) instead of a D-dim multiply-accumulate. Shared by
    :func:`pq_topk` (flat ADC) and
    :func:`ann_index.query_ivfpq_index` (IVF-pruned ADC)."""
    if d is None:
        d = _dim(queries, col)
    sub = d // m
    qsubs = queries.select(
        F.col(id_col).alias(query_id_col),
        F.posexplode(
            F.array(*[F.slice(col, j * sub + 1, sub) for j in range(m)])
        ).alias("subspace", "svec_f"),
    ).select(
        query_id_col,
        "subspace",
        F.transform(
            "svec_f",
            lambda x: F.round(x.cast("double") * QUANT_SCALE, 0).cast("bigint"),
        ).alias("svec"),
    )
    cb = codebook.select(
        "subspace",
        "code",
        F.transform(
            "centroid", lambda x: F.round(x * QUANT_SCALE, 0).cast("bigint")
        ).alias("cvec"),
    )
    return qsubs.join(F.broadcast(cb), "subspace").select(
        query_id_col,
        "subspace",
        "code",
        F.aggregate(
            F.zip_with("svec", "cvec", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("d_part"),
    )


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    m: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes.

    Per query, the distance to every subspace centroid is precomputed
    into a |Q|·m·k_codes lookup table (tiny — broadcast); the corpus side
    then needs only m table lookups + adds per (query, vector) instead of
    a D-dim multiply-accumulate — the actual PQ speedup. Plan: encode
    corpus → melt codes to (vec, subspace, code) → broadcast-join the
    lookup table → one hash aggregate on (query, vec) summing m partial
    distances → per-query top-k via WindowGroupLimit.

    Exact integer math throughout; ties break on neighbor id.
    """
    from pyspark.sql import Window

    d = _dim(embeddings, col)
    codes = pq_encode(embeddings, codebook, m=m, id_col=id_col, col=col, d=d)
    melted = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode(
            F.array(*[F.col(f"code_{j}") for j in range(m)])
        ).alias("subspace", "code"),
    )
    lut = adc_lut(
        queries, codebook, m=m, id_col=id_col, col=col,
        query_id_col=query_id_col, d=d,
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        melted.join(F.broadcast(lut), ["subspace", "code"])
        .groupBy(query_id_col, "neighbor_id")
        .agg(F.sum("d_part").alias("adc_dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "adc_dist", "rank")
    )
