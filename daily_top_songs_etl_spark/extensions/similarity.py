"""Similarity search over an embedding column (``array<float>``).

Exactness strategy: embeddings are **quantized to integers** (round(x·1000))
so dot products are exact BIGINT sums — bit-identical across engines and
across partitionings (float accumulation order can differ; integer sums
cannot). Cosine is then derived with a fixed sequence of double ops.

Scale design:

- ``brute_force_topk`` — the correctness baseline: |Q|×|N| dots via a
  broadcast of the (small) query set; per-query top-k by window. Linear in
  corpus size, never materializes the full distance matrix.
- ``lsh_bucket_topk`` — the scale path: sign-random-projection buckets
  (hyperplanes derived deterministically from md5 so any engine can
  reproduce them); candidates = same-bucket (multi-probe: Hamming-adjacent
  buckets), then exact re-rank. Bucket join replaces the |Q|×|N| product
  with |Q|×bucket_size.
- For very high-dim / very large corpora, the numpy path
  (``brute_force_topk_arrow``) does the same math as a vectorized Pandas
  UDF — Arrow batches, BLAS matmul — when JVM column math becomes the
  bottleneck.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

QUANT_SCALE = 1000


def quantize_embeddings(
    df: DataFrame, col: str = "embedding", out: str = "qvec"
) -> DataFrame:
    """array<float> -> array<bigint> via round(cast(x as double) * 1000)."""
    return df.withColumn(
        out,
        F.transform(
            F.col(col),
            lambda x: F.round(x.cast("double") * QUANT_SCALE, 0).cast("bigint"),
        ),
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a).cast("double"))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: every query against every corpus vector.

    ``queries`` is a (small) DataFrame with the same schema; it is
    broadcast, so the plan is one scan of the corpus with no shuffle until
    the final per-query top-k window (partitioned by query id — perfectly
    parallel, bounded output).
    """
    # Norms are precomputed per row on each side BEFORE the pair join —
    # per-pair work is then a single dot product instead of three
    # array-aggregations (3× less work on the |Q|×|N| hot path).
    q = quantize_embeddings(queries).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("q"),
        _norm(F.col("qvec")).alias("nq"),
    )
    c = quantize_embeddings(embeddings).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qvec").alias("v"),
        _norm(F.col("qvec")).alias("nv"),
    )
    cosine = _dot(F.col("q"), F.col("v")).cast("double") / (
        F.col("nq") * F.col("nv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(cosine, 6).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def sign_matrix(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane weights: plane p, dimension d gets
    +1/-1 by one md5("p:d") bit — reproducible in any engine/language with
    md5, no RNG state. Exposed so the DuckDB oracle can be generated from
    the exact same matrix."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16) % 2 == 0 else -1
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def _sign_bucket(qvec: str, n_planes: int, dim: int) -> Column:
    """Sign-random-projection bucket id from the deterministic hyperplanes
    of :func:`sign_matrix`: bucket = Σ_p (proj_p > 0) << p, integer ops
    only. ``qvec`` is the quantized-vector COLUMN NAME (it is spliced
    into a SQL expression string).
    """
    signs = sign_matrix(n_planes, dim)
    # Built as ONE parsed SQL expression: the equivalent Column-algebra
    # loop issues ~n_planes·dim·2 py4j roundtrips (~2s of driver time per
    # call site at 4×64 — pure plan-construction overhead); a single
    # F.expr parse is milliseconds and yields the same expression tree.
    planes = []
    for p in range(n_planes):
        terms = " + ".join(
            f"element_at({qvec}, {d + 1}) * {signs[p][d]}"
            for d in range(dim)
        )
        planes.append(f"(CASE WHEN ({terms}) > 0 THEN {1 << p} ELSE 0 END)")
    return F.expr("CAST(" + " + ".join(planes) + " AS BIGINT)")


def lsh_bucket_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    probe_hamming: int = 1,
) -> DataFrame:
    """ANN: bucket by sign-random-projection, exact re-rank within bucket.

    **Multi-probe**: each query also probes buckets within
    ``probe_hamming`` bit-flips of its own (a query near a hyperplane has
    neighbors just across it) — recall rises steeply for the cost of
    ``n_planes`` extra bucket lookups, no extra corpus passes. Recall < 1
    by design; the unit test checks recall against ``brute_force_topk``.
    At scale the bucket column is also the natural partition/cluster key
    for the corpus table.
    """
    c = quantize_embeddings(embeddings).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qvec").alias("v"),
        _norm(F.col("qvec")).alias("nv"),
        _sign_bucket("qvec", n_planes, dim).alias("bucket"),
    )
    q0 = quantize_embeddings(queries).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("q"),
        _norm(F.col("qvec")).alias("nq"),
        _sign_bucket("qvec", n_planes, dim).alias("bucket"),
    )
    if probe_hamming >= 1:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << p))
                for p in range(n_planes)
            ],
        )
        q = q0.select(
            "query_id", "q", "nq", F.explode(probes).alias("bucket")
        )
    else:
        q = q0
    cosine = _dot(F.col("q"), F.col("v")).cast("double") / (
        F.col("nq") * F.col("nv")
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(cosine, 6).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into ``n_centroids`` inverted
    lists by nearest centroid, probe the ``n_probe`` closest lists per
    query, exact cosine re-rank within them.

    Default centroids are the first ``n_centroids`` corpus vectors
    (deterministic seed choice, which is what the DuckDB oracle mirrors);
    pass ``centroids`` — the ``kmeans_fit`` output schema ``(cluster,
    centroid array<double>, ...)`` — to probe a trained index instead:
    trained lists are balanced, so probe fan-out per query is uniform
    instead of hotspotting on dense regions. The corpus assignment is one
    broadcast pass; at scale ``cluster`` is the partition/cluster key of
    the stored corpus, so a probe only scans ~n_probe/n_centroids of the
    data.
    """
    if centroids is not None:
        cent = centroids.select(
            F.col("cluster").alias("cent_id"),
            F.transform(
                "centroid",
                lambda x: F.round(x * QUANT_SCALE, 0).cast("bigint"),
            ).alias("cv"),
        )
        cent = cent.withColumn("cn", _norm(F.col("cv")))
    else:
        cent = quantize_embeddings(
            embeddings.filter(F.col(id_col) < n_centroids)
        ).select(
            F.col(id_col).alias("cent_id"),
            F.col("qvec").alias("cv"),
            _norm(F.col("qvec")).alias("cn"),
        )

    def _assign(df: DataFrame, vid: str, v: str, nrm: str, rn_max: int) -> DataFrame:
        cos_c = F.round(
            _dot(F.col(v), F.col("cv")).cast("double") / (F.col(nrm) * F.col("cn")),
            6,
        )
        w = Window.partitionBy(vid).orderBy(F.col("__cos_c").desc(), F.col("cent_id"))
        return (
            df.crossJoin(F.broadcast(cent))
            .withColumn("__cos_c", cos_c)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= rn_max)
            .drop("__cos_c", "__rn", "cv", "cn")
        )

    base = quantize_embeddings(embeddings).select(
        F.col(id_col).alias("id"),
        F.col("qvec").alias("v"),
        _norm(F.col("qvec")).alias("nv"),
    )
    # Corpus-side argmax (rn_max=1) as a pure projection over a one-row
    # broadcast centroid array — no corpus shuffle/sort (the query-side
    # probe keeps the window: |Q| rows, top-n_probe > 1). Tie-break
    # equivalence: array_max(struct(cos, -cent_id)) == cos DESC,
    # cent_id ASC (same struct comparator as ann_index._assign_clusters).
    cents_arr = cent.agg(
        F.array_sort(
            F.collect_list(F.struct("cent_id", "cv", "cn"))
        ).alias("__cents")
    )
    best = F.array_max(
        F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                F.round(
                    _dot(F.col("v"), c["cv"]).cast("double")
                    / (F.col("nv") * c["cn"]),
                    6,
                ).alias("cos"),
                (-c["cent_id"]).alias("negid"),
            ),
        )
    )
    assign = (
        base.crossJoin(F.broadcast(cents_arr))
        .withColumn("__best", best)
        .filter(F.col("__best").isNotNull())
        .select("id", "v", "nv", (-F.col("__best.negid")).alias("cluster"))
    )
    q = quantize_embeddings(queries).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("q"),
        _norm(F.col("qvec")).alias("nq"),
    )
    qprobe = _assign(q, "query_id", "q", "nq", n_probe).withColumnRenamed(
        "cent_id", "cluster"
    )
    cosine = _dot(F.col("q"), F.col("v")).cast("double") / (
        F.col("nq") * F.col("nv")
    )
    scored = (
        assign.join(F.broadcast(qprobe), "cluster")
        .filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(cosine, 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def brute_force_topk_arrow(
    embeddings: DataFrame,
    query_rows: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Vectorized numpy variant: queries are broadcast as a plain Python
    list, each Arrow batch is one BLAS matmul. Same quantized-integer math
    as :func:`brute_force_topk` so results agree exactly."""
    import numpy as np
    import pandas as pd

    qids = [int(q[0]) for q in query_rows]
    qmat = np.round(np.asarray([q[1] for q in query_rows], dtype=np.float64) * QUANT_SCALE)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))

    def score(batches):
        for pdf in batches:
            vmat = np.round(
                np.asarray(list(pdf[emb_col]), dtype=np.float64) * QUANT_SCALE
            )
            vnorm = np.sqrt((vmat * vmat).sum(axis=1))
            sims = (vmat @ qmat.T) / np.outer(vnorm, qnorm)
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(qids, len(pdf)),
                    "neighbor_id": np.tile(pdf[id_col].to_numpy(), len(qids)),
                    "cosine": np.round(sims.T.ravel(), 6),
                }
            )
            yield out[out.query_id != out.neighbor_id]

    scored = embeddings.mapInPandas(
        score, "query_id bigint, neighbor_id bigint, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def embedding_centroids(
    embeddings: DataFrame, group_col: str = "label"
) -> DataFrame:
    """Distributed per-group centroid (vector mean) — the k-means update /
    IVF list-training step. Returns (group, centroid array<double>,
    n_vectors).

    Plan shape: posexplode to (group, dim, component) rows, two-phase hash
    aggregate on (group, dim) — map-side partial SUMs mean shuffle volume
    is |groups| × D × partitions, independent of corpus rows — then a
    second tiny agg reassembles the D per-dim means into an ordered array.
    Components are quantized BIGINTs, so the partial sums are exact
    integers and the single final division is engine-portable.
    """
    q = quantize_embeddings(embeddings)
    e = q.select(group_col, F.posexplode("qvec").alias("pos", "v"))
    per_dim = e.groupBy(group_col, "pos").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("c")
    )
    return per_dim.groupBy(group_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s", "c"))),
            lambda x: F.round(
                x["s"].cast("double") / x["c"].cast("double"), 6
            ),
        ).alias("centroid"),
        F.max("c").cast("bigint").alias("n_vectors"),
    )


def normalize_embeddings(embeddings: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Unit-normalize each embedding: v / ‖v‖₂, rounded to 6 places.

    The squared norm is an exact BIGINT (quantized components), computed
    ONCE per row into a named column; the per-element division references
    it twice (zero-guard + divisor), which keeps CollapseProject from
    inlining the aggregate into the transform lambda — inlined, it would
    re-run the 64-term sum once per element (64× the work).
    Zero vectors normalize to NULL. Pure projection: no shuffle.
    """
    q = quantize_embeddings(embeddings)
    base = q.select(
        id_col,
        "qvec",
        F.aggregate(
            "qvec", F.lit(0).cast("bigint"), lambda a, x: a + x * x
        ).alias("ssq"),
    )
    ssq = F.col("ssq")
    return base.select(
        id_col,
        F.when(
            ssq > 0,
            F.transform(
                "qvec",
                lambda x: F.round(
                    x.cast("double") / F.sqrt(ssq.cast("double")), 6
                ),
            ),
        ).alias("unit_vec"),
    )


def _lloyd(
    points: DataFrame,
    centroids: DataFrame,
    iters: int,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Lloyd's iterations — the one loop behind :func:`kmeans_fit` and
    :func:`pq.pq_train`.

    ``points`` carries ``(*keys, qvec)`` (other columns are ignored) and
    ``centroids`` the initial ``(*keys, cluster, cvec)``, both quantized
    BIGINT arrays. Each ``keys`` value is an independent k-means: a
    point is only assigned to the centroids of its own keys. Returns
    ``(*keys, cluster, centroid array<double>, n_vectors)``.

    Scale shape per iteration: the centroids collapse to ONE broadcast
    row holding an array of ``(*keys, cluster, cvec)`` structs, and the
    assignment is a pure projection — ``array_min(struct(d, cluster))``
    over exact-BIGINT squared distances, ties broken on cluster id by
    the struct ordering. The only exchange per iteration is the
    ``(*keys, cluster, pos)`` partial-sum update (|centroids| × D rows,
    corpus-size-independent). The round chain stays lazy: nothing runs
    until the final pin, so the whole train executes as one query with
    one corpus pass per round. Callers cache ``points``.
    """

    def _cent_arr(cent: DataFrame) -> DataFrame:
        return cent.agg(
            F.array_sort(
                F.collect_list(F.struct(*keys, "cluster", "cvec"))
            ).alias("__cents")
        )

    def _best_cluster(carr: Column) -> Column:
        if keys:
            carr = F.filter(
                carr,
                lambda c: reduce(
                    lambda a, b: a & b, [c[k] == F.col(k) for k in keys]
                ),
            )
        return F.array_min(
            F.transform(
                carr,
                lambda c: F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("qvec"),
                            c["cvec"],
                            lambda x, y: (x - y) * (x - y),
                        ),
                        F.lit(0).cast("bigint"),
                        lambda a, x: a + x,
                    ).alias("d"),
                    c["cluster"].alias("cluster"),
                ),
            )
        )["cluster"]

    def _assign(cent: DataFrame) -> DataFrame:
        return points.crossJoin(F.broadcast(_cent_arr(cent))).select(
            *keys, "qvec", _best_cluster(F.col("__cents")).alias("cluster")
        )

    for _ in range(iters):
        per_dim = (
            _assign(centroids)
            .select(*keys, "cluster", F.posexplode("qvec").alias("pos", "v"))
            .groupBy(*keys, "cluster", "pos")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
        )
        centroids = per_dim.groupBy(*keys, "cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s", "c"))),
                lambda x: F.round(
                    x["s"].cast("double") / x["c"].cast("double"), 0
                ).cast("bigint"),
            ).alias("cvec")
        )
    # The FINAL centroid relation (tiny) is referenced twice — the
    # occupancy pass's broadcast and the returned join's left side — and
    # each reference re-derives the whole nested iteration tree over the
    # cached points. Pin it so the train lineage executes once.
    centroids = centroids.localCheckpoint(eager=True)
    sizes = (
        _assign(centroids)
        .groupBy(*keys, "cluster")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )
    return centroids.join(sizes, [*keys, "cluster"], "left").select(
        *keys,
        "cluster",
        F.transform("cvec", lambda x: x.cast("double") / QUANT_SCALE).alias(
            "centroid"
        ),
        F.coalesce("n_vectors", F.lit(0)).alias("n_vectors"),
    )


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    init_centroids: DataFrame | None = None,
) -> DataFrame:
    """Lloyd's k-means over an embedding column — the iterative class the
    DuckDB oracle can't express (driver records the rows-only check; the
    unit test plants separable clusters and asserts recovery). The
    iterations are :func:`_lloyd` over the cached quantized corpus.

    Determinism: init = the k lowest ids' vectors; distances are exact
    BIGINT sums of squares on quantized components; centroid updates
    re-quantize means to BIGINT; argmin ties break on cluster id via the
    struct ordering.

    ``init_centroids`` (a (cluster, centroid float array) relation, e.g.
    a stored index's centroid table) WARM-STARTS Lloyd from those
    centroids instead of the lowest-id init — the refine-on-drift path:
    one or two rounds re-center an existing quantizer on the current
    corpus without the full rebuild. ``k`` is ignored when given.
    """
    q = quantize_embeddings(embeddings).select(id_col, "qvec").cache()
    if init_centroids is not None:
        # Re-quantize stored float centroids exactly as _centroid_rel
        # does — bit-identical to the quantized components they were
        # derived from.
        centroids = init_centroids.select(
            F.col("cluster").cast("int").alias("cluster"),
            F.transform(
                "centroid",
                lambda x: F.round(x * QUANT_SCALE, 0).cast("bigint"),
            ).alias("cvec"),
        )
    else:
        centroids = (
            q.orderBy(id_col)
            .limit(k)
            .select(
                (F.row_number().over(Window.orderBy(id_col)) - 1).alias(
                    "cluster"
                ),
                F.col("qvec").alias("cvec"),
            )
        )
    return _lloyd(q, centroids, iters)


def quantize_int8(
    embeddings: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Per-dimension affine int8 quantization — 4×/8× vector storage
    compression before ANN indexing: code = round((v−min)·255 / (max−min)),
    constant dims map to 0.

    Scale shape: the per-dim min/max stats are a two-phase agg on dim
    (shuffle bounded by D × partitions, corpus-size-independent, same as
    `embedding_centroids`); the D-element (mins, maxs) pair collapses to a
    ONE-ROW relation that broadcasts onto the corpus, and the encode step
    is a pure codegen projection. Numerators are exact BIGINTs (quantized
    components), so the single double division is engine-portable.
    """
    q = quantize_embeddings(embeddings)
    stats = (
        q.select(F.posexplode("qvec").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mn"))),
                lambda x: x["mn"],
            ).alias("mns"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mx"))),
                lambda x: x["mx"],
            ).alias("mxs"),
        )
    )
    mns, mxs = F.col("mns"), F.col("mxs")
    return (
        q.crossJoin(F.broadcast(stats))
        .select(
            id_col,
            F.transform(
                "qvec",
                lambda v, i: F.when(
                    F.element_at(mxs, i + 1) == F.element_at(mns, i + 1),
                    F.lit(0).cast("bigint"),
                ).otherwise(
                    F.round(
                        ((v - F.element_at(mns, i + 1)) * 255).cast("double")
                        / (
                            F.element_at(mxs, i + 1) - F.element_at(mns, i + 1)
                        ).cast("double"),
                        0,
                    ).cast("bigint")
                ),
            ).alias("codes"),
        )
    )


def rerank_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    coarse_dim: int = 16,
    n_candidates: int = 30,
    id_col: str = "vec_id",
) -> DataFrame:
    """Coarse-to-fine cosine top-k: rank ALL corpus vectors by a cheap
    truncated-dimension cosine (the first ``coarse_dim`` components — the
    Matryoshka-representation / FAISS-refine pattern), keep
    ``n_candidates`` per query, then re-rank only those candidates with
    the exact full-dimension cosine.

    Scale shape: stage 1 scans the corpus once against the broadcast
    query set touching ``coarse_dim/dim`` of the vector bytes, and the
    per-query top-C window carries only (ids, score) — never the vectors.
    Stage 2 re-scans the corpus with a **broadcast semi-probe of the
    |Q|×C candidate ids** (each candidate row carries its query's full
    vector from the broadcast side), so the full-precision math runs on
    |Q|×C pairs instead of |Q|×|N|. Total: two corpus scans, zero corpus
    shuffles, output bounded by |Q|×k. Recall is governed by
    n_candidates/k exactly as in IVF-refine; the result is deterministic
    (not necessarily identical to brute force — that is the point of the
    coarse stage, and the oracle mirrors the same two-stage semantics).

    Exactness: both stages use the quantized-BIGINT dot products of this
    module; cosines round(·, 6) before ranking with id tiebreaks — the
    sqrt in the norm makes the rounded value safe cross-engine (never an
    exactly-representable decimal boundary).
    """
    q = quantize_embeddings(queries).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("q"),
        _norm(F.slice(F.col("qvec"), 1, coarse_dim)).alias("nq_c"),
        _norm(F.col("qvec")).alias("nq"),
    )
    c = quantize_embeddings(embeddings).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qvec").alias("v"),
        _norm(F.slice(F.col("qvec"), 1, coarse_dim)).alias("nv_c"),
        _norm(F.col("qvec")).alias("nv"),
    )
    coarse_cos = _dot(
        F.slice(F.col("q"), 1, coarse_dim), F.slice(F.col("v"), 1, coarse_dim)
    ).cast("double") / (F.col("nq_c") * F.col("nv_c"))
    w_coarse = Window.partitionBy("query_id").orderBy(
        F.col("coarse_cosine").desc(), F.col("neighbor_id")
    )
    candidates = (
        c.select("neighbor_id", "v", "nv_c")
        .crossJoin(F.broadcast(q.select("query_id", "q", "nq_c")))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(coarse_cos, 6).alias("coarse_cosine"),
        )
        .withColumn("coarse_rank", F.row_number().over(w_coarse))
        .filter(F.col("coarse_rank") <= n_candidates)
        .select("query_id", "neighbor_id")
    )
    # Stage 2: candidates (|Q|×C rows) pick up the full query vector from
    # the tiny broadcast side, then probe the corpus by neighbor_id — the
    # corpus-side join key — as a broadcast hash join.
    probe = candidates.join(
        F.broadcast(q.select("query_id", "q", "nq")), "query_id"
    )
    full_cos = _dot(F.col("q"), F.col("v")).cast("double") / (
        F.col("nq") * F.col("nv")
    )
    rescored = (
        c.select("neighbor_id", "v", "nv")
        .join(F.broadcast(probe), "neighbor_id")
        .select(
            "query_id", "neighbor_id", F.round(full_cos, 6).alias("cosine")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def knn_classify(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote classification over the labeled embedding
    corpus — the classifier-inference pattern of quality/educational-value
    scoring pipelines (label a small seed set, propagate to the corpus by
    nearest neighbors), plus its own evaluation column.

    Scale shape: the neighbor search is :func:`brute_force_topk` (swap in
    the IVF/LSH variants for a larger query side — identical downstream),
    so the corpus is scanned, never shuffled. Everything after operates
    on the |Q|×k neighbor relation: the label pickup **broadcasts the
    neighbor ids into a second corpus scan** (corpus-side join key, tiny
    build side), voting and the argmax window run on ≤ |Q|×k rows.

    Determinism: votes are exact counts; the winning label breaks vote
    ties on the smaller label id; the query's own row is excluded from
    its neighborhood by the top-k operator.

    Emits one row per query: predicted label, its vote count, the
    query's true label and a correctness flag (aggregate for accuracy).
    """
    neighbors = brute_force_topk(embeddings, queries, k=k, id_col=id_col)
    labels = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).cast("int").alias("__nlabel"),
    )
    votes = (
        labels.join(
            F.broadcast(neighbors.select("query_id", "neighbor_id")),
            "neighbor_id",
        )
        .groupBy("query_id", "__nlabel")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("__nlabel")
    )
    winners = (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "query_id",
            F.col("__nlabel").alias("predicted_label"),
            F.col("n_votes").cast("bigint").alias("n_votes"),
        )
    )
    truth = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).cast("int").alias("query_label"),
    )
    return winners.join(F.broadcast(truth), "query_id").select(
        "query_id",
        "predicted_label",
        "n_votes",
        "query_label",
        (F.col("predicted_label") == F.col("query_label")).alias("correct"),
    )


def recall_at_k(retrieved: DataFrame, truth: DataFrame) -> DataFrame:
    """Per-query recall@k of one retrieval result against a ground-truth
    result — the metric every ANN deployment monitors (and the engine can
    compute in-line, since the exact baseline is just another query).
    Both inputs are (query_id, neighbor_id, ...) top-k relations, e.g.
    :func:`ivf_topk` / :func:`lsh_bucket_topk` / :func:`rerank_topk`
    against :func:`brute_force_topk`.

    Scale shape: both sides are ≤ |Q|×k rows regardless of corpus size,
    so this is a broadcast-joinable metric over already-bounded outputs —
    the expensive part is producing the inputs, not comparing them.
    Counts are exact BIGINTs; recall is one unrounded double division.
    """
    n_true = truth.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true")
    )
    hits = (
        retrieved.select("query_id", "neighbor_id")
        .join(
            F.broadcast(truth.select("query_id", "neighbor_id")),
            ["query_id", "neighbor_id"],
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    )
    return (
        n_true.join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_true",
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
            (
                F.coalesce("n_hit", F.lit(0)).cast("double")
                / F.col("n_true").cast("double")
            ).alias("recall"),
        )
    )


def hard_negatives(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each labeled
    anchor, the k nearest corpus vectors carrying a DIFFERENT label —
    the pairs an embedding-model trainer wants most (close in the space,
    apart in truth), and the standard way retrieval pipelines build
    negatives for InfoNCE/triplet losses.

    Scale shape: identical to :func:`brute_force_topk` — the anchor set
    broadcasts into one corpus scan (no corpus shuffle), the label
    mismatch is a filter BEFORE the per-anchor top-k window, and output
    is bounded at |Q|×k. For a large anchor set, swap the scoring stage
    for :func:`ivf_topk` candidates and re-apply the same label filter —
    downstream is unchanged.

    Determinism: integer-quantized cosine rounded to 6 places before
    ranking, ties on the smaller negative id.
    """
    q = quantize_embeddings(queries).select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).cast("int").alias("__qlabel"),
        F.col("qvec").alias("q"),
        _norm(F.col("qvec")).alias("nq"),
    )
    c = quantize_embeddings(embeddings).select(
        F.col(id_col).alias("negative_id"),
        F.col(label_col).cast("int").alias("negative_label"),
        F.col("qvec").alias("v"),
        _norm(F.col("qvec")).alias("nv"),
    )
    cosine = _dot(F.col("q"), F.col("v")).cast("double") / (
        F.col("nq") * F.col("nv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(
            (F.col("negative_id") != F.col("query_id"))
            & (F.col("negative_label") != F.col("__qlabel"))
        )
        .select(
            "query_id",
            "negative_id",
            "negative_label",
            F.round(cosine, 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "negative_id", "negative_label", "cosine")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k_rrf: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) over N ranked
    lists: score(d) = Σ_i 1/(k_rrf + rank_i(d)) — the standard way a
    hybrid retrieval stack combines a sparse (BM25) and a dense (ANN)
    ranking without score calibration.

    Engine-portable determinism: each list's contribution is ONE double
    division from integers (identical in any IEEE engine); the
    contributions are pivoted into per-source columns and added in fixed
    source order (float addition is not associative — an unordered SUM
    could differ in the last bit); rounded to 6 before ranking, ties on
    the id.

    Scale shape: the inputs are already top-k relations (bounded rows
    regardless of corpus size), so fusion is a broadcast-scale pivot —
    the expensive part is producing the input rankings, never combining
    them. Works for any N lists; each doc contributes at most one rank
    per list.
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    contribs = None
    for i, r in enumerate(rankings):
        c = r.select(
            F.col(id_col),
            F.lit(i).alias("__src"),
            (
                F.lit(1.0)
                / (F.lit(k_rrf) + F.col(rank_col)).cast("double")
            ).alias("__c"),
        )
        contribs = c if contribs is None else contribs.unionByName(c)
    per_src = [
        F.coalesce(
            F.max(F.when(F.col("__src") == i, F.col("__c"))),
            F.lit(0.0),
        ).alias(f"__s_{i}")
        for i in range(len(rankings))
    ]
    piv = contribs.groupBy(id_col).agg(
        *per_src, F.count(F.lit(1)).cast("bigint").alias("n_lists")
    )
    total = F.col("__s_0")
    for i in range(1, len(rankings)):
        total = total + F.col(f"__s_{i}")
    top = (
        piv.withColumn("rrf_score", F.round(total, 6))
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(k)
    )
    w = Window.orderBy(F.desc("rrf_score"), F.asc(id_col))
    return top.withColumn(
        "rank", F.row_number().over(w)
    ).select(id_col, "n_lists", "rrf_score", "rank")


def mmr_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_candidates: int = 20,
    lam: tuple[int, int] = (1, 2),
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell–Goldstein, SIGIR'98)
    diverse top-k: greedily pick the candidate maximizing
    λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s) — the de-dup-at-retrieval
    step RAG stacks run so the k passages aren't five copies of the
    same paragraph.

    λ is a RATIONAL (num, den) and the score is computed as
    (num·rel − (den−num)·maxsim)/den from already-rounded cosines —
    every operand is bit-identical cross-engine, so the greedy argmax
    (ties on id) is deterministic and the whole selection replays
    byte-for-byte in any engine: the iterative loop is oracle-checkable
    by unrolling its k fixed rounds.

    Scale shape: relevance candidates come from :func:`brute_force_topk`
    (swap in the IVF/LSH retriever at scale — downstream unchanged);
    everything after operates on the |Q|×n_candidates relation and its
    within-query pair cosines (|Q|·n² bounded rows, never the corpus).
    Each greedy round materializes the ≤ |Q|·k selection (eager
    checkpoint) so plan lineage stays LINEAR in k instead of
    exponential — the bounded-relation analogue of the kmeans round
    structure.
    """
    num, den = lam
    if not (0 < num < den):
        raise ValueError("lam must be a proper fraction (num, den)")
    cands = brute_force_topk(
        embeddings, queries, k=n_candidates, id_col=id_col
    ).select(
        "query_id",
        F.col("neighbor_id").alias("vec_id"),
        F.col("cosine").alias("rel"),
    )
    qv = quantize_embeddings(embeddings).select(
        F.col(id_col).alias("vec_id"),
        F.col("qvec").alias("v"),
        _norm(F.col("qvec")).alias("nv"),
    )
    cv = cands.join(qv, "vec_id").localCheckpoint(eager=True)
    a = cv.select(
        "query_id",
        F.col("vec_id").alias("ia"),
        F.col("v").alias("va"),
        F.col("nv").alias("na"),
    )
    b = cv.select(
        "query_id",
        F.col("vec_id").alias("ib"),
        F.col("v").alias("vb"),
        F.col("nv").alias("nb"),
    )
    pc = F.round(
        _dot(F.col("va"), F.col("vb")).cast("double")
        / (F.col("na") * F.col("nb")),
        6,
    )
    pairs = (
        a.join(b, "query_id")
        .filter(F.col("ia") != F.col("ib"))
        .select("query_id", "ia", "ib", pc.alias("pc"))
        .localCheckpoint(eager=True)
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("rel"), F.asc("vec_id")
    )
    sel = (
        cv.select("query_id", "vec_id", "rel")
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") == 1)
        .select(
            "query_id",
            F.lit(1).alias("pick"),
            "vec_id",
            F.col("rel").alias("score"),
        )
        .localCheckpoint(eager=True)
    )
    for r in range(2, k + 1):
        ms = (
            pairs.join(
                sel.select("query_id", F.col("vec_id").alias("ib")),
                ["query_id", "ib"],
            )
            .groupBy("query_id", F.col("ia").alias("vec_id"))
            .agg(F.max("pc").alias("ms"))
        )
        rem = cv.select("query_id", "vec_id", "rel").join(
            sel.select("query_id", "vec_id"),
            ["query_id", "vec_id"],
            "left_anti",
        )
        score = F.round(
            (
                F.lit(num) * F.col("rel")
                - F.lit(den - num) * F.col("ms")
            )
            / F.lit(den),
            6,
        )
        wr = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("vec_id")
        )
        pick = (
            rem.join(ms, ["query_id", "vec_id"])
            .withColumn("score", score)
            .withColumn("__rn", F.row_number().over(wr))
            .filter(F.col("__rn") == 1)
            .select(
                "query_id", F.lit(r).alias("pick"), "vec_id", "score"
            )
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
    return sel


def srp_project(
    embeddings: DataFrame,
    n_planes: int = 16,
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Signed-random-projection dimensionality reduction: project each
    quantized vector onto ``n_planes`` deterministic ±1 hyperplanes
    (the :func:`sign_matrix` family — reproducible in any engine from
    md5, no RNG state). The 64-dim float embedding becomes n exact
    BIGINT coordinates preserving cosine structure in expectation
    (Charikar'02) — the cheap pre-projection before sketch-based dedup,
    banding, or shipping vectors to a system that only speaks integers.

    The sign rows ride a broadcast n_planes-row relation and the
    projection is one ``zip_with`` dot product per (vector, plane) —
    inlining all n·dim terms into a single stack expression instead
    blows the JVM method-size limit (observed
    InternalCompilerException → interpreted fallback at 16×64). Zero
    shuffles; output long format (vec_id, plane, value) so downstream
    pivots choose their own shape.
    """
    signs = sign_matrix(n_planes, dim)
    spark = embeddings.sparkSession
    sign_rows = spark.createDataFrame(
        [(p, signs[p]) for p in range(n_planes)],
        "plane int, srow array<bigint>",
    )
    q = quantize_embeddings(embeddings).select(
        F.col(id_col).alias("vec_id"), "qvec"
    )
    return q.crossJoin(F.broadcast(sign_rows)).select(
        "vec_id",
        "plane",
        _dot(F.col("qvec"), F.col("srow")).alias("value"),
    )


def srp_neighbor_recall(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 16,
    id_col: str = "vec_id",
) -> DataFrame:
    """Neighborhood-preservation evaluation of the SRP projection: for
    each query, recall@k of the top-k computed in the n_planes-dim
    projected space against the exact top-k in the original space —
    the number that tells you whether a cheap projected index is safe
    to route retrieval through (the JL-lemma check, measured in-engine
    instead of assumed).

    Both rankings are integer-quantized cosines rounded to 6 before
    ranking; the metric join operates on |Q|×k bounded relations
    (:func:`recall_at_k`), so the eval costs two retrieval passes and
    nothing more."""
    proj = (
        srp_project(embeddings, n_planes=n_planes, id_col=id_col)
        .groupBy("vec_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("plane", "value"))
            ).alias("s")
        )
        .select(
            "vec_id", F.expr("transform(s, x -> x.value)").alias("pv")
        )
    )
    qids = queries.select(F.col(id_col).alias("vec_id"))
    qp = proj.join(F.broadcast(qids), "vec_id").select(
        F.col("vec_id").alias("query_id"),
        F.col("pv").alias("q"),
        _norm(F.col("pv")).alias("nq"),
    )
    cp = proj.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("pv").alias("v"),
        _norm(F.col("pv")).alias("nv"),
    )
    cosine = _dot(F.col("q"), F.col("v")).cast("double") / (
        F.col("nq") * F.col("nv")
    )
    scored = (
        cp.crossJoin(F.broadcast(qp))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", F.round(cosine, 6).alias("cosine")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    approx = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )
    truth = brute_force_topk(embeddings, queries, k=k, id_col=id_col)
    return recall_at_k(approx, truth)


def cluster_quota(
    embeddings: DataFrame,
    centroids: DataFrame | None = None,
    k: int = 4,
    cap: int = 25,
    fanout: int = 32,
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-cluster diversity cap — the cluster-balanced pruning step of
    embedding-space data selection (SemDeDup / D4 family: cluster the
    corpus, then thin each cluster instead of sampling globally, so one
    dense semantic region cannot dominate the kept set the way one hot
    domain dominates a crawl). Keeps at most ``cap`` members per
    cluster, ranked PERIPHERAL-first (exact squared distance to the
    centroid, DESC, ties on id): near-centroid prototypes — the most
    redundant members — are pruned first, preserving each cluster's
    diversity frontier.

    ``centroids``: a (cluster, cvec array<bigint>) relation, e.g. a
    stored index's quantized quantizer. ``None`` derives the
    deterministic k-lowest-id proto-centroids — the same init as
    ``kmeans_fit`` / the `kmeans_assign` face, so the whole face is
    engine-portable and oracle-checkable end to end.

    Scale shape: assignment is the broadcast k-row nested loop over
    exact-BIGINT components (no corpus shuffle — `_assign`'s shape);
    the cap is the exact two-level top-k merge (`mixture.source_quota`'s
    shape): rank within (cluster, id % fanout) truncating at ``cap``,
    then rank the ≤ fanout·cap survivors — a mega-cluster never funnels
    through one window task. Exact because a cluster's true top-``cap``
    by (dist2 DESC, id) is contained in the union of its per-slice
    top-``cap``s. Returns (vec_id, cluster, dist2, keep_rank).
    """
    q = quantize_embeddings(embeddings).select(
        F.col(id_col).alias("vec_id"), "qvec"
    )
    if centroids is None:
        centroids = (
            q.orderBy("vec_id")
            .limit(k)
            .select(
                (
                    F.row_number().over(Window.orderBy("vec_id")) - 1
                ).alias("cluster"),
                F.col("qvec").alias("cvec"),
            )
        )
    d2 = F.aggregate(
        F.zip_with("qvec", "cvec", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    assigned = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("d2", d2)
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cluster")).alias("best"))
        .select(
            "vec_id",
            F.col("best.cluster").cast("int").alias("cluster"),
            F.col("best.d2").cast("bigint").alias("dist2"),
            F.pmod(F.col("vec_id").cast("bigint"), F.lit(fanout)).alias(
                "__slice"
            ),
        )
    )
    w1 = Window.partitionBy("cluster", "__slice").orderBy(
        F.col("dist2").desc(), "vec_id"
    )
    survivors = (
        assigned.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= cap)
        .drop("__slice", "__r1")
    )
    w2 = Window.partitionBy("cluster").orderBy(
        F.col("dist2").desc(), "vec_id"
    )
    return (
        survivors.withColumn(
            "keep_rank", F.row_number().over(w2).cast("int")
        )
        .filter(F.col("keep_rank") <= cap)
        .select("vec_id", "cluster", "dist2", "keep_rank")
    )
