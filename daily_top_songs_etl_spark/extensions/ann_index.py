"""Persisted ANN index lifecycle: train once, store in the catalog,
query many times.

The inline `ivf_topk` re-assigns the corpus per query call; a production
index amortizes that: `build_ann_index` fits k-means centroids and
materializes the inverted lists — each corpus vector stored WITH its
pre-quantized components and norm under its cluster key — into versioned
catalog tables. `query_ann_index` then touches only the centroid table
(tiny, broadcast) and the ~n_probe/n_centroids fraction of the stored
lists; no corpus-wide pass, no re-quantization. At scale the lists table
is partitioned/clustered by `cluster`, so a probe is a partition-pruned
scan — the Spark analogue of reading an IVF posting list.

Rebuilding writes new snapshot versions (catalog semantics), so queries
racing a rebuild read a consistent older index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..operators.ledger import apply_once
from .similarity import QUANT_SCALE, _dot, _norm, kmeans_fit, quantize_embeddings


def _centroid_rel(centroids: DataFrame) -> DataFrame:
    return centroids.select(
        F.col("cluster").alias("cent_id"),
        F.transform(
            "centroid", lambda x: F.round(x * QUANT_SCALE, 0).cast("bigint")
        ).alias("cv"),
    ).withColumn("cn", _norm(F.col("cv")))


def _assign_clusters(base: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid (cosine) assignment of quantized vectors ``base``
    (vec_id, v, nv) against the centroid relation ``cent`` — ties break
    on the lower centroid id.

    The k centroids collapse to ONE broadcast row holding an array of
    structs, and the argmax is ``array_max`` over that array — a pure
    projection. The previous shape (crossJoin to k rows per vector +
    ``row_number`` window over ``vec_id``) shuffled AND sorted k× the
    corpus; this shuffles nothing. Tie-break equivalence is exact:
    ``array_max(struct(cos, -cent_id))`` picks max cosine then min
    cent_id, with the same NaN-largest / null-smallest / -0.0 == 0.0
    ordering as the window's ``cos DESC, cent_id ASC`` (verified against
    Spark's struct comparator). An empty centroid relation yields a NULL
    argmax, filtered to reproduce the old empty-join result."""
    cents = cent.agg(
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
    return (
        base.crossJoin(F.broadcast(cents))
        .withColumn("__best", best)
        .filter(F.col("__best").isNotNull())
        .select(
            "vec_id",
            (-F.col("__best.negid")).alias("cluster"),
            "v",
            "nv",
        )
    )


def build_ann_index(
    catalog: Catalog,
    name: str,
    embeddings: DataFrame,
    n_centroids: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> None:
    """Fit the coarse quantizer and materialize centroids + inverted
    lists as catalog tables ``{name}__centroids`` / ``{name}__lists``.

    The stored ``n_vectors`` is the occupancy of the STORED lists (the
    quantized-cosine assignment), not kmeans' training assignment — the
    two can differ by a few boundary vectors, and occupancy must
    describe the artifact it rides with so the append/delete O(k)
    bookkeeping stays exactly consistent with actual list contents
    (round-7 invariant; the delete face asserts it absolutely).

    ``centroids`` — a pre-trained (cluster, centroid float array)
    quantizer — skips the kmeans fit and builds the lists under the
    GIVEN geometry. This is the sharded-build half of the production
    IVF flow (train the coarse quantizer once on a sample, build one
    index per corpus shard in parallel under the SHARED quantizer, then
    :func:`merge_ann_index` the shards): per-shard builds never see
    each other, and because per-vector assignment depends only on
    (vector, centroids), the merged lists are bit-identical to a
    one-shot build of the union."""
    if centroids is None:
        # k tiny rows, referenced twice (the assignment broadcast AND the
        # centroid-table write) — pin so the iterative Lloyd lineage
        # executes once, not once per reference
        centroids = kmeans_fit(
            embeddings, k=n_centroids, iters=iters, id_col=id_col
        ).localCheckpoint(eager=True)
    cent = _centroid_rel(centroids)
    base = quantize_embeddings(embeddings).select(
        F.col(id_col).alias("vec_id"),
        F.col("qvec").alias("v"),
        _norm(F.col("qvec")).alias("nv"),
    )
    # referenced twice (occupancy + the partitioned write) — pin it
    lists = _assign_clusters(base, cent).localCheckpoint(eager=True)
    occ = lists.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors")
    )
    # Both index tables publish under ONE staged multi-table commit
    # (one writer lock, one intent manifest, atomic pointer flips with
    # roll-forward recovery): a crash can never leave the new centroid
    # occupancy visible next to the old inverted lists — the
    # cross-table torn-index window per-table write() left open.
    # The inverted lists are PARTITIONED by cluster, so a probe is a
    # partition-pruned read of ~n_probe/n_centroids of the index — the
    # on-disk analogue of an IVF posting list (query_ann_index collects
    # the ≤ |Q|·n_probe probe clusters into a static partition filter).
    catalog.commit_tables(
        {
            f"{name}__centroids": centroids.select("cluster", "centroid")
            .join(occ, "cluster", "left")
            .select(
                "cluster",
                "centroid",
                F.coalesce("n_vectors", F.lit(0)).alias("n_vectors"),
            ),
            f"{name}__lists": lists,
        },
        partition_bys={f"{name}__lists": ["cluster"]},
    )


def append_to_ann_index(
    catalog: Catalog,
    name: str,
    embeddings: DataFrame,
    id_col: str = "vec_id",
    batch_id: int | str | None = None,
) -> bool:
    """Fold a batch of NEW vectors into the persisted index WITHOUT
    retraining — the standard IVF ingest path (FAISS ``add_with_ids``
    semantics): each batch vector is assigned to its nearest STORED
    centroid (broadcast k rows — batch-sized work, never a corpus pass)
    and appended to the partitioned inverted lists. Works on both
    layouts: flat lists (:func:`build_ann_index`) get pre-quantized
    components + norms; PQ-coded lists (:func:`build_ivfpq_index`) are
    encoded with the STORED codebook — no subspace retraining either.

    The tiny centroid table is re-versioned with updated ``n_vectors``
    occupancy (stored counts + batch counts — an O(k) bookkeeping write,
    not a lists scan). Centroids/codebooks drift only on an explicit
    rebuild, so recall degrades gracefully as the appended fraction
    grows; rebuild cadence is the operator's knob, exactly as in a
    production IVF deployment.

    Pass ``batch_id`` from an at-least-once caller (foreachBatch): list
    growth then goes through ``catalog.append_once`` and the occupancy
    update commits with the applied-batch ledger in the centroid table's
    meta (``operators/ledger.apply_once``), so a replayed batch, an
    out-of-order replay of an older one included, converges to ONE copy
    of its rows and ONE count increment. Returns False for a refused
    replay, True once the occupancy is committed."""
    cent_table = f"{name}__centroids"

    def stage(meta: dict) -> dict:
        cent = _centroid_rel(catalog.read(cent_table))
        base = quantize_embeddings(embeddings).select(
            F.col(id_col).alias("vec_id"),
            F.col("qvec").alias("v"),
            _norm(F.col("qvec")).alias("nv"),
        )
        assigned = _assign_clusters(base, cent).localCheckpoint(eager=True)
        if catalog.exists(f"{name}__pqlists"):
            from .pq import pq_encode

            codebook = catalog.read(f"{name}__codebook")
            # geometry from the codebook's table meta (recorded at
            # build); pre-upgrade indexes without it fall back to
            # deriving each with a Spark job, exactly as before
            cb_meta = catalog.read_meta(f"{name}__codebook") or {}
            m = (
                int(cb_meta["m"])
                if "m" in cb_meta
                else int(codebook.agg(F.max("subspace")).first()[0]) + 1
            )
            codes = pq_encode(
                embeddings, codebook, m=m, id_col=id_col,
                d=int(cb_meta["d"]) if "d" in cb_meta else None,
            ).withColumnRenamed(id_col, "vec_id")
            rows = (
                assigned.select("vec_id", "cluster")
                .join(codes, "vec_id")
                .select(
                    "vec_id", "cluster", *[f"code_{j}" for j in range(m)]
                )
            )
            table = f"{name}__pqlists"
        else:
            rows = assigned
            table = f"{name}__lists"
        if batch_id is None:
            catalog.append(rows, table, partition_by=["cluster"])
        else:
            catalog.append_once(
                rows, table, batch_id, partition_by=["cluster"]
            )
        batch_counts = assigned.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("__b")
        )
        updated = (
            catalog.read(cent_table)
            .join(batch_counts, "cluster", "left")
            .select(
                "cluster",
                "centroid",
                (F.col("n_vectors") + F.coalesce("__b", F.lit(0))).alias(
                    "n_vectors"
                ),
            )
        )
        staged_v = catalog.stage_table(updated, cent_table, meta=meta)
        return {cent_table: staged_v}

    return apply_once(catalog, cent_table, batch_id, stage)


def merge_ann_index(
    catalog: Catalog,
    dst: str,
    src: str,
    batch_id: int | str | None = None,
) -> bool:
    """Fold index ``src``'s inverted lists into index ``dst`` — the
    FAISS ``merge_from`` / sharded-IVF consolidation step. The intended
    flow at scale: train the coarse quantizer ONCE (on a sample), build
    one index per corpus shard in parallel under the shared quantizer
    (:func:`build_ann_index` with ``centroids=``), then merge. Because
    per-vector assignment depends only on (vector, centroids), a merge
    of shard indexes is bit-identical to a one-shot build of the union
    corpus — the invariance ``q_ann_index_merge``'s oracle hash-checks.

    Physical shape: the lists union is a partition-aligned FILE-level
    append (``append_once_files`` reuses src's stored data files into
    the per-cluster partition directories — hardlink / manifest reuse,
    no Spark read+write, no read of ``dst``'s existing lists) and
    the occupancy update is O(k): merged ``n_vectors`` = dst stored +
    src stored, both already truthful for their own lists. Nothing
    scans either corpus.

    Guards: both indexes must share centroid geometry (compared on the
    QUANTIZED components — the exact values assignment used), and PQ
    layouts must additionally share the codebook; a mismatch raises
    rather than silently producing an index whose lists disagree with
    its quantizer.

    Exactly-once (the :func:`append_to_ann_index` contract): list growth
    goes through ``append_once_files`` keyed by ``batch_id`` (default
    ``"merge-{src}"`` — batch ids become snapshot file names, so no
    URI-reserved characters) and the occupancy increment, read from
    ``src``'s immutable STORED occupancy, commits with the ledger.
    Returns False for a refused replay."""
    if batch_id is None:
        batch_id = f"merge-{src}"
    cent_table = f"{dst}__centroids"

    def stage(meta: dict) -> dict:
        dst_cent = catalog.read(cent_table)
        src_cent = catalog.read(f"{src}__centroids")

        def _geom(cent_df: DataFrame) -> dict:
            rel = _centroid_rel(cent_df)
            return {
                int(r["cent_id"]): [int(x) for x in r["cv"]]
                for r in rel.select("cent_id", "cv").collect()
            }

        if _geom(dst_cent) != _geom(src_cent):
            raise ValueError(
                f"merge_ann_index: {src!r} was not built under {dst!r}'s "
                "coarse quantizer — shard indexes must share centroid "
                "geometry (build shards with build_ann_index(centroids=...))"
            )
        has_pq = catalog.exists(f"{dst}__pqlists")
        if has_pq or catalog.exists(f"{src}__pqlists"):
            if not (has_pq and catalog.exists(f"{src}__pqlists")):
                raise ValueError(
                    "merge_ann_index: cannot merge a PQ-coded index with a "
                    "flat-list index"
                )

            def _cb(cb: DataFrame) -> dict:
                return {
                    (int(r["subspace"]), int(r["code"])): [
                        int(round(float(x) * QUANT_SCALE))
                        for x in r["centroid"]
                    ]
                    for r in cb.collect()
                }

            if _cb(catalog.read(f"{dst}__codebook")) != _cb(
                catalog.read(f"{src}__codebook")
            ):
                raise ValueError(
                    f"merge_ann_index: {src!r} and {dst!r} have different "
                    "PQ codebooks — codes are not comparable across "
                    "codebooks"
                )
            table, src_table = f"{dst}__pqlists", f"{src}__pqlists"
        else:
            table, src_table = f"{dst}__lists", f"{src}__lists"
        # FILE-level append: src's stored lists are partitioned on the
        # same cluster ids as dst's (shared centroid geometry, guarded
        # above), so the merge reuses src's files as-is (hardlink /
        # manifest reuse) instead of re-encoding every src row through
        # a Spark read+write.
        catalog.append_once_files(table, catalog.path(src_table), batch_id)
        updated = dst_cent.join(
            src_cent.select("cluster", F.col("n_vectors").alias("__s")),
            "cluster",
            "left",
        ).select(
            "cluster",
            "centroid",
            (F.col("n_vectors") + F.coalesce("__s", F.lit(0))).alias(
                "n_vectors"
            ),
        )
        staged_v = catalog.stage_table(updated, cent_table, meta=meta)
        return {cent_table: staged_v}

    return apply_once(catalog, cent_table, batch_id, stage)


def delete_from_ann_index(
    catalog: Catalog,
    name: str,
    vec_ids: DataFrame,
    id_col: str = "vec_id",
    batch_id: int | str | None = None,
) -> bool:
    """Remove vectors from the persisted index — the lifecycle face
    appends have had since round 6 (FAISS ``remove_ids`` semantics,
    the GDPR-erasure / retention-purge path for a vector store).

    Scale shape: the delete touches ONLY the inverted-list partitions
    that contain deleted vectors — a semi-join finds the affected
    clusters (≤ n_centroids, collected as a bounded list), those
    partitions are anti-joined and rewritten through
    ``catalog.overwrite_partitions`` (untouched partitions hardlink into
    the new snapshot: zero data movement), and the occupancy decrement
    is the same O(k) centroid-table bookkeeping as append. At 100 TB a
    deletion batch rewrites a handful of cluster directories, never the
    index.

    Exactly-once: the anti-join rewrite is IDEMPOTENT (deleting
    already-absent ids is a no-op) and runs first; occupancy is then
    SET from a recount of the stored survivor lists rather than
    decremented by delete-time counts, so a replay whose ids are already
    gone still converges ``n_vectors`` to the stored truth. The recount
    groups on the PARTITION column only, so parquet prunes every data
    column and the pass is footer-metadata-cheap even at full index
    size. The applied-batch ledger refuses a replay of a COMPLETED
    delete batch (returns False). Works on both layouts (flat
    ``__lists`` and PQ ``__pqlists``)."""
    cent_table = f"{name}__centroids"

    def stage(meta: dict) -> dict:
        table = (
            f"{name}__pqlists"
            if catalog.exists(f"{name}__pqlists")
            else f"{name}__lists"
        )
        ids = vec_ids.select(F.col(id_col).alias("vec_id")).distinct()
        lists = catalog.read(table)
        present = lists.join(F.broadcast(ids), "vec_id", "left_semi")
        # the touched-partition set — bounded by n_centroids values, the
        # same O(k) collect as occupancy
        touched = sorted(
            r["cluster"]
            for r in present.select("cluster").distinct().collect()
        )
        if touched:
            survivors = (
                lists.filter(F.col("cluster").isin(touched))
                .join(F.broadcast(ids), "vec_id", "left_anti")
            )
            catalog.overwrite_partitions(
                survivors, table, touched, partition_by=["cluster"]
            )
        # idempotent occupancy: recount the STORED lists (post-flip
        # read) — partition-column-only aggregation, every data column
        # pruned. Runs even when touched is empty so a replay whose ids
        # are already gone still converges n_vectors to the stored truth.
        occ = (
            catalog.read(table)
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
        )
        cent = (
            catalog.read(cent_table)
            .select("cluster", "centroid")
            .join(F.broadcast(occ), "cluster", "left")
            .select(
                "cluster",
                "centroid",
                F.coalesce("__n", F.lit(0)).alias("n_vectors"),
            )
        )
        return {cent_table: catalog.stage_table(cent, cent_table, meta=meta)}

    return apply_once(catalog, cent_table, batch_id, stage)


def query_ann_index(
    catalog: Catalog,
    name: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe the stored index: per-query nearest ``n_probe`` centroids →
    join only those inverted lists → exact cosine re-rank off the
    PRE-QUANTIZED stored components."""
    cent = _centroid_rel(catalog.read(f"{name}__centroids"))
    lists = catalog.read(f"{name}__lists")
    q = quantize_embeddings(queries).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("q"),
        _norm(F.col("qvec")).alias("nq"),
    )
    cos_c = F.round(
        _dot(F.col("q"), F.col("cv")).cast("double")
        / (F.col("nq") * F.col("cn")),
        6,
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__cos").desc(), F.col("cent_id")
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("__cos", cos_c)
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= n_probe)
        .select("query_id", "q", "nq", F.col("cent_id").alias("cluster"))
    ).localCheckpoint(eager=False)  # feeds the partition filter AND the join
    # Static partition pruning: the probed cluster set (≤ |Q|·n_probe,
    # bounded by n_centroids) restricts the lists scan to its partitions —
    # PartitionFilters: [cluster IN (...)] instead of a full index read.
    probe_clusters = [
        r.cluster for r in probes.select("cluster").distinct().collect()
    ]
    cosine = _dot(F.col("q"), F.col("v")).cast("double") / (
        F.col("nq") * F.col("nv")
    )
    scored = (
        lists.filter(F.col("cluster").isin(probe_clusters))
        .join(F.broadcast(probes), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
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


def build_ivfpq_index(
    catalog: Catalog,
    name: str,
    embeddings: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    m: int = 4,
    k_codes: int = 8,
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
) -> None:
    """Build the combined IVF-PQ index (Jégou et al. 2011's IVFADC
    layout, encoding raw vectors rather than residuals — the
    ``by_residual=False`` variant): a coarse k-means quantizer routes
    each vector to an inverted list, and the list entry stores only the
    vector's ``m`` PQ codes — a few bytes per vector instead of the full
    D floats the plain ANN index keeps. This is the memory shape that
    makes billion-vector search feasible: at 100 TB of embeddings the
    flat inverted lists are themselves ~corpus-sized, while PQ-coded
    lists shrink ~64× (64-dim float → 4 codes).

    Persists three versioned catalog tables: ``{name}__centroids``
    (coarse quantizer, tiny), ``{name}__codebook`` (m·k codewords,
    tiny), and ``{name}__pqlists`` (one row per vector: cluster +
    codes) partitioned by ``cluster`` so a probe is a partition-pruned
    scan. Rebuilds write new snapshot versions; queries racing a
    rebuild read a consistent older index.

    Scale shape: two independent trainings (coarse kmeans + m subspace
    kmeans — all broadcast-centroid Lloyd loops), then ONE corpus pass
    joining the cosine cluster assignment with the PQ encode (both are
    broadcast joins + a hash aggregate keyed on vec_id).

    ``centroids`` + ``codebook`` — a pre-trained coarse quantizer and
    PQ codebook — skip BOTH trainings and encode this corpus shard
    under the GIVEN geometry: the sharded-build half of the production
    IVF-PQ flow (FAISS's recommended large-scale recipe — train on a
    sample, encode shards in parallel with the SAME trained index,
    consolidate with :func:`merge_ann_index`). Supplied together or
    not at all: codes under one codebook are meaningless against
    another's centroids."""
    from .pq import _dim, pq_encode, pq_train

    if (centroids is None) != (codebook is None):
        raise ValueError(
            "build_ivfpq_index: supply centroids AND codebook together "
            "(codes under one codebook are not comparable under another)"
        )
    d = _dim(embeddings, "embedding")
    if centroids is None:
        # k tiny rows referenced twice (the assignment broadcast AND the
        # centroid-table write) — pin so the iterative Lloyd lineage
        # executes once, not once per reference
        centroids = kmeans_fit(
            embeddings, k=n_centroids, iters=iters, id_col=id_col
        ).localCheckpoint(eager=True)
        # m·k tiny rows referenced twice (the codebook-table stage AND
        # the encode broadcast below) — pin so the iterative subspace
        # train executes once, not once per reference (this replaces
        # the old write-then-read-back materialization)
        codebook = pq_train(
            embeddings, m=m, k=k_codes, iters=iters, id_col=id_col, d=d
        ).localCheckpoint(eager=True)
    else:
        # externally trained codebook: the meta recorded below is what
        # every later append/encode trusts, so it must be truthful to
        # the STORED codebook, not to the caller's parameters — verify
        # the supplied geometry (max subspace + 1 == m, centroid width
        # == d/m) before recording it. One tiny agg over m·k rows.
        row = codebook.agg(
            (F.max("subspace") + F.lit(1)).alias("m_cb"),
            F.max(F.size("centroid")).alias("w_cb"),
        ).first()
        if row is None or row["m_cb"] is None:
            raise ValueError(
                "build_ivfpq_index: supplied codebook is empty"
            )
        if int(row["m_cb"]) != int(m) or int(row["w_cb"]) * int(m) != int(d):
            raise ValueError(
                f"build_ivfpq_index: supplied codebook geometry "
                f"(m={int(row['m_cb'])}, subspace width={int(row['w_cb'])}) "
                f"does not match m={m}, d={d} — appends would silently "
                "encode with the wrong geometry"
            )
    cent = _centroid_rel(centroids)
    base = quantize_embeddings(embeddings).select(
        F.col(id_col).alias("vec_id"),
        F.col("qvec").alias("v"),
        _norm(F.col("qvec")).alias("nv"),
    )
    # referenced twice (occupancy + the codes join) — pin it
    assigned = (
        _assign_clusters(base, cent)
        .select("vec_id", "cluster")
        .localCheckpoint(eager=True)
    )
    # stored occupancy = occupancy of the STORED lists (see
    # build_ann_index — the delete face asserts this absolutely)
    occ = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors")
    )
    # the encode uses the codebook RELATION directly (pinned above in
    # the self-trained branch; parquet round-trips doubles exactly, so
    # this is value-identical to the old read-back of the stored table)
    codes = pq_encode(
        embeddings, codebook, m=m, id_col=id_col, d=d
    ).withColumnRenamed(id_col, "vec_id")
    lists = assigned.join(codes, "vec_id").select(
        "vec_id", "cluster", *[f"code_{j}" for j in range(m)]
    )
    # All three index tables publish under ONE staged multi-table
    # commit (one writer lock, one intent manifest, atomic flips with
    # roll-forward recovery): no crash window where fresh centroids are
    # visible next to stale code lists or a codebook that doesn't match
    # the stored codes — the torn-index state three per-table write()
    # calls left possible. m and d are index GEOMETRY — recorded as
    # table metadata so append/query paths read them for free instead
    # of re-deriving each with a Spark job.
    catalog.commit_tables(
        {
            f"{name}__codebook": codebook,
            f"{name}__centroids": centroids.select("cluster", "centroid")
            .join(occ, "cluster", "left")
            .select(
                "cluster",
                "centroid",
                F.coalesce("n_vectors", F.lit(0)).alias("n_vectors"),
            ),
            f"{name}__pqlists": lists,
        },
        metas={f"{name}__codebook": {"m": int(m), "d": int(d)}},
        partition_bys={f"{name}__pqlists": ["cluster"]},
    )


def query_ivfpq_index(
    catalog: Catalog,
    name: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    m: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ query: probe the ``n_probe`` nearest inverted lists per
    query (broadcast centroid table + static partition pruning, exactly
    like :func:`query_ann_index`), then rank candidates by ASYMMETRIC
    distance — each query precomputes a tiny per-subspace lookup table
    against the stored codebook, and every candidate costs m integer
    lookup-adds instead of a D-dim dot product. Two pruning layers
    compose: the scan touches ~n_probe/n_centroids of the index AND
    each touched row is a few code bytes, not a vector.

    Returns (query_id, neighbor_id, adc_dist, rank) with ascending
    quantized-L2 ADC distance, ties on neighbor id; exact integer math
    end-to-end so the result is engine-portable."""
    from .pq import adc_lut

    cent = _centroid_rel(catalog.read(f"{name}__centroids"))
    pqlists = catalog.read(f"{name}__pqlists")
    codebook = catalog.read(f"{name}__codebook")
    q = quantize_embeddings(queries).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("q"),
        _norm(F.col("qvec")).alias("nq"),
    )
    cos_c = F.round(
        _dot(F.col("q"), F.col("cv")).cast("double")
        / (F.col("nq") * F.col("cn")),
        6,
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__cos").desc(), F.col("cent_id")
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("__cos", cos_c)
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= n_probe)
        .select("query_id", F.col("cent_id").alias("cluster"))
    ).localCheckpoint(eager=False)
    # Static partition pruning (same pattern as query_ann_index): the
    # ≤ |Q|·n_probe probed clusters become a PartitionFilters IN-list on
    # the pqlists scan — the on-disk analogue of reading posting lists.
    probe_clusters = [
        r.cluster for r in probes.select("cluster").distinct().collect()
    ]
    cb_meta = catalog.read_meta(f"{name}__codebook") or {}
    lut = adc_lut(
        queries, codebook, m=m, id_col=id_col,
        d=int(cb_meta["d"]) if "d" in cb_meta else None,
    )
    melted = pqlists.filter(F.col("cluster").isin(probe_clusters)).select(
        F.col("vec_id").alias("neighbor_id"),
        "cluster",
        F.posexplode(
            F.array(*[F.col(f"code_{j}") for j in range(m)])
        ).alias("subspace", "code"),
    )
    scored = (
        melted.join(F.broadcast(probes), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(lut), ["query_id", "subspace", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d_part").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def cluster_drift(
    baseline: DataFrame,
    current: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-distribution drift monitor: fit the coarse quantizer on
    the BASELINE snapshot, assign both snapshots to those shared
    centroids, and compare per-cluster occupancy shares — the signal
    that tells an ANN/index deployment when the data has moved enough
    to warrant a rebuild (the FAISS "retrain on drift cadence" trigger),
    and a training pipeline when a new crawl slice shifts topic mix.

    Scale shape: one k-means fit on the baseline (broadcast-centroid
    Lloyd), then each snapshot is ONE scan with a broadcast k-row
    nested loop — no corpus shuffle; the comparison itself runs on 2·k
    rows. Shares are single double divisions from exact BIGINT counts
    and the drift is their difference — both engine-portable (identical
    operand bits → identical result bits); no float aggregation.

    Returns one row per centroid: counts, shares, and share drift
    (current − baseline; positive = cluster growing).
    """
    # k tiny rows referenced three times (both snapshots' assignment
    # broadcasts + the per-cluster spine) — pin so the iterative Lloyd
    # lineage executes once, not once per reference
    centroids = kmeans_fit(
        baseline, k=n_centroids, iters=iters, id_col=id_col
    ).localCheckpoint(eager=True)
    cent = _centroid_rel(centroids)

    def _prep(df: DataFrame) -> DataFrame:
        return quantize_embeddings(df).select(
            F.col(id_col).alias("vec_id"),
            F.col("qvec").alias("v"),
            _norm(F.col("qvec")).alias("nv"),
        )

    n_base = (
        _assign_clusters(_prep(baseline), cent)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_base"))
    )
    n_cur = (
        _assign_clusters(_prep(current), cent)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cur"))
    )
    # k tiny rows that EMBED both corpus-assignment passes, referenced
    # twice (the totals aggregate + the returned select) — pin so each
    # snapshot is scanned once, not twice
    per_cluster = (
        cent.select(F.col("cent_id").alias("cluster"))
        .join(n_base, "cluster", "left")
        .join(n_cur, "cluster", "left")
        .select(
            "cluster",
            F.coalesce("n_base", F.lit(0)).cast("bigint").alias("n_base"),
            F.coalesce("n_cur", F.lit(0)).cast("bigint").alias("n_cur"),
        )
        .localCheckpoint(eager=True)
    )
    totals = per_cluster.agg(
        F.sum("n_base").cast("bigint").alias("tb"),
        F.sum("n_cur").cast("bigint").alias("tc"),
    )
    share_b = F.col("n_base").cast("double") / F.col("tb").cast("double")
    share_c = F.col("n_cur").cast("double") / F.col("tc").cast("double")
    return per_cluster.crossJoin(F.broadcast(totals)).select(
        "cluster",
        "n_base",
        "n_cur",
        share_b.alias("share_base"),
        share_c.alias("share_cur"),
        (share_c - share_b).alias("drift"),
    )


def refine_ann_index(
    catalog: Catalog,
    name: str,
    embeddings: DataFrame,
    iters: int = 1,
    id_col: str = "vec_id",
) -> None:
    """Warm-start Lloyd refinement of the stored coarse quantizer: run
    ``iters`` k-means rounds over the CURRENT corpus starting from the
    stored centroids, then rewrite centroids + inverted lists as new
    catalog versions. This is the middle rung of the index lifecycle —
    :func:`append_to_ann_index` folds new vectors in for free,
    ``refine`` re-centers the quantizer when :func:`cluster_drift` says
    occupancy has moved, and only structural change (k itself wrong)
    needs the full :func:`build_ann_index` retrain.

    Cost: ``iters`` broadcast-centroid Lloyd rounds + the same
    partitioned lists write as a build — but convergence from a
    near-correct start needs 1-2 rounds where a cold build needs its
    full schedule. Versioned writes keep racing queries on a consistent
    older index.
    """
    stored = catalog.read(f"{name}__centroids").select("cluster", "centroid")
    # k tiny rows referenced twice (the assignment broadcast AND the
    # centroid-table write) — pin so the warm-started Lloyd lineage
    # executes once, not once per reference (the build_ann_index shape)
    refined = kmeans_fit(
        embeddings, iters=iters, id_col=id_col, init_centroids=stored
    ).localCheckpoint(eager=True)
    cent = _centroid_rel(refined)
    base = quantize_embeddings(embeddings).select(
        F.col(id_col).alias("vec_id"),
        F.col("qvec").alias("v"),
        _norm(F.col("qvec")).alias("nv"),
    )
    # referenced twice (occupancy + the partitioned write) — pin it
    lists = _assign_clusters(base, cent).localCheckpoint(eager=True)
    occ = lists.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors")
    )
    # stored occupancy = occupancy of the STORED lists (see
    # build_ann_index). Both tables publish under ONE staged commit —
    # no crash window where refined centroids are visible next to the
    # pre-refine lists.
    catalog.commit_tables(
        {
            f"{name}__centroids": refined.select("cluster", "centroid")
            .join(occ, "cluster", "left")
            .select(
                "cluster",
                "centroid",
                F.coalesce("n_vectors", F.lit(0)).alias("n_vectors"),
            ),
            f"{name}__lists": lists,
        },
        partition_bys={f"{name}__lists": ["cluster"]},
    )
