"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, and an LSH-bucketed
(random-hyperplane) variant as the scale path: at 100 TB the bucketed join
touches only vectors sharing a hash bucket instead of the full cross
product. Dot products use ``F.zip_with`` + ``F.aggregate`` — JVM-side,
no Python boundary.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F

from firepit_spark.functions import pin


def _dvec(values) -> Column:
    """Double-array literal parsed from ONE SQL string. ``F.array`` of
    per-scalar ``F.lit`` nodes costs a py4j round trip per element —
    seconds of driver time for dim x n_codewords codebook matrices —
    while ``repr`` round-trips every finite double exactly, so the
    parsed array is bit-identical. Non-finite values (no SQL literal
    spelling) fall back to the element-wise form."""
    vals = [float(v) for v in values]
    if all(math.isfinite(v) for v in vals):
        return F.expr(
            "array(" + ",".join(repr(v) + "D" for v in vals) + ")"
        )
    return F.array(*[F.lit(v) for v in vals])


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    # nullif: a zero-norm vector yields NULL (undefined cosine) instead of
    # failing the whole job under ANSI division-by-zero
    return dot(a, b) / F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side is broadcast (queries << corpus); the corpus streams
    through one pass, so the plan scales linearly in corpus size. Ranking
    ties break by neighbor id for determinism.

    Norms are hoisted out of the pair expression: each side's L2 norm is
    computed once per ROW before the cross join, not once per PAIR — at
    q queries that saves 2q-1 of the 3 per-pair array folds (measured
    25% on the sf0.1 bench corpus; values bit-identical since the same
    sqrt-then-multiply float ops run in the same order).
    """
    v = vectors.withColumn("__vn", l2_norm(F.col(vec_col)))
    q = queries.withColumn("__qn", l2_norm(F.col(query_vec_col)))
    scored = v.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col).alias("neighbor_id"),
        F.round(
            dot(F.col(query_vec_col), F.col(vec_col))
            / F.nullif(F.col("__qn") * F.col("__vn"), F.lit(0.0)),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "cos_sim", "rank")
    )


def hyperplane_lsh_bucket(vec: Column, planes: list) -> Column:
    """Sign-bit bucket id from fixed random hyperplanes (deterministic,
    engine-reproducible: plane coefficients are literals)."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                _dvec(plane),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def lsh_planes(dim: int, n_planes: int = 8, seed: int = 1234567891) -> list:
    """Deterministic pseudo-random hyperplanes (LCG; no RNG state)."""
    planes, state = [], seed
    for _ in range(n_planes):
        coeffs = []
        for _ in range(dim):
            state = (state * 1103515245 + 12345) % (1 << 31)
            coeffs.append((state / float(1 << 31)) * 2.0 - 1.0)
        planes.append(coeffs)
    return planes


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH bucket(s).

    Trades recall for a bucket-equi-join instead of a cross product — the
    shape that survives a 1000-executor scale-up. ``n_tables`` is the
    standard OR-amplification lever: candidates are unioned across that
    many independent plane sets (recall rises roughly as
    1-(1-p^n_planes)^n_tables while cost stays bucket-bounded per table).
    """
    dim = len(vectors.select(vec_col).first()[0])
    if n_tables <= 1:
        planes = lsh_planes(dim, n_planes)
        cv = vectors.withColumn(
            "bucket", hyperplane_lsh_bucket(F.col(vec_col), planes)
        ).withColumn("__n", l2_norm(F.col(vec_col)))
        qv = queries.withColumn(
            "bucket", hyperplane_lsh_bucket(F.col(query_vec_col), planes)
        ).withColumn("__qn", l2_norm(F.col(query_vec_col)))
        scored = cv.join(F.broadcast(qv), "bucket").select(
            F.col(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            F.round(
                dot(F.col(query_vec_col), F.col(vec_col))
                / F.nullif(F.col("__qn") * F.col("__n"), F.lit(0.0)),
                6,
            ).alias("cos_sim"),
        )
    else:
        tables = [
            lsh_planes(dim, n_planes, seed=1234567891 + 7919 * t)
            for t in range(n_tables)
        ]
        buckets = lambda vcol: F.array(  # noqa: E731 — local plan builder
            *[hyperplane_lsh_bucket(vcol, planes) for planes in tables]
        )
        cv = vectors.select(
            F.col(id_col), F.col(vec_col),
            l2_norm(F.col(vec_col)).alias("__n"),
            F.posexplode(buckets(F.col(vec_col))).alias("t", "bucket"),
        )
        qv = queries.select(
            F.col(query_id_col), F.col(query_vec_col),
            l2_norm(F.col(query_vec_col)).alias("__qn"),
            F.posexplode(buckets(F.col(query_vec_col))).alias("t", "bucket"),
        )
        # a pair colliding in several tables is scored per hit (cheap JVM
        # expression) and deduped by the max-agg — no join-back needed
        scored = (
            cv.join(F.broadcast(qv), ["t", "bucket"])
            .select(
                F.col(query_id_col),
                F.col(id_col).alias("neighbor_id"),
                F.round(
                    dot(F.col(query_vec_col), F.col(vec_col))
                    / F.nullif(F.col("__qn") * F.col("__n"), F.lit(0.0)),
                    6,
                ).alias("cos_sim"),
            )
            .groupBy(query_id_col, "neighbor_id")
            .agg(F.max("cos_sim").alias("cos_sim"))
        )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "cos_sim", "rank")
    )


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding near-duplicate pairs (cosine >= threshold).

    Brute-force O(n^2/2) baseline for modest corpora / verification; the
    scale path is :func:`lsh_near_dup_pairs`, which only scores pairs
    sharing an LSH bucket.
    """
    # per-row norm hoisted out of the pair expression (see brute_force_topk)
    v = vectors.withColumn("__n", l2_norm(F.col(vec_col)))
    a = v.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), F.col("__n").alias("__na"))
    b = v.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), F.col("__n").alias("__nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("__va"), F.col("__vb"))
                / F.nullif(F.col("__na") * F.col("__nb"), F.lit(0.0)),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def lsh_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate near-dup pairs: candidates limited to same-bucket pairs
    (recall loss at bucket boundaries is the standard trade; raise recall
    with fewer planes or, cheaper per unit recall, more ``n_tables`` —
    the same OR-amplification as :func:`lsh_topk`)."""
    dim = len(vectors.select(vec_col).first()[0])
    # per-row norm hoisted out of the pair expression (see brute_force_topk)
    if n_tables <= 1:
        planes = lsh_planes(dim, n_planes)
        v = vectors.withColumn(
            "__bucket", hyperplane_lsh_bucket(F.col(vec_col), planes)
        ).withColumn("__n", l2_norm(F.col(vec_col)))
        a = v.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"),
                     F.col("__n").alias("__na"), "__bucket")
        b = v.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"),
                     F.col("__n").alias("__nb"), "__bucket")
        joined = a.join(b, "__bucket")
    else:
        tables = [
            lsh_planes(dim, n_planes, seed=1234567891 + 7919 * t)
            for t in range(n_tables)
        ]
        v = vectors.select(
            F.col(id_col), F.col(vec_col),
            l2_norm(F.col(vec_col)).alias("__n"),
            F.posexplode(
                F.array(*[hyperplane_lsh_bucket(F.col(vec_col), p) for p in tables])
            ).alias("__t", "__bucket"),
        )
        a = v.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"),
                     F.col("__n").alias("__na"), "__t", "__bucket")
        b = v.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"),
                     F.col("__n").alias("__nb"), "__t", "__bucket")
        joined = a.join(b, ["__t", "__bucket"])
    return (
        joined
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("__va"), F.col("__vb"))
                / F.nullif(F.col("__na") * F.col("__nb"), F.lit(0.0)),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


class IvfIndex:
    """A fitted IVF-Flat index: the cell-assigned corpus plus centroids.

    Fit once with :func:`ivf_fit`, then run any number of query batches
    through :func:`ivf_search` — the expensive iterative k-means (and
    optionally the assignment pass, if you ``persist()`` ``assigned``)
    is amortized across searches. ``centroids`` is a plain list (small:
    n_cells × dim floats) so the index is cheap to hold on the driver;
    the corpus stays distributed.
    """

    def __init__(self, assigned: DataFrame, centroids: list, id_col: str, vec_col: str):
        self.assigned = assigned
        self.centroids = centroids
        self.id_col = id_col
        self.vec_col = vec_col

    def persist(self) -> "IvfIndex":
        """Pin the assignment pass for repeated searches; call
        :meth:`unpersist` when done (cache-release contract)."""
        self.assigned = self.assigned.persist()
        return self

    def unpersist(self) -> "IvfIndex":
        self.assigned.unpersist()
        return self


def centroid_cells(qv: Column, centroids: list, n_probe: int) -> Column:
    """Array of the ``n_probe`` nearest centroid indexes for a vector column
    (Euclidean; ties break on cell index). Centroids are plan literals —
    tiny (n_cells x dim), evaluated JVM-side per row, no join needed.

    The centroid matrix is ONE nested-array literal walked by an indexed
    ``transform`` rather than n_cells x dim individual ``F.lit`` column
    nodes: building the old form cost ~one py4j round trip per scalar
    (~0.5 s of driver time per call at 8x64, twice per ivf query plan)
    and left Catalyst a 500+-literal tree to optimize. The literal is
    parsed from one SQL string (``F.expr``) because ``F.lit`` on a
    nested Python list pays its own ~0.35 s py4j conversion; ``repr``
    round-trips doubles exactly, so the parsed values are bit-identical.
    Same arithmetic in the same order per element, so assignments are
    bit-identical."""
    import math

    vals = [[float(x) for x in c] for c in centroids]
    if all(math.isfinite(x) for c in vals for x in c):
        cmat = F.expr(
            "array("
            + ",".join(
                "array(" + ",".join(repr(x) + "D" for x in c) + ")"
                for c in vals
            )
            + ")"
        )
    else:  # inf/nan have no SQL literal spelling — take the slow path
        cmat = F.lit(vals)
    dists = F.transform(
        cmat,
        lambda c, i: F.struct(
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        qv,
                        c,
                        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            ).alias("d"),
            i.alias("cell"),
        ),
    )
    return F.slice(F.array_sort(dists), 1, n_probe).getField("cell")


def ivf_assign(
    vectors: DataFrame,
    centroids: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfIndex:
    """Build an IVF index from FIXED, caller-supplied centroids (no k-means):
    each vector joins the inverted list of its nearest centroid.

    Fully deterministic given the centroids — unlike :func:`ivf_fit`, whose
    iterative k-means has no closed form — so the whole search path is
    expressible in ANSI SQL for oracle checking. Use :func:`ivf_fit` when
    you want data-adaptive cells; use this when centroids come from a prior
    fit, a sample, or another system."""
    assigned = vectors.withColumn(
        "__cell", centroid_cells(F.col(vec_col), centroids, 1)[0]
    )
    return IvfIndex(assigned, centroids, id_col, vec_col)


def ivf_fit(
    vectors: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> IvfIndex:
    """Build an IVF index: k-means (pyspark.ml) partitions the corpus into
    ``n_cells`` Voronoi cells; each vector is assigned to its nearest
    centroid — the inverted lists."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    with_vec = vectors.withColumn("__v", array_to_vector(F.col(vec_col).cast("array<double>")))
    km = KMeans(k=n_cells, seed=seed, featuresCol="__v", predictionCol="__cell")
    model = km.fit(with_vec)
    assigned = model.transform(with_vec).drop("__v")
    centroids = [list(c) for c in model.clusterCenters()]
    return IvfIndex(assigned, centroids, id_col, vec_col)


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index (fit + search in
    one call; use :func:`ivf_fit` + :func:`ivf_search` to amortize the fit
    across query batches).

    Search: each query scans only its ``n_probe`` nearest cells, so the
    scored set is ~(n_probe/n_cells) of the corpus. The join is an
    equi-join on cell id (queries side broadcast), which scales the same
    way the LSH variant does but with data-adaptive partitioning — the
    standard IVF-Flat trade of recall vs cells probed.
    """
    index = ivf_fit(vectors, n_cells=n_cells, id_col=id_col, vec_col=vec_col, seed=seed)
    return ivf_search(
        index, queries, k=k, n_probe=n_probe,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    )


def ivf_search(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Top-k search against a fitted :class:`IvfIndex`."""
    assigned = index.assigned
    centroids = index.centroids
    id_col = index.id_col
    vec_col = index.vec_col

    qv = (
        queries.withColumn(
            "__cells", centroid_cells(F.col(query_vec_col), centroids, n_probe)
        )
        .withColumn("__cell", F.explode("__cells"))
        .drop("__cells")
        .withColumn("__qn", l2_norm(F.col(query_vec_col)))
    )

    # per-row norm hoisted out of the pair expression (see brute_force_topk)
    scored = (
        assigned.withColumn("__n", l2_norm(F.col(vec_col)))
        .join(F.broadcast(qv), "__cell")
        .select(
            F.col(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            F.round(
                dot(F.col(query_vec_col), F.col(vec_col))
                / F.nullif(F.col("__qn") * F.col("__n"), F.lit(0.0)),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "cos_sim", "rank")
    )


def quantize_embeddings(
    vectors: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Symmetric int8 scalar quantization: ``q_i = round(x_i * 127 / max|x|)``.

    4× smaller than float32 (16× vs float64) — at 100 TB of embeddings
    that is the difference between fitting the corpus in cluster memory
    or not. Cosine is scale-invariant, so ranking on the quantized
    vectors needs no dequantization; ``scale_col`` (max|x|/127) recovers
    approximate originals when magnitudes matter. Pure JVM expressions
    (transform/aggregate), map-only. Zero vectors quantize to zeros with
    a NULL scale.
    """
    x = F.col(vec_col)
    max_abs = F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))
    safe = F.nullif(max_abs, F.lit(0.0))
    return vectors.withColumn(
        out_col,
        F.transform(
            x,
            lambda v: F.coalesce(
                F.round(v.cast("double") * 127.0 / safe, 0), F.lit(0.0)
            ).cast("tinyint"),
        ),
    ).withColumn(scale_col, safe / 127.0)


def label_centroids(
    vectors: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label mean vector via posexplode + groupBy (dimension-parallel,
    no driver-side loops; works for any dim)."""
    exploded = vectors.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "v")
    )
    per_dim = exploded.groupBy(label_col, "pos").agg(F.avg("v").alias("mean_v"))
    return (
        per_dim.groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mean_v"))).alias("_s"))
        .select(label_col, F.transform("_s", lambda s: s["mean_v"]).alias("centroid"))
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: list | None = None,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    method: str = "greedy",
    seed: int = 42,
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the corpus into Voronoi cells, score cosine pairs only WITHIN each
    cell, and keep one representative per near-duplicate group.

    The clustering is what makes this survive 100 TB: candidate pairs are
    bounded per cell (n_i^2 for cell size n_i), never corpus², and the
    pair join shuffles on the cell id. Pass ``centroids`` (e.g. from a
    prior :func:`ivf_fit`, a sample, or another system) for a fully
    deterministic, SQL-expressible run; otherwise a seeded k-means fit
    picks them (``n_cells``/``seed``).

    ``method="greedy"`` (default): drop every vector that has ANY
    smaller-id neighbor at ``cosine >= threshold`` in its cell — one
    distinct + one anti-join past the pair scoring; on a chain a-b-c
    where only adjacent pairs are similar, both b and c drop even though
    c's witness b was itself dropped (the standard greedy trade).
    ``method="components"``: exact keep-one-per-connected-component via
    min-label propagation (iterative, a few extra rounds; chains keep
    their minimum element only).

    Returns the surviving rows (input schema + ``sem_cell``), i.e. the
    deduplicated corpus. Near-dup boundary note: cosine is rounded to
    6 decimals before the threshold compare, matching every other
    similarity operator here (oracle-stable).

    ``max_cell_size`` is the 100-TB safety contract: a degenerate
    centroid set (one cell swallowing the corpus) silently regresses the
    per-cell n_i² pair join to all-pairs. With a cap, any cell larger
    than ``max_cell_size`` is hash-split into ceil(n_i/cap) sub-cells for
    PAIRING ONLY (the reported ``sem_cell`` is unchanged), bounding pair
    work at n_cells·cap² at the cost of missing cross-sub-cell dups —
    the standard SemDeDup sampling trade made explicit instead of OOMing.
    Without the cap, degeneracy is still surfaced: a UserWarning fires
    when the largest cell exceeds ~10x the median cell size (the check
    rides on the already-persisted assignment, so it costs one small
    per-cell aggregate, not an extra corpus scan).
    """
    if method not in ("greedy", "components"):
        raise ValueError(f"method must be 'greedy' or 'components', got {method}")
    idx = (
        ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)
        if centroids is not None
        else ivf_fit(vectors, n_cells=n_cells, id_col=id_col, vec_col=vec_col, seed=seed)
    )
    # persist: the nearest-centroid assignment (the expensive full-corpus
    # map) feeds BOTH pair sides, the final anti-join, and — with a cell
    # cap — the per-cell count aggregate; without the persist each branch
    # recomputes it. Long-lived sessions call
    # firepit_spark.functions.release() after the action.
    assigned = pin(idx.assigned.withColumnRenamed("__cell", "sem_cell"))
    # per-row norm hoisted out of the pair expression (see brute_force_topk)
    withn = assigned.withColumn("__n", l2_norm(F.col(vec_col)))
    if max_cell_size is not None:
        # hot-cell bound: pair within hash-split sub-cells of <= cap rows
        splits = (
            assigned.groupBy("sem_cell")
            .agg(F.count(F.lit(1)).alias("__cn"))
            .select(
                "sem_cell",
                F.ceil(F.col("__cn") / F.lit(max_cell_size))
                .cast("int")
                .alias("__nsplit"),
            )
        )
        withn = withn.join(F.broadcast(splits), "sem_cell").withColumn(
            "__pcell",
            F.concat_ws(
                "#",
                F.col("sem_cell").cast("string"),
                F.pmod(F.xxhash64(F.col(id_col)), F.col("__nsplit")).cast("string"),
            ),
        )
    else:
        # no cap: still make degeneracy VISIBLE — one tiny per-cell
        # aggregate over the persisted assignment (materializes the cache
        # the pair join reuses, so no extra corpus scan)
        import warnings

        stats = (
            assigned.groupBy("sem_cell")
            .agg(F.count(F.lit(1)).alias("__cn"))
            .agg(
                F.max("__cn").alias("mx"),
                F.expr("percentile_approx(__cn, 0.5)").alias("med"),
                F.sum("__cn").alias("total"),
                F.count(F.lit(1)).alias("ncells"),
            )
            .collect()[0]
        )
        mx, med, total = stats["mx"], stats["med"], stats["total"]
        ncells = stats["ncells"]
        # three skew signatures, each needing its own clause: a dominant
        # cell vs the median; a >=half-share cell — but only beyond 2
        # cells, since a perfectly balanced 2-cell split trips 2*mx >=
        # total without any skew; and total single-cell collapse, where
        # mx == med == total blinds the other two clauses
        if mx is not None and (
            mx > 10 * max(med or 1, 1)
            or (ncells > 2 and 2 * mx >= total)
            or (ncells == 1 and total and total > 1)
        ):
            warnings.warn(
                f"semantic_dedup: largest cell has {mx} of {total} rows "
                f"(median cell {med}); the per-cell pair join is "
                "degenerating toward all-pairs — pass max_cell_size= to "
                "bound pair work, or supply better centroids",
                UserWarning,
                stacklevel=2,
            )
        withn = withn.withColumn("__pcell", F.col("sem_cell").cast("string"))
    a = withn.select(
        F.col("__pcell"), F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"), F.col("__n").alias("__na"),
    )
    b = withn.select(
        F.col("__pcell"), F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"), F.col("__n").alias("__nb"),
    )
    pairs = (
        a.join(b, "__pcell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(
                dot(F.col("__va"), F.col("__vb"))
                / F.nullif(F.col("__na") * F.col("__nb"), F.lit(0.0)),
                6,
            )
            >= F.lit(threshold)
        )
        .select("id_a", "id_b")
    )
    if method == "greedy":
        drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    else:
        from .graph import connected_components

        comp = connected_components(pairs)
        drops = comp.filter(F.col("node") != F.col("comp")).select(
            F.col("node").alias(id_col)
        )
    return assigned.join(drops, id_col, "left_anti")
