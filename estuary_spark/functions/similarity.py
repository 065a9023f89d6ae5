"""Similarity search over embedding columns (`array<float>`).

* ``cosine_topk``  — exact brute-force top-k: queries × corpus with the
  dot product as a built-in higher-order expression (``zip_with`` +
  ``aggregate``), then a per-query window top-k. The corpus side stays
  partitioned; the (small) query side is broadcast — the classic
  scale shape for exact scoring.
* ``lsh_ann_topk`` — hyperplane-LSH bucketed approximate variant: each
  vector gets a sign-bit signature from deterministic pseudo-random
  hyperplanes; candidates share a bucket (equi-join, hash shuffle), then
  exact cosine re-ranks. The scale path: shuffle is O(n), not O(n*q).
* ``ivf_topk``     — IVF-style: k-means-lite centroids (driver-side fit on
  a bounded sample), cluster assignment JVM-side, probe the nprobe nearest
  clusters only.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``queries``: (query_id, embedding). Broadcast (queries are few);
    corpus scan stays partition-parallel; per-query top-k via window.
    """
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qv"))
    c = corpus.select(F.col(id_col), F.col(vec_col).alias("_cv"))
    scored = c.crossJoin(F.broadcast(q)).withColumn("cos", cosine(F.col("_qv"), F.col("_cv")))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (public LCG recipe —
    no numpy RNG state, reproducible everywhere)."""
    planes = []
    state = seed * 6364136223846793005 + 1442695040888963407
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            # map to (-1, 1)
            v.append((state / float(1 << 63)) * 2.0 - 1.0)
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def lsh_table_buckets(vec: Column, tables: list[list[list[float]]], n_planes: int) -> Column:
    """Keyed bucket ids for ALL hash tables in one expression.

    ``tables`` is a T x n_planes x dim literal; the whole signature is one
    nested higher-order expression (transform over tables, zip_with over
    planes x bit weights) instead of T*n_planes separate aggregate
    subtrees — same arithmetic, a fraction of the plan size/compile cost.
    Returns ``array<int>`` of ``t * 2^n_planes + bucket_t``.
    """
    tbls = F.array(
        *[
            F.array(*[F.array(*[F.lit(float(x)) for x in plane]) for plane in tbl])
            for tbl in tables
        ]
    )
    pow2 = F.array(*[F.lit(1 << j) for j in range(n_planes)])
    per_table = lambda tbl: F.aggregate(
        F.zip_with(tbl, pow2, lambda plane, pw: F.when(dot(vec, plane) >= 0, pw).otherwise(F.lit(0))),
        F.lit(0),
        lambda a, b: a + b,
    )
    return F.transform(tbls, lambda tbl, t: (t * (1 << n_planes) + per_table(tbl)).cast("int"))


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH.

    ``n_tables`` independent hash tables (each with its own ``n_planes``
    random hyperplanes); a corpus vector is a candidate if it shares a
    bucket with the query in ANY table (the query additionally probes all
    hamming-1 neighbor buckets per table — multi-probe). Candidates are
    deduped per (query, vector) then exactly re-ranked by cosine.

    Scale shape: the corpus side is exploded x n_tables (narrow map, no
    shuffle), the bucket equi-join shuffles O(n_tables * n) rows — not
    O(n * q) as brute force does; recall is tuned by (n_planes down,
    n_tables up) at linear candidate cost.
    """
    if dim is None:
        # no hidden driver job in the hot path: the vector length is not
        # recoverable from ArrayType metadata, so the caller must supply it
        raise ValueError(
            "lsh_ann_topk requires dim= (embedding dimensionality); inferring it "
            "would run a driver-side first() over the corpus in the hot path"
        )
    tables = [_hyperplanes(dim, n_planes, seed + 1_000_003 * t) for t in range(n_tables)]

    c = corpus.select(F.col(id_col), F.col(vec_col).alias("_cv")).withColumn(
        "bucket", F.explode(lsh_table_buckets(F.col("_cv"), tables, n_planes))
    )
    # probes: each table's own bucket plus its hamming-1 neighbors (the
    # XOR flips only low signature bits, below the table-offset bits)
    flips = F.array(F.lit(0), *[F.lit(1 << i) for i in range(n_planes)])
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qv")).withColumn(
        "bucket",
        F.explode(
            F.flatten(
                F.transform(
                    lsh_table_buckets(F.col("_qv"), tables, n_planes),
                    lambda kb: F.transform(flips, lambda fl: kb.bitwiseXOR(fl).cast("int")),
                )
            )
        ),
    )
    cand = (
        c.join(F.broadcast(q), on="bucket")
        .dropDuplicates([query_id_col, id_col])
        .withColumn("cos", cosine(F.col("_qv"), F.col("_cv")))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(), F.col(id_col))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos", "rank")
    )


def pseudo_random_centroids(dim: int, n_clusters: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit centroids (same public LCG recipe
    as ``_hyperplanes``) — the ``centroids=`` input for IVF when cells are
    assigned by an externally-fixed codebook (and for SQL oracles, which
    bake the identical literals in)."""
    return _hyperplanes(dim, n_clusters, seed)


def fit_centroids_kmeans(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    n_clusters: int,
    sample_size: int = 2048,
    iters: int = 5,
    seed: int = 42,
) -> list[list[float]]:
    """k-means-lite centroid fit on a bounded driver-side sample.

    The sample is drawn in xxhash64(id) order (TakeOrdered — one narrow
    pass, no full sort shuffle), NOT ``limit()``: limit takes the first
    rows of the first partition(s), which at 100 TB is one file's worth of
    possibly temporally/spatially clustered vectors — biased centroids
    silently degrade recall (r2 VERDICT finding #1). Hash order is
    uniform over the corpus regardless of file layout.
    """
    import numpy as np

    sample = np.array(
        [
            r[0]
            for r in corpus.select(F.col(vec_col), F.col(id_col))
            .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
            .limit(sample_size)
            .select(vec_col)
            .collect()
        ],
        dtype="float64",
    )
    rng = np.random.RandomState(seed)
    cents = sample[rng.choice(len(sample), size=min(n_clusters, len(sample)), replace=False)]
    for _ in range(iters):
        d = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for ci in range(len(cents)):
            m = sample[assign == ci]
            if len(m):
                cents[ci] = m.mean(0)
    return [[float(x) for x in cv] for cv in cents]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    sample_size: int = 2048,
    iters: int = 5,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-flat ANN: assign corpus vectors to their nearest centroid
    JVM-side and probe only the ``nprobe`` nearest cells per query.

    ``centroids`` supplied => use them verbatim (the production shape: the
    codebook is fitted offline/periodically, assignment+probe is the hot
    path — and the whole query becomes deterministic, SQL-oracle-checkable
    integer/float arithmetic). Otherwise fit k-means-lite on a bounded
    unbiased sample (``fit_centroids_kmeans``).

    At 100 TB the centroid fit stays O(sample); assignment is one narrow
    map; the probe join is an equi-join on cluster id.
    """
    if centroids is not None:
        cents = centroids
        if len(cents) != n_clusters:
            raise ValueError(f"{len(cents)} centroids supplied but n_clusters={n_clusters}")
    else:
        cents = fit_centroids_kmeans(
            corpus, vec_col, id_col, n_clusters, sample_size, iters, seed
        )

    # all centroid distances in ONE nested higher-order expression (a
    # single transform over the centroid literal matrix) — not one
    # aggregate subtree per centroid, which bloats the plan and compile
    # time linearly in n_clusters (see lsh_table_buckets)
    cent_mat = F.array(*[F.array(*[F.lit(float(x)) for x in cv]) for cv in cents])

    def nearest_cluster(vec: Column, topn: int) -> Column:
        dists = F.transform(
            cent_mat,
            lambda cvec, ci: F.struct(
                F.aggregate(
                    F.zip_with(vec, cvec, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("d"),
                ci.alias("c"),
            ),
        )
        return F.transform(F.slice(F.array_sort(dists), 1, topn), lambda s: s["c"])

    c = corpus.select(F.col(id_col), F.col(vec_col).alias("_cv")).withColumn(
        "cluster", F.element_at(nearest_cluster(F.col("_cv"), 1), 1)
    )
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qv")).withColumn(
        "cluster", F.explode(nearest_cluster(F.col("_qv"), nprobe))
    )
    scored = c.join(F.broadcast(q), on="cluster").withColumn(
        "cos", cosine(F.col("_qv"), F.col("_cv"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos", "rank")
    )
