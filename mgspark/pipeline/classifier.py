"""Model-based quality filtering: distributed logistic regression.

Production curation pipelines (CCNet, FineWeb) gate documents with a
learned quality classifier, not just hand rules.  This module trains a
logistic-regression gate with full-batch gradient descent where every
iteration is ONE combiner-aggregated scan — the same scale shape as the
k-means centroid update:

- the margin ``w . x + b`` is a pure-JVM ``zip_with``/``aggregate``
  expression over the broadcast-literal weight vector;
- the sigmoid is ``1 / (1 + exp(-m))`` in JVM ``F.exp``;
- the gradient is ``groupBy().agg(sum((p - y) * x_j) for each j)`` —
  map-side partial aggregation shuffles d+2 doubles per partition
  regardless of corpus size;
- the driver holds only the (d+1)-float parameter vector.

No Python touches any row.  Fixed iterations + zero init + a fixed
learning rate make training deterministic up to float summation order;
scoring releases integer labels, so on a margin-separated corpus the
released predictions are exactly reproducible (the same ulp argument as
pipeline/clustering.py — see write_classifier_docs_parquet).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "logreg_train",
    "logreg_score",
    "write_classifier_docs_parquet",
]


def _margin_expr(vec_col: str, weights: np.ndarray, bias: float):
    lit = F.array(*[F.lit(float(w)) for w in weights])
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), lit, lambda x, w: x * w),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return dot + F.lit(float(bias))


def logreg_train(
    df: DataFrame,
    vec_col: str,
    label_col: str,
    iterations: int = 20,
    lr: float = 0.5,
    local_elements: int = 8_000_000,
) -> tuple[np.ndarray, float]:
    """Full-batch GD from zero init; returns (weights, bias).

    Full-batch GD is inherently sequential in its iterations, so the
    distributed loop costs ``iterations`` scheduler round-trips (each
    one scan + a combiner-aggregated shuffle of (d+2) partial sums) —
    the right shape when the training set is large.  Labeled training
    sets for quality gates are typically small relative to the corpus
    being gated, and below ``local_elements`` matrix cells
    (rows x (dim+1), default 8M ~ 64 MB of float64 — far under the
    driver's collect ceiling) the whole set is fetched ONCE via Arrow
    and the identical GD loop runs vectorized on the driver: one job
    instead of ``iterations + 3``.  The gradient math is the same
    expression in the same IEEE arithmetic; results differ only in
    float summation order, exactly like re-partitioning the distributed
    loop does.  Inputs past the bound keep the distributed
    one-scan-per-iteration shape; ragged feature rows, null labels and
    null feature elements fall back to the distributed path too (it
    skips nulls per element_at and SUM semantics).
    """
    sel = df.select(
        F.col(vec_col).alias("x"), F.col(label_col).cast("double").alias("y")
    )
    first = sel.select(F.size("x").alias("d")).first()
    if first is None:
        return np.zeros(0), 0.0
    dim = int(first["d"])
    budget_rows = max(1, local_elements // (dim + 1))
    head = sel.limit(budget_rows + 1).toPandas()
    if len(head) <= budget_rows:
        try:
            X = np.array([np.asarray(v, dtype=np.float64) for v in head["x"]])
            if X.ndim != 2:  # ragged rows collapse to an object array
                raise ValueError("ragged feature vectors")
        except (TypeError, ValueError):
            X = None
        y = head["y"].to_numpy(dtype=np.float64, na_value=np.nan)
        # A null label or array element arrives as NaN and would poison
        # every weight; the distributed path skips nulls instead.
        if X is not None and (np.isnan(X).any() or np.isnan(y).any()):
            X = None
        if X is not None and X.shape[1] == dim:
            n = len(head)
            w = np.zeros(dim)
            b = 0.0
            for _ in range(iterations):
                p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
                r = p - y
                w = w - lr * (X.T @ r) / n
                b = b - lr * float(r.sum()) / n
            return w, b
    cached = sel.persist()
    try:
        n = cached.count()
        # The loop launches `iterations` jobs against the cache; for a
        # small corpus the per-task scheduling overhead (partitions x
        # iterations empty-ish tasks) dominates the arithmetic.  Keep a
        # ~50k-rows-per-task floor: big inputs keep full parallelism,
        # tiny ones collapse to a few tasks per iteration.
        parts = cached.rdd.getNumPartitions()
        target = max(1, min(parts, n // 50_000 + 1))
        if target < parts:
            small = cached.coalesce(target).persist()
            try:
                small.count()
            except Exception:
                small.unpersist()
                raise
            cached.unpersist()
            cached = small
        w = np.zeros(dim)
        b = 0.0
        for _ in range(iterations):
            m = _margin_expr("x", w, b)
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-m))
            resid = (p - F.col("y")).alias("r")
            row = (
                cached.select(resid, "x")
                .agg(
                    F.sum("r").alias("g_b"),
                    *[
                        F.sum(F.col("r") * F.element_at("x", j + 1)).alias(f"g{j}")
                        for j in range(dim)
                    ],
                )
                .first()
            )
            grad_w = np.array([row[f"g{j}"] for j in range(dim)]) / n
            w = w - lr * grad_w
            b = b - lr * float(row["g_b"]) / n
    finally:
        cached.unpersist()
    return w, b


def logreg_score(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    weights: np.ndarray,
    bias: float,
    threshold: float = 0.5,
) -> DataFrame:
    """(id, keep): keep = 1 where sigmoid(w.x + b) >= threshold —
    equivalently margin >= logit(threshold), computed without exp so the
    comparison is exact at threshold 0.5 (margin >= 0).  Pure-JVM
    expression; plan has no Python node."""
    logit = float(np.log(threshold / (1.0 - threshold)))
    m = _margin_expr(vec_col, weights, bias)
    return df.select(
        F.col(id_col).alias("id"),
        (m >= F.lit(logit)).cast("long").alias("keep"),
    )


def write_classifier_docs_parquet(
    path: str, n: int = 300, dim: int = 6, seed: int = 71
) -> str:
    """Linearly separable INTEGER-feature fixture with a wide margin:
    label 1 rows have feature sums around +30, label 0 around -30, so
    after a few GD iterations every margin is far from the decision
    boundary and cross-engine ulp noise in the trained weights cannot
    flip a released label.  Columns: (doc_id, features, label)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(path):
        return path
    rng = np.random.default_rng(seed)
    ids, feats, labels = [], [], []
    for i in range(n):
        y = i % 2
        base = 5 if y else -5
        v = base + rng.integers(-2, 3, size=dim)
        ids.append(i)
        feats.append([float(x) for x in v])
        labels.append(y)
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "features": pa.array(feats, pa.list_(pa.float64())),
            "label": pa.array(labels, pa.int64()),
        }
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return path
