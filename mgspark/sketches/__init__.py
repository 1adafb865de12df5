"""Mergeable sketch/approximate-aggregation families over Spark DataFrames.

High-level DataFrame API: each function stages the shared two-phase
partial+final aggregation (see base.py) and finishes on the driver.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mgspark.sketches.base import (  # noqa: F401
    MergeableSketch,
    sketch_agg,
    sketch_agg_grouped,
    sketch_partials,
)
from mgspark.sketches.bloom import BloomFilter  # noqa: F401
from mgspark.sketches.cms import CountMinSketch  # noqa: F401
from mgspark.sketches.hll import HLLSketch  # noqa: F401
from mgspark.sketches.kll import KLLSketch  # noqa: F401
from mgspark.sketches.tdigest import TDigest  # noqa: F401

__all__ = [
    "MergeableSketch",
    "HLLSketch",
    "CountMinSketch",
    "BloomFilter",
    "TDigest",
    "KLLSketch",
    "sketch_agg",
    "sketch_agg_grouped",
    "sketch_partials",
    "hll_distinct",
    "cms_estimates",
    "bloom_build",
    "bloom_probe",
    "tdigest_quantiles",
    "kll_quantiles",
    "tdigest_quantiles_grouped",
]


def _encoded(df: DataFrame, col: str) -> DataFrame:
    from mgspark.aggregate import encode_tokens

    return encode_tokens(df, col, key_col="_key")


def hll_distinct(df: DataFrame, col: str, p: int = 14) -> float:
    """Approximate COUNT(DISTINCT col) via distributed HLL."""
    sketch = HLLSketch(p)
    state = sketch_agg(_encoded(df, col), "_key", sketch)
    return sketch.estimate(state)


def _hash_literals(spark: SparkSession, col: str, dtype: str, values: list) -> list:
    """``encode_tokens`` keys of ``values`` cast to ``dtype``, in input order.

    The values ride a one-row literal frame and are exploded and hashed
    in the JVM: one job, no Python worker and no Python RDD."""
    if not values:
        return []
    literals = F.array(*[F.lit(v).cast(dtype) for v in values])
    probe = spark.sql("SELECT 1").select(F.posexplode(literals).alias("_pos", col))
    rows = _encoded(probe, col).select("_pos", "_key").collect()
    return [r["_key"] for r in sorted(rows, key=lambda r: r["_pos"])]


def cms_estimates(
    df: DataFrame,
    col: str,
    probe_keys: list,
    eps: float = 1e-4,
    delta: float = 1e-3,
    probe_hashed: list | None = None,
) -> dict:
    """Count-Min point-frequency estimates for ``probe_keys`` (raw
    values).  ``probe_hashed`` optionally supplies the keys' already-
    computed ``encode_tokens`` hashes (e.g. collected alongside a
    distinct-keys scan), skipping the one-job probe-hashing round-trip;
    it must align with ``probe_keys``."""
    sketch = CountMinSketch(eps, delta)
    encoded = _encoded(df, col)
    state = sketch_agg(encoded, "_key", sketch)
    if probe_hashed is None:
        probe_hashed = _hash_literals(df.sparkSession, col, dict(df.dtypes)[col], probe_keys)
    elif len(probe_hashed) != len(probe_keys):
        raise ValueError("probe_hashed must align with probe_keys")
    ests = sketch.estimate(state, np.asarray(probe_hashed, dtype=np.int64))
    return {value: int(est) for value, est in zip(probe_keys, ests)}


def bloom_build(df: DataFrame, col: str, capacity: int = 1_000_000, fpr: float = 0.01):
    """Build a distributed Bloom filter; returns (BloomFilter, state)."""
    sketch = BloomFilter(capacity, fpr)
    state = sketch_agg(_encoded(df, col), "_key", sketch)
    return sketch, state


def bloom_probe(
    df: DataFrame,
    col: str,
    sketch: BloomFilter,
    state: np.ndarray,
    flag_col: str = "in_bloom",
) -> DataFrame:
    """Distributed membership probe: the input plus a boolean
    ``flag_col`` (no false negatives; false positives at the filter's
    fpr).  The serialized filter state is broadcast ONCE (m/8 bytes —
    ~1.5 MB at capacity 1e6 / fpr 0.01) and probed inside Arrow-batched
    ``mapInPandas``; no key set ever materializes on the driver, so the
    probe scales with the executor fleet, not the driver heap.  Keys are
    hashed with the same :func:`~mgspark.aggregate.encode_tokens` rule
    as :func:`bloom_build`, so integral columns probe their raw values.
    """
    from pyspark.sql.types import BooleanType, StructField, StructType

    encoded = _encoded(df, col)
    blob = df.sparkSession.sparkContext.broadcast(sketch.serialize(state))
    capacity, fpr = sketch.capacity, sketch.fpr
    out_schema = StructType(
        list(df.schema.fields) + [StructField(flag_col, BooleanType(), False)]
    )
    out_cols = [f.name for f in df.schema.fields]

    def probe(batches):
        sk = BloomFilter(capacity, fpr)
        st = sk.deserialize(blob.value)
        for pdf in batches:
            keys = pdf["_key"].to_numpy(dtype="int64", na_value=0)
            out = pdf[out_cols].copy()
            out[flag_col] = sk.contains(st, keys)
            yield out

    return encoded.mapInPandas(probe, out_schema)


def tdigest_quantiles(df: DataFrame, col: str, qs, compression: float = 200.0) -> np.ndarray:
    sketch = TDigest(compression)
    state = sketch_agg(df, col, sketch)
    return sketch.quantiles(state, qs)


def kll_quantiles(df: DataFrame, col: str, qs, k: int = 200) -> np.ndarray:
    sketch = KLLSketch(k)
    state = sketch_agg(df, col, sketch)
    return np.array([sketch.quantile(state, q) for q in qs])


def tdigest_quantiles_grouped(
    df: DataFrame,
    group_col: str,
    col: str,
    qs,
    compression: float = 200.0,
    mode: str = "auto",
) -> DataFrame:
    """Per-group t-digest quantiles: (group, q double, quantile_est
    double) — ``groupBy(g).agg(percentile_approx)`` through the engine's
    own mergeable digest (:func:`mgspark.sketches.base.sketch_agg_grouped`;
    salt-ordered merges keep this order-sensitive family deterministic
    across reruns)."""
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    from mgspark.sketches.base import sketch_agg_grouped

    sketch = TDigest(compression)
    payloads = sketch_agg_grouped(df, group_col, col, sketch, mode=mode)
    qs = [float(q) for q in qs]
    schema = StructType(
        [
            StructField(group_col, df.schema[group_col].dataType, True),
            StructField("q", DoubleType(), False),
            StructField("quantile_est", DoubleType(), False),
        ]
    )

    def estimate(batches):
        for pdf in batches:
            groups, out_q, out_v = [], [], []
            for g, blob in zip(pdf[group_col], pdf["payload"]):
                state = sketch.deserialize(bytes(blob))
                for q, v in zip(qs, sketch.quantiles(state, qs)):
                    groups.append(g)
                    out_q.append(q)
                    out_v.append(float(v))
            yield pd.DataFrame({group_col: groups, "q": out_q, "quantile_est": out_v})

    return payloads.mapInPandas(estimate, schema)
