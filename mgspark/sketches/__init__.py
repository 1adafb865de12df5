"""Mergeable sketch/approximate-aggregation families over Spark DataFrames.

HLL, Count-Min and KLL are Spark's own mergeable aggregates
(``hll_sketch_agg``, ``count_min_sketch``, ``kll_sketch_agg_double``):
each call is one JVM aggregation with no Python worker.  Misra-Gries,
Bloom and t-digest have no JVM twin; they run on the shared two-phase
partial+final skeleton (see base.py) and finish on the driver.

HLL and Count-Min read a column by one rule: nulls are ignored,
``tinyint``/``smallint``/``int``/``bigint`` are cast to ``bigint``,
``string`` and ``binary`` pass through, and any other type is cast to
``string``.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mgspark.sketches.base import (  # noqa: F401
    MergeableSketch,
    merge_partials,
    sketch_agg,
    sketch_agg_grouped,
    sketch_partials,
)
from mgspark.sketches.bloom import BloomFilter  # noqa: F401
from mgspark.sketches.mg import MGSketch  # noqa: F401
from mgspark.sketches.tdigest import TDigest  # noqa: F401

__all__ = [
    "MergeableSketch",
    "BloomFilter",
    "TDigest",
    "MGSketch",
    "sketch_agg",
    "sketch_agg_grouped",
    "sketch_partials",
    "merge_partials",
    "hll_distinct",
    "hll_distinct_grouped",
    "cms_estimates",
    "bloom_build",
    "bloom_probe",
    "tdigest_quantiles",
    "kll_quantiles",
    "tdigest_quantiles_grouped",
]

_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _sketch_input(column: Column, dtype: str) -> Column:
    """``column`` (of SQL type ``dtype``) as HLL and Count-Min read it."""
    if dtype in _INTEGRAL:
        return column.cast("bigint")
    if dtype in ("string", "binary"):
        return column
    return column.cast("string")


def _check_p(p: int) -> int:
    if not 4 <= p <= 18:
        raise ValueError("p must be in [4, 18]")
    return p


def _encoded(df: DataFrame, col: str) -> DataFrame:
    from mgspark.aggregate import encode_tokens

    return encode_tokens(df, col, key_col="_key")


def _hll_sketch(df: DataFrame, col: str, p: int) -> Column:
    """Spark's HLL sketch of ``df[col]`` as an aggregate column."""
    return F.hll_sketch_agg(_sketch_input(F.col(col), dict(df.dtypes)[col]), _check_p(p))


def hll_distinct(df: DataFrame, col: str, p: int = 14) -> float:
    """Approximate COUNT(DISTINCT col): one JVM ``hll_sketch_agg`` with
    ``2^p`` registers.

    The estimate is a fixed function of the input and how it is split
    into partitions: the sketch library estimates a merge of partial
    sketches differently from one sketch that saw every row in order
    (both within the HLL error bound), so a rerun over the same files
    repeats the estimate, while a repartitioned input can move it
    slightly: 60,000 distinct ids estimate 60,149 at 1 partition and
    59,998 at 2-7.  Merged partial sketches are also less accurate near
    ``n = 2^p / 2`` than one sketch is (4,551 distinct ids estimate
    4,579 / 4,520 / 4,551 at 1 / 2-8 / 32 partitions)."""
    return float(df.agg(F.hll_sketch_estimate(_hll_sketch(df, col, p))).first()[0])


def hll_distinct_grouped(df: DataFrame, group_col: str, col: str, p: int = 14) -> DataFrame:
    """Per-group distinct-count estimates: (group, n_distinct_est long).
    Null group values form their own group, as in SQL GROUP BY."""
    estimate = F.hll_sketch_estimate(_hll_sketch(df, col, p))
    return df.groupBy(group_col).agg(estimate.alias("n_distinct_est"))


_CMS_SEED = 1  # one fixed hash family, so the sketches of any two calls merge


def cms_estimates(
    df: DataFrame, col: str, probe_keys: list, eps: float = 1e-4, delta: float = 1e-3
) -> dict:
    """Count-Min point-frequency estimates for ``probe_keys`` (raw
    values): ``true <= estimate <= true + eps * N`` with probability
    ``1 - delta``.

    One JVM ``count_min_sketch`` aggregation; the same job casts the
    probe values to the column's type and by the same rule, and the
    driver reads the sketch with Spark's own Java reader (``readFrom``)
    to estimate each one.  A null probe value is 0, since the sketch
    ignores nulls."""
    if not eps > 0:
        raise ValueError("eps must be > 0")
    if not 0 < delta < 1:
        raise ValueError("delta must be in (0, 1)")
    if not probe_keys:
        return {}
    dtype = dict(df.dtypes)[col]
    sketch = F.count_min_sketch(
        _sketch_input(F.col(col), dtype), F.lit(float(eps)), F.lit(1.0 - delta), F.lit(_CMS_SEED)
    )
    probes = [_sketch_input(F.lit(v).cast(dtype), dtype) for v in probe_keys]
    row = df.agg(sketch.alias("cms"), F.array(*probes).alias("probe")).first()
    reader = df.sparkSession._jvm.org.apache.spark.util.sketch.CountMinSketch
    cms = reader.readFrom(row["cms"])
    return {
        key: 0 if value is None else int(cms.estimateCount(value))
        for key, value in zip(probe_keys, row["probe"])
    }


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
            keys = pdf["_key"].to_numpy(dtype="int64")
            out = pdf[out_cols].copy()
            out[flag_col] = sk.contains(st, keys)
            yield out

    return encoded.mapInPandas(probe, out_schema)


def tdigest_quantiles(df: DataFrame, col: str, qs, compression: float = 200.0) -> np.ndarray:
    sketch = TDigest(compression)
    state = sketch_agg(df, col, sketch)
    return sketch.quantiles(state, qs)


def kll_quantiles(df: DataFrame, col: str, qs, k: int = 200) -> np.ndarray:
    """Approximate quantiles of ``df[col]`` (cast to double; nulls
    ignored) from one JVM ``kll_sketch_agg_double``; NaN for an empty input."""
    ranks = F.array(*[F.lit(float(q)) for q in qs])
    sketch = F.kll_sketch_agg_double(F.col(col).cast("double"), k)
    row = (
        df.agg(sketch.alias("_kll"), F.count(col).alias("_n"))
        .select(F.when(F.col("_n") > 0, F.kll_sketch_get_quantile_double("_kll", ranks)))
        .first()
    )
    return np.array(row[0] if row[0] is not None else [np.nan] * len(qs), dtype=np.float64)


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
