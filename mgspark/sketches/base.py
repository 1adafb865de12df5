"""Mergeable-sketch framework: one partial+final aggregation skeleton for
every sketch family (HLL, Count-Min, Bloom, t-digest, KLL, ...).

Same execution shape as the MG pipeline (mgspark/aggregate.py): stage 1
is a shuffle-free ``mapInArrow`` over the scan partitions, each task
folding its Arrow batches into one O(sketch-size) state and emitting a
single serialized row; stage 2 runs distributed ``applyInPandas`` merge
rounds only while more than ``fanout`` partial rows remain, then folds
the last <= fanout rows on the driver.  PySpark has no Python UDAF merge
hook, so the partial/final split is staged explicitly.

A sketch family implements the five kernel hooks below on numpy state;
the Spark plumbing (``sketch_partials`` / ``sketch_agg``) is shared and
never touches per-row Python.
"""

from __future__ import annotations

import json
import os
import time
from abc import ABC, abstractmethod
from typing import Any, Iterator

import numpy as np
import pandas as pd

from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

__all__ = ["MergeableSketch", "sketch_partials", "sketch_agg", "sketch_agg_grouped", "splitmix64"]

SKETCH_PARTIAL_SCHEMA = StructType(
    [
        StructField("partition_id", LongType(), False),
        StructField("payload", BinaryType(), False),
        StructField("rows", LongType(), False),
        StructField("wall_sec", DoubleType(), False),
    ]
)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit mixer (public-domain splitmix64 finalizer).

    Re-hashes int64 keys into uniform uint64 bits for register/bucket
    derivation — xxhash64 output alone is uniform, but families needing
    several independent hashes derive them from this mix.
    """
    z = x.astype(np.uint64, copy=True)
    z += np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


class MergeableSketch(ABC):
    """Kernel contract for a mergeable sketch family.

    State is any picklable-free numpy structure; ``serialize`` /
    ``deserialize`` round-trip it through ``bytes`` for the Arrow
    boundary.  ``merge`` must be associative and commutative (or
    order-insensitive within the family's published error bound).
    """

    name: str = "sketch"

    @abstractmethod
    def zero(self) -> Any: ...

    @abstractmethod
    def build(self, state: Any, values: pd.Series) -> Any:
        """Fold one Arrow-batch column into the state (vectorized)."""

    @abstractmethod
    def merge(self, a: Any, b: Any) -> Any: ...

    @abstractmethod
    def serialize(self, state: Any) -> bytes: ...

    @abstractmethod
    def deserialize(self, blob: bytes) -> Any: ...

    def params(self) -> dict:
        """The constructor parameters (and values derived from them) that
        shape the state: its public scalar attributes.  A checkpoint
        records them so partials built with other parameters are refused."""
        return {
            name: value
            for name, value in vars(self).items()
            if not name.startswith("_") and isinstance(value, (int, float, str))
        }


def sketch_partials(df: DataFrame, col: str, sketch: MergeableSketch) -> DataFrame:
    """Stage 1: one serialized partial sketch per non-empty scan partition.

    Raw Arrow record batches feed ``sketch.build`` as pandas Series built
    from a single Arrow column — no per-batch DataFrame block manager.
    """
    import pyarrow as pa

    projected = df.select(F.col(col).alias("_v"))

    def build(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        start = time.perf_counter()
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        state = sketch.zero()
        rows = 0
        for batch in batches:
            rows += batch.num_rows
            state = sketch.build(state, batch.column(0).to_pandas())
        if rows == 0:
            return
        yield pa.RecordBatch.from_pydict(
            {
                "partition_id": pa.array([pid], pa.int64()),
                "payload": pa.array([sketch.serialize(state)], pa.binary()),
                "rows": pa.array([rows], pa.int64()),
                "wall_sec": pa.array([time.perf_counter() - start], pa.float64()),
            }
        )

    return projected.mapInArrow(build, SKETCH_PARTIAL_SCHEMA)


_MANIFEST = "_manifest.json"  # leading "_": Spark's parquet reader skips it


def checkpoint_manifest(
    family: str,
    params: dict,
    key_col: str,
    weight_col: str | None = None,
    token_col: str | None = None,
) -> dict:
    """What a partials checkpoint was built from: the sketch family, its
    parameters and the key, weight and token columns it read."""
    manifest = {
        "family": family,
        "params": params,
        "key_col": key_col,
        "weight_col": weight_col,
        "token_col": token_col,
    }
    # JSON round trip, so a fresh manifest compares equal to a stored one.
    return json.loads(json.dumps(manifest, sort_keys=True))


def checkpoint_ready(checkpoint_dir: str, manifest: dict) -> bool:
    """True when ``checkpoint_dir`` holds complete partials to resume from.

    Raises ``ValueError`` when its manifest differs from ``manifest``:
    resuming partials built with another family, parameters or columns
    would silently answer a different query.  Partials written without
    a manifest (by hand, or by code that predates it) are trusted as
    before.
    """
    if not os.path.exists(os.path.join(checkpoint_dir, "_SUCCESS")):
        return False
    path = os.path.join(checkpoint_dir, _MANIFEST)
    if not os.path.exists(path):
        return True
    with open(path, encoding="utf8") as f:
        stored = json.load(f)
    if stored != manifest:
        diff = {
            key: (stored.get(key), manifest.get(key))
            for key in sorted(stored.keys() | manifest.keys())
            if stored.get(key) != manifest.get(key)
        }
        raise ValueError(
            f"checkpoint {checkpoint_dir} was built for another query "
            f"({{field: (checkpoint, requested)}} = {diff}); "
            "delete it or pass a fresh checkpoint_dir"
        )
    return True


def write_checkpoint(partials: DataFrame, checkpoint_dir: str, manifest: dict) -> None:
    """Persist stage-1 partial rows as parquet, with their manifest beside them."""
    partials.write.mode("overwrite").parquet(checkpoint_dir)
    with open(os.path.join(checkpoint_dir, _MANIFEST), "w", encoding="utf8") as f:
        json.dump(manifest, f, sort_keys=True)


def checkpoint_partitions(partials: DataFrame) -> int:
    """Round-planning bound for checkpointed partials: max(partition_id)+1.

    Not a row count: empty stage-1 partitions emit no row, so
    checkpointed ids can be sparse and count() would under-plan the
    merge rounds, leaving more rows than one fold should take.
    """
    max_pid = partials.agg(F.max("partition_id").alias("m")).first()["m"]
    return (int(max_pid) + 1) if max_pid is not None else 0


def _fold(sketch: MergeableSketch, payloads) -> Any:
    """Sequential merge of serialized states, from ``zero()``, in the given order."""
    state = sketch.zero()
    for blob in payloads:
        state = sketch.merge(state, sketch.deserialize(bytes(blob)))
    return state


def _merge_round(partials: DataFrame, sketch: MergeableSketch, fanout: int) -> DataFrame:
    """One distributed merge round: bucket by ``partition_id // fanout``
    and fold each bucket, in ascending partition-id order, in one
    ``applyInPandas`` task.  The bucket id is the next round's
    (dense) partition id."""

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        start = time.perf_counter()
        pdf = pdf.sort_values("partition_id")
        state = _fold(sketch, pdf["payload"])
        return pd.DataFrame(
            {
                "partition_id": [int(pdf["_bucket"].iloc[0])],
                "payload": [sketch.serialize(state)],
                "rows": [int(pdf["rows"].sum())],
                "wall_sec": [time.perf_counter() - start],
            }
        )

    return (
        partials.withColumn("_bucket", (F.col("partition_id") / fanout).cast("long"))
        .groupBy("_bucket")
        .applyInPandas(merge_group, SKETCH_PARTIAL_SCHEMA)
    )


def sketch_agg(
    df: DataFrame,
    col: str,
    sketch: MergeableSketch,
    fanout: int = 64,
    checkpoint_dir: str | None = None,
) -> Any:
    """End-to-end: build + merge, return the final state on the driver.

    Stage 2 plans distributed merge rounds only while more than
    ``fanout`` partials remain (none at all for <= ``fanout`` input
    partitions), then collects the <= ``fanout`` remaining rows and folds
    them on the driver with ``sketch.merge`` from ``zero()`` in ascending
    ``partition_id`` order — the fold the last ``applyInPandas`` task
    would run, so even the order-sensitive families (t-digest, KLL) get
    the same state, minus that round's shuffle and Python-worker wave.
    Driver memory is bounded by ``fanout`` x payload size (e.g. 64 x
    1.5 MB for a Count-Min sketch at ``eps=1e-4``), what that last merge
    task would otherwise hold.

    ``checkpoint_dir`` persists the stage-1 partial rows (payload +
    lineage/metrics) to parquet with a manifest of the family, its
    parameters and ``col``; a rerun resumes from them — same contract
    as the MG pipeline's checkpointing — and raises ``ValueError`` if
    they were built for another family, parameters or column.
    """
    if checkpoint_dir is not None:
        manifest = checkpoint_manifest(sketch.name, sketch.params(), col)
        if not checkpoint_ready(checkpoint_dir, manifest):
            write_checkpoint(sketch_partials(df, col, sketch), checkpoint_dir, manifest)
        partials = df.sparkSession.read.parquet(checkpoint_dir)
        remaining = checkpoint_partitions(partials)
    else:
        partials = sketch_partials(df, col, sketch)
        remaining = partials.rdd.getNumPartitions()
    while remaining > fanout:
        partials = _merge_round(partials, sketch, fanout)
        remaining = -(-remaining // fanout)
    rows = sorted(partials.collect(), key=lambda r: r["partition_id"])
    return _fold(sketch, (r["payload"] for r in rows))


GROUPED_PARTIAL_SCHEMA_SUFFIX = [
    StructField("_salt", LongType(), False),
    StructField("payload", BinaryType(), False),
    StructField("rows", LongType(), False),
]


def sketch_agg_grouped(
    df: DataFrame,
    group_col: str,
    value_col: str,
    sketch: MergeableSketch,
    num_salts: int = 16,
    mode: str = "auto",
    mapside_group_cap: int = 1024,
) -> DataFrame:
    """Per-group sketches as a distributed DataFrame: one serialized
    state per group value — the ``df.groupBy(g).agg(sketch(x))`` shape
    PySpark cannot express as a Python UDAF.

    Two plans, selected by ``mode``:

    * ``"mapside"`` — stage 1 is a ZERO-input-shuffle ``mapInPandas``
      over the scan partitions, each task folding a dict of per-group
      states (the map-side-combine shape of a hash aggregate); only
      O(partitions x groups x sketch-size) partial rows shuffle into
      the per-group merge.  Right whenever the distinct group count is
      modest (task memory holds groups x sketch-size).
    * ``"shuffle"`` — stage 1 shuffles rows by ``(group, salt)`` where
      the salt derives from the INPUT PARTITION id, so both a hot group
      and a hot identical value fan across up to ``num_salts`` cells.
      (Splitting identical rows across cells is multiset-correct for
      every mergeable family — sketch(A ⊎ B) = merge(sketch(A),
      sketch(B)) — unlike the grouped MG path, whose pre-aggregated
      counts force equal rows into one bucket.)  Stage-1 shuffle volume
      is O(rows); use it when group cardinality is too high for the
      map-side dict.
    * ``"auto"`` — one JVM-only ``approx_count_distinct`` probe on the
      group column picks map-side iff groups <= ``mapside_group_cap``.

    Stage 2 merges each group's partials in ascending ``_salt`` order —
    deterministic, so order-sensitive-within-bound families (t-digest,
    KLL) reproduce bit-identical results across reruns of the same
    input (same reason ``sketch_agg`` folds in partition-id order).

    Output: (group_col, _salt=0, payload binary, rows long); map the
    family's ``estimate``/query over the payloads (e.g. HLL distinct
    per group).  Null group values form their own group, matching SQL
    GROUP BY.  Caveat: a NULLABLE int64 group column passes through
    pandas as float64 in the map-side fold and in estimator helpers, so
    group KEYS above 2^53 lose precision there — use string group keys
    (or drop nulls first) for snowflake-scale id groups.
    """
    if mode not in ("auto", "mapside", "shuffle"):
        raise ValueError(f"mode must be auto|mapside|shuffle, got {mode!r}")
    group_type = df.schema[group_col].dataType
    partial_schema = StructType(
        [StructField(group_col, group_type, True), *GROUPED_PARTIAL_SCHEMA_SUFFIX]
    )
    projected = df.select(F.col(group_col), F.col(value_col).alias("_v"))

    if mode == "auto":
        n_groups = projected.agg(
            F.approx_count_distinct(group_col).alias("g")
        ).first()["g"]
        mode = "mapside" if n_groups <= mapside_group_cap else "shuffle"

    _NULL = object()  # sentinel: the SQL null group

    if mode == "mapside":

        def fold_partitions(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            states: dict[Any, Any] = {}
            counts: dict[Any, int] = {}
            for pdf in batches:
                null_mask = pdf[group_col].isna()
                for key, sub in pdf[~null_mask].groupby(group_col, sort=False):
                    states[key] = sketch.build(states.get(key, sketch.zero()), sub["_v"])
                    counts[key] = counts.get(key, 0) + len(sub)
                if null_mask.any():
                    sub = pdf[null_mask]
                    states[_NULL] = sketch.build(
                        states.get(_NULL, sketch.zero()), sub["_v"]
                    )
                    counts[_NULL] = counts.get(_NULL, 0) + len(sub)
            if not states:
                return
            yield pd.DataFrame(
                {
                    group_col: [None if k is _NULL else k for k in states],
                    "_salt": [pid] * len(states),
                    "payload": [sketch.serialize(s) for s in states.values()],
                    "rows": [counts[k] for k in states],
                }
            )

        partials = projected.mapInPandas(fold_partitions, partial_schema)
    else:
        salted = projected.withColumn(
            "_salt", F.pmod(F.spark_partition_id(), F.lit(num_salts))
        )

        def fold(pdf: pd.DataFrame) -> pd.DataFrame:
            state = sketch.build(sketch.zero(), pdf["_v"])
            return pd.DataFrame(
                {
                    group_col: [pdf[group_col].iloc[0]],
                    "_salt": [int(pdf["_salt"].iloc[0])],
                    "payload": [sketch.serialize(state)],
                    "rows": [len(pdf)],
                }
            )

        partials = salted.groupBy(group_col, "_salt").applyInPandas(
            fold, partial_schema
        )

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # Ascending salt order: deterministic merges for families that
        # are only order-insensitive within their error bound.
        pdf = pdf.sort_values("_salt")
        state = _fold(sketch, pdf["payload"])
        return pd.DataFrame(
            {
                group_col: [pdf[group_col].iloc[0]],
                "_salt": [0],
                "payload": [sketch.serialize(state)],
                "rows": [int(pdf["rows"].sum())],
            }
        )

    return partials.groupBy(group_col).applyInPandas(merge_group, partial_schema)
