"""Mergeable-sketch framework: one partial+final aggregation skeleton for
the sketch families Spark has no built-in aggregate for (Misra-Gries,
Bloom, t-digest).  HLL, Count-Min and KLL are Spark's own aggregates
(see ``mgspark.sketches``) and never reach this module.

Stage 1 (``sketch_partials``) is a shuffle-free ``mapInArrow`` over the
scan partitions, each task folding its Arrow batches into one
O(sketch-size) state and emitting a single serialized row; stage 2
(``merge_partials``) runs distributed ``applyInPandas`` merge rounds
only while more than ``fanout`` partial rows remain, then folds the last
<= fanout rows on the driver.  PySpark has no Python UDAF merge hook, so
the partial/final split is staged explicitly.

A sketch family implements the five kernel hooks below on numpy state.
``build`` folds one column as a pandas Series; a family that reads
several columns (MG: key, weight, exemplar token) overrides
``build_batch`` to read the Arrow batch itself.  The Spark plumbing —
including the per-group form, ``sketch_agg_grouped`` — is shared, feeds
every family through ``build_batch`` and never touches per-row Python.

Batches are capped by rows only.  :func:`sketch_agg` runs its jobs with
``spark.sql.execution.arrow.maxBytesPerBatch`` at ``Int.MaxValue`` as a
thread-local Spark property: at any other value Spark's JVM writer
measures the open Arrow batch after every row it appends, 0.25-0.45 us
per row on 4 CPUs (``python bench_extra.py --boundary``).  The
projected columns are narrow, so the session's 64 MB default seldom
closes a batch: 262,144 rows reach it only above 256 bytes a row.  A
batch holds at most ``spark.sql.execution.arrow.maxRecordsPerBatch``
rows (262,144 in :func:`mgspark.session.get_spark`) of the projected
columns: about 4 MB for key and weight, plus the token bytes when a
token column rides along.
A ``maxBytesPerBatch`` set explicitly on the session still wins, because
Spark copies explicit session confs over local properties when it runs
a query.
"""

from __future__ import annotations

import json
import os
import time
from abc import ABC, abstractmethod
from contextlib import contextmanager
from typing import Any, Iterator

import numpy as np
import pandas as pd

from pyspark import TaskContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

__all__ = [
    "MergeableSketch", "sketch_partials", "merge_partials", "sketch_agg",
    "sketch_agg_grouped", "splitmix64",
]

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

    Re-hashes int64 keys into uniform uint64 bits — xxhash64 output
    alone is uniform, but families needing several independent hashes
    (Bloom's bit positions) derive them from this mix.
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

    def build_batch(self, state: Any, batch: "pa.RecordBatch") -> Any:
        """Fold one Arrow record batch of the projected columns into the
        state; by default its first column, through ``build``."""
        return self.build(state, batch.column(0).to_pandas())

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


def sketch_partials(
    df: DataFrame, col: str | list[Column], sketch: MergeableSketch
) -> DataFrame:
    """Stage 1: one serialized partial sketch per non-empty scan partition.

    ``col`` names the one column to sketch, or lists the projected
    columns ``sketch.build_batch`` reads.  Raw Arrow record batches feed
    ``sketch.build_batch`` — no per-batch DataFrame block manager.
    """
    import pyarrow as pa

    projected = df.select(F.col(col).alias("_v")) if isinstance(col, str) else df.select(*col)

    def build(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        start = time.perf_counter()
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        state = sketch.zero()
        rows = 0
        for batch in batches:
            rows += batch.num_rows
            state = sketch.build_batch(state, batch)
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
    parameters, the key, weight and token columns it read, and the
    partial row layout (so partials in an older layout, e.g. MG's array
    rows, are refused with a clear error rather than failing to read)."""
    manifest = {
        "family": family,
        "params": params,
        "key_col": key_col,
        "weight_col": weight_col,
        "token_col": token_col,
        "partial_schema": SKETCH_PARTIAL_SCHEMA.simpleString(),
    }
    # JSON round trip, so a fresh manifest compares equal to a stored one.
    return json.loads(json.dumps(manifest, sort_keys=True))


def checkpoint_ready(checkpoint_dir: str, manifest: dict) -> bool:
    """True when ``checkpoint_dir`` holds complete partials to resume from.

    Raises ``ValueError`` when its manifest differs from ``manifest``:
    resuming partials built with another family, parameters or columns
    would silently answer a different query.  Complete partials without
    a manifest (written by hand, or by code that predates it, e.g. MG's
    old array rows) are refused too: nothing says what they hold.
    """
    if not os.path.exists(os.path.join(checkpoint_dir, "_SUCCESS")):
        return False
    path = os.path.join(checkpoint_dir, _MANIFEST)
    if not os.path.exists(path):
        raise ValueError(
            f"checkpoint {checkpoint_dir} has no {_MANIFEST}, so what its partials "
            "were built from is unknown; delete it or pass a fresh checkpoint_dir"
        )
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


def merge_partials(
    partials: DataFrame, num_partials: int, sketch: MergeableSketch, fanout: int = 64
) -> Any:
    """Stage 2: merge partial rows into the final state on the driver.

    Plans distributed merge rounds only while more than ``fanout`` of the
    ``num_partials`` partition ids remain, then collects the <= ``fanout``
    remaining rows and folds them on the driver with ``sketch.merge``
    from ``zero()`` in ascending ``partition_id`` order — the fold the
    last ``applyInPandas`` task would run, so even the order-sensitive
    families (t-digest, MG) get the same state, minus that round's
    shuffle and Python-worker wave.  Driver memory is bounded by
    ``fanout`` x payload size (e.g. 64 x 1.5 MB for a Bloom filter at
    capacity 1e6 / fpr 0.01), what that last merge task would otherwise hold.
    """
    remaining = num_partials
    while remaining > fanout:
        partials = _merge_round(partials, sketch, fanout)
        remaining = -(-remaining // fanout)
    rows = sorted(partials.collect(), key=lambda r: r["partition_id"])
    return _fold(sketch, (r["payload"] for r in rows))


_MAX_BYTES_PER_BATCH = "spark.sql.execution.arrow.maxBytesPerBatch"


@contextmanager
def _rows_only_batches(spark):
    """Run the enclosed jobs with Arrow batches capped by rows only.

    ``maxBytesPerBatch`` at ``Int.MaxValue`` is the one value at which
    Spark skips its per-row size check.  It is set as a thread-local
    property, so the session conf and other threads keep the byte cap,
    and the previous local value (none, usually) comes back on exit.
    """
    sc = spark.sparkContext
    previous = sc.getLocalProperty(_MAX_BYTES_PER_BATCH)
    sc.setLocalProperty(_MAX_BYTES_PER_BATCH, str(2**31 - 1))
    try:
        yield
    finally:
        sc.setLocalProperty(_MAX_BYTES_PER_BATCH, previous)  # None removes it


def sketch_agg(
    df: DataFrame,
    col: str | list[Column],
    sketch: MergeableSketch,
    fanout: int = 64,
    checkpoint_dir: str | None = None,
    manifest: dict | None = None,
) -> Any:
    """End-to-end ``sketch_partials`` + ``merge_partials``: the final
    state on the driver.  ``col`` is one column name, or the projected
    columns the family's ``build_batch`` reads.

    ``checkpoint_dir`` persists the stage-1 partial rows (payload +
    lineage/metrics) to parquet with ``manifest`` — by default the
    family, its parameters and ``col``; MG passes one over the caller's
    own columns, shared by its zero-shuffle and combiner plans.  A rerun
    resumes from them and raises ``ValueError`` on another manifest.

    Every job it runs (build, checkpoint write, merge rounds, resume)
    feeds Python Arrow batches capped by rows only: at most
    ``maxRecordsPerBatch`` rows of the projected columns, about 4 MB for
    key and weight plus the token bytes, with no per-row byte check
    (module docstring).  A ``maxBytesPerBatch`` set on the session wins.
    """
    with _rows_only_batches(df.sparkSession):
        if checkpoint_dir is None:
            partials = sketch_partials(df, col, sketch)
            return merge_partials(partials, partials.rdd.getNumPartitions(), sketch, fanout)
        if manifest is None:
            manifest = checkpoint_manifest(sketch.name, sketch.params(), col)
        if not checkpoint_ready(checkpoint_dir, manifest):
            write_checkpoint(sketch_partials(df, col, sketch), checkpoint_dir, manifest)
        return resume_partials(df.sparkSession, checkpoint_dir, sketch, fanout)


def resume_partials(spark, checkpoint_dir: str, sketch: MergeableSketch, fanout: int = 64) -> Any:
    """The final state of the partial rows checkpointed in ``checkpoint_dir``."""
    partials = spark.read.parquet(checkpoint_dir)
    return merge_partials(partials, checkpoint_partitions(partials), sketch, fanout)


GROUPED_PARTIAL_SCHEMA_SUFFIX = [
    StructField("_salt", LongType(), False),
    StructField("payload", BinaryType(), False),
    StructField("rows", LongType(), False),
]


def _group_rows(column: "pa.Array") -> Iterator[tuple[Any, np.ndarray]]:
    """(value, row positions) for each distinct value of an Arrow
    column; null is one value, ``None``."""
    import pyarrow.compute as pc

    encoded = column.dictionary_encode()
    codes = pc.fill_null(encoded.indices, -1).to_numpy(zero_copy_only=False)
    order = np.argsort(codes, kind="stable")  # keeps row order within a value
    uniq, starts = np.unique(codes[order], return_index=True)
    values = encoded.dictionary.to_pylist()
    for code, rows in zip(uniq.tolist(), np.split(order, starts[1:])):
        yield (None if code < 0 else values[code]), rows


def sketch_agg_grouped(
    df: DataFrame,
    group_col: str,
    col: str | list[Column],
    sketch: MergeableSketch,
    num_salts: int = 16,
    mode: str = "auto",
    mapside_group_cap: int = 1024,
) -> DataFrame:
    """Per-group sketches as a distributed DataFrame: one serialized
    state per group value — the ``df.groupBy(g).agg(sketch(x))`` shape
    PySpark cannot express as a Python UDAF.  ``col`` names the one
    column to sketch, or lists the projected columns the family's
    ``build_batch`` reads, as in :func:`sketch_partials`; both plans fold
    raw Arrow record batches through ``sketch.build_batch``.

    Two plans, selected by ``mode``:

    * ``"mapside"`` — stage 1 is a ZERO-input-shuffle ``mapInArrow``
      over the scan partitions, each task folding a dict of per-group
      states (the map-side-combine shape of a hash aggregate); only
      O(partitions x groups x sketch-size) partial rows shuffle into
      the per-group merge.  Right whenever the distinct group count is
      modest (task memory holds groups x sketch-size).
    * ``"shuffle"`` — stage 1 shuffles rows by ``(group, salt)`` into an
      ``applyInArrow`` fold, where the salt is the INPUT PARTITION id mod
      ``num_salts``, so both a hot group and a hot identical value fan
      across up to ``num_salts`` cells.  Splitting identical rows across
      cells is multiset-correct for every mergeable family —
      sketch(A ⊎ B) = merge(sketch(A), sketch(B)).  Stage-1 shuffle
      volume is O(rows); use it when group cardinality is too high for
      the map-side dict.
    * ``"auto"`` — one JVM-only ``approx_count_distinct`` probe on the
      group column picks map-side iff groups <= ``mapside_group_cap``.

    Stage 2 merges each group's partials in ascending ``_salt`` order —
    deterministic, so order-sensitive-within-bound families (t-digest,
    MG) reproduce bit-identical results across reruns of the same
    input (same reason ``sketch_agg`` folds in partition-id order).

    Output: (group_col, _salt=0, payload binary, rows long); map the
    family's ``estimate``/query over the payloads (e.g. t-digest
    quantiles per group).  Null group values form their own group, matching SQL
    GROUP BY.  Caveat: a NULLABLE int64 group column passes through
    pandas as float64 in estimator helpers, so group KEYS above 2^53
    lose precision there — use string group keys (or drop nulls first)
    for snowflake-scale id groups.
    """
    import pyarrow as pa

    if mode not in ("auto", "mapside", "shuffle"):
        raise ValueError(f"mode must be auto|mapside|shuffle, got {mode!r}")
    value_cols = [F.col(col).alias("_v")] if isinstance(col, str) else col
    value_pos = list(range(1, len(value_cols) + 1))  # after the group column
    partial_schema = StructType(
        [StructField(group_col, df.schema[group_col].dataType, True), *GROUPED_PARTIAL_SCHEMA_SUFFIX]
    )
    projected = df.select(F.col(group_col), *value_cols)

    if mode == "auto":
        n_groups = projected.agg(
            F.approx_count_distinct(group_col).alias("g")
        ).first()["g"]
        mode = "mapside" if n_groups <= mapside_group_cap else "shuffle"

    if mode == "mapside":

        def fold_partitions(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            states: dict[Any, Any] = {}
            counts: dict[Any, int] = {}
            for batch in batches:
                group_type = batch.schema.field(0).type
                cells = batch.select(value_pos)
                for group, rows in _group_rows(batch.column(0)):
                    state = states.get(group, sketch.zero())
                    states[group] = sketch.build_batch(state, cells.take(rows))
                    counts[group] = counts.get(group, 0) + len(rows)
            if not states:
                return
            yield pa.RecordBatch.from_pydict(
                {
                    group_col: pa.array(list(states), group_type),
                    "_salt": pa.array([pid] * len(states), pa.int64()),
                    "payload": pa.array([sketch.serialize(s) for s in states.values()], pa.binary()),
                    "rows": pa.array(list(counts.values()), pa.int64()),
                }
            )

        partials = projected.mapInArrow(fold_partitions, partial_schema)
    else:
        salted = projected.withColumn(
            "_salt", F.pmod(F.spark_partition_id(), F.lit(num_salts)).cast("long")
        )

        def fold(table: "pa.Table") -> "pa.Table":
            state = sketch.zero()
            # One batch per cell: a batch-order-sensitive build (t-digest)
            # must not depend on how Spark chunked the group.
            for batch in table.select(value_pos).combine_chunks().to_batches():
                state = sketch.build_batch(state, batch)
            return pa.table(
                {
                    group_col: table.column(0).slice(0, 1),
                    "_salt": table.column("_salt").slice(0, 1),
                    "payload": pa.array([sketch.serialize(state)], pa.binary()),
                    "rows": pa.array([table.num_rows], pa.int64()),
                }
            )

        partials = salted.groupBy(group_col, "_salt").applyInArrow(fold, partial_schema)

    def merge_group(table: "pa.Table") -> "pa.Table":
        # Ascending salt order: deterministic merges for families that
        # are only order-insensitive within their error bound.
        table = table.sort_by("_salt")
        state = _fold(sketch, table.column("payload").to_pylist())
        return pa.table(
            {
                group_col: table.column(0).slice(0, 1),
                "_salt": pa.array([0], pa.int64()),
                "payload": pa.array([sketch.serialize(state)], pa.binary()),
                "rows": pa.array([sum(table.column("rows").to_pylist())], pa.int64()),
            }
        )

    return partials.groupBy(group_col).applyInArrow(merge_group, partial_schema)
