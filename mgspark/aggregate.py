"""Distributed Misra-Gries aggregation: the two-stage plan.

PySpark exposes no Python UDAF ``merge()`` hook, so the partial/final
split of the reference's build+merge pipeline (pmg.py:26-98, 207-246) is
staged explicitly (SURVEY.md §4.1):

    Scan parquet -> Project(tokenize/encode) -> mapInPandas(build)   [stage 1]
      -> [optional parquet checkpoint of partials]
      -> groupBy(bucket).applyInPandas(merge) x ceil(log_fan P)      [stage 2]
      -> collect tiny final sketch -> driver-side DP release

Stage 1 runs directly on the scan partitions — **zero shuffles**: MG build
needs no key co-location, so each task folds its Arrow batches into one
O(k) state and emits a single partial row.  Stage 2 shuffles only the
partial rows (<= k keys each), which is bytes, not data.  Skewed input
(one giant repo) cannot create a straggler because stage 1 partitions by
input splits (``spark.sql.files.maxPartitionBytes``), not by key; the
grouped per-entity variant (``mg_sketch_grouped``) adds an explicit salt
column for the groupBy path instead.

Partial rows carry lineage + metrics (partition id, row count, wall time)
and can be persisted to a parquet checkpoint so a killed job resumes from
partials (north_star requirement).
"""

from __future__ import annotations

import time
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mgspark.kernel import MGState, mg_build_weighted, mg_merge
from mgspark.sketches.base import (
    checkpoint_manifest,
    checkpoint_partitions,
    checkpoint_ready,
    write_checkpoint,
)

__all__ = [
    "PARTIAL_SCHEMA",
    "mg_partials",
    "mg_tree_merge",
    "mg_sketch",
    "mg_sketch_with_tokens",
    "mg_sketch_grouped",
    "mg_topk_grouped",
    "encode_tokens",
    "decode_keys",
    "dictionary_encode",
    "mg_topk",
]

# One row per stage-1 task: the partial sketch plus lineage/metrics.
# ``tokens`` (nullable) carries one exemplar token string per surviving
# key so the release can decode keys without re-scanning the input.
PARTIAL_SCHEMA = StructType(
    [
        StructField("partition_id", LongType(), False),
        StructField("keys", ArrayType(LongType(), False), False),
        StructField("counters", ArrayType(LongType(), False), False),
        StructField("tokens", ArrayType(StringType(), True), True),
        StructField("n", LongType(), False),
        StructField("d", LongType(), False),
        StructField("rows", LongType(), False),
        StructField("wall_sec", DoubleType(), False),
    ]
)

# Mask keeping hashed keys non-negative (the reference's key domain is
# ints >= 0, pmg.py:32).
_HASH_MASK = (1 << 62) - 1


def _state_to_row(
    state: MGState,
    partition_id: int,
    rows: int,
    wall: float,
    tokens: list[str] | None = None,
) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "partition_id": [partition_id],
            "keys": [state.keys.tolist()],
            "counters": [state.counters.tolist()],
            "tokens": [tokens],
            "n": [state.n],
            "d": [state.d],
            "rows": [rows],
            "wall_sec": [wall],
        }
    )


def _row_to_state(row, k: int) -> MGState:
    return MGState(
        k=k,
        keys=np.asarray(row["keys"], dtype=np.int64),
        counters=np.asarray(row["counters"], dtype=np.int64),
        n=int(row["n"]),
        d=int(row["d"]),
    )


def encode_tokens(df: DataFrame, col: str, key_col: str = "key") -> DataFrame:
    """Map an arbitrary token column onto the int64 key domain.

    Strings (and other non-integral types) are hashed with ``xxhash64``
    (JVM-side, whole-stage codegen) and masked non-negative; integral
    columns pass through unchanged so the reference's "integers >= 0,
    negatives skipped" contract (pmg.py:82-83) stays observable.  At
    100 TB this avoids any dictionary shuffle; released keys are decoded
    back to tokens with :func:`decode_keys` via a broadcast semi-join of
    only the <= k survivors.
    """
    dtype = dict(df.dtypes)[col]
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        return df.withColumn(key_col, F.col(col).cast("long"))
    return df.withColumn(key_col, F.xxhash64(F.col(col)).bitwiseAND(F.lit(_HASH_MASK)))


def decode_keys(tokens_df: DataFrame, col: str, keys: list[int], key_col: str = "key") -> dict[int, str]:
    """Decode hashed keys back to their tokens.

    Broadcast the (tiny) released key set, filter the token stream to
    survivors only, and collect the distinct (key, token) pairs — O(k)
    result rows regardless of input size.
    """
    if not keys:
        return {}
    encoded = encode_tokens(tokens_df, col, key_col)
    pairs = (
        encoded.where(F.col(key_col).isin([int(key) for key in keys]))
        .select(key_col, F.col(col).cast("string").alias("_token"))
        .distinct()
        .collect()
    )
    return {int(row[key_col]): row["_token"] for row in pairs}


def dictionary_encode(
    df: DataFrame, col: str, max_distinct: int = 100_000
) -> tuple[DataFrame, dict[int, object], int]:
    """Dense dictionary encoding onto ``[0, U)`` for the pure-DP
    finite-universe contract (pmg.py:143-204 needs keys in a meaningful
    bounded domain; the xxhash64 space is not one).

    Returns ``(encoded df with a long 'key' column, inverse {id: value},
    U = dictionary size)``.  Null values are skipped (consistent with the
    build kernel's invalid-key semantics).  The distinct values ARE the
    universe, so they must materialize on the driver; above
    ``max_distinct`` this raises — supply an explicit integral universe
    instead of a dictionary at that cardinality.  The encoding itself is
    a broadcast join (O(distinct) rows shipped once), never a
    ``create_map`` literal whose codegen blows up past a few thousand
    entries.

    If the input already has a ``key`` column (other than ``col``
    itself), it is REPLACED by the dictionary id in the returned frame —
    the dictionary id is joined under a collision-free temporary name so
    the join never produces an ambiguous duplicate, then renamed.
    """
    values = [
        r[0]
        for r in df.select(col)
        .where(F.col(col).isNotNull())
        .distinct()
        .orderBy(col)
        .limit(max_distinct + 1)
        .collect()
    ]
    if len(values) > max_distinct:
        raise ValueError(
            f"dictionary_encode: column {col!r} has more than "
            f"{max_distinct} distinct values — a driver-side dictionary "
            "universe does not scale there; use an explicit integral "
            "universe instead"
        )
    spark = df.sparkSession
    from pyspark.sql.types import StructField as _SF
    from pyspark.sql.types import StructType as _ST

    tmp_key = _fresh_col(df, "_dict_key")
    dict_schema = _ST(
        [_SF(col, df.schema[col].dataType, True), _SF(tmp_key, LongType(), False)]
    )
    dict_df = spark.createDataFrame(
        [(value, i) for i, value in enumerate(values)], dict_schema
    )
    encoded = _claim_key_col(df.join(F.broadcast(dict_df), col, "inner"), tmp_key)
    return encoded, {i: value for i, value in enumerate(values)}, len(values)


def _fresh_col(df: DataFrame, base: str) -> str:
    """A column name not present in ``df``."""
    name = base
    while name in df.columns:
        name += "_"
    return name


def _claim_key_col(encoded: DataFrame, tmp_key: str) -> DataFrame:
    """Rename the dictionary id ``tmp_key`` to 'key', dropping any
    pre-existing 'key' column so the result is never ambiguous."""
    if "key" in encoded.columns and tmp_key != "key":
        encoded = encoded.drop("key")
    return encoded.withColumnRenamed(tmp_key, "key")


def dictionary_encode_distributed(
    df: DataFrame, col: str, num_partitions: int | None = None
) -> tuple[DataFrame, DataFrame, int]:
    """Dense dictionary encoding onto ``[0, U)`` with the dictionary
    kept as a DISTRIBUTED DataFrame — the scale path above
    :func:`dictionary_encode`'s driver cap (VERDICT r3 task #6): no
    distinct set ever materializes on the driver, so a 1M+-distinct
    column works.

    Id assignment is the classic two-phase dense rank: range-partition
    the distinct values by ``col``, rank within each partition, collect
    only the O(num_partitions) per-partition COUNTS to compute offsets,
    and add them back via a broadcast join.  The resulting id of a value
    is exactly the number of distinct values sorting below it — dense,
    deterministic, independent of sampling/partitioning — and U comes
    from the same partition counts (one distributed aggregation, no
    driver dictionary).

    Returns ``(encoded df with a long 'key' column, dict_df with
    (value-col, key) rows, U)``.  Null values are skipped.  Decode
    released keys with :func:`decode_dictionary_keys` — an O(k)
    broadcast-filtered collect, never the full dictionary.
    """
    spark = df.sparkSession
    from pyspark.sql import Window as _W

    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    distinct = df.select(col).where(F.col(col).isNotNull()).distinct()
    ranged = distinct.repartitionByRange(num_partitions, F.col(col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    from mgspark.cacheutil import transient_persist

    # ranked feeds BOTH the offsets aggregation and the final dictionary —
    # persist so the distinct+range shuffle runs once.
    ranked = transient_persist(
        ranged.withColumn(
            "_lid",
            F.row_number().over(_W.partitionBy("_pid").orderBy(col)) - 1,
        )
    )
    counts = sorted(
        (r["_pid"], r["n"])
        for r in ranked.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    )
    offsets, total = {}, 0
    for pid, n in counts:
        offsets[pid] = total
        total += n
    tmp_key = _fresh_col(df, "_dict_key")
    if not counts:
        empty_dict = distinct.withColumn(tmp_key, F.lit(0).cast("long")).limit(0)
        encoded = _claim_key_col(df.join(empty_dict, col, "inner"), tmp_key)
        return encoded, _dict_public(empty_dict, col, tmp_key), 0
    off_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid int, _off long"
    )
    dict_int = (
        ranked.join(F.broadcast(off_df), "_pid")
        .select(col, (F.col("_off") + F.col("_lid")).cast("long").alias(tmp_key))
    )
    encoded = _claim_key_col(df.join(dict_int, col, "inner"), tmp_key)
    return encoded, _dict_public(dict_int, col, tmp_key), total


def _dict_public(dict_int: DataFrame, col: str, tmp_key: str) -> DataFrame:
    """Public (value, key) shape for a distributed dictionary; a value
    column literally named 'key' is renamed 'key_value' so the dense id
    can own the 'key' name."""
    if col == "key":
        dict_int = dict_int.withColumnRenamed(col, "key_value")
    return dict_int.withColumnRenamed(tmp_key, "key")


def decode_dictionary_keys(
    dict_df: DataFrame, keys, col: str | None = None
) -> dict[int, object]:
    """Decode released dense ids through a distributed dictionary:
    broadcast the (tiny) released key set as an IN-filter and collect
    only the <= len(keys) surviving rows."""
    keys = [int(k) for k in keys]
    if not keys:
        return {}
    value_col = col or [c for c in dict_df.columns if c != "key"][0]
    rows = dict_df.where(F.col("key").isin(keys)).collect()
    return {int(r["key"]): r[value_col] for r in rows}


def _update_exemplars(
    exemplars: dict[int, str],
    state_keys: np.ndarray,
    batch_keys: np.ndarray,
    batch_tokens,
) -> dict[int, str]:
    """Record one exemplar token per surviving key, from this batch.

    A key is in ``state_keys`` only if it appeared in a batch folded since
    it last (re-)entered the state, so every key missing an exemplar has
    an occurrence in the current batch.  Prune to the surviving keys so
    the dict stays O(k).
    """
    exemplars = {key: exemplars[key] for key in map(int, state_keys) if key in exemplars}
    missing = np.asarray(
        [key for key in state_keys.tolist() if key not in exemplars], dtype=np.int64
    )
    if len(missing):
        mask = np.isin(batch_keys, missing)
        hit_idx = np.flatnonzero(mask)
        if len(hit_idx):
            # First occurrence per missing key, vectorized on the masked
            # subset; only <= k entries reach the Python loop.
            sub_keys = batch_keys[hit_idx]
            uniq, first = np.unique(sub_keys, return_index=True)
            for key, sub_i in zip(uniq.tolist(), first.tolist()):
                value = batch_tokens[int(hit_idx[sub_i])]
                value = value.as_py() if hasattr(value, "as_py") else value
                if value is not None:
                    exemplars[int(key)] = str(value)
    return exemplars


def _aligned_tokens(exemplars: dict[int, str], state_keys: np.ndarray) -> list[str | None]:
    return [exemplars.get(int(key)) for key in state_keys]


def mg_partials(
    df: DataFrame,
    key_col: str,
    k: int,
    weight_col: str | None = None,
    token_col: str | None = None,
) -> DataFrame:
    """Stage 1: per-partition MG build, no shuffle.

    ``mapInArrow`` streams raw Arrow record batches through a vectorized
    value_counts + merge fold (SURVEY.md §4.2) holding only O(k) state,
    and emits exactly one partial-sketch row per non-empty task.  Arrow
    columns go straight to numpy — no pandas block-manager construction
    in the hot path (~40% of per-task time in profiling).

    With ``token_col`` set, each partial also carries one exemplar token
    string per surviving key, so the release decodes keys without a
    second scan of the input.  Token strings then cross the Arrow
    boundary, so prefer this on pre-aggregated (distinct-key) inputs —
    the combiner path — where the extra bytes are O(distinct), not O(rows).
    """
    import pyarrow as pa

    cols = [F.col(key_col).cast("long").alias("key")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("long").alias("weight"))
    if token_col is not None:
        cols.append(F.col(token_col).cast("string").alias("token"))
    projected = df.select(*cols)
    token_idx = 2 if weight_col is not None else 1

    def _to_int64(column, fill: int) -> np.ndarray:
        if column.null_count:
            import pyarrow.compute as pc

            column = pc.fill_null(column, fill)
        return column.to_numpy(zero_copy_only=False)

    def build(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        start = time.perf_counter()
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        state = MGState(k=k)
        exemplars: dict[int, str] = {}
        rows = 0
        for batch in batches:
            rows += batch.num_rows
            keys = _to_int64(batch.column(0), -1)
            if weight_col is not None:
                weights = _to_int64(batch.column(1), 0)
            else:
                weights = np.ones(len(keys), dtype=np.int64)
            state = mg_build_weighted(state, keys, weights)
            if token_col is not None:
                exemplars = _update_exemplars(
                    exemplars, state.keys, keys, batch.column(token_idx)
                )
        if rows == 0:
            return
        tokens = _aligned_tokens(exemplars, state.keys) if token_col is not None else None
        yield pa.RecordBatch.from_pydict(
            {
                "partition_id": pa.array([pid], pa.int64()),
                "keys": pa.array([state.keys.tolist()], pa.list_(pa.int64())),
                "counters": pa.array([state.counters.tolist()], pa.list_(pa.int64())),
                "tokens": pa.array([tokens], pa.list_(pa.string())),
                "n": pa.array([state.n], pa.int64()),
                "d": pa.array([state.d], pa.int64()),
                "rows": pa.array([rows], pa.int64()),
                "wall_sec": pa.array([time.perf_counter() - start], pa.float64()),
            }
        )

    return projected.mapInArrow(build, PARTIAL_SCHEMA)


def _merge_group_fn(k: int):
    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        start = time.perf_counter()
        # Pin fold order by partition id so reruns are deterministic
        # (merge results can differ at (k+1)-th-largest ties otherwise).
        bucket = int(pdf["_bucket"].iloc[0])
        pdf = pdf.sort_values("partition_id")
        state = MGState(k=k)
        exemplars: dict[int, str] = {}
        have_tokens = False
        rows = 0
        for row in pdf.itertuples(index=False):
            fields = row._asdict()
            state = mg_merge(state, _row_to_state(fields, k))
            rows += int(row.rows)
            tokens = fields.get("tokens")
            # Missing array cells can surface as NaN through pandas.
            if tokens is not None and not isinstance(tokens, float):
                have_tokens = True
                for key, token in zip(fields["keys"], tokens):
                    if token is not None:
                        exemplars.setdefault(int(key), str(token))
        tokens_out = _aligned_tokens(exemplars, state.keys) if have_tokens else None
        # The bucket id becomes the (dense) partition id of the next round.
        return _state_to_row(state, bucket, rows, time.perf_counter() - start, tokens_out)

    return merge_group


def _merge_round(partials: DataFrame, k: int, fanout: int) -> DataFrame:
    """One tree-merge round: bucket by ``partition_id // fanout``, merge
    each bucket with one ``applyInPandas`` task."""
    return (
        partials.withColumn("_bucket", (F.col("partition_id") / fanout).cast("long"))
        .groupBy("_bucket")
        .applyInPandas(_merge_group_fn(k), PARTIAL_SCHEMA)
    )


def mg_tree_merge(
    partials: DataFrame, k: int, fanout: int = 64, num_partials: int | None = None
) -> DataFrame:
    """Stage 2: balanced pairwise-style merge rounds, fully lazy.

    Each round buckets partials by ``partition_id // fanout`` and merges a
    bucket with one ``applyInPandas`` task; ceil(log_fan P) rounds leave a
    single row.  Rounds are planned from ``num_partials`` (an upper bound
    on stage-1 rows — one per input partition) so no counting job runs and
    stage 1 executes exactly once.  Partial rows are <= k keys each, so
    every round shuffles kilobytes regardless of input size.
    """
    if num_partials is None:
        num_partials = partials.rdd.getNumPartitions()
    merged = partials
    remaining = max(int(num_partials), 1)
    while True:
        merged = _merge_round(merged, k, fanout)
        if remaining <= fanout:
            return merged
        remaining = -(-remaining // fanout)


def _driver_fold(rows, k: int) -> tuple[MGState, dict[int, str]]:
    """Fold <= fanout partial rows into the final state on the driver —
    the identical sequential merge (partition-id order, same
    ``mg_merge``) the last ``applyInPandas`` round would run in one
    task, minus that round's shuffle + Python-worker wave.  Bounded by
    construction: the caller only hands over what a single merge task
    would otherwise hold (fanout rows x O(k) counters)."""
    state = MGState(k=k)
    exemplars: dict[int, str] = {}
    for row in sorted(rows, key=lambda r: r["partition_id"]):
        fields = row.asDict()
        state = mg_merge(state, _row_to_state(fields, k))
        tokens = fields.get("tokens")
        if tokens is not None:
            for key, token in zip(fields["keys"], tokens):
                if token is not None:
                    exemplars.setdefault(int(key), str(token))
    # Like _aligned_tokens in a merge round: only keys the merge kept.
    survivors = {int(key): exemplars[int(key)] for key in state.keys if int(key) in exemplars}
    return state, survivors


def _mg_manifest(
    k: int, key_col: str, weight_col: str | None, token_col: str | None
) -> dict:
    """Checkpoint manifest of an MG query, over the caller's own columns
    (not the combiner's internal ``_w``/``_tok``), so the zero-shuffle
    and combiner plans of one query resume each other's partials."""
    return checkpoint_manifest("mg", {"k": int(k)}, key_col, weight_col, token_col)


def _mg_sketch_core(
    df: DataFrame,
    key_col: str,
    k: int,
    weight_col: str | None,
    token_col: str | None,
    checkpoint_dir: str | None,
    fanout: int,
    manifest: dict,
) -> tuple[MGState, dict[int, str]]:
    """Build + tree-merge; returns (final state, exemplar token map).

    ``manifest`` describes the caller's query (see :func:`_mg_manifest`);
    a checkpoint written for another one raises ``ValueError``."""
    spark = df.sparkSession
    if checkpoint_dir is not None:
        if not checkpoint_ready(checkpoint_dir, manifest):
            write_checkpoint(
                mg_partials(df, key_col, k, weight_col, token_col), checkpoint_dir, manifest
            )
        partials = spark.read.parquet(checkpoint_dir)
        num_partials = checkpoint_partitions(partials)
    else:
        partials = mg_partials(df, key_col, k, weight_col, token_col)
        num_partials = partials.rdd.getNumPartitions()
    # Distributed rounds only while more than one merge task is needed;
    # the last round (<= fanout tiny rows) folds on the driver with the
    # same mg_merge in the same partition-id order — identical result,
    # one less shuffle + Python-worker wave (that final applyInPandas
    # round measured ~1 s of fixed latency per query at sf0.1).
    merged = partials
    remaining = max(int(num_partials), 1)
    while remaining > fanout:
        merged = _merge_round(merged, k, fanout)
        remaining = -(-remaining // fanout)
    return _driver_fold(merged.collect(), k)


_PROBE_ROWS = 200_000


def _combiner_probe(df: DataFrame, key_col: str) -> bool:
    """Constant-cost JVM-only probe deciding whether the exact combiner
    beats the zero-shuffle sketch.

    Measures the distinct/rows ratio on a bounded prefix (first
    ``_PROBE_ROWS`` rows — one input split's worth), NOT the full table:
    the decision actually depends on the *per-partition* ratio, because
    the combiner's win is map-side combining (shuffle bytes ~
    sum of per-partition distincts, and JVM shuffle is ~10x cheaper per
    row than the Arrow pipe the zero-shuffle path feeds).  A prefix is a
    fair estimate of per-partition behavior and keeps the probe O(1) in
    table size; either mis-choice degrades speed only, never results.
    Prefer the combiner whenever distinct/rows <= 0.5.
    """
    probe = (
        df.select(key_col)
        .limit(_PROBE_ROWS)
        .agg(
            F.count(key_col).alias("rows"),
            F.approx_count_distinct(key_col).alias("distinct"),
        )
        .first()
    )
    rows_n = int(probe["rows"] or 0)
    return rows_n == 0 or int(probe["distinct"]) <= rows_n * 0.5


def mg_sketch_with_tokens(
    df: DataFrame,
    key_col: str,
    k: int,
    token_col: str | None,
    weight_col: str | None = None,
    checkpoint_dir: str | None = None,
    fanout: int = 64,
    pre_aggregate: bool | str = "auto",
) -> tuple[MGState, dict[int, str]]:
    """Distributed MG sketch plus exemplar-token decode in ONE input scan.

    Returns ``(final MGState, {key: exemplar token})``: one token string
    per surviving key rides along in the partial-sketch rows (stage 1)
    and through every merge round, so releases decode without a second
    scan of the input (the decode-re-scan would double the dominant cost
    of every DP query at 100 TB).  Exemplars cover every released key of
    the approx-DP mechanisms (they never invent keys); pure-DP releases
    can add fresh universe keys, which need a dictionary universe instead
    (see the CLI's pure mode / ``q_mg_pure_dp_doc_lang``).

    On the combiner path exemplars cost O(distinct keys) extra bytes; on
    the zero-shuffle path the token column crosses the Arrow pipe per
    row — still one scan, but prefer the combiner when cardinality allows
    (the ``"auto"`` probe does this).
    """
    manifest = _mg_manifest(k, key_col, weight_col, token_col)
    if pre_aggregate == "auto":
        if checkpoint_dir is not None and checkpoint_ready(checkpoint_dir, manifest):
            pre_aggregate = False  # resuming from partials; no probe needed
        else:
            pre_aggregate = _combiner_probe(df, key_col)
    if pre_aggregate:
        weight_expr = F.count("*") if weight_col is None else F.sum(weight_col)
        aggs = [weight_expr.cast("long").alias("_w")]
        if token_col is not None:
            # min() = deterministic exemplar (all tokens under one hashed
            # key are equal anyway, modulo hash collisions).
            aggs.append(F.min(token_col).cast("string").alias("_tok"))
        df = df.groupBy(key_col).agg(*aggs)
        weight_col = "_w"
        if token_col is not None:
            token_col = "_tok"
    return _mg_sketch_core(
        df, key_col, k, weight_col, token_col, checkpoint_dir, fanout, manifest
    )


def mg_sketch(
    df: DataFrame,
    key_col: str,
    k: int,
    weight_col: str | None = None,
    checkpoint_dir: str | None = None,
    fanout: int = 64,
    pre_aggregate: bool | str = "auto",
) -> MGState:
    """End-to-end distributed MG sketch of ``df[key_col]``.

    Returns the final merged :class:`MGState` on the driver (it is O(k));
    DP release then happens exactly once, centrally (pmg.py:262-264).
    With ``checkpoint_dir`` set, stage-1 partials are persisted and reused
    on rerun (resumability with lineage+metrics).

    ``pre_aggregate=True`` inserts an exact JVM-side ``groupBy(key).sum``
    before the sketch: map-side combining means only *distinct* keys per
    shuffle partition cross the JVM->Python Arrow boundary (the per-pipe
    boundary throughput, not Python compute, is the hot-path ceiling).
    Both plans give the full MG guarantee (est in [true - N/(k+1), true]);
    when key cardinality is <= k the results are bit-identical, while at
    higher cardinality the combiner and zero-shuffle plans can release
    *different* (equally bound-valid) key sets, so the data-dependent
    ``"auto"`` probe may change the released keys between runs on
    slightly different inputs.  The combiner plan gains a key shuffle, so
    it wins when key cardinality is well below the row count; ``False``
    keeps the zero-shuffle sketch path for unbounded key spaces.  The
    default ``"auto"`` picks per input with a cheap JVM-only cardinality
    probe (:func:`_combiner_probe`) — the fast plan must never be opt-in.
    """
    state, _ = mg_sketch_with_tokens(
        df, key_col, k, None, weight_col, checkpoint_dir, fanout, pre_aggregate
    )
    return state


def _salt_probe(df: DataFrame, group_col: str) -> int:
    """Skew-sized salt bucket count from a bounded prefix.

    If the largest group holds > 25% of the probed rows, spread it over
    roughly the cluster's parallelism (capped) so one giant group cannot
    straggle a single task; balanced groups keep the small default (extra
    buckets only add merge rows).
    """
    probe = (
        df.select(group_col)
        .limit(_PROBE_ROWS)
        .groupBy(group_col)
        .count()
        .agg(F.max("count").alias("mx"), F.sum("count").alias("n"))
        .first()
    )
    if not probe or not probe["n"]:
        return 8
    share = probe["mx"] / probe["n"]
    if share <= 0.25:
        return 8
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    return max(8, min(64, parallelism))


def mg_sketch_grouped(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int,
    salt_buckets: int | str = 8,
    token_col: str | None = None,
    pre_aggregate: bool = True,
) -> DataFrame:
    """Per-entity MG sketches with explicit salting for skewed groups.

    ``groupBy(group)`` alone lets one giant group (e.g. a monorepo)
    straggle; instead group by ``(group, salt)`` where the salt spreads a
    group's keys over ``salt_buckets`` sub-sketches, then merge the
    sub-sketches per group in a second, tiny aggregation.  Output: one row
    per group with the merged sketch arrays.  With ``token_col``, one
    exemplar token per surviving key rides along (``tokens`` array), so
    callers decode without re-scanning the input.
    ``salt_buckets="auto"`` sizes the salt to observed group skew with a
    constant-cost prefix probe (:func:`_salt_probe`).

    ``pre_aggregate=True`` (default) reduces to exact (group, key) counts
    first: map-side combining collapses a hot key inside each scan
    partition, so no single (group, key) can straggle one salt bucket —
    a salt over raw rows cannot fix that, since a deterministic salt must
    send equal rows to the same bucket.  Sub-group task size becomes
    O(distinct keys / salt_buckets), not O(rows).
    """
    if salt_buckets == "auto":
        salt_buckets = _salt_probe(df, group_col)
    weight_col = None
    if pre_aggregate:
        aggs = [F.count("*").cast("long").alias("_w")]
        if token_col is not None:
            # min() = deterministic exemplar (all tokens under one hash
            # key are equal anyway, modulo hash collisions).
            aggs.append(F.min(token_col).alias("_tok"))
        df = df.groupBy(group_col, key_col).agg(*aggs)
        weight_col = "_w"
        if token_col is not None:
            token_col = "_tok"
    # Salt deterministically from row content: a nondeterministic per-row
    # expression (e.g. monotonically_increasing_id) feeding a shuffle can
    # re-salt rows on task retry, duplicating/losing them.
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(key_col), F.lit("mg_salt")), F.lit(salt_buckets))
    )

    def build_group(pdf: pd.DataFrame) -> pd.DataFrame:
        state = MGState(k=k)
        keys = pdf[key_col].to_numpy(dtype=np.int64, na_value=-1)
        if weight_col is not None:
            weights = pdf[weight_col].to_numpy(dtype=np.int64, na_value=0)
        else:
            weights = np.ones(len(keys), dtype=np.int64)
        state = mg_build_weighted(state, keys, weights)
        tokens = None
        if token_col is not None:
            firsts = (
                pdf.dropna(subset=[key_col])
                .drop_duplicates(subset=key_col)
                .set_index(key_col)[token_col]
            )
            mapping = {int(key): str(tok) for key, tok in firsts.items() if tok is not None}
            tokens = _aligned_tokens(mapping, state.keys)
        out = _state_to_row(state, 0, int(weights.sum()), 0.0, tokens)
        out.insert(0, "group", [pdf["_group"].iloc[0]])
        return out

    grouped_schema = StructType(
        [StructField("group", df.schema[group_col].dataType, True)] + PARTIAL_SCHEMA.fields
    )

    partials = (
        salted.withColumn("_group", F.col(group_col))
        .groupBy("_group", "_salt")
        .applyInPandas(build_group, grouped_schema)
    )

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("partition_id")
        state = MGState(k=k)
        exemplars: dict[int, str] = {}
        have_tokens = False
        for row in pdf.itertuples(index=False):
            fields = row._asdict()
            state = mg_merge(state, _row_to_state(fields, k))
            tokens = fields.get("tokens")
            if tokens is not None and not isinstance(tokens, float):
                have_tokens = True
                for key, token in zip(fields["keys"], tokens):
                    if token is not None:
                        exemplars.setdefault(int(key), str(token))
        tokens_out = _aligned_tokens(exemplars, state.keys) if have_tokens else None
        out = _state_to_row(state, 0, int(pdf["rows"].sum()), 0.0, tokens_out)
        out.insert(0, "group", [pdf["group"].iloc[0]])
        return out

    return partials.groupBy("group").applyInPandas(merge_group, grouped_schema)


def mg_topk_grouped(
    df: DataFrame,
    group_col: str,
    token_col: str,
    k: int,
    salt_buckets: int = 8,
) -> DataFrame:
    """Per-group heavy hitters decoded to tokens: (group, token, est).

    One pass: tokens are hashed JVM-side, per-group sketches build on the
    salted path, and exemplar tokens carried in the sketch rows decode
    the <= k survivors per group — no second scan of the input.  Exact
    whenever a group's token cardinality is <= k.
    """
    encoded = encode_tokens(df.select(group_col, token_col), token_col)
    grouped = mg_sketch_grouped(
        encoded, group_col, "key", k, salt_buckets, token_col=token_col
    )
    exploded = grouped.select(
        F.col("group").alias(group_col),
        F.explode(F.arrays_zip("keys", "tokens", "counters")).alias("kv"),
    )
    # Null-token inputs still hash to a valid key but have no exemplar;
    # fall back to the stringified key like mg_topk does.
    return exploded.select(
        group_col,
        F.coalesce(F.col("kv.tokens"), F.col("kv.keys").cast("string")).alias("token"),
        F.col("kv.counters").alias("est"),
    )


def max_user_contribution(df: DataFrame, user_col: str) -> int:
    """Largest number of stream elements any single user contributed.

    The user-level DP releases (pmg.py:301-360) assume a contribution
    bound ``m``; this computes the actual bound with one
    combiner-friendly aggregation so callers can validate or derive it
    (SURVEY.md §1.1 "User" row).
    """
    row = df.groupBy(user_col).count().agg(F.max("count").alias("m")).first()
    return int(row["m"]) if row and row["m"] is not None else 0


def mg_user_level_release(
    df: DataFrame,
    user_col: str,
    token_col: str,
    k: int,
    epsilon: float,
    delta: float = 0.0,
    universe_size: int | None = None,
    user_element_count: int | None = None,
    rng=None,
    return_tokens: bool = False,
) -> dict[int, int] | tuple[dict[int, int], dict[int, str]]:
    """End-to-end user-level DP heavy hitters over hashed token keys.

    Validates (or derives) the per-user contribution bound ``m`` with a
    distributed aggregate, builds the sketch with the distributed merge
    pipeline, then releases with the *merged* user-level mechanisms:
    group-privacy scaling (eps' = eps/m, delta' = delta/(m e^eps),
    pmg.py:301-360) composed with the sensitivity-``k`` merged release
    (pmg.py:249-298).  The element-level user-level mechanisms
    (sensitivity 1/2) only apply to sequentially built sketches — using
    them here would under-noise; the CLI's ``userlevel`` mode keeps them
    because it builds with the sequential kernel.  Returns the released
    {key: counter} dict; with ``return_tokens=True`` also returns the
    exemplar {key: token} map carried through the build (one scan — no
    decode re-scan; approx-DP releases never invent keys, so the map
    covers every released key).
    """
    from mgspark import dp

    m = max_user_contribution(df, user_col)
    if user_element_count is not None:
        if m > user_element_count:
            raise ValueError(
                f"user contribution bound violated: observed {m} > "
                f"declared {user_element_count}"
            )
        m = user_element_count
    if m <= 0:
        return ({}, {}) if return_tokens else {}
    encoded = encode_tokens(df, token_col)
    state, exemplars = mg_sketch_with_tokens(
        encoded, "key", k, token_col if return_tokens else None
    )
    sketch = state.to_dict()
    if delta > 0:
        released = dp.privatize_user_level_merged(sketch, k, epsilon, delta, m, rng=rng)
    elif universe_size is None:
        raise ValueError("pure DP (delta=0) requires universe_size")
    else:
        released = dp.purely_privatize_user_level_merged(
            sketch, k, epsilon, universe_size, m, rng=rng
        )
    if return_tokens:
        return released, {key: exemplars[key] for key in released if key in exemplars}
    return released


def mg_topk(
    df: DataFrame,
    token_col: str,
    k: int,
    checkpoint_dir: str | None = None,
    pre_aggregate: bool | str = "auto",
) -> DataFrame:
    """Heavy-hitter estimates for a token column, decoded back to tokens.

    Returns a DataFrame ``(token string, est long)`` sorted by estimate
    descending, token ascending.  When the column's true cardinality is
    <= k the estimates are exact (no decrement can fire), which is what
    the DuckDB oracle checks at small scale.

    Plan selection (``pre_aggregate``):

    * ``True`` — combiner path: exact JVM ``groupBy(token).count`` first
      (map-side combine), then sketch the distinct (token, count) rows.
      Only distinct keys cross the Arrow boundary and token exemplars
      ride along in the partial rows, so the whole query is **one scan**
      of the input with no decode re-scan.  Right whenever distinct
      tokens ≪ rows — the typical heavy-hitter workload.
    * ``False`` — zero-shuffle path: sketch the raw stream (no shuffle at
      all), then decode the <= k survivors with a JVM-only re-scan.  Right
      for unbounded key spaces where a groupBy state would be as large as
      the data.
    * ``"auto"`` (default) — one cheap JVM-only probe
      (``count`` + ``approx_count_distinct``, no Python boundary) picks
      the combiner path when distinct/rows <= 0.5; ties go to combiner
      because JVM shuffle bytes are ~10x cheaper than Arrow-pipe bytes.
    """
    spark = df.sparkSession
    if pre_aggregate == "auto":
        pre_aggregate = _combiner_probe(df, token_col)
    if pre_aggregate:
        pre = df.groupBy(token_col).agg(F.count("*").cast("long").alias("_w"))
        encoded = encode_tokens(pre, token_col)
        # Both paths sketch the unweighted token stream and this path
        # decodes keys without exemplars below, so a checkpoint from
        # either path resumes into the other: one manifest for both.
        manifest = _mg_manifest(k, "key", None, None)
        state, mapping = _mg_sketch_core(
            encoded, "key", k, "_w", token_col, checkpoint_dir, 64, manifest
        )
        # A checkpoint written by the zero-shuffle path (or older code)
        # carries no exemplars; resolve any un-decoded keys with the
        # broadcast semi-join instead of silently emitting hash strings.
        missing = [int(key) for key in state.keys if int(key) not in mapping]
        if missing:
            mapping.update(decode_keys(df, token_col, missing))
    else:
        encoded = encode_tokens(df, token_col)
        state = mg_sketch(
            encoded, "key", k, checkpoint_dir=checkpoint_dir, pre_aggregate=False
        )
        mapping = decode_keys(df, token_col, state.keys.tolist())
    rows = [
        (mapping.get(int(key), str(int(key))), int(cnt))
        for key, cnt in zip(state.keys, state.counters)
    ]
    out = spark.createDataFrame(rows, schema="token string, est long")
    return out.orderBy(F.desc("est"), F.asc("token"))
