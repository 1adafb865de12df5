"""Distributed Misra-Gries aggregation: the two-stage plan.

MG has two plans, both ending in one O(k) state on the driver and a
driver-side DP release.

The combiner plan (``pre_aggregate=True``; chosen by the ``"auto"``
probe when keys are few relative to rows) is one JVM query with no
Python stage:

    Scan parquet -> Project(tokenize/encode) -> Filter(key >= 0)
      -> partial count [+ min token] -> Exchange(key) -> final count
      -> CollectMetrics(sum, rows) -> TakeOrderedAndProject(k+1)
      -> driver: prune at the (k+1)-th count t, d = t
      -> [optional checkpoint: the state as one partial row]

An exact count table pruned at its (k+1)-th largest count is itself an
MG summary (MG's merge rule applied once to exact counts), so nothing
crosses the JVM->Python boundary.  The grouped per-entity variant
(``mg_topk_grouped``) applies the same prune per group with one JVM
window.

The zero-shuffle plan (``pre_aggregate=False``) is for unbounded key
spaces.  PySpark exposes no Python UDAF ``merge()`` hook, so the
partial/final split of the reference's build+merge pipeline
(pmg.py:26-98, 207-246) is staged explicitly (SURVEY.md §4.1):

    Scan parquet -> Project(tokenize/encode) -> mapInArrow(build)    [stage 1]
      -> [optional parquet checkpoint of partials]
      -> merge_partials: merge rounds while > fanout partials,
         then a driver fold of the rest                           [stage 2]

MG is one ``MergeableSketch`` family (``mgspark.sketches.mg.MGSketch``)
and runs through the shared skeleton of ``mgspark.sketches.base``: this
module projects MG's key, weight and token columns and calls
``sketch_agg``.  Stage 1 runs directly on the scan partitions — **zero
shuffles**: MG build needs no key co-location, so each task folds its
Arrow batches into one O(k) state and emits a single partial row.
Stage 2 moves only the partial rows (<= k keys each), which is bytes,
not data; at <= fanout input partitions it is a plain collect.  Skewed
input (one giant repo) cannot create a straggler because stage 1
partitions by input splits (``spark.sql.files.maxPartitionBytes``), not
by key.  A checkpoint of either plan resumes through ``merge_partials``.

Partial rows carry lineage + metrics (partition id, row count, wall time)
and can be persisted to a parquet checkpoint so a killed job resumes from
partials (north_star requirement).
"""

from __future__ import annotations

import time
from dataclasses import replace

import numpy as np
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from mgspark.kernel import MGState
from mgspark.session import local_frame
from mgspark.sketches.base import (
    SKETCH_PARTIAL_SCHEMA,
    checkpoint_manifest,
    checkpoint_ready,
    resume_partials,
    sketch_agg,
    sketch_partials,
    write_checkpoint,
)
from mgspark.sketches.mg import MGSketch

__all__ = [
    "mg_partials",
    "mg_sketch",
    "mg_sketch_with_tokens",
    "mg_topk_grouped",
    "encode_tokens",
    "decode_keys",
    "dictionary_encode",
    "mg_topk",
]

# Mask keeping hashed keys non-negative (the reference's key domain is
# ints >= 0, pmg.py:32).
_HASH_MASK = (1 << 62) - 1


def encode_tokens(df: DataFrame, col: str, key_col: str = "key") -> DataFrame:
    """Map an arbitrary token column onto the int64 key domain.

    Strings (and other non-integral types) are hashed with ``xxhash64``
    (JVM-side, whole-stage codegen) and masked non-negative; integral
    columns pass through unchanged so the reference's "integers >= 0,
    negatives skipped" contract (pmg.py:82-83) stays observable.  A null
    of any type becomes -1, the kernel's invalid key, so every sketch
    skips nulls.  At 100 TB this avoids any dictionary shuffle; released
    keys decode from the exemplar tokens the build carries
    (:func:`mg_sketch_with_tokens`), with :func:`decode_keys` as fallback.
    """
    dtype = dict(df.dtypes)[col]
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        key = F.col(col).cast("long")
    else:
        key = F.xxhash64(F.col(col)).bitwiseAND(F.lit(_HASH_MASK))
    return df.withColumn(key_col, F.when(F.col(col).isNull(), F.lit(-1)).otherwise(key))


def decode_keys(tokens_df: DataFrame, col: str, keys: list[int], key_col: str = "key") -> dict[int, str]:
    """Decode hashed keys back to their tokens by re-scanning the input.

    An ``isin`` IN-list filter of the keys over the re-encoded tokens,
    then the distinct (key, token) pairs: O(k) rows, but a second full
    scan.  Only the fallback for keys with no exemplar token (a
    token-less checkpoint); every build carries exemplars instead.
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
    tmp_key = _fresh_col(df, "_dict_key")
    dict_schema = StructType(
        [StructField(col, df.schema[col].dataType, True), StructField(tmp_key, LongType(), False)]
    )
    dict_df = local_frame(spark, [(value, i) for i, value in enumerate(values)], dict_schema)
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
            F.row_number().over(Window.partitionBy("_pid").orderBy(col)) - 1,
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
    off_df = local_frame(spark, offsets.items(), "_pid int, _off long")
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


def _mg_columns(key_col: str, weight_col: str | None, token_col: str | None) -> list:
    """The key, weight and token columns ``MGSketch.build_batch`` reads."""
    cols = [F.col(key_col).cast("long").alias("key")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("long").alias("weight"))
    if token_col is not None:
        cols.append(F.col(token_col).cast("string").alias("token"))
    return cols


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
    and emits exactly one ``SKETCH_PARTIAL_SCHEMA`` row per non-empty
    task, its payload an ``MGSketch`` state.  Arrow columns go straight
    to numpy — no pandas block-manager construction in the hot path
    (~40% of per-task time in profiling).

    With ``token_col`` set, each partial also carries one exemplar token
    string per surviving key, so the release decodes keys without a
    second scan of the input.  Token strings then cross the Arrow
    boundary per row; the combiner plan (:func:`_mg_exact_prune`) takes
    its exemplars in the JVM instead and runs no partials at all.
    """
    return sketch_partials(df, _mg_columns(key_col, weight_col, token_col), MGSketch(k))


def _mg_manifest(
    k: int, key_col: str, weight_col: str | None, token_col: str | None
) -> dict:
    """Checkpoint manifest of an MG query, over the caller's own columns
    (not the combiner's internal ``_w``/``_tok``), so the zero-shuffle
    and combiner plans of one query resume each other's partials."""
    return checkpoint_manifest("mg", {"k": int(k)}, key_col, weight_col, token_col)


_PROBE_ROWS = 200_000


def _combiner_probe(df: DataFrame, key_col: str) -> bool:
    """Constant-cost JVM-only probe deciding whether the exact combiner
    beats the zero-shuffle sketch.

    Measures the distinct/rows ratio on a bounded prefix (first
    ``_PROBE_ROWS`` rows — one input split's worth), NOT the full table:
    the decision actually depends on the *per-partition* ratio, because
    the combiner's win is map-side combining (shuffle bytes ~
    sum of per-partition distincts, and nothing crosses the Arrow pipe
    that the zero-shuffle path feeds with every row).  A prefix is a
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


def _mg_top_counts(
    df: DataFrame, key_col: str, k: int, token_col: str | None, weight_col: str | None
) -> tuple[DataFrame, Observation]:
    """The combiner's one JVM query and the observation of its totals.

    Exact per-key counts ``_c`` (``count``, or the ``weight_col`` sum;
    each weight cast to long as on the zero-shuffle path, nulls count 0)
    with a ``min`` exemplar token ``_tok`` over the valid keys (>= 0, so
    nulls are skipped too), ordered by count descending, key ascending,
    and limited to k+1 rows.  The observation collects ``n`` = sum of
    ``_c`` and ``rows`` = distinct keys from the same count rows, above
    the exchange, in the same job as the top-(k+1) collect.
    """
    weight = (
        F.count("*") if weight_col is None
        else F.coalesce(F.sum(F.col(weight_col).cast("long")), F.lit(0))
    )
    aggs = [weight.cast("long").alias("_c")]
    if token_col is not None:
        # min() = deterministic exemplar (all tokens under one hashed
        # key are equal anyway, modulo hash collisions).
        aggs.append(F.min(token_col).cast("string").alias("_tok"))
    counts = (
        df.where(F.col(key_col) >= 0)  # the kernel's invalid-key rule
        .groupBy(F.col(key_col).cast("long").alias("_key"))
        .agg(*aggs)
    )
    totals = Observation()
    counts = counts.observe(totals, F.sum("_c").alias("n"), F.count("*").alias("rows"))
    return counts.orderBy(F.desc("_c"), F.asc("_key")).limit(k + 1), totals


def _mg_exact_prune(
    df: DataFrame,
    key_col: str,
    k: int,
    token_col: str | None,
    weight_col: str | None,
    checkpoint_dir: str | None,
    manifest: dict,
) -> tuple[MGState, dict[int, str]]:
    """The combiner plan: an exact count table pruned at its (k+1)-th
    largest count ``t`` (0 when there are <= k keys) is an MG summary.

    ``est = count - t`` for the keys with ``count > t``, ``n`` = the
    exact total, ``d = t``: MG's merge rule applied once to exact counts
    (``kernel.mg_merge_arrays`` from an empty sketch), so the bound
    est in [true - N/(k+1), true] holds, no counter is zero (a key whose
    weights sum to <= 0 is not kept), and keys tied at the cutoff drop
    whatever their order or the input partitioning.  With
    ``checkpoint_dir`` set the state is written as one partial row.
    """
    start = time.perf_counter()
    top, totals = _mg_top_counts(df, key_col, k, token_col, weight_col)
    rows = top.collect()
    observed = totals.get
    cutoff = int(rows[k]["_c"]) if len(rows) > k else 0
    kept = sorted((r for r in rows[:k] if r["_c"] > cutoff), key=lambda r: r["_key"])
    state = MGState(
        k=k,
        keys=np.array([r["_key"] for r in kept], dtype=np.int64),
        counters=np.array([r["_c"] - cutoff for r in kept], dtype=np.int64),
        n=int(observed["n"] or 0),
        d=cutoff,
    )
    exemplars = {} if token_col is None else {
        int(r["_key"]): r["_tok"] for r in kept if r["_tok"] is not None
    }
    if checkpoint_dir is not None:
        payload = MGSketch(k).serialize((state, exemplars))
        partial = (0, payload, int(observed["rows"]), time.perf_counter() - start)
        write_checkpoint(
            local_frame(df.sparkSession, [partial], SKETCH_PARTIAL_SCHEMA), checkpoint_dir, manifest
        )
    return state, exemplars


def _mg_build(
    df: DataFrame,
    key_col: str,
    k: int,
    token_col: str | None,
    weight_col: str | None,
    checkpoint_dir: str | None,
    fanout: int,
    pre_aggregate: bool | str,
    manifest: dict,
) -> tuple[MGState, dict[int, str]]:
    """Resume a ready checkpoint, else build on the chosen plan.

    Every plan returns the combiner's state shape: no counter <= 0.  The
    zero-shuffle kernel keeps a key whose weights sum to <= 0 as a zero
    counter while there are <= k keys, and a DP release would add noise
    to it; it is dropped here, which changes neither ``n`` nor ``d``.
    """
    sketch = MGSketch(k)
    if checkpoint_dir is not None and checkpoint_ready(checkpoint_dir, manifest):
        return _positive_counters(*resume_partials(df.sparkSession, checkpoint_dir, sketch, fanout))
    if pre_aggregate == "auto":
        pre_aggregate = _combiner_probe(df, key_col)
    if pre_aggregate:
        return _mg_exact_prune(df, key_col, k, token_col, weight_col, checkpoint_dir, manifest)
    columns = _mg_columns(key_col, weight_col, token_col)
    return _positive_counters(*sketch_agg(df, columns, sketch, fanout, checkpoint_dir, manifest))


def _positive_counters(
    state: MGState, exemplars: dict[int, str]
) -> tuple[MGState, dict[int, str]]:
    keep = state.counters > 0
    if keep.all():
        return state, exemplars
    keys = state.keys[keep]
    kept = set(keys.tolist())
    return (
        replace(state, keys=keys, counters=state.counters[keep]),
        {key: tok for key, tok in exemplars.items() if key in kept},
    )


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
    per surviving key comes out of the build, so releases decode without
    a second scan of the input (the decode-re-scan would double the
    dominant cost of every DP query at 100 TB).  Exemplars cover every
    released key of the approx-DP mechanisms (they never invent keys);
    pure-DP releases can add fresh universe keys, which need a dictionary
    universe instead (see the CLI's pure mode / ``q_mg_pure_dp_doc_lang``).

    On the combiner path the exemplar is each key's ``min`` token, taken
    in the JVM with the exact count; on the zero-shuffle path the token
    column crosses the Arrow pipe per row — still one scan, but prefer
    the combiner when cardinality allows (the ``"auto"`` probe does this).
    """
    manifest = _mg_manifest(k, key_col, weight_col, token_col)
    return _mg_build(
        df, key_col, k, token_col, weight_col, checkpoint_dir, fanout, pre_aggregate, manifest
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

    ``pre_aggregate=True`` builds the sketch as one JVM query with no
    Python stage: an exact ``groupBy(key)`` count (map-side combined),
    its total observed in the same job, and the top k+1 counts collected;
    the driver prunes them at the (k+1)-th count (:func:`_mg_exact_prune`).
    Nothing crosses the JVM->Python Arrow boundary.  Both plans give the
    full MG guarantee (est in [true - N/(k+1), true]); when key
    cardinality is <= k the results are bit-identical, while at higher
    cardinality the combiner and zero-shuffle plans can release
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


def mg_topk_grouped(df: DataFrame, group_col: str, token_col: str, k: int) -> DataFrame:
    """Per-group heavy hitters decoded to tokens: (group, token, est).

    One JVM plan, no Python stage: tokens are hashed JVM-side, an exact
    ``groupBy(group, key)`` count (exemplar token = ``min``) runs with
    map-side combining, and each group's count table is pruned at its
    (k+1)-th largest count ``t`` (0 when the group has <= k keys):
    ``est = count - t``, keeping only ``est > 0``.  That is MG's merge
    rule applied to exact counts, so the result is a valid MG summary
    with the smallest possible offset: est in [true - N/(k+1), true],
    exact whenever a group's token cardinality is <= k.

    Ties: ranks order by count descending, key ascending, but every key
    whose count equals ``t`` gets est 0 and is dropped, so at most k keys
    survive per group and the output depends on neither tie order nor
    input partitioning.  The ``row_number() <= k+1`` filter plans a
    partial ``WindowGroupLimit`` below the group shuffle (k+1 below
    ``spark.sql.optimizer.windowGroupLimitThreshold``), so each map task
    ships at most k+1 rows per group and a hot group cannot straggle;
    above that threshold the plan stays correct without the map-side
    limit.  Null tokens are skipped, as in every MG path.
    """
    encoded = encode_tokens(df.select(group_col, token_col), token_col)
    counts = (
        encoded.where(F.col("key") >= 0)  # the kernel's invalid-key rule (nulls too)
        .groupBy(group_col, "key")
        .agg(F.count("*").alias("_c"), F.min(token_col).cast("string").alias("_tok"))
    )
    by_group = Window.partitionBy(group_col)
    rank = F.row_number().over(by_group.orderBy(F.desc("_c"), F.asc("key")))
    top = counts.withColumn("_rank", rank).where(F.col("_rank") <= k + 1)
    cutoff = F.max(F.when(F.col("_rank") == k + 1, F.col("_c")).otherwise(0)).over(by_group)
    return top.select(
        group_col,
        F.col("_tok").alias("token"),
        (F.col("_c") - cutoff).alias("est"),
    ).where(F.col("est") > 0)


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
    the DuckDB oracle checks at small scale.  The <= k result rows are
    sorted on the driver (``str`` order is code-point order, Spark's
    UTF-8 byte order), so the frame is a bare ``LocalTableScan``
    (:func:`mgspark.session.local_frame`): collecting it starts no job,
    and no action on it runs a Python worker or re-runs the sketch.

    Plan selection (``pre_aggregate``):

    * ``True`` — combiner path: one JVM query counts each hashed token
      exactly (map-side combine) with a ``min`` exemplar token and
      collects the top k+1 counts (:func:`_mg_exact_prune`).  Nothing
      crosses the Arrow boundary and the exemplars decode the keys, so
      the whole query is **one scan** of the input with no decode
      re-scan.  Right whenever distinct tokens ≪ rows — the typical
      heavy-hitter workload.
    * ``False`` — zero-shuffle path: sketch the raw stream (no shuffle at
      all) with the token column beside each key, so every partial
      carries one exemplar per surviving key and the query is one scan
      too.  Right for unbounded key spaces where a groupBy state would be
      as large as the data.
    * ``"auto"`` (default) — one cheap JVM-only probe
      (``count`` + ``approx_count_distinct``, no Python boundary) picks
      the combiner path when distinct/rows <= 0.5; ties go to combiner
      because a JVM shuffle is cheaper than the Arrow pipe.
    """
    # Both plans carry exemplar tokens and sketch the unweighted key
    # stream, so a checkpoint from either resumes into the other: one
    # manifest, without the token column.
    manifest = _mg_manifest(k, "key", None, None)
    resuming = checkpoint_dir is not None and checkpoint_ready(checkpoint_dir, manifest)
    if pre_aggregate == "auto" and not resuming:
        # The raw token column: its nulls, as key -1, would count as rows.
        pre_aggregate = _combiner_probe(df, token_col)
    state, mapping = _mg_build(
        encode_tokens(df, token_col), "key", k, token_col, None, checkpoint_dir, 64,
        pre_aggregate, manifest,
    )
    # A token-less checkpoint (written by mg_sketch, or by older code)
    # carries no exemplars; resolve those keys with decode_keys instead
    # of silently emitting hash strings.
    missing = [int(key) for key in state.keys if int(key) not in mapping]
    if missing:
        mapping.update(decode_keys(df, token_col, missing))
    rows = [
        (mapping.get(int(key), str(int(key))), int(cnt))
        for key, cnt in zip(state.keys, state.counters)
    ]
    # Sorted here: collecting a bare LocalTableScan starts no job.
    rows.sort(key=lambda row: (-row[1], row[0]))
    return local_frame(df.sparkSession, rows, "token string, est long")
