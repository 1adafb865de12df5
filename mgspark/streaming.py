"""Structured Streaming operators.

The reference is batch-only ("stream" means a Python iterable,
pmg.py:515-517); this module extends the same mergeable MG state to real
Structured Streaming:

* :func:`mg_streaming_sketch` — a custom stateful operator via
  ``applyInPandasWithState``: the token stream is sharded by key hash
  into ``num_shards`` disjoint groups, each holding one O(k) MG state
  that folds every micro-batch with the batch kernel.  Sharding by key
  keeps the per-shard key sets disjoint, so reading the union of shard
  sketches is itself a valid sharded-MG summary (each estimate obeys its
  shard's N_shard/(k+1) bound, hence the global N/(k+1) bound).
* :func:`streaming_hll_distinct` — Spark's ``hll_sketch_agg`` as a
  streaming aggregation: a running approximate distinct count.
* :func:`windowed_token_counts` — watermarked tumbling-window exact
  counts with late-data handling, for the windowed-aggregation surface
  (pure built-ins).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mgspark.kernel import MGState

__all__ = [
    "mg_streaming_sketch",
    "streaming_hll_distinct",
    "windowed_token_counts",
    "streaming_dedup_exact",
    "streaming_dedup_incremental",
    "streaming_session_windows",
]

STREAM_OUTPUT_SCHEMA = StructType(
    [
        StructField("shard", LongType(), False),
        StructField("keys", ArrayType(LongType(), False), False),
        StructField("counters", ArrayType(LongType(), False), False),
        StructField("tokens", ArrayType(StringType(), True), True),
        StructField("n", LongType(), False),
        StructField("d", LongType(), False),
    ]
)

STREAM_STATE_SCHEMA = StructType(
    [
        StructField("keys", ArrayType(LongType(), False), True),
        StructField("counters", ArrayType(LongType(), False), True),
        StructField("tokens", ArrayType(StringType(), True), True),
        StructField("n", LongType(), True),
        StructField("d", LongType(), True),
    ]
)


def _from_arrays(k: int, keys, counters, tokens, n, d) -> tuple[MGState, dict[int, str]]:
    """An ``MGSketch`` state from a ``STREAM_STATE_SCHEMA`` row;
    ``tokens`` is aligned to ``keys``, or missing."""
    state = MGState(
        k=k,
        keys=np.asarray(keys, dtype=np.int64),
        counters=np.asarray(counters, dtype=np.int64),
        n=int(n),
        d=int(d),
    )
    if tokens is None:
        return state, {}
    return state, {int(key): str(tok) for key, tok in zip(keys, tokens) if tok is not None}


def mg_streaming_sketch(
    stream_df: DataFrame,
    key_col: str,
    k: int,
    num_shards: int = 8,
    token_col: str | None = None,
) -> DataFrame:
    """Continuously-updated MG sketches over a streaming token column.

    Emits one updated (shard, keys, counters, tokens, n, d) row per shard
    per micro-batch (output mode: update).  State per shard is O(k).
    With ``token_col`` set, one exemplar token per surviving key rides in
    the state and the emitted rows, so consumers decode hashed keys
    without any scan of the (unbounded) stream history.

    .. note:: for fault-tolerant runs pair this with a replayable sink
       (file/kafka/foreachBatch): Spark's memory sink refuses checkpoint
       recovery, so a restarted query would error instead of resuming
       its state (pinned by tests/test_streaming.py's resume test).

    .. note:: the ``tokens`` state field (added for exemplar decode) is a
       checkpoint-breaking state-schema change: a stream checkpointed
       under the earlier 4-field state cannot resume against this
       schema — restart such streams from a fresh checkpoint directory
       (state rebuilds from the stream; MG bounds hold from the restart
       point).  Streaming state schemas are pinned by the checkpoint in
       Spark, so any future field addition carries the same cost.
    """
    # Coalesce null keys to -1 before sharding: pmod(null) yields a null
    # shard group whose key tuple would fail int() inside the state
    # function; -1 routes them to a real shard where the MG build
    # drops them as invalid, matching the batch path's skip semantics.
    cols = [F.coalesce(F.col(key_col).cast("long"), F.lit(-1)).alias("key")]
    if token_col is not None:
        cols.append(F.col(token_col).cast("string").alias("token"))
    sharded = stream_df.select(*cols).withColumn(
        "shard", F.pmod(F.col("key"), F.lit(num_shards))
    )

    def update(
        shard_key: Tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import pyarrow as pa

        from mgspark.sketches.mg import MGSketch, _aligned_tokens

        sketch = MGSketch(k)
        mg, exemplars = _from_arrays(k, *state.get) if state.exists else sketch.zero()
        for pdf in batches:
            batch = pa.RecordBatch.from_pandas(pdf.drop(columns="shard"), preserve_index=False)
            mg, exemplars = sketch.build_batch((mg, exemplars), batch)
        tokens_out = _aligned_tokens(exemplars, mg.keys) if token_col is not None else None
        state.update((mg.keys.tolist(), mg.counters.tolist(), tokens_out, mg.n, mg.d))
        yield pd.DataFrame(
            {
                "shard": [int(shard_key[0])],
                "keys": [mg.keys.tolist()],
                "counters": [mg.counters.tolist()],
                "tokens": [tokens_out],
                "n": [mg.n],
                "d": [mg.d],
            }
        )

    return sharded.groupBy("shard").applyInPandasWithState(
        update,
        STREAM_OUTPUT_SCHEMA,
        STREAM_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_hll_distinct(stream_df: DataFrame, key_col: str, p: int = 14) -> DataFrame:
    """Continuously-updated approximate DISTINCT count over a stream: a
    streaming ``agg(hll_sketch_agg)``, Spark's own mergeable HLL held in
    the state store (O(2^p) bytes, whatever the stream length).

    Reads ``key_col`` by the rule of :func:`mgspark.sketches.hll_distinct`
    (nulls ignored); a stream that takes each file as it comes reaches
    the estimate of the batch ``hll_distinct`` over the same files.  Emits one ``(sketch binary, n_distinct_est long, n_rows long)``
    row per micro-batch in update or complete mode; ``n_rows`` counts the
    non-null keys so far, and ``sketch`` merges with other HLL sketches
    of the same ``p`` through ``hll_union_agg``.  The same
    replayable-sink checkpoint caveat as :func:`mg_streaming_sketch`
    applies.
    """
    from mgspark.sketches import _hll_sketch

    sketch = _hll_sketch(stream_df, key_col, p)
    return stream_df.agg(sketch.alias("sketch"), F.count(key_col).alias("n_rows")).select(
        "sketch", F.hll_sketch_estimate("sketch").alias("n_distinct_est"), "n_rows"
    )


def streaming_dedup_exact(
    stream_df: DataFrame, content_col: str, watermark: tuple[str, str] | None = None
) -> DataFrame:
    """Exact streaming deduplication: keep the first arrival per distinct
    content value, keyed by its sha256 (state stores one 64-char hash per
    distinct value, never the content).

    For unbounded streams pass ``watermark=(ts_col, delay)`` so
    ``dropDuplicatesWithinWatermark`` bounds the state store to the
    watermark horizon — the 100 TB/day configuration; without it state
    grows with the distinct-content count (fine for bounded or
    daily-restarted jobs).
    """
    hashed = stream_df.withColumn("_h", F.sha2(F.col(content_col), 256))
    if watermark is not None:
        ts_col, delay = watermark
        return hashed.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(["_h"])
    return hashed.dropDuplicates(["_h"])


def streaming_dedup_incremental(
    stream_df: DataFrame,
    corpus_df: DataFrame,
    content_col: str,
    watermark: tuple[str, str] | None = None,
) -> DataFrame:
    """Streaming twin of :func:`mgspark.pipeline.dedup.dedup_incremental`:
    drop stream rows whose content already exists in a STATIC corpus,
    then keep the first arrival per remaining distinct content.

    The corpus side is a stream-static left-anti join — Spark re-plans
    the static side per micro-batch and never copies it into the state
    store, so the history can be arbitrarily large (it stays a parquet
    scan of 32-byte hashes after pruning); only the within-stream
    dedup state (one sha256 per NEW distinct value) grows, and a
    ``watermark=(ts_col, delay)`` bounds even that via
    ``dropDuplicatesWithinWatermark`` — the rolling-ingestion
    configuration where the corpus is re-snapshotted daily and the
    stream covers one day.
    """
    corpus_h = corpus_df.select(F.sha2(F.col(content_col), 256).alias("_h"))
    hashed = stream_df.withColumn("_h", F.sha2(F.col(content_col), 256))
    fresh = hashed.join(corpus_h, "_h", "left_anti")
    if watermark is not None:
        ts_col, delay = watermark
        return fresh.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(["_h"])
    return fresh.dropDuplicates(["_h"])


def windowed_token_counts(
    stream_df: DataFrame,
    ts_col: str,
    token_col: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window exact token counts (late data beyond
    the watermark is dropped by the engine)."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(token_col))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col(token_col).alias("token"),
            "cnt",
        )
    )


def streaming_session_windows(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
    gap: str = "10 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time session windows per entity: Spark's native
    ``session_window`` merge (state closes ``gap`` after the last event,
    late data bounded by ``watermark``) — the streaming twin of
    ``mgspark.pipeline.temporal.sessionize``; a session window is
    ``[first_ts, last_ts + gap)``, and a new session starts only when
    the silence since the previous event STRICTLY exceeds ``gap``
    (touching windows merge — verified identical to the batch
    ``sessionize``'s ``> gap_seconds`` boundary).

    Output: (key, session_start, session_end, n_events) per closed (or
    complete-mode emitted) session.
    """
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("_sw"), F.col(key_col)
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("_sw.start").alias("session_start"),
            F.col("_sw.end").alias("session_end"),
            "n_events",
        )
    )
