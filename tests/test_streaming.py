"""Structured Streaming tests: stateful MG sketch across micro-batches
(file source, availableNow trigger) and watermarked window counts."""

import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from mgspark.streaming import mg_streaming_sketch, windowed_token_counts


def _write_token_files(spark, path: str, n_files: int = 3, rows_per_file: int = 2000):
    """Deterministic multi-file token stream (Zipf int keys >= 0)."""
    rng = np.random.default_rng(42)
    all_keys = []
    for i in range(n_files):
        keys = (rng.zipf(1.4, size=rows_per_file) % 50).astype("int64")
        all_keys.append(keys)
        pdf = __import__("pandas").DataFrame({"key": keys})
        pdf.to_parquet(os.path.join(path, f"tokens_{i:02d}.parquet"), index=False)
    return np.concatenate(all_keys)


def test_mg_streaming_sketch_availablenow(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    all_keys = _write_token_files(spark, str(src))
    k = 12

    stream = spark.readStream.schema("key long").parquet(str(src))
    out = mg_streaming_sketch(stream, "key", k, num_shards=4)
    query = (
        out.writeStream.format("memory")
        .queryName("mg_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    query.awaitTermination(120)

    rows = spark.sql(
        "SELECT * FROM mg_stream ORDER BY n"
    ).collect()
    assert rows, "stream produced no updates"
    # latest state per shard = the row with max n per shard
    latest = {}
    for r in rows:
        if r["shard"] not in latest or r["n"] > latest[r["shard"]]["n"]:
            latest[r["shard"]] = r

    # union of shard sketches obeys the per-shard MG bound
    exact = {}
    for key in all_keys:
        exact[int(key)] = exact.get(int(key), 0) + 1
    total_n = sum(r["n"] for r in latest.values())
    assert total_n == len(all_keys)
    for shard, r in latest.items():
        shard_exact = {key: c for key, c in exact.items() if key % 4 == shard}
        shard_n = sum(shard_exact.values())
        assert r["n"] == shard_n
        cap = shard_n // (k + 1)
        assert r["d"] <= cap
        for key, est in zip(r["keys"], r["counters"]):
            true = shard_exact.get(int(key), 0)
            assert true - cap <= est <= true


def test_streaming_dedup_exact_across_batches(spark, tmp_path):
    """dropDuplicates state must span micro-batches: a content value
    arriving again in a later file is suppressed."""
    import pandas as pd

    from mgspark.streaming import streaming_dedup_exact

    src = tmp_path / "dsrc"
    src.mkdir()
    pd.DataFrame({"doc_id": [0, 1, 2], "text": ["aa", "bb", "aa"]}).to_parquet(
        os.path.join(str(src), "f0.parquet"), index=False
    )
    pd.DataFrame({"doc_id": [3, 4], "text": ["bb", "cc"]}).to_parquet(
        os.path.join(str(src), "f1.parquet"), index=False
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    kept = streaming_dedup_exact(stream, "text")
    query = (
        kept.select("doc_id", "text")
        .writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .start()
    )
    query.awaitTermination(120)
    rows = spark.sql("SELECT * FROM dedup_stream_test").collect()
    texts = sorted(r["text"] for r in rows)
    assert texts == ["aa", "bb", "cc"]


def test_windowed_token_counts(spark, tmp_path):
    import pandas as pd

    src = tmp_path / "wsrc"
    src.mkdir()
    base = pd.Timestamp("2026-01-01 00:00:00")
    # two files -> two micro-batches (maxFilesPerTrigger=1): the second
    # batch advances the watermark past the first windows so append mode
    # can emit them.
    for fidx, minutes in enumerate([(0, 1), (10,)]):
        rows = []
        for minute in minutes:
            for i, tok in enumerate(["a", "a", "b"]):
                rows.append((base + pd.Timedelta(minutes=minute, seconds=i), tok))
        pd.DataFrame(rows, columns=["ts", "token"]).to_parquet(
            os.path.join(str(src), f"part{fidx}.parquet"),
            index=False,
            coerce_timestamps="us",
        )

    stream = (
        spark.readStream.schema("ts timestamp, token string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = windowed_token_counts(stream, "ts", "token", window="1 minute")
    query = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .start()
    )
    query.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["token"]): r["cnt"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    # append mode only emits windows the watermark has passed; with
    # availableNow the final watermark covers the first two windows.
    # the first two windows (minutes 0 and 1) are finalized by the
    # minute-10 data; the minute-10 window stays open past end-of-stream.
    assert len(got) == 4, got
    for (ws, tok), cnt in got.items():
        assert cnt == (2 if tok == "a" else 1)


def test_streaming_session_windows_vs_batch_sessionize(spark, tmp_path):
    """The streaming session_window op must produce exactly the batch
    gap-sessionization: same sessions, same [first, last+gap) bounds."""
    import pandas as pd

    from mgspark.pipeline.temporal import session_stats
    from mgspark.streaming import streaming_session_windows

    src = tmp_path / "ev"
    src.mkdir()
    base = pd.Timestamp("2024-01-01")
    rows = []
    for uid in range(5):
        t = base + pd.Timedelta(minutes=uid)
        for burst in range(3):
            for j in range(4):
                rows.append({"uid": uid, "ts": t})
                t += pd.Timedelta(minutes=2)
            t += pd.Timedelta(minutes=30)  # > 10-minute gap: new session
    # Exact-gap boundary pin: two events exactly 10 minutes apart MERGE
    # (session_window and batch sessionize both split only on silence
    # STRICTLY exceeding the gap).
    rows.append({"uid": 99, "ts": base})
    rows.append({"uid": 99, "ts": base + pd.Timedelta(minutes=10)})
    pdf = pd.DataFrame(rows)
    # Spark timestamps are microseconds; pandas defaults to nanos, which
    # the parquet stream reader rejects as INT64.
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(str(src / "ev.parquet"), index=False)

    stream = spark.readStream.schema("uid long, ts timestamp").parquet(str(src))
    out = streaming_session_windows(stream, "uid", "ts", gap="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_win_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["uid"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in spark.table("sess_win_test").collect()
    }
    batch = spark.read.parquet(str(src)).withColumn("ts", F.col("ts").cast("timestamp"))
    expected = {
        (
            r["uid"],
            str(r["start_ts"]),
            str(r["end_ts"] + __import__("datetime").timedelta(minutes=10)),
            r["n_events"],
        )
        for r in session_stats(batch, "uid", "ts", gap_seconds=600).collect()
    }
    assert len(got) == 16  # 5 users x 3 bursts + the exact-gap merge
    assert got == expected
    assert sum(1 for g in got if g[0] == 99) == 1  # merged, not split


def test_mg_streaming_sketch_resumes_from_checkpoint(spark, tmp_path):
    """Kill-and-restart: a second query on the SAME checkpoint must
    resume the stateful MG from the stored state and process only the
    new files — final per-shard n equals the full corpus, bounds hold
    over the union of both runs."""
    src = tmp_path / "src"
    src.mkdir()
    k, shards = 12, 4

    sink = str(tmp_path / "resume_sink")

    def run_once(qname):
        # foreachBatch parquet sink: the memory sink does NOT support
        # checkpoint recovery ("This query does not support recovering
        # from checkpoint location"); fault-tolerant resume needs a
        # replayable sink.
        stream = spark.readStream.schema("key long").parquet(str(src))
        out = mg_streaming_sketch(stream, "key", k, num_shards=shards)

        def write_batch(bdf, _bid):
            bdf.write.mode("append").parquet(sink)

        q = (
            out.writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "resume_ckpt"))
            .start()
        )
        q.awaitTermination(120)
        latest = {}
        for r in spark.read.parquet(sink).collect():
            if r["shard"] not in latest or r["n"] > latest[r["shard"]]["n"]:
                latest[r["shard"]] = r
        return latest

    rng = np.random.default_rng(7)
    first = (rng.zipf(1.4, size=3000) % 40).astype("int64")
    __import__("pandas").DataFrame({"key": first}).to_parquet(
        str(src / "part_a.parquet"), index=False
    )
    latest1 = run_once("mg_resume_1")
    assert sum(r["n"] for r in latest1.values()) == len(first)

    second = (rng.zipf(1.4, size=2000) % 40).astype("int64")
    __import__("pandas").DataFrame({"key": second}).to_parquet(
        str(src / "part_b.parquet"), index=False
    )
    latest2 = run_once("mg_resume_2")
    allk = np.concatenate([first, second])
    exact = {}
    for key in allk:
        exact[int(key)] = exact.get(int(key), 0) + 1
    assert sum(r["n"] for r in latest2.values()) == len(allk), (
        "restart must resume counts from checkpointed state, not re-read"
    )
    for shard, r in latest2.items():
        shard_exact = {key: c for key, c in exact.items() if key % shards == shard}
        cap = sum(shard_exact.values()) // (k + 1)
        assert r["d"] <= cap
        for key, est in zip(r["keys"], r["counters"]):
            assert shard_exact.get(int(key), 0) - cap <= est <= shard_exact.get(int(key), 0)


def test_streaming_hll_distinct_matches_batch(spark, tmp_path):
    """The streaming HLL aggregate must reach the IDENTICAL estimate of
    the batch hll_distinct over the same files (both are
    hash-deterministic and merge one partial sketch per file), across
    multiple micro-batch files, and land within the 2.5% bound of the
    exact distinct."""
    import numpy as np
    import pandas as pd

    from mgspark.sketches import hll_distinct
    from mgspark.streaming import streaming_hll_distinct

    src = tmp_path / "src"
    src.mkdir()
    rng = np.random.default_rng(5)
    parts = [rng.integers(0, 5000, size=4000).astype("int64") for _ in range(3)]
    for i, keys in enumerate(parts):
        pd.DataFrame({"uid": keys}).to_parquet(str(src / f"p{i}.parquet"), index=False)
    all_keys = np.concatenate(parts)

    stream = spark.readStream.schema("uid long").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    out = streaming_hll_distinct(stream, "uid", p=12)
    query = (
        out.writeStream.format("memory")
        .queryName("hll_stream_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    query.awaitTermination(120)

    rows = spark.sql("SELECT * FROM hll_stream_t ORDER BY n_rows").collect()
    assert len(rows) == 3  # one update per micro-batch file
    latest = rows[-1]
    assert latest["n_rows"] == len(all_keys)
    est = float(latest["n_distinct_est"])
    batch_est = float(hll_distinct(spark.read.parquet(str(src)), "uid", p=12))
    true = len(set(all_keys.tolist()))
    assert est == batch_est, (est, batch_est)
    assert abs(est - true) <= 0.025 * true, (est, true)
    # the emitted sketch is Spark's mergeable HLL: it estimates the same
    merged = spark.createDataFrame([(latest["sketch"],)], "s binary").select(
        F.hll_sketch_estimate("s")
    ).first()[0]
    assert merged == latest["n_distinct_est"]


def test_streaming_dedup_incremental_vs_static_corpus(spark, tmp_path):
    """Stream-static anti-join dedup: rows whose content already exists
    in the static corpus are dropped in every micro-batch, and the
    within-stream first-arrival dedup still spans batches."""
    import pandas as pd

    from mgspark.streaming import streaming_dedup_incremental

    corpus = spark.createDataFrame(
        [(100, "old-a"), (101, "old-b")], "doc_id long, text string"
    )
    src = tmp_path / "isrc"
    src.mkdir()
    # batch 0: one corpus hit ("old-a"), two new; batch 1: a repeat of a
    # batch-0 new value ("new-x"), a corpus hit ("old-b"), one new.
    pd.DataFrame({"doc_id": [0, 1, 2], "text": ["old-a", "new-x", "new-y"]}).to_parquet(
        os.path.join(str(src), "f0.parquet"), index=False
    )
    pd.DataFrame({"doc_id": [3, 4, 5], "text": ["new-x", "old-b", "new-z"]}).to_parquet(
        os.path.join(str(src), "f1.parquet"), index=False
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    kept = streaming_dedup_incremental(stream, corpus, "text")
    query = (
        kept.select("doc_id", "text")
        .writeStream.format("memory")
        .queryName("inc_dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ickpt"))
        .start()
    )
    query.awaitTermination(120)
    rows = spark.sql("SELECT * FROM inc_dedup_stream_test").collect()
    assert sorted(r["text"] for r in rows) == ["new-x", "new-y", "new-z"]
    # first arrival wins for the within-stream duplicate
    assert {r["text"]: r["doc_id"] for r in rows}["new-x"] == 1
