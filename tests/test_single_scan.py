"""Single-scan release paths.

The DP / user-level / weighted / streaming release queries must decode
hashed keys from the exemplar tokens carried inside the sketch rows —
never via ``decode_keys`` (a second full scan of the input, which at
100 TB doubles the dominant cost of every DP query).  Pinned by
poisoning ``decode_keys`` and running the release paths end-to-end.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

import mgspark.aggregate as agg


def _rescan(*args, **kwargs):  # pragma: no cover - failure path
    raise AssertionError("decode_keys called: a release path re-scanned the input")


@pytest.fixture()
def no_decode_rescan(monkeypatch):
    monkeypatch.setattr(agg, "decode_keys", _rescan)


def _tokens_df(spark):
    rows = [(tok,) for tok in ["apple"] * 40 + ["pear"] * 25 + ["plum"] * 10]
    return spark.createDataFrame(rows, "token string")


@pytest.mark.parametrize("pre_aggregate", [True, False])
def test_exemplars_cover_all_keys(spark, pre_aggregate, no_decode_rescan):
    df = agg.encode_tokens(_tokens_df(spark), "token")
    state, exemplars = agg.mg_sketch_with_tokens(
        df, "key", 8, token_col="token", pre_aggregate=pre_aggregate
    )
    assert len(state.keys) == 3
    assert {exemplars[int(k)] for k in state.keys} == {"apple", "pear", "plum"}


def test_weighted_build_carries_exemplars(spark, no_decode_rescan):
    pre = _tokens_df(spark).groupBy("token").agg(F.count("*").alias("w"))
    df = agg.encode_tokens(pre, "token")
    state, exemplars = agg.mg_sketch_with_tokens(
        df, "key", 8, token_col="token", weight_col="w"
    )
    est = {exemplars[int(k)]: int(c) for k, c in zip(state.keys, state.counters)}
    assert est == {"apple": 40, "pear": 25, "plum": 10}


def test_user_level_release_returns_tokens(spark, no_decode_rescan):
    rows = [(i % 7, ["click", "view", "buy"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, "user_id long, event string")
    released, mapping = agg.mg_user_level_release(
        df, "user_id", "event", k=5, epsilon=80.0, delta=1e-2,
        rng=np.random.default_rng(7), return_tokens=True,
    )
    # approx-DP never invents keys -> every released key decodes
    assert set(released) <= set(mapping)
    assert set(mapping.values()) <= {"click", "view", "buy"}


def test_driver_dp_queries_run_without_decode_rescan(
    spark, sf_dir, no_decode_rescan
):
    import __spark_entry__ as entry

    for q in (
        entry.q_mg_private_topk_event_type,
        entry.q_mg_user_level_event_type,
        entry.q_mg_topk_weighted,
    ):
        rows = q(spark, sf_dir).collect()
        # any released token must be a decoded string, not a hash rendered
        # as digits (the un-decoded fallback)
        for r in rows:
            assert not r["token"].isdigit(), (q.__name__, r)


def test_streaming_mg_decodes_from_state_tokens(spark, sf_dir, no_decode_rescan):
    import __spark_entry__ as entry

    rows = entry.q_streaming_mg_event_type(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert not r["token"].isdigit(), r


def test_zero_shuffle_mg_topk_decodes_from_exemplars(spark, no_decode_rescan):
    """Zero-shuffle mg_topk decodes from the exemplars of its own build,
    and at cardinality <= k returns exactly the combiner plan's rows."""
    df = _tokens_df(spark)
    rows = {pre: agg.mg_topk(df, "token", 8, pre_aggregate=pre).collect() for pre in (True, False)}
    assert rows[False] == rows[True]
    assert [tuple(r) for r in rows[False]] == [("apple", 40), ("pear", 25), ("plum", 10)]


def test_zero_shuffle_exemplars_across_small_batches(spark, monkeypatch):
    """With 7-row Arrow batches, keys leave and re-enter each task's MG
    state between batches.  Above k distinct tokens, every key that
    zero-shuffle mg_topk keeps still decodes, from its exemplar, to the
    token decode_keys finds for it, never to a digit string."""
    tokens = [f"w{i}" for i in range(60) for _ in range(max(1, 40 // (i + 1)))]
    np.random.default_rng(3).shuffle(tokens)
    df = spark.createDataFrame([(tok,) for tok in tokens], "token string")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        with monkeypatch.context() as patched:
            patched.setattr(agg, "decode_keys", _rescan)
            got = {r["token"]: r["est"] for r in agg.mg_topk(df, "token", 6, pre_aggregate=False).collect()}
        state = agg.mg_sketch(agg.encode_tokens(df, "token"), "key", 6, pre_aggregate=False)
    finally:
        spark.conf.set(conf, old)
    decoded = agg.decode_keys(df, "token", [int(key) for key in state.keys])
    assert len(got) >= 2
    assert got == {decoded[int(key)]: int(cnt) for key, cnt in zip(state.keys, state.counters)}
    assert not any(token.isdigit() for token in got)
