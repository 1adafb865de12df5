"""Distributed sketch aggregations vs exact Spark/DuckDB answers on the
sf0.001 testdata."""

import json
import os
from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

from mgspark.sketches import (
    bloom_build,
    cms_estimates,
    hll_distinct,
    kll_quantiles,
    tdigest_quantiles,
)


@pytest.fixture(scope="module")
def tables(spark, sf_dir):
    def read(name):
        return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

    return {name: read(name) for name in ("events", "orders", "customer", "lineitem")}


def test_hll_distinct_user_id(tables):
    exact = tables["events"].select("user_id").distinct().count()
    est = hll_distinct(tables["events"], "user_id")
    assert abs(est - exact) / exact < 0.05


def test_hll_distinct_orderkey(tables):
    exact = tables["orders"].select("o_orderkey").distinct().count()
    est = hll_distinct(tables["orders"], "o_orderkey", p=12)
    assert abs(est - exact) / exact < 0.05


def test_cms_point_estimates(tables):
    exact = {
        r["l_returnflag"]: r["cnt"]
        for r in tables["lineitem"].groupBy("l_returnflag").agg(F.count("*").alias("cnt")).collect()
    }
    n = sum(exact.values())
    ests = cms_estimates(tables["lineitem"], "l_returnflag", list(exact), eps=1e-3)
    for value, true in exact.items():
        assert true <= ests[value] <= true + 10 * 1e-3 * n


def test_bloom_membership(tables):
    sketch, state = bloom_build(tables["orders"], "o_custkey", capacity=100_000)
    from mgspark.aggregate import encode_tokens

    member_keys = np.array(
        [
            r["_key"]
            for r in encode_tokens(
                tables["orders"].select("o_custkey").distinct(), "o_custkey", "_key"
            )
            .select("_key")
            .collect()
        ],
        dtype=np.int64,
    )
    assert sketch.contains(state, member_keys).all()


def test_bloom_probe_distributed_flags(spark, tables):
    """bloom_probe flags every true member (no false negatives) and
    keeps false positives on non-members near the configured fpr, all
    via the broadcast + mapInPandas path."""
    from mgspark.sketches import bloom_probe

    sketch, state = bloom_build(tables["orders"], "o_custkey", capacity=100_000)
    members = tables["orders"].select("o_custkey").distinct()
    probed = bloom_probe(members, "o_custkey", sketch, state)
    assert probed.columns == ["o_custkey", "in_bloom"]
    n = members.count()
    assert probed.where("in_bloom").count() == n  # no false negatives
    # disjoint key range: false-positive rate ~ fpr (0.01), bounded loosely
    strangers = spark.range(10_000_000, 10_005_000).selectExpr("id AS o_custkey")
    fp = bloom_probe(strangers, "o_custkey", sketch, state).where("in_bloom").count()
    assert fp <= 0.05 * 5000


def test_bloom_contract_query_never_probes_on_driver(spark, sf_dir, monkeypatch):
    """VERDICT r3 task #2: the contract query must probe via the
    broadcast state inside executors — poisoning driver-side
    BloomFilter.contains must not fire (Spark python workers re-import
    the real class; only a driver-side probe would hit the poison)."""
    import mgspark.sketches as sketches_mod

    def boom(self, *a, **k):  # pragma: no cover - failure path
        raise AssertionError("BloomFilter.contains called on the driver")

    monkeypatch.setattr(sketches_mod.BloomFilter, "contains", boom)
    import __spark_entry__ as entry

    rows = entry.q_bloom_orders_custkey(spark, sf_dir).collect()
    assert len(rows) == 1 and rows[0]["members"] > 0


def test_tdigest_quantiles_price(tables):
    qs = [0.1, 0.5, 0.9]
    est = tdigest_quantiles(tables["lineitem"], "l_extendedprice", qs)
    prices = np.array(
        [r["l_extendedprice"] for r in tables["lineitem"].select("l_extendedprice").collect()]
    )
    for q, e in zip(qs, est):
        rank = (prices <= e).mean()
        assert abs(rank - q) < 0.02


def test_kll_quantiles_value(tables):
    qs = [0.25, 0.5, 0.75]
    est = kll_quantiles(tables["events"], "value", qs)
    vals = np.array([r["value"] for r in tables["events"].select("value").collect()])
    for q, e in zip(qs, est):
        rank = (vals <= e).mean()
        assert abs(rank - q) < 0.04


def test_sketch_agg_checkpoint_resume(spark, tables, tmp_path):
    from mgspark.aggregate import encode_tokens
    from mgspark.sketches import BloomFilter
    from mgspark.sketches.base import sketch_agg

    import numpy as np
    import os

    sk = BloomFilter(capacity=10_000)
    encoded = encode_tokens(tables["events"], "user_id", "_key")
    ckpt = str(tmp_path / "bloom_ckpt")
    s1 = sketch_agg(encoded, "_key", sk, checkpoint_dir=ckpt)
    assert os.path.exists(os.path.join(ckpt, "_SUCCESS"))
    # resume: empty input + existing checkpoint reproduces the state
    s2 = sketch_agg(encoded.limit(0), "_key", sk, checkpoint_dir=ckpt)
    assert np.array_equal(s1, s2)


def test_sketch_agg_checkpoint_refuses_other_parameters(spark, tmp_path):
    """A checkpoint built for t-digest compression 50 must not silently
    answer a compression-100 (or other-column) query: its manifest makes
    the resume raise."""
    from mgspark.sketches import TDigest
    from mgspark.sketches.base import sketch_agg

    df = spark.range(0, 2_000, numPartitions=2)
    ckpt = str(tmp_path / "tdigest_50")
    sketch_agg(df, "id", TDigest(compression=50), checkpoint_dir=ckpt)
    with pytest.raises(ValueError, match="params"):
        sketch_agg(df, "id", TDigest(compression=100), checkpoint_dir=ckpt)
    with pytest.raises(ValueError, match="key_col"):
        sketch_agg(df.withColumnRenamed("id", "v"), "v", TDigest(compression=50), checkpoint_dir=ckpt)


def _families():
    from mgspark.sketches import BloomFilter, MGSketch, TDigest

    return {
        "mg": (MGSketch(k=64), "key"),
        "bloom": (BloomFilter(capacity=10_000), "id"),
        "tdigest": (TDigest(compression=50), "x"),
    }


def _reference_merge(sketch, rows, fanout: int, num_partitions: int):
    """sketch_agg's merge in plain Python: sequential folds of each
    ``partition_id // fanout`` bucket while more than ``fanout`` remain,
    then one sequential fold of the rest in partition-id order."""
    from functools import reduce

    def fold(states):
        return reduce(sketch.merge, states, sketch.zero())

    states = {r["partition_id"]: sketch.deserialize(bytes(r["payload"])) for r in rows}
    while num_partitions > fanout:
        buckets: dict = {}
        for pid in sorted(states):
            buckets.setdefault(pid // fanout, []).append(states[pid])
        states = {bucket: fold(group) for bucket, group in buckets.items()}
        num_partitions = -(-num_partitions // fanout)
    return fold(states[pid] for pid in sorted(states))


@pytest.mark.parametrize("fanout", [64, 2])
@pytest.mark.parametrize("family", ["mg", "bloom", "tdigest"])
def test_sketch_agg_driver_fold_matches_sequential_fold(spark, family, fanout):
    """sketch_agg's state is bit-identical to folding the collected
    stage-1 partials in partition-id order (at fanout=2 over 6
    partitions, after the same two bucketed rounds the distributed
    merge runs) — including the order-sensitive t-digest and MG
    (whose (k+1)-th-largest offset depends on the fold order)."""
    from mgspark.sketches.base import sketch_agg, sketch_partials

    sketch, col = _families()[family]
    df = spark.range(0, 6_000, numPartitions=6).withColumn(
        "x", ((F.col("id") * 7919) % 1009) / F.lit(7.0)
    ).withColumn("key", (F.col("id") * 7919) % 1009 % (F.col("id") % 97 + 1))
    rows = sketch_partials(df, col, sketch).collect()
    assert len(rows) == 6
    expected = _reference_merge(sketch, rows, fanout, 6)
    state = sketch_agg(df, col, sketch, fanout=fanout)
    assert sketch.serialize(state) == sketch.serialize(expected)


def test_sketch_agg_within_fanout_runs_one_job(spark):
    """<= fanout input partitions: the build's collect is the only Spark
    job — no merge-round shuffle, no second Python-worker wave."""
    from mgspark.sketches import BloomFilter
    from mgspark.sketches.base import sketch_agg

    sc = spark.sparkContext
    group = "test-sketch-agg-one-job"
    sc.setJobGroup(group, "sketch_agg within fanout")
    try:
        sketch_agg(spark.range(0, 4_000, numPartitions=4), "id", BloomFilter(capacity=10_000))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_hll_distinct_grouped_accuracy_and_nulls(spark):
    """Per-group HLL estimates within the published error bound (~1.04/
    sqrt(2^p), p=14 -> ~0.8%) at any partitioning; a null group forms
    its own group like SQL GROUP BY; groups never bleed into each
    other."""
    from pyspark.sql import functions as F

    from mgspark.sketches import hll_distinct_grouped

    df = (
        spark.range(0, 60_000)
        .select(
            F.when(F.col("id") % 3 == 0, "a")
            .when(F.col("id") % 3 == 1, "b")
            .otherwise(None)
            .alias("grp"),
            # distinct cardinality differs per group: a -> id/1, b -> id/2...
            (F.col("id") - F.pmod(F.col("id"), F.when(F.col("grp").isNull(), 4).otherwise(
                F.when(F.col("grp") == "a", 1).otherwise(2)
            ))).alias("v"),
        )
    )
    exact = {
        r["grp"]: r["c"]
        for r in df.groupBy("grp").agg(F.count_distinct("v").alias("c")).collect()
    }
    for partitions in (1, 3, 7):
        split = df.repartition(partitions)
        est = {
            r["grp"]: r["n_distinct_est"]
            for r in hll_distinct_grouped(split, "grp", "v", p=14).collect()
        }
        assert set(est) == set(exact) == {"a", "b", None}, partitions
        for g, true in exact.items():
            assert abs(est[g] - true) / true < 0.05, (partitions, g, est[g], true)


def test_tdigest_grouped_deterministic_and_bounded(spark):
    """Grouped t-digest (order-sensitive family): two runs over the same
    input must produce BIT-IDENTICAL estimates in both plans (stage-2
    merges sort by salt), and each estimated median's exact rank must
    sit within the digest's bound."""
    from pyspark.sql import functions as F

    from mgspark.sketches import tdigest_quantiles_grouped

    df = spark.range(0, 40_000).select(
        (F.col("id") % 4).cast("string").alias("grp"),
        (F.xxhash64("id") % 100000).cast("double").alias("v"),
    )
    runs = []
    for mode in ("mapside", "shuffle"):
        pair = []
        for _ in range(2):
            est = {
                (r["grp"], r["q"]): r["quantile_est"]
                for r in tdigest_quantiles_grouped(df, "grp", "v", [0.25, 0.5, 0.75], mode=mode).collect()
            }
            pair.append(est)
        assert pair[0] == pair[1], f"{mode}: nondeterministic grouped digest"
        runs.append(pair[0])
    for (grp, q), v in runs[1].items():  # shuffle-mode estimates: check ranks
        sub = df.where(F.col("grp") == grp)
        n = sub.count()
        below = sub.where(F.col("v") <= v).count()
        assert abs(below / n - q) < 0.05, (grp, q, v, below / n)


def test_hll_grouped_numeric_group_with_nulls(spark):
    """Numeric group columns with nulls keep their null group."""
    from pyspark.sql import functions as F

    from mgspark.sketches import hll_distinct_grouped

    df = spark.range(0, 30_000).select(
        F.when(F.col("id") % 3 == 2, None).otherwise(F.col("id") % 3).alias("g"),
        (F.col("id") % 1000).alias("v"),
    )
    est = {r["g"]: r["n_distinct_est"] for r in hll_distinct_grouped(df, "g", "v").collect()}
    assert set(est) == {None, 0, 1}
    assert all(abs(v - 1000) / 1000 < 0.05 for v in est.values()), est


def _typed_frame(spark):
    """Values 0..4 three times, plus three nulls, in every column type
    the input rule names."""
    n = F.when(F.col("id") < 15, F.col("id") % 5)
    return spark.range(0, 18, numPartitions=3).select(
        n.cast("tinyint").alias("t"),
        n.cast("smallint").alias("s"),
        n.cast("int").alias("i"),
        n.alias("l"),
        n.cast("string").alias("str"),
        n.cast("string").cast("binary").alias("bin"),
        (n + 0.5).alias("d"),
        n.cast("decimal(10,2)").alias("dec"),
    )


_INPUT_RULE = {
    "t": "bigint", "s": "bigint", "i": "bigint", "l": "bigint",
    "str": "string", "bin": "binary", "d": "string", "dec": "string",
}


def test_sketch_input_rule_per_column_type(spark):
    """HLL and Count-Min read integral columns as bigint, string and
    binary unchanged, anything else as string — and every type gives
    the exact answer on 5 distinct values, with its nulls ignored."""
    from mgspark.sketches import _sketch_input

    df = _typed_frame(spark)
    types = dict(df.dtypes)
    got = dict(df.select(*[_sketch_input(F.col(c), types[c]).alias(c) for c in _INPUT_RULE]).dtypes)
    assert got == _INPUT_RULE
    for col in _INPUT_RULE:
        assert hll_distinct(df, col) == 5, col
        # binary values collect as bytearray; probe with hashable bytes
        probe = [
            bytes(v) if isinstance(v, bytearray) else v
            for v in (r[col] for r in df.select(col).distinct().collect())
        ]
        assert len(probe) == 6 and None in probe, col
        ests = cms_estimates(df, col, probe, eps=1e-3)
        assert ests == {v: 0 if v is None else 3 for v in probe}, col


def test_sketches_ignore_nulls(spark):
    """{"0".."4", null x 3}: 5 distinct for HLL (grouped and streaming
    inputs follow the same rule), the same Count-Min counts as without
    the nulls, and KLL quantiles over the non-null values."""
    from mgspark.sketches import hll_distinct_grouped

    df = spark.range(8).select(F.when(F.col("id") < 5, F.col("id").cast("string")).alias("v"))
    assert hll_distinct(df, "v") == 5
    assert hll_distinct_grouped(df.withColumn("g", F.lit(1)), "g", "v").first()["n_distinct_est"] == 5
    probe = ["0", "4", "9"]
    assert cms_estimates(df, "v", probe) == cms_estimates(df.dropna(), "v", probe) == {
        "0": 1, "4": 1, "9": 0
    }
    nums = spark.range(8).select(F.when(F.col("id") < 5, F.col("id") + 1.0).alias("x"))
    assert kll_quantiles(nums, "x", [0.0, 1.0]).tolist() == [1.0, 5.0]
    assert np.isnan(kll_quantiles(nums.limit(0), "x", [0.5])).all()


def test_sketch_parameters_validated_on_driver(spark):
    """Out-of-range HLL p and Count-Min eps/delta raise ValueError
    before any Spark job."""
    from mgspark.sketches import hll_distinct_grouped
    from mgspark.streaming import streaming_hll_distinct

    df = spark.range(10)
    for p in (3, 19):
        with pytest.raises(ValueError, match="p must be"):
            hll_distinct(df, "id", p=p)
        with pytest.raises(ValueError, match="p must be"):
            hll_distinct_grouped(df, "id", "id", p=p)
        with pytest.raises(ValueError, match="p must be"):
            streaming_hll_distinct(df, "id", p=p)
    for eps, delta in ((0.0, 0.01), (-1.0, 0.01), (0.01, 0.0), (0.01, 1.0)):
        with pytest.raises(ValueError, match="eps|delta"):
            cms_estimates(df, "id", [1], eps=eps, delta=delta)


_MAX_BYTES = "spark.sql.execution.arrow.maxBytesPerBatch"


@contextmanager
def _session_max_bytes(spark, value: str):
    """``maxBytesPerBatch`` set explicitly on the session, unset on exit."""
    spark.conf.set(_MAX_BYTES, value)
    try:
        yield
    finally:
        spark.conf.unset(_MAX_BYTES)


def _batch_counter(fail: bool = False):
    """A family whose final state lists, per task in partition order, the
    Arrow batches it folded and the ``maxBytesPerBatch`` local property
    it saw.  Defined locally so workers unpickle it by value."""
    from pyspark import TaskContext

    from mgspark.sketches.base import MergeableSketch

    class BatchCount(MergeableSketch):
        name = "batch_count"

        def zero(self):
            return []

        def build(self, state, values):
            raise NotImplementedError

        def build_batch(self, state, batch):
            if fail:
                raise RuntimeError("batch counter failed on purpose")
            if not state:
                state = [[0, TaskContext.get().getLocalProperty(_MAX_BYTES)]]
            state[0][0] += 1
            return state

        def merge(self, a, b):
            return a + b

        def serialize(self, state):
            return json.dumps(state).encode()

        def deserialize(self, blob):
            return json.loads(blob)

    return BatchCount()


def test_sketch_agg_batches_by_rows_only(spark):
    """Without a session value every task of sketch_agg sees the
    rows-only cap and folds one batch; an explicit session value wins
    and splits each task into several batches."""
    from mgspark.sketches.base import sketch_agg

    df = spark.range(0, 4_000, numPartitions=2)
    assert sketch_agg(df, "id", _batch_counter()) == [[1, "2147483647"]] * 2
    with _session_max_bytes(spark, "1k"):
        per_task = sketch_agg(df, "id", _batch_counter())
    assert len(per_task) == 2
    assert all(batches > 1 for batches, _ in per_task)


def test_sketch_agg_restores_the_local_property(spark):
    """The scope leaves the thread's local property as it found it:
    unset after a return and after a failed job, and an earlier local
    value comes back."""
    from pyspark.errors import PythonException

    from mgspark.sketches.base import sketch_agg

    sc = spark.sparkContext
    df = spark.range(0, 100, numPartitions=1)
    sketch_agg(df, "id", _batch_counter())
    assert sc.getLocalProperty(_MAX_BYTES) is None
    with pytest.raises(PythonException, match="failed on purpose"):
        sketch_agg(df, "id", _batch_counter(fail=True))
    assert sc.getLocalProperty(_MAX_BYTES) is None
    sc.setLocalProperty(_MAX_BYTES, "5000")
    try:
        sketch_agg(df, "id", _batch_counter())
        assert sc.getLocalProperty(_MAX_BYTES) == "5000"
    finally:
        sc.setLocalProperty(_MAX_BYTES, None)


def test_sketch_agg_results_do_not_depend_on_batches(spark):
    """One batch per task (the session default) and many (a 1k session
    cap) give identical zero-shuffle MG state and exemplars, t-digest
    quantiles and Bloom bits.  Each family is batch-invariant on this
    input: MG holds <= k keys, the t-digest stays below its compression."""
    from mgspark.aggregate import mg_sketch_with_tokens
    from mgspark.sketches.base import sketch_agg

    df = spark.range(0, 4_000, numPartitions=4).select(
        "id",
        (F.col("id") % 50).alias("key"),
        F.concat(F.lit("tok-"), (F.col("id") % 50).cast("string")).alias("token"),
        (((F.col("id") * 7919) % 1009) / F.lit(7.0)).alias("x"),
    )
    qs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]

    def run():
        state, exemplars = mg_sketch_with_tokens(df, "key", 64, "token", pre_aggregate=False)
        _, bloom = bloom_build(df, "key", capacity=10_000)
        return (
            state.n, state.d, state.keys.tolist(), state.counters.tolist(), exemplars,
            tdigest_quantiles(df, "x", qs, compression=5_000).tolist(), bloom.tobytes(),
        )

    default = run()
    with _session_max_bytes(spark, "1k"):
        assert all(batches > 1 for batches, _ in sketch_agg(df, "x", _batch_counter()))
        small = run()
    assert small == default
    assert default[0] == 4_000 and len(default[4]) == 50
