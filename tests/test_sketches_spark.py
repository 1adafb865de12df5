"""Distributed sketch aggregations vs exact Spark/DuckDB answers on the
sf0.001 testdata."""

import os

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
    from mgspark.sketches import HLLSketch
    from mgspark.sketches.base import sketch_agg

    import numpy as np
    import os

    sk = HLLSketch(p=12)
    encoded = encode_tokens(tables["events"], "user_id", "_key")
    ckpt = str(tmp_path / "hll_ckpt")
    s1 = sketch_agg(encoded, "_key", sk, checkpoint_dir=ckpt)
    assert os.path.exists(os.path.join(ckpt, "_SUCCESS"))
    # resume: empty input + existing checkpoint reproduces the state
    s2 = sketch_agg(encoded.limit(0), "_key", sk, checkpoint_dir=ckpt)
    assert np.array_equal(s1, s2)


def test_sketch_agg_checkpoint_refuses_other_parameters(spark, tmp_path):
    """A checkpoint built for HLL p=12 must not silently answer a p=14
    (or other-column) query: its manifest makes the resume raise."""
    from mgspark.sketches import HLLSketch
    from mgspark.sketches.base import sketch_agg

    df = spark.range(0, 2_000, numPartitions=2)
    ckpt = str(tmp_path / "hll_p12")
    sketch_agg(df, "id", HLLSketch(p=12), checkpoint_dir=ckpt)
    with pytest.raises(ValueError, match="params"):
        sketch_agg(df, "id", HLLSketch(p=14), checkpoint_dir=ckpt)
    with pytest.raises(ValueError, match="key_col"):
        sketch_agg(df.withColumnRenamed("id", "v"), "v", HLLSketch(p=12), checkpoint_dir=ckpt)


def _families():
    from mgspark.sketches import BloomFilter, CountMinSketch, HLLSketch, KLLSketch, TDigest

    return {
        "hll": (HLLSketch(p=10), "id"),
        "cms": (CountMinSketch(eps=1e-2, delta=1e-2), "id"),
        "bloom": (BloomFilter(capacity=10_000), "id"),
        "tdigest": (TDigest(compression=50), "x"),
        "kll": (KLLSketch(k=32), "x"),
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
@pytest.mark.parametrize("family", ["hll", "cms", "bloom", "tdigest", "kll"])
def test_sketch_agg_driver_fold_matches_sequential_fold(spark, family, fanout):
    """sketch_agg's state is bit-identical to folding the collected
    stage-1 partials in partition-id order (at fanout=2 over 6
    partitions, after the same two bucketed rounds the distributed
    merge runs) — including the order-sensitive t-digest and KLL."""
    from mgspark.sketches.base import sketch_agg, sketch_partials

    sketch, col = _families()[family]
    df = spark.range(0, 6_000, numPartitions=6).withColumn(
        "x", ((F.col("id") * 7919) % 1009) / F.lit(7.0)
    )
    rows = sketch_partials(df, col, sketch).collect()
    assert len(rows) == 6
    expected = _reference_merge(sketch, rows, fanout, 6)
    state = sketch_agg(df, col, sketch, fanout=fanout)
    assert sketch.serialize(state) == sketch.serialize(expected)


def test_sketch_agg_within_fanout_runs_one_job(spark):
    """<= fanout input partitions: the build's collect is the only Spark
    job — no merge-round shuffle, no second Python-worker wave."""
    from mgspark.sketches import HLLSketch
    from mgspark.sketches.base import sketch_agg

    sc = spark.sparkContext
    group = "test-sketch-agg-one-job"
    sc.setJobGroup(group, "sketch_agg within fanout")
    try:
        sketch_agg(spark.range(0, 4_000, numPartitions=4), "id", HLLSketch(p=10))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_hll_distinct_grouped_accuracy_and_nulls(spark):
    """Per-group HLL estimates within the published error bound (~1.04/
    sqrt(2^p), p=14 -> ~0.8%); a null group forms its own group like
    SQL GROUP BY; groups never bleed into each other."""
    from pyspark.sql import functions as F

    from mgspark.sketches.hll import hll_distinct_grouped

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
    results = {}
    for mode in ("mapside", "shuffle"):
        est = {
            r["grp"]: r["n_distinct_est"]
            for r in hll_distinct_grouped(df, "grp", "v", p=14, mode=mode).collect()
        }
        assert set(est) == set(exact) == {"a", "b", None}, mode
        for g, true in exact.items():
            assert abs(est[g] - true) / true < 0.05, (mode, g, est[g], true)
        results[mode] = est
    # HLL register merges are split-invariant: both plans must agree
    # exactly, and so must the auto plan.
    assert results["mapside"] == results["shuffle"]
    auto = {
        r["grp"]: r["n_distinct_est"]
        for r in hll_distinct_grouped(df, "grp", "v", p=14).collect()
    }
    assert auto == results["mapside"]


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
    """Numeric group columns with nulls survive both grouped plans
    (pandas NaN keys must round-trip to SQL null longs)."""
    from pyspark.sql import functions as F

    from mgspark.sketches.hll import hll_distinct_grouped

    df = spark.range(0, 30_000).select(
        F.when(F.col("id") % 3 == 2, None).otherwise(F.col("id") % 3).alias("g"),
        (F.col("id") % 1000).alias("v"),
    )
    for mode in ("mapside", "shuffle"):
        est = {
            r["g"]: r["n_distinct_est"]
            for r in hll_distinct_grouped(df, "g", "v", mode=mode).collect()
        }
        assert set(est) == {None, 0, 1}, mode
        assert all(abs(v - 1000) / 1000 < 0.05 for v in est.values()), (mode, est)
