"""Kernel-level tests for the sketch families: error bounds, merge
associativity/commutativity, serialization round-trips.

The Python families (Bloom, t-digest, MG) are tested on their numpy
kernels, without Spark.  HLL, Count-Min and KLL are Spark's own
aggregates, so their tests drive those aggregates on small local frames
and merge their sketches the way the JVM does."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mgspark.sketches import cms_estimates, hll_distinct, kll_quantiles
from mgspark.sketches.bloom import BloomFilter
from mgspark.sketches.tdigest import TDigest


def _series(arr):
    return pd.Series(arr)


def _split_build(sketch, data, n_parts=7):
    """Build over shards then tree-merge — simulates the distributed path."""
    parts = np.array_split(data, n_parts)
    states = []
    for part in parts:
        st = sketch.zero()
        # two batches per shard to exercise incremental build
        for batch in np.array_split(part, 2):
            st = sketch.build(st, _series(batch))
        states.append(sketch.deserialize(sketch.serialize(st)))
    acc = sketch.zero()
    for st in states:
        acc = sketch.merge(acc, st)
    return acc, states


@pytest.mark.parametrize("n_distinct", [100, 5_000, 200_000])
def test_hll_accuracy_and_merge(spark, n_distinct):
    """Each key three times, over 7 parts: the estimate is within 5 %,
    and the union of the 7 part sketches is the sketch of the whole —
    in either order, and idempotent."""
    df = spark.range(0, 3 * n_distinct, numPartitions=4).select(
        ((F.col("id") % n_distinct) * 7919).alias("key"), (F.col("id") % 7).alias("part")
    )
    est = hll_distinct(df, "key", p=14)
    assert abs(est - n_distinct) / n_distinct < 0.05, f"HLL rel err {est}"
    parts = df.groupBy("part").agg(F.hll_sketch_agg("key", 14).alias("s"))
    union = parts.agg(F.hll_sketch_estimate(F.hll_union_agg("s")).alias("u")).first()["u"]
    assert union == est
    first, second = (
        parts.where(F.col("part") < 3).agg(F.hll_union_agg("s").alias("s")),
        parts.where(F.col("part") >= 3).agg(F.hll_union_agg("s").alias("s")),
    )
    pair = first.crossJoin(second.withColumnRenamed("s", "t"))
    row = pair.select(
        F.hll_sketch_estimate(F.hll_union("s", "t")).alias("st"),
        F.hll_sketch_estimate(F.hll_union("t", "s")).alias("ts"),
        F.hll_sketch_estimate(F.hll_union(F.hll_union("s", "t"), F.hll_union("s", "t"))).alias("twice"),
    ).first()
    assert row["st"] == row["ts"] == row["twice"] == est


def _cms_sketch(frame, col, eps, delta):
    """The Count-Min sketch ``cms_estimates`` builds, as a JVM object."""
    from mgspark.sketches import _CMS_SEED

    blob = frame.agg(
        F.count_min_sketch(col, F.lit(eps), F.lit(1.0 - delta), F.lit(_CMS_SEED))
    ).first()[0]
    return frame.sparkSession._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(blob)


def test_cms_bounds(spark):
    rng = np.random.default_rng(7)
    data = (rng.zipf(1.3, size=100_000) % 1000).astype(np.int64)
    df = spark.createDataFrame(pd.DataFrame({"k": data})).repartition(7)
    uniq, counts = np.unique(data, return_counts=True)
    ests = cms_estimates(df, "k", uniq.tolist(), eps=1e-3, delta=1e-3)
    est = np.array([ests[key] for key in uniq.tolist()])
    assert (est >= counts).all(), "CMS must never underestimate"
    overshoot = (est - counts).max()
    assert overshoot <= 1e-3 * len(data) * 10, f"overshoot {overshoot}"


def test_cms_merge_commutative(spark):
    rng = np.random.default_rng(1)
    a, b = (
        spark.createDataFrame(pd.DataFrame({"k": rng.integers(0, 100, 1000)}, dtype="int64"))
        for _ in range(2)
    )
    ab = _cms_sketch(a, "k", 1e-3, 1e-2)
    ab.mergeInPlace(_cms_sketch(b, "k", 1e-3, 1e-2))
    ba = _cms_sketch(b, "k", 1e-3, 1e-2)
    ba.mergeInPlace(_cms_sketch(a, "k", 1e-3, 1e-2))
    assert bytes(ab.toByteArray()) == bytes(ba.toByteArray())
    assert bytes(ab.toByteArray()) == bytes(_cms_sketch(a.union(b), "k", 1e-3, 1e-2).toByteArray())


def test_bloom_no_false_negatives_and_fpr():
    rng = np.random.default_rng(3)
    members = rng.choice(10_000_000, size=50_000, replace=False).astype(np.int64)
    sketch = BloomFilter(capacity=100_000, fpr=0.01)
    merged, _ = _split_build(sketch, members)
    assert sketch.contains(merged, members).all(), "false negative!"
    non_members = (members.max() + 1 + np.arange(50_000)).astype(np.int64)
    fpr = sketch.contains(merged, non_members).mean()
    assert fpr < 0.03, f"observed FPR {fpr:.4f}"


def test_bloom_merge_is_union():
    sketch = BloomFilter(capacity=1000, fpr=0.01)
    a = sketch.build(sketch.zero(), _series(np.arange(100, dtype=np.int64)))
    b = sketch.build(sketch.zero(), _series(np.arange(100, 200, dtype=np.int64)))
    merged = sketch.merge(a, b)
    assert sketch.contains(merged, np.arange(200, dtype=np.int64)).all()
    assert np.array_equal(merged, sketch.merge(b, a))


@pytest.mark.parametrize("dist", ["uniform", "normal", "lognormal"])
def test_tdigest_quantile_accuracy(dist):
    rng = np.random.default_rng(11)
    if dist == "uniform":
        data = rng.random(200_000)
    elif dist == "normal":
        data = rng.normal(size=200_000)
    else:
        data = rng.lognormal(sigma=2, size=200_000)
    sketch = TDigest(compression=200)
    merged, _ = _split_build(sketch, data)
    assert len(merged[0]) <= 2 * sketch.compression
    qs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    est = sketch.quantiles(merged, qs)
    exact = np.quantile(data, qs)
    for q, e, x in zip(qs, est, exact):
        # rank error: where does the estimate fall in the true CDF?
        rank = (data <= e).mean()
        assert abs(rank - q) < 0.02, f"q={q}: rank err {abs(rank-q):.4f}"
    assert int(merged[1].sum()) == len(data)


def test_kll_rank_accuracy_and_merge(spark):
    """kll_quantiles within 0.03 rank error; the merge of 7 part
    sketches keeps every item's weight and the same rank bound."""
    rng = np.random.default_rng(5)
    data = rng.normal(size=150_000)
    df = spark.createDataFrame(pd.DataFrame({"x": data, "part": np.arange(len(data)) % 7}))
    qs = [0.05, 0.25, 0.5, 0.75, 0.95]
    parts = df.groupBy("part").agg(F.kll_sketch_agg_double("x", 200).alias("s"))
    merged = parts.agg(F.kll_merge_agg_double("s").alias("s")).select(
        F.kll_sketch_get_n_double("s").alias("n"),
        F.kll_sketch_get_quantile_double("s", F.array(*[F.lit(q) for q in qs])).alias("v"),
    ).first()
    assert merged["n"] == len(data)
    for est in (kll_quantiles(df, "x", qs), merged["v"]):
        for q, e in zip(qs, est):
            rank = (data <= e).mean()
            assert abs(rank - q) < 0.03, f"q={q}: rank err {abs(rank-q):.4f}"


def test_mg_sketch_serialize_roundtrip():
    """MGSketch payloads round-trip n, d, keys, counters and exemplar
    tokens: empty and tokenless states carry no token section, keys
    without an exemplar come back without one, and non-ASCII tokens
    survive."""
    from mgspark.kernel import MGState
    from mgspark.sketches.mg import MGSketch

    sketch = MGSketch(k=4)
    states = [
        sketch.zero(),
        (MGState.from_dict({3: 7, 11: 2}, 4, n=12, d=3), {}),
        (MGState.from_dict({3: 7, 11: 2, 40: 1}, 4, n=10, d=0), {3: "naïve", 40: "日本語"}),
        (MGState.from_dict({2**61: 5}, 4, n=5, d=0), {2**61: ""}),
    ]
    for state, exemplars in states:
        blob = sketch.serialize((state, exemplars))
        got, got_exemplars = sketch.deserialize(blob)
        assert got.keys.dtype == np.int64 and got.counters.dtype == np.int64
        assert got.keys.tolist() == state.keys.tolist()
        assert got.counters.tolist() == state.counters.tolist()
        assert (got.k, got.n, got.d) == (4, state.n, state.d)
        assert got_exemplars == exemplars
        assert sketch.serialize((got, got_exemplars)) == blob
    # no exemplars -> header + keys + counters only
    assert len(sketch.serialize(states[1])) == 8 * (3 + 2 * 2)
    assert len(sketch.serialize(states[0])) == 8 * 3


def test_mg_sketch_merge_keeps_accumulator_exemplar():
    """On a shared key the accumulator's token wins; tokens of evicted
    keys are pruned."""
    from mgspark.kernel import MGState
    from mgspark.sketches.mg import MGSketch

    sketch = MGSketch(k=2)
    a = (MGState.from_dict({1: 5, 2: 4}, 2, n=9), {1: "a1", 2: "a2"})
    b = (MGState.from_dict({1: 1, 3: 1}, 2, n=2), {1: "b1", 3: "b3"})
    state, exemplars = sketch.merge(a, b)
    assert state.to_dict() == {1: 5, 2: 3}  # offset 1 evicts key 3
    assert exemplars == {1: "a1", 2: "a2"}
