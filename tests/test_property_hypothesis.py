"""Property-based tests (hypothesis): merge laws and bound invariants
over adversarially-generated inputs — stronger evidence than the fixed
random seeds in test_kernel.py."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mgspark import dp
from mgspark.kernel import MGState, mg_build_weighted, mg_merge, mg_reference
from mgspark.sketches.bloom import BloomFilter

streams = st.lists(st.integers(min_value=-3, max_value=30), max_size=200)
small_k = st.integers(min_value=1, max_value=8)


@settings(max_examples=150, deadline=None)
@given(stream=streams, k=small_k)
def test_sequential_kernel_bound_and_shape(stream, k):
    sketch, n, d = mg_reference(stream, k)
    valid = [x for x in stream if x >= 0]
    assert n == len(valid)
    cap = n // (k + 1)
    assert d <= cap
    assert len(sketch) <= k
    assert list(sketch) == sorted(sketch)
    true = {}
    for x in valid:
        true[x] = true.get(x, 0) + 1
    for key, est in sketch.items():
        assert true.get(key, 0) - cap <= est <= true.get(key, 0)
    for key, cnt in true.items():
        if cnt > cap:
            assert key in sketch


@settings(max_examples=100, deadline=None)
@given(
    parts=st.lists(
        st.lists(st.integers(min_value=0, max_value=25), max_size=120),
        min_size=1,
        max_size=5,
    ),
    k=small_k,
)
def test_distributed_build_merge_bound_any_partitioning(parts, k):
    """Any partitioning of a stream into batches + any pairwise merge
    order keeps the MG bound over the combined stream."""
    states = [
        mg_build_weighted(MGState(k=k), np.asarray(p, dtype=np.int64)) for p in parts
    ]
    acc = states[0]
    for s in states[1:]:
        acc = mg_merge(acc, s)
    full = [x for p in parts for x in p]
    assert acc.n == len(full)
    cap = acc.n // (k + 1)
    assert acc.d <= cap
    true = {}
    for x in full:
        true[x] = true.get(x, 0) + 1
    for key, est in acc.to_dict().items():
        assert true.get(key, 0) - cap <= est <= true.get(key, 0)
    for key, cnt in true.items():
        if cnt > cap:
            assert int(key) in set(int(x) for x in acc.keys)


def _sides(spark, a, b):
    """One frame of ``a`` (side 0) and ``b`` (side 1), shipped through
    Arrow so that its scans run no Python worker."""
    import pandas as pd

    sides = pd.DataFrame({"side": [0] * len(a) + [1] * len(b), "v": a + b}, dtype="int64")
    return spark.createDataFrame(sides, "side bigint, v bigint")


@settings(max_examples=60, deadline=None)
@given(
    a=st.lists(st.integers(min_value=0, max_value=10**6), max_size=300),
    b=st.lists(st.integers(min_value=0, max_value=10**6), max_size=300),
)
def test_hll_merge_commutes_and_bounds(spark, a, b):
    """The JVM HLL: the sketch of a union is the union of the two
    sketches, in either order, and idempotent; estimates stay in bound."""
    from pyspark.sql import functions as F

    from mgspark.sketches import _hll_sketch

    df = _sides(spark, a, b)
    sa, sb = (F.hll_sketch_agg(F.when(F.col("side") == side, F.col("v")), 10) for side in (0, 1))
    row = df.agg(
        F.hll_sketch_estimate(F.hll_union(sa, sb)).alias("ab"),
        F.hll_sketch_estimate(F.hll_union(sb, sa)).alias("ba"),
        F.hll_sketch_estimate(F.hll_union(F.hll_union(sa, sb), F.hll_union(sa, sb))).alias("twice"),
        F.hll_sketch_estimate(_hll_sketch(df, "v", 10)).alias("whole"),  # hll_distinct's
    ).first()
    assert row["ab"] == row["ba"] == row["twice"] == row["whole"]
    true = len(set(a) | set(b))
    if true:
        # p=10 -> ~3.3% sigma relative; the absolute floor covers tiny
        # cardinalities, where two values hashing into one register is a
        # legitimate 50%-relative-error outcome (found by hypothesis).
        assert abs(row["ab"] - true) <= max(0.25 * true, 2.0)


@settings(max_examples=60, deadline=None)
@given(
    a=st.lists(st.integers(min_value=0, max_value=1000), max_size=300),
    b=st.lists(st.integers(min_value=0, max_value=1000), max_size=300),
)
def test_cms_never_underestimates_after_merge(spark, a, b):
    """The JVM Count-Min sketches of two sides, merged on the driver,
    never undercount a key of either side."""
    from pyspark.sql import functions as F

    from mgspark.sketches import _CMS_SEED

    df = _sides(spark, a, b)
    blobs = df.agg(
        *[
            F.count_min_sketch(
                F.when(F.col("side") == side, F.col("v")), F.lit(1e-2), F.lit(0.99), F.lit(_CMS_SEED)
            )
            for side in (0, 1)
        ]
    ).first()
    reader = spark._jvm.org.apache.spark.util.sketch.CountMinSketch
    merged = reader.readFrom(blobs[0])
    merged.mergeInPlace(reader.readFrom(blobs[1]))
    full = a + b
    if full:
        uniq, counts = np.unique(np.asarray(full, dtype=np.int64), return_counts=True)
        est = np.array([merged.estimateCount(int(key)) for key in uniq])
        assert (est >= counts).all()


@settings(max_examples=60, deadline=None)
@given(members=st.lists(st.integers(min_value=0, max_value=10**9), max_size=200))
def test_bloom_never_false_negative(members):
    import pandas as pd

    sk = BloomFilter(capacity=1000, fpr=0.01)
    state = sk.build(sk.zero(), pd.Series(members, dtype="int64"))
    if members:
        assert sk.contains(state, np.asarray(members, dtype=np.int64)).all()


@settings(max_examples=30, deadline=None)
@given(
    eps=st.floats(min_value=0.05, max_value=8.0),
    delta=st.floats(min_value=1e-9, max_value=1e-2),
)
def test_find_threshold_monotone_properties(eps, delta):
    t = dp.find_threshold(eps, delta)
    assert t > 1
    # more privacy budget (higher eps) can only lower the threshold
    assert dp.find_threshold(eps * 2, delta) <= t
    # looser delta can only lower the threshold
    assert dp.find_threshold(eps, min(delta * 10, 0.05)) <= t


@given(
    st.integers(min_value=16, max_value=512).filter(lambda n: n & (n - 1) == 0),
    st.floats(min_value=0.05, max_value=0.99),
)
def test_pick_num_bands_crossover_below_threshold(num_hashes, threshold):
    """The chosen split's S-curve crossover (computed with the effective
    rows-per-band = num_hashes // bands, as the banding code uses) must
    sit at or below the threshold minus the recall margin whenever such a
    split exists — at-threshold pairs then collide with high probability."""
    from mgspark.pipeline.dedup import pick_num_bands

    margin = 0.1
    bands = pick_num_bands(num_hashes, threshold, margin=margin)
    assert 2 <= bands <= num_hashes
    r = num_hashes // bands
    crossover = (1.0 / bands) ** (1.0 / r)
    if bands < num_hashes:
        assert crossover <= threshold - margin + 1e-12
    else:
        # r=1 fallback: the loosest split there is — only allowed when no
        # coarser split meets the target.
        assert (1.0 / (num_hashes // 2)) ** (1.0 / 2) > threshold - margin or (
            crossover <= threshold - margin + 1e-12
        )


@given(st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=200))
def test_exemplar_invariant_every_state_key_decodable(keys):
    """After folding any batch, every surviving state key has an exemplar
    (the single-scan decode invariant)."""
    import numpy as np

    from mgspark.kernel import MGState, mg_build_weighted
    from mgspark.sketches.mg import _update_exemplars

    arr = np.asarray(keys, dtype=np.int64)
    state = mg_build_weighted(MGState(k=8), arr)
    tokens = [f"t{key}" for key in keys]
    exemplars = _update_exemplars({}, state.keys, arr, tokens)
    assert set(map(int, state.keys)) <= set(exemplars)
    for key, token in exemplars.items():
        assert token == f"t{key}"


# ---------------------------------------------------------------------------
# Temporal operators vs brute force (Spark-backed: few, adversarial examples)
# ---------------------------------------------------------------------------

_keys = st.integers(min_value=0, max_value=3)
_ts = st.integers(min_value=0, max_value=30)


@settings(max_examples=10, deadline=None)
@given(
    left=st.lists(st.tuples(_keys, _ts), min_size=1, max_size=10),
    # unique (key, ts) on the right so the at-timestamp winner is unique
    right=st.dictionaries(st.tuples(_keys, _ts), st.integers(0, 99), max_size=10),
)
def test_asof_join_matches_bruteforce(spark, left, right):
    """The union+window as-of plan must equal the quadratic definition:
    per left row, the value of the max-ts right row with ts <= left.ts
    and the same key — under duplicate lefts, ties, and empty sides."""
    from pyspark.sql import functions as F

    from mgspark.pipeline.temporal import asof_join

    spark = spark
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "rid long, k long, sec long"
    ).select("rid", "k", F.timestamp_seconds(F.col("sec")).alias("ts"))
    rrows = [(k, t, v) for (k, t), v in right.items()] or [(99, 0, 0)]
    rdf = spark.createDataFrame(rrows, "k long, rsec long, val long").select(
        "k", F.timestamp_seconds(F.col("rsec")).alias("rts"), "val"
    )
    got = {
        r["rid"]: r["val_asof"]
        for r in asof_join(ldf, rdf, "k", "ts", "rts", ["val"]).collect()
    }
    assert set(got) == set(range(len(left)))
    for i, (k, t) in enumerate(left):
        cands = [(rt, v) for (rk, rt), v in right.items() if rk == k and rt <= t]
        expected = max(cands)[1] if cands else None
        assert got[i] == expected, (i, k, t, cands, got[i])


@settings(max_examples=10, deadline=None)
@given(rows=st.lists(st.tuples(_keys, _ts), min_size=1, max_size=12))
def test_rolling_features_match_bruteforce(spark, rows):
    """RANGE-frame rolling counts equal the quadratic definition
    (inclusive edges, equal-ts rows share the frame)."""
    from pyspark.sql import functions as F

    from mgspark.pipeline.temporal import rolling_features

    spark = spark
    window = 5.0
    df = spark.createDataFrame(
        [(i, k, t, 1.0) for i, (k, t) in enumerate(rows)],
        "rid long, k long, sec long, v double",
    ).select("rid", "k", F.timestamp_seconds(F.col("sec")).alias("ts"), "v")
    got = {
        r["rid"]: r["roll_n"]
        for r in rolling_features(df, "k", "ts", "v", window).collect()
    }
    for i, (k, t) in enumerate(rows):
        expected = sum(1 for (k2, t2) in rows if k2 == k and t - window <= t2 <= t)
        assert got[i] == expected, (i, k, t, expected, got[i])
