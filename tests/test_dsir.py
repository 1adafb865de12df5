"""DSIR importance resampling: hand-built truths for the hashed-gram
features, the log-weight math, and the deterministic Gumbel top-k."""

import hashlib
import math

import pytest

from mgspark.pipeline.dsir import (
    dsir_bucket_model,
    dsir_log_weights,
    dsir_resample,
    hashed_gram_buckets,
)

B = 97  # prime bucket count so collisions are exercised but sparse


def _bucket(gram: str) -> int:
    return int(hashlib.sha256(gram.encode()).hexdigest()[:8], 16) % B


def _grams(text: str, ns=(1, 2)):
    toks = [t for t in (text or "").split() if t]
    out = []
    for n in ns:
        out.extend(
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        )
    return out


def _feature_truth(docs, ns=(1, 2)):
    """{id: {bucket: cnt}} recomputed in pure python."""
    truth = {}
    for doc_id, text in docs:
        counts = {}
        for g in _grams(text, ns):
            b = _bucket(g)
            counts[b] = counts.get(b, 0) + 1
        truth[doc_id] = counts
    return truth


RAW = [
    (0, "the cat sat on the mat"),
    (1, "the dog ate my homework yesterday"),
    (2, "quantum flux capacitor overload"),
    (3, ""),
    (4, None),
    (5, "the cat sat on the mat"),  # duplicate of 0
]
TARGET = [
    (100, "the cat sat quietly"),
    (101, "a cat on a mat"),
]


@pytest.fixture(scope="module")
def raw_df(spark):
    return spark.createDataFrame(RAW, "doc_id long, text string")


@pytest.fixture(scope="module")
def target_df(spark):
    return spark.createDataFrame(TARGET, "doc_id long, text string")


def test_hashed_gram_buckets_match_python_truth(spark, raw_df):
    got = {
        (r["id"], r["bucket"]): r["cnt"]
        for r in hashed_gram_buckets(raw_df, "text", "doc_id", B).collect()
    }
    want = {}
    for doc_id, counts in _feature_truth(RAW).items():
        for b, c in counts.items():
            want[(doc_id, b)] = c
    assert got == want


def test_bucket_model_is_column_sum_of_features(spark, raw_df):
    model = {
        r["bucket"]: r["cnt"] for r in dsir_bucket_model(raw_df, "text", B).collect()
    }
    want = {}
    for counts in _feature_truth(RAW).values():
        for b, c in counts.items():
            want[b] = want.get(b, 0) + c
    assert model == want
    assert len(model) <= B


def test_log_weights_match_python_truth(spark, raw_df, target_df):
    smoothing = 0.5
    rows = {
        r["id"]: r
        for r in dsir_log_weights(
            raw_df, target_df, n_buckets=B, smoothing=smoothing
        ).collect()
    }
    raw_truth = _feature_truth(RAW)
    target_truth = _feature_truth(TARGET)
    raw_model, target_model = {}, {}
    for counts in raw_truth.values():
        for b, c in counts.items():
            raw_model[b] = raw_model.get(b, 0) + c
    for counts in target_truth.values():
        for b, c in counts.items():
            target_model[b] = target_model.get(b, 0) + c
    t_log_z = math.log(sum(target_model.values()) + smoothing * B)
    r_log_z = math.log(sum(raw_model.values()) + smoothing * B)
    assert set(rows) == {doc_id for doc_id, _ in RAW}
    for doc_id, counts in raw_truth.items():
        row = rows[doc_id]
        assert row["n_grams"] == sum(counts.values())
        assert row["target_count_sum"] == sum(
            c * target_model.get(b, 0) for b, c in counts.items()
        )
        assert row["raw_count_sum"] == sum(
            c * raw_model.get(b, 0) for b, c in counts.items()
        )
        want_lw = sum(
            c
            * (
                math.log(target_model.get(b, 0) + smoothing)
                - t_log_z
                - math.log(raw_model.get(b, 0) + smoothing)
                + r_log_z
            )
            for b, c in counts.items()
        )
        assert row["log_weight"] == pytest.approx(want_lw, rel=1e-9)
    # gram-less docs: empty-product importance, never NULL
    for empty_id in (3, 4):
        assert rows[empty_id]["n_grams"] == 0
        assert rows[empty_id]["log_weight"] == 0.0


def test_target_like_doc_outweighs_disjoint_doc(spark):
    # Equal raw representation (each doc once, same shape), so the only
    # differentiator is target affinity: the doc matching the target
    # must carry the higher importance weight.  (In the RAW fixture
    # above doc 0 is deliberately duplicated, which correctly DEPRESSES
    # its weight — importance is p_target/p_raw, not target affinity
    # alone — so that fixture can't be used for this monotonicity.)
    raw = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(100, "alpha beta gamma")], "doc_id long, text string"
    )
    rows = {
        r["id"]: r["log_weight"]
        for r in dsir_log_weights(raw, target, n_buckets=B).collect()
    }
    assert rows[0] > rows[1]


def test_resample_deterministic_across_partitioning(spark, raw_df, target_df):
    weights = dsir_log_weights(raw_df, target_df, n_buckets=B)
    a = {r["id"] for r in dsir_resample(weights, 3, seed=7).collect()}
    b = {
        r["id"]
        for r in dsir_resample(weights.repartition(13), 3, seed=7).collect()
    }
    assert a == b
    assert len(a) == 3


def test_resample_seed_changes_selection_and_n_caps(spark, raw_df, target_df):
    weights = dsir_log_weights(raw_df, target_df, n_buckets=B)
    everything = dsir_resample(weights, 100, seed=0).collect()
    assert len(everything) == len(RAW)  # n past corpus size: all rows
    sets = {
        frozenset(r["id"] for r in dsir_resample(weights, 3, seed=s).collect())
        for s in range(8)
    }
    assert len(sets) > 1  # different seeds explore different subsets


def test_resample_prefers_heavy_weights(spark):
    # one doc with overwhelming weight must always be selected
    rows = [(i, float(-100.0 if i else 100.0)) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, log_weight double")
    for s in range(5):
        chosen = {r["id"] for r in dsir_resample(df, 1, seed=s).collect()}
        assert chosen == {0}


def test_validation_errors(spark, raw_df, target_df):
    with pytest.raises(ValueError, match="smoothing"):
        dsir_log_weights(raw_df, target_df, n_buckets=B, smoothing=0.0)
    with pytest.raises(ValueError, match="n_buckets"):
        hashed_gram_buckets(raw_df, "text", "doc_id", 0)
    with pytest.raises(ValueError, match="ns"):
        hashed_gram_buckets(raw_df, "text", "doc_id", B, ns=())
    weights = spark.createDataFrame([(1, 0.0)], "id long, log_weight double")
    with pytest.raises(ValueError, match="n must be"):
        dsir_resample(weights, -1)


def test_empty_target_corpus_yields_finite_weights(spark, raw_df):
    empty = spark.createDataFrame([], "doc_id long, text string")
    rows = dsir_log_weights(raw_df, empty, n_buckets=B).collect()
    assert len(rows) == len(RAW)
    for r in rows:
        assert r["target_count_sum"] == 0
        assert math.isfinite(r["log_weight"])


def test_entry_rerun_check_runs_selections_as_separate_jobs(spark, sf_dir, monkeypatch):
    """The rerun-identity invariant of q_dsir_resample_check is only
    meaningful if the two selections execute independently (fused in one
    plan, exchange reuse would run the identical subtrees once): each is
    its own action holding one Gumbel top-k, with its own Spark jobs."""
    import contextlib
    import io

    import __spark_entry__ as entry

    tracker = spark.sparkContext.statusTracker()
    frame_type = type(spark.range(1))
    real_collect = frame_type.collect
    actions = []

    def spy(self):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.explain("formatted")
        before = set(tracker.getJobIdsForGroup())
        rows = real_collect(self)
        jobs = set(tracker.getJobIdsForGroup()) - before
        actions.append((buf.getvalue().split("\n\n")[0], jobs))
        return rows

    monkeypatch.setattr(frame_type, "collect", spy)
    result = entry.q_dsir_resample_check(spark, sf_dir)
    monkeypatch.undo()
    assert len(actions) == 2
    for tree, jobs in actions:
        assert tree.count("TakeOrderedAndProject (") == 1, tree
        assert jobs
    assert not actions[0][1] & actions[1][1]
    row = result.first()
    assert (row["n_selected"], row["n_outside"], row["n_rerun_mismatch"]) == (200, 0, 0)
