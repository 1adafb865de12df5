"""Distributed logistic regression (pipeline/classifier.py) vs a
sequential numpy gradient-descent reference, scoring semantics, and the
no-Python plan pin."""

import numpy as np

from mgspark.pipeline.classifier import logreg_score, logreg_train


def _numpy_gd(X, y, iterations, lr):
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n, d = X.shape
    w, b = np.zeros(d), 0.0
    for _ in range(iterations):
        p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
        r = p - y
        w = w - lr * (X.T @ r) / n
        b = b - lr * r.sum() / n
    return w, b


def _mk_df(spark, X, y):
    rows = [
        (i, [float(v) for v in x], int(lbl)) for i, (x, lbl) in enumerate(zip(X, y))
    ]
    return spark.createDataFrame(rows, "doc_id long, features array<double>, label long")


def test_train_matches_numpy_reference(spark):
    rng = np.random.default_rng(2)
    X = rng.integers(-4, 5, size=(60, 3)).astype(float)
    y = (X.sum(axis=1) > 0).astype(int)
    df = _mk_df(spark, X, y)
    w, b = logreg_train(df, "features", "label", iterations=8, lr=0.3)
    rw, rb = _numpy_gd(X, y, 8, 0.3)
    assert np.allclose(w, rw) and abs(b - rb) < 1e-9


def test_trained_classifier_separates_wide_margin_data(spark):
    rng = np.random.default_rng(4)
    X0 = -5 + rng.integers(-2, 3, size=(40, 4))
    X1 = 5 + rng.integers(-2, 3, size=(40, 4))
    X = np.vstack([X0, X1]).astype(float)
    y = np.array([0] * 40 + [1] * 40)
    df = _mk_df(spark, X, y)
    w, b = logreg_train(df, "features", "label", iterations=20, lr=0.5)
    got = {r["id"]: r["keep"] for r in logreg_score(df, "features", "doc_id", w, b).collect()}
    assert got == {i: int(v) for i, v in enumerate(y)}


def test_score_threshold_is_margin_rule(spark):
    # threshold 0.5 <=> margin >= 0, exact (no exp evaluated)
    df = _mk_df(spark, [[1.0], [-1.0], [0.0]], [1, 0, 1])
    got = {r["id"]: r["keep"] for r in logreg_score(df, "features", "doc_id", np.array([2.0]), 0.0).collect()}
    assert got == {0: 1, 1: 0, 2: 1}  # margin 0 keeps (>=)


def test_empty_corpus(spark):
    df = spark.createDataFrame([], "doc_id long, features array<double>, label long")
    w, b = logreg_train(df, "features", "label")
    assert w.size == 0 and b == 0.0


def test_score_plan_has_no_python_node(spark):
    df = _mk_df(spark, [[1.0, 2.0]], [1])
    plan = (
        logreg_score(df, "features", "doc_id", np.array([1.0, -1.0]), 0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_local_path_falls_back_on_null_label_or_element(spark):
    """A null label or null feature element would turn the local GD's
    weights into NaN; the local path falls back to the distributed one,
    which skips nulls."""
    rng = np.random.default_rng(6)
    X = rng.integers(-4, 5, size=(30, 3)).astype(float)
    y = (X.sum(axis=1) > 0).astype(int)
    rows = [(i, [float(v) for v in x], int(lbl)) for i, (x, lbl) in enumerate(zip(X, y))]
    rows[3] = (3, [1.0, None, -2.0], 1)
    rows[7] = (7, rows[7][1], None)
    df = spark.createDataFrame(rows, "doc_id long, features array<double>, label long")
    w, b = logreg_train(df, "features", "label", iterations=6, lr=0.3)
    assert np.isfinite(w).all() and np.isfinite(b)
    rw, rb = logreg_train(df, "features", "label", iterations=6, lr=0.3, local_elements=0)
    assert np.allclose(w, rw) and abs(b - rb) < 1e-9
