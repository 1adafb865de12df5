"""Kernel tests: golden vectors (evaluate.py:71-99, 189-203), bound
invariants, merge associativity, and randomized parity vs the reference
implementation executed as an oracle."""

import random

import numpy as np
import pytest

from mgspark.kernel import (
    MGState,
    kth_largest,
    mg_build_weighted,
    mg_merge,
    mg_merge_dicts,
    mg_reference,
)

# Golden sketch vectors from evaluate.py:71-88 (FIXTURES.md F2).
GOLDEN_BUILD = [
    ([], 0, {}, 0, 0),
    ([], 1, {}, 0, 0),
    ([1], 1, {1: 1}, 1, 0),
    ([1, 2], 1, {1: 0}, 2, 1),
    ([1, 2, 3], 1, {3: 1}, 3, 1),
    ([4, 3, 3, 2, 1, 2, 3, 4, 4, 4], 4, {1: 1, 2: 2, 3: 3, 4: 4}, 10, 0),
    ([4, 3, 3, 2, 1, 2, -1, 3, 4, 4, 4, 5], 3, {2: 0, 3: 1, 4: 2}, 11, 2),
]

# Golden merge vectors from evaluate.py:189-203 (FIXTURES.md F3), k=3.
GOLDEN_MERGE = [
    ([{}], {}),
    ([{}, {}], {}),
    ([{1: 1}], {1: 1}),
    ([{1: 10, 2: 20}, {3: 30, 4: 40}], {2: 10, 3: 20, 4: 30}),
    ([{1: 1, 2: 2}, {3: 3, 4: 4, 5: 5}, {6: 6}], {4: 1, 5: 2, 6: 5}),
]


@pytest.mark.parametrize("stream,k,sketch,n,d", GOLDEN_BUILD)
def test_golden_build_sequential(stream, k, sketch, n, d):
    assert mg_reference(stream, k) == (sketch, n, d)


@pytest.mark.parametrize("stream,k,sketch,n,d", GOLDEN_BUILD)
def test_golden_build_matches_reference_impl(reference_pmg, stream, k, sketch, n, d):
    assert reference_pmg.misra_gries(stream, k) == (sketch, n, d)
    assert mg_reference(stream, k) == reference_pmg.misra_gries(stream, k)


@pytest.mark.parametrize("sketches,expected", GOLDEN_MERGE)
def test_golden_merge(sketches, expected):
    assert mg_merge_dicts(sketches, 3) == expected


def test_sequential_parity_randomized(reference_pmg):
    """Exact parity of the sequential kernel on random streams incl. negatives."""
    rnd = random.Random(42)
    for trial in range(200):
        k = rnd.randint(1, 12)
        length = rnd.randint(0, 300)
        universe = rnd.randint(1, 40)
        stream = [rnd.randint(-2, universe) for _ in range(length)]
        assert mg_reference(stream, k) == reference_pmg.misra_gries(stream, k), (
            f"trial {trial}: k={k} stream={stream}"
        )


def test_decrement_upper_bound_all_unique():
    # evaluate.py:101-113: all-unique stream of 100 with k=10 -> exactly 9 decrements.
    sketch, n, d = mg_reference(list(range(1, 101)), 10)
    assert n == 100
    assert d == 100 // 11


def _exact_counts(stream):
    counts = {}
    for x in stream:
        if x >= 0:
            counts[x] = counts.get(x, 0) + 1
    return counts


def _check_bound(sketch, n, d, k, stream):
    true = _exact_counts(stream)
    cap = n // (k + 1)
    assert d <= cap, f"decrements {d} exceed floor(N/(k+1)) = {cap}"
    for key, est in sketch.items():
        assert true.get(key, 0) - cap <= est <= true.get(key, 0)
    # Every key with true count above the cap must be present.
    for key, cnt in true.items():
        if cnt > cap:
            assert key in sketch


def test_batch_kernel_bound_randomized():
    """Vectorized batch kernel satisfies the MG deterministic error bound."""
    rng = np.random.default_rng(42)
    for _ in range(30):
        k = int(rng.integers(1, 20))
        length = int(rng.integers(0, 5000))
        zipf_vals = rng.zipf(1.5, size=length) % 200
        stream = zipf_vals.astype(np.int64)
        state = MGState(k=k)
        # Fold in uneven batches to exercise the merge path.
        pos = 0
        while pos < length:
            step = int(rng.integers(1, 500))
            state = mg_build_weighted(state, stream[pos : pos + step])
            pos += step
        assert state.n == length
        assert len(state.keys) <= max(k, 0) or length == 0
        _check_bound(state.to_dict(), state.n, state.d, k, stream.tolist())


def test_weighted_build_equals_batch_build():
    """Unweighted build (each key once) equals the weighted build over
    the stream's exact counts, and over unit weights."""
    rng = np.random.default_rng(7)
    stream = (rng.zipf(1.3, size=2000) % 100).astype(np.int64)
    uniq, counts = np.unique(stream, return_counts=True)
    a = mg_build_weighted(MGState(k=8), stream)
    for b in (
        mg_build_weighted(MGState(k=8), uniq, counts),
        mg_build_weighted(MGState(k=8), stream, np.ones(len(stream), dtype=np.int64)),
    ):
        assert a.to_dict() == b.to_dict()
        assert (a.n, a.d) == (b.n, b.d)


def test_merge_matches_reference_fold(reference_pmg, tmp_path):
    """Pinned fold order: exact equality vs reference merge() via JSON files."""
    import json

    rnd = random.Random(11)
    for trial in range(25):
        k = rnd.randint(1, 8)
        sketches = []
        for i in range(rnd.randint(1, 6)):
            size = rnd.randint(0, 2 * k)
            sketches.append(
                {rnd.randint(0, 50): rnd.randint(0, 1000) for _ in range(size)}
            )
        files = []
        for i, s in enumerate(sketches):
            f = tmp_path / f"s_{trial}_{i}.json"
            f.write_text(json.dumps({str(key): cnt for key, cnt in s.items()}))
            files.append(str(f))
        assert mg_merge_dicts(sketches, k) == reference_pmg.merge(files, k)


def test_merge_commutative_bound_and_tie_free_equality():
    """Merge order only matters at (k+1)-th-largest ties; bound always holds."""
    rng = np.random.default_rng(3)
    for _ in range(20):
        k = int(rng.integers(2, 10))
        streams = [
            (rng.zipf(1.4, size=int(rng.integers(50, 800))) % 60).astype(np.int64)
            for _ in range(4)
        ]
        states = [mg_build_weighted(MGState(k=k), s) for s in streams]
        forward = states[0]
        for s in states[1:]:
            forward = mg_merge(forward, s)
        backward = states[-1]
        for s in reversed(states[:-1]):
            backward = mg_merge(backward, s)
        full = np.concatenate(streams)
        for st in (forward, backward):
            _check_bound(st.to_dict(), st.n, st.d, k, full.tolist())
        assert forward.n == backward.n == len(full)


def test_kth_largest():
    assert kth_largest(np.array([5, 1, 9, 3]), 1) == 9
    assert kth_largest(np.array([5, 1, 9, 3]), 2) == 5
    assert kth_largest(np.array([5, 1, 9, 3]), 4) == 1
    assert kth_largest(np.array([2, 2, 2]), 2) == 2
