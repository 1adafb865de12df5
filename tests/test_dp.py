"""DP layer tests: threshold parity vs the reference oracle, sampler
distribution sanity, and the privatization fixtures from FIXTURES.md F4
(evaluate.py:116-184) at fixed seed."""

import math

import numpy as np
import pytest

from mgspark import dp

SEED = 42


def rng():
    return np.random.Generator(np.random.PCG64(SEED))


def test_find_threshold_parity_with_reference(reference_pmg):
    grid = [
        (1.0, 1e-6, 1, 2),
        (1.0, 1e-6, 100, 100),
        (0.1, 1e-6, 1, 2),
        (0.5, 1e-3, 1, 2),
        (2.0, 1e-9, 7, 7),
        (0.25, 1e-4, 3, 5),
        (1.0, 1e-3, 1, 2),
        (4.0, 1e-8, 50, 50),
    ]
    for eps, delta, sens, m in grid:
        ours = dp.find_threshold(eps, delta, sens, m)
        theirs = reference_pmg.find_threshold(eps, delta, sens, m)
        assert ours == theirs, (eps, delta, sens, m, ours, theirs)


def test_threshold_tighter_than_union_bound():
    # evaluate.py:56-66: numerical threshold beats the closed-form union
    # bound and exceeds 1.
    eps, delta = 0.1, 1e-6
    ours = dp.find_threshold(eps, delta)
    union = math.ceil(
        1 + 2 / eps * math.log(2 * 3 * math.exp(eps) / ((math.exp(eps) + 1) * delta))
    )
    assert 1 < ours < union


def test_geometric_sampler_moments():
    eps, sens = 1.0, 1.0
    draws = dp.geometric(rng(), eps, sens, 200_000)
    assert draws.min() >= 0
    alpha = math.exp(-eps / sens)
    expected_mean = alpha / (1 - alpha)
    assert abs(draws.mean() - expected_mean) < 0.02


def test_two_sided_geometric_symmetry():
    draws = dp.two_sided_geometric(rng(), 1.0, 1.0, 200_000)
    assert abs(draws.mean()) < 0.02
    assert (draws < 0).any() and (draws > 0).any()


def test_approx_privatize_preserves_keys_at_huge_epsilon():
    # evaluate.py:116-144: with eps huge, noise ~ 0 and all big counters survive.
    sketch = {1: 181, 2: 118, 3: 121, 4: 117, 5: 122}
    out = dp.privatize_misra_gries(sketch, epsilon=10, delta=1e-3, rng=rng())
    assert set(out) == set(sketch)
    for key in sketch:
        assert abs(out[key] - sketch[key]) <= 5


def test_approx_privatize_thresholds_small_counters():
    # evaluate.py:146-157: counters 1 and 2 fall below the threshold.
    sketch = {1: 170, 2: 120, 3: 1, 4: 2, 5: 210}
    out = dp.privatize_misra_gries(sketch, epsilon=1, delta=1e-3, rng=rng())
    assert set(out) == {1, 2, 5}


def test_pure_privatize_offsets_lower_counters():
    # evaluate.py:159-171: offset = d - floor(N/(k+1)) < 0 lowers counters.
    sketch = {1001: 100, 2002: 200, 3003: 300}
    out = dp.purely_privatize_misra_gries(
        sketch,
        sketch_size=3,
        epsilon=10,
        universe_size=10_000,
        element_count=800,
        decrement_count=180,
        rng=rng(),
    )
    for key, counter in out.items():
        if key in sketch:
            assert counter < sketch[key]


def test_pure_privatize_upgrades_zeros():
    # evaluate.py:173-184: with U >> k, released keys are overwhelmingly fresh.
    sketch = {10: 4, 20: 7, 30: 15}
    out = dp.purely_privatize_misra_gries(
        sketch,
        sketch_size=3,
        epsilon=1,
        universe_size=100_000,
        element_count=26,
        decrement_count=0,
        rng=rng(),
    )
    assert len(out) <= 3
    fresh = [key for key in out if key not in sketch]
    assert fresh, "expected rejection-sampled upgrade keys from the universe"


def test_pure_privatize_releases_at_most_k_sorted():
    sketch = {i: 1000 + i for i in range(10)}
    out = dp.purely_privatize_misra_gries(
        sketch, sketch_size=4, epsilon=5, universe_size=1000,
        element_count=10_000, decrement_count=0, rng=rng(),
    )
    assert len(out) <= 4
    assert list(out) == sorted(out)


def test_merged_variants_dispatch():
    merged = {0: 60, 1: 30, 2: 40}
    out = dp.privatize_merged(merged, sketch_size=3, epsilon=5, delta=1e-3, rng=rng())
    assert isinstance(out, dict)
    out2 = dp.purely_privatize_merged(merged, sketch_size=3, epsilon=5, universe_size=100, rng=rng())
    assert len(out2) <= 3


def test_user_level_scaling_matches_direct_call():
    sketch = {0: 600, 1: 300}
    m, eps, delta = 3, 9.0, 1e-3
    seeded = rng()
    out = dp.privatize_user_level(sketch, eps, delta, m, rng=seeded)
    seeded2 = rng()
    expected = dp.privatize_misra_gries(
        sketch, eps / m, delta / (m * math.exp(eps)), rng=seeded2
    )
    assert out == expected


def test_user_level_merged_composes_group_privacy_with_merged_release():
    """Distributed (merged) sketches must release with sensitivity k, not
    the element-level mechanisms (ADVICE r01): user-level merged ==
    merged release at eps/m, delta/(m e^eps)."""
    merged = {0: 900, 1: 500, 2: 300}
    k, m, eps, delta = 3, 4, 12.0, 1e-3
    out = dp.privatize_user_level_merged(merged, k, eps, delta, m, rng=rng())
    expected = dp.privatize_merged(
        merged, k, eps / m, delta / (m * math.exp(eps)), rng=rng()
    )
    assert out == expected

    pure_out = dp.purely_privatize_user_level_merged(
        merged, k, eps, universe_size=1000, user_element_count=m, rng=rng()
    )
    pure_expected = dp.purely_privatize_merged(
        merged, k, eps / m, universe_size=1000, rng=rng()
    )
    assert pure_out == pure_expected


def test_user_level_merged_threshold_stricter_than_element_level():
    """The merged mechanism's threshold (sensitivity k, k unique keys) is
    strictly larger than the element-level one — the under-noising the
    old path had."""
    k, m, eps, delta = 8, 4, 12.0, 1e-3
    element = dp.find_threshold(eps / m, delta / (m * math.exp(eps)), 1)
    merged = dp.find_threshold(eps / m, delta / (m * math.exp(eps)), k, k)
    assert merged > element


@pytest.mark.parametrize("mechanism", ["approx", "pure"])
def test_dp_distribution_ratio(mechanism):
    """Reduced-rep stochastic DP check (evaluate.py:663-881 style).

    Runs the mechanism on neighboring sketches and checks the outcome
    frequency ratio for released key-sets stays within e^eps plus
    statistical slack (Wilson-interval style tolerance).
    """
    eps = 1.0
    reps = 4000
    generator = rng()
    if mechanism == "approx":
        a, b = {0: 140, 1: 70, 2: 1, 3: 0}, {0: 140, 1: 70, 4: 0, 5: 0}
        run = lambda s: frozenset(dp.privatize_misra_gries(s, eps, 1e-3, rng=generator))
    else:
        a, b = {0: 40, 1: 1, 2: 0}, {0: 40, 3: 0, 4: 0}
        run = lambda s: frozenset(
            dp.purely_privatize_misra_gries(
                s, 3, eps, 12, element_count=41, decrement_count=0, rng=generator
            )
        )
    from collections import Counter

    outcomes_a = Counter(run(a) for _ in range(reps))
    outcomes_b = Counter(run(b) for _ in range(reps))
    bound = math.exp(eps)
    violations = 0
    for outcome, count_a in outcomes_a.items():
        pa = count_a / reps
        pb = outcomes_b.get(outcome, 0) / reps
        if pa > 0.01 and pb > 0:  # only statistically meaningful outcomes
            if pa / pb > bound * 2.0 or pb / pa > bound * 2.0:
                violations += 1
    assert violations == 0
