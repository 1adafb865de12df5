"""Test-only oracles mirroring the reference's superseded implementations
(pmg_alternatives.py, SURVEY.md §2.3 ops 17-21).  Kept out of the library
surface on purpose: they exist to cross-check the real kernels."""

from __future__ import annotations

import math

import numpy as np


def mg_unoptimized(stream, sketch_size):
    """Naive Misra-Gries (op 17, pmg_alternatives.py:17-45 semantics):
    O(k) scan per miss.  NOTE: its insert policy replaces the *first*
    zero-count key in dict insertion order (pmg_alternatives.py:34-37),
    not the smallest key like the final implementation — so zero-counter
    key identities can differ between the two while all counters >= 1,
    n and d agree."""
    sketch = {key: 0 for key in range(-1, -sketch_size - 1, -1)}
    n = 0
    d = 0
    for element in stream:
        if element < 0:
            continue
        n += 1
        if element in sketch:
            sketch[element] += 1
            continue
        if all(cnt >= 1 for cnt in sketch.values()):
            d += 1
            for key in sketch:
                sketch[key] -= 1
        else:
            for key, cnt in sketch.items():
                if cnt == 0:
                    break
            del sketch[key]
            sketch[element] = 1
    return {key: cnt for key, cnt in sorted(sketch.items()) if key >= 0}, n, d


def find_threshold_union_bound(epsilon, delta, sensitivity=1, max_unique_keys=2):
    """Closed-form union-bound threshold (op 20,
    pmg_alternatives.py:176-182): the loose analytic bound the numerical
    search improves on."""
    a = math.exp(epsilon / sensitivity)
    return math.ceil(
        1
        + 2
        * sensitivity
        * math.log(2 * (max_unique_keys + 1) * a / ((a + 1) * delta))
        / epsilon
    )


def find_threshold_scalar(epsilon, delta, sensitivity=1, max_unique_keys=2):
    """Numerical threshold search one global-noise term at a time
    (pmg.py:397-478): the loop ``dp.find_threshold`` evaluates in numpy
    chunks, kept to check that both return the same thresholds."""
    alpha = math.exp(-epsilon / sensitivity)

    def pmf(j):
        return (1 - alpha) / (1 + alpha) * alpha ** abs(j)

    def sf(j):
        if j <= 0:
            return 1.0 - alpha ** (1 - j) / (1 + alpha)
        return alpha**j / (1 + alpha)

    goal = delta / 2
    tolerance = delta / 1e9

    def exceeds_goal(threshold):
        total = 0.0
        for start, step in ((0, 1), (-1, -1)):
            g = start
            while True:
                term = pmf(g) * (1 - (1 - sf(threshold - g)) ** max_unique_keys)
                total += term
                if total > goal:
                    return True
                if term <= tolerance:
                    break
                g += step
        return False

    low, high = 1, 1
    while exceeds_goal(high):
        low = high + 1
        high *= 2
    while low < high:
        mid = (low + high) // 2
        if exceeds_goal(mid):
            low = mid + 1
        else:
            high = mid
    return low + 1


def kth_largest_quickselect(items, k, rng=None):
    """Randomized quickselect (op 21, pmg_alternatives.py:185-207)."""
    if rng is None:
        rng = np.random.default_rng(0)
    items = list(items)

    def select(lo_items, idx):
        if len(lo_items) == 1:
            return lo_items[0]
        pivot = lo_items[int(rng.integers(0, len(lo_items)))]
        lows = [x for x in lo_items if x < pivot]
        highs = [x for x in lo_items if x > pivot]
        pivots = [x for x in lo_items if x == pivot]
        if idx < len(lows):
            return select(lows, idx)
        if idx < len(lows) + len(pivots):
            return pivot
        return select(highs, idx - len(lows) - len(pivots))

    return select(items, len(items) - k)


def purely_privatize_full_scan(
    sketch, sketch_size, epsilon, universe_size, element_count, decrement_count,
    rng, sensitivity=2, offset_counters=True,
):
    """Pure-DP release scanning the whole universe (op 19,
    pmg_alternatives.py:134-160 semantics): adds noise to every universe
    key, clamping absent keys' base count at max(counter+offset, 0).
    Oracle for the binomial rejection-sampling shortcut's output *shape*
    (both release at most k keys >= threshold, sorted)."""
    offset = (
        decrement_count - math.floor(element_count / (sketch_size + 1))
        if offset_counters
        else 0
    )
    alpha = math.exp(-epsilon / sensitivity)
    threshold = math.ceil(
        -sensitivity * math.log((alpha + 1) * sketch_size / universe_size) / epsilon
    )
    noisy = {}
    for key in range(universe_size):
        base = max(sketch.get(key, 0) + offset, 0) if key in sketch else 0
        u = rng.random(2)
        draws = np.floor(np.log1p(-u) / (-epsilon / sensitivity)).astype(int)
        counter = base + int(draws[0] - draws[1])
        if counter >= threshold:
            noisy[key] = counter
    top = sorted(noisy.items(), key=lambda kv: kv[1])[-sketch_size:]
    return dict(sorted(top))
