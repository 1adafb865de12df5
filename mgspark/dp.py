"""Differential-privacy release layer for Misra-Gries sketches.

Vectorized (numpy) re-expression of the six release operators and the
noise machinery of the reference (``/root/reference/pmg.py``):

* two samplers — geometric / two-sided geometric (pmg.py:363-394), here
  drawing whole arrays through a ``numpy.random.Generator``;
* :func:`find_threshold` — the numerical binary-search threshold
  (pmg.py:397-478), a driver-side computation whose global-noise sum is
  evaluated in numpy chunks;
* element-level approx-DP release (pmg.py:101-140), element-level pure-DP
  release (pmg.py:143-204), their merged-sketch variants with sensitivity
  ``k`` (pmg.py:249-298), and the user-level variants with scaled privacy
  budgets (pmg.py:301-360).

RNG policy (SURVEY.md §4): the reference uses ``random.SystemRandom`` — a
CSPRNG — for real releases.  Here, release functions take an optional
``rng``; when omitted a fresh OS-entropy-seeded ``numpy.random.Generator``
is created (release mode), while tests pass a fixed-seed generator.

All release functions accept and return plain ``dict[int, int]`` sketches
(the reference's public contract) but run on int64 arrays internally.
Noise must be drawn once, centrally, on the final merged sketch — never
per partition (the sensitivity argument of pmg.py:262-264 assumes a single
release).
"""

from __future__ import annotations

import math
import secrets

import numpy as np

__all__ = [
    "default_rng",
    "geometric",
    "two_sided_geometric",
    "find_threshold",
    "privatize_misra_gries",
    "purely_privatize_misra_gries",
    "privatize_merged",
    "purely_privatize_merged",
    "privatize_user_level",
    "purely_privatize_user_level",
    "privatize_user_level_merged",
    "purely_privatize_user_level_merged",
]


def default_rng() -> np.random.Generator:
    """OS-entropy-seeded generator for release mode.

    The reference deliberately uses a cryptographic RNG
    (``random.SystemRandom``, pmg.py:23); seeding PCG64 from
    ``secrets.randbits`` keeps OS entropy as the root while allowing
    vectorized draws.
    """
    return np.random.Generator(np.random.PCG64(secrets.randbits(128)))


def geometric(
    rng: np.random.Generator, epsilon: float, sensitivity: float, size: int
) -> np.ndarray:
    """Sample ``size`` draws X >= 0 with P(X = j) ∝ exp(-epsilon*j/sensitivity).

    Inverse-CDF transform (cf. pmg.py:363-377), vectorized:
    ``floor(log(1-U) / log(alpha))`` with ``alpha = exp(-eps/sens)``.
    """
    log_alpha = -epsilon / sensitivity
    u = rng.random(size)
    return np.floor(np.log1p(-u) / log_alpha).astype(np.int64)


def two_sided_geometric(
    rng: np.random.Generator, epsilon: float, sensitivity: float, size: int
) -> np.ndarray:
    """Discrete-Laplace noise: difference of two iid geometrics (pmg.py:380-394)."""
    return geometric(rng, epsilon, sensitivity, size) - geometric(rng, epsilon, sensitivity, size)


def _tsg_pmf(j: np.ndarray, alpha: float) -> np.ndarray:
    """P(X = j) for the two-sided geometric distribution with
    ``alpha = exp(-eps/sens)`` (pmg.py:419-424)."""
    return (1 - alpha) / (1 + alpha) * np.power(alpha, np.abs(j))


def _tsg_sf(j: np.ndarray, alpha: float) -> np.ndarray:
    """P(X >= j) for the two-sided geometric distribution (pmg.py:426-432).

    Each branch is evaluated on its own entries only: ``alpha ** (1 - j)``
    overflows for large positive ``j``."""
    sf = np.empty(j.shape)
    low = j <= 0
    # P(X >= j) = 1 - P(X >= -j+1) by symmetry.
    sf[low] = 1.0 - np.power(alpha, 1 - j[low]) / (1 + alpha)
    sf[~low] = np.power(alpha, j[~low]) / (1 + alpha)
    return sf


# Global-noise values evaluated per numpy step of the threshold search.
_THRESHOLD_CHUNK = 2048


def find_threshold(
    epsilon: float,
    delta: float,
    sensitivity: float = 1,
    max_unique_keys: int = 2,
) -> int:
    """Smallest release threshold hiding key-set differences at (eps, delta).

    Re-expression of pmg.py:397-478.  For a candidate threshold ``t`` we
    bound the probability that *any* of ``max_unique_keys`` counters held
    by only one of two neighboring sketches survives the threshold:

        P(bad) = sum_g pmf(g) * (1 - (1 - P(local >= t - g))^m)

    where ``g`` ranges over global-noise values.  The smallest ``t`` with
    ``P(bad) <= delta/2`` is located by doubling then binary search; +1 is
    added at the end to absorb the unique keys' true count of at most 1.

    The sum runs over numpy chunks of ``g`` but adds its terms strictly
    in the scalar order (``np.cumsum`` seeded with the running total, not
    ``np.sum``'s pairwise tree), so every threshold equals the scalar
    loop's.
    """

    goal = delta / 2
    tolerance = delta / 1e9
    alpha = math.exp(-epsilon / sensitivity)
    steps = np.arange(_THRESHOLD_CHUNK, dtype=np.int64)

    def exceeds_goal(threshold: int) -> bool:
        """True if P(bad at `threshold`) > goal (with early exit)."""
        total = 0.0
        # Enumerate global noise g = 0, 1, 2, ... then g = -1, -2, ...;
        # each branch stops after its first term at or below the
        # tolerance, that term included.
        for start, step in ((0, 1), (-1, -1)):
            while True:
                g = start + step * steps
                terms = _tsg_pmf(g, alpha) * (
                    1 - np.power(1 - _tsg_sf(threshold - g, alpha), max_unique_keys)
                )
                small = np.flatnonzero(terms <= tolerance)
                if small.size:
                    terms = terms[: small[0] + 1]
                running = np.cumsum(np.concatenate(([total], terms)))
                if (running > goal).any():
                    return True
                total = float(running[-1])
                if small.size:
                    break
                start += step * _THRESHOLD_CHUNK
        return False

    # Exponential search for an upper bound.
    low, high = 1, 1
    while exceeds_goal(high):
        low = high + 1
        high *= 2
    # Binary search for the smallest passing threshold in [low, high].
    while low < high:
        mid = (low + high) // 2
        if exceeds_goal(mid):
            low = mid + 1
        else:
            high = mid
    return low + 1


def _as_sorted_arrays(sketch: dict[int, int]) -> tuple[np.ndarray, np.ndarray]:
    if not sketch:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    keys = np.fromiter(sketch.keys(), dtype=np.int64, count=len(sketch))
    counters = np.fromiter(sketch.values(), dtype=np.int64, count=len(sketch))
    order = np.argsort(keys, kind="stable")
    return keys[order], counters[order]


def privatize_misra_gries(
    sketch: dict[int, int],
    epsilon: float,
    delta: float,
    sensitivity: int = 1,
    threshold: float = -1,
    add_global_noise: bool = True,
    rng: np.random.Generator | None = None,
) -> dict[int, int]:
    """Approx-DP release (pmg.py:101-140), vectorized.

    One shared global two-sided-geometric draw plus per-counter noise;
    counters below ``threshold`` are suppressed.  Keys are processed in
    sorted order — part of the privacy argument (pmg.py:132-135): iteration
    order must not leak insertion history.
    """
    if rng is None:
        rng = default_rng()
    if threshold == -1:
        threshold = find_threshold(epsilon, delta, 1)
    keys, counters = _as_sorted_arrays(sketch)
    global_noise = (
        int(two_sided_geometric(rng, epsilon, sensitivity, 1)[0]) if add_global_noise else 0
    )
    noisy = counters + global_noise + two_sided_geometric(rng, epsilon, sensitivity, len(keys))
    keep = noisy >= threshold
    return {int(key): int(cnt) for key, cnt in zip(keys[keep], noisy[keep])}


def pure_dp_threshold(epsilon: float, sketch_size: int, universe_size: int, sensitivity: float) -> int:
    """Pure-DP release threshold (pmg.py:177-179)."""
    alpha = math.exp(-epsilon / sensitivity)
    return math.ceil(-sensitivity * math.log((alpha + 1) * sketch_size / universe_size) / epsilon)


def purely_privatize_misra_gries(
    sketch: dict[int, int],
    sketch_size: int,
    epsilon: float,
    universe_size: int,
    element_count: int | None,
    decrement_count: int | None,
    sensitivity: int = 2,
    offset_counters: bool = True,
    rng: np.random.Generator | None = None,
) -> dict[int, int]:
    """Pure epsilon-DP release (pmg.py:143-204), vectorized.

    Steps: (1) offset every counter by ``d - floor(N/(k+1))`` (<= 0), which
    caps the L1 sensitivity at 2 (pmg.py:175-176); (2) add two-sided
    geometric noise and keep counters >= threshold; (3) "upgrade" a
    Binomial(U, k/U) number of fresh universe keys, chosen by rejection
    sampling, to ``threshold + Geom`` (pmg.py:190-197); (4) release the
    top-k by noisy counter, sorted by key.
    """
    if rng is None:
        rng = default_rng()
    if universe_size <= sketch_size:
        raise ValueError("universe_size must exceed sketch_size")
    offset = (
        decrement_count - math.floor(element_count / (sketch_size + 1)) if offset_counters else 0
    )
    threshold = pure_dp_threshold(epsilon, sketch_size, universe_size, sensitivity)

    keys, counters = _as_sorted_arrays(sketch)
    noisy = counters + offset + two_sided_geometric(rng, epsilon, sensitivity, len(keys))
    keep = noisy >= threshold
    out_keys = keys[keep]
    out_counters = noisy[keep]

    # Zero upgrades: Binomial(U, k/U) fresh keys drawn uniformly from the
    # universe by rejection sampling (duplicates and existing keys
    # rejected), each released at threshold + Geom.
    upgrade_count = int(rng.binomial(universe_size, sketch_size / universe_size))
    # Rejection sampling cannot produce more fresh keys than the universe holds.
    upgrade_count = min(upgrade_count, universe_size - len(out_keys))
    if upgrade_count > 0:
        existing = set(out_keys.tolist())
        fresh: list[int] = []
        while len(fresh) < upgrade_count:
            chunk = rng.integers(0, universe_size, size=max(64, 2 * (upgrade_count - len(fresh))))
            for key in chunk.tolist():
                if key not in existing:
                    existing.add(key)
                    fresh.append(key)
                    if len(fresh) == upgrade_count:
                        break
        fresh_keys = np.asarray(fresh, dtype=np.int64)
        fresh_counters = threshold + geometric(rng, epsilon, sensitivity, upgrade_count)
        out_keys = np.concatenate([out_keys, fresh_keys])
        out_counters = np.concatenate([out_counters, fresh_counters])

    # Top-k by noisy counter, then sort by key for the release.
    if len(out_keys) > sketch_size:
        top = np.argsort(out_counters, kind="stable")[-sketch_size:]
        out_keys, out_counters = out_keys[top], out_counters[top]
    order = np.argsort(out_keys, kind="stable")
    return {int(key): int(cnt) for key, cnt in zip(out_keys[order], out_counters[order])}


def privatize_merged(
    merged: dict[int, int],
    sketch_size: int,
    epsilon: float,
    delta: float,
    rng: np.random.Generator | None = None,
) -> dict[int, int]:
    """Approx-DP release of a merged sketch (pmg.py:249-272).

    Sensitivity rises to ``sketch_size`` (one element can shift every
    counter through the merge offset), the threshold accounts for up to
    ``k`` differing keys, and no global noise is added.
    """
    threshold = find_threshold(epsilon, delta, sketch_size, sketch_size)
    return privatize_misra_gries(
        merged, epsilon, delta, sketch_size, threshold, add_global_noise=False, rng=rng
    )


def purely_privatize_merged(
    merged: dict[int, int],
    sketch_size: int,
    epsilon: float,
    universe_size: int,
    rng: np.random.Generator | None = None,
) -> dict[int, int]:
    """Pure-DP release of a merged sketch (pmg.py:275-298): sensitivity k, no offset."""
    return purely_privatize_misra_gries(
        merged,
        sketch_size,
        epsilon,
        universe_size,
        element_count=None,
        decrement_count=None,
        sensitivity=sketch_size,
        offset_counters=False,
        rng=rng,
    )


def privatize_user_level_merged(
    merged: dict[int, int],
    sketch_size: int,
    epsilon: float,
    delta: float,
    user_element_count: int,
    rng: np.random.Generator | None = None,
) -> dict[int, int]:
    """User-level approx-DP release of a *merged* sketch.

    The reference's user-level mechanisms (pmg.py:301-360) assume a
    sequentially built sketch (element sensitivity 1); a merged sketch
    (pmg.py:249-272) has element sensitivity ``sketch_size`` because one
    element can shift every counter through the merge offset.  Composing
    the same group-privacy scaling (eps' = eps/m, delta' = delta/(m e^eps),
    valid since m*e^((m-1)eps') <= m*e^eps) with the merged-sketch
    mechanism gives a user-level guarantee for distributed builds.
    """
    scaled_epsilon = epsilon / user_element_count
    scaled_delta = delta / (user_element_count * math.exp(epsilon))
    return privatize_merged(merged, sketch_size, scaled_epsilon, scaled_delta, rng=rng)


def purely_privatize_user_level_merged(
    merged: dict[int, int],
    sketch_size: int,
    epsilon: float,
    universe_size: int,
    user_element_count: int,
    rng: np.random.Generator | None = None,
) -> dict[int, int]:
    """User-level pure-DP release of a *merged* sketch.

    Group privacy for pure DP composes exactly (eps' = eps/m); the base
    mechanism is the sensitivity-``sketch_size`` merged release
    (pmg.py:275-298, no counter offset).
    """
    scaled_epsilon = epsilon / user_element_count
    return purely_privatize_merged(merged, sketch_size, scaled_epsilon, universe_size, rng=rng)


def privatize_user_level(
    sketch: dict[int, int],
    epsilon: float,
    delta: float,
    user_element_count: int,
    rng: np.random.Generator | None = None,
) -> dict[int, int]:
    """User-level approx-DP via group privacy (pmg.py:301-325).

    Scales ``eps' = eps/m`` and ``delta' = delta/(m * e^eps)`` where ``m``
    bounds any single user's stream contribution.
    """
    scaled_epsilon = epsilon / user_element_count
    scaled_delta = delta / (user_element_count * math.exp(epsilon))
    return privatize_misra_gries(sketch, scaled_epsilon, scaled_delta, rng=rng)


def purely_privatize_user_level(
    sketch: dict[int, int],
    sketch_size: int,
    epsilon: float,
    universe_size: int,
    element_count: int,
    decrement_count: int,
    user_element_count: int,
    rng: np.random.Generator | None = None,
) -> dict[int, int]:
    """User-level pure-DP (pmg.py:328-360): eps scaled by the contribution bound."""
    scaled_epsilon = epsilon / user_element_count
    return purely_privatize_misra_gries(
        sketch,
        sketch_size,
        scaled_epsilon,
        universe_size,
        element_count,
        decrement_count,
        rng=rng,
    )
