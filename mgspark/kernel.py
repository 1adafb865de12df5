"""Misra-Gries sketch kernel: pure numpy/python, no Spark imports.

This module re-expresses the computational core of the reference
implementation (``/root/reference/pmg.py``) in two forms:

* :func:`mg_reference` — a faithful sequential kernel with exact output
  parity against the reference ``misra_gries`` (pmg.py:26-98), kept so the
  golden test vectors (evaluate.py:71-99) pin the semantics.  It is a test
  oracle, not the hot path.
* :class:`MGState` + :func:`mg_build_weighted` / :func:`mg_merge` — the
  vectorized, *mergeable-summary* formulation used by the distributed
  engine: each Arrow batch is reduced to exact counts (an exact summary is
  a valid MG summary), then folded into the running state with the
  reference's merge rule (pmg.py:207-246): key-wise sum, and if more than
  ``k`` keys survive, subtract the (k+1)-th largest counter and keep only
  strictly positive remainders.

Invariants preserved (SURVEY.md §1.3):

1. deterministic error bound ``true - floor(N/(k+1)) <= est <= true``;
2. the total implied decrement count ``d`` satisfies
   ``d <= floor(N/(k+1))`` (Agarwal et al., mergeable summaries);
3. merge keeps counters strictly greater than the offset (pmg.py:241), so
   merged sketches never contain zero counters, while sequentially built
   sketches may (pmg.py:31-32);
4. outputs are sorted by key (pmg.py:92-96).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterable

import numpy as np

__all__ = [
    "MGState",
    "mg_reference",
    "mg_build_weighted",
    "mg_merge",
    "mg_merge_arrays",
    "kth_largest",
]


def kth_largest(values: np.ndarray, k: int) -> int:
    """Return the k-th largest element of ``values``.

    Reference: pmg.py:481-493 sorts; we use ``np.partition`` (O(n) select).
    """
    arr = np.asarray(values)
    return int(np.partition(arr, len(arr) - k)[len(arr) - k])


def mg_reference(stream: Iterable[int], sketch_size: int) -> tuple[dict[int, int], int, int]:
    """Sequential Misra-Gries with exact output parity vs pmg.py:26-98.

    Returns ``(sketch, element_count, decrement_count)``.  Negative
    elements are skipped as invalid; zero counters are retained; output is
    sorted by key.  Insert policy: a new key replaces the smallest key
    whose counter is currently zero; if no zero slot exists, every counter
    is decremented by one and the incoming element is dropped.
    """
    k = sketch_size
    # Sentinel (negative) keys fill the initially-empty slots so insertion
    # logic is uniform from the start (cf. pmg.py:43-46).
    slots: dict[int, int] = {key: 0 for key in range(-k, 0)}
    zero_candidates = sorted(slots)
    zp = 0  # cursor into zero_candidates
    n = 0
    d = 0

    def decrement_all() -> None:
        nonlocal zero_candidates, zp, d
        d += 1
        fresh_zeros = []
        for key in slots:
            slots[key] -= 1
            if slots[key] == 0:
                fresh_zeros.append(key)
        fresh_zeros.sort()
        zero_candidates = fresh_zeros
        zp = 0

    for element in stream:
        if element < 0:
            continue
        n += 1
        if element in slots:
            slots[element] += 1
            continue
        placed = False
        while zp < len(zero_candidates):
            candidate = zero_candidates[zp]
            zp += 1
            # Entries may be stale: a key that was zero at snapshot time can
            # have been re-incremented (or replaced) since.
            if slots.get(candidate, -1) == 0:
                del slots[candidate]
                slots[element] = 1
                placed = True
                break
        if not placed:
            decrement_all()

    final = {key: slots[key] for key in sorted(slots) if key >= 0}
    return final, n, d


# ---------------------------------------------------------------------------
# Vectorized mergeable-summary formulation
# ---------------------------------------------------------------------------


@dataclass
class MGState:
    """Array-backed MG sketch state carried across Arrow batch boundaries.

    ``keys`` are sorted int64, ``counters`` are the matching estimates,
    ``n`` is the count of valid elements consumed and ``d`` the total
    number of implied decrements (direct decrements plus merge offsets).
    """

    k: int
    keys: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=np.int64))
    counters: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=np.int64))
    n: int = 0
    d: int = 0

    def to_dict(self) -> dict[int, int]:
        return {int(key): int(cnt) for key, cnt in zip(self.keys, self.counters)}

    @classmethod
    def from_dict(cls, sketch: dict[int, int], k: int, n: int = 0, d: int = 0) -> "MGState":
        if sketch:
            keys = np.fromiter(sketch.keys(), dtype=np.int64, count=len(sketch))
            counters = np.fromiter(sketch.values(), dtype=np.int64, count=len(sketch))
            order = np.argsort(keys, kind="stable")
            keys, counters = keys[order], counters[order]
        else:
            keys = np.empty(0, dtype=np.int64)
            counters = np.empty(0, dtype=np.int64)
        return cls(k=k, keys=keys, counters=counters, n=n, d=d)


def mg_merge_arrays(
    keys_a: np.ndarray,
    counters_a: np.ndarray,
    keys_b: np.ndarray,
    counters_b: np.ndarray,
    k: int,
) -> tuple[np.ndarray, np.ndarray, int]:
    """Merge two (sorted-key, counter) sketches under the pmg.py:207-246 rule.

    Key-wise counter sum; if more than ``k`` keys survive, subtract the
    (k+1)-th largest counter (the *offset*) and keep keys whose summed
    counter is strictly greater than it.  Returns ``(keys, counters,
    offset)`` where ``offset`` is the number of implied decrements this
    prune performed (0 when no prune was needed).
    """
    all_keys = np.concatenate([keys_a, keys_b])
    all_counters = np.concatenate([counters_a, counters_b])
    uniq, inverse = np.unique(all_keys, return_inverse=True)
    summed = np.bincount(inverse, weights=all_counters, minlength=len(uniq)).astype(np.int64)
    if len(uniq) <= k:
        return uniq, summed, 0
    offset = kth_largest(summed, k + 1)
    keep = summed > offset
    return uniq[keep], summed[keep] - offset, offset


def mg_build_weighted(
    state: MGState, keys: np.ndarray, weights: np.ndarray | None = None
) -> MGState:
    """Fold one Arrow batch of int64 keys into ``state``.

    ``weights[i]`` is how often ``keys[i]`` occurs (pre-aggregated
    ``(token, count)`` rows); ``None`` means each key occurs once.  The
    batch is reduced to exact counts with ``np.unique`` (an exact summary
    is a valid MG summary with zero decrements), then merged under the
    reference rule.  This replaces the reference's per-element loop
    (pmg.py:81-90) with two vectorized passes and is the `no per-row
    Python` translation described in SURVEY.md §4.2.  Negative keys are
    invalid and skipped.
    """
    keys = np.asarray(keys, dtype=np.int64)
    valid = keys >= 0
    keys = keys[valid]
    if len(keys) == 0:
        return state
    if weights is None:
        uniq, counts = np.unique(keys, return_counts=True)
        counts = counts.astype(np.int64)
        n = len(keys)
    else:
        weights = np.asarray(weights, dtype=np.int64)[valid]
        uniq, inverse = np.unique(keys, return_inverse=True)
        counts = np.bincount(inverse, weights=weights, minlength=len(uniq)).astype(np.int64)
        n = int(weights.sum())
    merged_keys, merged_counters, offset = mg_merge_arrays(
        state.keys, state.counters, uniq, counts, state.k
    )
    return MGState(
        k=state.k,
        keys=merged_keys,
        counters=merged_counters,
        n=state.n + n,
        d=state.d + offset,
    )


def mg_merge(a: MGState, b: MGState) -> MGState:
    """Merge two MG states; sums n and accumulates implied decrements."""
    if a.k != b.k:
        raise ValueError(f"cannot merge sketches with different k: {a.k} != {b.k}")
    keys, counters, offset = mg_merge_arrays(a.keys, a.counters, b.keys, b.counters, a.k)
    return MGState(k=a.k, keys=keys, counters=counters, n=a.n + b.n, d=a.d + b.d + offset)


def mg_merge_dicts(sketches: Iterable[dict[int, int]], sketch_size: int) -> dict[int, int]:
    """Left-fold merge over plain dict sketches (reference ``merge`` parity).

    Mirrors pmg.py:207-246 exactly (minus the JSON file I/O): fold order is
    the iteration order of ``sketches``.
    """
    states = [MGState.from_dict(s, sketch_size) for s in sketches]
    if not states:
        return {}
    acc = states[0]
    for nxt in states[1:]:
        acc = mg_merge(acc, nxt)
    return acc.to_dict()
