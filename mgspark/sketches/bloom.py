"""Bloom filter as a mergeable UDAF kernel: m-bit array (packed uint8),
k hash functions via Kirsch-Mitzenmacher double hashing; merge =
bitwise OR.  No false negatives ever; false-positive rate ~
(1 - e^(-k n / m))^k.  Input contract: int64 hashed keys; negative
keys (nulls, see ``aggregate.encode_tokens``) are invalid and skipped.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from mgspark.sketches.base import MergeableSketch, splitmix64

__all__ = ["BloomFilter"]


class BloomFilter(MergeableSketch):
    name = "bloom"

    def __init__(self, capacity: int = 1_000_000, fpr: float = 0.01):
        self.capacity = capacity
        self.fpr = fpr
        m = int(math.ceil(-capacity * math.log(fpr) / (math.log(2) ** 2)))
        self.m = max(64, 1 << (m - 1).bit_length())  # round up to power of 2
        self.k = max(1, int(round(self.m / capacity * math.log(2))))

    def zero(self) -> np.ndarray:
        return np.zeros(self.m // 8, dtype=np.uint8)

    def _bit_positions(self, keys: np.ndarray) -> np.ndarray:
        """(k, n) bit indices via double hashing h1 + i*h2."""
        h1 = splitmix64(keys)
        h2 = splitmix64(keys ^ np.int64(0x5851F42D4C957F2D)) | np.uint64(1)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        return ((h1[None, :] + i * h2[None, :]) % np.uint64(self.m)).astype(np.int64)

    def build(self, state: np.ndarray, values: pd.Series) -> np.ndarray:
        keys = values.to_numpy(dtype=np.int64, na_value=-1)
        keys = keys[keys >= 0]  # invalid (negative or null) keys are never members
        if len(keys) == 0:
            return state
        pos = self._bit_positions(np.unique(keys)).ravel()
        np.bitwise_or.at(state, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        return state

    def merge(self, a: np.ndarray, b: np.ndarray) -> np.ndarray:
        return a | b

    def serialize(self, state: np.ndarray) -> bytes:
        return state.tobytes()

    def deserialize(self, blob: bytes) -> np.ndarray:
        return np.frombuffer(blob, dtype=np.uint8).copy()

    def contains(self, state: np.ndarray, keys: np.ndarray) -> np.ndarray:
        """Vectorized membership probe: bool array, no false negatives;
        an invalid key is never a member."""
        keys = np.asarray(keys, dtype=np.int64)
        pos = self._bit_positions(keys)  # (k, n)
        bits = (state[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        return bits.all(axis=0) & (keys >= 0)
