"""Misra-Gries as a mergeable sketch family.

State is ``(MGState, {key: exemplar token})``: the kernel's O(k) sketch
plus, when a ``token`` column is projected, one token per surviving key,
so a release decodes hashed keys without a second scan of the input.
``build_batch`` reads column 0 as the int64 key and the optional
``weight`` and ``token`` columns by name.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from mgspark.kernel import MGState, mg_build_weighted, mg_merge
from mgspark.sketches.base import MergeableSketch

__all__ = ["MGSketch"]

_HEADER = 3  # int64 n, d, number of keys


def _update_exemplars(
    exemplars: dict[int, str],
    state_keys: np.ndarray,
    batch_keys: np.ndarray,
    batch_tokens,
) -> dict[int, str]:
    """Record one exemplar token per surviving key, from this batch.

    A key is in ``state_keys`` only if it appeared in a batch folded since
    it last (re-)entered the state, so every key missing an exemplar has
    an occurrence in the current batch.  Prune to the surviving keys so
    the dict stays O(k).
    """
    exemplars = {key: exemplars[key] for key in map(int, state_keys) if key in exemplars}
    missing = np.asarray(
        [key for key in state_keys.tolist() if key not in exemplars], dtype=np.int64
    )
    if len(missing):
        mask = np.isin(batch_keys, missing)
        hit_idx = np.flatnonzero(mask)
        if len(hit_idx):
            # First occurrence per missing key, vectorized on the masked
            # subset; only <= k entries reach the Python loop.
            sub_keys = batch_keys[hit_idx]
            uniq, first = np.unique(sub_keys, return_index=True)
            for key, sub_i in zip(uniq.tolist(), first.tolist()):
                value = batch_tokens[int(hit_idx[sub_i])]
                value = value.as_py() if hasattr(value, "as_py") else value
                if value is not None:
                    exemplars[int(key)] = str(value)
    return exemplars


def _aligned_tokens(exemplars: dict[int, str], state_keys: np.ndarray) -> list[str | None]:
    return [exemplars.get(int(key)) for key in state_keys]


def _to_int64(column, fill: int) -> np.ndarray:
    if column.null_count:
        import pyarrow.compute as pc

        column = pc.fill_null(column, fill)
    return column.to_numpy(zero_copy_only=False)


class MGSketch(MergeableSketch):
    name = "mg"

    def __init__(self, k: int):
        self.k = int(k)

    def zero(self) -> tuple[MGState, dict[int, str]]:
        return MGState(k=self.k), {}

    def build(self, state, values: pd.Series):
        mg, exemplars = state
        keys = values.to_numpy(dtype=np.int64, na_value=-1)
        return mg_build_weighted(mg, keys), exemplars

    def build_batch(self, state, batch):
        mg, exemplars = state
        names = batch.schema.names
        keys = _to_int64(batch.column(0), -1)
        weights = _to_int64(batch.column("weight"), 0) if "weight" in names else None
        mg = mg_build_weighted(mg, keys, weights)
        if "token" in names:
            exemplars = _update_exemplars(exemplars, mg.keys, keys, batch.column("token"))
        return mg, exemplars

    def merge(self, a, b):
        mg = mg_merge(a[0], b[0])
        tokens = {**b[1], **a[1]}  # the accumulator's exemplar wins
        if not tokens:
            return mg, {}
        return mg, {key: tokens[key] for key in map(int, mg.keys) if key in tokens}

    def serialize(self, state) -> bytes:
        mg, exemplars = state
        ints = np.concatenate(([mg.n, mg.d, len(mg.keys)], mg.keys, mg.counters))
        blob = ints.astype(np.int64).tobytes()
        if exemplars:
            blob += json.dumps(_aligned_tokens(exemplars, mg.keys)).encode("utf8")
        return blob

    def deserialize(self, blob: bytes):
        n, d, size = map(int, np.frombuffer(blob, dtype=np.int64, count=_HEADER))
        ints = np.frombuffer(blob, dtype=np.int64, count=_HEADER + 2 * size)[_HEADER:]
        mg = MGState(k=self.k, keys=ints[:size].copy(), counters=ints[size:].copy(), n=n, d=d)
        tail = blob[8 * (_HEADER + 2 * size):]
        tokens = json.loads(tail) if tail else []
        return mg, {key: tok for key, tok in zip(mg.keys.tolist(), tokens) if tok is not None}
