#!/usr/bin/env python3
"""Sweep-table benchmarks: the reference's evaluate.py plot matrix
(evaluate.py:429-655 — stream length, sketch size, privatize,
purely-privatize, merge, find_threshold) re-emitted as JSON + markdown
tables instead of matplotlib PNGs (not installed here; the reference
git-ignores its PNGs anyway, BASELINE.md).

Kernel-level (no Spark session): these sweep the vectorized kernels the
distributed plan runs per task, plus the sequential parity kernel the
reference benchmarks, so the curves are directly comparable shapes.

Usage: python scripts/sweeps.py   -> BENCH/sweeps.json + BENCH/SWEEPS.md
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mgspark import dp  # noqa: E402
from mgspark.evalx import accuracy_sweep, time_operator  # noqa: E402
from mgspark.kernel import (  # noqa: E402
    MGState,
    mg_build_weighted,
    mg_merge_dicts,
    mg_reference,
)

RNG = np.random.default_rng(42)


def _vectorized_build(stream: np.ndarray, k: int) -> MGState:
    return mg_build_weighted(MGState(k=k), stream)


def sweep_stream_length() -> list[dict]:
    """evaluate.py:429-474: build time vs stream length, with and without
    repeats, sequential (reference parity kernel) vs vectorized."""
    rows = []
    k = 100
    for repeats in (False, True):
        for n in [200 * 2**i for i in range(8)]:
            stream = (np.arange(n) % k) if repeats else np.arange(n)
            seq = time_operator(lambda: mg_reference(iter(stream.tolist()), k), 3)
            vec = time_operator(lambda: _vectorized_build(stream, k), 3)
            rows.append(
                {
                    "sweep": "stream_length",
                    "repeats": repeats,
                    "stream_length": n,
                    "sequential_sec": round(seq["min_sec"], 6),
                    "vectorized_sec": round(vec["min_sec"], 6),
                    "speedup": round(seq["min_sec"] / max(vec["min_sec"], 1e-9), 1),
                }
            )
    return rows


def sweep_sketch_size() -> list[dict]:
    """evaluate.py:477-522: build time vs sketch size at fixed stream."""
    rows = []
    n = 25_600
    stream = RNG.integers(0, 10_000, size=n)
    for k in [10 * 2**i for i in range(8)]:
        seq = time_operator(lambda: mg_reference(iter(stream.tolist()), k), 3)
        vec = time_operator(lambda: _vectorized_build(stream, k), 3)
        rows.append(
            {
                "sweep": "sketch_size",
                "sketch_size": k,
                "sequential_sec": round(seq["min_sec"], 6),
                "vectorized_sec": round(vec["min_sec"], 6),
            }
        )
    return rows


def _fixed_sketch(k: int) -> dict[int, int]:
    return {i: int(1000 / (i + 1)) + 1 for i in range(k)}


def sweep_privatize() -> list[dict]:
    """evaluate.py:525-594: release time vs sketch size, both mechanisms."""
    rows = []
    rng = np.random.default_rng(7)
    for k in [10 * 2**i for i in range(8)]:
        sketch = _fixed_sketch(k)
        approx = time_operator(
            lambda: dp.privatize_misra_gries(sketch, 1.0, 1e-6, rng=rng), 5
        )
        pure = time_operator(
            lambda: dp.purely_privatize_misra_gries(
                sketch, k, 1.0, 10 * k + 100, sum(sketch.values()), 0, rng=rng
            ),
            5,
        )
        rows.append(
            {
                "sweep": "privatize",
                "sketch_size": k,
                "approx_dp_sec": round(approx["min_sec"], 6),
                "pure_dp_sec": round(pure["min_sec"], 6),
            }
        )
    return rows


def sweep_merge() -> list[dict]:
    """evaluate.py:597-625: merge time vs number of sketches."""
    rows = []
    rng = np.random.default_rng(11)
    k = 100
    for count in [2 * 2**i for i in range(7)]:
        sketches = [
            {int(key): int(cnt) for key, cnt in zip(
                rng.integers(0, 1000, k), rng.integers(1, 500, k))}
            for _ in range(count)
        ]
        t = time_operator(lambda: mg_merge_dicts(sketches, k), 3)
        rows.append(
            {"sweep": "merge", "num_sketches": count, "sec": round(t["min_sec"], 6)}
        )
    return rows


def sweep_find_threshold() -> list[dict]:
    """evaluate.py:628-655: threshold search time + value over the grid."""
    rows = []
    for eps in (0.1, 1.0, 5.0):
        for delta in (1e-3, 1e-6, 1e-9):
            t = time_operator(lambda: dp.find_threshold(eps, delta, 1), 3)
            rows.append(
                {
                    "sweep": "find_threshold",
                    "epsilon": eps,
                    "delta": delta,
                    "threshold": dp.find_threshold(eps, delta, 1),
                    "sec": round(t["min_sec"], 6),
                }
            )
    return rows


def sweep_accuracy() -> list[dict]:
    """evaluate.py:361-414 accuracy curves: mean released L1 error vs
    sketch size for both mechanisms (evalx.accuracy_sweep)."""
    rng = np.random.default_rng(13)
    zipf = rng.zipf(1.5, size=200_000)
    zipf = zipf[zipf < 10_000]
    uniq, counts = np.unique(zipf, return_counts=True)
    true_counts = {int(u): int(c) for u, c in zip(uniq, counts)}
    sizes = [10, 20, 40, 80, 160]
    rows = []
    approx = accuracy_sweep(
        lambda s, k: dp.privatize_misra_gries(s, 1.0, 1e-6, rng=rng),
        true_counts, sizes, repetitions=5,
    )
    pure = accuracy_sweep(
        lambda s, k: dp.purely_privatize_misra_gries(
            s, k, 1.0, 20_000, sum(s.values()), 0, rng=rng
        ),
        true_counts, sizes, repetitions=5,
    )
    for a, p in zip(approx, pure):
        rows.append(
            {
                "sweep": "accuracy",
                "sketch_size": a["sketch_size"],
                "approx_dp_mean_l1": round(a["mean_l1_error"], 1),
                "pure_dp_mean_l1": round(p["mean_l1_error"], 1),
            }
        )
    return rows


def _md_table(rows: list[dict]) -> list[str]:
    cols = [c for c in rows[0] if c != "sweep"]
    out = ["| " + " | ".join(cols) + " |", "|" + "---|" * len(cols)]
    out += ["| " + " | ".join(str(r[c]) for c in cols) + " |" for r in rows]
    return out


def main() -> None:
    sweeps = {
        "stream_length": sweep_stream_length(),
        "sketch_size": sweep_sketch_size(),
        "privatize": sweep_privatize(),
        "merge": sweep_merge(),
        "find_threshold": sweep_find_threshold(),
        "accuracy": sweep_accuracy(),
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "sweeps.json"), "w", encoding="utf8") as f:
        json.dump(sweeps, f, indent=1)
    lines = [
        "# BENCH sweeps — the reference's evaluate.py plot matrix as tables",
        "",
        "Same sweep axes as evaluate.py:429-655 and its accuracy curves",
        "(evaluate.py:361-414); PNGs replaced by tables (the reference",
        "git-ignores its plots).  Kernel-level, seed=42, best-of timings.",
        "",
    ]
    titles = {
        "stream_length": "Build time vs stream length (sequential parity kernel vs vectorized)",
        "sketch_size": "Build time vs sketch size (25.6k-element stream)",
        "privatize": "Release time vs sketch size",
        "merge": "Merge time vs number of sketches (k=100)",
        "find_threshold": "find_threshold time + value over the (eps, delta) grid",
        "accuracy": "Released mean L1 error vs sketch size (Zipf stream)",
    }
    for name, rows in sweeps.items():
        lines += [f"## {titles[name]}", ""] + _md_table(rows) + [""]
    with open(os.path.join(REPO, "BENCH", "SWEEPS.md"), "w", encoding="utf8") as f:
        f.write("\n".join(lines))
    print(json.dumps({name: len(rows) for name, rows in sweeps.items()}))


if __name__ == "__main__":
    main()
