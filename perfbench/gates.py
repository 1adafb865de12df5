"""Correctness gates: every timed query's output is checked against the
exact answer computed once per seed.  A query that fails any gate counts
toward ``failed`` (and so ``error_rate``) in the benchmark's result."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Check:
    """Outcome of one query's gates."""

    failures: list[str] = field(default_factory=list)
    bound_violations: int = 0
    accuracy: dict[str, float] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return not self.failures

    def require(self, condition: bool, message: str) -> None:
        if not condition:
            self.failures.append(message)


def mg_bound(check: Check, estimates: dict, truth: dict, total: int, k: int, label: str = "") -> float:
    """Gate the Misra-Gries guarantee on released estimates.

    Every estimate must satisfy ``true - floor(N/(k+1)) <= est <= true``
    and at most ``k`` keys may be released.  Each breach is one bound
    violation.  Returns the observed error as a share of the allowed
    error: ``max(true - est) / floor(N/(k+1))`` (0 when exact).
    """
    allowed = total // (k + 1)
    violations = max(0, len(estimates) - k)
    worst = 0
    for key, est in estimates.items():
        true = truth.get(key, 0)
        if not (true - allowed <= est <= true):
            violations += 1
        worst = max(worst, true - est)
    check.bound_violations += violations
    check.require(violations == 0, f"{label}MG bound: {violations} violation(s), allowed error {allowed}")
    return worst / allowed if allowed else 0.0


def rank_error(histogram: dict[int, int], total: int, q: float, value: float) -> float:
    """Distance from ``q`` to the rank interval of ``value`` in the data."""
    below = sum(c for v, c in histogram.items() if v < value)
    at_or_below = below + sum(c for v, c in histogram.items() if v == value)
    lo, hi = below / total, at_or_below / total
    return max(lo - q, q - hi, 0.0)


def self_test() -> list[str]:
    """Prove the gates can fail: inflated, deflated and surplus estimates
    must each be counted as bound violations.  Returns problems found."""
    truth = {"a": 100, "b": 60, "c": 30, "d": 10}
    total, k = 200, 3  # allowed error floor(200/4) = 50
    problems = []
    cases = {
        "exact": ({"a": 100, "b": 60, "c": 30}, 0),
        "within bound": ({"a": 50, "b": 10, "c": 0}, 0),
        "inflated": ({"a": 101, "b": 60, "c": 30}, 1),
        "deflated": ({"a": 49, "b": 60, "c": 30}, 1),
        "too many keys": ({"a": 100, "b": 60, "c": 30, "d": 10}, 1),
    }
    for name, (estimates, expected) in cases.items():
        check = Check()
        mg_bound(check, estimates, truth, total, k)
        if check.bound_violations != expected or check.ok != (expected == 0):
            problems.append(f"{name}: expected {expected} violation(s), got {check.bound_violations}")
    histogram = {1: 50, 2: 50}
    if rank_error(histogram, 100, 0.5, 1) != 0.0 or abs(rank_error(histogram, 100, 0.9, 1) - 0.4) > 1e-12:
        problems.append("rank_error: wrong rank interval")
    return problems
