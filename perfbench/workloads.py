"""The benchmark's workloads: what each query runs, its exact truth, and
its correctness gates.

Every workload reads the synthetic repo table ``(repo, path, commit,
lang, content)`` written by ``mgspark.testgen.write_repo_table`` and
calls only the public ``mgspark`` API.  Truth is computed once per seed
with exact counts over the parquet files in pandas, independent of
Spark, and cached beside the data; it is never timed.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mgspark import aggregate, dp, sketches, tokenize
from perfbench.gates import Check, mg_bound, rank_error

EPSILON, DELTA = 1.0, 1e-6
TOP = 10  # release_recall is measured against the true top-10


def _tokens_with(df: DataFrame, col: str) -> DataFrame:
    """Whitespace tokens of ``content`` next to another column."""
    return df.select(col, F.explode(F.split("content", " ")).alias("token")).where(
        F.col("token") != ""
    )


def _lang_tokens(df: DataFrame) -> DataFrame:
    return _tokens_with(df, "lang").select(F.concat_ws(":", "lang", "token").alias("lt"))


def _tokens(content: str) -> list[str]:
    """``tokenize.content_tokens`` for one row: split on a space, drop empties."""
    return [tok for tok in content.split(" ") if tok]


def _distribution(counts) -> np.ndarray:
    weights = np.asarray(sorted(counts, reverse=True), dtype=np.float64)
    return weights / weights.sum()


class Workload:
    name = ""
    k = 0
    rows = 0
    smoke_rows = 0
    grouped_build = False  # build runs as a grouped Python stage

    def encoded(self, df: DataFrame) -> DataFrame:
        """The frame whose ``key`` column the encode probe materializes."""
        raise NotImplementedError

    def truth(self, table: pd.DataFrame) -> dict:
        """Exact answers for the gates, from the input table itself."""
        raise NotImplementedError

    def elements(self, truth: dict) -> int:
        """Valid elements one query consumes (the ``rows_per_s`` numerator)."""
        return truth["total"]

    def kernel_distribution(self, truth: dict) -> np.ndarray:
        """Key frequencies the in-process kernel micro-benchmark samples."""
        return _distribution(truth["counts"].values())

    def run(self, df: DataFrame, tracer, seed: int, truth: dict):
        raise NotImplementedError

    def check(self, result, truth: dict) -> Check:
        raise NotImplementedError

    def layer_counts(self, result) -> dict[str, int]:
        """Per-layer counts read from one query's result (traced run)."""
        return {}

    def release_threshold(self) -> int | None:
        """Run the release's DP threshold search alone; None if there is no release."""
        return None


class StreamTopK(Workload):
    """Zero-shuffle MG over every content token, then a decode re-scan."""

    name = "stream_topk"
    k = 64
    rows = 10_000
    smoke_rows = 800

    def encoded(self, df):
        return aggregate.encode_tokens(tokenize.content_tokens(df), "token")

    def truth(self, table):
        counts = Counter(tok for content in table["content"] for tok in _tokens(content))
        return {"counts": counts, "total": sum(counts.values())}

    def run(self, df, tracer, seed, truth):
        out = aggregate.mg_topk(tokenize.content_tokens(df), "token", self.k, pre_aggregate=False)
        return {r["token"]: int(r["est"]) for r in out.collect()}

    def check(self, result, truth):
        check = Check()
        check.require(set(result) <= set(truth["counts"]), "decoded a token absent from the input")
        check.accuracy["bound_slack"] = mg_bound(check, result, truth["counts"], truth["total"], self.k)
        return check

    def layer_counts(self, result):
        return {"decode.keys": len(result)}


class CombinerDPRelease(Workload):
    """Exact JVM combiner into the MG sketch, then the merged DP release."""

    name = "combiner_dp_release"
    k = 1024
    rows = 10_000
    smoke_rows = 800

    def encoded(self, df):
        return aggregate.encode_tokens(_lang_tokens(df), "lt")

    def truth(self, table):
        counts = Counter(
            f"{lang}:{tok}" for lang, content in zip(table["lang"], table["content"]) for tok in _tokens(content)
        )
        return {"counts": counts, "total": sum(counts.values())}

    def run(self, df, tracer, seed, truth):
        with tracer.span("build"):
            state, exemplars = aggregate.mg_sketch_with_tokens(
                self.encoded(df), "key", self.k, token_col="lt", pre_aggregate=True
            )
        with tracer.span("release"):
            released = dp.privatize_merged(
                state.to_dict(), self.k, EPSILON, DELTA, rng=np.random.default_rng(seed)
            )
        with tracer.span("decode"):
            decoded = {key: exemplars.get(key) for key in released}
        return state, exemplars, released, decoded

    def check(self, result, truth):
        state, exemplars, released, decoded = result
        check = Check()
        counts = truth["counts"]
        check.require(state.n == truth["total"], f"n={state.n} != exact total {truth['total']}")
        missing = [int(key) for key in state.keys if int(key) not in exemplars]
        check.require(not missing, f"{len(missing)} sketch key(s) without an exemplar")
        estimates = {exemplars.get(int(key)): int(c) for key, c in zip(state.keys, state.counters)}
        check.accuracy["bound_slack"] = mg_bound(check, estimates, counts, truth["total"], self.k)
        check.require(all(tok is not None for tok in decoded.values()), "released key did not decode")
        release = {decoded[key]: cnt for key, cnt in released.items() if decoded[key] is not None}
        top = sorted(counts, key=lambda tok: (-counts[tok], tok))[:TOP]
        check.accuracy["release_recall"] = sum(tok in release for tok in top) / len(top)
        check.accuracy["release_mae"] = (
            float(np.mean([abs(c - counts.get(tok, 0)) for tok, c in release.items()]))
            if release
            else 0.0
        )
        check.accuracy["released_keys"] = len(release)
        check.accuracy["d_slack"] = state.d / max(truth["total"] // (self.k + 1), 1)
        return check

    def layer_counts(self, result):
        state, _, released, decoded = result
        return {"release.keys_in": len(state.keys), "release.keys_out": len(released), "decode.keys": len(decoded)}

    def release_threshold(self):
        return dp.find_threshold(EPSILON, DELTA, self.k, self.k)


class GroupedPerRepo(Workload):
    """Per-repo MG sketches behind a salted (repo, token) shuffle."""

    name = "grouped_per_repo"
    k = 16
    rows = 2_000
    smoke_rows = 400
    grouped_build = True

    def encoded(self, df):
        return aggregate.encode_tokens(_tokens_with(df, "repo"), "token")

    def truth(self, table):
        per_repo: dict[str, Counter] = {}
        for repo, content in zip(table["repo"], table["content"]):
            per_repo.setdefault(repo, Counter()).update(_tokens(content))
        return {"per_repo": per_repo, "total": sum(sum(c.values()) for c in per_repo.values())}

    def kernel_distribution(self, truth):
        counts: Counter = Counter()
        for repo_counts in truth["per_repo"].values():
            counts.update(repo_counts)
        return _distribution(counts.values())

    def run(self, df, tracer, seed, truth):
        out = aggregate.mg_topk_grouped(_tokens_with(df, "repo"), "repo", "token", self.k)
        result: dict[str, dict[str, int]] = {}
        for r in out.collect():
            result.setdefault(r["repo"], {})[r["token"]] = int(r["est"])
        return result

    def check(self, result, truth):
        check = Check()
        per_repo = truth["per_repo"]
        check.require(set(result) == set(per_repo), "released repo set differs from the input's")
        slack = 0.0
        for repo, estimates in result.items():
            counts = per_repo.get(repo, {})
            check.require(set(estimates) <= set(counts), f"{repo}: token absent from the repo")
            slack = max(slack, mg_bound(check, estimates, counts, sum(counts.values()), self.k, f"{repo}: "))
        check.accuracy["bound_slack"] = slack
        return check

    def layer_counts(self, result):
        return {"grouped.groups": len(result), "decode.keys": sum(len(tokens) for tokens in result.values())}


class SketchFamilies(Workload):
    """HLL, Count-Min and t-digest through the shared sketch_agg skeleton."""

    name = "sketch_families"
    k = 64  # kernel micro-benchmark only: the MG kernel on the lang distribution
    rows = 8_000
    smoke_rows = 800
    quantiles = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)

    def encoded(self, df):
        return aggregate.encode_tokens(df, "commit")

    def truth(self, table):
        lengths = table["content"].str.len().value_counts()
        return {
            "distinct_commits": int(table["commit"].nunique()),
            "counts": {lang: int(c) for lang, c in table["lang"].value_counts().items()},
            "lengths": {str(v): int(c) for v, c in lengths.items()},
            "rows": len(table),
        }

    def elements(self, truth):
        return 3 * truth["rows"]  # each of the three sketches scans every row

    def run(self, df, tracer, seed, truth):
        with tracer.span("hll"):
            distinct = sketches.hll_distinct(df, "commit")
        with tracer.span("cms"):
            freq = sketches.cms_estimates(df, "lang", sorted(truth["counts"]))
        with tracer.span("tdigest"):
            values = sketches.tdigest_quantiles(
                df.select(F.length("content").alias("len")), "len", self.quantiles
            )
        return distinct, freq, [float(v) for v in values]

    def check(self, result, truth):
        distinct, freq, values = result
        check = Check()
        hll_err = abs(distinct - truth["distinct_commits"]) / truth["distinct_commits"]
        check.require(hll_err <= 0.025, f"HLL relative error {hll_err:.4f} > 0.025")
        under = [lang for lang, c in truth["counts"].items() if freq.get(lang, 0) < c]
        check.require(not under, f"CMS undercounts {under}")
        over = max(freq.get(lang, 0) - c for lang, c in truth["counts"].items()) / truth["rows"]
        histogram = {int(v): c for v, c in truth["lengths"].items()}
        rank = max(rank_error(histogram, truth["rows"], q, v) for q, v in zip(self.quantiles, values))
        check.require(rank <= 0.05, f"t-digest rank error {rank:.4f} > 0.05")
        check.accuracy.update(
            {"hll_rel_err": hll_err, "cms_over_per_n": over, "tdigest_rank_err": rank}
        )
        check.accuracy["family_max_rel_err"] = max(hll_err, over, rank)
        return check


WORKLOADS = {w.name: w for w in (StreamTopK(), CombinerDPRelease(), GroupedPerRepo(), SketchFamilies())}
