"""Driver-side spans and per-layer metrics for the traced run.

Spans are recorded by the benchmark around its calls into the library
(one ``query`` span per query, child spans where a workload makes several
public calls).  Each span tags the Spark jobs it issues with its own job
group, so the event log attributes every job, stage and task back to it.
Spans are kept in memory and written out once, at the end of the run.

Layer attribution inside one public call comes from Spark's own
accounting: a stage that runs ``MapInArrow``/``MapInPandas`` is the
per-partition build; a stage that runs ``FlatMapGroupsInPandas`` is a
merge round (or, on workloads whose build is itself grouped, the first
such stage is the build); a JVM-only job issued from
``aggregate.decode_keys`` is the decode.  Driver time is the part of the
query span no Spark job covers (driver folds, DP release, planning).
"""

from __future__ import annotations

import ast
import contextlib
import functools
import json
import re
import statistics
import time

from perfbench import eventlog

_CALL_SITE = re.compile(r" at (?P<path>\S+\.py):(?P<line>\d+)$")


class NullTracer:
    """Tracer for untraced runs: spans cost nothing and record nothing."""

    def span(self, name: str, query: int | None = None):
        return contextlib.nullcontext()


class Tracer:
    """Records spans and sets one Spark job group per open span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._query: int | None = None

    @staticmethod
    def group_id(span_id: int) -> str:
        return f"perfbench-span-{span_id}"

    @contextlib.contextmanager
    def span(self, name: str, query: int | None = None):
        span_id = len(self.spans)
        record = {
            "id": span_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "query": self._query if query is None else query,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(record)
        self._stack.append(span_id)
        self.sc.setJobGroup(self.group_id(span_id), name)
        try:
            yield record
        finally:
            record["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(self.group_id(parent["id"]), parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def query(self, query_id: int):
        self._query = query_id
        try:
            with self.span("query") as record:
                yield record
        finally:
            self._query = None

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf8") as f:
            for record in self.spans:
                f.write(json.dumps(record) + "\n")


@functools.lru_cache(maxsize=None)
def _function_lines(path: str) -> tuple[tuple[int, int, str], ...]:
    try:
        with open(path, encoding="utf8") as f:
            tree = ast.parse(f.read())
    except (OSError, SyntaxError):
        return ()
    return tuple(
        (node.lineno, node.end_lineno or node.lineno, node.name)
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    )


def call_site_function(call_site: str) -> str:
    """Innermost function enclosing a job's call site (``collect at f.py:N``)."""
    match = _CALL_SITE.search(call_site or "")
    if not match:
        return ""
    line = int(match["line"])
    enclosing = [
        (end - start, name)
        for start, end, name in _function_lines(match["path"])
        if start <= line <= end
    ]
    return min(enclosing)[1] if enclosing else ""


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _span_s(spans: list[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def query_layers(log: eventlog.EventLog, spans: list[dict], grouped_build: bool) -> dict:
    """Per-layer metrics of one traced query from its spans and Spark events.

    ``spans`` are the query's own spans (its ``query`` root and children).
    ``grouped_build`` marks workloads whose build runs as a grouped
    Python stage (``mg_sketch_grouped``): their first such stage is the
    build, later ones are merges.
    """
    root = next(s for s in spans if s["name"] == "query")
    query_s = root["end"] - root["start"]
    span_name = {Tracer.group_id(s["id"]): s["name"] for s in spans}
    jobs = log.jobs_in(set(span_name))
    sent = log.named_accums.get("data sent to Python workers", set())
    returned = log.named_accums.get("data returned from Python workers", set())

    stages = log.stages_of(jobs)
    build, merge = [], []
    for stage in stages:
        node = stage.python_node
        if node in ("MapInArrow", "MapInPandas") or (node is not None and grouped_build and not build):
            build.append(stage)
        elif node is not None:
            merge.append(stage)
    merge_ids = {s.stage_id for s in merge}
    decode_jobs = [j for j in jobs if call_site_function(j.call_site) == "decode_keys"]
    sketch_jobs = [j for j in jobs if span_name[j.group] in ("hll", "cms", "tdigest")]
    sketch_merges = [s for s in log.stages_of(sketch_jobs) if s.stage_id in merge_ids]

    def rows(stage_list, python_rows_side: int) -> int:
        return sum(
            s.accum_sum(log.python_rows.get(s.python_node, (set(), set()))[python_rows_side])
            for s in stage_list
        )

    walls = sorted(t.wall_s for s in build for t in s.tasks)
    p50 = statistics.median(walls) if walls else 0.0
    tasks = [t for s in stages for t in s.tasks]
    job_s = [(j.submit_ms / 1000.0, max(j.end_ms, j.submit_ms) / 1000.0) for j in jobs]
    build_s = sum(s.wall_s for s in build)
    merge_s = sum(s.wall_s for s in merge)
    return {
        "trace.query_s": query_s,
        "build.s": build_s,
        "build.rows": rows(build, 0),
        "build.partials": rows(build, 1),
        "build.bytes_to_python": sum(s.accum_sum(sent) for s in build),
        "build.bytes_from_python": sum(s.accum_sum(returned) for s in build),
        "build.task_wall_p50_s": p50,
        "build.task_wall_max_s": walls[-1] if walls else 0.0,
        "build.skew": (walls[-1] / p50) if p50 > 0 else 0.0,
        "merge.s": merge_s,
        "merge.rounds": len(merge),
        "merge.jobs": sum(1 for j in jobs if merge_ids.intersection(j.stage_ids)),
        "merge.tasks": sum(len(s.tasks) for s in merge),
        "release.s": _span_s(spans, "release"),
        "decode.s": sum((j.end_ms - j.submit_ms) / 1000.0 for j in decode_jobs) + _span_s(spans, "decode"),
        "decode.jobs": len(decode_jobs),
        "grouped.build_s": build_s if grouped_build else 0.0,
        "grouped.merge_s": merge_s if grouped_build else 0.0,
        "grouped.tasks_build": sum(len(s.tasks) for s in build) if grouped_build else 0,
        "grouped.tasks_merge": sum(len(s.tasks) for s in merge) if grouped_build else 0,
        "sketch_agg.hll_s": _span_s(spans, "hll"),
        "sketch_agg.cms_s": _span_s(spans, "cms"),
        "sketch_agg.tdigest_s": _span_s(spans, "tdigest"),
        "sketch_agg.payload_bytes": sum(t.shuffle_read_bytes for s in sketch_merges for t in s.tasks),
        "driver.s": max(query_s - _union_s(job_s), 0.0),
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": sum(t.run_ms for t in tasks) / 1000.0,
        "spark.executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "spark.shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "spark.shuffle_read_bytes": sum(t.shuffle_read_bytes for t in tasks),
        "spark.input_bytes": sum(t.input_bytes for t in tasks),
    }


def median_layers(per_query: list[dict]) -> dict:
    """Median of each per-layer metric over the traced queries."""
    if not per_query:
        return {}
    return {name: statistics.median(q[name] for q in per_query) for name in per_query[0]}
