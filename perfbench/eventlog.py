"""Minimal reader for Spark's JSON event log (uncompressed, not rolled).

The traced run enables ``spark.eventLog.enabled`` and, after the session
stops, reads back the jobs, stages and tasks Spark itself accounted for.
Jobs carry the ``spark.jobGroup.id`` the tracer set around each span, so
every job, stage and ``SparkListenerTaskEnd`` can be attributed to the
span (and so the layer) that issued it.  SQL plan events map accumulator
ids to plan nodes, so the rows entering a Python operator (``MapInArrow``,
``FlatMapGroupsInPandas``) can be read from the child node's row count.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# Plan nodes that run Python code on executors.
PYTHON_NODES = ("MapInArrow", "MapInPandas", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow")
# Plan nodes that only wrap others and carry no row count of their own.
_WRAPPERS = ("WholeStageCodegen", "InputAdapter", "AQEShuffleRead", "ShuffleQueryStage")


@dataclass
class Task:
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    input_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    accums: dict[int, int]  # accumulator id -> this task's update

    @property
    def wall_s(self) -> float:
        return (self.finish_ms - self.launch_ms) / 1000.0


@dataclass
class Stage:
    stage_id: int
    scopes: set[str]
    submit_ms: int = 0
    complete_ms: int = 0
    tasks: list[Task] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return max(self.complete_ms - self.submit_ms, 0) / 1000.0

    @property
    def python_node(self) -> str | None:
        for name in PYTHON_NODES:
            if name in self.scopes:
                return name
        return None

    def accum_sum(self, ids) -> int:
        return sum(t.accums.get(i, 0) for t in self.tasks for i in ids)


@dataclass
class Job:
    job_id: int
    group: str | None
    call_site: str
    stage_ids: list[int]
    submit_ms: int
    end_ms: int = 0


@dataclass
class EventLog:
    jobs: list[Job]
    stages: dict[int, Stage]
    # accumulator ids of python plan nodes: name -> (rows in, rows out)
    python_rows: dict[str, tuple[set[int], set[int]]]
    # accumulator ids by metric name, over every plan node
    named_accums: dict[str, set[int]]

    def jobs_in(self, groups: set[str]) -> list[Job]:
        return [j for j in self.jobs if j.group in groups]

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        ids = sorted({s for j in jobs for s in j.stage_ids if s in self.stages})
        return [self.stages[s] for s in ids if self.stages[s].tasks]


def _rows_metric(node: dict, name: str = "number of output rows") -> int | None:
    for metric in node.get("metrics", []):
        if metric.get("name") == name:
            return metric["accumulatorId"]
    return None


def _walk_plan(node: dict, python_rows, named_accums) -> None:
    for metric in node.get("metrics", []):
        named_accums.setdefault(metric["name"], set()).add(metric["accumulatorId"])
    name = node.get("nodeName", "")
    if name in PYTHON_NODES:
        rows_in, rows_out = python_rows.setdefault(name, (set(), set()))
        out_id = _rows_metric(node)
        if out_id is not None:
            rows_out.add(out_id)
        child = (node.get("children") or [None])[0]
        # Descend through wrappers to the first node that counts rows.  A
        # shuffle counts the rows its reading stage fetched ("records
        # read"), which is the stage that runs the Python node.
        while child is not None:
            in_id = _rows_metric(child, "records read")
            if in_id is None and not child.get("nodeName", "").startswith(_WRAPPERS):
                in_id = _rows_metric(child)
            if in_id is not None:
                rows_in.add(in_id)
                break
            child = (child.get("children") or [None])[0]
    for child in node.get("children", []):
        _walk_plan(child, python_rows, named_accums)


def _task(event: dict) -> Task:
    info, metrics = event["Task Info"], event.get("Task Metrics") or {}
    shuffle_read = metrics.get("Shuffle Read Metrics", {})
    accums = {}
    for acc in info.get("Accumulables", []):
        try:
            accums[int(acc["ID"])] = int(acc["Update"])
        except (KeyError, TypeError, ValueError):
            continue
    return Task(
        launch_ms=info["Launch Time"],
        finish_ms=info["Finish Time"],
        run_ms=metrics.get("Executor Run Time", 0),
        cpu_ns=metrics.get("Executor CPU Time", 0),
        input_bytes=metrics.get("Input Metrics", {}).get("Bytes Read", 0),
        shuffle_read_bytes=shuffle_read.get("Remote Bytes Read", 0)
        + shuffle_read.get("Local Bytes Read", 0),
        shuffle_write_bytes=metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        accums=accums,
    )


def _stage(info: dict) -> Stage:
    scopes = set()
    for rdd in info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            scopes.add(json.loads(scope).get("name", ""))
    return Stage(stage_id=info["Stage ID"], scopes=scopes)


def parse(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    python_rows: dict[str, tuple[set[int], set[int]]] = {}
    named_accums: dict[str, set[int]] = {}
    with open(path, encoding="utf8") as f:
        for line in f:
            event = json.loads(line)
            kind = event["Event"]
            if kind == "SparkListenerJobStart":
                props = event.get("Properties") or {}
                jobs[event["Job ID"]] = Job(
                    job_id=event["Job ID"],
                    group=props.get("spark.jobGroup.id"),
                    call_site=props.get("callSite.short", ""),
                    stage_ids=list(event.get("Stage IDs", [])),
                    submit_ms=event.get("Submission Time", 0),
                )
            elif kind == "SparkListenerJobEnd":
                if event["Job ID"] in jobs:
                    jobs[event["Job ID"]].end_ms = event.get("Completion Time", 0)
            elif kind == "SparkListenerStageCompleted":
                info = event["Stage Info"]
                fresh = _stage(info)
                stage = stages.setdefault(fresh.stage_id, fresh)
                stage.scopes |= fresh.scopes
                stage.submit_ms = info.get("Submission Time", 0)
                stage.complete_ms = info.get("Completion Time", 0)
            elif kind == "SparkListenerTaskEnd":
                sid = event["Stage ID"]
                if sid not in stages:
                    stages[sid] = Stage(stage_id=sid, scopes=set())
                stages[sid].tasks.append(_task(event))
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                plan = event.get("sparkPlanInfo")
                if plan:
                    _walk_plan(plan, python_rows, named_accums)
    return EventLog(
        jobs=sorted(jobs.values(), key=lambda j: j.job_id),
        stages=stages,
        python_rows=python_rows,
        named_accums=named_accums,
    )
