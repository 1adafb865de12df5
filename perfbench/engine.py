"""Runs one workload in one process and prints its result.

Started by ``perfbench/run.py``, which prepares the environment.  The
flow of one run:

1. generate the seeded input table and its exact truth (both cached,
   never timed);
2. set up: launch the JVM, start the Spark session and run the first
   query; that is ``setup_s``.  One untimed warm-up query follows;
3. closed loop, one client: run the workload's query back to back for
   ``--seconds`` and gate every output;
4. with ``--trace 1``, the session runs with Spark's event log on and the
   loop alternates untraced and traced queries.  The per-layer metrics
   come from the traced queries, the tracing overhead from comparing the
   two.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
import time

import numpy as np
import pandas as pd

from mgspark import kernel, testgen
from mgspark.session import get_spark
from perfbench import eventlog, trace
from perfbench.gates import Check
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
MIN_QUERIES = 3
WARM_UP_QUERIES = 1  # untimed, after the set-up's first query
KERNEL_BATCH = 262_144


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(n_cores: int, event_dir: str | None = None):
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData -Xms1g -Xmn384m",
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", cores=n_cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="utf8") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb() -> tuple[float, float]:
    """Peak resident memory of this driver process and of the JVM."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return vm_hwm_mb("self"), vm_hwm_mb(proc.pid) if proc is not None else 0.0


UNITS = {
    "trace.query_s": "s",
    "trace.untraced_query_s": "s",
    "trace.overhead_pct": "%",
    "encode.s": "s",
    "encode.rows": "count",
    "build.s": "s",
    "build.rows": "count",
    "build.partials": "count",
    "build.bytes_to_python": "bytes",
    "build.bytes_from_python": "bytes",
    "build.task_wall_p50_s": "s",
    "build.task_wall_max_s": "s",
    "build.skew": "ratio",
    "kernel.build_rows_per_s": "1/s",
    "kernel.merge_s": "s",
    "merge.s": "s",
    "merge.rounds": "count",
    "merge.jobs": "count",
    "merge.tasks": "count",
    "release.threshold_s": "s",
    "release.s": "s",
    "release.keys_in": "count",
    "release.keys_out": "count",
    "decode.s": "s",
    "decode.jobs": "count",
    "decode.keys": "count",
    "grouped.build_s": "s",
    "grouped.merge_s": "s",
    "grouped.tasks_build": "count",
    "grouped.tasks_merge": "count",
    "grouped.groups": "count",
    "grouped.salt_buckets": "count",
    "sketch_agg.hll_s": "s",
    "sketch_agg.cms_s": "s",
    "sketch_agg.tdigest_s": "s",
    "sketch_agg.payload_bytes": "bytes",
    "driver.s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.input_bytes": "bytes",
}
# Counts a workload reads from its own result; 0 where the layer does not run.
RESULT_COUNTS = ("release.keys_in", "release.keys_out", "decode.keys", "grouped.groups")


class Gate:
    """Counts queries and failures over a run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.bound_violations = 0
        self.failures: list[str] = []
        self.accuracy: list[dict[str, float]] = []

    def record(self, check: Check | None, error: str | None = None) -> None:
        self.attempted += 1
        if error is not None or not check.ok:
            self.failed += 1
            self.failures.append(error or "; ".join(check.failures))
        if check is not None:
            self.bound_violations += check.bound_violations
            self.accuracy.append(check.accuracy)


def run_checked(workload, df, tracer, seed, truth, gate: Gate):
    """Run one query and gate its output; returns the result, or None if it raised."""
    try:
        result = workload.run(df, tracer, seed, truth)
    except Exception as exc:  # a failing query counts toward error_rate; the loop goes on
        gate.record(None, f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}")
        return None
    gate.record(workload.check(result, truth))
    return result


def closed_loop(seconds, run_one) -> list[float]:
    """Run queries back to back for ``seconds``; returns each one's wall time."""
    times: list[float] = []
    start = time.perf_counter()
    while len(times) < MIN_QUERIES or time.perf_counter() - start < seconds:
        t0 = time.perf_counter()
        run_one()
        times.append(time.perf_counter() - t0)
    return times


def ensure_truth(workload, table: str, data_dir: str) -> dict:
    """The workload's exact truth for this table, computed once and cached as JSON."""
    path = os.path.join(data_dir, f"truth-{workload.name}.json")
    if not os.path.exists(path):
        files = sorted(glob.glob(os.path.join(table, "*.parquet")))
        truth = workload.truth(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w", encoding="utf8") as f:
            json.dump(truth, f)
        os.replace(tmp, path)
    with open(path, encoding="utf8") as f:
        return json.load(f)


def kernel_bench(workload, truth: dict, seed: int) -> dict:
    """In-process MG kernel on batches drawn from the workload's key distribution."""
    probs = workload.kernel_distribution(truth)
    rng = np.random.default_rng(seed)
    batches = [rng.choice(len(probs), size=KERNEL_BATCH, p=probs).astype(np.int64) for _ in range(4)]
    ones = np.ones(KERNEL_BATCH, dtype=np.int64)
    state = kernel.MGState(k=workload.k)
    t0 = time.perf_counter()
    for batch in batches:
        state = kernel.mg_build_weighted(state, batch, ones)
    build_s = time.perf_counter() - t0
    a = kernel.mg_build_weighted(kernel.MGState(k=workload.k), batches[0], ones)
    b = kernel.mg_build_weighted(kernel.MGState(k=workload.k), batches[1], ones)
    merges = []
    for _ in range(50):
        t0 = time.perf_counter()
        kernel.mg_merge(a, b)
        merges.append(time.perf_counter() - t0)
    return {
        "kernel.build_rows_per_s": len(batches) * KERNEL_BATCH / build_s,
        "kernel.merge_s": statistics.median(merges),
    }


def encode_probe(workload, df) -> int:
    """JVM-only action over the encoded frame: hash every key, return rows."""
    from pyspark.sql import functions as F

    row = workload.encoded(df).agg(F.count(F.lit(1)).alias("n"), F.max("key").alias("m")).first()
    return int(row["n"])


def traced_loop(workload, spark, df, seed, truth, seconds, gate, event_dir) -> tuple[dict, list[float]]:
    """Untraced and traced queries, alternating, for ``seconds``.

    Spark's event log is on for the whole session, so the two differ only
    by the spans and their job groups.  Before each traced query, outside
    its span, the encode probe and (for a release) the DP threshold search
    run.  Returns the per-layer medians and the untraced query times.
    """
    tracer = trace.Tracer(spark.sparkContext)
    untraced: list[float] = []
    counts: list[dict] = []
    probes: dict[str, list[float]] = {"encode": [], "threshold": []}
    encode_rows = 0
    start = time.perf_counter()
    while len(counts) < MIN_QUERIES or time.perf_counter() - start < seconds:
        qid = len(counts)
        t0 = time.perf_counter()
        run_checked(workload, df, trace.NullTracer(), seed, truth, gate)
        untraced.append(time.perf_counter() - t0)
        with tracer.span("encode", query=qid) as span:
            encode_rows = encode_probe(workload, df)
        probes["encode"].append(span["end"] - span["start"])
        t0 = time.perf_counter()
        has_release = workload.release_threshold() is not None
        probes["threshold"].append(time.perf_counter() - t0 if has_release else 0.0)
        with tracer.query(qid):
            result = run_checked(workload, df, tracer, seed, truth, gate)
        counts.append(dict.fromkeys(RESULT_COUNTS, 0) | (workload.layer_counts(result) if result is not None else {}))
    spark.stop()  # flushes the event log
    logs = glob.glob(os.path.join(event_dir, "*"))
    log = eventlog.parse(max(logs, key=os.path.getmtime))
    per_query = []
    for qid, query_counts in enumerate(counts):
        spans = [s for s in tracer.spans if s["query"] == qid and s["name"] != "encode"]
        layers = trace.query_layers(log, spans, workload.grouped_build) | query_counts
        groups = layers["grouped.groups"]
        layers["grouped.salt_buckets"] = layers["build.partials"] / groups if groups else 0.0
        per_query.append(layers)
    layers = trace.median_layers(per_query)
    layers["trace.untraced_query_s"] = statistics.median(untraced)
    layers["trace.overhead_pct"] = 100.0 * (layers["trace.query_s"] / layers["trace.untraced_query_s"] - 1.0)
    layers["encode.s"] = statistics.median(probes["encode"])
    layers["encode.rows"] = encode_rows
    layers["release.threshold_s"] = statistics.median(probes["threshold"])
    os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
    tracer.write(os.path.join(WORK, "trace", f"{workload.name}-seed{seed}.jsonl"))
    return layers, untraced


def median_accuracy(gate: Gate) -> dict[str, float]:
    names = sorted({name for acc in gate.accuracy for name in acc})
    return {
        name: statistics.median(acc[name] for acc in gate.accuracy if name in acc) for name in names
    }


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--smoke", action="store_true")
    args = parser.parse_args(argv)

    started = time.perf_counter()
    phases: dict[str, float] = {}  # seconds since start at the end of each phase

    def mark(phase: str) -> None:
        phases[phase] = round(time.perf_counter() - started, 3)

    workload = WORKLOADS[args.workload]
    n_cores = cores()
    rows = workload.smoke_rows if args.smoke else workload.rows
    data_dir = os.path.join(WORK, "data", f"rows{rows}-seed{args.seed}-files{n_cores}")
    table = testgen.write_repo_table(os.path.join(data_dir, "table"), rows, seed=args.seed, n_files=n_cores)
    truth = ensure_truth(workload, table, data_dir)
    mark("truth")

    gate = Gate()
    spark = df = None

    def untraced_query() -> None:
        run_checked(workload, df, trace.NullTracer(), args.seed, truth, gate)

    try:
        event_dir = None
        if args.trace:
            event_dir = os.path.join(WORK, "events", f"{workload.name}-seed{args.seed}-{os.getpid()}")
            os.makedirs(event_dir, exist_ok=True)
        # Set-up: launch the JVM, start the session, run the first query.
        t0 = time.perf_counter()
        spark = start_session(n_cores, event_dir)
        df = spark.read.parquet(table)
        untraced_query()
        setup_s = time.perf_counter() - t0
        # An untimed query lets the JIT settle before the timed loop.
        for _ in range(WARM_UP_QUERIES):
            untraced_query()
        mark("set_up")
        splits = df.rdd.getNumPartitions()

        if not args.trace:
            times = closed_loop(args.seconds, untraced_query)
            layers = {}
        else:
            layers, times = traced_loop(workload, spark, df, args.seed, truth, args.seconds, gate, event_dir)
            layers.update(kernel_bench(workload, truth, args.seed))
        mark("queries")
        rss = peak_rss_mb()
    finally:
        if spark is not None:
            stop_jvm(spark)
    mark("stop")

    query_s = statistics.median(times)
    import pyarrow
    import pyspark

    facts = {
        "workload": workload.name,
        "seed": args.seed,
        "trace": args.trace,
        "smoke": args.smoke,
        "nproc": os.cpu_count(),
        "cores_used": n_cores,
        "input_rows": rows,
        "elements": workload.elements(truth),
        "input_splits": splits,
        "queries_timed": len(times),
        "query_times_s": [round(t, 4) for t in times],
        "phase_end_s": phases,
        "peak_rss_driver_jvm_mb": [round(x, 1) for x in rss],
        "versions": {"pyspark": pyspark.__version__, "numpy": np.__version__, "pyarrow": pyarrow.__version__},
    }
    end_to_end = {
        "query_s": (query_s, "s"),
        "rows_per_s": (workload.elements(truth) / query_s, "1/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (sum(rss), "MB"),
    }
    report = {
        "error_rate": gate.failed / gate.attempted,
        "bound_violations": gate.bound_violations,
        **median_accuracy(gate),
    }
    for name, value in facts.items():
        print(f"fact {name} = {value}")
    for name, (value, unit) in end_to_end.items():
        print(f"metric {name} = {value:.6g} {unit}")
    for name, value in report.items():
        print(f"gate {name} = {value:.6g}")
    for message in gate.failures[:5]:
        print(f"failure: {message}")
    if args.trace:
        for name, unit in UNITS.items():
            print(f"layer {name} = {layers[name]:.6g} {unit}")
        metrics = {name: {"value": layers[name], "unit": unit} for name, unit in UNITS.items()}
    else:
        metrics = {name: {"value": value, "unit": unit} for name, (value, unit) in end_to_end.items()}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(
        os.path.join(WORK, "results", f"{workload.name}-seed{args.seed}-trace{args.trace}.json"),
        "w",
        encoding="utf8",
    ) as f:
        json.dump({"facts": facts, "end_to_end": end_to_end, "gates": report, "layers": layers}, f, indent=1)
    print(
        json.dumps(
            {
                "correct": gate.failed == 0,
                "attempted": gate.attempted,
                "failed": gate.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
